package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities for joins whose key distribution is heavy
  * tailed (the canonical 100 TB failure mode: one hot key lands a
  * whole shuffle partition on one executor).
  *
  * Two complementary mechanisms:
  *  - AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`,
  *    on by default) — runtime re-planning, no code change; the first
  *    line of defense.
  *  - Explicit salting ([[saltedJoin]]) — for deterministic plans,
  *    pre-AQE Sparks, or aggregations AQE cannot split. The build side
  *    is replicated `saltFactor`× (one copy per salt value); the probe
  *    side gets a uniform random-ish salt derived from a stable hash
  *    of its row, so the hot key's rows spread over `saltFactor`
  *    shuffle partitions.
  */
object Skew {

  /** Salted inner equi-join: `left ⋈ right ON leftKey = rightKey`,
    * with `right` replicated across `saltFactor` salts and `left`
    * salted deterministically (hash of the whole row mod factor — no
    * rand(), so plans stay reproducible and retries are safe: a task
    * retry must salt identically or rows are lost/duplicated).
    */
  def saltedJoin(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String,
                 saltFactor: Int = 8): DataFrame = {
    val salts = (0 until saltFactor).map(lit(_))
    val saltedLeft = left.withColumn("_salt",
      pmod(hash(left.columns.map(col): _*), lit(saltFactor)))
    val saltedRight = right.withColumn("_salt",
      explode(array(salts: _*)))
    saltedLeft.join(saltedRight,
        saltedLeft(leftKey) === saltedRight(rightKey)
          && saltedLeft("_salt") === saltedRight("_salt"))
      .drop("_salt")
  }

  /** Two-phase skewed aggregation: partial-aggregate on (key, salt),
    * then final-aggregate on key. Spark's HashAggregate already does
    * map-side partials, but for extreme single-key skew the FINAL
    * aggregation of one key still lands on one reducer; pre-splitting
    * by salt bounds any reducer's load at 1/saltFactor of the hot key.
    * Works for any commutative+associative aggregate; here: sum, count.
    */
  def skewedSumCount(df: DataFrame, key: String, value: String,
                     saltFactor: Int = 8): DataFrame =
    df.withColumn("_salt", pmod(hash(col(value)), lit(saltFactor)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(value)).as("_psum"), count(lit(1)).as("_pn"))
      .groupBy(col(key))
      .agg(sum(col("_psum")).as("sum_value"), sum(col("_pn")).as("n"))

  /** Gated sk3: AQE SKEW-JOIN SPLITTING observed end to end — the
    * runtime half of the skew story ([[saltedJoin]] is the static
    * half). A hot key holding ~⅔ of the fact rows is joined to a
    * small-but-not-broadcast dim under thresholds scaled to the test
    * corpus (the same ratios a 100 TB cluster runs at default 256 MB
    * thresholds); AQE detects the oversized partition at the shuffle
    * boundary and splits it across tasks, under
    * [[graft.GraftSession.withConfs]].
    *
    * The RESULT is threshold-independent (AQE only re-partitions), so
    * the oracle states the plain aggregate; the spec additionally
    * asserts the final adaptive plan really ran with `isSkew=true`.
    */
  def aqeSkewJoin(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4096",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2048",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1024",
      // the split breaks the join's output partitioning, which a
      // downstream consumer might have reused; the bucket aggregate
      // pays its own exchange here regardless, so force past the
      // conservative extra-shuffle check
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    graft.GraftSession.withConfs(spark, confs) {
      // AQE splits a skewed partition at mapper-block boundaries; a
      // single-parquet-file SF reads as ONE mapper with nothing to
      // split, so fan the map side out the way a multi-file 100 TB
      // table arrives naturally.
      val fact = graft.Tables.lineitem(spark, dir).repartition(16)
        .select(when(col("l_orderkey") % 3 =!= 0, lit(0L))
            .otherwise(col("l_orderkey")).as("k"),
          col("l_extendedprice").cast("decimal(30,2)").as("price"))
      // NO distinct() on the dim: a final-aggregate between the Sort
      // and the shuffle stage breaks OptimizeSkewedJoin's
      // SMJ(Sort(stage), Sort(stage)) pattern and silently disables
      // the split. Key-0 orders are excluded so the union stays
      // duplicate-free without an aggregate.
      val dim = graft.Tables.orders(spark, dir)
        .filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") =!= 0)
        .select(col("o_orderkey").as("k"))
        .unionAll(spark.range(1).select(lit(0L).as("k")))
        .withColumn("bucket", pmod(col("k"), lit(7)))
      val out = fact.join(dim, Seq("k"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price")).cast("double").as("revenue"))
        .orderBy(col("bucket"))
      // Materialize UNDER the scaled thresholds (lazy evaluation after
      // the scope would run with restored confs and never skew-split).
      val rows = out.collect()
      out.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), out.schema)
    }
  }

  /** [[skewedSumCount]] with exact DECIMAL accumulation, so the salted
    * two-phase result is bit-identical to a plain GROUP BY (double
    * partials would re-associate the sum differently per salt split) —
    * the oracle-gated form proving salt-phase equivalence.
    */
  def skewedSumCountExact(df: DataFrame, key: String, value: String,
                          saltFactor: Int = 8): DataFrame =
    df.withColumn("_salt", pmod(hash(col(value)), lit(saltFactor)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(value).cast("decimal(30,2)")).as("_psum"),
        count(lit(1)).as("_pn"))
      .groupBy(col(key))
      .agg(sum(col("_psum")).cast("double").as("sum_value"),
        sum(col("_pn")).as("n"))
}
