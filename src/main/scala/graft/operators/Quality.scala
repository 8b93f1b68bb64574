package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Data-quality surface: table profiling and declarative expectation
  * checks — the asset-check layer a Dagster-style pipeline (the
  * reference's ecosystem) hangs off every materialization
  * (`dagster_repository/assets.py` materializes with no checks; this
  * is the missing guardrail, done Spark-side).
  *
  * Both run as ONE aggregation pass over the table (every stat is an
  * ordinary aggregate with map-side partials), and only the single
  * stats row reaches the driver — profiling 100 TB costs one scan.
  */
object Quality {

  /** Volume-anomaly detection (gate dq2): z-scores of hourly event
    * counts against the corpus-wide hourly mean/std — the freshness/
    * volume monitor every ingestion pipeline alarms on. Std comes from
    * exact integer power sums (n, Σc, Σc²) so the doubles are
    * reproducible; the stats row is a broadcast scalar, the z
    * computation a per-row expression. Scale: one hour-keyed count
    * aggregation + one 3-number reduction.
    */
  def hourlyAnomalies(spark: SparkSession, dir: String,
                      zThreshold: Double = 2.0): DataFrame = {
    val h = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    // Σn² through DECIMAL(38,0): hourly counts at corpus scale make a
    // BIGINT square wrap silently (n = 3e9/hour → n² > Long.MAX); the
    // decimal path is exact to 38 digits and the value is consumed as
    // double below, so gate hashes are unchanged (sf1-audit, round 8).
    val s = h.agg(count(lit(1)).as("nh"), sum(col("n")).as("s1"),
      sum(col("n").cast("decimal(38,0)") * col("n")).as("s2"))
    val mu = col("s1").cast("double") / col("nh").cast("double")
    val variance = col("s2").cast("double") / col("nh").cast("double") - mu * mu
    // Zero-variance guard: with all hourly counts equal, z = 0/0 = NaN
    // and Spark's NaN ordering makes abs(NaN) >= t TRUE — every hour
    // would be flagged instead of none. Null z rows drop in the filter.
    val z = when(variance > 0, (col("n").cast("double") - mu) / sqrt(variance))
      .otherwise(lit(null).cast("double"))
    h.crossJoin(broadcast(s))
      .withColumn("zz", z)
      .filter(abs(col("zz")) >= zThreshold)
      .select(date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("n"), round(col("zz"), 6).as("z"))
      .orderBy(col("hour_start"))
  }

  /** Gated dp1: per-column profile of the events slice — row count,
    * nulls, exact distincts, numeric min/max (as double; exact for
    * these longs) and string min/max. The reshape from one wide stats
    * row to per-column rows is driver-side over ONE row.
    */
  def profileEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val numCols = Seq("event_id", "user_id", "value")
    val aggs =
      Seq(count(lit(1)).as("n_rows")) ++
        e.columns.toSeq.flatMap { c =>
          Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
            countDistinct(col(c)).as(s"${c}__distinct")) ++
            (if (numCols.contains(c))
              Seq(min(col(c)).cast("double").as(s"${c}__min"),
                max(col(c)).cast("double").as(s"${c}__max"))
            else
              Seq(min(col(c)).as(s"${c}__smin"),
                max(col(c)).as(s"${c}__smax")))
        }
    val r = e.agg(aggs.head, aggs.tail: _*).collect()(0)
    def d(name: String): java.lang.Double =
      if (r.isNullAt(r.fieldIndex(name))) null
      else Double.box(r.getDouble(r.fieldIndex(name)))
    def s(name: String): String =
      if (r.isNullAt(r.fieldIndex(name))) null else r.getString(r.fieldIndex(name))
    val rows = e.columns.toSeq.sorted.map { c =>
      Row(c, r.getAs[Long]("n_rows"),
        r.getAs[Long](s"${c}__nulls"), r.getAs[Long](s"${c}__distinct"),
        if (numCols.contains(c)) d(s"${c}__min") else null,
        if (numCols.contains(c)) d(s"${c}__max") else null,
        if (numCols.contains(c)) null else s(s"${c}__smin"),
        if (numCols.contains(c)) null else s(s"${c}__smax"))
    }
    val schema = StructType(Seq(
      StructField("col_name", StringType), StructField("n_rows", LongType),
      StructField("n_nulls", LongType), StructField("n_distinct", LongType),
      StructField("min_num", DoubleType), StructField("max_num", DoubleType),
      StructField("min_str", StringType), StructField("max_str", StringType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).orderBy(col("col_name"))
  }

  /** Gated dq1: declarative expectations over events — uniqueness,
    * non-null, accepted values, range — each reduced to a violation
    * count in the same single pass. The shape every dbt-test /
    * Dagster-asset-check suite compiles down to.
    */
  def expectationsEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val accepted = Seq("click", "error", "purchase", "signup", "view")
    val r = e.agg(
        (count(lit(1)) - countDistinct(col("event_id"))).as("dup_ids"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_type"),
        sum(when(!col("event_type").isin(accepted.map(lit): _*), 1L)
          .otherwise(0L)).as("bad_type"),
        sum(when(col("value").isNull || col("value") <= 0.0, 1L).otherwise(0L))
          .as("bad_value"))
      .collect()(0)
    val checks = Seq(
      ("event_id_unique", r.getAs[Long]("dup_ids")),
      ("event_type_accepted", r.getAs[Long]("bad_type")),
      ("event_type_not_null", r.getAs[Long]("null_type")),
      ("value_positive", r.getAs[Long]("bad_value")))
    val schema = StructType(Seq(
      StructField("check_name", StringType),
      StructField("n_violations", LongType),
      StructField("passed", BooleanType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      checks.map { case (n, v) => Row(n, v, v == 0L) }.asJava, schema)
      .orderBy(col("check_name"))
  }

  /** Gated wz1: winsorized summary stats — clamp a numeric column to
    * its exact [p1, p99] order-statistic band, then aggregate. The
    * robust-stats preprocessing step outlier-heavy telemetry and
    * price-like columns get before any mean-based modeling.
    *
    * Scale shape: the two quantiles come from
    * [[Quantiles.exactQuantiles]] (scan-bounded histogram refinement,
    * counters-only driver traffic — never a full sort); the clamp is
    * a per-row expression and the final aggregate is one map-side-
    * combinable pass. Thresholds are rounded to 6 decimals before use
    * so both engines clamp against bit-identical literals, and the
    * mean accumulates as DECIMAL for order-independence.
    */
  /** Gated dp3: SEEDED-LAPLACE NOISED COUNT RELEASE — the
    * differential-privacy-style publication step for shared
    * aggregates (ε=0.5, sensitivity 1 ⇒ scale b=2): each released
    * count carries additive Laplace noise drawn by inverse-CDF from a
    * uniform DERIVED DETERMINISTICALLY from the group key's md5 (52
    * mantissa-exact bits). The fixed seed is what makes the release
    * REPRODUCIBLE pipeline-to-pipeline (and lets the DuckDB oracle
    * replay it bit-for-bit); a production DP deployment would swap
    * the hash for a fresh RNG and an accountant — the mechanism,
    * sensitivity bookkeeping and release shape are exactly this.
    * One combinable aggregation; noise is a per-row expression.
    */
  def dpNoisedCounts(spark: SparkSession, dir: String,
                     epsilon: Double = 0.5): DataFrame = {
    val b = 1.0 / epsilon
    val hv = conv(substring(md5(col("event_type")), 1, 13), 16, 10)
      .cast("double")
    val u = hv / lit(4503599627370496.0) - lit(0.5) // 2^52
    Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        round(col("n")
          + lit(-b) * signum(u) * log(lit(1.0) - lit(2.0) * abs(u)), 6)
          .as("n_noised"))
      .orderBy(col("event_type"))
  }

  /** Gated dp2: POPULATION STABILITY INDEX — the standard drift
    * monitor between a reference and a current distribution (here two
    * deterministic halves of the events stream; in production,
    * yesterday's batch vs today's). Per bin: reference/current shares
    * and the PSI term (q−p)·ln(q/p); the spec asserts the total stays
    * under the conventional 0.1 "no drift" threshold for a
    * same-distribution split.
    *
    * One-sided bins (present in only one half — the strongest drift
    * signal a monitor can see, since a new or vanished bin has
    * unbounded raw PSI) are KEPT via a full outer join with counts
    * coalesced to 0; their shares are floored at ε=1e-6 inside the
    * ln() so the term stays finite, and an explicit `one_sided` flag
    * marks them so downstream alerting can escalate rather than
    * average them away. An inner join here would silently drop
    * exactly the bins that matter most.
    *
    * Scale shape: two map-side-combinable bin counts + a bin-keyed
    * full outer join on a bins-cardinality frame — the corpus is
    * scanned once. Shares are exact integer ratios; ln() drift is
    * absorbed by round(6).
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.events(spark, dir)
      .select(floor(col("value") / 100).cast("int").as("bin"),
        (col("event_id") % 2).as("half"))
    val ref = b.filter(col("half") === 0)
      .groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
    val cur = b.filter(col("half") === 1)
      .groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
    // two control-plane scalars (the halves' totals)
    val tr = ref.agg(sum(col("n_ref"))).head.getLong(0).toDouble
    val tc = cur.agg(sum(col("n_cur"))).head.getLong(0).toDouble
    val joined = ref.join(cur, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val p = col("n_ref").cast("double") / lit(tr)
    val q = col("n_cur").cast("double") / lit(tc)
    // ε floor applies only inside the PSI term; the reported shares
    // stay the exact (possibly zero) ratios.
    val eps = lit(1e-6)
    val pf = greatest(p, eps)
    val qf = greatest(q, eps)
    joined
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(p, 6).as("p"), round(q, 6).as("q"),
        (col("n_ref") === 0 || col("n_cur") === 0).as("one_sided"),
        round((qf - pf) * log(qf / pf), 6).as("psi_term"))
      .orderBy(col("bin"))
  }

  /** Gated dq3: REFERENTIAL-INTEGRITY audit — orphan counts for every
    * foreign-key edge of the star schema (facts without parents),
    * each one a LEFT ANTI join that reduces to digest-width shuffles.
    * The "can we trust the joins" gate run before any fact-table
    * aggregation is published; emits one row per edge with a passed
    * flag so a single orphan fails the report.
    */
  def referentialIntegrity(spark: SparkSession, dir: String): DataFrame = {
    def orphans(name: String, fact: DataFrame, fk: String,
                dim: DataFrame, pk: String): DataFrame = {
      val n = fact.select(col(fk))
        .join(dim.select(col(pk)), col(fk) === col(pk), "left_anti")
        .count()
      import org.apache.spark.sql.Row
      spark.createDataFrame(
        java.util.List.of(Row(name, n, n == 0L)),
        StructType(Seq(StructField("fk", StringType),
          StructField("n_orphans", LongType),
          StructField("passed", BooleanType))))
    }
    val li = Tables.lineitem(spark, dir)
    Seq(
      orphans("customer_nation", Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey"),
      orphans("lineitem_order", li, "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey"),
      orphans("lineitem_part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"),
      orphans("lineitem_supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"),
      orphans("order_customer", Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .reduce(_ unionAll _)
      .orderBy(col("fk"))
  }

  /** Gated kan1: K-ANONYMITY / L-DIVERSITY audit — for each
    * quasi-identifier equivalence class (nation × market segment),
    * the class size and the count of distinct sensitive-value
    * buckets (account balance in 1k bands), with a k<10 violation
    * flag. The privacy pre-release check any shared dataset runs;
    * one grouped aggregation with a two-phase distinct, scale-free.
    */
  def kAnonymityAudit(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("class_size"),
        count_distinct(floor(col("c_acctbal") / 1000)).as("l_diversity"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        col("class_size"), col("l_diversity"),
        (col("class_size") < k).as("k10_violation"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  /** Gated ts3: SEASONAL-PROFILE decomposition — hour-of-day mean
    * profile subtracted from the hourly series (the cheap STL stand-
    * in that catches diurnal structure before anomaly thresholds are
    * set). Two aggregations + a 24-row broadcast join; residuals are
    * deterministic double differences of integer-ratio means.
    */
  def seasonalProfile(spark: SparkSession, dir: String, limit: Int = 48): DataFrame = {
    val h = Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n"))
    val s = h.groupBy(col("hod"))
      .agg((sum(col("n")).cast("double") / count(lit(1))).as("seasonal"))
    h.join(broadcast(s), "hod")
      .select(col("hour_start"), col("n"),
        round(col("seasonal"), 6).as("seasonal_mean"),
        round(col("n") - col("seasonal"), 6).as("residual"))
      .orderBy(col("hour_start"))
      .limit(limit)
  }

  /** EWMA weights shared between the Spark expression and the
    * generated oracle SQL (both sides see the SAME doubles:
    * `Double.toString` is shortest-round-trip, so DuckDB parses the
    * literal back to the identical bits).
    */
  private[graft] val EwmaWeights: Seq[Double] =
    (0 until 12).map(k => 0.2 * math.pow(0.8, k))

  /** Gated ewm1: EXPONENTIALLY weighted moving average over the
    * hourly series — the standard smoother under alerting and
    * forecasting baselines, here in truncated-window form (12 lags,
    * ≥99% of the mass) so the recursion becomes a FIXED lag chain:
    * deterministic, windowable, and cross-engine exact (the
    * textbook recursive form would accumulate engine-specific
    * rounding forever). Head-of-series terms renormalize over the
    * available lags. One hours-cardinality window, never the raw
    * events.
    */
  def ewmaHourly(spark: SparkSession, dir: String, limit: Int = 48): DataFrame = {
    val h = Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour_start"))
      .agg(count(lit(1)).as("n"))
      .withColumn("nd", col("n").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Ranks.boundedOnePartition(col("hour_start")))
      .orderBy(col("hour_start"))
    val num = EwmaWeights.zipWithIndex.map { case (wt, k) =>
      when(lag(col("nd"), k).over(w).isNotNull,
        lit(wt) * lag(col("nd"), k).over(w)).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    val den = EwmaWeights.zipWithIndex.map { case (wt, k) =>
      when(lag(col("nd"), k).over(w).isNotNull, lit(wt)).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    h.select(col("hour_start"), col("n"), round(num / den, 6).as("ewma"))
      .orderBy(col("hour_start"))
      .limit(limit)
  }

  /** Gated kd1: SPLIT REPRESENTATIVENESS via KL divergence — does the
    * eval side of the wall look like the train side? Laplace-smoothed
    * language shares over the union domain (so a language present on
    * one side only contributes a finite, visible penalty instead of
    * ∞), both divergence directions emitted. Everything folds from
    * the |langs|-cardinality share table; the raw corpus is scanned
    * once for the per-(lang, split) counts. The split comes from
    * [[TextAnalysis.groupSplitMap]], so this audits exactly the wall
    * s2/c4 build.
    */
  def splitKlDivergence(spark: SparkSession, dir: String): DataFrame =
      Pins.local(spark) { p =>
    val docs = Tables.documents(spark, dir)
    val d = docs
      .join(broadcast(TextAnalysis.groupSplitMap(docs)), "source")
      .select(col("lang"), (col("split") === "train").as("is_train"))
    val counts = p(d.groupBy(col("lang"), col("is_train"))
      .agg(count(lit(1)).as("n")))
    val tr = counts.filter(col("is_train")).select(col("lang"), col("n").as("ntr"))
    val te = counts.filter(!col("is_train")).select(col("lang"), col("n").as("nte"))
    val totals = counts.agg(
      sum(when(col("is_train"), col("n")).otherwise(0L)),
      sum(when(!col("is_train"), col("n")).otherwise(0L))).head
    val (nTrain, nEval) = (totals.getLong(0), totals.getLong(1))
    val langs = counts.select(col("lang")).distinct()
    val nLangs = langs.count()
    val sm = langs
      .join(tr, Seq("lang"), "left").join(te, Seq("lang"), "left")
      .select(
        ((coalesce(col("ntr"), lit(0L)).cast("double") + 1) / lit(nTrain + nLangs)).as("p"),
        ((coalesce(col("nte"), lit(0L)).cast("double") + 1) / lit(nEval + nLangs)).as("q"))
    def dec(c: Column): Column = sum(c.cast("decimal(38,18)")).cast("double")
    sm.agg(
      round(dec(col("p") * log(col("p") / col("q"))), 6).as("kl_train_eval"),
      round(dec(col("q") * log(col("q") / col("p"))), 6).as("kl_eval_train"))
      .select(lit(nLangs).as("n_langs"), col("kl_train_eval"), col("kl_eval_train"))
  }

  /** Gated ts4: ROLLING one-step-ahead FORECAST — per hour, an OLS
    * trend fit over the trailing 24-hour window and its projection to
    * the next hour (the short-horizon baseline capacity/alerting
    * forecasters run). The fit comes entirely from window sums of
    * integers (x = hour index, y = count): cnt/Σx/Σy/Σx²/Σxy over a
    * ROWS frame are exact on both engines, so slope/forecast are one
    * closed-form double expression each — no iterative fitting, no
    * state, and the window runs over the hours-cardinality frame,
    * never raw events.
    */
  def rollingForecast(spark: SparkSession, dir: String,
                      window: Int = 24, limit: Int = 48): DataFrame = {
    val h = Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour_start"))
      .agg(count(lit(1)).as("n"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(Ranks.boundedOnePartition(col("hour_start")))
      .orderBy(col("hour_start"))
    val wFrame = wOrd.rowsBetween(-(window - 1), 0)
    val x = h.withColumn("i", row_number().over(wOrd).cast("long"))
    val s = x
      .withColumn("c", count(lit(1)).over(wFrame))
      .withColumn("sx", sum(col("i")).over(wFrame))
      .withColumn("sy", sum(col("n")).over(wFrame))
      .withColumn("sxx", sum(col("i") * col("i")).over(wFrame))
      .withColumn("sxy", sum(col("i") * col("n")).over(wFrame))
    val slope = (col("c").cast("double") * col("sxy")
      - col("sx").cast("double") * col("sy")) /
      (col("c").cast("double") * col("sxx") - col("sx").cast("double") * col("sx"))
    s.filter(col("c") === window)
      .select(col("hour_start"), col("n"),
        round(slope, 6).as("slope"),
        round((col("sy").cast("double") - slope * col("sx")) / col("c")
          + slope * (col("i") + 1), 6).as("forecast_next"))
      .orderBy(col("hour_start"))
      .limit(limit)
  }

  /** Gated cp1: CUSUM change-point series — cumulative sums of
    * per-hour count deviations from the global mean, the classic
    * sequential drift detector (the |S| peak marks the most likely
    * change point; the spec locates it and bounds |S| for the
    * stationary corpus). Deviations round to DECIMAL(20,6) before
    * the running window sum, so the cumulative series is exact and
    * engine-identical; the window runs over the hours-cardinality
    * frame, never the raw events.
    */
  def cusumHourly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour_start"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.agg(sum(col("n")), count(lit(1))).head
    val mean = stats.getLong(0).toDouble / stats.getLong(1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Ranks.boundedOnePartition(col("hour_start")))
      .orderBy(col("hour_start"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    hourly
      .withColumn("dev",
        round(col("n") - lit(mean), 6).cast("decimal(20,6)"))
      .withColumn("cusum", round(sum(col("dev")).over(w).cast("double"), 6))
      .select(col("hour_start"), col("n"), col("cusum"))
      .orderBy(col("hour_start"))
  }

  /** Gated cpd1: OPTIMAL single changepoint per event type — the
    * offline complement to cp1's running CUSUM: instead of flagging
    * when a threshold is crossed, it finds the split of the hourly
    * count series that maximally reduces within-segment variance
    * (binary-segmentation step 1, the building block of PELT-style
    * detectors). SSE of a segment needs only (Σy, Σy², n), so every
    * candidate split is O(1) off BIGINT running sums over the hourly
    * spine — one pass, no per-split rescan. Windows are partitioned
    * by event type over the calendar spine (bounded frames); the
    * argmin is a min-struct AGGREGATION (dd15 discipline), not a rank
    * window. All sums are BIGINT (counts and squares of counts), so
    * the double SSE expression is evaluated over identical integers
    * on both engines — bit-stable before the final round.
    */
  def changepointHourly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("h"))
      .agg(count(lit(1)).as("y"))
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    val run = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // No orderBy → frame = the whole partition (the per-type totals).
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    def d(c: String) = col(c).cast("double")
    val cand = hourly
      .withColumn("i", row_number().over(ord).cast("long"))
      .withColumn("cs", sum(col("y")).over(run))
      .withColumn("cs2", sum(col("y") * col("y")).over(run))
      .withColumn("nh", count(lit(1)).over(all))
      .withColumn("st", sum(col("y")).over(all))
      .withColumn("st2", sum(col("y") * col("y")).over(all))
      .filter(col("i") < col("nh"))
      .withColumn("sse",
        (d("cs2") - d("cs") * d("cs") / d("i"))
          + ((d("st2") - d("cs2"))
            - (d("st") - d("cs")) * (d("st") - d("cs")) / (d("nh") - d("i"))))
      .withColumn("sse0", d("st2") - d("st") * d("st") / d("nh"))
    cand.groupBy(col("event_type"))
      .agg(min(struct(col("sse"), col("h"), col("sse0"))).as("best"))
      .select(col("event_type"), col("best.h").as("change_hour"),
        round(col("best.sse0") - col("best.sse"), 6).as("sse_drop"))
      .orderBy(col("event_type"))
  }

  /** Gated stl1: CLASSICAL additive decomposition of the hourly
    * count series — the textbook STL precursor ts3 approximates:
    * trend = centered 24-term moving average (the even-window
    * two-pass form: mean of the two off-by-one 24-windows), seasonal
    * index = mean detrended value per hour-of-day, centered to sum
    * to zero. ts3 profiles raw hod means; this one removes trend
    * FIRST, so a growing corpus doesn't masquerade as seasonality.
    *
    * Exactness: the 48-fold trend stays integer (48·y − ΣΣy over the
    * two windows is BIGINT), per-hod means are rounded into
    * DECIMAL(20,8) before the centering sum (order-invariant), and
    * only the final centered subtraction is double. The spine is
    * calendar-bounded; its windows ride a pinned single partition
    * ([[Ranks.boundedOnePartition]]).
    */
  def classicalDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("h"))
      .agg(count(lit(1)).as("y"))
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(Ranks.boundedOnePartition(col("h"))).orderBy(col("h"))
    // No orderBy → frame = the whole (pinned) partition.
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(Ranks.boundedOnePartition(col("h")))
    val interior = hourly
      .withColumn("i", row_number().over(ord).cast("long"))
      .withColumn("nh", count(lit(1)).over(all))
      .withColumn("t48",
        sum(col("y")).over(ord.rowsBetween(-11, 12))
          + sum(col("y")).over(ord.rowsBetween(-12, 11)))
      .filter(col("i") > 12 && col("i") <= col("nh") - 12)
      .select(substring(col("h"), 12, 2).cast("bigint").as("hod"),
        (col("y") * 48 - col("t48")).as("d48"))
    val perHod = interior.groupBy(col("hod"))
      .agg(sum(col("d48")).as("sd"), count(lit(1)).as("n_hours"))
      .withColumn("s8",
        round(col("sd").cast("double") / (col("n_hours") * 48).cast("double"), 8)
          .cast("decimal(20,8)"))
    val center = org.apache.spark.sql.expressions.Window
      .partitionBy(Ranks.boundedOnePartition(col("hod")))
    perHod
      .withColumn("seasonal",
        round(col("s8").cast("double")
          - sum(col("s8")).over(center).cast("double")
            / count(lit(1)).over(center).cast("double"), 6))
      .select(col("hod"), col("seasonal"), col("n_hours"))
      .orderBy(col("hod"))
  }

  /** Gated od1: ROBUST outlier detection via median/MAD — the
    * heavy-tail-safe alternative to z-scores (dq2): median and median
    * absolute deviation are unmoved by the very outliers being
    * hunted. Flags |x − med| > 3·1.4826·MAD per event type (1.4826
    * scales MAD to σ under normality).
    *
    * Both medians come from the scan-bounded grouped order-statistic
    * kernel ([[Quantiles.exactQuantiles]]) — counters to the driver,
    * never value buffers — and are rounded to 6 decimals before
    * re-entering the plan as literals, so both engines threshold
    * against bit-identical cut points.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def litByType(pairs: Seq[(String, Double)]): org.apache.spark.sql.Column =
      pairs.foldLeft(lit(Double.NaN)) { case (acc, (t, v)) =>
        when(col("event_type") === t, lit(v)).otherwise(acc)
      }
    val meds = Quantiles.exactQuantiles(e, "value", Seq("p50" -> 0.5),
        groupCols = Seq("event_type"))
      .map { case (key, vals) =>
        key.head.asInstanceOf[String] -> Quantiles.round6(vals.head) }
    val medCol = litByType(meds)
    val withDev = e.select(col("event_type"),
      abs(col("value") - medCol).as("dev"))
    val mads = Quantiles.exactQuantiles(withDev, "dev", Seq("p50" -> 0.5),
        groupCols = Seq("event_type"))
      .map { case (key, vals) =>
        key.head.asInstanceOf[String] -> Quantiles.round6(vals.head) }
    val madCol = litByType(mads)
    e.select(col("event_type"), col("value"), medCol.as("med"), madCol.as("mad"))
      .groupBy(col("event_type"))
      .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(abs(col("value") - col("med"))
          > lit(3.0) * lit(1.4826) * col("mad"), 1).otherwise(0))
          .as("n_outliers"))
      .orderBy(col("event_type"))
  }

  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val Seq((_, Seq(p01, p99))) = Quantiles.exactQuantiles(
      li, "l_extendedprice", Seq("p01" -> 0.01, "p99" -> 0.99))
    val (lo, hi) = (Quantiles.round6(p01), Quantiles.round6(p99))
    li.select(least(greatest(col("l_extendedprice"), lit(lo)), lit(hi)).as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("w").cast("decimal(30,6)")).as("s"),
        min(col("w")).as("mn"), max(col("w")).as("mx"))
      .select(col("n"),
        lit(lo).as("p01"), lit(hi).as("p99"),
        round(col("s").cast("double") / col("n"), 6).as("avg_wins"),
        round(col("mn"), 6).as("min_wins"),
        round(col("mx"), 6).as("max_wins"))
  }

  /** Gated ks1: two-sample KOLMOGOROV–SMIRNOV statistic between two
    * sources' document-length distributions — the exact nonparametric
    * drift test beside dp2's binned PSI: D = max |F̂_a(v) − F̂_b(v)|,
    * sensitive to ANY distributional difference, no bin choices.
    * The source-intake gate "does the new crawl look like the old
    * one" runs exactly this.
    *
    * Scale shape: one fact aggregation to per-distinct-VALUE counts
    * (map-side combinable; the frame is value-domain cardinality —
    * document lengths — NOT corpus cardinality, the same bounded-
    * spine class as the hour/month windows), then one cumulative pass
    * over that spine and a scalar max. Constant-key window idiom
    * (see tokenZipf) keeps the single bounded partition warning-free.
    */
  def ksTwoSample(spark: SparkSession, dir: String,
                  srcA: String = "src0", srcB: String = "src1"): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"), col("n_chars"))
    val c = d.groupBy(col("n_chars").as("v"))
      .agg(sum(when(col("source") === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("cb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(hash(col("v")), lit(1)))
      .orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val e = c.select(col("v"),
      sum(col("ca")).over(w).cast("double").as("cuma"),
      sum(col("cb")).over(w).cast("double").as("cumb"))
    val n = d.agg(
      sum(when(col("source") === srcA, 1L).otherwise(0L)).as("na"),
      sum(when(col("source") === srcB, 1L).otherwise(0L)).as("nb"))
    e.crossJoin(broadcast(n))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        round(max(abs(col("cuma") / col("na").cast("double")
          - col("cumb") / col("nb").cast("double"))), 6).as("ks_d"))
  }

  /** Gated iaa1: INTER-LABELER AGREEMENT (Cohen's κ) between two
    * labeling functions — here the length heuristic (n_chars > 500)
    * vs the language gate (lang = 'en'). The weak-supervision
    * diagnostic every labeling-function stack runs: raw overlap (p_o)
    * overstates agreement when the marginals are skewed; κ corrects
    * by chance agreement (p_e). One map-side-combinable aggregation
    * builds the 2×2 contingency; everything after is scalar IEEE math
    * on four counts, products double-first (acf1 discipline).
    */
  def labelerAgreement(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      (col("n_chars") > 500).as("a"), (col("lang") === "en").as("b"))
    val c = d.agg(
      sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
      sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
      sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
      sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
    def dd(c0: Column): Column = c0.cast("double")
    val n = dd(col("n11") + col("n10") + col("n01") + col("n00"))
    val po = dd(col("n11") + col("n00")) / n
    val pe = (dd(col("n11") + col("n10")) * dd(col("n11") + col("n01"))
      + dd(col("n01") + col("n00")) * dd(col("n10") + col("n00"))) / (n * n)
    c.select(col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  /** Gated cal1: CALIBRATION TABLE + expected calibration error (ECE)
    * — score-vs-outcome reliability over 10 fixed confidence bins
    * (score = capped value/500 as the pseudo-probability, outcome =
    * purchase). The companion of lr1's calibration fit: lr1 adjusts
    * scores, this AUDITS them — the quality-classifier health check a
    * filtering pipeline runs before trusting its thresholds.
    *
    * Exactness/scale shape: one aggregation over the fact table into
    * ≤ bins rows (confidence sums DECIMAL-accumulated → order-
    * invariant), then the ECE fold over the 10-row frame, per-bin gap
    * terms DECIMAL-summed the same way. Nothing bigger than the bin
    * table ever moves twice.
    */
  def calibrationTable(spark: SparkSession, dir: String,
                       bins: Int = 10): DataFrame = {
    val e = Tables.events(spark, dir).select(
      (greatest(least(col("value"), lit(500.0)), lit(0.0)) / lit(500.0)).as("p"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val b = e.select(
      least(floor(col("p") * bins), lit(bins - 1)).cast("int").as("bin"),
      col("p"), col("y"))
    val per = b.groupBy(col("bin")).agg(
      count(lit(1)).as("n_events"),
      sum(col("p").cast("decimal(38,18)")).cast("double").as("sp"),
      sum(col("y")).as("sy"))
    def nd = col("n_events").cast("double")
    val conf = col("sp") / nd
    val acc = col("sy").cast("double") / nd
    val tot = per.agg(
      sum(col("n_events")).as("nt"),
      sum((abs(col("sy").cast("double") / col("n_events").cast("double")
        - col("sp") / col("n_events").cast("double"))
        * col("n_events").cast("double")).cast("decimal(38,18)"))
        .cast("double").as("gapsum"))
    // Tie-consistent rounding: the raw p values terminate at ≤5
    // decimals, so conf = Σp/n can land EXACTLY on a 6-dp rounding
    // tie (n = 8 did at sf0.001), where Spark (binary-exact HALF_UP)
    // and DuckDB (decimal-tie up) disagree by 1 ulp of the output.
    // +1e-12 pushes exact ties up on BOTH engines (mirrored in the
    // oracle) and cannot move a non-tie: a repeating expansion within
    // 1e-12 of a boundary would need a denominator ~1e12.
    def r6(c: Column): Column = round(c + lit(1e-12), 6)
    per.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_events"),
        r6(conf).as("confidence"),
        r6(acc).as("accuracy"),
        r6(abs(acc - conf)).as("gap"),
        r6(col("gapsum") / col("nt").cast("double")).as("ece"))
      .orderBy(col("bin"))
  }

  /** Gated acf1: AUTOCORRELATION FUNCTION of the hourly event-count
    * series at a fixed lag set — the periodicity detector that picks
    * the seasonal window ts3 then profiles (a diurnal corpus shows
    * the ACF spike at lag 24 before any model is fit).
    *
    * Exactness/scale shape: the series is one hourly aggregate
    * (integer hour index, integer count); each lag's Pearson r is
    * assembled from INTEGER sufficient statistics (n, Σx, Σy, Σxy,
    * Σx², Σy²) over the lag-aligned self-join, so every aggregate is
    * order-invariant and one double expression per lag runs at the
    * end. The self-join is an equi-join on shifted hour index; with
    * `lags` small it broadcasts the lag table and shuffles the
    * series once — series cardinality is hours, ~5 orders below the
    * fact table, so any plan here is control-plane cheap.
    */
  def autocorrelation(spark: SparkSession, dir: String,
                      lags: Seq[Int] = Seq(1, 2, 3, 4, 6, 12, 24)): DataFrame = {
    val series = Tables.events(spark, dir)
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000L")
        .as("hi"))
      .agg(count(lit(1)).as("n"))
    val lagDf = spark.createDataFrame(
      lags.map(l => Tuple1(l))).toDF("lag_hours")
    val a = series.select(col("hi"), col("n").as("x"))
    val b = series.select(col("hi").as("hib"), col("n").as("y"))
    a.join(broadcast(lagDf))
      .join(b, col("hib") === col("hi") + col("lag_hours"))
      .groupBy(col("lag_hours"))
      // Inner products through DECIMAL(38,0): hourly counts at corpus
      // scale overflow a BIGINT square (sf1-audit, round 8 — same
      // class as the round-7 np*sxy fix below, one product earlier).
      // Consumed as double, so values and hashes are unchanged.
      .agg(count(lit(1)).as("np"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .select(col("lag_hours"), col("np").as("n_pairs"), {
        // Each sufficient statistic casts to double BEFORE the
        // products: BIGINT np*sxy wraps silently in non-ANSI Spark at
        // a large-enough SF while DuckDB raises — the engines would
        // diverge without either failing loudly. Double-first is the
        // same IEEE sequence on both engines (the oracle mirrors the
        // casts term-for-term), so the hash stays exact.
        def d(c: String) = col(c).cast("double")
        round((d("np") * d("sxy") - d("sx") * d("sy"))
          / (sqrt(d("np") * d("sxx") - d("sx") * d("sx"))
            * sqrt(d("np") * d("syy") - d("sy") * d("sy"))),
          6).as("acf")
      })
      .orderBy(col("lag_hours"))
  }

  /** Gated exp1: ANOMALY CONTRIBUTION — the "which dimension drove the
    * spike" readout that follows a cp1-style detection: find the
    * peak-volume hour, then attribute its excess over each event
    * type's mean hourly volume (Adtributor-style contribution
    * analysis, one dimension). Two bounded scalar actions (the peak
    * hour and the hour count — 1-row control-plane transfers, the BSP
    * counter discipline); everything else is one aggregation over the
    * (hour × type) counts. All ratios divide exact integers.
    */
  def anomalyContribution(spark: SparkSession, dir: String): DataFrame =
      Pins.local(spark) { p =>
    val h = p(Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n")))
    val peakHr = h.groupBy(col("hr")).agg(sum(col("n")).as("tn"))
      .orderBy(desc("tn"), asc("hr")).limit(1)
      .head().getString(0) // 1 row: the anomalous hour
    val nHours = h.agg(countDistinct(col("hr"))).head().getLong(0)
    val base = h.groupBy(col("event_type")).agg(sum(col("n")).as("bn"))
    val peak = h.filter(col("hr") === peakHr)
      .select(col("event_type"), col("n").as("pn"))
    base.join(peak, Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("pn"), lit(0L)).as("peak_n"),
        round(col("bn").cast("double") / nHours, 6).as("mean_hourly_n"),
        round(coalesce(col("pn"), lit(0L)) -
          col("bn").cast("double") / nHours, 6).as("excess"),
        lit(peakHr).as("peak_hour"))
      .orderBy(desc("excess"), asc("event_type")) // |event_type| rows
  }

  /** Gated imp1: group-median imputation — the standard null-repair
    * pass before features reach a model. A deterministic mask nulls
    * every 7th customer's balance; the per-nation LOWER MEDIAN of the
    * observed values fills the holes. The median is picked by exact
    * integer rank (row_number at rank ⌊(n+1)/2⌋ over a
    * per-nation-partitioned window — parallel across groups, no
    * global sort, no float interpolation, so the imputed value is an
    * actual observed balance and hashes identically on any engine).
    * Output per nation: sizes, the imputation value, and the
    * DECIMAL-exact observed total proving only genuine values summed.
    */
  def medianImpute(spark: SparkSession, dir: String): DataFrame = {
    val masked = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        when(col("c_custkey") % 7 =!= 0, col("c_acctbal")).as("bal"))
    val obs = masked.filter(col("bal").isNotNull)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey")).orderBy(col("bal"), col("c_custkey"))
    val wGrp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey"))
    val med = obs
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n_obs", count(lit(1)).over(wGrp))
      .filter(col("rn") ===
        floor((col("n_obs") + lit(1)) / lit(2.0)).cast("long"))
      .select(col("c_nationkey"), col("bal").as("grp_median"))
    masked.join(med, Seq("c_nationkey"))
      .groupBy(col("c_nationkey"), col("grp_median"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("bal").isNull, 1L).otherwise(0L)).as("n_imputed"),
        sum(coalesce(col("bal"), lit(0d)).cast("decimal(30,2)"))
          .as("obs_total"))
      .select(col("c_nationkey"), col("n"), col("n_imputed"),
        round(col("grp_median"), 6).as("grp_median"),
        col("obs_total").cast("double").as("observed_total"))
      .orderBy(col("c_nationkey"))
  }

  /** Gated ben1: BENFORD FIRST-DIGIT audit over order totals — the
    * fabricated-data / systematic-bias screen forensic and
    * data-quality pipelines run on any organically-generated numeric
    * column. Digit extraction is PURE INTEGER arithmetic: amounts
    * become BIGINT cents and the leading digit falls out of a
    * magnitude-range CASE (`c div 10^k` for the k with
    * 10^k ≤ c < 10^(k+1)) — no log10 on data values, so there is no
    * float-boundary risk for either engine to disagree about. The
    * only transcendental is the EXPECTED share log10(1 + 1/d) of the
    * nine constant digits. One count aggregation into ≤ 9 rows plus a
    * broadcast 1-row total; scale cost = one scan.
    */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    // Leading digit of a positive BIGINT via range dispatch. Powers to
    // 10^17 cover cents of any double-representable dollar amount.
    val pows = (0 to 17).map(k => math.pow(10, k).toLong)
    val digitSql = pows.zipWithIndex.map { case (p, k) =>
      s"WHEN c < ${p * 10}L THEN c div ${p}L"
    }.mkString("CASE ", " ", " ELSE CAST(NULL AS BIGINT) END")
    val byDigit = Tables.orders(spark, dir)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .filter(col("c") > 0)
      .select(expr(digitSql).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = byDigit.agg(sum(col("n_obs")).as("n_total"))
    // log10 spelled as ln(x)/ln(10) so both engines take the identical
    // IEEE path (DuckDB's log10 is a different libm entry point).
    val expShare =
      log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0))
    byDigit.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n_total").cast("double"), 6)
          .as("obs_share"),
        round(expShare, 6).as("exp_share"),
        round(col("n_obs").cast("double") / col("n_total").cast("double")
          - expShare, 6).as("excess"))
      .orderBy(col("digit"))
  }

  /** Gated ari1: ADJUSTED RAND INDEX between two customer partitions —
    * nation membership vs. account-balance quartile (the chance-
    * corrected clustering-agreement metric every segmentation /
    * labeling-consistency readout reports; ~0 here is itself the
    * finding: geography does not predict spend tier).
    *
    * Scale shape: the quartile labeling uses the exact distributed
    * rank machinery ([[Ranks.scan]] + closed-form
    * ntile — no single-partition window), the contingency table is a
    * (clusters×4)-keyed count, and every pair count C(n,2) stays
    * BIGINT until the final chance-correction ratio: the pair algebra
    * never enumerates pairs, so the cost is one rank exchange + one
    * count aggregation at any corpus size.
    */
  def adjustedRandIndex(spark: SparkSession, dir: String): DataFrame = {
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val (ranked, n, _) = Ranks.scan(cust,
      Seq(col("c_acctbal").asc, col("c_custkey").asc), np, Some("_rn"), Nil)
    val labeled = ranked.withColumn("q", Ranks.ntileOfRank(col("_rn"), n, 4))
    val (sc, sa, sb) = Pins.scope { p =>
      val cells = p(labeled.groupBy(col("c_nationkey"), col("q"))
        .agg(count(lit(1)).as("nij")))
      // C(c,2) accumulated as DECIMAL(38,0): n_ij·(n_ij−1) overflows
      // BIGINT once a cell passes ~3e9 members; the halving happens
      // driver-side in exact BigDecimal.
      def pairs2(c: Column): Column =
        sum(c.cast("decimal(38,0)") * (c - 1)).cast("decimal(38,0)")
      def half(r: Row): BigDecimal =
        BigDecimal(r.getDecimal(0)) / 2
      val sc = half(cells.agg(pairs2(col("nij"))).head())
      val sa = half(cells.groupBy(col("c_nationkey")).agg(sum(col("nij")).as("a"))
        .agg(pairs2(col("a"))).head())
      val sb = half(cells.groupBy(col("q")).agg(sum(col("nij")).as("b"))
        .agg(pairs2(col("b"))).head())
      (sc, sa, sb)
    }
    // Fixed-order double algebra, mirrored verbatim in the oracle SQL.
    val cn2 = n.toDouble * (n - 1).toDouble / 2.0
    val exp = sc.toDouble - sa.toDouble * sb.toDouble / cn2
    val den = (sa.toDouble + sb.toDouble) / 2.0 - sa.toDouble * sb.toDouble / cn2
    import spark.implicits._
    Seq((n, sc.toLong, sa.toLong, sb.toLong,
        BigDecimal(exp / den).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      .toDF("n", "sum_comb_cells", "sum_comb_rows", "sum_comb_cols", "ari")
  }

  /** Gated an1: ANALYZE-style COLUMN STATISTICS — the per-column
    * (rows, nulls, exact NDV, min, max) table a cost-based optimizer
    * consumes (jcs1 shows what it buys). One aggregation over the
    * fact table computes every column's statistics together (Spark
    * plans the multi-distinct via Expand — one pass over the data,
    * not one per column); at 100 TB the exact NDVs swap for HLL
    * sketches (x1's machinery) with the same output shape. Min/max
    * are normalized to strings in engine-stable formats (integers,
    * yyyy-MM-dd) so the catalog row hashes.
    */
  def analyzeStats(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val s = l.agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - count(col("l_orderkey"))).as("nn_k"),
      count_distinct(col("l_orderkey")).as("nd_k"),
      min(col("l_orderkey")).cast("string").as("mn_k"),
      max(col("l_orderkey")).cast("string").as("mx_k"),
      (count(lit(1)) - count(col("l_returnflag"))).as("nn_rf"),
      count_distinct(col("l_returnflag")).as("nd_rf"),
      min(col("l_returnflag")).as("mn_rf"),
      max(col("l_returnflag")).as("mx_rf"),
      (count(lit(1)) - count(col("l_quantity"))).as("nn_q"),
      count_distinct(col("l_quantity")).as("nd_q"),
      min(col("l_quantity")).cast("bigint").cast("string").as("mn_q"),
      max(col("l_quantity")).cast("bigint").cast("string").as("mx_q"),
      (count(lit(1)) - count(col("l_shipdate"))).as("nn_d"),
      count_distinct(col("l_shipdate")).as("nd_d"),
      date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("mn_d"),
      date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("mx_d"))
    def rowFor(name: String, suffix: String) =
      s.select(lit(name).as("column_name"), col("n"),
        col(s"nn_$suffix").cast("bigint").as("n_nulls"),
        col(s"nd_$suffix").cast("bigint").as("n_distinct"),
        col(s"mn_$suffix").as("min_val"), col(s"mx_$suffix").as("max_val"))
    rowFor("l_orderkey", "k")
      .unionAll(rowFor("l_quantity", "q"))
      .unionAll(rowFor("l_returnflag", "rf"))
      .unionAll(rowFor("l_shipdate", "d"))
      .orderBy(col("column_name"))
  }

  /** Shared by the rbo1 gate and its generated oracle: exact
    * geometric weights w_d = 0.9^(d-1) as 12-dp BigDecimals — 0.9^d
    * is an exact finite decimal, so both engines consume literally
    * identical constants (sprt1's pre-rounded-constant discipline).
    */
  def rboWeights(k: Int = 20): Seq[(Int, java.math.BigDecimal)] =
    (1 to k).map(d => d -> BigDecimal("0.9").pow(d - 1)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).bigDecimal)

  /** Gated rbo1: RANK-BIASED OVERLAP (Webber et al. 2010) between two
    * top-k rankings of the same population — the top-weighted,
    * intersection-based agreement measure for comparing rankers
    * (spend-ranked vs frequency-ranked customers here; in a curation
    * pipeline, two quality scorers or two retrieval indexes). Unlike
    * Spearman/Kendall it handles TRUNCATED, non-conjoint lists — the
    * only kind a top-k pipeline ever materializes.
    *
    * RBO@k = (1−p)·Σ_d w_d · |A_1..d ∩ B_1..d| / d with w_d exact
    * decimal constants ([[rboWeights]]). Prefix overlaps collapse to
    * one per-key max(rank_A, rank_B) join (a key is in both prefixes
    * at depth d iff that max ≤ d), so the whole statistic after the
    * two top-k's is a ≤k-row join against the k-row weight spine.
    * Per-depth terms are rounded to 12 dp and summed as DECIMAL —
    * order-invariant, hashable.
    */
  def rboGate(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
      Pins.local(spark) { p =>
    import org.apache.spark.sql.expressions.Window
    val g = p(Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("key"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("spend"),
        count(lit(1)).as("n")))
    def topRank(metric: String, rname: String): DataFrame = {
      val w = Window.partitionBy(Ranks.boundedOnePartition(col("key")))
        .orderBy(col(metric).desc, col("key").asc)
      g.orderBy(col(metric).desc, col("key").asc).limit(k)
        .withColumn(rname, row_number().over(w))
        .select(col("key"), col(rname))
    }
    val m = topRank("spend", "ra").join(topRank("n", "rb"), "key")
      .select(greatest(col("ra"), col("rb")).as("mx"))
    import spark.implicits._
    val weights = broadcast(rboWeights(k).toDF("d", "wt")
      .select(col("d"), col("wt").cast("decimal(14,12)").as("wt")))
    val ov = weights.join(m, col("mx") <= col("d"), "left")
      .groupBy(col("d"), col("wt"))
      .agg(count(col("mx")).as("overlap"))
    ov.agg(
      sum(round(col("wt").cast("double") * col("overlap") / col("d"), 12)
        .cast("decimal(20,12)")).as("s"),
      max(when(col("d") === k, col("overlap"))).as("ov_k"))
      .select(lit("spend").as("metric_a"), lit("order_count").as("metric_b"),
        col("ov_k").cast("bigint").as("overlap_at_20"),
        round(lit(0.1) * col("s").cast("double"), 9).as("rbo"))
  }
}
