package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.FixedPoint

/** The reference's entire analytical surface (SURVEY §2.3 A1–A7),
  * generalized from whole-table scalars to keyed, distributed form.
  *
  * Reference semantics re-expressed Spark-first:
  *  - A1 COUNT(*)            (reference: resources.py:29, main.py:61)
  *  - A2 top-k by timestamp  (reference: resources.py:31-32)
  *  - A3 filtered MAX        (reference: resources.py:58-62)
  *  - A4 filtered MIN        (reference: resources.py:63-67)
  *  - A7 equality predicate  (reference: resources.py:60,66)
  *
  * Scale design:
  *  - Aggregations are two-phase (partial map-side combine, then final) —
  *    `HashAggregateExec` shuffles only one row per (partition, group), so
  *    a 100 TB scan reduces to KB-scale shuffle for low-cardinality keys.
  *  - Top-k compiles to `TakeOrderedAndProject`: each partition keeps a
  *    k-row heap; no global sort, no full shuffle.
  *  - Equality / range predicates land in `PushedFilters` of the parquet
  *    scan (verified via `.explain`) — row groups whose min/max statistics
  *    exclude the predicate are never read.
  *
  * Determinism for the DuckDB oracle: floating sums are order-dependent
  * in any distributed engine, so hash-compared aggregates go through
  * [[exactSum]] — an exact DECIMAL sum cast back to DOUBLE — which is
  * partition-order-invariant and matches DuckDB bit-for-bit.
  */
object Analytics {

  /** Order-invariant sum of a double column: exact decimal accumulation,
    * one deterministic rounding per input row at `scale`, final cast back
    * to double. Bit-identical to `CAST(sum(CAST(x AS DECIMAL(p,s))) AS
    * DOUBLE)`, computed by the fixed-point kernel
    * [[graft.functions.FixedPointSum]].
    */
  def exactSum(c: Column, precision: Int = 30, scale: Int = 4): Column =
    FixedPoint.exactSum(c, precision, scale)

  /** Order-invariant mean: exact decimal sum, double division by count. */
  def exactAvg(c: Column, precision: Int = 30, scale: Int = 4): Column =
    exactSum(c, precision, scale) / count(lit(1))

  /** A1 generalized — total row count (reference: resources.py:29). */
  def countAll(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(count(lit(1)).as("n_rows"))

  /** A2 — top-k most recent rows (reference: resources.py:31-32,
    * `ORDER BY created_at DESC LIMIT 5`). Deterministic tiebreak on the
    * key column so the result is stable under any partitioning.
    * Physical plan: TakeOrderedAndProject (per-partition k-heaps), not a
    * global sort — O(n) scan + O(k) shuffle regardless of table size.
    */
  def topKRecent(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    Tables.events(spark, dir)
      .orderBy(desc("ts"), asc("event_id"))
      .limit(k)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** A3 generalized — MAX per key instead of per hard-coded symbol
    * (reference: resources.py:58-62 computes one symbol per call; the
    * keyed form is one shuffle for ALL keys at once).
    */
  def groupedMax(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(max(col("value")).as("max_value"))
      .orderBy(col("event_type"))

  /** A4 generalized — MIN per key (reference: resources.py:63-67). */
  def groupedMin(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("min_value"))
      .orderBy(col("event_type"))

  /** A3+A4+A1 fused — the reference's per-partition "analysis" job
    * (reference: resources.py:55-76) runs two full-table scans per key;
    * here one scan + one partial-agg shuffle yields min, max AND count
    * for every key. This is the exact shape the reactive pipeline
    * (graft.streaming.ReactiveMetaPipeline) materializes incrementally.
    */
  def minMaxMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** A7 — equality predicate, pushed to the parquet scan
    * (reference: resources.py:60,66 `Ticker.symbol == ticker`).
    * `.explain` shows `PushedFilters: [IsNotNull(event_type),
    * EqualTo(event_type,purchase)]`.
    */
  def filterEq(spark: SparkSession, dir: String,
               eventType: String = "purchase"): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === lit(eventType))
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  /** Flagship query (SURVEY §7.2): TPC-H-Q1-shaped pricing summary —
    * the reference's whole surface (filter + grouped min/max/count,
    * A1+A3+A4+A7) plus sum/avg, in one scan and one shuffle.
    * At 100 TB: 4 groups out, partial aggregation makes the shuffle
    * negligible; the `l_shipdate <=` predicate is pushed to parquet
    * row-group pruning.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        exactSum(col("l_quantity"), 30, 2).as("sum_qty"),
        exactSum(col("l_extendedprice"), 30, 2).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 30, 6)
          .as("sum_disc_price"),
        exactAvg(col("l_quantity"), 30, 2).as("avg_qty"),
        exactAvg(col("l_discount"), 30, 2).as("avg_disc"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
}
