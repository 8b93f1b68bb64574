package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Analytics.{exactSum, exactAvg}

/** Relational operators beyond the reference's surface (the reference has
  * NO joins, group-bys, windows or set ops — SURVEY §2 preamble; these are
  * north-star capabilities a complete engine needs at 100 TB).
  *
  * Join-strategy policy (the part that matters at scale):
  *  - dimension tables (region/nation/supplier/customer/part) are
  *    explicitly `broadcast()` — a 100 TB fact table never shuffles for a
  *    MB-scale dim; each executor probes a local hash map.
  *  - fact-to-fact joins (lineitem ⋈ orders) shuffle on the join key and
  *    sort-merge; AQE re-plans skewed partitions at runtime.
  *  - semi/anti joins use `left_semi`/`left_anti` so the probe side never
  *    materializes matched rows (EXISTS / NOT EXISTS without a distinct).
  */
object Relational {

  /** Broadcast-hash join: orders ⋈ customer (dim). Revenue per market
    * segment. customer is tiny relative to orders at any SF → broadcast
    * eliminates the shuffle of the big side entirely.
    */
  def revenueBySegment(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        exactSum(col("o_totalprice"), 30, 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** Shuffle (sort-merge) join of the two fact tables: top revenue
    * orders (TPC-H Q3-shaped). Both sides are large at scale, so Spark
    * shuffles on the key; AQE converts to broadcast if the filtered side
    * turns out small at runtime.
    */
  def topRevenueOrders(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 30, 6)
        .as("revenue"))
      .select(col("o_orderkey"), col("revenue"))
      .orderBy(desc("revenue"), asc("o_orderkey"))
      .limit(k)
  }

  /** Multi-way join with a broadcast dim chain (TPC-H Q5-shaped):
    * revenue per nation. The dim chain nation⋈region collapses to
    * broadcasts; only lineitem⋈orders⋈customer shuffle on keys.
    */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val s  = Tables.supplier(spark, dir)
    val n  = Tables.nation(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(s), li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 30, 6)
        .as("revenue"))
      .orderBy(col("n_name"))
  }

  /** Left-semi join — customers WITH at least one big order (EXISTS).
    * Semi join short-circuits on first match: no row multiplication,
    * no distinct needed. The price predicate is pushed into the probe
    * side's parquet scan before the join.
    */
  def customersWithBigOrders(spark: SparkSession, dir: String,
                             threshold: Double = 400000.0): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > threshold)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join — customers WITHOUT any big order (NOT EXISTS). */
  def customersWithoutBigOrders(spark: SparkSession, dir: String,
                                threshold: Double = 400000.0): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > threshold)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-outer join + aggregation — order count per customer including
    * zero-order customers (the null-extension case anti-join drops).
    */
  def orderCountPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))
  }

  /** Window ranking — top-3 orders per customer by price.
    * One shuffle on the partition key; rank computed per-partition with
    * no driver involvement. Deterministic tiebreak on o_orderkey.
    */
  def topOrdersPerCustomer(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Running (cumulative) sum per customer over order time — frame-bounded
    * window aggregate, the canonical time-series pattern.
    */
  def runningRevenue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("running_total",
        sum(col("o_totalprice").cast("decimal(30,2)")).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Set operations — distinct union of nation keys appearing on either
    * side (UNION = union-all + hash-distinct in both engines).
    */
  def unionNationKeys(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").cast("int").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").cast("int").as("nationkey"))
    c.union(s).distinct().orderBy(col("nationkey"))
  }

  /** INTERSECT — nation keys present on BOTH sides (plans as a
    * left-semi join after distinct).
    */
  def intersectNationKeys(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").cast("int").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").cast("int").as("nationkey"))
    c.intersect(s).orderBy(col("nationkey"))
  }

  /** EXCEPT — customer nations with no supplier (left-anti after
    * distinct).
    */
  def exceptNationKeys(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").cast("int").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").cast("int").as("nationkey"))
    c.except(s).orderBy(col("nationkey"))
  }

  /** Correlated scalar subquery, through the SQL facade — Catalyst
    * decorrelates it into an aggregate + outer join; per-row
    * re-execution (the naive reading) never happens.
    */
  def correlatedMaxOrder(spark: SparkSession, dir: String): DataFrame =
    graft.GraftSql.sql(spark, dir,
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_price
        |FROM customer ORDER BY c_custkey""".stripMargin)

  /** lead/lag/ntile — inter-row navigation within a window (gap
    * analysis between consecutive orders per customer).
    */
  def orderGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"),
        ntile(4).over(w).as("quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** String scalar surface — concat/pad/replace/slice built-ins with
    * exact DuckDB equivalents.
    */
  def stringFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        lpad(col("p_brand"), 12, "_").as("brand_padded"),
        regexp_replace(col("p_type"), " ", "-").as("type_dashed"),
        reverse(col("p_brand")).as("brand_rev"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        length(col("p_name")).cast("int").as("name_len"),
        lower(col("p_type")).as("type_lc"))
      .orderBy(col("p_partkey"))

  /** Histogram via width_bucket — the one-pass distributed histogram
    * (each row maps to a bucket, then a groups-sized aggregation).
    */
  def priceHistogram(spark: SparkSession, dir: String,
                     buckets: Int = 10): DataFrame =
    Tables.orders(spark, dir)
      .select(width_bucket(col("o_totalprice"), lit(0.0), lit(600000.0), lit(buckets))
        .cast("int").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** Theta (range) join: classify events into value tiers by interval
    * containment — a non-equi join Spark plans as a broadcast
    * nested-loop against the tiny tier table (the only sane physical
    * strategy for interval predicates without an interval index).
    */
  val ValueTiers: Seq[(String, Double, Double)] = Seq(
    ("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e9))
  def eventValueTiers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tiers = ValueTiers.toDF("tier", "lo", "hi")
    Tables.events(spark, dir)
      .join(broadcast(tiers),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"),
        Analytics.exactSum(col("value"), 30, 2).as("sum_value"))
      .orderBy(col("tier"))
  }

  /** Gated ij1: BIN-BUCKETED INTERVAL JOIN — "clicks within ±60 s of
    * each purchase", the proximity join behind attribution, fraud
    * co-occurrence and sensor alignment. A naive time-window
    * inequality join plans as a broadcast nested loop (quadratic, and
    * one side must fit in memory); this form instead BUCKETS time
    * into window-width bins, EXPLODES each probe interval into the
    * 2–3 bins it can overlap, and equi-joins on the bin key before a
    * cheap residual |Δt| ≤ W filter. Each click lives in exactly one
    * bin, so every qualifying pair is produced exactly once — no
    * dedup pass. Shuffle is linear in events, the bin key spreads
    * uniformly, and W tunes the bucket fan-out: the standard way to
    * make interval joins scale on a hash engine.
    *
    * Times compare as integer MICROS on both sides (the oracle
    * truncates identically): the source timestamps carry nanos, and
    * mixed-precision boundary comparisons would diverge at the window
    * edge.
    */
  def intervalCountJoin(spark: SparkSession, dir: String,
                        windowSec: Long = 60): DataFrame = {
    val W = windowSec * 1000000L
    val e = Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("pus"))
    val c = e.filter(col("event_type") === "click")
      .select(unix_micros(col("ts")).as("cus"))
      .withColumn("bin", floor(col("cus") / W))
    val pBins = p.withColumn("bin",
      explode(sequence(floor((col("pus") - W) / W), floor((col("pus") + W) / W))))
    // Renamed join key: counts shares p's lineage, and a using-join on
    // the same attribute id makes the analyzer log a "trivially true
    // equals predicate" warning on every run — noise that would bury a
    // real self-join bug elsewhere. A distinct name keeps it clean.
    val counts = pBins.join(c, "bin")
      .filter(abs(col("cus") - col("pus")) <= W)
      .groupBy(col("event_id").as("p_event_id"))
      .agg(count(lit(1)).as("n_nearby"))
    p.select(col("event_id"))
      .join(counts, col("event_id") === col("p_event_id"), "left")
      .select(col("event_id"), coalesce(col("n_nearby"), lit(0L)).as("n_nearby"))
      .orderBy(col("event_id"))
  }

  /** Compound predicate surface: IN-list, OR, range, LIKE — all still
    * pushdown-eligible (In, Or, StringContains reach the scan).
    */
  def compoundFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter((col("event_type").isin("click", "view") || col("value") > 150.0)
        && !col("props").like("%\"k\": 4%"))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  /** Explicit GROUPING SETS with grouping_id — partial-rollup shapes
    * rollup/cube can't express (per-flag and per-status subtotals plus
    * grand total, but NOT the full cross product). Via the SQL facade.
    */
  def groupingSets(spark: SparkSession, dir: String): DataFrame =
    graft.GraftSql.sql(spark, dir,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)

  /** RANGE window frame (value-based, not row-based): for each order,
    * the exact-decimal sum of same-customer orders priced within
    * 10 000 below it — deterministic under ties BECAUSE the frame is
    * value-defined, where a ROWS frame would be tie-order-sensitive.
    */
  def rangeFrameSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"))
      .rangeBetween(-10000L, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("nearby_sum",
        sum(col("o_totalprice").cast("decimal(30,2)")).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("nearby_sum"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Date/time scalar surface — truncation, extraction, arithmetic
    * (kept to functions with exact DuckDB equivalents).
    */
  def dateFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        date_add(to_date(col("o_orderdate")), 30).as("due_date"),
        datediff(lit("1999-01-01").cast("date"), to_date(col("o_orderdate")))
          .as("days_to_ref"),
        dayofweek(col("o_orderdate")).as("dow"),
        quarter(col("o_orderdate")).as("qtr"),
        last_day(col("o_orderdate")).as("month_end"))
      .orderBy(col("o_orderkey"))

  /** Grouping sets via ROLLUP — subtotals per (returnflag, linestatus),
    * per returnflag, and grand total, in ONE pass (Expand + single
    * aggregation), not three scans.
    */
  def rollupSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(exactSum(col("l_quantity"), 30, 2).as("sum_qty"),
           count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** HAVING with a scalar subquery — brands whose average retail price
    * exceeds the GLOBAL average. Relative threshold stays selective at
    * every scale factor; the global average is a 1-row broadcast, not a
    * driver round-trip.
    */
  def brandsAboveAvgPrice(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val globalAvg = p.agg(exactAvg(col("p_retailprice"), 30, 2).as("global_avg"))
    p.groupBy(col("p_brand"))
      .agg(exactAvg(col("p_retailprice"), 30, 2).as("avg_price"),
           count(lit(1)).as("n_parts"))
      .join(broadcast(globalAvg))
      .filter(col("avg_price") > col("global_avg"))
      .select(col("p_brand"), col("avg_price"), col("n_parts"))
      .orderBy(col("p_brand"))
  }

  /** Scalar subquery — orders above the global average price. The
    * single-row aggregate becomes a broadcast value, not a driver
    * round-trip in SQL form; here a cross-joined 1-row DF keeps the
    * whole plan lazy and distributed.
    */
  def ordersAboveAvg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val avgDf = o.agg(exactAvg(col("o_totalprice"), 30, 2).as("global_avg"))
    o.join(broadcast(avgDf))
      .filter(col("o_totalprice") > col("global_avg"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Scalar-expression surface — string/date/math/conditional built-ins
    * (all codegen'd, no UDFs): the engine's scalar-function catalogue is
    * Spark's `functions._`, demonstrated on part + orders.
    */
  def scalarExpressions(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
        upper(col("o_orderpriority")).as("priority_uc"),
        substring(col("o_orderstatus"), 1, 1).as("status_c"),
        when(col("o_totalprice") > 1000, lit("big"))
          .otherwise(lit("small")).as("size_class"),
        round(col("o_totalprice") * lit(1.07), 2).as("price_with_tax"),
        length(col("o_orderpriority")).as("prio_len"))
      .orderBy(col("o_orderkey"))

  /** Exact distinct count per group (countDistinct shuffles expand-style;
    * [[approxDistinctUsers]] is the sketch-based scale path).
    */
  def distinctUsersPerType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  /** As-of join (time-series point-in-time lookup): for each purchase
    * event, the user's most recent prior-or-simultaneous click.
    *
    * Spark lacks a native ASOF JOIN; the scalable composition is the
    * union + windowed last_value trick: tag both streams, sort once per
    * user, and carry the latest click id forward. ONE shuffle on
    * user_id total — versus a naive range join's quadratic per-user
    * blowup. (Preference order (a) from the build rules: composition
    * expresses the semantics exactly, so no custom SparkPlan needed.)
    */
  def asofPurchaseClick(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    // Pre-aggregate clicks to ONE row per (user_id, ts): DuckDB's ASOF
    // JOIN picks an unspecified row when several clicks share the
    // latest ts <= purchase ts, so exact-ts ties would be a latent
    // oracle mismatch. max(event_id) makes the tiebreak explicit and
    // identical on both engines (the oracle mirrors the group-by).
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("cid"))
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        col("cid").as("click_id"), lit(null).cast("long").as("event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        lit(null).cast("long").as("click_id"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("ts"), asc("kind"), asc_nulls_first("click_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.union(purchases)
      .withColumn("last_click", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("last_click").as("click_id"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of join (gate aj2): for each click, the user's NEXT
    * purchase at ts ≥ click ts — the attribution-window twin of
    * [[asofPurchaseClick]], same union + window composition with the
    * frame reversed ([current, ∞) + first ignoreNulls instead of
    * (−∞, current] + last). Purchases pre-aggregate per (user, ts)
    * with an explicit max-id tiebreak so exact-ts ties match the
    * oracle's ASOF row choice. Still ONE shuffle on user_id.
    */
  def asofNextPurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("pid"))
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        col("pid").as("purchase_id"), lit(null).cast("long").as("event_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        lit(null).cast("long").as("purchase_id"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("ts"), asc("kind"), asc_nulls_first("purchase_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    clicks.union(purchases)
      .withColumn("next_purchase", first(col("purchase_id"), ignoreNulls = true).over(w))
      .filter(col("kind") === 0)
      .select(col("event_id"), col("user_id"), col("next_purchase").as("purchase_id"))
      .orderBy(col("event_id"))
  }

  /** Pivot — per-user value totals spread across event-type columns.
    * Pivot values are given explicitly: at scale, letting Spark infer
    * them costs an extra distinct-collect job before planning.
    */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  def pivotUserTypeTotals(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(exactSum(col("value"), 30, 2))
      .na.fill(0.0, EventTypes)
      .orderBy(col("user_id"))

  /** CUBE — all grouping-set combinations of (returnflag, linestatus)
    * in one Expand pass.
    */
  def cubeSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Semi-structured extraction: JSON path over the events props
    * payload (schema-on-read for the dynamic part of the schema).
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k_val"))
      .orderBy(col("event_id"))

  /** Typed JSON parsing (e3): `from_json` with a declared schema —
    * the structured counterpart of [[jsonExtract]]'s stringly path
    * probe; parse once into a struct, then project typed fields.
    */
  def jsonTyped(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("p"))
      .select(col("event_id"), col("p.k").as("k_int"))
      .orderBy(col("event_id"))

  /** Gated vnt1: the Spark 4 VARIANT path over semi-structured props —
    * `parse_json` → binary variant → typed `variant_get` extraction,
    * the open-ended-schema ingestion route (vs e3's from_json, which
    * needs the schema up front). At scale VARIANT's shredded binary
    * representation keeps extraction columnar; the gate aggregates the
    * extracted field so the oracle sees values, not encoding. `div`
    * (not `/`) for the bucket: floor-free integer division matches
    * DuckDB `//` on the non-negative domain.
    */
  def variantExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("k"))
      .groupBy(col("event_type"), expr("k div 25").as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .orderBy(col("event_type"), col("k_bucket"))

  /** Gated q19: TPC-H Q19's plan shape — a DISJUNCTION of
    * per-branch conjunctions spanning both join sides. The part-side
    * predicates (brand, size) are pushed to the dim scan as
    * `(brand1 AND size-range) OR (brand3 AND size-range)`, the
    * lineitem-side quantity bounds prune the fact scan to the union
    * of branch ranges, and the residual disjunction evaluates on the
    * broadcast-joined row — revenue accumulates in DECIMAL(30,6).
    */
  def disjunctivePredicateRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val branch1 = col("p_brand") === "Brand#1" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
    val branch2 = col("p_brand") === "Brand#3" &&
      col("p_size").between(10, 30) && col("l_quantity").between(15, 40)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(branch1 || branch2)
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,6)")).cast("double").as("revenue"))
  }

  /** Gated q13: TPC-H Q13's shape — the two-level aggregation with a
    * CONDITION INSIDE THE OUTER JOIN (customers joined only to their
    * non-urgent orders, zero-order customers kept): per-customer order
    * counts, then the distribution of those counts. The join predicate
    * must ride the join (filtering afterwards would drop the zero
    * groups); count(o_orderkey) counts non-null matches only. Both
    * aggregations are map-side combinable; the second one runs over
    * |customers| rows collapsing to a few dozen buckets.
    */
  def orderCountDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "1-URGENT", "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))

  /** Gated q22: TPC-H Q22's shape — a global scalar threshold feeding
    * an anti join: customers with above-average balance who never
    * placed a big-ticket order (the "idle rich" audit). The average
    * is the exactAvg discipline (DECIMAL sum → one double division)
    * so the threshold comparison is bit-identical cross-engine; the
    * 1-row threshold frame broadcasts into the filter, and NOT EXISTS
    * becomes a broadcast-able left anti join on the pruned big-order
    * key set.
    */
  def idleRichCustomers(spark: SparkSession, dir: String,
                        bigOrder: Double = 300000.0): DataFrame = {
    val c = Tables.customer(spark, dir)
    val ab = c.filter(col("c_acctbal") > 0.0)
      .agg(exactAvg(col("c_acctbal"), 30, 2).as("ab"))
    val bigOrders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > bigOrder)
      .select(col("o_custkey"))
    c.crossJoin(broadcast(ab))
      .filter(col("c_acctbal") > col("ab"))
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("int").as("cntry"))
      .agg(count(lit(1)).as("numcust"),
        exactSum(col("c_acctbal"), 30, 2).as("totacctbal"))
      .orderBy(col("cntry"))
  }

  /** Exact interpolated quantiles (percentile). At 100 TB you would
    * reach for approx_percentile; the exact form is the oracle-checked
    * semantics anchor.
    */
  def priceQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"))

  /** Approximate quantiles via the Greenwald-Khanna sketch
    * (approx_percentile) — mergeable, bounded-memory, the 100 TB path
    * where exact percentile's full sort-collect is impossible. Sketch
    * VALUES are engine-specific, but the sketch's rank-error CONTRACT
    * is not: approx_percentile(x, p, acc) must return a data value
    * whose rank is within n/acc of p·n. The gate emits that contract
    * as booleans — rank(approx_p) ∈ [(p−2/acc)·n, (p+2/acc)·n]
    * (rank measured below-or-equal; factor 2 covers ties straddling
    * the band edge) — which the oracle states as TRUE, making the
    * sketch hash-CHECKED without demanding cross-engine bit equality.
    * Cost: the sketch pass plus one filtered-count pass; the three
    * approx scalars ride the driver as the control plane.
    */
  def approxPriceQuantiles(spark: SparkSession, dir: String,
                           accuracy: Int = 10000): DataFrame = {
    val o = Tables.orders(spark, dir)
    val a = o.agg(
        expr(s"approx_percentile(o_totalprice, 0.5, $accuracy)").as("a50"),
        expr(s"approx_percentile(o_totalprice, 0.9, $accuracy)").as("a90"),
        expr(s"approx_percentile(o_totalprice, 0.99, $accuracy)").as("a99"))
      .collect()(0)
    val (a50, a90, a99) = (a.getDouble(0), a.getDouble(1), a.getDouble(2))
    // The element's rank is the interval [count(<v)+1, count(<=v)]
    // (ties widen it); the contract holds iff that interval intersects
    // the allowed band — stated as two one-sided counts so ties can
    // never produce a false failure.
    def le(v: Double) = sum(when(col("o_totalprice") <= lit(v), 1L).otherwise(0L))
    def lt(v: Double) = sum(when(col("o_totalprice") < lit(v), 1L).otherwise(0L))
    def inBand(rLe: Column, rLt: Column, n: Column, p: Double) =
      rLe >= (lit(p) - lit(2.0 / accuracy)) * n &&
        (rLt + lit(1L)) <= (lit(p) + lit(2.0 / accuracy)) * n
    o.agg(count(lit(1)).as("n"),
          le(a50).as("le50"), lt(a50).as("lt50"),
          le(a90).as("le90"), lt(a90).as("lt90"),
          le(a99).as("le99"), lt(a99).as("lt99"))
      .select(col("n"),
        inBand(col("le50"), col("lt50"), col("n"), 0.5).as("p50_in_bound"),
        inBand(col("le90"), col("lt90"), col("n"), 0.9).as("p90_in_bound"),
        inBand(col("le99"), col("lt99"), col("n"), 0.99).as("p99_in_bound"))
  }

  /** HyperLogLog++ distinct count — constant memory per group vs
    * countDistinct's expand-shuffle; the only viable distinct-count at
    * 100 TB cardinalities. The HLL++ estimate itself is
    * engine-specific, but its relative-error contract is not: the gate
    * emits the exact count (which the oracle can state) plus the
    * |approx − exact| ≤ 5·rsd·exact readout as a boolean the oracle
    * states as TRUE — the sketch is hash-CHECKED against its published
    * bound instead of unverifiable. Production callers read only the
    * sketch column; the exact count here is the gate's measuring stick
    * (and at gate scale rides the same single aggregation pass).
    */
  def approxDistinctUsers(spark: SparkSession, dir: String,
                          rsd: Double = 0.02): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx"),
           countDistinct(col("user_id")).as("n_users_exact"))
      .select(col("event_type"), col("n_users_exact"),
        (abs(col("approx") - col("n_users_exact"))
          <= greatest(lit(2.0), lit(5 * rsd) * col("n_users_exact")))
          .as("within_bound"))
      .orderBy(col("event_type"))

  /** Month-over-month revenue growth (w6): aggregate to months, then
    * lag + ratio over the month series — the windowed input is already
    * one row per month, so the window stage is trivially small however
    * large the fact table is.
    */
  def momRevenueGrowth(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(trunc(col("o_orderdate"), "month").as("month"))
      .agg(Analytics.exactSum(col("o_totalprice"), 30, 2).as("revenue"))
    val w = Window.partitionBy(Ranks.boundedOnePartition(col("month")))
      .orderBy(col("month"))
    monthly
      .select(col("month"), col("revenue"),
        lag(col("revenue"), 1).over(w).as("prev_revenue"))
      .withColumn("growth",
        round((col("revenue") - col("prev_revenue")) / col("prev_revenue"), 6))
      .orderBy(col("month"))
  }

  /** Exact Pearson correlation (x9) via DECIMAL power sums — same
    * order-invariance rationale as [[priceMoments]]: Spark's `corr`
    * accumulates co-moments in doubles whose value depends on
    * partition order; the five-sum formulation is exact, mergeable,
    * and mirrored verbatim by the oracle.
    */
  def quantityPriceCorr(spark: SparkSession, dir: String): DataFrame = {
    val xDec = col("l_quantity").cast("decimal(30,2)")
    val yDec = col("l_extendedprice").cast("decimal(30,2)")
    Tables.lineitem(spark, dir)
      .agg(count(lit(1)).as("n"),
        sum(xDec).cast("double").as("sx"),
        sum(yDec).cast("double").as("sy"),
        sum(xDec * xDec).cast("double").as("sxx"),
        sum(yDec * yDec).cast("double").as("syy"),
        sum(xDec * yDec).cast("double").as("sxy"))
      .select(col("n"),
        round((col("sxy") - col("sx") * col("sy") / col("n"))
          / (sqrt(col("sxx") - col("sx") * col("sx") / col("n"))
            * sqrt(col("syy") - col("sy") * col("sy") / col("n"))), 6)
          .as("corr_qty_price"))
  }

  /** Gated aj3: the aj1 as-of join through the NATIVE
    * [[graft.plans.AsofJoinExec]] operator (custom LogicalPlan +
    * Strategy + physical merge with distribution/ordering
    * requirements) instead of the union+window formulation — same
    * semantics, O(1) merge state per partition, one exchange + sort
    * per side. Times ride as integer micros (LongType contract).
    */
  def asofNativePurchaseClick(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), unix_micros(col("ts")).as("cts"),
        col("event_id").as("cid"))
    graft.plans.AsofJoinOps.asofBackward(
        purchases, clicks,
        Seq("user_id"), Seq("cu"), "pts", "cts", "cid")
      .select(col("event_id"), col("user_id"), col("cid").as("click_id"))
      .orderBy(col("event_id"))
  }

  /** Gated aj4: forward variant of [[asofNativePurchaseClick]] — each
    * click joined to its NEXT purchase through the native operator's
    * successor mode (tie sorted descending so the greatest id wins at
    * equal times, mirroring the aj2 oracle's pre-aggregation).
    */
  def asofNativeNextPurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("cts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), unix_micros(col("ts")).as("pts"),
        col("event_id").as("pid"))
    graft.plans.AsofJoinOps.asofForward(
        clicks, purchases,
        Seq("user_id"), Seq("pu"), "cts", "pts", "pid")
      .select(col("event_id"), col("user_id"), col("pid").as("purchase_id"))
      .orderBy(col("event_id"))
  }

  /** Gated nrm1: FEATURE SCALER table — per-column min/max/mean/std
    * from one pass of DECIMAL power sums; the fit() artifact of
    * min-max and z-score normalization that a feature pipeline
    * computes once and broadcasts to every scoring job.
    */
  def featureScalers(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    def dec(c: String): Column = col(c).cast("decimal(30,2)")
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        sum(dec(c)).cast("double").as(s"sx_$c"),
        sum(dec(c) * dec(c)).cast("double").as(s"sxx_$c"))
    }
    val g = Tables.lineitem(spark, dir).agg(count(lit(1)).as("n"), aggs: _*)
    val rows = cols.map { c =>
      val mean = col(s"sx_$c") / col("n")
      struct(lit(c).as("feature"),
        round(col(s"min_$c"), 6).as("vmin"),
        round(col(s"max_$c"), 6).as("vmax"),
        round(mean, 6).as("mean"),
        round(sqrt((col(s"sxx_$c") - col(s"sx_$c") * col(s"sx_$c") / col("n"))
          / col("n")), 6).as("std"))
    }
    g.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
      .orderBy(col("feature"))
  }

  /** Gated cs1: CHI-SQUARE independence test cells — the contingency
    * analysis behind "does event mix differ by cohort" questions.
    * Observed counts are exact integers; expected counts and χ²
    * terms are deterministic double ratios (the spec sums the terms
    * and checks the statistic against the independence threshold).
    * One count aggregation + two marginal reductions.
    */
  def chiSquareIndependence(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.events(spark, dir)
      .groupBy(col("event_type"), (col("user_id") % 2).as("cohort"))
      .agg(count(lit(1)).as("obs"))
    val rt = o.groupBy(col("event_type")).agg(sum(col("obs")).as("rtot"))
    val ct = o.groupBy(col("cohort")).agg(sum(col("obs")).as("ctot"))
    val n = o.agg(sum(col("obs"))).head.getLong(0) // control-plane scalar
    o.join(rt, "event_type").join(ct, "cohort")
      .select(col("event_type"), col("cohort"), col("obs"),
        (col("rtot").cast("double") * col("ctot") / lit(n.toDouble)).as("exp"))
      .select(col("event_type"), col("cohort"), col("obs"),
        round(col("exp"), 6).as("expected"),
        round((col("obs") - col("exp")) * (col("obs") - col("exp"))
          / col("exp"), 6).as("chi2_term"))
      .orderBy(col("event_type"), col("cohort"))
  }

  /** Gated cs2: CRAMÉR'S V — the EFFECT SIZE for contingency
    * association (cs1 gives the test statistic; V = √(χ²/(n·min(r−1,
    * c−1))) says whether the dependence is big enough to matter, on a
    * 0..1 scale comparable across tables). Built on a 5×5 event-type ×
    * cohort table: one corpus aggregation to cells, marginals folded
    * from cells, per-cell χ² terms quantized to 9 dp and summed as
    * DECIMAL (order-invariant), the final √ in pinned double order.
    */
  def cramersV(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.events(spark, dir)
      .groupBy(col("event_type"), (col("user_id") % 5).as("cohort"))
      .agg(count(lit(1)).as("obs"))
      .persist()
    val rt = o.groupBy(col("event_type")).agg(sum(col("obs")).as("rtot"))
    val ct = o.groupBy(col("cohort")).agg(sum(col("obs")).as("ctot"))
    val tot = o.agg(sum(col("obs")).cast("bigint"),
      count_distinct(col("event_type")), count_distinct(col("cohort"))).head()
    val (n, r, c) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val terms = o.join(rt, "event_type").join(ct, "cohort")
      .select((col("rtot").cast("double") * col("ctot") / lit(n.toDouble))
        .as("exp"), col("obs"))
      .select(round((col("obs") - col("exp")) * (col("obs") - col("exp"))
        / col("exp"), 9).cast("decimal(28,9)").as("term"))
    val out = terms.agg(sum(col("term")).as("chi2d"))
      .select(lit(n).as("n_rows"), lit(r).as("r_levels"),
        lit(c).as("c_levels"),
        round(col("chi2d").cast("double"), 6).as("chi2"),
        round(sqrt(col("chi2d").cast("double")
          / (lit(n.toDouble) * math.min(r - 1, c - 1))), 9).as("cramers_v"))
    val rows = out.collect()
    o.unpersist()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Gated mi1: mutual information + marginal entropies between two
    * categorical columns (event_type × user cohort) — the dependence
    * measure feature-selection and drift pipelines use where
    * chi-square ([[chiSquareIndependence]]) gives a test statistic.
    * One shuffle builds the joint contingency table; marginals fold
    * from the CELLS (≤ |X|·|Y| rows), never from the raw data, so the
    * raw table is scanned exactly once no matter its size. The
    * ln-terms are summed through DECIMAL(38,18) for an
    * order-invariant total (Σ over cells would otherwise depend on
    * task scheduling); only the single total-count scalar crosses the
    * control plane.
    */
  def mutualInformation(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(col("event_type").as("x"), (col("user_id") % 4).as("y"))
      .agg(count(lit(1)).as("nxy"))
    cells.persist()
    try {
      val mx = cells.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
      val my = cells.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
      val n = cells.agg(sum(col("nxy"))).head.getLong(0) // control-plane scalar
      def decSum(c: Column): Column = sum(c.cast("decimal(38,18)")).cast("double")
      val mi = cells.join(broadcast(mx), "x").join(broadcast(my), "y")
        .select(((col("nxy").cast("double") / n)
          * log(col("nxy").cast("double") * n
            / (col("nx").cast("double") * col("ny")))).as("mi_t"))
        .agg(round(decSum(col("mi_t")), 6).as("mi_nats"))
      val hx = mx.select((negate(col("nx").cast("double") / n)
          * log(col("nx").cast("double") / n)).as("t"))
        .agg(round(decSum(col("t")), 6).as("h_x"))
      val hy = my.select((negate(col("ny").cast("double") / n)
          * log(col("ny").cast("double") / n)).as("t"))
        .agg(round(decSum(col("t")), 6).as("h_y"))
      val out = mi.crossJoin(hx).crossJoin(hy) // three 1-row frames
        .select(lit(n).as("n"), col("mi_nats"), col("h_x"), col("h_y"))
      // Materialize the 1-row result so the cells cache can be
      // released here (pageRank's pattern) instead of leaking.
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally { cells.unpersist(); () }
  }

  /** Gated ols1: closed-form simple linear regression
    * (price ~ quantity) from the same one-pass DECIMAL power sums as
    * [[corrMatrix]] — the "fit a trend line at table scale" primitive;
    * model fitting cost = one scan, coefficients read off the
    * sufficient statistics.
    */
  def olsPriceOnQuantity(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(30,2)")
    val y = col("l_extendedprice").cast("decimal(30,2)")
    Tables.lineitem(spark, dir)
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"), sum(x * y).cast("double").as("sxy"))
      .select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx"))
          / col("n"), 6).as("intercept"))
  }

  /** Gated w9: per-group top-k through Spark's native
    * WindowGroupLimit optimization — the rank-filter pushdown that
    * prunes each partition to its local top-k BEFORE the window
    * shuffle (the optimization [[graft.plans.AsofJoinPlan]]'s design
    * notes reference; the spec asserts the node appears). At 100 TB
    * this is the difference between shuffling every order and
    * shuffling k rows per segment per map partition.
    */
  def topOrdersPerSegment(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("c_mktsegment"), col("rank"))
  }

  /** Truncate each basket to its `cap` SMALLEST partkeys — the hot-
    * basket guard for the per-basket self-joins below: pair cost is
    * Σ k²/2 and triple cost Σ k³/6 over basket sizes, so ONE
    * degenerate mega-basket (a crawler cart, a bulk EDI order) goes
    * quadratic/cubic in a single join task. The rank filter shuffles
    * on the basket key — the same key the self-join needs, so the
    * exchange is reused; candidate mass is O(baskets × cap²) by
    * construction after it. EXACTNESS CONTRACT: identical to uncapped
    * whenever every basket ≤ cap items (TPC-H baskets are ≤ 7, so the
    * gates' 64 never bites and stays hash-exact); past the cap,
    * baskets are truncated deterministically (smallest ids — distinct
    * per basket, no ties), spec-proven bounded on a planted hot
    * basket.
    */
  private def capBaskets(items: DataFrame, cap: Int): DataFrame = {
    require(cap >= 2, s"basketCap must be >= 2, got $cap")
    if (cap == Int.MaxValue) items
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey")).orderBy(col("l_partkey"))
      items.withColumn("_r", row_number().over(w))
        .filter(col("_r") <= cap).drop("_r")
    }
  }

  /** Per-basket ordered pairs `(o, pa, pb)` with pa < pb via ONE
    * groupBy + in-row expansion (round 14) — the same shape
    * [[graft.operators.Graph.copurchaseEdges]] adopted in round 11:
    * collect each basket's DISTINCT sorted items (the sort makes
    * pa < pb fall out of array order), truncate to the `cap` smallest
    * in-row (`slice` on the sorted array ≡ [[capBaskets]]' rank
    * filter, same exactness contract), and expand pairs WITHIN the
    * row. The former per-basket self-join sorted and merge-joined the
    * full item stream to produce the identical rows; pair mass is
    * unchanged (Σ min(k,cap)²/2), but it now materializes as a map
    * step over basket rows instead of an SMJ over the item frame.
    */
  private def basketPairs(items: DataFrame, cap: Int): DataFrame = {
    require(cap >= 2, s"basketCap must be >= 2, got $cap")
    items.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps0"))
      .select(col("l_orderkey").as("o"),
        (if (cap == Int.MaxValue) col("ps0") else slice(col("ps0"), 1, cap))
          .as("ps"))
      .select(col("o"), explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2),
            greatest(size(col("ps")) - i - 1, lit(0))),
          y => struct(x.as("pa"), y.as("pb")))))).as("e"))
      .select(col("o"), col("e.pa").as("pa"), col("e.pb").as("pb"))
  }

  /** Gated fi1: FREQUENT ITEM PAIRS (a-priori candidate pass) —
    * market-basket co-occurrence over order baskets. The pair
    * generator is a per-basket self-join, so its cost is Σ k²/2 over
    * basket sizes — bounded by [[capBaskets]]' `basketCap`, not by the
    * largest basket the corpus happens to contain (the property that
    * makes distributed a-priori survive adversarial carts). One
    * shuffle on the basket key (reused by the rank filter), one on
    * the pair key.
    */
  def frequentItemPairs(spark: SparkSession, dir: String,
                        minSupport: Long = 3): DataFrame =
    frequentItemPairsFrom(spark,
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct(),
      minSupport, basketCap = 64)

  /** [[frequentItemPairs]] over an explicit distinct
    * (l_orderkey, l_partkey) basket-item frame.
    */
  def frequentItemPairsFrom(spark: SparkSession, items: DataFrame,
                            minSupport: Long, basketCap: Int): DataFrame = {
    // In-row pair expansion ([[basketPairs]], round 14): one basket
    // groupBy replaces the per-basket self-join — identical pair rows,
    // no merge-join sort of the item frame.
    basketPairs(items, basketCap)
      .groupBy(col("pa").as("part_a"), col("pb").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(desc("support"), col("part_a"), col("part_b"))
  }

  /** Gated fi2: FREQUENT ITEM TRIPLES via the full A-PRIORI candidate
    * prune — basket pairs are counted first (the fi1 pass), then the
    * triple enumeration runs ONLY over basket pairs that are already
    * corpus-frequent, and assembled candidates (a,b,c) are kept only
    * when their third side (a,c) is frequent too. Downward closure
    * guarantees the pruned plan returns exactly the naive triple
    * count (which is what the oracle states) — the prune changes the
    * CANDIDATE MASS, not the answer, and that is the entire point at
    * scale: the naive per-basket triple expansion is Σ k³/6 rows
    * through a shuffle, the pruned one is bounded by coincidences of
    * already-frequent pairs (vanishingly sparser as the corpus
    * grows). Same discipline as the LSH band join: filter with a
    * cheap corpus-level structure before the combinatorial step.
    */
  def frequentItemTriples(spark: SparkSession, dir: String,
                          minSupport: Long = 2): DataFrame =
    frequentItemTriplesFrom(spark,
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct(),
      minSupport, basketCap = 64)

  /** [[frequentItemTriples]] over an explicit distinct
    * (l_orderkey, l_partkey) basket-item frame. `basketCap` bounds
    * the cubic enumeration at O(baskets × cap³) worst case BEFORE the
    * a-priori prune shrinks it further (see [[capBaskets]] for the
    * exactness contract).
    */
  def frequentItemTriplesFrom(spark: SparkSession, items: DataFrame,
                              minSupport: Long, basketCap: Int): DataFrame = {
    // Basket pairs via ONE groupBy + in-row expansion ([[basketPairs]],
    // round 14; was a per-basket self-join). p stays hash-partitioned
    // on the basket key end to end, which the assembly below reuses.
    val p = basketPairs(items, basketCap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // L2: corpus-frequent pairs — node-scale, reused twice. BROADCAST
    // to both prunes (the classic distributed-apriori shape: the
    // candidate set rides to the data): the semi-joins then preserve
    // p's basket partitioning, so the per-basket assembly below needs
    // NO further exchange of the pair frame. (The former pf ⋈ pf
    // assembly exchanged + sorted the pruned pair frame twice, on
    // (o, pb) and (o, pa).)
    val l2 = broadcast(p.groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minSupport)
      .select(col("pa"), col("pb")))
    // Apriori prune 1: keep only frequent pairs inside each basket.
    val pf = p.join(l2, Seq("pa", "pb"), "left_semi")
    // Triple assembly IN-ROW via the compiled two-pointer kernel
    // (round 15): collect each basket's surviving pairs sorted — the
    // same one-exchange-free groupBy as round 14 — and expand
    // (a,b)×(b,c) matches with ONE static-call expression
    // ([[graft.functions.TripleExpandExpr]]): binary-searched match
    // ranges over the lex-sorted pair array, O(m log m + output) per
    // basket with a single exact-size output allocation. The r14
    // shape matched pairs with a nested transform×filter over the
    // full array — O(m²) interpreted lambda evaluations and O(m)
    // intermediate arrays per basket, which the r14 driver record
    // degraded on (2.0 s at 8 cores vs 11.3 s at local[32]: 32
    // concurrent allocation-heavy tasks). Identical rows in identical
    // order; prune 2 on the closing side (a, c) is unchanged.
    val cand = pf
      .groupBy(col("o"))
      .agg(sort_array(collect_list(struct(col("pa"), col("pb")))).as("fp"))
      .select(explode(graft.functions.TripleExpandExpr
        .tripleExpand(col("fp"))).as("t"))
      .select(col("t.part_a").as("part_a"), col("t.part_b").as("part_b"),
        col("t.part_c").as("part_c"))
      .join(l2.select(col("pa").as("part_a"), col("pb").as("part_c")),
        Seq("part_a", "part_c"), "left_semi")
    val out = cand.groupBy(col("part_a"), col("part_b"), col("part_c"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(desc("support"), col("part_a"), col("part_b"), col("part_c"))
    val rows = out.collect() // frequent triples: corpus-sparse by construction
    p.unpersist()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Gated q7: TPC-H Q7-shaped BI-NATION TRADE VOLUME — revenue
    * shipped between a nation pair (either direction), by supplier
    * nation, customer nation, and ship year. The classic two-
    * dimension-table star with a disjunctive pair predicate: both
    * nation filters broadcast, the fact table shuffles once for the
    * final grouping, and the pair condition prunes suppliers/
    * customers BEFORE their fact joins (not after the multiply).
    */
  def nationTradeVolume(spark: SparkSession, dir: String,
                        nationA: String = "NATION_1",
                        nationB: String = "NATION_2"): DataFrame = {
    val n = Tables.nation(spark, dir)
      .filter(col("n_name") === nationA || col("n_name") === nationB)
      .select(col("n_nationkey"), col("n_name"))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val c = Tables.customer(spark, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(Analytics.exactSum(
        col("l_extendedprice") * (lit(1) - col("l_discount")), 30, 6)
        .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Gated q14: TPC-H Q14-shaped PROMO REVENUE SHARE by ship month —
    * a conditional-aggregation ratio (promo revenue / all revenue)
    * over the part-enriched fact table. The part dimension broadcasts;
    * numerator and denominator ride ONE aggregation as exact decimal
    * sums, so the share is a single fact-table pass however many
    * months report.
    */
  def promoRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))
    val dec = (c: Column) => c.cast(org.apache.spark.sql.types.DecimalType(30, 6))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM")
        .as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO",
          dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .otherwise(dec(lit(0)))).as("promo"),
        sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("total"))
      .select(col("ship_month"),
        round(lit(100.0) * col("promo").cast("double")
          / col("total").cast("double"), 6).as("promo_share"))
      .orderBy(col("ship_month"))
  }

  /** Gated cor1: full correlation MATRIX in one pass — all pairwise
    * Pearson correlations of four lineitem measures from a single
    * scan of DECIMAL-exact power sums (4 sums + 4 sums of squares +
    * 6 cross products in ONE map-side-combinable aggregate). The
    * feature-selection screen every model pipeline runs; at 100 TB
    * the cost is one scan regardless of how many pairs are read off
    * the sufficient statistics.
    */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val vars = Seq(
      "disc" -> col("l_discount"), "price" -> col("l_extendedprice"),
      "qty" -> col("l_quantity"), "tax" -> col("l_tax"))
    val pairs = for {
      i <- vars.indices; j <- vars.indices if i < j
    } yield (vars(i), vars(j))
    def dec(c: Column): Column = c.cast("decimal(30,2)")
    val aggs =
      vars.map { case (nm, c) => sum(dec(c)).cast("double").as(s"s_$nm") } ++
      vars.map { case (nm, c) =>
        sum(dec(c) * dec(c)).cast("double").as(s"ss_$nm") } ++
      pairs.map { case ((na, ca), (nb, cb)) =>
        sum(dec(ca) * dec(cb)).cast("double").as(s"sp_${na}_$nb") }
    val g = Tables.lineitem(spark, dir)
      .agg(count(lit(1)).as("n"), aggs: _*)
    val rows = pairs.map { case ((na, _), (nb, _)) =>
      struct(lit(na).as("var_x"), lit(nb).as("var_y"),
        round((col(s"sp_${na}_$nb") - col(s"s_$na") * col(s"s_$nb") / col("n"))
          / (sqrt(col(s"ss_$na") - col(s"s_$na") * col(s"s_$na") / col("n"))
            * sqrt(col(s"ss_$nb") - col(s"s_$nb") * col(s"s_$nb") / col("n"))),
          6).as("corr"))
    }
    g.select(explode(array(rows: _*)).as("r"))
      .select(col("r.var_x"), col("r.var_y"), col("r.corr"))
      .orderBy(col("var_x"), col("var_y"))
  }

  /** Bag-semantics set operations (set4/set5): INTERSECT ALL /
    * EXCEPT ALL keep duplicate multiplicity (min / difference of
    * per-value counts) — Spark plans both as aggregations over a
    * counted union, no row-by-row matching.
    */
  def intersectAllNationKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("int").as("nationkey"))
      .intersectAll(Tables.supplier(spark, dir)
        .select(col("s_nationkey").cast("int").as("nationkey")))
      .orderBy(col("nationkey"))

  def exceptAllNationKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("int").as("nationkey"))
      .exceptAll(Tables.supplier(spark, dir)
        .select(col("s_nationkey").cast("int").as("nationkey")))
      .orderBy(col("nationkey"))

  /** Null-safe equality join (j8): `<=>` matches null keys to null
    * keys (an equi-join Spark still hash-partitions — unlike a plain
    * `=` that would drop null rows, or an OR-isnull form that would
    * degrade to a nested loop). Null keys synthesized via nullif.
    */
  def nullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), nullif(col("event_type"), lit("error")).as("k"))
    val dim = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("click", 1L), org.apache.spark.sql.Row("view", 2L),
      org.apache.spark.sql.Row(null, 99L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k2",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.LongType))))
    e.join(broadcast(dim), col("k") <=> col("k2"))
      .groupBy(col("code"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("code"))
  }

  /** Array-function surface (f5): construct, sort, index, join, and
    * fold arrays — scalar outputs only, so the oracle hash-compares
    * plain columns (array cell encodings differ across engines).
    */
  def arrayFunctions(spark: SparkSession, dir: String): DataFrame = {
    val wordsArr = split(col("p_type"), " ")
    Tables.part(spark, dir)
      .select(col("p_partkey"), wordsArr.as("ws"))
      .select(col("p_partkey"),
        size(col("ws")).as("n_words"),
        array_join(sort_array(col("ws")), "-").as("sorted_join"),
        element_at(sort_array(col("ws")), 1).as("first_word"),
        aggregate(transform(col("ws"), x => length(x)), lit(0),
          (a, x) => a + x).as("total_len"))
      .orderBy(col("p_partkey"))
  }

  /** Conditional / null-handling scalar surface (f6). */
  def conditionals(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN"))
          .as("status_or_open"),
        when(col("o_totalprice") > 300000, "hi")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("lo").as("band"),
        least(col("o_totalprice"), lit(150000.0)).as("capped"),
        greatest(col("o_totalprice"), lit(1000.0)).as("floored"))
      .orderBy(col("o_orderkey"))

  /** Time-series resampling with gap fill (ts1): a dense hourly spine
    * (sequence over the observed range) cross-joined with the key
    * domain, left-joined against the sparse aggregates, zeros filled.
    * The spine and key domain are tiny (hours × types), so the only
    * data-sized operation is the one aggregation — the resample
    * itself never shuffles the fact table again.
    */
  def resampleHourly(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val hourly = e
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val spine = e
      .agg(date_trunc("hour", min(col("ts"))).as("mn"),
        date_trunc("hour", max(col("ts"))).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"),
        expr("INTERVAL 1 HOUR"))).as("hr"))
    val types = e.select(col("event_type")).distinct()
    spine.crossJoin(types)
      .join(hourly, Seq("hr", "event_type"), "left")
      .select(date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("n"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** Gated twa1: time-weighted average value per user-hour — the
    * irregular-sampling aggregate (TWAP-style) that a plain AVG gets
    * wrong when observation intervals differ. Each event is weighted
    * by the milliseconds until the user's next event (capped at one
    * hour so a session gap can't dominate); open tail intervals are
    * dropped. The lead() window is partitioned by user — fully
    * parallel — and the weighted sum accumulates in DECIMAL
    * (value exact at 6 decimals × integer ms), so the one double
    * division at the end is order-invariant and hash-stable.
    */
  def timeWeightedAverage(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(20,6)").as("v"))
      .withColumn("nxt", lead(col("ts"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("dur_ms",
        least(unix_millis(col("nxt")) - unix_millis(col("ts")),
          lit(3600000L)))
      .filter(col("dur_ms") > 0)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(col("dur_ms")).as("total_ms"),
        sum(col("v") * col("dur_ms")).as("wsum"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 3)
      .select(col("user_id"),
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("total_ms").cast("long").as("total_ms"),
        round(col("wsum").cast("double") / col("total_ms").cast("double"), 6)
          .as("twa_value"))
      .orderBy(col("user_id"), col("hour_start"))
  }

  /** Gated ts4: day-of-week × hour-of-day profile — mean and variance
    * of event value per calendar cell, the 168-cell template a
    * seasonality-aware anomaly detector subtracts before flagging
    * residuals (complements ts3's hourly-spine decomposition with the
    * cross-week matrix view). One aggregation pass; sums of v and v²
    * accumulate in DECIMAL(18,6) (products stay ≤ 38 digits, exact),
    * so the closed-form variance `(Σv² − (Σv)²/n)/n` is computed from
    * bit-identical doubles on both engines. Day-of-week is emitted
    * 0=Sunday to match the oracle's calendar function.
    */
  def dowHodProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select((dayofweek(col("ts")) - 1).as("dow"), hour(col("ts")).as("hod"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("svv"))
      .filter(col("n") >= 5)
      .select(col("dow").cast("int").as("dow"), col("hod").cast("int").as("hod"),
        col("n"),
        round(col("sv").cast("double") / col("n"), 6).as("mean_value"),
        round((col("svv").cast("double")
          - col("sv").cast("double") * col("sv").cast("double") / col("n"))
          / col("n"), 6).as("var_value"))
      .orderBy(col("dow"), col("hod"))

  /** Distribution-position window functions (w5): percent_rank /
    * cume_dist are exact small-integer ratios ((rank-1)/(n-1),
    * rank/n) so they hash-match across engines; first/nth_value run
    * under the default RANGE-to-current-row frame on both.
    */
  def windowStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(asc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        first_value(col("o_orderkey")).over(w).as("first_key"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Exact first/second moments (x8) via DECIMAL power sums — the
    * two-accumulator formulation (Σx, Σx²) is order-invariant and
    * mergeable, so mean/variance/stddev come out bit-identical to the
    * oracle's mirrored arithmetic without buffering anything. (Spark's
    * stddev/var aggregates use Welford-style double accumulation whose
    * result depends on partition order — correct, but not
    * hash-compareable across engines.)
    */
  def priceMoments(spark: SparkSession, dir: String): DataFrame = {
    val xDec = col("o_totalprice").cast("decimal(30,2)")
    Tables.orders(spark, dir)
      .agg(count(lit(1)).as("n"),
        sum(xDec).cast("double").as("sx"),
        sum(xDec * xDec).cast("double").as("sx2"))
      .select(col("n"),
        round(col("sx") / col("n"), 6).as("mean_price"),
        round((col("sx2") - col("sx") * col("sx") / col("n"))
          / (col("n") - lit(1)), 6).as("var_price"),
        round(sqrt((col("sx2") - col("sx") * col("sx") / col("n"))
          / (col("n") - lit(1))), 6).as("std_price"))
  }

  /** TPC-H Q3-shaped shipping priority (q3): which un-shipped orders of
    * one market segment carry the most open revenue. The realistic
    * 3-table analytics headliner: segment-filtered customer dimension
    * BROADCAST into orders, the o⋈li join shuffling once on orderkey,
    * two-phase aggregation on (orderkey, date, priority), and a top-10
    * that plans as TakeOrderedAndProject (never a global sort).
    *
    * Both date predicates reach their parquet scans as PushedFilters —
    * at 100 TB the shipdate filter alone excludes most of lineitem
    * before the join sees a row.
    */
  def shippingPriority(spark: SparkSession, dir: String,
                       segment: String = "BUILDING",
                       cutoff: String = "1998-06-01"): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === segment)
      .select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 30, 6)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("order_date"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped local supplier volume (q5): revenue per nation for
    * one region and one order year, counting only lineitems whose
    * supplier sits in the customer's own nation. The widest gated join
    * chain (6 tables); the plan the shape wants at 100 TB:
    * region⋈nation⋈supplier BROADCAST (tiny after the region filter),
    * the fact shuffling on l_orderkey against date-pruned orders, the
    * customer join left to AQE (broadcast at test scale; at 100 TB
    * customer is too big to broadcast and correctly shuffles on
    * custkey), and the s_nationkey = c_nationkey locality predicate
    * applied inside the supplier broadcast join (no extra exchange).
    */
  def localSupplierVolume(spark: SparkSession, dir: String,
                          region: String = "ASIA",
                          yearStart: String = "1996-01-01",
                          yearEnd: String = "1997-01-01"): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === region)
    // Region-local nations/suppliers: tiny after the region filter.
    val localNations = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(localNations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(yearStart).cast("timestamp")
        && col("o_orderdate") < lit(yearEnd).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s),
        col("l_suppkey") === col("s_suppkey")
          && col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 30, 6)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Gated q10: TPC-H returned-item reporting shape — rank customers
    * by revenue lost to returns in a quarter. Classic star plan: the
    * date filter prunes orders BEFORE the fact join, the returnflag
    * filter prunes lineitem at the scan, nation broadcasts, and the
    * final grouping keys on the customer — one fact shuffle end to
    * end, then TakeOrderedAndProject for the top-k.
    */
  /** Gated q18: TPC-H Large-Volume Customers. The aggregate-then-
    * semi-join shape: the HAVING aggregate reduces lineitem to the
    * handful of qualifying orders FIRST, and only that reduced frame
    * joins orders and customer — so the expensive fact table crosses
    * the wire once (its groupBy), and the subsequent joins move
    * qualifying-order cardinality, not fact cardinality. Quantities
    * are integral doubles, so the HAVING sum is exact and
    * order-invariant on both engines.
    */
  def largeVolumeCustomers(spark: SparkSession, dir: String,
                           minQty: Double = 300.0, k: Int = 100): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    big
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"))), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(k)
  }

  def returnedItemReport(spark: SparkSession, dir: String,
                         qStart: String = "1996-01-01",
                         qEnd: String = "1996-04-01"): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(qStart).cast("timestamp")
        && col("o_orderdate") < lit(qEnd).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 30, 6)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Bucketed co-located join (b1): both sides written bucketed on the
    * join key, so the join plans with NO shuffle exchange — pay the
    * shuffle once at ingest, never again per query (the canonical
    * repeated-join layout at 100 TB). The merge hint pins SMJ so the
    * bucket layout (not a broadcast) is what satisfies the join's
    * distribution requirement; BucketingSpec asserts the no-Exchange
    * plan property, this gate hash-checks the result.
    */
  def bucketedSegmentRevenue(spark: SparkSession, dir: String): DataFrame = {
    // Create the database once per session: IF NOT EXISTS would pin the
    // LOCATION of the first call anyway, so minting a temp dir per call
    // would only leak empty directories.
    if (!spark.catalog.databaseExists("graft_b1")) {
      val wh = graft.TmpIO.scratchDir("graft_b1_wh_")
      // The bucketed tables live for the whole session (later calls
      // overwrite in place), so the dir can only be reclaimed at exit.
      sys.addShutdownHook(graft.TmpIO.deleteRecursively(new java.io.File(wh)))
      spark.sql(s"CREATE DATABASE graft_b1 LOCATION '$wh'")
    }
    Tables.orders(spark, dir)
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("graft_b1.orders_b")
    Tables.customer(spark, dir)
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("graft_b1.customer_b")
    spark.table("graft_b1.orders_b").hint("merge")
      .join(spark.table("graft_b1.customer_b"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(Analytics.exactSum(col("o_totalprice"), 30, 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** Count-min-sketch frequency estimates per event type — the
    * mergeable fixed-memory heavy-hitter staple of a curation stats
    * pass (estimate ≥ truth; error ≤ eps·N with prob ≥ confidence).
    * The sketch is built distributed (one pass, executor-side partial
    * sketches merged); only the w×d counter matrix reaches the driver.
    *
    * With 5 distinct keys in a 2719-wide sketch the probed cells are
    * collision-free for this corpus+seed, so the (deterministic)
    * estimates EQUAL the exact counts — which is what makes the query
    * oracle-checkable against plain COUNT(*) (the ScalaTest suite
    * keeps the weaker always-true bound estimate ≥ exact as well).
    */
  def cmsEventTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    val cms = Tables.events(spark, dir)
      .stat.countMinSketch("event_type", 0.001, 0.99, 42)
    // Probe the types PRESENT in the data (not the static EventTypes
    // list): the oracle's GROUP BY emits only occurring types, so a
    // zero-count probe row would be a spurious hash mismatch at a
    // scale factor where some type never fires.
    val present = Tables.events(spark, dir)
      .select(col("event_type")).distinct()
      .collect().map(_.getString(0)).sorted
    val rows = present.toSeq.map(t =>
      org.apache.spark.sql.Row(t, cms.estimateCount(t)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("est_n",
        org.apache.spark.sql.types.LongType))))
  }

  /** Gate bl1: RUNTIME BLOOM-FILTER pruned join — the large×large join
    * pattern where neither side broadcasts but one side is selectively
    * filtered: Catalyst's InjectRuntimeFilter builds a bloom filter
    * over the filtered (creation) side's join keys and pushes a
    * `might_contain` probe into the big side's SCAN, so most fact rows
    * die before the shuffle instead of after it. At 100 TB this is the
    * difference between shuffling the whole fact table and shuffling
    * the ~segment fraction that can possibly match.
    *
    * The gate pins broadcast OFF (forcing the shuffle-join shape the
    * optimization exists for) and lowers the application-side scan
    * threshold (tuned for real clusters, far above test data sizes).
    * Configs must hold while the plan MATERIALIZES, not just while it
    * is built — the result is collected eagerly under the pinned confs
    * (it is dim-sized). The filter is a pure pruning aid: results are
    * exactly the plain join's, which is what the oracle states.
    * BloomJoinSpec asserts the bloom actually lands in the plan.
    */
  def bloomPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val pins = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = bloomJoinQuery(spark, dir)
      val rows = q.collect()
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.toSeq.asJava, q.schema)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The bl1 join body (shared with BloomJoinSpec's plan assertion):
    * a selective dim filter on customer, a key join onto orders, and a
    * small aggregate.
    */
  private[graft] def bloomJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000)
      .select(col("c_custkey"))
    Tables.orders(spark, dir)
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        Analytics.exactSum(col("o_totalprice"), 30, 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** HyperLogLog distinct-user estimate with CROSS-ENGINE-EXACT
    * registers (gate x11). `approx_count_distinct` (x1) can only be
    * rows-checked — its xxhash64 sketch has no DuckDB counterpart.
    * This HLL is deterministic by construction on both engines:
    *
    *  - item hash = 60-bit md5 prefix (the engine's standard
    *    cross-engine hash), top 6 bits → one of m = 64 registers,
    *    low 54 bits → rank = leading-zero count + 1 via `bin()`
    *    string length (identical in Spark and DuckDB);
    *  - register = max(rank) — duplicates can't move a max, so NO
    *    distinct/dedup pass is needed: one map-side-combinable agg
    *    over raw events, 64 rows after the shuffle;
    *  - the harmonic sum Σ2^−M is kept EXACT as the integer
    *    Σ2^(55−M) (≤ 64·2^55 < 2^63, fits a long) — the double sum
    *    would need 61 mantissa bits and become order-dependent;
    *  - estimate = α·m²·2^55/isum in one double division, plus the
    *    standard linear-counting correction for the small range.
    *
    * At 100 TB this is the sketch you'd actually run: one scan, 64
    * longs per partial, mergeable by max. n_exact rides along to show
    * the sketch error in the gate output.
    */
  def hllDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val m = 64
    val e = Tables.events(spark, dir)
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val regs = e.select(h.as("h"))
      .select(shiftright(col("h"), 54).as("bucket"),
        col("h").bitwiseAND(lit((1L << 54) - 1)).as("rem"))
      .select(col("bucket"),
        when(col("rem") === 0, lit(55))
          .otherwise(lit(55) - length(bin(col("rem")))).as("rank"))
      .groupBy(col("bucket")).agg(max(col("rank")).as("M"))
    val s = regs.agg(
      sum(expr("shiftleft(cast(1 as bigint), 55 - M)")).as("isp"),
      count(lit(1)).as("obs"))
    val x = e.agg(countDistinct(col("user_id")).as("n_exact"))
    val pow55 = lit((1L << 55).toDouble)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(64.0))
    s.crossJoin(x)
      .withColumn("v_empty", lit(m.toLong) - col("obs"))
      .withColumn("isum", col("isp") + col("v_empty") * lit(1L << 55))
      .withColumn("raw",
        alpha * lit(64.0) * lit(64.0) * pow55 / col("isum").cast("double"))
      .select(lit(m).as("m"), col("v_empty"), col("isum"),
        round(col("raw"), 6).as("est_raw"),
        when(col("raw") <= 2.5 * m && col("v_empty") > 0,
          round(lit(64.0) * log(lit(64.0) / col("v_empty").cast("double")), 6))
          .otherwise(round(col("raw"), 6)).as("est_hll"),
        col("n_exact"))
  }

  /** Gated x12: HLL SET ALGEBRA — the reason sketches beat exact
    * distinct at 100 TB is not the single estimate, it's that
    * register vectors MERGE: union = register-wise max (exact, no
    * rescan), intersection = inclusion–exclusion over merged
    * estimates. Audience-overlap / cohort-reach queries run exactly
    * this way at scale: keep one 64-long sketch per cohort, combine
    * sketches instead of re-scanning events.
    *
    * Here: cohort A = purchasers with value > 100, cohort B =
    * clickers with value > 100. One scan builds both cohorts'
    * registers (grouped by label), the union sketch is derived from
    * the REGISTERS (not the events), and exact counts ride along to
    * expose the sketch error. Same deterministic md5-based HLL as
    * [[hllDistinctUsers]], so DuckDB replays it bit-for-bit.
    */
  def hllSetOps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("value") > 100 &&
        col("event_type").isin("click", "purchase"))
      .select(col("event_type").as("t"), col("user_id"))
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val regs = e
      .select(col("t"), shiftright(h, 54).as("bucket"),
        h.bitwiseAND(lit((1L << 54) - 1)).as("rem"))
      .select(col("t"), col("bucket"),
        when(col("rem") === 0, lit(55))
          .otherwise(lit(55) - length(bin(col("rem")))).as("rank"))
      .groupBy(col("t"), col("bucket")).agg(max(col("rank")).as("M"))
      .persist()
    // sketch merge: union registers = per-bucket max over cohorts
    val regsU = regs.groupBy(col("bucket")).agg(max(col("M")).as("M"))

    def est(r: DataFrame, name: String): DataFrame = r
      .agg(sum(expr("shiftleft(cast(1 as bigint), 55 - M)")).as("isp"),
        count(lit(1)).as("obs"))
      .select(
        ((lit(0.7213) / (lit(1.0) + lit(1.079) / lit(64.0))) *
          lit(64.0 * 64.0) * lit((1L << 55).toDouble) /
          (col("isp") + (lit(64L) - col("obs")) * lit(1L << 55))
            .cast("double")).as("raw"),
        (lit(64L) - col("obs")).as("v_empty"))
      .select(
        when(col("raw") <= lit(160.0) && col("v_empty") > 0,
          round(lit(64.0) * log(lit(64.0) / col("v_empty").cast("double")), 6))
          .otherwise(round(col("raw"), 6)).as(name))

    val flags = e.groupBy(col("user_id")).agg(
      max(when(col("t") === "purchase", 1).otherwise(0)).as("a"),
      max(when(col("t") === "click", 1).otherwise(0)).as("b"))
    val exact = flags.agg(
      sum(col("a")).as("exact_a"), sum(col("b")).as("exact_b"),
      count(lit(1)).as("exact_union"),
      sum(col("a") * col("b")).as("exact_intersect"))

    val out = est(regs.filter(col("t") === "purchase"), "est_a")
      .crossJoin(est(regs.filter(col("t") === "click"), "est_b"))
      .crossJoin(est(regsU, "est_union"))
      .withColumn("est_intersect",
        round(col("est_a") + col("est_b") - col("est_union"), 6))
      .crossJoin(exact)
    // One-row result: materialize it so the persisted register frame
    // can be released here instead of leaking into the session.
    val rows = out.collect()
    regs.unpersist()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Wide→long reshape (gate p2): `Dataset.unpivot` — the MELT
    * operation feature stores and metric tables lean on. A pure
    * per-row generator (one scan, no shuffle; output = rows ×
    * metrics), so it scales trivially.
    */
  def unpivotPartMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        col("p_retailprice").cast("double").as("p_retailprice"),
        col("p_size").cast("double").as("p_size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_retailprice"), col("p_size")), "metric", "value")
      .orderBy(col("p_partkey"), col("metric"))

  /** MapType surface (gate f7): per-user event-type counts carried as
    * a MAP column (map_from_entries over sorted entries) and exploded
    * back to rows. The map construction/explosion round-trip is the
    * point — feature pipelines ship per-key feature maps exactly this
    * way. Bounded to a small user set so the gate output stays small;
    * the shape is one groupBy + one per-row generator.
    */
  def mapTypeCounts(spark: SparkSession, dir: String, maxUserId: Long = 20): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id") < maxUserId)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("event_type"), col("n"))))).as("m"))
      .select(col("user_id"), explode(col("m")))
      .select(col("user_id"), col("key").as("event_type"), col("value").as("n"))
      .orderBy(col("user_id"), col("event_type"))

  /** Time-series linear interpolation (gate ts2): hourly means with
    * gaps filled by linear interpolation between the nearest known
    * hours (edges clamp to the nearest known value). The global-order
    * windows run over the dense hour SPINE — calendar-bounded (~10⁵
    * rows for a decade), not data-bounded, so the single sort
    * partition is fine at any corpus scale; the data-sized work is
    * the hourly aggregation, which shuffles on the hour key.
    * Hourly means are exact (DECIMAL sum → double ÷ count) so the
    * interpolation arithmetic is bit-mirrorable.
    */
  def interpolateHourly(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val hourly = e
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg((sum(col("value").cast("decimal(30,6)")).cast("double") /
        count(lit(1))).as("v"))
    val spine = e
      .agg(date_trunc("hour", min(col("ts"))).as("mn"),
        date_trunc("hour", max(col("ts"))).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"),
        expr("INTERVAL 1 HOUR"))).as("hr"))
    val wB = Window.partitionBy(Ranks.boundedOnePartition(col("hr")))
      .orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wF = Window.partitionBy(Ranks.boundedOnePartition(col("hr")))
      .orderBy(col("hr"))
      .rowsBetween(0, Window.unboundedFollowing)
    spine.join(hourly, Seq("hr"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wB))
      .withColumn("ph", last(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wB))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wF))
      .withColumn("nh", first(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wF))
      .select(
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        when(col("v").isNotNull, 0).otherwise(1).as("interpolated"),
        round(
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              ((unix_timestamp(col("hr")) - unix_timestamp(col("ph"))).cast("double") /
               (unix_timestamp(col("nh")) - unix_timestamp(col("ph"))).cast("double"))),
          6).as("value"))
      .orderBy(col("hour_start"))
  }

  /** Exact grouped mode (gate x10): most frequent value per group with
    * a deterministic tiebreak (count desc, value asc). Count shuffle
    * is partial-aggregated map-side; the per-group argmax window runs
    * over the already-aggregated (group, value) frame, which is
    * distinct-cardinality-sized, not data-sized.
    */
  def modeQuantityPerFlag(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(desc("n"), asc("l_quantity"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_quantity"), col("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Gated sky1: 2-D SKYLINE (Pareto frontier) — customers not
    * dominated on (MINIMIZE order count, MAXIMIZE total spend): the
    * "whale" frontier, highest spend achieved in at most that many
    * orders. The multi-criteria "best corpus candidates" cut
    * (quality × length, freshness × authority, …) expressed on the
    * star schema; anti-correlated axes keep the frontier non-trivial.
    *
    * Scale shape: the naive dominance test is a quadratic theta-join.
    * This is the sort-free 2-D maxima reduction instead: (a) per-key
    * aggregate to customer metrics (one shuffle); (b) reduce to the
    * per-x maximum y — the candidate table is now bounded by
    * |distinct x| (order-count cardinality: tiny, and any real
    * skyline axis is binned the same way); (c) one window pass over
    * that tiny table marks x-groups whose max-y beats every strictly
    * SMALLER x (range frame, not a self-join); (d) broadcast the
    * frontier (x, y) pairs back. The corpus is touched by exactly one
    * aggregation; nothing quadratic ever materializes.
    *
    * Ties: equal (x, y) rows dominate nothing and are all kept —
    * only y < max-y within an x-group, or max-y ≤ some lower-x
    * max-y, eliminates.
    */
  def customerSkyline(spark: SparkSession, dir: String): DataFrame = {
    // Spend is carried as BIGINT integer cents end-to-end: the decimal
    // form was bit-identical to the oracle locally yet hash-diverged in
    // the external comparator two rounds running, so the output type is
    // one no decimal-hashing quirk can touch. sum(DECIMAL(30,2)) is
    // exact; ×100 and the BIGINT cast are exact for any realistic spend.
    val m = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast("decimal(30,2)")) * lit(100))
          .cast("long").as("spend_cents"))
    // (b) per-x max: |rows| = |distinct order counts| — double-digit.
    val perX = m.groupBy(col("n_orders")).agg(max(col("spend_cents")).as("max_cents"))
    // (c) strictly-smaller-x band via an ascending range frame, over
    // the double-digit per-x table (audited-bounded one-partition key).
    val better = Window.partitionBy(Ranks.boundedOnePartition(col("n_orders")))
      .orderBy(col("n_orders"))
      .rangeBetween(Window.unboundedPreceding, -1L)
    val frontier = perX
      .withColumn("best_below", max(col("max_cents")).over(better))
      .filter(col("best_below").isNull || col("max_cents") > col("best_below"))
      .select(col("n_orders"), col("max_cents"))
    m.join(broadcast(frontier), Seq("n_orders"))
      .filter(col("spend_cents") === col("max_cents"))
      .select(col("o_custkey").as("custkey"), col("n_orders"), col("spend_cents"))
      .orderBy(asc("n_orders"), asc("custkey"))
  }

  /** Gated te1: K-FOLD TARGET ENCODING — the leakage-protected
    * categorical feature every tabular training pipeline derives: a
    * category's encoding for fold f is the target mean over the
    * category EXCLUDING fold f, so no row's own target leaks into its
    * feature ((Σcat − Σcat,fold) / (ncat − ncat,fold) — leave-fold-out
    * by subtraction, never a second scan). Deterministic folds
    * (orderkey mod k) make the gate cross-engine exact; money stays
    * integer cents until the one division.
    *
    * Scale shape: two map-side-combinable aggregations (category ×
    * fold, category), the category table broadcast back — categories
    * are bounded, rows never move twice, no window. At 100 TB this is
    * the same plan with the (cat, fold) aggregate as the only
    * fact-scale shuffle.
    */
  def targetEncoding(spark: SparkSession, dir: String,
                     folds: Int = 5): DataFrame = {
    val r = Tables.orders(spark, dir).select(
      col("o_orderpriority").as("cat"),
      (col("o_orderkey") % folds).as("fold"),
      expr("CAST(round(o_totalprice*100) AS BIGINT)").as("cents"))
    val ct = r.groupBy(col("cat"))
      .agg(sum(col("cents")).as("sc"), count(lit(1)).as("nc"))
    val cf = r.groupBy(col("cat"), col("fold"))
      .agg(sum(col("cents")).as("sf"), count(lit(1)).as("nf"))
    cf.join(broadcast(ct), "cat")
      .select(col("cat"), col("fold").cast("long").as("fold"),
        col("nf").as("n_rows"),
        round(when(col("nc") > col("nf"),
          (col("sc") - col("sf")).cast("double") / (col("nc") - col("nf"))),
          6).as("target_enc"))
      .orderBy(col("cat"), col("fold"))
  }

  /** Gated gini1: GINI COEFFICIENT of customer spend — the
    * concentration statistic (0 = uniform, →1 = one whale) every
    * mixture/curation report needs for "is this source dominated by a
    * few heavy keys" (u1/u2 cap domains; this MEASURES the skew being
    * capped). Closed form over the rank-ordered frame:
    * G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx), xᵢ ascending.
    *
    * Scale shape: the rank comes from [[Ranks.withGlobalRowNumber]]
    * (range partition + parallel local sort — no single-partition
    * window), and both sums are DECIMAL-accumulated in one pass over
    * the ranked frame. Products are exact in doubles (rank ≤ 1e9,
    * 2-dp spend) before the decimal cast, so the statistic is
    * bit-reproducible cross-engine.
    */
  def spendGini(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(graft.operators.Analytics.exactSum(col("o_totalprice"), 30, 2)
        .as("x"))
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val (ranked, n) = graft.operators.Ranks.withGlobalRowNumber(spend,
      Seq(col("x").asc, col("o_custkey").asc), np, "_rn")
    def decSum(c: Column): Column = sum(c.cast("decimal(38,6)")).cast("double")
    val nd = lit(n).cast("double")
    ranked
      .agg(decSum(col("_rn").cast("double") * col("x")).as("six"),
        decSum(col("x")).as("sx"))
      .select(lit(n).as("n_customers"),
        round((lit(2.0) * col("six") - (nd + 1.0) * col("sx"))
          / (nd * col("sx")), 6).as("gini"))
  }

  /** Gated fd1: FUNCTIONAL-DEPENDENCY audit — does A determine B?
    * A→B holds iff |distinct A| = |distinct (A,B)|; the violation
    * count is the number of extra (A,B) combinations. The schema-
    * inference / data-contract profiling primitive (dp1 profiles
    * single columns; this profiles column RELATIONSHIPS — "is brand
    * really a function of manufacturer prefix", "does one user stick
    * to one segment").
    *
    * Scale shape: each candidate is two exact distinct counts —
    * grouped pre-aggregation shuffles (map-side combined), no joins;
    * candidates over the same table share one scan via a multi-agg.
    * At 100 TB the same audit swaps count_distinct for HLL (x11's
    * sketch) when ±2% suffices.
    */
  def functionalDeps(spark: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, table: String, a: String, b: String): DataFrame =
      df.agg(
        countDistinct(col(a)).as("n_lhs"),
        countDistinct(col(a), col(b)).as("n_pairs"))
        .select(lit(table).as("table_name"), lit(a).as("lhs"), lit(b).as("rhs"),
          col("n_lhs"), col("n_pairs"),
          (col("n_pairs") === col("n_lhs")).as("holds"),
          (col("n_pairs") - col("n_lhs")).as("n_violating_combos"))
    val candidates =
      audit(Tables.nation(spark, dir), "nation", "n_nationkey", "n_regionkey") ::
      audit(Tables.part(spark, dir), "part", "p_brand", "p_type") ::
      audit(Tables.customer(spark, dir), "customer", "c_nationkey", "c_mktsegment") ::
      audit(Tables.lineitem(spark, dir), "lineitem", "l_orderkey", "l_returnflag") ::
      Nil
    candidates.reduce(_ unionAll _)
      .orderBy(col("table_name"), col("lhs"), col("rhs"))
  }

  /** Gated ov1: MAX-CONCURRENCY SWEEP-LINE — for each order priority,
    * the peak number of simultaneously-open orders (order k active for
    * `1 + k % 60` days from its order date, half-open [s, e)) and the
    * first day that peak occurs. The classic interval-overlap
    * aggregation (ward occupancy, concurrent sessions, peak license
    * seats) that ij1's pairwise interval JOIN cannot answer without
    * enumerating O(overlaps) pairs.
    *
    * Scale shape: intervals → ±1 boundary deltas (2 rows each), one
    * exact distributed prefix sum over the total order (prio, day,
    * delta, key) ([[Ranks.withExclusivePrefixSum]] — a range exchange
    * plus per-partition scans, never a single-partition window). The
    * per-priority running count needs NO group-offset correction:
    * every group's deltas sum to zero (each +1 has its −1), so the
    * global exclusive prefix at each group's first row is exactly 0.
    * Ordering −1 before +1 within a day gives half-open semantics; the
    * peak is always attained at the end of a day's +1 block, so ties
    * in the order key cannot change either output column.
    */
  def maxConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val iv = Tables.orders(spark, dir).select(
        col("o_orderpriority").as("prio"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).as("s"),
        (col("o_orderkey") % 60 + 1).as("durd"),
        col("o_orderkey").as("k"))
      .withColumn("e", col("s") + col("durd"))
    val deltas = iv
      .select(col("prio"), col("s").as("day"), lit(1).as("delta"), col("k"))
      .unionByName(iv.select(col("prio"), col("e").as("day"),
        lit(-1).as("delta"), col("k")))
    val run = Ranks.withExclusivePrefixSum(deltas,
        Seq(col("prio").asc, col("day").asc, col("delta").asc, col("k").asc),
        col("delta"), np, "excl")
      .withColumn("run", col("excl") + col("delta"))
    val peak = run.groupBy(col("prio")).agg(max(col("run")).as("peak"))
    run.join(peak, Seq("prio")).filter(col("run") === col("peak"))
      .groupBy(col("prio"), col("peak"))
      .agg(min(col("day")).as("pd"))
      .select(col("prio"), col("peak"),
        date_add(lit("1970-01-01").cast("date"),
          col("pd").cast("int")).as("peak_day"))
      .orderBy(col("prio"))
  }

  /** Gated us1: UNIVERSE (join-preserving) SAMPLING — both fact
    * tables are sampled INDEPENDENTLY by the same deterministic hash
    * condition on the JOIN KEY (md5 hex prefix of orderkey under the
    * rate threshold, sa1's convention), so a sampled order keeps ALL
    * its line items and the join of the samples IS a sample of the
    * join. Bernoulli-sampling each side independently at rate p keeps
    * only p² of the join pairs and biases every join aggregate;
    * key-hash sampling keeps exactly the pairs of sampled keys — the
    * only sampling scheme under which "estimate the join on 1% of a
    * 100 TB fact table" is statistically meaningful (Universe
    * sampling, e.g. Kandula et al., QuickR 2016).
    *
    * The oracle states the preservation property itself: it filters
    * ON THE JOINED RESULT by the orders-side key alone — a hash match
    * means sampling before the join lost nothing. The pushed-down
    * per-side filters also shrink the exchange by 1/rate on both
    * sides (the point at scale).
    */
  /** Gated jcs1: JOIN-CARDINALITY ESTIMATION from bucket statistics —
    * the cost-based-optimizer primitive: per-bucket (count, distinct)
    * histograms on each side's join key, estimate |A⋈B| per bucket as
    * nA·nB / max(dA, dB) (the containment assumption every CBO uses),
    * and report it NEXT TO the exact join size Σ_k cA(k)·cB(k) so the
    * estimation error is part of the hashed result. Both sides reduce
    * to key-count frames first (the only corpus-sized aggregations);
    * the exact pair count is a join of those count frames — never of
    * the fact tables — and the histogram is B=64 rows per side.
    * Bucketing uses integer division on both engines (float division
    * + cast disagrees at bucket boundaries between trunc and round
    * semantics).
    */
  def joinCardStats(spark: SparkSession, dir: String,
                    buckets: Int = 64): DataFrame = {
    val ko = Tables.orders(spark, dir).groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("c"))
    val ke = Tables.events(spark, dir).groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("c"))
    val mk = ko.agg(max(col("k"))).head.getLong(0)
      .max(ke.agg(max(col("k"))).head.getLong(0))
    val exact = ko.join(ke.select(col("k"), col("c").as("c2")), "k")
      .agg(sum(col("c") * col("c2")).cast("bigint").as("exact_pairs"))
    val bo = kc2hist(ko, buckets, mk).as("bo")
    val be = kc2hist(ke, buckets, mk).as("be")
    val est = bo.join(be, col("bo.b") === col("be.b"))
      .agg(round(sum(col("bo.n").cast("double") * col("be.n").cast("double")
        / greatest(col("bo.d"), col("be.d")).cast("double")), 0)
        .cast("bigint").as("est_pairs"))
    exact.crossJoin(est)
      .select(col("exact_pairs"), col("est_pairs"),
        round(lit(10000.0) * (col("est_pairs") - col("exact_pairs"))
          / col("exact_pairs"), 0).cast("bigint").as("err_bp"))
  }

  private def kc2hist(kc: DataFrame, buckets: Int, mk: Long): DataFrame = kc
    .select(expr(s"k * $buckets div ${mk + 1}").as("b"), col("c"))
    .groupBy(col("b"))
    .agg(sum(col("c")).as("n"), count(lit(1)).as("d"))

  def universeSample(spark: SparkSession, dir: String,
                     rate: Double = 0.25): DataFrame = {
    val threshold = f"${(rate * 65536).toInt}%04x"
    def keep(c: Column): Column =
      substring(md5(c.cast("string")), 1, 4) < threshold
    val o = Tables.orders(spark, dir)
      .filter(keep(col("o_orderkey")))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir)
      .filter(keep(col("l_orderkey")))
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(countDistinct(col("o_orderkey")).cast("bigint").as("n_orders"),
        count(lit(1)).as("n_lines"),
        sum(col("cents")).cast("bigint").as("revenue_cents"))
      .orderBy(col("priority"))
  }
}
