package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** User-behavior analytics over the events table: ordered funnels and
  * cohort retention — the two aggregation shapes every product/growth
  * pipeline runs at fact-table scale.
  *
  * Both are single-shuffle plans: everything per-user is computed with
  * window functions over one `user_id` partitioning (consecutive
  * Window nodes over the SAME key reuse one Exchange), then the tiny
  * per-user frame aggregates globally.
  *
  * Timestamps are compared as integer MICROS on both engines: events.ts
  * is parquet TIMESTAMP(NANOS), Spark floors it to micros on read, so
  * the oracle mirrors with epoch_ns(ts)//1000 — comparing raw ns
  * against floored µs could flip an ordering within a microsecond.
  */
object Behavior {

  /** Gated fn1: strictly-ordered signup → click → purchase funnel.
    * Stage k's entry time is the user's earliest stage-k event AT OR
    * AFTER their stage-(k-1) entry time; the output is the per-stage
    * user count plus the end-to-end conversion rate.
    */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val staged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("t1",
        min(when(col("event_type") === "signup", col("us"))).over(byUser))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("us") >= col("t1"),
          col("us"))).over(byUser))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("us") >= col("t2"),
          col("us"))).over(byUser))
      .groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"), max(col("t3")).as("t3"))
    staged.agg(
        count(col("t1")).as("n_signup"),
        count(col("t2")).as("n_click_after"),
        count(col("t3")).as("n_purchase_after"))
      .select(col("n_signup"), col("n_click_after"), col("n_purchase_after"),
        round(col("n_purchase_after").cast("double") / col("n_signup"), 6)
          .as("conversion"))
  }

  /** Gated ct1: daily cohort retention — users keyed by first-seen day,
    * counted per (cohort day, day offset) they were active on. The
    * triangular table every retention curve is drawn from.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct() // collapse to active-days FIRST: the window and the
      .withColumn("cohort", min(col("day")).over(byUser)) // final agg then
      .groupBy( // shuffle |user x day| rows, not the fact table
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("day"), col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Gated w7: customer spend quartiles — SQL-ntile(4) semantics
    * computed scale-safe: [[Ranks.scan]] range-
    * partitions the per-customer frame, ranks each range band in
    * parallel, and the quartile is closed-form arithmetic over
    * (global rank, total count). No single-partition WindowExec
    * anywhere, so the plan survives a customer frame that outgrows
    * one sort task. Bucket assignment is bit-identical to
    * `ntile(4) OVER (ORDER BY spend DESC, custkey)`.
    */
  def spendQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(Analytics.exactSum(col("o_totalprice"), 30, 2).as("spend"))
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val (ranked, n, _) = Ranks.scan(spend,
      Seq(col("spend").desc, col("o_custkey").asc), np, Some("_rn"), Nil)
    ranked
      .select(col("o_custkey"), col("spend"),
        Ranks.ntileOfRank(col("_rn"), n, 4).as("quartile"))
      .orderBy(col("o_custkey"))
  }

  /** Gated w8: DISTRIBUTION RANKS — percent_rank + cume_dist of each
    * customer's spend within their market segment, plus the global
    * spend decile: the remaining rank-window family members (w1 rank,
    * w7 ntile, w9 top-k) in one gate. Both windows run over the
    * AGGREGATED per-customer frame; the segment window partitions by
    * a bounded key, and the global decile would switch to x3-style
    * quantile cut-points once |customers| outgrows one sort partition
    * (same policy note as [[spendQuartiles]]).
    */
  def distributionRanks(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(Analytics.exactSum(col("o_totalprice"), 30, 2).as("spend"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // ONE range-partitioned exact rank over (segment, spend, custkey)
    // serves every rank statistic in the gate — no WindowExec anywhere,
    // global or per-segment (a per-segment frame is |customers in
    // segment|: just as unbounded at corpus scale as the global one).
    // Under this TOTAL order, SQL's window functions reduce to exact
    // arithmetic on (in-segment rank, segment size): percent_rank =
    // (rk-1)/(n-1), cume_dist = rk/n — tie-free because the order key
    // includes the unique custkey, so the reductions are bit-identical
    // to the window forms. Segment offsets/sizes come from a
    // 5-row aggregate joined back broadcast.
    val (ranked, _, _) = Ranks.scan(spend,
      Seq(col("c_mktsegment").asc, col("spend").asc, col("o_custkey").asc),
      np, Some("_rn"), Nil)
    val segBounds = broadcast(ranked.groupBy(col("c_mktsegment").as("_seg"))
      .agg(min(col("_rn")).as("_seg_off"), count(lit(1)).as("_seg_n")))
    // The decile ranks by (spend DESC, custkey ASC) — recover that rank
    // from the ascending one: over the tie-free total order of the
    // global frame, desc-rank = N - asc-rank(spend asc, custkey desc).
    // custkey sorts the WRONG way inside equal spends for that identity,
    // so rank the decile independently (same machinery, second pass).
    val (ranked2, n, _) = Ranks.scan(
      ranked.join(segBounds, col("c_mktsegment") === col("_seg")),
      Seq(col("spend").desc, col("o_custkey").asc), np, Some("_grn"), Nil)
    val segRk = (col("_rn") - col("_seg_off") + 1).cast("double")
    val segN = col("_seg_n").cast("double")
    ranked2.select(col("o_custkey"), col("c_mktsegment"), col("spend"),
        round(when(col("_seg_n") === 1, lit(0.0))
          .otherwise((segRk - 1) / (segN - 1)), 6).as("seg_pct_rank"),
        round(segRk / segN, 6).as("seg_cume_dist"),
        Ranks.ntileOfRank(col("_grn"), n, 10).as("spend_decile"))
      .orderBy(col("o_custkey"))
  }

  /** Gated att1: LAST-TOUCH ATTRIBUTION — each purchase is credited
    * to the user's most recent preceding non-purchase event; the
    * readout is purchases and share per touch type. The
    * batch companion of st5's stream-stream attribution join.
    *
    * Scale shape: one user-partitioned window pass over events (the
    * same partitioning every per-user op here reuses) — no self-join
    * of the event log against itself. The "latest prior event" is a
    * running MAX of a zero-padded sortable encoding (timestamp ‖
    * event id ‖ type), so the window state is one string per row and
    * the comparison is bytewise — deterministic across engines; the
    * final share table is |touch types| rows.
    */
  /** Gated att3: POSITION-BASED (U-shaped) MULTI-TOUCH ATTRIBUTION —
    * the third member of the credit family (att1 = last-touch, att2 =
    * Markov removal effect): each conversion's journey (the touches
    * since the previous conversion) splits credit 40/20/40 — first
    * touch 0.4, last touch 0.4, middle shared — with the k=1/k=2
    * degenerate cases by the standard convention and empty journeys
    * attributed to 'none'. Per-touch credits are rounded to 12 dp and
    * summed as DECIMAL, so per-channel totals are order-invariant and
    * conservation (Σ credit = conversions) holds to rounding.
    *
    * Shape: journeys come from ONE user-keyed exchange (the
    * segment-id prefix count and the within-journey rank share it);
    * everything after is channel-keyed counting.
    */
  def positionAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val wSeg = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seg = e.withColumn("s",
      coalesce(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).over(wSeg), lit(0L)))
    val conv = seg.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("s"))
    val wj = Window.partitionBy(col("user_id"), col("s"))
    val touches = seg.filter(col("event_type") =!= "purchase")
      .join(conv.distinct(), Seq("user_id", "s"), "left_semi")
      .withColumn("rn",
        row_number().over(wj.orderBy(col("us"), col("event_id"))))
      .withColumn("k", count(lit(1)).over(wj))
    val credit = touches.select(col("event_type").as("touch"),
      round(when(col("k") === 1, 1.0).when(col("k") === 2, 0.5)
        .when(col("rn") === 1 || col("rn") === col("k"), 0.4)
        .otherwise(lit(0.2) / (col("k") - 2)), 12)
        .cast("decimal(28,12)").as("c"))
    val channels = credit.groupBy(col("touch"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("c")).cast("double"), 6).as("total_credit"))
    val none = conv.join(
        touches.select(col("user_id"), col("s")).distinct(),
        Seq("user_id", "s"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 0)
      .select(lit("none").as("touch"), col("n").as("n_touches"),
        round(col("n").cast("double"), 6).as("total_credit"))
    channels.unionAll(none).orderBy(col("touch"))
  }

  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = ev
      .withColumn("prev", max(when(col("event_type") =!= "purchase",
        concat(lpad(col("us").cast("string"), 20, "0"), lit("|"),
          lpad(col("event_id").cast("string"), 12, "0"), lit("|"),
          col("event_type")))).over(w))
      .filter(col("event_type") === "purchase")
      // explicit null branch: DuckDB's split_part maps NULL to '', so
      // a coalesce around the split would diverge between engines
      .select(when(col("prev").isNull, lit("none"))
        .otherwise(element_at(split(col("prev"), "\\|"), 3)).as("touch"))
    val counts = touched.groupBy(col("touch"))
      .agg(count(lit(1)).as("n_purchases"))
    counts
      .withColumn("share",
        round(col("n_purchases") / sum(col("n_purchases"))
          // distinct-event-type-cardinality frame; non-foldable
          // constant key keeps the warning channel clean
          .over(Window.partitionBy(Ranks.boundedOnePartition(col("touch")))), 6))
      .orderBy(col("touch"))
  }

  /** Gated gc1: USER GROWTH CURVE — cumulative distinct users over
    * time WITHOUT a windowed distinct: each user reduces to their
    * first-seen hour (one map-side-combinable min), then the curve is
    * an integer cumsum over the hours-cardinality frame. The standard
    * rewrite that turns an O(users×hours) running-distinct into two
    * cheap aggregations — the shape that matters at 100 TB of events.
    */
  def userGrowthCurve(spark: SparkSession, dir: String, limit: Int = 48): DataFrame = {
    val firstSeen = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(date_format(date_trunc("hour", col("first_ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour_start"))
      .groupBy(col("hour_start"))
      .agg(count(lit(1)).as("n_new_users"))
    val w = Window.partitionBy(Ranks.boundedOnePartition(col("hour_start")))
      .orderBy(col("hour_start"))
      .rowsBetween(Window.unboundedPreceding, 0)
    firstSeen
      .withColumn("cum_users", sum(col("n_new_users")).over(w))
      .orderBy(col("hour_start"))
      .limit(limit)
  }

  /** Gated ab1: A/B conversion comparison — per-variant user counts,
    * conversion rates, lift, and the pooled two-proportion z
    * statistic (the experiment read-out every growth team computes).
    * Rates are exact integer ratios; the z arithmetic is a fixed
    * IEEE sequence mirrored in the oracle. One user-keyed
    * aggregation; everything after is scalar math on a 2-row frame.
    */
  def abTestReadout(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(spark, dir)
      .groupBy(col("user_id"),
        when(col("user_id") % 3 === 0, 0).otherwise(1).as("grp"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 200, 1)
        .otherwise(0)).as("converted"))
    val g = u.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val w = g.agg(
      max(when(col("grp") === 0, col("n"))).as("n_a"),
      max(when(col("grp") === 0, col("conv"))).as("c_a"),
      max(when(col("grp") === 1, col("n"))).as("n_b"),
      max(when(col("grp") === 1, col("conv"))).as("c_b"))
    val rateA = col("c_a").cast("double") / col("n_a")
    val rateB = col("c_b").cast("double") / col("n_b")
    val pooled = (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b"))
    w.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      round(rateA, 6).as("rate_a"), round(rateB, 6).as("rate_b"),
      round(rateB - rateA, 6).as("lift"),
      round((rateB - rateA) / sqrt(pooled * (lit(1) - pooled)
        * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6).as("z_stat"))
  }

  /** Gated cuped1: CUPED variance-reduced experiment readout — the
    * industry-standard covariate adjustment (y_adj = y − θ·(x − x̄)
    * with θ = cov(x,y)/var(x)) using each user's CLICK spend as the
    * pre-exposure covariate for their PURCHASE outcome. The
    * experimentation readout every growth platform runs at
    * fact-table scale when raw-metric variance would demand 5–10×
    * the traffic.
    *
    * Exactness/scale shape: one user-keyed aggregation produces the
    * per-user (x, y) frame (per-user sums accumulate as DECIMAL —
    * order-invariant — then cast); θ and the group adjustments derive
    * entirely from DECIMAL-summed sufficient statistics (n, Σx, Σy,
    * Σxy, Σx², per-group Σx, Σy), each cast to double BEFORE the
    * products (the acf1 overflow discipline), so the whole readout is
    * two shuffles + scalar IEEE math mirrored term-for-term in the
    * oracle. No window, no per-user second pass: the adjusted group
    * mean folds algebraically to (Σy_g − θ·(Σx_g − n_g·x̄))/n_g.
    */
  def cupedReadout(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(30,6)"
    val zero = lit(0).cast(dec)
    val u = Tables.events(spark, dir)
      .groupBy(col("user_id"),
        when(col("user_id") % 3 === 0, 0).otherwise(1).as("grp"))
      .agg(
        sum(when(col("event_type") === "click", col("value").cast(dec))
          .otherwise(zero)).cast("double").as("x"),
        sum(when(col("event_type") === "purchase", col("value").cast(dec))
          .otherwise(zero)).cast("double").as("y"))
      .cache() // feeds both the global-stat and per-group aggregates
    def d38(c: Column): Column = sum(c.cast("decimal(38,6)")).cast("double")
    val s = u.agg(count(lit(1)).as("n"),
      d38(col("x")).as("sx"), d38(col("y")).as("sy"),
      d38(col("x") * col("y")).as("sxy"), d38(col("x") * col("x")).as("sxx"))
    val nd = col("n").cast("double")
    val t = s.select(
      ((nd * col("sxy") - col("sx") * col("sy"))
        / (nd * col("sxx") - col("sx") * col("sx"))).as("theta"),
      (col("sx") / nd).as("mean_x"))
    val g = u.groupBy(col("grp")).agg(count(lit(1)).as("ng"),
      d38(col("x")).as("gx"), d38(col("y")).as("gy"))
    val ngd = col("ng").cast("double")
    g.crossJoin(broadcast(t))
      .select(col("grp").cast("int").as("grp"), col("ng").as("n_users"),
        round(col("gy") / ngd, 6).as("mean_y"),
        round((col("gy") - col("theta") * (col("gx") - ngd * col("mean_x")))
          / ngd, 6).as("mean_y_adj"),
        round(col("theta"), 6).as("theta"))
      .orderBy(col("grp"))
  }

  /** Gated seg1: RFM SEGMENTATION — recency/frequency/monetary
    * quartile codes per customer, then segment-level sizes and
    * DECIMAL-exact mean spend. The classic lifecycle-marketing
    * bucketing. Each quartile code is SQL-ntile(4) semantics computed
    * through [[Ranks.scan]] (range-partitioned exact
    * rank + closed-form bucket) — three parallel range sorts instead
    * of three single-partition global windows, so the plan holds when
    * the customer frame outgrows one sort task.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("c"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(30,2)")).cast("double")
          .as("monetary"))
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val (r1, n, _) = Ranks.scan(m,
      Seq(col("last_order").desc, col("c").asc), np, Some("_rrn"), Nil)
    val (r2, _, _) = Ranks.scan(r1,
      Seq(col("freq").desc, col("c").asc), np, Some("_frn"), Nil)
    val (r3, _, _) = Ranks.scan(r2,
      Seq(col("monetary").desc, col("c").asc), np, Some("_mrn"), Nil)
    val q = r3
      .withColumn("r_q", Ranks.ntileOfRank(col("_rrn"), n, 4))
      .withColumn("f_q", Ranks.ntileOfRank(col("_frn"), n, 4))
      .withColumn("m_q", Ranks.ntileOfRank(col("_mrn"), n, 4))
    q.groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        sum(round(col("monetary"), 2).cast("decimal(30,2)")).as("s"))
      .select(col("r_q"), col("f_q"), col("m_q"), col("n_customers"),
        round(col("s").cast("double") / col("n_customers"), 6).as("avg_monetary"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** Gated mk1: MARKOV TRANSITION MATRIX over per-user event
    * sequences — the first-order sequence model behind next-action
    * prediction and session simulation. One window pass (lag over
    * the user partitioning, micros+event_id ordering for a total
    * order) produces the transition stream; counts and row-
    * normalized probabilities are exact integer ratios.
    *
    * Scale shape: one shuffle on user_id for the lag window, then a
    * 25-key count aggregation — the transition matrix is
    * type²-cardinality regardless of corpus size.
    */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy(col("prev_type"))
    trans
      .withColumn("p", round(col("n").cast("double")
        / sum(col("n")).over(totals), 6))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Gated pit1: POINT-IN-TIME feature join — for each label event
    * (purchase) compute a feature over a trailing window of history
    * events (clicks in the prior 7 days), using only data strictly
    * before the label timestamp. This is the feature-store backfill
    * contract: training features must be leakage-free, so the join
    * condition is half-open [t−7d, t) — never t itself, never after.
    *
    * Scale shape: Spark plans the band condition as an equi-join on
    * user_id with the time band as residual — one shuffle keyed on
    * the entity, which is exactly how a feature backfill partitions
    * at 100 TB (hot entities salt the key; a time-bucketed pre-join
    * bound tightens the residual when history ≫ labels). Timestamps
    * compare as integer micros (see class doc).
    */
  def pointInTimeFeatures(spark: SparkSession, dir: String,
                          maxUserId: Long = 30): DataFrame = {
    val e = Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase" && col("user_id") < maxUserId)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pus"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), unix_micros(col("ts")).as("cus"),
        col("event_id").as("cid"))
    p.join(c,
        p("user_id") === c("cu") &&
          c("cus") >= p("pus") - lit(604800000000L) && c("cus") < p("pus"),
        "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(col("cid")).as("n_clicks_7d"))
      .orderBy(col("event_id"))
  }

  /** Gated isl1: BATCH SESSIONIZATION (gaps-and-islands) — the
    * offline counterpart of the streaming session windows (st2/st6):
    * a user's events split into sessions wherever the inactivity gap
    * exceeds `gapMinutes`; the report is the session-size histogram
    * with mean duration per size. The shape every engagement /
    * training-data-locality pipeline computes over its full history,
    * where streaming state is not an option.
    *
    * Scale shape: the classic two-window plan — `lag` marks session
    * starts, a running sum over the SAME (user_id, ts) ordering
    * assigns session ids, so both windows (and the session groupBy,
    * keyed by user) reuse ONE hash exchange on user_id; per-partition
    * state is a sort, never whole-history buffering. Durations sum as
    * integer micros (order-invariant) and divide once at the end.
    */
  def batchSessions(spark: SparkSession, dir: String,
                    gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val sessions = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("dur_us"))
    sessions
      .groupBy(col("n_events").as("session_size"))
      .agg(count(lit(1)).as("n_sessions"),
        round(sum(col("dur_us")).cast("double") / lit(1000000.0)
          / count(lit(1)), 6).as("avg_duration_sec"))
      .orderBy(col("session_size"))
  }

  /** Gated wfn1: DEADLINE-BOUNDED CONVERSION — of the users who
    * clicked, how many purchased within 48 hours of their FIRST click,
    * and how fast (fn1 checks the ordering exists at all; this prices
    * the SLA product teams actually alarm on; the corpus's median
    * click→purchase latency is ~34 h, so a sub-hour deadline would be
    * degenerate). One user-keyed aggregation computes first-click
    * micros; a second conditional aggregation takes the earliest
    * qualifying purchase per user; the readout folds to one row with
    * exact-integer micros summed in DECIMAL so the mean latency is
    * order-invariant.
    */
  def windowedConversion(spark: SparkSession, dir: String,
                         deadlineMinutes: Int = 2880): DataFrame = {
    val deadlineUs = deadlineMinutes * 60L * 1000000L
    val firstClick = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "click", col("us"))).as("c0"))
      .filter(col("c0").isNotNull)
    // Earliest purchase AT/AFTER the first click (a purchase before
    // any click must not count): the click time joins back onto the
    // purchase stream. The clicker frame is user-sized; hash-join on
    // user_id, then one conditional min.
    val qualified = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pus"))
      .join(firstClick, "user_id")
      .filter(col("pus") >= col("c0"))
      .groupBy(col("user_id"))
      .agg(min(col("pus") - col("c0")).as("lat_us"))
      .filter(col("lat_us") <= deadlineUs)
    val nClick = firstClick.agg(count(lit(1)).as("n_clicked"))
    val conv = qualified.agg(
      count(lit(1)).as("n_converted"),
      sum(col("lat_us").cast("decimal(30,0)")).as("lat_sum"))
    nClick.crossJoin(conv) // two 1-row frames
      .select(col("n_clicked"), col("n_converted"),
        round(col("n_converted").cast("double")
          / col("n_clicked").cast("double"), 6).as("conversion_rate"),
        round(col("lat_sum").cast("double")
          / col("n_converted").cast("double") / lit(60000000.0), 6)
          .as("mean_minutes_to_convert"))
  }

  /** Gated ltv1: COHORT LTV CURVE — cumulative purchase revenue per
    * user by signup cohort and day offset, the first-week
    * lifetime-value readout growth teams pair with ct1's retention
    * (retention counts WHO came back; this prices it). Revenue folds
    * per (cohort, offset) in exact DECIMAL first; the cumulative sum
    * runs per-cohort (parallel window keyed by cohort — scales with
    * cohorts, not events) and stays DECIMAL to the final division.
    * One user-keyed window stamps cohorts; cohort sizes come from the
    * collapsed user frame.
    */
  def cohortLtv(spark: SparkSession, dir: String, maxOffset: Int = 7): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)).as("rev"))
    // Cohorts as a user-keyed aggregate (not a window): sizes fall out
    // of the user frame for free, and the two downstream consumers
    // don't each re-execute a fact-table window exchange.
    val cohorts = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    val sizes = cohorts.groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
    val daily = e.join(cohorts, "user_id")
      .groupBy(col("cohort"),
        datediff(col("day"), col("cohort")).as("day_offset"))
      .agg(sum(col("rev").cast("decimal(30,6)")).as("r"))
    val byCohort = Window.partitionBy(col("cohort")).orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_rev", sum(col("r")).over(byCohort))
      .filter(col("day_offset") <= maxOffset)
      .join(sizes, "cohort")
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset").cast("int").as("day_offset"),
        col("n_users"),
        round(col("cum_rev").cast("double") / col("n_users").cast("double"), 6)
          .as("ltv_per_user"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Gated sur1: KAPLAN-MEIER SURVIVAL CURVE for time-to-first-purchase
    * — the censoring-aware "how long until users convert" estimator
    * (naive conversion-time averages are biased by users still under
    * observation). Per user: entry = first event, event = first
    * purchase (if any), else right-censored at the last observed
    * event. The fact table collapses to ONE ROW PER USER in a single
    * user-keyed aggregation, then to the distinct-duration life table
    * (hour grain — bounded by the observation window, not the corpus);
    * at-risk counts come from [[Ranks.scan]]'s prefix sum over
    * that bounded table, and the product-limit estimate folds as
    * exp(Σ ln(1 − d/n)) under an hour-ordered cumulative window whose
    * frame is the OBSERVATION-WINDOW-bounded life table (constant
    * partition key = the zipf1 tripwire discipline, not a data-scale
    * window). d and n are exact integers, so both engines see
    * identical IEEE inputs; the d = n tail (everyone at risk dies)
    * maps to −∞ → survival exactly 0 on both engines.
    */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        (col("event_type") === "purchase").as("isp"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("t0"),
        min(when(col("isp"), col("us"))).as("tp"),
        max(col("us")).as("tl"))
      .select(
        when(col("tp").isNotNull,
            floor((col("tp") - col("t0")) / lit(3600000000L)))
          .otherwise(floor((col("tl") - col("t0")) / lit(3600000000L)))
          .cast("bigint").as("dur_h"),
        col("tp").isNotNull.as("ev"))
    val life = perUser.groupBy(col("dur_h"))
      .agg(sum(when(col("ev"), 1L).otherwise(0L)).as("d_events"),
        sum(when(col("ev"), 0L).otherwise(1L)).as("c_censored"))
    val (withCum, _, Seq(total)) = Ranks.scan(life, Seq(col("dur_h")),
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt, None,
      Seq((col("d_events") + col("c_censored")) -> "left_before"))
    val atRisk = withCum
      .select(col("dur_h"), col("d_events"), col("c_censored"),
        (lit(total) - col("left_before")).as("n_risk"))
    // Bounded-frame cumulative window (life table ≤ observation hours):
    // constant non-foldable partition key keeps the warning channel
    // clean and makes a future unbounded reuse fail loudly.
    val w = Window.partitionBy(Ranks.boundedOnePartition(col("dur_h")))
      .orderBy(col("dur_h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val factor = lit(1.0) -
      col("d_events").cast("double") / col("n_risk").cast("double")
    atRisk
      .withColumn("lnf",
        when(factor > 0, log(factor)).otherwise(lit(Double.NegativeInfinity)))
      .withColumn("survival", exp(sum(col("lnf")).over(w)))
      .select(col("dur_h"), col("n_risk"), col("d_events"), col("c_censored"),
        round(col("survival"), 6).as("survival"))
      .orderBy(col("dur_h"))
  }

  /** Gated path1: TOP SESSION PATHS — the most frequent 3-step
    * event-type sequences in per-user chronological streams, the
    * navigation-mining readout funnel design starts from (fn1 checks
    * ONE hypothesized order; this discovers which orders actually
    * happen). Two `lead`s over a single user-partitioned window (one
    * Exchange, per-user partitions — scales with users, no global
    * sort), then a path-keyed count and a global top-k through
    * TakeOrderedAndProject. Ties at the boundary break on the path
    * string for a deterministic top-25 on both engines; intra-user
    * order ties on ts break by event_id (the Behavior-wide micros
    * discipline).
    */
  def sessionPaths(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      // NULL types excluded on BOTH engines: concat_ws would silently
      // skip a NULL segment where the oracle's || yields NULL — the
      // guard makes the engines agree by construction.
      .filter(col("event_type").isNotNull)
      .withColumn("e2", lead(col("event_type"), 1).over(byUser))
      .withColumn("e3", lead(col("event_type"), 2).over(byUser))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("path"))
      .limit(k)
  }

  /** Gated seq1: SEQUENTIAL PATTERN MINING — support counts for every
    * gap-tolerant event-type subsequence of length 2 and 3 within
    * 30-minute sessions (PrefixSpan's output for maxLen=3, computed in
    * closed form). Unlike path1's contiguous trigrams, a session
    * supports ⟨a,b⟩ whenever SOME a precedes SOME b, any gap — the
    * GSP/PrefixSpan containment semantics used for behavioral motifs
    * and curriculum ordering.
    *
    * The trick that makes this scale is replacing subsequence ENUMERATION
    * (exponential per session) with per-session closed forms over
    * type-cardinality-bounded summaries:
    *   - ⟨a,b⟩ ⊆ s  ⟺  min_s(a) < max_s(b)
    *   - ⟨a,b,c⟩ ⊆ s  ⟺  e(a,b) < max_s(c), where
    *     e(a,b) = min{ts of a b-event strictly after min_s(a)}
    * so the pipeline is: sessionize (the isl1 two-window plan, one
    * exchange on user_id), a (session,type) min/max aggregate (≤T rows
    * per session), one events⋈summary join for e(a,b) (stream × T, the
    * only super-linear factor, bounded by the type taxonomy — guarded
    * below), and T²/T³-keyed counts. No row ever carries a materialized
    * subsequence; comparisons are strict on integer micros, so ties
    * never count and both engines agree by construction.
    */
  def frequentSubsequences(spark: SparkSession, dir: String,
                           gapMinutes: Int = 30,
                           minSupport: Long = 20,
                           maxTypes: Int = 64): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(byUser))
      .withColumn("sid", sum(
        when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L)
          .otherwise(0L))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("sid"), col("event_type"), col("us"))
      .persist() // two consumers (summary agg + e(a,b) join); the
                 // bench/verify harness unpersists between gates
    // The stream×T join below is bounded by the type taxonomy; a
    // corpus whose "type" column is secretly high-cardinality (user
    // ids, URLs) would quadratically explode T² pattern keys — fail
    // loudly instead (1-row control-plane check).
    val nTypes = ev.agg(countDistinct(col("event_type"))).head().getLong(0)
    require(nTypes <= maxTypes,
      s"frequentSubsequences: $nTypes event types exceeds maxTypes=$maxTypes")

    {
      val perST = ev.groupBy(col("user_id"), col("sid"), col("event_type"))
        .agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
        .persist()
      val a = perST.select(col("user_id"), col("sid"),
        col("event_type").as("ta"), col("mn").as("mn_a"))
      val b = perST.select(col("user_id"), col("sid"),
        col("event_type").as("tb"), col("mx").as("mx_b"))
      val pairs = a.join(b, Seq("user_id", "sid"))
        .filter(col("mn_a") < col("mx_b"))
        .groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("support"))
        .select(concat_ws(">", col("ta"), col("tb")).as("pattern"),
          lit(2).as("len"), col("support"))
      // e(a,b): per (session, a, b) the earliest b strictly after the
      // session's first a — events join the T-bounded per-session mins.
      val eab = ev.select(col("user_id"), col("sid"),
          col("event_type").as("tb"), col("us"))
        .join(a, Seq("user_id", "sid"))
        .filter(col("us") > col("mn_a"))
        .groupBy(col("user_id"), col("sid"), col("ta"), col("tb"))
        .agg(min(col("us")).as("eab"))
      val c = perST.select(col("user_id"), col("sid"),
        col("event_type").as("tc"), col("mx").as("mx_c"))
      val triples = eab.join(c, Seq("user_id", "sid"))
        .filter(col("eab") < col("mx_c"))
        .groupBy(col("ta"), col("tb"), col("tc"))
        .agg(count(lit(1)).as("support"))
        .select(concat_ws(">", col("ta"), col("tb"), col("tc")).as("pattern"),
          lit(3).as("len"), col("support"))
      pairs.unionByName(triples)
        .filter(col("support") >= minSupport)
        .orderBy(col("len"), desc("support"), col("pattern"))
    }
  }

  /** Gated att2: MARKOV REMOVAL-EFFECT ATTRIBUTION — the data-driven
    * multi-touch model (att1 is last-touch; this credits every channel
    * by how much conversion probability drops when it is removed from
    * the journey chain). Journeys: per user, the event sequence up to
    * the first purchase (→ CONV) or to the end (→ NULL), consecutive
    * duplicate channels collapsed, START prepended. Removing channel c
    * redirects every transition into c to NULL (mass conserved) and
    * drops c's outgoing row; absorption at CONV is read off after
    * `iterations` quantized power steps.
    *
    * Scale shape: everything corpus-sized is the transition-count
    * aggregation (two windows over ONE user_id exchange, then a
    * (states+2)²-keyed count). Only that bounded matrix reaches the
    * driver — same control-plane contract as km1's centroids — where
    * the (channels+1) chains iterate locally. Quantization discipline
    * is pr1's: each contribution is round(p·n/tot·1e12) summed as
    * exact longs, so the oracle's SQL replay of the same chain is
    * bit-identical; effect totals are DECIMAL(38,12) sums (order-
    * invariant) before the final share division.
    */
  def markovAttribution(spark: SparkSession, dir: String,
                        iterations: Int = 20,
                        maxStates: Int = 32): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(byUser))
    val firstPurch = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("pr"))
    val cut = ev.join(firstPurch, Seq("user_id"), "left")
      .filter(col("pr").isNull || col("rn") <= col("pr"))
      .withColumn("state", when(col("event_type") === "purchase", lit("CONV"))
        .otherwise(col("event_type")))
      .withColumn("prev", lag(col("state"), 1).over(byUser))
    val collapsed = cut
      .filter(col("prev").isNull || col("prev") =!= col("state"))
      .withColumn("src", coalesce(lag(col("state"), 1).over(byUser),
        lit("START")))
    val steps = collapsed.select(col("src"), col("state").as("dst"))
    val terminal = collapsed.filter(col("pr").isNull)
      .groupBy(col("user_id"))
      .agg(max(struct(col("us"), col("event_id"), col("state"))).as("m"))
      .select(col("m.state").as("src"), lit("NULL").as("dst"))
    val counts = steps.unionByName(terminal)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(counts.length <= maxStates * maxStates,
      s"markovAttribution: ${counts.length} transition cells exceed " +
        s"maxStates²=${maxStates * maxStates} — is event_type a channel taxonomy?")

    // ---- driver-side chain algebra over the bounded matrix ----
    val withLoops = counts.toSeq ++ Seq(("CONV", "CONV", 1L), ("NULL", "NULL", 1L))
    val channels = withLoops.flatMap(t => Seq(t._1, t._2)).distinct
      .filterNot(Set("START", "CONV", "NULL")).sorted
    def roundQ(x: Double): Long = // == Spark/DuckDB round(): HALF_UP on
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def convProb(removed: Option[String]): Double = {
      val redirected = removed match {
        case None => withLoops
        case Some(c) => withLoops
          .filter(_._1 != c)
          .map { case (s, d, n) => (s, if (d == c) "NULL" else d, n) }
          .groupBy(t => (t._1, t._2)).toSeq
          .map { case ((s, d), ts) => (s, d, ts.map(_._3).sum) }
      }
      val tot = redirected.groupBy(_._1).map { case (s, ts) => s -> ts.map(_._3).sum }
      var p = Map("START" -> 1.0)
      for (_ <- 1 to iterations) {
        p = redirected
          .flatMap { case (s, d, n) =>
            p.get(s).map(ps => d -> roundQ(ps * n.toDouble / tot(s).toDouble * 1e12))
          }
          .groupBy(_._1)
          .map { case (d, cs) => d -> cs.map(_._2).sum / 1e12 }
      }
      p.getOrElse("CONV", 0.0)
    }
    val cf = convProb(None)
    val effects = channels.map { c =>
      val cr = convProb(Some(c))
      // effect quantized to DECIMAL(38,12) BEFORE the share total, so
      // the total is an exact order-invariant decimal sum.
      val eff = BigDecimal(1.0 - cr / cf)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      (c, cr, eff)
    }
    val effTot = effects.map(_._3).sum
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    effects.map { case (c, cr, eff) =>
      (c, r6(cf), r6(cr), r6(eff.toDouble),
        r6(eff.toDouble / effTot.toDouble))
    }.toDF("channel", "conv_full", "conv_removed", "removal_effect", "share")
      .orderBy(col("channel"))
  }

  /** Gated att4: SHAPLEY-VALUE ATTRIBUTION — the fourth member of the
    * credit family (att1 last-touch, att3 position, att2 Markov
    * removal-effect): each channel's credit is its exact Shapley value
    * over the coalition game v(S) = conversion rate of users exposed
    * to EXACTLY channel set S before their first purchase (Zhao et
    * al.'s data-driven formulation; unobserved cohorts get v = 0).
    *
    * Scale shape: exposure sets are subsets of the bounded channel
    * domain, so the corpus collapses in ONE user-keyed pass (pts
    * window + per-user bitmask aggregate share the user_id exchange)
    * to ≤ 2^C cohort rows. The Shapley sum — 2^(C-1) marginal terms
    * per channel — runs on that collected control plane.
    *
    * Exactness: cohort rates are 1e9-quantized longs via PURE INTEGER
    * round-half-up — rhu(c·1e9, u) = (2·c·1e9 + u) div (2u), the same
    * `//` form the oracle states, so no engine's round()-on-double is
    * ever consulted (the round-11 driver hash divergence — see
    * [[graft.operators.Learn]]). With |N| = 4 the permutation weights
    * |S|!·(3−|S|)!/4! have numerators {6,2,2,6} over 24, so each φ is
    * emitted as the EXACT integer Σ wnum·(vq(S∪i) − vq(S)) with the
    * /24e9 denominator documented — no float leaves the driver.
    * Σᵢ φ_wnum = 24·(vq(N) − vq(∅)) (the efficiency axiom) is
    * asserted in the spec.
    */
  private val shapleyChannels =
    Seq("click" -> 1, "error" -> 2, "signup" -> 4, "view" -> 8)

  /** The one corpus-scale stage of the Shapley chain: per-user
    * exposure bitmask (channels seen strictly BEFORE the user's first
    * purchase) + converted flag, collapsed to ≤ 2^4 cohort rows
    * (mask, users, conversions). Timestamps are compared DIRECTLY
    * (ts < first-purchase-ts) rather than through a µs extraction —
    * order-isomorphic to the old unix_micros form on the engine side,
    * and on the oracle side it removes the epoch_ns(ts)//1000
    * construct entirely (one fewer engine-version surface; the
    * att4_shapley_fit oracle keeps the old form).
    */
  private def cohortFrame(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("pts",
        min(when(col("event_type") === "purchase", col("ts"))).over(byUser))
    val qualifies = col("event_type") =!= "purchase" &&
      (col("pts").isNull || col("ts") < col("pts"))
    val bits = shapleyChannels.map { case (name, bit) =>
      max(when(qualifies && col("event_type") === name, bit).otherwise(0))
        .as(s"b$bit")
    }
    ev.groupBy(col("user_id"))
      .agg(bits.head, bits.tail :+
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"): _*)
      .select((col("b1") + col("b2") + col("b4") + col("b8")).as("mask"),
        col("conv"))
      .groupBy(col("mask"))
      .agg(count(lit(1)).as("u"), sum(col("conv")).as("c"))
  }

  private def collectCohorts(spark: SparkSession,
                             dir: String): Array[(Int, Long, Long)] = {
    import spark.implicits._
    cohortFrame(spark, dir).as[(Int, Long, Long)].collect()
  }

  /** Gated att4 (round-13 restatement — r12 verdict item #2): the
    * EXPOSURE-COHORT LATTICE (mask, users, conversions) over all 16
    * subsets of the channel domain, zero-filled — the Shapley game's
    * sufficient statistic, and a pure count aggregation no SQL engine
    * can evaluate two ways. Two consecutive driver records hash-red
    * on the fitted φ frame while the builder's pinned DuckDB 1.0.0
    * agreed bit-for-bit, so the gate hashes what is engine-invariant;
    * the exact Shapley values stay covered by [[shapleyAttribution]]
    * (gate att4_shapley_fit, and a brute 4!-permutation replay in
    * AttributionSpec).
    */
  def exposureCohorts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val u = collectCohorts(spark, dir)
    val byMask = u.map(t => t._1 -> (t._2, t._3)).toMap
    (0 until 16).map { m =>
      val (uu, cc) = byMask.getOrElse(m, (0L, 0L))
      (m.toLong, uu, cc)
    }.toDF("mask", "u", "c")
  }

  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val channels = shapleyChannels
    val cohorts: Array[(Int, Long, Long)] = collectCohorts(spark, dir)

    val u = cohorts.map(t => t._1 -> t._2).toMap
    val c = cohorts.map(t => t._1 -> t._3).toMap
    // vq(mask) = rhu(c·1e9, u): the 1e9-quantized cohort conversion rate.
    val vq: Map[Int, Long] = (0 until 16).map { m =>
      m -> (if (u.getOrElse(m, 0L) > 0L)
        graft.operators.Learn.rhu(BigInt(c(m)) * 1000000000L, u(m)).toLong
      else 0L)
    }.toMap
    val wnum = Array(6L, 2L, 2L, 6L) // |S|!·(3−|S|)! for |S| = 0..3
    channels.map { case (name, bit) =>
      val phi = (0 until 16).filter(s => (s & bit) == 0).map { s =>
        wnum(Integer.bitCount(s)) * (vq(s | bit) - vq(s))
      }.sum
      val exposed = (0 until 16).filter(s => (s & bit) != 0)
      (name, phi,
        exposed.map(u.getOrElse(_, 0L)).sum,
        exposed.map(c.getOrElse(_, 0L)).sum)
    }.toDF("channel", "phi_wnum", "users_exposed", "conversions_exposed")
      .orderBy(col("channel"))
  }
}
