package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Statistical-inference and model-diagnostics operators (round 8c):
  * Welch's t-test (wt1), Mann-Whitney U with tie correction (mw1),
  * weight-of-evidence / information-value binning (woe1), lagged
  * cross-correlation between two event series (xc1), Holt linear-trend
  * smoothing as a higher-order-function fold (hw1), degree
  * assortativity of the co-purchase graph (ga1), and association-rule
  * confidence/lift over frequent pairs (ar1).
  *
  * Numeric discipline (the cross-engine hash contract): integer
  * sufficient statistics accumulate exactly (BIGINT / DECIMAL(38,x)),
  * every double expression is spelled with the IDENTICAL operation
  * order in the DuckDB oracle, and outputs round to 6 places. Scale
  * shape: every operator here folds the fact table to per-group
  * sufficient statistics FIRST (map-side combinable), then finishes
  * the formula on group-cardinality frames.
  */
object Stats {

  /** Gated wt1: WELCH'S T-TEST between two event types' values — the
    * unequal-variance two-sample test an experimentation pipeline runs
    * when variance homogeneity can't be assumed. One conditional
    * aggregation produces both groups' (n, Σv, Σv²) in a single scan;
    * t and the Welch–Satterthwaite dof are closed-form arithmetic on
    * the 1-row result. Sums accumulate in DECIMAL (exact,
    * order-invariant); every double step mirrors the oracle
    * term-for-term.
    */
  def welchTTest(spark: SparkSession, dir: String,
                 typeA: String = "purchase", typeB: String = "click"): DataFrame = {
    val isA = col("event_type") === typeA
    val agg = Tables.events(spark, dir)
      .filter(col("event_type").isin(typeA, typeB))
      .agg(
        sum(when(isA, 1L).otherwise(0L)).as("na"),
        sum(when(isA, col("value").cast("decimal(30,6)"))
          .otherwise(lit(0).cast("decimal(30,6)"))).as("sa"),
        sum(when(isA, (col("value") * col("value")).cast("decimal(38,6)"))
          .otherwise(lit(0).cast("decimal(38,6)"))).as("qa"),
        sum(when(isA, 0L).otherwise(1L)).as("nb"),
        sum(when(isA, lit(0).cast("decimal(30,6)"))
          .otherwise(col("value").cast("decimal(30,6)"))).as("sb"),
        sum(when(isA, lit(0).cast("decimal(38,6)"))
          .otherwise((col("value") * col("value")).cast("decimal(38,6)"))).as("qb"))
    def d(c: String) = col(c).cast("double")
    val ma = d("sa") / d("na")
    val mb = d("sb") / d("nb")
    val va = (d("qa") - d("na") * ma * ma) / (d("na") - 1)
    val vb = (d("qb") - d("nb") * mb * mb) / (d("nb") - 1)
    val sea = va / d("na")
    val seb = vb / d("nb")
    agg.select(
      col("na").cast("bigint").as("n_a"),
      col("nb").cast("bigint").as("n_b"),
      round(ma, 6).as("mean_a"),
      round(mb, 6).as("mean_b"),
      round(va, 6).as("var_a"),
      round(vb, 6).as("var_b"),
      round((ma - mb) / sqrt(sea + seb), 6).as("t_stat"),
      round((sea + seb) * (sea + seb)
        / (sea * sea / (d("na") - 1) + seb * seb / (d("nb") - 1)), 6).as("dof"))
  }

  /** Gated mw1: MANN-WHITNEY U (Wilcoxon rank-sum) with mid-rank tie
    * handling and the tie-corrected normal approximation — the
    * nonparametric A/B readout when values are skewed. The scale move:
    * ranks are never materialized per ROW — the fact table collapses
    * to the DISTINCT-VALUE table (cntA, cntB per value), and the
    * rank-sum folds over it using [[Ranks.scan]]
    * (range exchange + per-partition scan — no single-partition
    * window however many distinct values exist). The half-rank sum
    * Σ cntA·(2·cumBefore + cnt + 1) stays in exact DECIMAL integers;
    * doubles appear only in the final closed form.
    */
  def mannWhitneyU(spark: SparkSession, dir: String,
                   typeA: String = "purchase", typeB: String = "click"): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("value"), (col("event_type") === typeA).as("isa"))
    val g = ev.groupBy(col("value"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("isa"), 0L).otherwise(1L)).as("cb"))
    val (withCum, _, _) = Ranks.scan(g, Seq(col("value")),
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt, None,
      Seq((col("ca") + col("cb")) -> "cum_before"))
    val agg = withCum.agg(
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      // Σ ca·(2·cumBefore + ca + cb + 1): twice the mid-rank sum of
      // group A, exact integers (DECIMAL(38,0) headroom to ~1e38).
      sum((col("ca") * (col("cum_before") * 2 + col("ca") + col("cb") + 1))
        .cast("decimal(38,0)")).as("r2"),
      // Tie correction Σ (t³ − t) over tied values.
      sum(((col("ca") + col("cb")) * (col("ca") + col("cb"))
        * (col("ca") + col("cb")) - (col("ca") + col("cb")))
        .cast("decimal(38,0)")).as("ties"))
    def d(c: String) = col(c).cast("double")
    val n = d("na") + d("nb")
    val u = d("r2") / 2 - d("na") * (d("na") + 1) / 2
    val mu = d("na") * d("nb") / 2
    val sigma = sqrt(d("na") * d("nb") / 12
      * ((n + 1) - d("ties") / (n * (n - 1))))
    agg.select(
      col("na").cast("bigint").as("n_a"),
      col("nb").cast("bigint").as("n_b"),
      round(u, 6).as("u_stat"),
      round((u - mu) / sigma, 6).as("z_score"))
  }

  /** Gated woe1: WEIGHT OF EVIDENCE / INFORMATION VALUE over price
    * bins — the credit-scoring-style diagnostic for how strongly a
    * binned feature separates a binary target (here: order price bands
    * vs finalized status). One binned aggregation plus a broadcast
    * 1-row totals frame; Laplace +0.5 smoothing keeps empty cells
    * finite. ln() is the only transcendental — same IEEE input on
    * both engines, rounded to 6.
    */
  def weightOfEvidence(spark: SparkSession, dir: String,
                       binWidth: Double = 50000.0): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") / binWidth).cast("int").as("bin"),
        (col("o_orderstatus") === "F").as("pos"))
    val byBin = o.groupBy(col("bin"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg"))
    val tot = byBin.agg(sum(col("n_pos")).as("tp"), sum(col("n_neg")).as("tn"))
    def d(c: String) = col(c).cast("double")
    val pp = (d("n_pos") + 0.5) / d("tp")
    val pn = (d("n_neg") + 0.5) / d("tn")
    val woe = log(pp) - log(pn)
    byBin.crossJoin(broadcast(tot))
      .select(col("bin"),
        col("n_pos").cast("bigint").as("n_pos"),
        col("n_neg").cast("bigint").as("n_neg"),
        round(woe, 6).as("woe"),
        round((pp - pn) * woe, 6).as("iv_term"))
      .orderBy(col("bin"))
  }

  /** Gated xc1: LAGGED CROSS-CORRELATION between two event types'
    * hourly series (does click volume lead purchase volume?). The
    * series are hour-grain aggregates (bounded spine); each lag is an
    * equi-join shift on the integer hour index, and the Pearson
    * closed form follows acf1's audited discipline exactly — integer
    * products accumulate in DECIMAL(38,0) (BIGINT squares overflow at
    * corpus scale), doubles enter only per sufficient statistic.
    */
  def laggedCrossCorrelation(spark: SparkSession, dir: String,
                             typeX: String = "click", typeY: String = "purchase",
                             maxLag: Int = 6): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .filter(col("event_type").isin(typeX, typeY))
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000L")
        .as("hi"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val x = hourly.filter(col("event_type") === typeX)
      .select(col("hi"), col("n").as("x"))
    val y = hourly.filter(col("event_type") === typeY)
      .select(col("hi").as("hiy"), col("n").as("y"))
    val lagDf = spark.createDataFrame(
      (0 to maxLag).map(l => Tuple1(l))).toDF("lag_hours")
    x.join(broadcast(lagDf))
      .join(y, col("hiy") === col("hi") + col("lag_hours")) // y lags x
      .groupBy(col("lag_hours"))
      .agg(count(lit(1)).as("np"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .select(col("lag_hours"), col("np").as("n_pairs"), {
        def d(c: String) = col(c).cast("double")
        round((d("np") * d("sxy") - d("sx") * d("sy"))
          / (sqrt(d("np") * d("sxx") - d("sx") * d("sx"))
            * sqrt(d("np") * d("syy") - d("sy") * d("sy"))),
          6).as("xcorr")
      })
      .orderBy(col("lag_hours"))
  }

  /** Gated hw1: HOLT LINEAR-TREND smoothing per event type — the
    * level+trend forecast one step past the series end. The recurrence
    * is inherently sequential, so it runs as a HIGHER-ORDER-FUNCTION
    * fold (`aggregate`) over each type's hour-ordered count array
    * inside one codegen'd projection: state (l, b) starts at
    * (x₁, x₂−x₁) and folds x₂..xₙ with l' = α·x + (1−α)(l+b),
    * b' = β(l'−l) + (1−β)b. Series are per-type hour counts (bounded
    * spine: one array per GROUP, thousands of entries — never the
    * fact table); at 100 TB the grouping still collapses before any
    * array exists. α=0.5, β=0.3 spelled identically in the oracle's
    * recursive CTE so every IEEE step matches bit-for-bit.
    */
  def holtLinearTrend(spark: SparkSession, dir: String,
                      alpha: Double = 0.5, beta: Double = 0.3): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000L").as("hi"))
      .agg(count(lit(1)).as("n"))
    val series = hourly.groupBy(col("event_type"))
      .agg(transform(sort_array(collect_list(struct(col("hi"), col("n")))),
        s => s.getField("n").cast("double")).as("xs"))
      .filter(size(col("xs")) >= 2)
    val x1 = element_at(col("xs"), 1)
    val x2 = element_at(col("xs"), 2)
    // Complement-free update forms (no 1−α / 1−β literals: a computed
    // complement like 1−0.3 can round-to-even AWAY from the SQL literal
    // 0.7, so neither side ever materializes one):
    //   l' = (l+b) + α·(x − (l+b));  b' = b + β·((l'−l) − b)
    val state = aggregate(
      slice(col("xs"), lit(2), size(col("xs")) - 1),
      struct(x1.as("l"), (x2 - x1).as("b")),
      (acc, xv) => {
        val lp = acc.getField("l") + acc.getField("b")
        val lNew = lp + lit(alpha) * (xv - lp)
        struct(lNew.as("l"),
          (acc.getField("b")
            + lit(beta) * ((lNew - acc.getField("l")) - acc.getField("b")))
            .as("b"))
      })
    series.select(col("event_type"),
      size(col("xs")).cast("bigint").as("n_hours"),
      round(state.getField("l"), 6).as("level"),
      round(state.getField("b"), 6).as("trend"),
      round(state.getField("l") + state.getField("b"), 6).as("forecast_next"))
      .orderBy(col("event_type"))
  }

  /** Gated ga1: DEGREE ASSORTATIVITY of the part co-purchase graph —
    * the Pearson correlation of endpoint degrees over directed edges
    * (both orientations), the standard "do hubs connect to hubs"
    * diagnostic for curation graphs. Degrees come from one aggregation
    * of the edge list; the node-cardinality degree table broadcasts
    * back onto edges; the correlation reduces to DECIMAL sufficient
    * statistics (degree products overflow BIGINT at corpus scale).
    */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame =
      Graph.withoutAqe(spark) { Pins.local(spark) { p =>
    val e = Graph.copurchaseEdges(spark, dir)
    // Both orientations: assortativity is defined over the directed
    // double cover of an undirected graph.
    val directed = p(e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst"))))
    val deg = directed.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val paired = directed
      .join(broadcast(deg.select(col("src"), col("d").as("du"))), "src")
      .join(broadcast(deg.select(col("src").as("dst"), col("d").as("dv"))), "dst")
    // The 1-row result is collected INSIDE the scope: returning the
    // lazy frame would re-execute the whole chain unpinned, outside the
    // AQE scope.
    paired.agg(count(lit(1)).as("np"),
        sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
        sum(col("du").cast("decimal(38,0)") * col("dv")).as("sxy"),
        sum(col("du").cast("decimal(38,0)") * col("du")).as("sxx"),
        sum(col("dv").cast("decimal(38,0)") * col("dv")).as("syy"))
      .select(col("np").cast("bigint").as("n_directed_edges"), {
        def d(c: String) = col(c).cast("double")
        round((d("np") * d("sxy") - d("sx") * d("sy"))
          / (sqrt(d("np") * d("sxx") - d("sx") * d("sx"))
            * sqrt(d("np") * d("syy") - d("sy") * d("sy"))),
          6).as("assortativity")
      })
  }} // withoutAqe (round 12: single-shot, but AQE's per-exchange query
    // stages made this 19 jobs; statically planned it is ~4)

  /** Gated ar1: ASSOCIATION RULES over frequent basket pairs —
    * confidence and lift for each frequent (a → b) co-purchase pair,
    * the step after fi1's support counting that turns counts into
    * actionable rules. Item supports are a node-cardinality aggregate
    * broadcast onto the (already support-filtered) pair list; both
    * rule directions emit from one pair row. Ratios divide exact
    * BIGINT counts, rounded to 6.
    */
  def associationRules(spark: SparkSession, dir: String,
                       minSupport: Long = 3): DataFrame = {
    val i = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val nBaskets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey")).distinct().count()
    val itemSupp = i.groupBy(col("l_partkey")).agg(count(lit(1)).as("supp"))
    val pairs = i.as("a").join(i.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey")
          && col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= minSupport)
    val both = pairs
      .select(col("pa").as("ante"), col("pb").as("cons"), col("supp_ab"))
      .unionAll(pairs
        .select(col("pb").as("ante"), col("pa").as("cons"), col("supp_ab")))
    both
      .join(broadcast(itemSupp.select(col("l_partkey").as("ante"),
        col("supp").as("supp_a"))), "ante")
      .join(broadcast(itemSupp.select(col("l_partkey").as("cons"),
        col("supp").as("supp_c"))), "cons")
      .select(col("ante"), col("cons"),
        col("supp_ab").cast("bigint").as("supp_ab"),
        round(col("supp_ab").cast("double") / col("supp_a").cast("double"), 6)
          .as("confidence"),
        round(col("supp_ab").cast("double") * nBaskets
          / (col("supp_a").cast("double") * col("supp_c").cast("double")), 6)
          .as("lift"))
      .orderBy(desc("supp_ab"), col("ante"), col("cons"))
  }

  /** Gated anova1: ONE-WAY ANOVA F-TEST across event types' values —
    * the k-group generalization of wt1's two-sample comparison (the
    * "does ANY variant differ" gate an experimentation pipeline runs
    * before pairwise tests). One conditional aggregation collapses the
    * fact table to k rows of (n, Σv, Σv²) in exact DECIMAL; the
    * between/within sums fold over those k rows through DECIMAL(38,18)
    * (order-invariant — a plain double sum over group rows would
    * depend on task scheduling); F and the dofs are closed-form on the
    * 1-row result. Scale cost = one scan.
    */
  def anovaOneWay(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ng"),
        sum(col("value").cast("decimal(30,6)")).as("sg"),
        sum((col("value") * col("value")).cast("decimal(38,6)")).as("qg"))
    def decSum(c: Column): Column = sum(c.cast("decimal(38,18)")).cast("double")
    val ngd = col("ng").cast("double")
    val sgd = col("sg").cast("double")
    val qgd = col("qg").cast("double")
    val agg = g.agg(
      count(lit(1)).as("k"), sum(col("ng")).as("n"),
      decSum(sgd).as("s_tot"),
      // Σ_g S_g²/n_g and Σ_g (Q_g − S_g²/n_g): the two folded terms of
      // SSB and SSW, each deterministic per group row.
      decSum(sgd * sgd / ngd).as("ssq_over_n"),
      decSum(qgd - sgd * sgd / ngd).as("ssw"))
    def d(c: String) = col(c).cast("double")
    val ssb = d("ssq_over_n") - d("s_tot") * d("s_tot") / d("n")
    val f = (ssb / (d("k") - 1)) / (d("ssw") / (d("n") - d("k")))
    agg.select(
      col("k").cast("bigint").as("k_groups"),
      col("n").cast("bigint").as("n_rows"),
      round(ssb, 6).as("ss_between"),
      round(d("ssw"), 6).as("ss_within"),
      round(f, 6).as("f_stat"),
      (col("k") - 1).cast("bigint").as("df1"),
      (col("n") - col("k")).cast("bigint").as("df2"))
  }

  /** Gated mkt1: MANN-KENDALL TREND TEST + THEIL-SEN SLOPE over the
    * daily-revenue series — the distribution-free "is this metric
    * actually trending" readout monitoring pipelines prefer to OLS
    * (ols1) because one outlier day can't drag it. The fact table
    * collapses to the day-keyed spine FIRST (revenue in exact BIGINT
    * cents via a DECIMAL(38,0) sum), so the O(n²) pair stage runs on a
    * CALENDAR-bounded frame (~2.4k days → ~3M pairs) regardless of
    * corpus size — broadcast the spine, never the facts. S is a pure
    * integer sign-sum; Var(S) takes the standard tie correction from
    * the value-tie groups; Theil-Sen is the exact interpolated median
    * of pairwise slopes (both engines sort the same ~3M doubles).
    */
  def mannKendallTrend(spark: SparkSession, dir: String): DataFrame =
      Pins.local(spark) { p =>
    // spine: ≤ calendar-days rows, read by three consumers
    val series = p(Tables.orders(spark, dir)
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
        .cast("bigint").as("di"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        .cast("decimal(38,0)")).cast("bigint").as("rev")))
    val a = series.select(col("di").as("i"), col("rev").as("ri"))
    val b = series.select(col("di").as("j"), col("rev").as("rj"))
    // Slope spelled once, identically to the oracle's expression; the
    // histogram-refinement median scans the pairs 2-3×.
    val pairs = p(broadcast(a).join(b, col("i") < col("j"))
      .select(col("ri"), col("rj"),
        expr("(CAST(rj - ri AS DOUBLE) / 100.0D) / CAST(j - i AS DOUBLE)")
          .as("slope")))
    val sAgg = pairs.agg(
      sum(when(col("rj") > col("ri"), 1L)
        .when(col("rj") < col("ri"), -1L).otherwise(0L)).as("s_stat"))
    // Exact interpolated median via scan-bounded histogram
    // refinement (x3 discipline) — `percentile` would buffer every
    // distinct slope in ONE aggregation buffer, which is exactly
    // the single-funnel shape this module exists to avoid.
    val Seq((_, Seq(med))) =
      Quantiles.exactQuantiles(pairs, "slope", Seq("m" -> 0.5))
    val nDays = series.agg(count(lit(1)).as("n_days"))
    val ties = series.groupBy(col("rev")).agg(count(lit(1)).as("t"))
      .filter(col("t") > 1)
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)),
        lit(0L)).as("tie_sum"))
    def d(c: String) = col(c).cast("double")
    val varS = (d("n_days") * (d("n_days") - 1) * (d("n_days") * 2 + 5)
      - d("tie_sum")) / 18.0
    sAgg.crossJoin(nDays).crossJoin(ties) // three 1-row frames
      .select(col("n_days"), col("s_stat"),
        round(varS, 6).as("var_s"),
        round(when(col("s_stat") > 0, (d("s_stat") - 1) / sqrt(varS))
          .when(col("s_stat") < 0, (d("s_stat") + 1) / sqrt(varS))
          .otherwise(lit(0.0)), 6).as("z_score"),
        round(lit(med), 6).as("theil_sen_slope"))
  }

  /** Gated spear1: SPEARMAN rank correlation between extended price
    * and quantity over the full lineitem — the monotone-association
    * complement to Pearson (x9/cor1): invariant to any monotone
    * transform and robust to heavy tails, the standard first check
    * when a relationship is suspected nonlinear.
    *
    * Exactness and scale in one move: the average rank of a value
    * (ties averaged, the Spearman convention) is fully determined by
    * the DISTINCT-value count table — min_rank = #smaller + 1,
    * max_rank = #smaller + #equal — so ranks come from an exclusive
    * prefix sum over the distinct-value spine
    * ([[Ranks.scan]]: range exchange + driver offset
    * fold, never a single-partition window), and `2·avgRank =
    * 2·#smaller + #equal + 1` stays a BIGINT. Rows then join their
    * doubled ranks back by value (shuffle join on the value key;
    * the rank tables are distinct-cardinality, not row-cardinality)
    * and one aggregation folds the five DECIMAL-exact sums Pearson-
    * over-ranks needs. Double math only at the final 1-row formula —
    * both engines see identical integer sums, so the rounded rho is
    * bit-stable.
    */
  def spearmanCorr(spark: SparkSession, dir: String, np: Int = 32): DataFrame = {
    val rows = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").as("xv"), col("l_quantity").as("yv"))
    // Doubled average rank (BIGINT) per distinct value of `c`.
    def rank2(df: DataFrame, c: String, out: String): DataFrame = {
      val g = df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      Ranks.scan(g, Seq(col(c)), np, None, Seq(col("cnt") -> "nless"))._1
        .select(col(c),
          (col("nless") * 2 + col("cnt") + 1).cast("long").as(out))
    }
    val rx = rank2(rows, "xv", "a")
    val ry = rank2(rows, "yv", "b")
    def dec(e: Column): Column = sum(e).cast("double")
    // Operands cast to DECIMAL BEFORE the product: 2·avgRank reaches
    // 2n, so a BIGINT square overflows around n ≈ 1.5e9 rows — well
    // inside 100 TB territory. DECIMAL(38,0) products stay exact.
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val s = rows.join(rx, "xv").join(ry, "yv").agg(
      count(lit(1)).cast("double").as("n"),
      dec(d38(col("a"))).as("sa"), dec(d38(col("b"))).as("sb"),
      dec(d38(col("a")) * d38(col("b"))).as("sab"),
      dec(d38(col("a")) * d38(col("a"))).as("saa"),
      dec(d38(col("b")) * d38(col("b"))).as("sbb"))
    s.select(
      round((col("n") * col("sab") - col("sa") * col("sb"))
        / (sqrt(col("n") * col("saa") - col("sa") * col("sa"))
          * sqrt(col("n") * col("sbb") - col("sb") * col("sb"))), 9)
        .as("spearman_rho"),
      col("n").cast("bigint").as("n"))
  }


  /** Gated conf1: SPLIT-CONFORMAL CALIBRATION — the
    * distribution-free prediction-interval recipe (Vovk et al.;
    * Angelopoulos & Bates 2023): on a calibration half, take the
    * ⌈(n+1)(1−α)⌉-th smallest nonconformity score (here |value −
    * per-type calibration median| in cents); the induced interval
    * then covers a fresh point with probability ≥ 1−α. The gate
    * reports the per-type threshold and the realized coverage on the
    * held-out half — the eval loop every scored-model pipeline runs.
    *
    * The k-th ORDER STATISTIC (not an interpolated quantile) is
    * computed scalably: scores collapse to (type, score) counts, a
    * DISTRIBUTED exclusive prefix sum over the total (type, score)
    * order ([[Ranks.scan]] — range exchange, no
    * single-partition window) gives cumulative counts, and qhat is
    * min{score : within-type cumulative ≥ k}. Medians ride the x3
    * histogram-refinement quantile engine. Everything the hash sees
    * is BIGINT counts, cents, or one rounded division.
    */
  def conformalCalibration(spark: SparkSession, dir: String,
                           alpha: Double = 0.1): DataFrame = {
    val out = Pins.local(spark) { p =>
      val s = p(Tables.events(spark, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("vc"),
          (col("event_id") % 2).as("half")))
      val cal = s.filter(col("half") === 0)
      val meds = Quantiles.exactQuantiles(cal, "vc", Seq("p50" -> 0.5),
          groupCols = Seq("event_type"))
        .map { case (key, vals) =>
          key.head.asInstanceOf[String] -> Quantiles.round6(vals.head) }
      def medCol: Column = meds.foldLeft(lit(Double.NaN)) {
        case (acc, (t, v)) => when(col("event_type") === t, lit(v)).otherwise(acc)
      }
      val scores = cal.select(col("event_type"),
        round(abs(col("vc") - medCol)).cast("long").as("sc"))
      val counts = scores.groupBy(col("event_type"), col("sc"))
        .agg(count(lit(1)).as("cnt"))
      val (pre, _, _) = Ranks.scan(counts, Seq(col("event_type"), col("sc")),
        np = 8, None, Seq(col("cnt") -> "pref"))
      val starts = pre.groupBy(col("event_type"))
        .agg(min(col("pref")).as("start"), sum(col("cnt")).as("ncal"))
      val withK = starts.withColumn("kk",
        ceil((col("ncal") + 1).cast("double") * lit(1.0 - alpha)).cast("long"))
      val qhat = pre.join(broadcast(withK), Seq("event_type"))
        .filter(col("pref") - col("start") + col("cnt") >= col("kk"))
        .groupBy(col("event_type"))
        .agg(min(col("sc")).as("qhat"))
      val cov = s.filter(col("half") === 1)
        .join(broadcast(qhat), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(round(abs(col("vc") - medCol)).cast("long") <= col("qhat"), 1)
            .otherwise(0)).as("n_cov"))
      withK.select(col("event_type"), col("ncal"))
        .join(qhat, Seq("event_type"))
        .join(cov, Seq("event_type"))
        .select(col("event_type"), col("ncal"),
          col("qhat").as("qhat_cents"), col("n_test"),
          round(col("n_cov").cast("double") / col("n_test"), 6).as("coverage"))
        .orderBy(col("event_type")) // one row per event type
    }
    Ranks.releaseAll() // the prefix-sum frames
    out
  }

  /** Gated iso1: ISOTONIC CALIBRATION (pool-adjacent-violators) of the
    * purchase rate against the event-value bucket — the standard
    * monotone-calibration pass for model scores (Zadrozny & Elkan
    * 2002). Rather than the sequential PAV sweep, the fit is computed
    * from its CLOSED MINIMAX FORM: fitted[i] = max_{k≤i} min_{j≥i}
    * mean(y over buckets k..j) — which is pure relational algebra once
    * the fact table has collapsed to a B-row bucket spine.
    *
    * Numeric contract: bucket (count, positives) are exact BIGINTs;
    * prefix sums over the ≤`bins`-row spine run under a pinned
    * single-partition window (bounded frame); every interval mean is a
    * division of two BIGINT-exact doubles, so both engines compute
    * identical IEEE values and the min/max lattice agrees everywhere —
    * round(6) applies only at output.
    *
    * Scale shape: ONE map-side-combinable aggregation reduces the
    * corpus to B rows; the O(B²) interval-mean frame and the O(B³)
    * minimax join are constant-size (B ≤ bins) broadcast work —
    * exactly the mkt1/spine discipline. At 100 TB the only cost that
    * grows is the first linear pass.
    */
  def isotonicCalibration(spark: SparkSession, dir: String,
                          binWidth: Double = 50.0, bins: Int = 10): DataFrame = {
    val g = Tables.events(spark, dir)
      .select(least(floor(col("value") / binWidth), lit(bins - 1))
          .cast("int").as("bin"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("s"))
    val spine = Window.partitionBy(pmod(hash(col("bin")), lit(1)))
      .orderBy(col("bin"))
    val c = g.withColumn("cn", sum(col("n")).over(spine))
      .withColumn("cs", sum(col("s")).over(spine))
    val k = c.select(col("bin").as("k"), col("n").as("kn"),
      col("s").as("ks"), col("cn").as("kcn"), col("cs").as("kcs"))
    val j = c.select(col("bin").as("j"), col("cn").as("jcn"),
      col("cs").as("jcs"))
    val pairs = k.join(j, col("k") <= col("j"))
      .select(col("k"), col("j"),
        ((col("jcs") - (col("kcs") - col("ks"))).cast("double")
          / (col("jcn") - (col("kcn") - col("kn"))).cast("double")).as("m"))
    val inner = g.select(col("bin").as("i"))
      .join(pairs, col("k") <= col("i") && col("j") >= col("i"))
      .groupBy(col("i"), col("k")).agg(min(col("m")).as("mn"))
    val fit = inner.groupBy(col("i").as("bin")).agg(max(col("mn")).as("fit"))
    g.join(fit, Seq("bin"))
      .select(col("bin"), col("n"),
        round(col("s").cast("double") / col("n").cast("double"), 6)
          .as("raw_rate"),
        round(col("fit"), 6).as("fitted_rate"))
      .orderBy(col("bin"))
  }

  /** Gated ridge1: MULTI-FEATURE RIDGE REGRESSION by normal equations
    * — (X'X + λI)β = X'y with the intercept unpenalized, fit to
    * extendedprice on (quantity, discount-cents). The whole fit is
    * ONE map-side-combinable aggregation (ten sufficient statistics:
    * the unique entries of X'X, X'y, and Σy²) followed by a
    * constant-size closed-form 3×3 adjugate solve INSIDE the plan —
    * no iteration, no driver round-trips, no transcendental anywhere.
    * Feature sums accumulate as DECIMALs over exact inputs (prices
    * and quantities are 2-decimal; discount is re-expressed in
    * integer cents), so the doubles entering the solve are identical
    * on any engine and any partitioning — the coefficient hash is
    * exact, not approximately right. This is the fit a 100 TB feature
    * pipeline can afford: one pass, nine numbers per partition.
    */
  /** Gated lev1: BROWN–FORSYTHE HOMOGENEITY OF VARIANCES — the
    * robust Levene variant: one-way ANOVA on |x − group MEDIAN|,
    * the assumption check that belongs BEFORE anova1/wt1 readouts
    * (classic ANOVA assumes equal variances; this tests it without
    * itself assuming normality). Group medians follow the TEXTBOOK
    * convention — for even group sizes the two middle order
    * statistics are averaged (matching DuckDB's `median`/
    * `quantile_cont(0.5)`) — computed exactly over the per-(group,
    * value) COUNT frame (corpus compresses to ≤ |value domain| rows
    * per group), where a per-group cumulative window + conditional
    * MINs at ranks ⌈n/2⌉ and ⌊n/2⌋+1 read off both middle order
    * statistics; the window is domain-bounded and partitioned, never
    * single-partition. Deviations are kept as
    * EXACT integers by doubling: z₂ = |2v − (m_lo + m_hi)| (an F
    * statistic is invariant under a global scaling of z, so the ×2
    * changes nothing); the F assembles from DECIMAL-exact per-group
    * sums with 9-dp-quantized between/within terms so the 5-term
    * sums are order-invariant.
    */
  def brownForsythe(spark: SparkSession, dir: String): DataFrame =
      Pins.local(spark) { p =>
    val f = p(Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("prio"),
        round(col("o_totalprice") * 100).cast("long").as("v")))
    // Medians over the per-(prio, value) COUNT frame: the corpus
    // compresses to at most |value domain| rows per group before any
    // window runs, so the per-prio cumulative window is bounded by the
    // price domain (cents), not corpus size — no global-order prefix
    // machinery needed, and the window is partitioned (one task per
    // group), never single-partition.
    val wCum = Window.partitionBy(col("prio")).orderBy(col("v"))
    val wGrp = Window.partitionBy(col("prio"))
    val cum = f.groupBy(col("prio"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cw", sum(col("cnt")).over(wCum))
      .withColumn("ng", sum(col("cnt")).over(wGrp))
    val med = cum
      .groupBy(col("prio"))
      .agg(
        min(when(col("cw") >= expr("(ng + 1) div 2"), col("v"))).as("m_lo"),
        min(when(col("cw") >= expr("ng div 2 + 1"), col("v"))).as("m_hi"))
      .withColumn("m2", col("m_lo") + col("m_hi"))
      .withColumn("median_cents", col("m2").cast("double") / lit(2.0))
    val z = f.join(broadcast(med), Seq("prio"))
      .select(col("prio"), abs(col("v") * 2 - col("m2")).as("z"))
    val g = z.groupBy(col("prio"))
      .agg(count(lit(1)).as("n"), sum(col("z")).as("sz"),
        sum(col("z").cast("decimal(38,0)") * col("z"))
          .cast("decimal(38,0)").as("szz"))
    val wAll = Window.partitionBy(Ranks.boundedOnePartition(col("prio")))
    val terms = g
      .withColumn("tn", sum(col("n")).over(wAll))
      .withColumn("tg", sum(col("sz")).over(wAll))
      .withColumn("kgrp", count(lit(1)).over(wAll))
      .withColumn("meang", col("sz").cast("double") / col("n"))
      .withColumn("grand", col("tg").cast("double") / col("tn"))
      // DECIMAL(38,9): the z2 (doubled-deviation) sums of squares reach
      // ~6e19 at the sf1 rehearsal corpus — (28,9) holds only ~1e19
      // integer mass and threw NUMERIC_VALUE_OUT_OF_RANGE there.
      .withColumn("ssb", round(col("n") * ((col("meang") - col("grand"))
        * (col("meang") - col("grand"))), 9).cast("decimal(38,9)"))
      .withColumn("ssw", round(col("szz").cast("double")
        - col("sz").cast("double") * col("sz") / col("n"), 9)
        .cast("decimal(38,9)"))
    val fstat = terms.groupBy(col("kgrp"), col("tn"))
      .agg(sum(col("ssb")).as("ssbt"), sum(col("ssw")).as("sswt"))
      .select(round((col("ssbt").cast("double") / (col("kgrp") - 1))
        / (col("sswt").cast("double") / (col("tn") - col("kgrp"))), 6)
        .as("bf_f"))
    terms.join(broadcast(med), Seq("prio"))
      .select(col("prio"), col("n").cast("bigint").as("n_rows"),
        col("median_cents"),
        // meang is the mean of the DOUBLED deviations; halve for the
        // published readout (binary halving is exact)
        round(col("meang") / 2, 6).as("mean_absdev"))
      .crossJoin(broadcast(fstat))
      .orderBy(col("prio"))
  }

  /** Gated maha1: MAHALANOBIS OUTLIERS on the per-customer
    * (order-count, spend) profile — the multivariate complement of
    * od1 (univariate MAD) and lof1 (local density): distance is
    * measured in covariance-whitened units, so a customer who is
    * moderately extreme on BOTH correlated axes scores higher than
    * one extreme on a single axis (the case marginal z-scores miss).
    * Exact DECIMAL sufficient sums → the 2×2 covariance and its
    * closed-form inverse in pinned double order → per-row d² inside
    * the plan → one TakeOrdered top-k. Two aggregations and a
    * broadcast of five scalars, whatever the customer count.
    */
  def mahalanobisOutliers(spark: SparkSession, dir: String,
                          k: Int = 10): DataFrame = Pins.local(spark) { p =>
    val f = p(Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("y")))
    val m = f.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
      .select(
        (col("sx") / col("n")).as("mx"), (col("sy") / col("n")).as("my"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("vxx"),
        ((col("syy") - col("sy") * col("sy") / col("n")) / (col("n") - 1)).as("vyy"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1)).as("vxy"))
    val dx = col("x") - col("mx")
    val dy = col("y") - col("my")
    f.crossJoin(broadcast(m))
      .select(col("k").as("custkey"),
        round((dx * dx * col("vyy") - lit(2.0) * dx * dy * col("vxy")
          + dy * dy * col("vxx"))
          / (col("vxx") * col("vyy") - col("vxy") * col("vxy")), 6)
          .as("mahalanobis_sq"))
      .orderBy(desc("mahalanobis_sq"), asc("custkey"))
      .limit(k)
  }

  /** Gated cor2: PARTIAL CORRELATION r_xy·z — the confounder-adjusted
    * association (does quantity relate to price once discount is held
    * fixed), from the closed form over the three pairwise Pearson
    * correlations: r_xy·z = (r_xy − r_xz·r_yz)/√(1−r_xz²)√(1−r_yz²).
    * ONE aggregation of ten DECIMAL-exact sufficient sums (ridge1's
    * discipline — products widened before summing so no partitioning
    * can change a bit), then pinned double assembly. cor1 gives the
    * raw matrix; this is the inference step people actually take
    * next.
    */
  def partialCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.lineitem(spark, dir).select(
      col("l_quantity").cast("decimal(30,2)").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"),
      round(col("l_discount") * 100).cast("long").as("z"))
    val s = f.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("z")).cast("double").as("sz"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(col("y").cast("decimal(38,0)") * col("y")).cast("double").as("syy"),
      sum(col("z") * col("z")).cast("double").as("szz"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("x") * col("z")).cast("double").as("sxz"),
      sum(col("y") * col("z")).cast("double").as("syz"))
    def r(sab: Column, sa: Column, sb: Column,
          saa: Column, sbb: Column): Column =
      (col("n") * sab - sa * sb) /
        (sqrt(col("n") * saa - sa * sa) * sqrt(col("n") * sbb - sb * sb))
    val rxy = r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
    val rxz = r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
    val ryz = r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
    s.select(col("n").cast("bigint").as("n_rows"),
      round(rxy, 9).as("r_xy"), round(rxz, 9).as("r_xz"),
      round(ryz, 9).as("r_yz"),
      round((rxy - rxz * ryz)
        / (sqrt(lit(1.0) - rxz * rxz) * sqrt(lit(1.0) - ryz * ryz)), 9)
        .as("r_xy_given_z"))
  }

  /** Gated gini2: OPTIMAL BINARY SPLIT by weighted Gini impurity —
    * the decision-stump / supervised-discretization primitive: scan
    * every candidate threshold on price and report the one minimizing
    * left/right class impurity for the return flag. The scan that
    * looks like "sort everything through one task" runs as: one
    * groupBy to the distinct-value spine, two distributed exclusive
    * prefix sums ([[Ranks.scan]] — no single-
    * partition window), per-row impurity arithmetic, and ONE
    * min(struct) reduce for the argmin. Impurities are rounded to
    * 12 dp so the argmin tie-break (then lowest threshold) is
    * engine-stable.
    */
  def bestGiniSplit(spark: SparkSession, dir: String): DataFrame = {
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val f = Tables.lineitem(spark, dir).select(
      round(col("l_extendedprice") * 100).cast("long").as("v"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("pos"))
    val g = f.groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("p"))
    // BOTH running sums and their grand totals in one ranged pass:
    // one lineitem scan + one groupBy + one range exchange, join-free.
    val (pre, _, Seq(tn, tp)) = Ranks.scan(g, Seq(col("v").asc), np, None,
      Seq(col("cnt") -> "cn_ex", col("p") -> "cp_ex"))
    val j = pre
      .select(col("v"), (col("cn_ex") + col("cnt")).as("cn"),
        (col("cp_ex") + col("p")).as("cp"),
        lit(tn).as("tn"), lit(tp).as("tp"))
      .filter(col("cn") < col("tn"))
    val pl = col("cp").cast("double") / col("cn")
    val pr = (col("tp") - col("cp")).cast("double") / (col("tn") - col("cn"))
    val wg = round(
      (col("cn").cast("double") / col("tn")) * (lit(2.0) * pl * (lit(1.0) - pl))
        + ((col("tn") - col("cn")).cast("double") / col("tn"))
          * (lit(2.0) * pr * (lit(1.0) - pr)), 12)
    j.select(col("v"), wg.as("wg"))
      .agg(min(struct(col("wg"), col("v"))).as("best"))
      .select(col("best.v").cast("bigint").as("split_at"),
        col("best.wg").as("weighted_gini"))
  }

  /** Gated ney1: NEYMAN ALLOCATION — the optimal-stratified-sampling
    * design primitive: allocate a sample budget across strata
    * proportional to N_h·S_h (big AND volatile strata get more
    * budget), which minimizes the stratified estimator's variance for
    * a fixed total n. Per-stratum stddevs come from exact DECIMAL
    * sufficient sums; the real-valued quotas are quantized (sd to
    * 6 dp, weights to integers) and apportioned by the SAME exact
    * Hamilton integer arithmetic as c9 — so the allocation hashes,
    * with no float quota boundary in sight. One corpus aggregation;
    * everything else runs on the stratum frame.
    */
  def neymanAllocation(spark: SparkSession, dir: String,
                       budget: Int = 1000): DataFrame = {
    val s = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("prio"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).cast("bigint").as("sx"),
        sum((col("cents") * col("cents")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("sxx"))
    val sd = s.select(col("prio"), col("n"),
      round(sqrt((col("sxx").cast("double")
        - col("sx").cast("double") * col("sx") / col("n"))
        / (col("n") - 1)), 6).as("sdev"))
    val wS = Window.partitionBy(Ranks.boundedOnePartition(col("prio")))
    sd.withColumn("u", round(col("n") * col("sdev"), 0).cast("long"))
      .withColumn("tu", sum(col("u")).over(wS))
      .withColumn("base", expr(s"u * $budget div tu"))
      .withColumn("rem", expr(s"u * $budget % tu"))
      .withColumn("xr",
        row_number().over(wS.orderBy(desc("rem"), asc("prio"))))
      .withColumn("extras", lit(budget) - sum(col("base")).over(wS))
      .select(col("prio"), col("n").as("n_rows"),
        col("sdev").as("sd_cents"),
        (col("base") + when(col("xr") <= col("extras"), 1L).otherwise(0L))
          .cast("bigint").as("allocated"))
      .orderBy(col("prio"))
  }

  /** Gated wil1: WILSON SCORE INTERVALS per stratum — the proportion
    * CI that behaves at small n and extreme p (the Wald interval a
    * naive readout uses collapses there): closed form over exact
    * (n, successes) counts with the z=1.959964 constant, evaluated
    * in pinned double order. The uncertainty column every rate
    * readout (conversion, failure share, filter hit-rate) should
    * carry; one aggregation, one formula.
    */
  def wilsonIntervals(spark: SparkSession, dir: String): DataFrame = {
    val z = lit(1.959964)
    val s = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .cast("bigint").as("nf"))
    val p = col("nf").cast("double") / col("n")
    val half = z * sqrt(p * (lit(1.0) - p) / col("n")
      + z * z / (lit(4.0) * col("n") * col("n")))
    val denom = lit(1.0) + z * z / col("n")
    s.select(col("prio"), col("n"), col("nf"),
        round(p, 6).as("p_hat"),
        round((p + z * z / (lit(2) * col("n")) - half) / denom, 9)
          .as("wilson_lo"),
        round((p + z * z / (lit(2) * col("n")) + half) / denom, 9)
          .as("wilson_hi"))
      .orderBy(col("prio"))
  }

  /** Gated yw1: AR(2) FIT BY YULE-WALKER — the autoregressive
    * coefficients every forecasting/backfill pipeline starts from,
    * from the closed form φ = R⁻¹r over lag-0/1/2 autocovariances
    * (Levinson-Durbin's first two steps). The corpus collapses to the
    * calendar-bounded hourly spine in one aggregation; lags come from
    * two `lag` windows over that bounded frame; every autocovariance
    * is assembled from EXACT integer sums (Σx, Σx², Σx·x₋ₖ, head/tail
    * sums) in pinned double order, so the coefficients hash
    * cross-engine. hw1/ts4 forecast with fixed smoothing constants;
    * this ESTIMATES the dynamics from the data.
    */
  def yuleWalkerGate(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(Ranks.boundedOnePartition(col("hr")))
      .orderBy(col("hr"))
    val o = h.select(col("x"), lag(col("x"), 1).over(w).as("x1"),
      lag(col("x"), 2).over(w).as("x2"))
    val s = o.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      sum(when(col("x1").isNotNull, col("x") * col("x1"))).as("sxy1"),
      sum(when(col("x1").isNotNull, col("x"))).as("sh1"),
      sum(col("x1")).as("st1"), count(col("x1")).as("n1"),
      sum(when(col("x2").isNotNull, col("x") * col("x2"))).as("sxy2"),
      sum(when(col("x2").isNotNull, col("x"))).as("sh2"),
      sum(col("x2")).as("st2"), count(col("x2")).as("n2"))
    val mu = col("sx").cast("double") / col("n")
    val g0 = (col("sxx").cast("double") - lit(2.0) * mu * col("sx")
      + col("n") * mu * mu) / col("n")
    val g1 = (col("sxy1").cast("double") - mu * (col("sh1") + col("st1"))
      + col("n1") * mu * mu) / col("n")
    val g2 = (col("sxy2").cast("double") - mu * (col("sh2") + col("st2"))
      + col("n2") * mu * mu) / col("n")
    val (r1, r2) = (g1 / g0, g2 / g0)
    s.select(col("n").as("n_hours"),
      round(r1, 9).as("r1"), round(r2, 9).as("r2"),
      round(r1 * (lit(1.0) - r2) / (lit(1.0) - r1 * r1), 9).as("phi1"),
      round((r2 - r1 * r1) / (lit(1.0) - r1 * r1), 9).as("phi2"))
  }

  /** Gated boot1: SUBSAMPLE-ENSEMBLE CONFIDENCE INTERVAL — the
    * distribution-free uncertainty readout for any pipeline metric:
    * B=32 deterministic half-rate WITHOUT-replacement replicas (row ∈
    * replica r iff md5(r:key) falls under the threshold — sa1's
    * reproducible-sampling convention, so the "resampling" is a pure
    * function of the data), replica means, CI = 10th/90th-percentile
    * order statistics of the 32 means (subsampling/subagging, the
    * bootstrap variant that needs no with-replacement multiplicities
    * and therefore no randomness). Everything hashes: per-replica
    * sums are exact BIGINT cents, means are pinned single divisions,
    * order statistics pick VALUES so rank ties cannot flip output.
    *
    * Scale shape: ONE pass — the replica axis is a broadcast 32-row
    * frame crossed into the scan, filtered to ~B/2 weighted rows, and
    * collapsed by a map-side-combinable per-replica aggregation; the
    * order statistics run on the 32-row result. No per-replica jobs,
    * no driver loop.
    */
  def subsampleCi(spark: SparkSession, dir: String, b: Int = 32): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val reps = spark.range(b).select(col("id").as("r"))
    val sub = broadcast(reps).crossJoin(o)
      .filter(substring(md5(concat(col("r").cast("string"), lit(":"),
        col("k").cast("string"))), 1, 4) < "8000")
    val means = sub.groupBy(col("r"))
      .agg(round(sum(col("cents")).cast("double") / count(lit(1)), 6)
        .as("mean_cents"))
    val w = Window.partitionBy(Ranks.boundedOnePartition(col("r")))
      .orderBy(col("mean_cents"))
    val ci = means.withColumn("rn", row_number().over(w))
      .agg(min(when(col("rn") === 4, col("mean_cents"))).as("ci_lo_10"),
        min(when(col("rn") === 29, col("mean_cents"))).as("ci_hi_90"))
    val full = o.agg(count(lit(1)).as("n_rows"),
      round(sum(col("cents")).cast("double") / count(lit(1)), 6)
        .as("mean_full"))
    full.crossJoin(ci)
      .select(col("n_rows"), col("mean_full"), col("ci_lo_10"),
        col("ci_hi_90"))
  }

  /** Gated sprt1: WALD SEQUENTIAL PROBABILITY RATIO TEST — the
    * always-valid A/B readout: per variant, walk events in time order
    * accumulating the log-likelihood ratio for H1: p=0.25 vs
    * H0: p=0.15 on the purchase indicator, and report the FIRST
    * boundary crossing (±ln(0.95/0.05)) — the moment a sequential
    * experiment could have stopped, which a fixed-horizon test (ab1)
    * cannot tell you. Wald weights and thresholds are pre-rounded
    * 6-dp DECIMAL constants (ln evaluated on 4 constants at design
    * time, never per row), so the entire path — per-row LLR, boundary
    * comparisons, decision — is exact integer×decimal arithmetic with
    * no transcendental anywhere in either engine.
    *
    * Scale shape: per-variant prefix sums WITHOUT per-variant
    * windows — one global [[Ranks.scan]] over the total order
    * (variant, ts, event_id) gives ranks and running success counts,
    * then per-variant offsets (a V-row broadcast) subtract out the
    * earlier variants. The per-variant walk that looks inherently
    * sequential costs one range exchange and a V-row broadcast join.
    */
  def sprtGate(spark: SparkSession, dir: String, variants: Int = 4): DataFrame = {
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val l1 = new java.math.BigDecimal("0.510826")  // ln(0.25/0.15), 6 dp
    val l2 = new java.math.BigDecimal("-0.125163") // ln(0.75/0.85), 6 dp
    val upper = new java.math.BigDecimal("2.944439") // ln(0.95/0.05)
    val ev = Tables.events(spark, dir).select(
      (col("user_id") % variants).as("variant"), col("ts"), col("event_id"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("succ"))
    val order = Seq(col("variant").asc, col("ts").asc, col("event_id").asc)
    // Rank and running-success of the same walk: one range exchange,
    // one window.
    val (joined, _, _) = Ranks.scan(ev, order, np, Some("_rn"),
      Seq(col("succ") -> "s_excl"))
    // V-row offsets: rows/successes contributed by earlier variants —
    // aggregated off the already-cached range exchange.
    val totals = joined.groupBy(col("variant"))
      .agg(count(lit(1)).as("vn"), sum(col("succ")).as("vs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val offRows = totals.map(_._1).zip(
      totals.scanLeft((0L, 0L)) { case ((cn, cs), (_, n, s)) => (cn + n, cs + s) })
      .map { case (v, (cn, cs)) => (v, cn, cs) }
    import spark.implicits._
    val offDf = broadcast(offRows.toSeq.toDF("variant", "rn_off", "s_off"))
    val walked = joined.join(offDf, "variant")
      .select(col("variant"),
        (col("_rn") - col("rn_off")).as("i"),
        (col("s_excl") + col("succ") - col("s_off")).as("s"),
        col("succ"))
      .withColumn("llr", col("s") * lit(l1) + (col("i") - col("s")) * lit(l2))
    val crossing = when(col("llr") >= lit(upper)
      || col("llr") <= lit(upper.negate()), struct(col("i"), col("llr")))
    walked.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("succ")).cast("bigint").as("n_success"),
        min(crossing).as("cx"))
      .select(col("variant"), col("n_events"), col("n_success"),
        when(col("cx").isNull, "continue")
          .when(col("cx.llr") >= lit(upper), "accept_h1")
          .otherwise("accept_h0").as("decision"),
        coalesce(col("cx.i"), lit(0L)).cast("bigint").as("crossed_at"),
        round((col("n_success") * lit(l1)
          + (col("n_events") - col("n_success")) * lit(l2)).cast("double"), 6)
          .as("final_llr"))
      .orderBy(col("variant"))
  }

  /** Gated kt1: EXACT KENDALL tau-b between two ordinal variables
    * (order month × priority rank) by the contingency-grid closed
    * form. The naive statistic is O(n²) pairs; for ordinal data the
    * pair counts collapse onto the JOINT FREQUENCY GRID: concordant
    * pairs C = Σ_cells n(a,b) · #{rows with x<a AND y<b}, where the
    * strict-dominance counts are two chained exclusive prefix sums
    * over the DENSE |X|×|Y| grid, and tie corrections n1/n2 come from
    * the marginals. Corpus-sized work is ONE groupBy(x,y); everything
    * after runs on the bounded grid (months × 5 priorities), so the
    * statistic that textbooks call quadratic costs one exchange at
    * any scale. Pair counts accumulate as DECIMAL(38,0) — n²/2
    * overflows BIGINT near 4.3e9 rows. Exactness is spec-checked
    * against a brute-force O(n²) pair scan.
    */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("x"),
      substring(col("o_orderpriority"), 1, 1).cast("long").as("y"))
    val cells = o.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("nij")).persist()
    val grid = cells.select(col("x")).distinct()
      .crossJoin(cells.select(col("y")).distinct())
      .join(cells, Seq("x", "y"), "left")
      .select(col("x"), col("y"), coalesce(col("nij"), lit(0L)).as("nij"))
    val wX = Window.partitionBy(col("y")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wYAsc = Window.partitionBy(col("x")).orderBy(col("y").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wYDesc = Window.partitionBy(col("x")).orderBy(col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val w2 = grid
      .withColumn("cumx", coalesce(sum(col("nij")).over(wX), lit(0L)))
      .withColumn("p_lt_lt", coalesce(sum(col("cumx")).over(wYAsc), lit(0L)))
      .withColumn("p_lt_gt", coalesce(sum(col("cumx")).over(wYDesc), lit(0L)))
    val cd = w2.agg(
      sum(col("nij").cast("decimal(38,0)") * col("p_lt_lt"))
        .cast("decimal(38,0)").as("c_conc"),
      sum(col("nij").cast("decimal(38,0)") * col("p_lt_gt"))
        .cast("decimal(38,0)").as("d_disc"))
    def tiePairs(k: String): Column =
      sum(col("t").cast("decimal(38,0)") * (col("t") - 1) / 2)
        .cast("decimal(38,0)")
    val nRow = cells.agg(sum(col("nij")).cast("bigint").as("n"))
    val n1 = cells.groupBy(col("x")).agg(sum(col("nij")).as("t"))
      .agg(tiePairs("x").as("n1"))
    val n2 = cells.groupBy(col("y")).agg(sum(col("nij")).as("t"))
      .agg(tiePairs("y").as("n2"))
    val half = col("n").cast("double") * (col("n") - 1) / lit(2.0)
    cd.crossJoin(nRow).crossJoin(n1).crossJoin(n2)
      .select(col("n").as("n_rows"),
        col("c_conc").cast("bigint").as("concordant"),
        col("d_disc").cast("bigint").as("discordant"),
        round((col("c_conc").cast("double") - col("d_disc").cast("double"))
          / sqrt((half - col("n1").cast("double"))
            * (half - col("n2").cast("double"))), 9).as("tau_b"))
  }

  def ridgeFit(spark: SparkSession, dir: String, lambda: Double = 10.0): DataFrame = {
    val f = Tables.lineitem(spark, dir).select(
      col("l_quantity").cast("decimal(30,2)").as("x1"),
      round(col("l_discount") * 100, 0).cast("long").as("x2"),
      col("l_extendedprice").cast("decimal(30,2)").as("y"))
    val s = f.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x1")).cast("double").as("sx1"),
      sum(col("x2")).cast("double").as("sx2"),
      sum(col("x1") * col("x1")).cast("double").as("sx1x1"),
      sum(col("x1") * col("x2")).cast("double").as("sx1x2"),
      sum(col("x2") * col("x2")).cast("double").as("sx2x2"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x1") * col("y")).cast("double").as("sx1y"),
      sum(col("x2") * col("y")).cast("double").as("sx2y"),
      sum(col("y") * col("y")).cast("double").as("syy"))
    val m = s.select(col("*"),
      (col("sx1x1") + lambda).as("a11"), (col("sx2x2") + lambda).as("a22"))
    // Adjugate of the symmetric 3×3 system; operation order mirrors
    // the oracle SQL term for term so the IEEE doubles agree in bits.
    val c = m.select(col("*"),
      (col("a11") * col("a22") - col("sx1x2") * col("sx1x2")).as("c00"),
      (-(col("sx1") * col("a22") - col("sx1x2") * col("sx2"))).as("c01"),
      (col("sx1") * col("sx1x2") - col("a11") * col("sx2")).as("c02"),
      (col("n") * col("a22") - col("sx2") * col("sx2")).as("c11"),
      (-(col("n") * col("sx1x2") - col("sx1") * col("sx2"))).as("c12"),
      (col("n") * col("a11") - col("sx1") * col("sx1")).as("c22"))
    val det = col("n") * col("c00") + col("sx1") * col("c01") +
      col("sx2") * col("c02")
    val b = c.select(col("*"),
      ((col("c00") * col("sy") + col("c01") * col("sx1y")
        + col("c02") * col("sx2y")) / det).as("b0"),
      ((col("c01") * col("sy") + col("c11") * col("sx1y")
        + col("c12") * col("sx2y")) / det).as("b1"),
      ((col("c02") * col("sy") + col("c12") * col("sx1y")
        + col("c22") * col("sx2y")) / det).as("b2"))
    b.select(
      col("n").cast("bigint").as("n_rows"),
      round(col("b0"), 6).as("intercept"),
      round(col("b1"), 6).as("coef_quantity"),
      round(col("b2"), 6).as("coef_discount"),
      round(lit(1.0) - (col("syy") - lit(2.0) * (col("b0") * col("sy")
          + col("b1") * col("sx1y") + col("b2") * col("sx2y"))
        + (col("b0") * col("b0") * col("n")
          + col("b1") * col("b1") * (col("a11") - lambda)
          + col("b2") * col("b2") * (col("a22") - lambda)
          + lit(2.0) * col("b0") * col("b1") * col("sx1")
          + lit(2.0) * col("b0") * col("b2") * col("sx2")
          + lit(2.0) * col("b1") * col("b2") * col("sx1x2")))
        / (col("syy") - col("sy") * col("sy") / col("n")), 6).as("r2"))
  }
}
