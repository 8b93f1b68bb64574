package graft.gates

import graft.operators.Quality

/** The gates of [[graft.operators.Quality]]: each run with its DuckDB oracle. */
object QualityGates {
  val gates: Seq[Gate] = Seq(
    Gate("kd1_split_kl", (s, d) => Quality.splitKlDivergence(s, d),
      """WITH g AS (SELECT source, CASE
        |    WHEN substring(md5(source),1,1)
        |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
        |    WHEN substring(md5(source),1,1) IN ('c','d') THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM (SELECT DISTINCT source FROM documents)),
        |d AS (SELECT lang, split FROM documents JOIN g USING (source)),
        |langs AS (SELECT DISTINCT lang FROM d),
        |tr AS (SELECT lang, count(*) AS n FROM d WHERE split = 'train' GROUP BY 1),
        |te AS (SELECT lang, count(*) AS n FROM d WHERE split <> 'train' GROUP BY 1),
        |tot AS (SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM d WHERE split = 'train') AS ntr,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d WHERE split <> 'train') AS nte,
        |  (SELECT CAST(count(*) AS BIGINT) FROM langs) AS nl),
        |sm AS (SELECT l.lang,
        |    (CAST(coalesce(tr.n,0) AS DOUBLE)+1)/(t.ntr + t.nl) AS p,
        |    (CAST(coalesce(te.n,0) AS DOUBLE)+1)/(t.nte + t.nl) AS q
        |  FROM langs l LEFT JOIN tr ON tr.lang = l.lang
        |  LEFT JOIN te ON te.lang = l.lang CROSS JOIN tot t)
        |SELECT (SELECT nl FROM tot) AS n_langs,
        |  round(CAST(sum(CAST(p*ln(p/q) AS DECIMAL(38,18))) AS DOUBLE), 6) AS kl_train_eval,
        |  round(CAST(sum(CAST(q*ln(q/p) AS DECIMAL(38,18))) AS DOUBLE), 6) AS kl_eval_train
        |FROM sm""".stripMargin),
    // Lower median by exact integer rank (no interpolation): both
    // engines pick row ⌊(n+1)/2⌋ of (bal, custkey) order.
    Gate("imp1_median_impute", (s, d) => Quality.medianImpute(s, d),
      """WITH masked AS (
        |  SELECT c_custkey, c_nationkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
        |  FROM customer
        |), obs AS (
        |  SELECT c_nationkey, bal,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY bal, c_custkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY c_nationkey) AS n_obs
        |  FROM masked WHERE bal IS NOT NULL
        |), med AS (
        |  SELECT c_nationkey, bal AS grp_median FROM obs
        |  WHERE rn = CAST(floor((n_obs + 1) / 2.0) AS BIGINT)
        |)
        |SELECT m.c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN m.bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
        |  round(g.grp_median, 6) AS grp_median,
        |  CAST(sum(CAST(COALESCE(m.bal, 0) AS DECIMAL(30,2))) AS DOUBLE) AS observed_total
        |FROM masked m JOIN med g USING (c_nationkey)
        |GROUP BY 1, g.grp_median ORDER BY 1""".stripMargin),
    // Peak hour by (total DESC, hour ASC); contribution = peak count
    // minus the type's mean hourly count (exact-integer division).
    Gate("exp1_anomaly_contrib", (s, d) => Quality.anomalyContribution(s, d),
      """WITH h AS (SELECT strftime(date_trunc('hour', ts),
        |    '%Y-%m-%d %H:%M:%S') AS hr, event_type, count(*) AS n
        |  FROM events GROUP BY 1,2),
        |tot AS (SELECT hr, sum(n) AS tn FROM h GROUP BY 1),
        |peak AS (SELECT hr FROM tot ORDER BY tn DESC, hr ASC LIMIT 1),
        |nh AS (SELECT CAST(count(DISTINCT hr) AS BIGINT) AS nh FROM h),
        |base AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS bn
        |  FROM h GROUP BY 1),
        |px AS (SELECT h.event_type, CAST(h.n AS BIGINT) AS pn
        |  FROM h JOIN peak USING (hr))
        |SELECT b.event_type,
        |  CAST(coalesce(px.pn, 0) AS BIGINT) AS peak_n,
        |  round(CAST(b.bn AS DOUBLE) / nh.nh, 6) AS mean_hourly_n,
        |  round(coalesce(px.pn, 0) - CAST(b.bn AS DOUBLE) / nh.nh, 6) AS excess,
        |  (SELECT hr FROM peak) AS peak_hour
        |FROM base b CROSS JOIN nh LEFT JOIN px USING (event_type)
        |ORDER BY excess DESC, b.event_type""".stripMargin),
    // Cohen's kappa from the 2x2 contingency, products double-first.
    Gate("iaa1_labeler_kappa", (s, d) => Quality.labelerAgreement(s, d),
      """WITH d AS (SELECT (n_chars > 500) AS a, (lang = 'en') AS b FROM documents),
        |c AS (SELECT
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM d),
        |m AS (SELECT n11, n10, n01, n00,
        |    CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS n FROM c),
        |k AS (SELECT n11, n10, n01, n00,
        |    CAST(n11 + n00 AS DOUBLE) / n AS po,
        |    (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
        |      + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
        |      / (n * n) AS pe
        |  FROM m)
        |SELECT n11, n10, n01, n00, round(po, 6) AS po, round(pe, 6) AS pe,
        |  round((po - pe) / (1.0 - pe), 6) AS kappa FROM k""".stripMargin),
    // Reliability table + ECE: DECIMAL-accumulated confidence sums,
    // per-bin gap terms DECIMAL-summed for the order-invariant fold.
    Gate("cal1_calibration_ece", (s, d) => Quality.calibrationTable(s, d),
      """WITH e AS (SELECT greatest(least(value, 500.0), 0.0) / 500.0 AS p,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events),
        |b AS (SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin, p, y FROM e),
        |per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS sp,
        |    CAST(sum(y) AS BIGINT) AS sy FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS nt,
        |    CAST(sum(CAST(abs(CAST(sy AS DOUBLE) / CAST(n_events AS DOUBLE)
        |      - sp / CAST(n_events AS DOUBLE)) * CAST(n_events AS DOUBLE)
        |      AS DECIMAL(38,18))) AS DOUBLE) AS gapsum FROM per)
        |SELECT bin, n_events,
        |  round(sp / CAST(n_events AS DOUBLE) + 1e-12, 6) AS confidence,
        |  round(CAST(sy AS DOUBLE) / CAST(n_events AS DOUBLE) + 1e-12, 6) AS accuracy,
        |  round(abs(CAST(sy AS DOUBLE) / CAST(n_events AS DOUBLE)
        |    - sp / CAST(n_events AS DOUBLE)) + 1e-12, 6) AS gap,
        |  round(gapsum / CAST(nt AS DOUBLE) + 1e-12, 6) AS ece
        |FROM per CROSS JOIN t ORDER BY bin""".stripMargin),
    // ANALYZE catalog row: exact per-column stats in one pass,
    // min/max normalized to engine-stable string forms.
    Gate("an1_analyze_stats", (s, d) => Quality.analyzeStats(s, d),
      """WITH s AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) - count(l_orderkey) AS BIGINT) AS nn_k,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_k,
        |  CAST(min(l_orderkey) AS VARCHAR) AS mn_k,
        |  CAST(max(l_orderkey) AS VARCHAR) AS mx_k,
        |  CAST(count(*) - count(l_returnflag) AS BIGINT) AS nn_rf,
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd_rf,
        |  min(l_returnflag) AS mn_rf, max(l_returnflag) AS mx_rf,
        |  CAST(count(*) - count(l_quantity) AS BIGINT) AS nn_q,
        |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS nd_q,
        |  CAST(CAST(min(l_quantity) AS BIGINT) AS VARCHAR) AS mn_q,
        |  CAST(CAST(max(l_quantity) AS BIGINT) AS VARCHAR) AS mx_q,
        |  CAST(count(*) - count(l_shipdate) AS BIGINT) AS nn_d,
        |  CAST(count(DISTINCT l_shipdate) AS BIGINT) AS nd_d,
        |  strftime(min(l_shipdate), '%Y-%m-%d') AS mn_d,
        |  strftime(max(l_shipdate), '%Y-%m-%d') AS mx_d
        |FROM lineitem)
        |SELECT 'l_orderkey' AS column_name, n, nn_k AS n_nulls,
        |  nd_k AS n_distinct, mn_k AS min_val, mx_k AS max_val FROM s
        |UNION ALL SELECT 'l_quantity', n, nn_q, nd_q, mn_q, mx_q FROM s
        |UNION ALL SELECT 'l_returnflag', n, nn_rf, nd_rf, mn_rf, mx_rf FROM s
        |UNION ALL SELECT 'l_shipdate', n, nn_d, nd_d, mn_d, mx_d FROM s
        |ORDER BY column_name""".stripMargin),
    // Rank-biased overlap between two top-20 rankings; weight
    // constants generated from the same BigDecimal math as the plan.
    Gate("rbo1_rank_overlap", (s, d) => Quality.rboGate(s, d), rboOracle()),
    // Exact two-sample KS over the distinct-length spine: cumulative
    // per-source counts, D = max ecdf gap.
    Gate("ks1_length_ks", (s, d) => Quality.ksTwoSample(s, d),
      """WITH d AS (SELECT source, n_chars FROM documents
        |  WHERE source IN ('src0', 'src1')),
        |n AS (SELECT
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM d),
        |c AS (SELECT n_chars AS v,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM d GROUP BY 1),
        |e AS (SELECT v, CAST(sum(ca) OVER (ORDER BY v) AS DOUBLE) AS cuma,
        |    CAST(sum(cb) OVER (ORDER BY v) AS DOUBLE) AS cumb FROM c),
        |x AS (SELECT e.v, e.cuma, e.cumb, n.na, n.nb FROM e CROSS JOIN n)
        |SELECT max(na) AS n_a, max(nb) AS n_b,
        |  round(max(abs(cuma / CAST(na AS DOUBLE)
        |    - cumb / CAST(nb AS DOUBLE))), 6) AS ks_d
        |FROM x""".stripMargin),
    Gate("dp1_profile_events", (s, d) => Quality.profileEvents(s, d),
      """WITH s AS (SELECT count(*) AS n_rows,
        |  count(*) - count(event_id) AS eid_nulls, count(DISTINCT event_id) AS eid_d,
        |  CAST(min(event_id) AS DOUBLE) AS eid_min, CAST(max(event_id) AS DOUBLE) AS eid_max,
        |  count(*) - count(user_id) AS uid_nulls, count(DISTINCT user_id) AS uid_d,
        |  CAST(min(user_id) AS DOUBLE) AS uid_min, CAST(max(user_id) AS DOUBLE) AS uid_max,
        |  count(*) - count(event_type) AS et_nulls, count(DISTINCT event_type) AS et_d,
        |  min(event_type) AS et_min, max(event_type) AS et_max,
        |  count(*) - count(value) AS v_nulls, count(DISTINCT value) AS v_d,
        |  min(value) AS v_min, max(value) AS v_max
        | FROM events)
        |SELECT 'event_id' AS col_name, n_rows, eid_nulls AS n_nulls, eid_d AS n_distinct,
        |  eid_min AS min_num, eid_max AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM s
        |UNION ALL SELECT 'event_type', n_rows, et_nulls, et_d, NULL, NULL, et_min, et_max FROM s
        |UNION ALL SELECT 'user_id', n_rows, uid_nulls, uid_d, uid_min, uid_max, NULL, NULL FROM s
        |UNION ALL SELECT 'value', n_rows, v_nulls, v_d, v_min, v_max, NULL, NULL FROM s
        |ORDER BY col_name""".stripMargin),
    Gate("dq1_expectations", (s, d) => Quality.expectationsEvents(s, d),
      """WITH s AS (SELECT count(*) - count(DISTINCT event_id) AS dup_ids,
        |  count(*) - count(event_type) AS null_type,
        |  count(CASE WHEN event_type NOT IN ('click','error','purchase','signup','view')
        |    THEN 1 END) AS bad_type,
        |  count(CASE WHEN value IS NULL OR value <= 0.0 THEN 1 END) AS bad_value
        | FROM events)
        |SELECT 'event_id_unique' AS check_name, dup_ids AS n_violations, dup_ids = 0 AS passed FROM s
        |UNION ALL SELECT 'event_type_accepted', bad_type, bad_type = 0 FROM s
        |UNION ALL SELECT 'event_type_not_null', null_type, null_type = 0 FROM s
        |UNION ALL SELECT 'value_positive', bad_value, bad_value = 0 FROM s
        |ORDER BY check_name""".stripMargin),
    Gate("cp1_cusum_hourly", (s, d) => Quality.cusumHourly(s, d),
      """WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |s AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mean FROM h)
        |SELECT hour_start, n,
        |  round(CAST(sum(CAST(round(n - s.mean, 6) AS DECIMAL(20,6)))
        |    OVER (ORDER BY hour_start ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS cusum
        |FROM h CROSS JOIN s ORDER BY hour_start""".stripMargin),
    Gate("kan1_k_anonymity", (s, d) => Quality.kAnonymityAudit(s, d),
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT floor(c_acctbal / 1000)) AS BIGINT) AS l_diversity,
        |  count(*) < 10 AS k10_violation
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),
    Gate("dq3_ref_integrity", (s, d) => Quality.referentialIntegrity(s, d),
      """SELECT * FROM (
        |SELECT 'customer_nation' AS fk, CAST(count(*) AS BIGINT) AS n_orphans,
        |  count(*) = 0 AS passed FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        |UNION ALL
        |SELECT 'lineitem_order', CAST(count(*) AS BIGINT), count(*) = 0 FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'lineitem_part', CAST(count(*) AS BIGINT), count(*) = 0 FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        |UNION ALL
        |SELECT 'lineitem_supplier', CAST(count(*) AS BIGINT), count(*) = 0 FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        |UNION ALL
        |SELECT 'order_customer', CAST(count(*) AS BIGINT), count(*) = 0 FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |) ORDER BY fk""".stripMargin),
    Gate("ts3_seasonal_profile", (s, d) => Quality.seasonalProfile(s, d),
      """WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    CAST(hour(ts) AS INT) AS hod, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT hod, CAST(sum(n) AS DOUBLE) / count(*) AS seasonal FROM h GROUP BY 1)
        |SELECT h.hour_start, h.n, round(s.seasonal, 6) AS seasonal_mean,
        |  round(h.n - s.seasonal, 6) AS residual
        |FROM h JOIN s USING (hod) ORDER BY hour_start LIMIT 48""".stripMargin),
    Gate("ewm1_ewma_hourly", (s, d) => Quality.ewmaHourly(s, d), {
      val num = Quality.EwmaWeights.zipWithIndex.map { case (w, k) =>
        s"(CASE WHEN lag(nd, $k) OVER w IS NOT NULL THEN $w * lag(nd, $k) OVER w ELSE 0.0 END)"
      }.mkString(" + ")
      val den = Quality.EwmaWeights.zipWithIndex.map { case (w, k) =>
        s"(CASE WHEN lag(nd, $k) OVER w IS NOT NULL THEN $w ELSE 0.0 END)"
      }.mkString(" + ")
      s"""WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
         |    CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS DOUBLE) AS nd
         |  FROM events GROUP BY 1)
         |SELECT hour_start, n, round(($num) / ($den), 6) AS ewma
         |FROM h WINDOW w AS (ORDER BY hour_start)
         |ORDER BY hour_start LIMIT 48""".stripMargin
    }),
    // Same closed-form expressions over the same integer window sums —
    // the slope subexpression is inlined unrounded on both sides.
    Gate("ts4_rolling_forecast", (s, d) => Quality.rollingForecast(s, d),
      """WITH h AS (SELECT strftime(date_trunc('hour', ts),
        |    '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |x AS (SELECT hour_start, n,
        |    CAST(row_number() OVER (ORDER BY hour_start) AS BIGINT) AS i FROM h),
        |s AS (SELECT hour_start, n, i,
        |    CAST(count(*) OVER w AS BIGINT) AS c,
        |    CAST(sum(i) OVER w AS BIGINT) AS sx, CAST(sum(n) OVER w AS BIGINT) AS sy,
        |    CAST(sum(i*i) OVER w AS BIGINT) AS sxx, CAST(sum(i*n) OVER w AS BIGINT) AS sxy
        |  FROM x WINDOW w AS (ORDER BY i ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT hour_start, n,
        |  round((CAST(c AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
        |    / (CAST(c AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx), 6) AS slope,
        |  round((CAST(sy AS DOUBLE) - (CAST(c AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
        |    / (CAST(c AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * sx) / c
        |    + (CAST(c AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
        |    / (CAST(c AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * (i+1), 6) AS forecast_next
        |FROM s WHERE c = 24 ORDER BY hour_start LIMIT 48""".stripMargin),
    // Integer sufficient statistics per lag; one double expression at
    // the end (same op order both engines).
    Gate("acf1_autocorrelation", (s, d) => Quality.autocorrelation(s, d),
      """WITH h AS (SELECT epoch(date_trunc('hour', ts))//3600 AS hi,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |l AS (SELECT * FROM (VALUES (1),(2),(3),(4),(6),(12),(24)) AS t(lag_hours)),
        |p AS (SELECT l.lag_hours, a.n AS x, b.n AS y
        |  FROM l JOIN h a ON true JOIN h b ON b.hi = a.hi + l.lag_hours),
        |s AS (SELECT lag_hours, CAST(count(*) AS BIGINT) AS np,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(y*y) AS BIGINT) AS syy FROM p GROUP BY 1),
        |d AS (SELECT lag_hours, np, CAST(np AS DOUBLE) AS npd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd FROM s)
        |SELECT CAST(lag_hours AS INT) AS lag_hours, np AS n_pairs,
        |  round((npd*sxyd - sxd*syd)
        |    / (sqrt(npd*sxxd - sxd*sxd) * sqrt(npd*syyd - syd*syd)), 6) AS acf
        |FROM d ORDER BY lag_hours""".stripMargin),
    Gate("dp2_psi_drift", (s, d) => Quality.psiDrift(s, d),
      """WITH b AS (SELECT CAST(floor(value/100) AS INT) AS bin,
        |    event_id % 2 AS half FROM events),
        |r AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_ref FROM b WHERE half = 0 GROUP BY 1),
        |c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_cur FROM b WHERE half = 1 GROUP BY 1),
        |tr AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t FROM r),
        |tc AS (SELECT CAST(sum(n_cur) AS BIGINT) AS t FROM c),
        |j AS (SELECT coalesce(r.bin, c.bin) AS bin,
        |    coalesce(r.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur
        |  FROM r FULL OUTER JOIN c ON r.bin = c.bin)
        |SELECT j.bin, j.n_ref, j.n_cur,
        |  round(CAST(j.n_ref AS DOUBLE)/tr.t, 6) AS p,
        |  round(CAST(j.n_cur AS DOUBLE)/tc.t, 6) AS q,
        |  (j.n_ref = 0 OR j.n_cur = 0) AS one_sided,
        |  round((greatest(CAST(j.n_cur AS DOUBLE)/tc.t, 1e-6)
        |       - greatest(CAST(j.n_ref AS DOUBLE)/tr.t, 1e-6))
        |    * ln(greatest(CAST(j.n_cur AS DOUBLE)/tc.t, 1e-6)
        |       / greatest(CAST(j.n_ref AS DOUBLE)/tr.t, 1e-6)), 6) AS psi_term
        |FROM j CROSS JOIN tr CROSS JOIN tc
        |ORDER BY bin""".stripMargin),
    Gate("od1_mad_outliers", (s, d) => Quality.madOutliers(s, d),
      """WITH m AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, abs(e.value - m.med) AS dev
        |  FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
        |  FROM d GROUP BY 1)
        |SELECT e.event_type, m.med, md.mad,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN abs(e.value - m.med) > 3.0 * 1.4826 * md.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN m USING (event_type) JOIN md USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),
    Gate("dp3_noised_counts", (s, d) => Quality.dpNoisedCounts(s, d),
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |h AS (SELECT event_type, n,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 14), i -> CAST(strpos('0123456789abcdef',
        |        md5(event_type)[i]) - 1 AS BIGINT))),
        |      (a, c) -> a * 16 + c) AS hv FROM g),
        |u AS (SELECT event_type, n, hv / 4503599627370496.0 - 0.5 AS u FROM h)
        |SELECT event_type, n,
        |  round(n + (-2.0) * sign(u) * ln(1.0 - 2.0 * abs(u)), 6) AS n_noised
        |FROM u ORDER BY event_type""".stripMargin),
    Gate("wz1_winsorized_stats", (s, d) => Quality.winsorizedStats(s, d),
      """WITH q AS (SELECT round(quantile_cont(l_extendedprice, 0.01), 6) AS p01,
        |    round(quantile_cont(l_extendedprice, 0.99), 6) AS p99 FROM lineitem),
        |w AS (SELECT least(greatest(l_extendedprice, q.p01), q.p99) AS w, q.p01, q.p99
        |  FROM lineitem CROSS JOIN q)
        |SELECT count(*) AS n, any_value(p01) AS p01, any_value(p99) AS p99,
        |  round(CAST(sum(CAST(w AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6) AS avg_wins,
        |  round(min(w), 6) AS min_wins, round(max(w), 6) AS max_wins
        |FROM w""".stripMargin),
    // z-scores from exact integer power sums; identical op sequence on
    // both engines.
    Gate("dq2_hourly_anomalies", (s, d) => Quality.hourlyAnomalies(s, d),
      """WITH h AS (SELECT date_trunc('hour', ts) AS hr,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS nh, CAST(sum(n) AS BIGINT) AS s1,
        |    CAST(sum(n*n) AS BIGINT) AS s2 FROM h),
        |z AS (SELECT hr, n,
        |    CASE WHEN CAST(s2 AS DOUBLE)/CAST(nh AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE)/CAST(nh AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE)/CAST(nh AS DOUBLE)) > 0 THEN
        |    (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE)/CAST(nh AS DOUBLE)) /
        |    sqrt(CAST(s2 AS DOUBLE)/CAST(nh AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE)/CAST(nh AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE)/CAST(nh AS DOUBLE))) END AS zz
        |  FROM h, s)
        |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_start, n,
        |  round(zz, 6) AS z
        |FROM z WHERE abs(zz) >= 2.0 ORDER BY hour_start""".stripMargin),
    // Leading digit by pure-integer range dispatch on BIGINT cents; the
    // only transcendental is log10(1+1/d) of the nine constant digits,
    // spelled ln/ln(10) on both engines.
    Gate("ben1_benford_digits", (s, d) => Quality.benfordDigits(s, d),
      ("""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |dd AS (SELECT CASE """.stripMargin
        + (0 to 17).map { k =>
            val p = math.pow(10, k).toLong
            s"WHEN c < ${BigInt(p) * 10} THEN c // $p"
          }.mkString(" ")
        + """ ELSE NULL END AS digit FROM c),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM dd GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM g)
        |SELECT digit, n_obs,
        |  round(CAST(n_obs AS DOUBLE)/CAST(n_total AS DOUBLE), 6) AS obs_share,
        |  round(ln(1.0 + 1.0/CAST(digit AS DOUBLE))/ln(10.0), 6) AS exp_share,
        |  round(CAST(n_obs AS DOUBLE)/CAST(n_total AS DOUBLE)
        |    - ln(1.0 + 1.0/CAST(digit AS DOUBLE))/ln(10.0), 6) AS excess
        |FROM g, t ORDER BY digit""".stripMargin)),
    // All running/total sums are BIGINT (counts and their squares);
    // the SSE expression is the only double math, spelled identically
    // on both engines; argmin tie-break (sse, hour) matches the
    // engine's min-struct aggregation.
    Gate("cpd1_changepoint", (s, d) => Quality.changepointHourly(s, d),
      """WITH hourly AS (SELECT event_type,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, h,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS i,
        |    CAST(sum(y) OVER (PARTITION BY event_type ORDER BY h ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
        |    CAST(sum(y*y) OVER (PARTITION BY event_type ORDER BY h ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs2,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nh,
        |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS st,
        |    CAST(sum(y*y) OVER (PARTITION BY event_type) AS BIGINT) AS st2
        |  FROM hourly),
        |cand AS (SELECT event_type, h,
        |    (CAST(cs2 AS DOUBLE) - CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE) / CAST(i AS DOUBLE))
        |      + ((CAST(st2 AS DOUBLE) - CAST(cs2 AS DOUBLE))
        |        - (CAST(st AS DOUBLE) - CAST(cs AS DOUBLE)) * (CAST(st AS DOUBLE) - CAST(cs AS DOUBLE))
        |          / (CAST(nh AS DOUBLE) - CAST(i AS DOUBLE))) AS sse,
        |    CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nh AS DOUBLE) AS sse0
        |  FROM idx WHERE i < nh),
        |best AS (SELECT event_type, h AS change_hour, round(sse0 - sse, 6) AS sse_drop,
        |    row_number() OVER (PARTITION BY event_type ORDER BY sse ASC, h ASC) AS rk FROM cand)
        |SELECT event_type, change_hour, sse_drop FROM best WHERE rk = 1
        |ORDER BY event_type""".stripMargin),
    // 48·y − (two off-by-one 24-window sums) keeps the detrended
    // series integer; per-hod means quantize to DECIMAL(20,8) before
    // the (order-invariant) centering sum.
    Gate("stl1_classical_decomp", (s, d) => Quality.classicalDecomposition(s, d),
      """WITH hourly AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |idx AS (SELECT h, y, CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS nh,
        |    CAST(sum(y) OVER (ORDER BY h ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS BIGINT)
        |      + CAST(sum(y) OVER (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS BIGINT) AS t48
        |  FROM hourly),
        |interior AS (SELECT CAST(substr(h, 12, 2) AS BIGINT) AS hod, y * 48 - t48 AS d48
        |  FROM idx WHERE i > 12 AND i <= nh - 12),
        |perhod AS (SELECT hod,
        |    CAST(round(CAST(sum(d48) AS DOUBLE) / CAST(count(*) * 48 AS DOUBLE), 8) AS DECIMAL(20,8)) AS s8,
        |    CAST(count(*) AS BIGINT) AS n_hours FROM interior GROUP BY hod),
        |c AS (SELECT CAST(sum(s8) AS DOUBLE) AS tot, CAST(count(*) AS DOUBLE) AS k FROM perhod)
        |SELECT hod, round(CAST(s8 AS DOUBLE) - c.tot / c.k, 6) AS seasonal, n_hours
        |FROM perhod CROSS JOIN c ORDER BY hod""".stripMargin),
    // ari1: ntile(4) over a total order is exactly Ranks.ntileOfRank's
    // closed form; pair counts stay integral (HUGEINT sums halved
    // exactly — n·(n−1) is always even) until the final double ratio,
    // whose op order mirrors Quality.adjustedRandIndex verbatim.
    Gate("ari1_cluster_agreement", (s, d) => Quality.adjustedRandIndex(s, d),
      """WITH r AS (SELECT c_custkey, c_nationkey,
        |    ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS q FROM customer),
        |cells AS (SELECT c_nationkey, q, CAST(count(*) AS BIGINT) AS nij
        |  FROM r GROUP BY 1, 2),
        |sc AS (SELECT sum(nij * (nij - 1)) // 2 AS v FROM cells),
        |sa AS (SELECT sum(a * (a - 1)) // 2 AS v FROM (
        |    SELECT CAST(sum(nij) AS BIGINT) AS a FROM cells GROUP BY c_nationkey)),
        |sb AS (SELECT sum(b * (b - 1)) // 2 AS v FROM (
        |    SELECT CAST(sum(nij) AS BIGINT) AS b FROM cells GROUP BY q)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer)
        |SELECT nn.n AS n, CAST(sc.v AS BIGINT) AS sum_comb_cells,
        |  CAST(sa.v AS BIGINT) AS sum_comb_rows, CAST(sb.v AS BIGINT) AS sum_comb_cols,
        |  round((CAST(sc.v AS DOUBLE) - CAST(sa.v AS DOUBLE) * CAST(sb.v AS DOUBLE)
        |      / (CAST(nn.n AS DOUBLE) * CAST(nn.n - 1 AS DOUBLE) / 2.0))
        |    / ((CAST(sa.v AS DOUBLE) + CAST(sb.v AS DOUBLE)) / 2.0
        |      - CAST(sa.v AS DOUBLE) * CAST(sb.v AS DOUBLE)
        |      / (CAST(nn.n AS DOUBLE) * CAST(nn.n - 1 AS DOUBLE) / 2.0)), 6) AS ari
        |FROM nn, sc, sa, sb""".stripMargin),
  )

  /** rbo1's oracle: weight constants generated from the SAME
    * BigDecimal math the Spark plan embeds ([[graft.operators.Quality
    * .rboWeights]]), so the two engines consume identical decimals.
    */
  private def rboOracle(k: Int = 20): String = {
    val vals = Quality.rboWeights(k)
      .map { case (d, w) => s"($d, CAST('${w.toPlainString}' AS DECIMAL(14,12)))" }
      .mkString(", ")
    s"""WITH o AS (SELECT o_custkey AS key,
       |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
       |g AS (SELECT key, CAST(sum(cents) AS BIGINT) AS spend,
       |    CAST(count(*) AS BIGINT) AS n FROM o GROUP BY 1),
       |ta AS (SELECT key, row_number() OVER (ORDER BY spend DESC, key) AS ra
       |  FROM g QUALIFY ra <= $k),
       |tb AS (SELECT key, row_number() OVER (ORDER BY n DESC, key) AS rb
       |  FROM g QUALIFY rb <= $k),
       |m AS (SELECT greatest(ra, rb) AS mx FROM ta JOIN tb USING (key)),
       |w(d, wt) AS (VALUES $vals),
       |ov AS (SELECT d, wt,
       |    (SELECT count(*) FROM m WHERE mx <= d) AS overlap FROM w),
       |t AS (SELECT sum(CAST(round(CAST(wt AS DOUBLE) * overlap / d, 12)
       |      AS DECIMAL(20,12))) AS s,
       |    max(CASE WHEN d = $k THEN overlap END) AS ov_k FROM ov)
       |SELECT 'spend' AS metric_a, 'order_count' AS metric_b,
       |  CAST(ov_k AS BIGINT) AS overlap_at_20,
       |  round(0.1 * CAST(s AS DOUBLE), 9) AS rbo
       |FROM t""".stripMargin
  }
}
