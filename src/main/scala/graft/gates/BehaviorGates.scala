package graft.gates

import graft.operators.Behavior

/** The gates of [[graft.operators.Behavior]]: each run with its DuckDB oracle. */
object BehaviorGates {
  val gates: Seq[Gate] = Seq(
    Gate("w8_distribution_ranks", (s, d) => Behavior.distributionRanks(s, d),
      """WITH s AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1),
        |j AS (SELECT o_custkey, c_mktsegment, spend
        |  FROM s JOIN customer ON o_custkey = c_custkey)
        |SELECT o_custkey, c_mktsegment, spend,
        |  round(percent_rank() OVER
        |    (PARTITION BY c_mktsegment ORDER BY spend, o_custkey), 6) AS seg_pct_rank,
        |  round(cume_dist() OVER
        |    (PARTITION BY c_mktsegment ORDER BY spend, o_custkey), 6) AS seg_cume_dist,
        |  CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS INT) AS spend_decile
        |FROM j ORDER BY o_custkey""".stripMargin),
    // Last-touch attribution: the sortable-string running max (ts ‖
    // event id ‖ type, zero-padded) makes "latest prior event" a
    // bytewise comparison both engines evaluate identically; the NULL
    // branch is explicit because DuckDB's split_part maps NULL to ''.
    Gate("att1_last_touch", (s, d) => Behavior.lastTouchAttribution(s, d),
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |t AS (SELECT event_type, max(CASE WHEN event_type <> 'purchase' THEN
        |      lpad(CAST(us AS VARCHAR),20,'0') || '|' ||
        |      lpad(CAST(event_id AS VARCHAR),12,'0') || '|' || event_type END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        |  FROM ev),
        |p AS (SELECT CASE WHEN prev IS NULL THEN 'none'
        |    ELSE split_part(prev,'|',3) END AS touch
        |  FROM t WHERE event_type = 'purchase')
        |SELECT touch, CAST(count(*) AS BIGINT) AS n_purchases,
        |  round(CAST(count(*) AS DOUBLE)/(SELECT count(*) FROM p), 6) AS share
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    // CUPED: theta and the adjusted means from DECIMAL-summed
    // sufficient statistics, every product double-first (acf1 rule).
    Gate("cuped1_cuped_readout", (s, d) => Behavior.cupedReadout(s, d),
      """WITH u AS (SELECT user_id,
        |    CASE WHEN user_id % 3 = 0 THEN 0 ELSE 1 END AS grp,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(30,6))
        |      ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(30,6))
        |      ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x*y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x*x AS DECIMAL(38,6))) AS DOUBLE) AS sxx FROM u),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS gx,
        |    CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS gy FROM u GROUP BY 1),
        |t AS (SELECT (CAST(n AS DOUBLE)*sxy - sx*sy)
        |      / (CAST(n AS DOUBLE)*sxx - sx*sx) AS theta,
        |    sx / CAST(n AS DOUBLE) AS mean_x FROM s)
        |SELECT CAST(grp AS INT) AS grp, ng AS n_users,
        |  round(gy / CAST(ng AS DOUBLE), 6) AS mean_y,
        |  round((gy - theta * (gx - CAST(ng AS DOUBLE) * mean_x))
        |    / CAST(ng AS DOUBLE), 6) AS mean_y_adj,
        |  round(theta, 6) AS theta
        |FROM g CROSS JOIN t ORDER BY grp""".stripMargin),
    // U-shaped multi-touch credit: per-touch credits quantized to 12
    // dp before the DECIMAL sum; empty journeys attributed to 'none'.
    Gate("att3_position_touch", (s, d) => Behavior.positionAttribution(s, d),
      """WITH e AS (SELECT user_id, event_id, event_type, ts FROM events),
        |seg AS (SELECT *, COALESCE(sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        |  FROM e),
        |conv AS (SELECT user_id, s FROM seg WHERE event_type = 'purchase'),
        |touch AS (SELECT t.user_id, t.s, t.event_type AS touch,
        |    row_number() OVER (PARTITION BY t.user_id, t.s
        |      ORDER BY t.ts, t.event_id) AS rn,
        |    count(*) OVER (PARTITION BY t.user_id, t.s) AS k
        |  FROM seg t SEMI JOIN conv c ON c.user_id = t.user_id AND c.s = t.s
        |  WHERE t.event_type <> 'purchase'),
        |credit AS (SELECT touch,
        |    CAST(round(CASE WHEN k = 1 THEN 1.0 WHEN k = 2 THEN 0.5
        |      WHEN rn = 1 OR rn = k THEN 0.4
        |      ELSE 0.2 / (k - 2) END, 12) AS DECIMAL(28,12)) AS c
        |  FROM touch),
        |none_conv AS (SELECT count(*) AS n FROM conv c
        |  ANTI JOIN (SELECT DISTINCT user_id, s FROM touch) t
        |  ON t.user_id = c.user_id AND t.s = c.s)
        |SELECT touch, CAST(count(*) AS BIGINT) AS n_touches,
        |  round(CAST(sum(c) AS DOUBLE), 6) AS total_credit
        |FROM credit GROUP BY 1
        |UNION ALL
        |SELECT 'none', CAST(n AS BIGINT), round(CAST(n AS DOUBLE), 6)
        |FROM none_conv WHERE n > 0
        |ORDER BY touch""".stripMargin),
    // att4: the exposure-cohort lattice (mask, u, c) — a pure count
    // aggregation with DIRECT timestamp comparison (no epoch_ns
    // extraction, no rhu, no bit arithmetic); the fitted Shapley frame
    // is att4_shapley_fit.
    Gate("att4_shapley", (s, d) => Behavior.exposureCohorts(s, d),
      """WITH pts AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS pts
        |  FROM events GROUP BY 1),
        |um AS (SELECT e.user_id,
        |    max(CASE WHEN e.event_type = 'click'
        |      AND (p.pts IS NULL OR e.ts < p.pts) THEN 1 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'error'
        |      AND (p.pts IS NULL OR e.ts < p.pts) THEN 2 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'signup'
        |      AND (p.pts IS NULL OR e.ts < p.pts) THEN 4 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'view'
        |      AND (p.pts IS NULL OR e.ts < p.pts) THEN 8 ELSE 0 END) AS mask,
        |    max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events e LEFT JOIN pts p USING (user_id) GROUP BY 1),
        |cohorts AS (SELECT mask, count(*) AS u, sum(conv) AS c
        |  FROM um GROUP BY 1)
        |SELECT CAST(m.mask AS BIGINT) AS mask,
        |  CAST(coalesce(ch.u, 0) AS BIGINT) AS u,
        |  CAST(coalesce(ch.c, 0) AS BIGINT) AS c
        |FROM (SELECT unnest(generate_series(0, 15)) AS mask) m
        |LEFT JOIN cohorts ch ON m.mask = ch.mask
        |ORDER BY mask""".stripMargin),
    // att4_shapley_fit: the fitted Shapley frame with BIGINT-CAST
    // outputs — exact Shapley over the 2^4 exposure-set lattice —
    // cohort rates 1e9-quantized via PURE INTEGER round-half-up
    // (2·c·1e9 + u) // (2·u), never round()-on-double (its result
    // differs across DuckDB versions); permutation weights {6,2,2,6}/24 as
    // exact integers; φ emitted as the integer numerator over 24e9.
    // Bit tests stated as //bit %2 arithmetic (portable across
    // engines); micros convention per the Behavior.scala header.
    Gate("att4_shapley_fit", (s, d) => Behavior.shapleyAttribution(s, d),
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_ns(ts)//1000 AS us FROM events),
        |pts AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'purchase' THEN us END) AS pus
        |  FROM ev GROUP BY 1),
        |um AS (SELECT e.user_id,
        |    max(CASE WHEN e.event_type = 'click'
        |      AND (p.pus IS NULL OR e.us < p.pus) THEN 1 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'error'
        |      AND (p.pus IS NULL OR e.us < p.pus) THEN 2 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'signup'
        |      AND (p.pus IS NULL OR e.us < p.pus) THEN 4 ELSE 0 END)
        |  + max(CASE WHEN e.event_type = 'view'
        |      AND (p.pus IS NULL OR e.us < p.pus) THEN 8 ELSE 0 END) AS mask,
        |    max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM ev e LEFT JOIN pts p USING (user_id) GROUP BY 1),
        |cohorts AS (SELECT mask, count(*) AS u, sum(conv) AS c
        |  FROM um GROUP BY 1),
        |vq AS (SELECT m.mask,
        |    CASE WHEN coalesce(ch.u, 0) > 0 THEN CAST(
        |      (2 * CAST(ch.c AS HUGEINT) * 1000000000 + ch.u)
        |        // (2 * ch.u) AS BIGINT)
        |      ELSE 0 END AS vq,
        |    coalesce(ch.u, 0) AS u, coalesce(ch.c, 0) AS c
        |  FROM (SELECT unnest(generate_series(0, 15)) AS mask) m
        |  LEFT JOIN cohorts ch ON m.mask = ch.mask),
        |chn AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
        |    ('signup', 4), ('view', 8)) t(channel, bit)),
        |phis AS (SELECT chn.channel,
        |    sum((CASE ((v0.mask // 1) % 2) + ((v0.mask // 2) % 2)
        |            + ((v0.mask // 4) % 2) + ((v0.mask // 8) % 2)
        |          WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END)
        |        * (v1.vq - v0.vq)) AS phi_wnum
        |  FROM chn JOIN vq v0 ON ((v0.mask // chn.bit) % 2) = 0
        |  JOIN vq v1 ON v1.mask = v0.mask + chn.bit
        |  GROUP BY 1),
        |expo AS (SELECT chn.channel, sum(v.u) AS users_exposed,
        |    sum(v.c) AS conversions_exposed
        |  FROM chn JOIN vq v ON ((v.mask // chn.bit) % 2) = 1 GROUP BY 1)
        |SELECT p.channel, CAST(p.phi_wnum AS BIGINT) AS phi_wnum,
        |  CAST(e.users_exposed AS BIGINT) AS users_exposed,
        |  CAST(e.conversions_exposed AS BIGINT) AS conversions_exposed
        |FROM phis p JOIN expo e USING (channel)
        |ORDER BY channel""".stripMargin),
    // Funnel stage times are compared as integer micros on both sides
    // (events.ts is ns in parquet; Spark floors to us on read).
    Gate("fn1_event_funnel", (s, d) => Behavior.eventFunnel(s, d),
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |t1 AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN us END) AS t1
        |  FROM e GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND us >= t1.t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND us >= t2.t2 GROUP BY e.user_id),
        |u AS (SELECT t1.user_id, t1.t1, t2.t2, t3.t3 FROM t1
        |  LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id))
        |SELECT count(t1) AS n_signup, count(t2) AS n_click_after,
        |  count(t3) AS n_purchase_after,
        |  round(CAST(count(t3) AS DOUBLE) / count(t1), 6) AS conversion
        |FROM u""".stripMargin),
    Gate("ct1_cohort_retention", (s, d) => Behavior.cohortRetention(s, d),
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort FROM d)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', cohort, day) AS INT) AS day_offset,
        |  count(*) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("pit1_pit_features", (s, d) => Behavior.pointInTimeFeatures(s, d),
      """SELECT p.event_id, p.user_id, CAST(count(c.cid) AS BIGINT) AS n_clicks_7d
        |FROM (SELECT event_id, user_id, epoch_ns(ts)//1000 AS pus FROM events
        |      WHERE event_type = 'purchase' AND user_id < 30) p
        |LEFT JOIN (SELECT user_id AS cu, epoch_ns(ts)//1000 AS cus, event_id AS cid
        |      FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.cu AND c.cus >= p.pus - 604800000000
        |  AND c.cus < p.pus
        |GROUP BY p.event_id, p.user_id
        |ORDER BY p.event_id""".stripMargin),
    Gate("mk1_markov_transitions", (s, d) => Behavior.markovTransitions(s, d),
      """WITH s AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts)//1000 AS us FROM events),
        |t AS (SELECT event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
        |  FROM s),
        |c AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin),
    Gate("seg1_rfm_segments", (s, d) => Behavior.rfmSegments(s, d),
      """WITH m AS (SELECT o_custkey AS c, max(o_orderdate) AS last_order,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1),
        |q AS (SELECT c, freq, monetary,
        |    ntile(4) OVER (ORDER BY last_order DESC, c) AS r_q,
        |    ntile(4) OVER (ORDER BY freq DESC, c) AS f_q,
        |    ntile(4) OVER (ORDER BY monetary DESC, c) AS m_q
        |  FROM m)
        |SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q, CAST(m_q AS INT) AS m_q,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  round(CAST(sum(CAST(round(monetary, 2) AS DECIMAL(30,2))) AS DOUBLE)
        |    / count(*), 6) AS avg_monetary
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    Gate("ab1_ab_readout", (s, d) => Behavior.abTestReadout(s, d),
      """WITH u AS (SELECT user_id, CASE WHEN user_id % 3 = 0 THEN 0 ELSE 1 END AS grp,
        |    max(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(converted) AS BIGINT) AS conv FROM u GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN grp = 0 THEN n END) AS n_a, max(CASE WHEN grp = 0 THEN conv END) AS c_a,
        |    max(CASE WHEN grp = 1 THEN n END) AS n_b, max(CASE WHEN grp = 1 THEN conv END) AS c_b
        |  FROM g)
        |SELECT n_a, c_a, n_b, c_b,
        |  round(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
        |  round(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
        |  round(CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a, 6) AS lift,
        |  round((CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a)
        |    / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |      * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |      * (1.0/n_a + 1.0/n_b)), 6) AS z_stat
        |FROM w""".stripMargin),
    Gate("gc1_growth_curve", (s, d) => Behavior.userGrowthCurve(s, d),
      """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
        |h AS (SELECT strftime(date_trunc('hour', first_ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    CAST(count(*) AS BIGINT) AS n_new_users FROM f GROUP BY 1)
        |SELECT hour_start, n_new_users,
        |  CAST(sum(n_new_users) OVER (ORDER BY hour_start
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM h ORDER BY hour_start LIMIT 48""".stripMargin),
    // Durations sum as integer micros; ties inside a session are
    // gap-0 on any tie order, so the islands are order-ambiguity-free.
    Gate("isl1_batch_sessions", (s, d) => Behavior.batchSessions(s, d),
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS us FROM events),
        |o AS (SELECT user_id, us,
        |    lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
        |m AS (SELECT user_id, us, CASE WHEN prev IS NULL
        |    OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s FROM o),
        |s AS (SELECT user_id, us, CAST(SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM m),
        |g AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(max(us)-min(us) AS BIGINT) AS dur_us FROM s GROUP BY 1,2)
        |SELECT n_events AS session_size, CAST(count(*) AS BIGINT) AS n_sessions,
        |  round(CAST(sum(dur_us) AS BIGINT)/1000000.0/count(*), 6) AS avg_duration_sec
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("w7_spend_quartiles", (s, d) => Behavior.spendQuartiles(s, d),
      """WITH s AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey, spend,
        |  CAST(ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS INT) AS quartile
        |FROM s ORDER BY o_custkey""".stripMargin),
    // Life table over hour-grain durations (observation-window bounded);
    // d and n_risk are exact integers so both engines ln/exp the same
    // IEEE doubles; a d = n tail folds to -infinity -> survival 0.
    Gate("sur1_kaplan_meier", (s, d) => Behavior.kaplanMeier(s, d),
      """WITH pu AS (SELECT user_id, min(epoch_ns(ts)//1000) AS t0,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts)//1000 END) AS tp,
        |    max(epoch_ns(ts)//1000) AS tl
        |  FROM events GROUP BY 1),
        |du AS (SELECT CASE WHEN tp IS NOT NULL
        |      THEN CAST(floor(CAST(tp - t0 AS DOUBLE) / 3600000000) AS BIGINT)
        |      ELSE CAST(floor(CAST(tl - t0 AS DOUBLE) / 3600000000) AS BIGINT) END AS dur_h,
        |    tp IS NOT NULL AS ev FROM pu),
        |life AS (SELECT dur_h,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d_events,
        |    CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS c_censored
        |  FROM du GROUP BY 1),
        |c AS (SELECT *, CAST(coalesce(sum(d_events + c_censored) OVER (ORDER BY dur_h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS left_before
        |  FROM life),
        |t AS (SELECT CAST(sum(d_events + c_censored) AS BIGINT) AS n_total FROM life),
        |r AS (SELECT dur_h, d_events, c_censored, n_total - left_before AS n_risk FROM c, t),
        |l AS (SELECT *, CASE
        |    WHEN 1.0 - CAST(d_events AS DOUBLE)/CAST(n_risk AS DOUBLE) > 0
        |    THEN ln(1.0 - CAST(d_events AS DOUBLE)/CAST(n_risk AS DOUBLE))
        |    ELSE CAST('-infinity' AS DOUBLE) END AS lnf FROM r)
        |SELECT dur_h, n_risk, d_events, c_censored,
        |  round(exp(sum(lnf) OVER (ORDER BY dur_h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS survival
        |FROM l ORDER BY dur_h""".stripMargin),
    // Per-user windows only (scales with users); boundary ties in the
    // top-k break on the path string for a deterministic set.
    Gate("path1_session_paths", (s, d) => Behavior.sessionPaths(s, d),
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS us, event_type
        |  FROM events WHERE event_type IS NOT NULL),
        |s AS (SELECT event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS e3
        |  FROM e)
        |SELECT e1 || '>' || e2 || '>' || e3 AS path, CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 25""".stripMargin),
    // Revenue stays DECIMAL through the per-cohort cumulative window;
    // one double division at the end, mirrored term-for-term.
    Gate("ltv1_cohort_ltv", (s, d) => Behavior.cohortLtv(s, d),
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS rev
        |  FROM events),
        |j AS (SELECT user_id, day, rev,
        |    min(day) OVER (PARTITION BY user_id) AS cohort FROM e),
        |sizes AS (SELECT cohort, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM j GROUP BY 1),
        |d AS (SELECT cohort, date_diff('day', cohort, day) AS day_offset,
        |    sum(CAST(rev AS DECIMAL(30,6))) AS r FROM j GROUP BY 1, 2),
        |cum AS (SELECT cohort, day_offset,
        |    CAST(sum(r) OVER (PARTITION BY cohort ORDER BY day_offset
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(30,6)) AS cr
        |  FROM d)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |  CAST(day_offset AS INT) AS day_offset, n_users,
        |  round(CAST(cr AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS ltv_per_user
        |FROM cum JOIN sizes USING (cohort)
        |WHERE day_offset <= 7 ORDER BY 1, 2""".stripMargin),
    // Latency micros sum in DECIMAL (order-invariant); purchases
    // strictly before the first click never qualify.
    Gate("wfn1_windowed_conversion", (s, d) => Behavior.windowedConversion(s, d),
      """WITH u AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'click' THEN epoch_ns(ts)//1000 END) AS c0
        |  FROM events GROUP BY 1),
        |clicked AS (SELECT user_id, c0 FROM u WHERE c0 IS NOT NULL),
        |q AS (SELECT e.user_id, min(epoch_ns(e.ts)//1000 - c.c0) AS lat_us
        |  FROM events e JOIN clicked c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts)//1000 >= c.c0
        |  GROUP BY 1 HAVING min(epoch_ns(e.ts)//1000 - c.c0) <= 172800000000),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_clicked FROM clicked),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |    sum(CAST(lat_us AS DECIMAL(30,0))) AS lat_sum FROM q)
        |SELECT n_clicked, n_converted,
        |  round(CAST(n_converted AS DOUBLE) / CAST(n_clicked AS DOUBLE), 6)
        |    AS conversion_rate,
        |  round(CAST(lat_sum AS DOUBLE) / CAST(n_converted AS DOUBLE)
        |    / 60000000.0, 6) AS mean_minutes_to_convert
        |FROM n, v""".stripMargin),
    // seq1's oracle restates the closed forms (⟨a,b⟩ ⟺ min_a < max_b;
    // ⟨a,b,c⟩ ⟺ min-b-after-first-a < max_c) over the same 30-min
    // sessionization — strict comparisons on integer micros both sides.
    Gate("seq1_frequent_subsequences", (s, d) => Behavior.frequentSubsequences(s, d),
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us
        |  FROM events WHERE event_type IS NOT NULL),
        |l AS (SELECT user_id, event_id, event_type, us,
        |    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM ev),
        |s AS (SELECT user_id, event_type, us,
        |    sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sid FROM l),
        |pst AS (SELECT user_id, sid, event_type, min(us) AS mn, max(us) AS mx
        |  FROM s GROUP BY 1, 2, 3),
        |p2 AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS support
        |  FROM pst a JOIN pst b ON a.user_id = b.user_id AND a.sid = b.sid
        |    AND a.mn < b.mx GROUP BY 1, 2),
        |eab AS (SELECT e.user_id, e.sid, a.event_type AS ta, e.event_type AS tb,
        |    min(e.us) AS eab
        |  FROM s e JOIN pst a ON e.user_id = a.user_id AND e.sid = a.sid
        |    AND e.us > a.mn GROUP BY 1, 2, 3, 4),
        |p3 AS (SELECT eab.ta, eab.tb, c.event_type AS tc, count(*) AS support
        |  FROM eab JOIN pst c ON eab.user_id = c.user_id AND eab.sid = c.sid
        |    AND eab.eab < c.mx GROUP BY 1, 2, 3)
        |SELECT pattern, len, support FROM (
        |  SELECT ta || '>' || tb AS pattern, 2 AS len,
        |    CAST(support AS BIGINT) AS support FROM p2 WHERE support >= 20
        |  UNION ALL
        |  SELECT ta || '>' || tb || '>' || tc AS pattern, 3 AS len,
        |    CAST(support AS BIGINT) AS support FROM p3 WHERE support >= 20)
        |ORDER BY len, support DESC, pattern""".stripMargin),
    Gate("att2_markov_attribution", (s, d) => Behavior.markovAttribution(s, d), att2Oracle),
  )

  /** att2's oracle: the full journey→transition-count pipeline, then a
    * GENERATED quantized power-iteration chain (pr1's discipline:
    * contributions round(p·n/tot·1e12) summed as exact BIGINTs) for
    * the full matrix and each channel-removed variant. Channels are
    * the events taxonomy minus purchase, sorted — must match what the
    * Spark side discovers.
    */
  private def att2Oracle: String = {
    val channels = Seq("click", "error", "signup", "view")
    val k = 20
    def chain(v: String, tcRef: String): String = {
      val its = (1 to k).map { i =>
        s"""p_${v}_$i AS MATERIALIZED (SELECT t.dst AS state,
           |  CAST(sum(CAST(round(p.p * t.n / t.tot * 1000000000000.0) AS BIGINT)) AS BIGINT)
           |    / 1000000000000.0 AS p
           |  FROM p_${v}_${i - 1} p JOIN $tcRef t ON p.state = t.src GROUP BY t.dst)"""
          .stripMargin
      }
      (s"p_${v}_0 AS MATERIALIZED (SELECT 'START' AS state, 1.0 AS p)" +: its).mkString(",\n") +
        s",\ncv_$v AS MATERIALIZED (SELECT coalesce((SELECT p FROM p_${v}_$k WHERE state = 'CONV'), 0.0) AS cp)"
    }
    val removedTcs = channels.map { c =>
      s"""tc_$c AS MATERIALIZED (SELECT src, CASE WHEN dst = '$c' THEN 'NULL' ELSE dst END AS dst,
         |  CAST(sum(n) AS BIGINT) AS n, tot
         |  FROM tc WHERE src <> '$c' GROUP BY 1, 2, tot)""".stripMargin
    }
    val chains = chain("f", "tc") +: channels.map(c => chain(c, s"tc_$c"))
    val effRows = channels.map(c =>
      s"SELECT '$c' AS channel, (SELECT cp FROM cv_$c) AS cr").mkString("\n  UNION ALL ")
    s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us
       |  FROM events WHERE event_type IS NOT NULL),
       |rns AS (SELECT user_id, event_id, event_type, us,
       |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn FROM ev),
       |fp AS (SELECT user_id, min(rn) AS pr FROM rns WHERE event_type = 'purchase' GROUP BY 1),
       |cut AS (SELECT r.user_id, r.us, r.event_id,
       |    CASE WHEN r.event_type = 'purchase' THEN 'CONV' ELSE r.event_type END AS state,
       |    fp.pr
       |  FROM rns r LEFT JOIN fp USING (user_id)
       |  WHERE fp.pr IS NULL OR r.rn <= fp.pr),
       |lg AS (SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
       |  FROM cut),
       |cl AS (SELECT user_id, us, event_id, state, pr FROM lg
       |  WHERE prev IS NULL OR prev <> state),
       |cl2 AS (SELECT *, coalesce(lag(state) OVER (PARTITION BY user_id ORDER BY us, event_id),
       |    'START') AS src FROM cl),
       |term AS (SELECT state AS src, 'NULL' AS dst FROM (
       |    SELECT state, row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rr
       |    FROM cl2 WHERE pr IS NULL) WHERE rr = 1),
       |tc0 AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT src, state AS dst FROM cl2 UNION ALL SELECT src, dst FROM term)
       |  GROUP BY 1, 2),
       |tc1 AS MATERIALIZED (SELECT * FROM tc0
       |  UNION ALL SELECT 'CONV', 'CONV', CAST(1 AS BIGINT)
       |  UNION ALL SELECT 'NULL', 'NULL', CAST(1 AS BIGINT)),
       |tc AS MATERIALIZED (SELECT src, dst, n, CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS tot FROM tc1),
       |${removedTcs.mkString(",\n")},
       |${chains.mkString(",\n")},
       |eff AS MATERIALIZED (${effRows}),
       |effq AS MATERIALIZED (SELECT channel, cr,
       |    CAST(round(1.0 - cr / (SELECT cp FROM cv_f), 12) AS DECIMAL(38,12)) AS eff FROM eff),
       |tot AS MATERIALIZED (SELECT CAST(sum(eff) AS DECIMAL(38,12)) AS t FROM effq)
       |SELECT channel,
       |  round((SELECT cp FROM cv_f), 6) AS conv_full,
       |  round(cr, 6) AS conv_removed,
       |  round(CAST(eff AS DOUBLE), 6) AS removal_effect,
       |  round(CAST(eff AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
       |FROM effq, tot ORDER BY channel""".stripMargin
  }
}
