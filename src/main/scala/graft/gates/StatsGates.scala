package graft.gates

import graft.operators.Stats
import Oracles.SprtOracleSql

/** The gates of [[graft.operators.Stats]]: each run with its DuckDB oracle.
  *
  * Sufficient statistics accumulate exactly (BIGINT/DECIMAL); every double
  * expression mirrors the Scala operation order term for term (chained
  * CTEs bind the same intermediates the Scala code reuses).
  */
object StatsGates {
  val gates: Seq[Gate] = Seq(
    // Ridge normal equations: DECIMAL-exact sufficient statistics,
    // then the identical 3×3 adjugate solve — bit-equal doubles.
    Gate("ridge1_ridge_fit", (s, d) => Stats.ridgeFit(s, d),
      """WITH f AS (SELECT CAST(l_quantity AS DECIMAL(30,2)) AS x1,
        |    CAST(round(l_discount*100) AS BIGINT) AS x2,
        |    CAST(l_extendedprice AS DECIMAL(30,2)) AS y FROM lineitem),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x1) AS DOUBLE) AS sx1, CAST(sum(x2) AS DOUBLE) AS sx2,
        |    CAST(sum(x1*x1) AS DOUBLE) AS sx1x1,
        |    CAST(sum(x1*x2) AS DOUBLE) AS sx1x2,
        |    CAST(sum(x2*x2) AS DOUBLE) AS sx2x2,
        |    CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x1*y) AS DOUBLE) AS sx1y,
        |    CAST(sum(x2*y) AS DOUBLE) AS sx2y, CAST(sum(y*y) AS DOUBLE) AS syy
        |  FROM f),
        |m AS (SELECT s.*, sx1x1 + 10.0 AS a11, sx2x2 + 10.0 AS a22 FROM s),
        |c AS (SELECT m.*,
        |    (a11*a22 - sx1x2*sx1x2) AS c00,
        |    -(sx1*a22 - sx1x2*sx2) AS c01,
        |    (sx1*sx1x2 - a11*sx2) AS c02,
        |    (n*a22 - sx2*sx2) AS c11,
        |    -(n*sx1x2 - sx1*sx2) AS c12,
        |    (n*a11 - sx1*sx1) AS c22
        |  FROM m),
        |b AS (SELECT c.*,
        |    (c00*sy + c01*sx1y + c02*sx2y) / (n*c00 + sx1*c01 + sx2*c02) AS b0,
        |    (c01*sy + c11*sx1y + c12*sx2y) / (n*c00 + sx1*c01 + sx2*c02) AS b1,
        |    (c02*sy + c12*sx1y + c22*sx2y) / (n*c00 + sx1*c01 + sx2*c02) AS b2
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n_rows, round(b0, 6) AS intercept,
        |  round(b1, 6) AS coef_quantity, round(b2, 6) AS coef_discount,
        |  round(1.0 - (syy - 2.0*(b0*sy + b1*sx1y + b2*sx2y)
        |    + (b0*b0*n + b1*b1*(a11-10.0) + b2*b2*(a22-10.0)
        |       + 2.0*b0*b1*sx1 + 2.0*b0*b2*sx2 + 2.0*b1*b2*sx1x2))
        |    / (syy - sy*sy/n), 6) AS r2
        |FROM b""".stripMargin),
    // Kendall tau-b by the contingency-grid closed form: dominance
    // counts as two chained exclusive prefix sums over the dense
    // grid; ties from marginals. Spec brute-forces all pairs.
    Gate("kt1_kendall_tau", (s, d) => Stats.kendallTau(s, d),
      """WITH o AS (SELECT CAST(year(o_orderdate)*12 + month(o_orderdate) AS BIGINT) AS x,
        |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS y FROM orders),
        |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS nij FROM o GROUP BY 1, 2),
        |grid AS (SELECT xs.x, ys.y, COALESCE(c.nij, 0) AS nij
        |  FROM (SELECT DISTINCT x FROM cells) xs
        |  CROSS JOIN (SELECT DISTINCT y FROM cells) ys
        |  LEFT JOIN cells c USING (x, y)),
        |w1 AS (SELECT x, y, nij,
        |    COALESCE(sum(nij) OVER (PARTITION BY y ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumx
        |  FROM grid),
        |w2 AS (SELECT x, y, nij,
        |    COALESCE(sum(cumx) OVER (PARTITION BY x ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p_lt_lt,
        |    COALESCE(sum(cumx) OVER (PARTITION BY x ORDER BY y DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p_lt_gt
        |  FROM w1),
        |agg AS (SELECT
        |    CAST(sum(CAST(nij AS DECIMAL(38,0)) * p_lt_lt) AS DECIMAL(38,0)) AS c_conc,
        |    CAST(sum(CAST(nij AS DECIMAL(38,0)) * p_lt_gt) AS DECIMAL(38,0)) AS d_disc
        |  FROM w2),
        |marg AS (SELECT
        |    (SELECT CAST(sum(nij) AS BIGINT) FROM cells) AS n,
        |    (SELECT CAST(sum(CAST(t AS DECIMAL(38,0))*(t-1)/2) AS DECIMAL(38,0))
        |       FROM (SELECT sum(nij) AS t FROM cells GROUP BY x)) AS n1,
        |    (SELECT CAST(sum(CAST(t AS DECIMAL(38,0))*(t-1)/2) AS DECIMAL(38,0))
        |       FROM (SELECT sum(nij) AS t FROM cells GROUP BY y)) AS n2)
        |SELECT n AS n_rows, CAST(c_conc AS BIGINT) AS concordant,
        |  CAST(d_disc AS BIGINT) AS discordant,
        |  round((CAST(c_conc AS DOUBLE) - CAST(d_disc AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE)*(n-1)/2.0 - CAST(n1 AS DOUBLE))
        |         * (CAST(n AS DOUBLE)*(n-1)/2.0 - CAST(n2 AS DOUBLE))), 9) AS tau_b
        |FROM agg CROSS JOIN marg""".stripMargin),
    // Wald SPRT with pre-rounded DECIMAL weights: the whole LLR path
    // is exact integer×decimal arithmetic — no ln at runtime. The
    // SAME oracle checks the batch walk (sprt1) and the streaming-
    // state walk (st19): batch ≡ stream is part of the hash.
    Gate("sprt1_sequential_test", (s, d) => Stats.sprtGate(s, d), SprtOracleSql),
    // Subsample-ensemble CI: 32 md5-keyed half-rate replicas in one
    // pass; CI = order statistics of the exact replica means.
    Gate("boot1_subsample_ci", (s, d) => Stats.subsampleCi(s, d),
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |reps AS (SELECT r FROM range(32) t(r)),
        |sub AS (SELECT r, cents FROM reps, o
        |  WHERE substring(md5(CAST(r AS VARCHAR) || ':'
        |    || CAST(k AS VARCHAR)), 1, 4) < '8000'),
        |m AS (SELECT r, round(CAST(sum(cents) AS DOUBLE) / count(*), 6)
        |    AS mean_cents FROM sub GROUP BY 1),
        |s AS (SELECT mean_cents,
        |    row_number() OVER (ORDER BY mean_cents) AS rn FROM m),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    round(CAST(sum(cents) AS DOUBLE) / count(*), 6) AS mean_full
        |  FROM o)
        |SELECT f.n_rows, f.mean_full,
        |  (SELECT mean_cents FROM s WHERE rn = 4) AS ci_lo_10,
        |  (SELECT mean_cents FROM s WHERE rn = 29) AS ci_hi_90
        |FROM f""".stripMargin),
    // Yule-Walker AR(2): exact integer sums over the hourly spine,
    // identical pinned double assembly on both engines.
    Gate("yw1_yule_walker", (s, d) => Stats.yuleWalkerGate(s, d),
      """WITH h AS (SELECT date_trunc('hour', ts) AS hr,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |o AS (SELECT x, lag(x, 1) OVER (ORDER BY hr) AS x1,
        |    lag(x, 2) OVER (ORDER BY hr) AS x2 FROM h),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(CASE WHEN x1 IS NOT NULL THEN x*x1 END) AS BIGINT) AS sxy1,
        |    CAST(sum(CASE WHEN x1 IS NOT NULL THEN x END) AS BIGINT) AS sh1,
        |    CAST(sum(x1) AS BIGINT) AS st1, CAST(count(x1) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN x2 IS NOT NULL THEN x*x2 END) AS BIGINT) AS sxy2,
        |    CAST(sum(CASE WHEN x2 IS NOT NULL THEN x END) AS BIGINT) AS sh2,
        |    CAST(sum(x2) AS BIGINT) AS st2, CAST(count(x2) AS BIGINT) AS n2
        |  FROM o),
        |g AS (SELECT n,
        |    (CAST(sxx AS DOUBLE) - 2.0 * (CAST(sx AS DOUBLE) / n) * sx
        |      + n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) / n AS g0,
        |    (CAST(sxy1 AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * (sh1 + st1)
        |      + n1 * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) / n AS g1,
        |    (CAST(sxy2 AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * (sh2 + st2)
        |      + n2 * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) / n AS g2
        |  FROM s)
        |SELECT n AS n_hours,
        |  round(g1 / g0, 9) AS r1, round(g2 / g0, 9) AS r2,
        |  round((g1 / g0) * (1.0 - g2 / g0)
        |    / (1.0 - (g1 / g0) * (g1 / g0)), 9) AS phi1,
        |  round((g2 / g0 - (g1 / g0) * (g1 / g0))
        |    / (1.0 - (g1 / g0) * (g1 / g0)), 9) AS phi2
        |FROM g""".stripMargin),
    // Neyman allocation: exact DECIMAL sufficient sums -> quantized
    // weights -> the same Hamilton integer apportionment as c9.
    Gate("ney1_neyman_allocation", (s, d) => Stats.neymanAllocation(s, d),
      """WITH o AS (SELECT o_orderpriority AS prio,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |s AS (SELECT prio, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sx,
        |    CAST(sum(cents*cents) AS DECIMAL(38,0)) AS sxx
        |  FROM o GROUP BY 1),
        |sd AS (SELECT prio, n,
        |    round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
        |      / (n - 1)), 6) AS sdev
        |  FROM s),
        |wq AS (SELECT prio, n, sdev,
        |    CAST(round(n * sdev, 0) AS BIGINT) AS u FROM sd),
        |h AS (SELECT prio, n, sdev, u,
        |    u * 1000 // sum(u) OVER () AS base,
        |    u * 1000 % sum(u) OVER () AS rem FROM wq),
        |h2 AS (SELECT *, row_number() OVER (ORDER BY rem DESC, prio) AS xr,
        |    1000 - sum(base) OVER () AS extras FROM h)
        |SELECT prio, n AS n_rows, sdev AS sd_cents,
        |  CAST(base + CASE WHEN xr <= extras THEN 1 ELSE 0 END AS BIGINT)
        |    AS allocated
        |FROM h2 ORDER BY prio""".stripMargin),
    // Wilson score interval: closed form over exact counts, pinned
    // double order, z constant shared verbatim.
    Gate("wil1_wilson_ci", (s, d) => Stats.wilsonIntervals(s, d),
      """WITH s AS (SELECT o_orderpriority AS prio,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nf
        |  FROM orders GROUP BY 1),
        |w AS (SELECT prio, n, nf, CAST(nf AS DOUBLE) / n AS p,
        |    1.959964 AS z FROM s)
        |SELECT prio, n, nf, round(p, 6) AS p_hat,
        |  round((p + z*z/(2*n) - z * sqrt(p*(1.0-p)/n + z*z/(4.0*n*n)))
        |    / (1.0 + z*z/n), 9) AS wilson_lo,
        |  round((p + z*z/(2*n) + z * sqrt(p*(1.0-p)/n + z*z/(4.0*n*n)))
        |    / (1.0 + z*z/n), 9) AS wilson_hi
        |FROM w ORDER BY prio""".stripMargin),
    // Partial correlation from the three pairwise Pearson r's; all
    // ten sufficient sums DECIMAL-exact before the double assembly.
    Gate("cor2_partial_corr", (s, d) => Stats.partialCorrelation(s, d),
      """WITH f AS (SELECT CAST(l_quantity AS DECIMAL(30,2)) AS x,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS y,
        |    CAST(round(l_discount*100) AS BIGINT) AS z FROM lineitem),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(z) AS DOUBLE) AS sz,
        |    CAST(sum(x*x) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y AS DECIMAL(38,0))*y) AS DOUBLE) AS syy,
        |    CAST(sum(z*z) AS DOUBLE) AS szz,
        |    CAST(sum(x*y) AS DOUBLE) AS sxy,
        |    CAST(sum(x*z) AS DOUBLE) AS sxz,
        |    CAST(sum(y*z) AS DOUBLE) AS syz FROM f),
        |r AS (SELECT n,
        |  (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS rxy,
        |  (n*sxz - sx*sz) / (sqrt(n*sxx - sx*sx) * sqrt(n*szz - sz*sz)) AS rxz,
        |  (n*syz - sy*sz) / (sqrt(n*syy - sy*sy) * sqrt(n*szz - sz*sz)) AS ryz
        |  FROM s)
        |SELECT CAST(n AS BIGINT) AS n_rows, round(rxy, 9) AS r_xy,
        |  round(rxz, 9) AS r_xz, round(ryz, 9) AS r_yz,
        |  round((rxy - rxz*ryz)
        |    / (sqrt(1.0 - rxz*rxz) * sqrt(1.0 - ryz*ryz)), 9) AS r_xy_given_z
        |FROM r""".stripMargin),
    // Optimal Gini split: cumulative class counts over the distinct-
    // value spine, 12-dp impurities, argmin with threshold tie-break.
    Gate("gini2_best_split", (s, d) => Stats.bestGiniSplit(s, d),
      """WITH f AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        |  FROM lineitem),
        |g AS (SELECT v, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pos) AS BIGINT) AS p FROM f GROUP BY 1),
        |c AS (SELECT v, sum(n) OVER w AS cn, sum(p) OVER w AS cp,
        |    (SELECT sum(n) FROM g) AS tn, (SELECT sum(p) FROM g) AS tp
        |  FROM g WINDOW w AS (ORDER BY v)),
        |s AS (SELECT v, cn, cp, tn, tp FROM c WHERE cn < tn),
        |gini AS (SELECT v,
        |    round((CAST(cn AS DOUBLE)/tn)
        |      * (2.0*(CAST(cp AS DOUBLE)/cn)*(1.0 - CAST(cp AS DOUBLE)/cn))
        |    + (CAST(tn - cn AS DOUBLE)/tn)
        |      * (2.0*(CAST(tp - cp AS DOUBLE)/(tn - cn))
        |         *(1.0 - CAST(tp - cp AS DOUBLE)/(tn - cn))), 12) AS wg
        |  FROM s)
        |SELECT CAST(v AS BIGINT) AS split_at, wg AS weighted_gini
        |FROM gini ORDER BY wg, split_at LIMIT 1""".stripMargin),
    // Mahalanobis top-k on the (order-count, spend) profile: exact
    // sums -> 2x2 covariance inverse in pinned double order.
    Gate("maha1_mahalanobis", (s, d) => Stats.mahalanobisOutliers(s, d),
      """WITH f AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x*x) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y AS DECIMAL(38,0))*y) AS DOUBLE) AS syy,
        |    CAST(sum(x*y) AS DOUBLE) AS sxy FROM f),
        |m AS (SELECT n, sx/n AS mx, sy/n AS my,
        |    (sxx - sx*sx/n) / (n - 1) AS vxx,
        |    (syy - sy*sy/n) / (n - 1) AS vyy,
        |    (sxy - sx*sy/n) / (n - 1) AS vxy FROM s),
        |d AS (SELECT f.k,
        |    round(((f.x - mx)*(f.x - mx)*vyy - 2.0*(f.x - mx)*(f.y - my)*vxy
        |      + (f.y - my)*(f.y - my)*vxx) / (vxx*vyy - vxy*vxy), 6) AS d2
        |  FROM f CROSS JOIN m)
        |SELECT k AS custkey, d2 AS mahalanobis_sq
        |FROM d ORDER BY d2 DESC, k LIMIT 10""".stripMargin),
    // Brown-Forsythe: exact per-group median order statistics, exact
    // |x-med| sums, 9-dp-quantized between/within terms.
    // Textbook (averaged-middle-pair) medians — DuckDB's own median();
    // deviations doubled on both sides to stay exact integers (an F
    // statistic is invariant under global z scaling).
    Gate("lev1_brown_forsythe", (s, d) => Stats.brownForsythe(s, d),
      """WITH f AS (SELECT o_orderpriority AS prio,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS v FROM orders),
        |med AS (SELECT prio, CAST(median(v) AS DOUBLE) AS median_cents,
        |    CAST(2*median(v) AS BIGINT) AS m2 FROM f GROUP BY 1),
        |z AS (SELECT f.prio AS prio, abs(2*f.v - m.m2) AS z
        |  FROM f JOIN med m ON m.prio = f.prio),
        |g AS (SELECT prio, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(z) AS BIGINT) AS sz,
        |    CAST(sum(CAST(z AS DECIMAL(38,0))*z) AS DECIMAL(38,0)) AS szz
        |  FROM z GROUP BY 1),
        |t AS (SELECT g.*, sum(n) OVER () AS tn, sum(sz) OVER () AS tg,
        |    count(*) OVER () AS kgrp FROM g),
        |u AS (SELECT *, CAST(sz AS DOUBLE)/n AS meang,
        |    CAST(tg AS DOUBLE)/tn AS grand FROM t),
        |w AS (SELECT *,
        |    CAST(round(n * ((meang - grand)*(meang - grand)), 9)
        |      AS DECIMAL(38,9)) AS ssb,
        |    CAST(round(CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*sz/n, 9)
        |      AS DECIMAL(38,9)) AS ssw FROM u),
        |fs AS (SELECT round((CAST(sum(ssb) AS DOUBLE)/(max(kgrp)-1))
        |    / (CAST(sum(ssw) AS DOUBLE)/(max(tn)-max(kgrp))), 6) AS bf_f
        |  FROM w)
        |SELECT w.prio AS prio, w.n AS n_rows, m.median_cents,
        |  round(w.meang/2, 6) AS mean_absdev, fs.bf_f
        |FROM w JOIN med m ON m.prio = w.prio CROSS JOIN fs
        |ORDER BY prio""".stripMargin),
    Gate("wt1_welch_ttest", (s, d) => Stats.welchTTest(s, d),
      """WITH a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    sum(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(30,6))
        |      ELSE CAST(0 AS DECIMAL(30,6)) END) AS sa,
        |    sum(CASE WHEN event_type='purchase' THEN CAST(value*value AS DECIMAL(38,6))
        |      ELSE CAST(0 AS DECIMAL(38,6)) END) AS qa,
        |    CAST(sum(CASE WHEN event_type='purchase' THEN 0 ELSE 1 END) AS BIGINT) AS nb,
        |    sum(CASE WHEN event_type='purchase' THEN CAST(0 AS DECIMAL(30,6))
        |      ELSE CAST(value AS DECIMAL(30,6)) END) AS sb,
        |    sum(CASE WHEN event_type='purchase' THEN CAST(0 AS DECIMAL(38,6))
        |      ELSE CAST(value*value AS DECIMAL(38,6)) END) AS qb
        |  FROM events WHERE event_type IN ('purchase','click')),
        |d AS (SELECT na, nb, CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
        |  CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
        |  CAST(qa AS DOUBLE) AS qad, CAST(qb AS DOUBLE) AS qbd FROM a),
        |m AS (SELECT *, sad/nad AS ma, sbd/nbd AS mb FROM d),
        |v AS (SELECT *, (qad - nad*ma*ma)/(nad - 1) AS va,
        |  (qbd - nbd*mb*mb)/(nbd - 1) AS vb FROM m),
        |s AS (SELECT *, va/nad AS sea, vb/nbd AS seb FROM v)
        |SELECT na AS n_a, nb AS n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round(va, 6) AS var_a, round(vb, 6) AS var_b,
        |  round((ma - mb)/sqrt(sea + seb), 6) AS t_stat,
        |  round((sea + seb)*(sea + seb)
        |    / (sea*sea/(nad - 1) + seb*seb/(nbd - 1)), 6) AS dof
        |FROM s""".stripMargin),
    // Half-rank sum stays in exact integers (DECIMAL(38,0)); the window
    // runs over the DISTINCT-VALUE table, never per row.
    Gate("mw1_mann_whitney", (s, d) => Stats.mannWhitneyU(s, d),
      """WITH ev AS (SELECT value, event_type='purchase' AS isa FROM events
        |  WHERE event_type IN ('purchase','click')),
        |g AS (SELECT value,
        |  CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS cb
        | FROM ev GROUP BY 1),
        |c AS (SELECT ca, cb, CAST(coalesce(sum(ca+cb) OVER (ORDER BY value
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM g),
        |agg AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        |  sum(CAST(ca*(cum_before*2 + ca + cb + 1) AS DECIMAL(38,0))) AS r2,
        |  sum(CAST((ca+cb)*(ca+cb)*(ca+cb) - (ca+cb) AS DECIMAL(38,0))) AS ties FROM c),
        |d AS (SELECT na, nb, CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
        |  CAST(r2 AS DOUBLE) AS r2d, CAST(ties AS DOUBLE) AS tiesd FROM agg),
        |u AS (SELECT *, nad + nbd AS n, r2d/2 - nad*(nad + 1)/2 AS ustat FROM d)
        |SELECT na AS n_a, nb AS n_b, round(ustat, 6) AS u_stat,
        |  round((ustat - nad*nbd/2)
        |    / sqrt(nad*nbd/12 * ((n + 1) - tiesd/(n*(n - 1)))), 6) AS z_score
        |FROM u""".stripMargin),
    Gate("woe1_weight_of_evidence", (s, d) => Stats.weightOfEvidence(s, d),
      """WITH b AS (SELECT CAST(floor(o_totalprice/50000.0) AS INT) AS bin,
        |  o_orderstatus = 'F' AS pos FROM orders),
        |g AS (SELECT bin,
        |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        | FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
        |  CAST(sum(n_neg) AS BIGINT) AS tn FROM g),
        |p AS (SELECT bin, n_pos, n_neg,
        |  (CAST(n_pos AS DOUBLE) + 0.5)/CAST(tp AS DOUBLE) AS pp,
        |  (CAST(n_neg AS DOUBLE) + 0.5)/CAST(tn AS DOUBLE) AS pn FROM g, t)
        |SELECT bin, n_pos, n_neg, round(ln(pp) - ln(pn), 6) AS woe,
        |  round((pp - pn)*(ln(pp) - ln(pn)), 6) AS iv_term
        |FROM p ORDER BY bin""".stripMargin),
    // Same sufficient-statistic discipline as acf1, across two series.
    Gate("xc1_lagged_xcorr", (s, d) => Stats.laggedCrossCorrelation(s, d),
      """WITH h AS (SELECT epoch(date_trunc('hour', ts))//3600 AS hi, event_type,
        |    CAST(count(*) AS BIGINT) AS n FROM events
        |  WHERE event_type IN ('click','purchase') GROUP BY 1, 2),
        |x AS (SELECT hi, n AS x FROM h WHERE event_type = 'click'),
        |y AS (SELECT hi AS hiy, n AS y FROM h WHERE event_type = 'purchase'),
        |l AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6)) AS t(lag_hours)),
        |p AS (SELECT l.lag_hours, x.x, y.y
        |  FROM l JOIN x ON true JOIN y ON y.hiy = x.hi + l.lag_hours),
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
        |    / (sqrt(npd*sxxd - sxd*sxd) * sqrt(npd*syyd - syd*syd)), 6) AS xcorr
        |FROM d ORDER BY lag_hours""".stripMargin),
    // The recursion replays the engine's aggregate() fold step-for-step
    // (complement-free update forms: no 1-α/1-β literals to drift).
    Gate("hw1_holt_linear", (s, d) => Stats.holtLinearTrend(s, d),
      """WITH RECURSIVE
        |hh AS (SELECT event_type, epoch(date_trunc('hour', ts))//3600 AS hi,
        |  CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, CAST(row_number() OVER (PARTITION BY event_type
        |  ORDER BY hi) AS BIGINT) AS rn, x FROM hh),
        |nper AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
        |r AS (
        |  SELECT s1.event_type AS event_type, CAST(1 AS BIGINT) AS t,
        |    s1.x AS l, s2.x - s1.x AS b
        |  FROM s s1 JOIN s s2 ON s1.event_type = s2.event_type
        |    AND s1.rn = 1 AND s2.rn = 2
        |  UNION ALL
        |  SELECT r.event_type AS event_type, r.t + 1,
        |    (r.l + r.b) + 0.5 * (s.x - (r.l + r.b)),
        |    r.b + 0.3 * ((((r.l + r.b) + 0.5 * (s.x - (r.l + r.b))) - r.l) - r.b)
        |  FROM r JOIN s ON s.event_type = r.event_type AND s.rn = r.t + 1)
        |SELECT r.event_type, n.n AS n_hours, round(r.l, 6) AS level,
        |  round(r.b, 6) AS trend, round(r.l + r.b, 6) AS forecast_next
        |FROM r JOIN nper n ON r.event_type = n.event_type AND r.t = n.n
        |WHERE n.n >= 2 ORDER BY r.event_type""".stripMargin),
    Gate("ga1_degree_assortativity", (s, d) => Stats.degreeAssortativity(s, d),
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |d2 AS (SELECT u AS src, v AS dst FROM e
        |  UNION ALL SELECT v AS src, u AS dst FROM e),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM d2 GROUP BY 1),
        |p AS (SELECT du.d AS du, dv.d AS dv FROM d2
        |  JOIN deg du ON d2.src = du.src JOIN deg dv ON d2.dst = dv.src),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS np, CAST(sum(du) AS BIGINT) AS sx,
        |  CAST(sum(dv) AS BIGINT) AS sy, CAST(sum(du*dv) AS BIGINT) AS sxy,
        |  CAST(sum(du*du) AS BIGINT) AS sxx, CAST(sum(dv*dv) AS BIGINT) AS syy FROM p),
        |d AS (SELECT np, CAST(np AS DOUBLE) AS npd, CAST(sx AS DOUBLE) AS sxd,
        |  CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        |  CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd FROM a)
        |SELECT np AS n_directed_edges,
        |  round((npd*sxyd - sxd*syd)
        |    / (sqrt(npd*sxxd - sxd*sxd) * sqrt(npd*syyd - syd*syd)), 6) AS assortativity
        |FROM d""".stripMargin),
    Gate("ar1_association_rules", (s, d) => Stats.associationRules(s, d),
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM lineitem),
        |isup AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp FROM i GROUP BY 1),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS supp_ab
        |  FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |bt AS (SELECT pa AS ante, pb AS cons, supp_ab FROM p
        |  UNION ALL SELECT pb AS ante, pa AS cons, supp_ab FROM p)
        |SELECT b.ante, b.cons, b.supp_ab,
        |  round(CAST(b.supp_ab AS DOUBLE)/CAST(sa.supp AS DOUBLE), 6) AS confidence,
        |  round(CAST(b.supp_ab AS DOUBLE)*nb.n
        |    /(CAST(sa.supp AS DOUBLE)*CAST(sc.supp AS DOUBLE)), 6) AS lift
        |FROM bt b JOIN isup sa ON b.ante = sa.l_partkey
        |JOIN isup sc ON b.cons = sc.l_partkey, nb
        |ORDER BY supp_ab DESC, ante, cons""".stripMargin),
    // Pair stage runs on the calendar-bounded day spine; revenue is exact
    // BIGINT cents so every sign() and tie group is integer-decided.
    Gate("mkt1_mann_kendall", (s, d) => Stats.mannKendallTrend(s, d),
      """WITH s AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
        |    CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |p AS (SELECT a.di AS i, a.rev AS ri, b.di AS j, b.rev AS rj
        |  FROM s a JOIN s b ON a.di < b.di),
        |pa AS (SELECT
        |    CAST(sum(CASE WHEN rj > ri THEN 1 WHEN rj < ri THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
        |    quantile_cont((CAST(rj - ri AS DOUBLE) / 100.0) / CAST(j - i AS DOUBLE), 0.5) AS ts_slope
        |  FROM p),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM s),
        |t AS (SELECT CAST(coalesce(sum(t*(t-1)*(2*t+5)), 0) AS BIGINT) AS tie_sum
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY rev HAVING count(*) > 1)),
        |d AS (SELECT s_stat, ts_slope, n_days,
        |  CAST(n_days AS DOUBLE) AS nd, CAST(tie_sum AS DOUBLE) AS td FROM pa, n, t),
        |v AS (SELECT *, (nd*(nd - 1)*(2*nd + 5) - td)/18.0 AS var_s FROM d)
        |SELECT n_days, s_stat, round(var_s, 6) AS var_s,
        |  round(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1)/sqrt(var_s)
        |    WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1)/sqrt(var_s)
        |    ELSE 0.0 END, 6) AS z_score,
        |  round(ts_slope, 6) AS theil_sen_slope
        |FROM v""".stripMargin),
    // Group sums fold through DECIMAL(38,18) on both engines so the
    // k-row reduction is order-invariant; doubles mirror term-for-term.
    Gate("anova1_event_values", (s, d) => Stats.anovaOneWay(s, d),
      """WITH g AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS ng,
        |    sum(CAST(value AS DECIMAL(30,6))) AS sg,
        |    sum(CAST(value*value AS DECIMAL(38,6))) AS qg
        |  FROM events GROUP BY 1),
        |d AS (SELECT ng, CAST(ng AS DOUBLE) AS ngd, CAST(sg AS DOUBLE) AS sgd,
        |  CAST(qg AS DOUBLE) AS qgd FROM g),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |  CAST(sum(CAST(sgd AS DECIMAL(38,18))) AS DOUBLE) AS s_tot,
        |  CAST(sum(CAST(sgd*sgd/ngd AS DECIMAL(38,18))) AS DOUBLE) AS ssq_over_n,
        |  CAST(sum(CAST(qgd - sgd*sgd/ngd AS DECIMAL(38,18))) AS DOUBLE) AS ssw
        | FROM d),
        |c AS (SELECT k, n, CAST(k AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd,
        |  ssq_over_n - s_tot*s_tot/CAST(n AS DOUBLE) AS ssb, ssw FROM a)
        |SELECT k AS k_groups, n AS n_rows,
        |  round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
        |  round((ssb/(kd - 1))/(ssw/(nd - kd)), 6) AS f_stat,
        |  k - 1 AS df1, n - k AS df2
        |FROM c""".stripMargin),
    // Doubled average ranks (2·#smaller + #equal + 1) stay BIGINT;
    // all five Pearson-over-ranks sums are DECIMAL-exact, double math
    // only in the final 1-row formula — mirrored token-for-token.
    Gate("spear1_spearman_corr", (s, d) => Stats.spearmanCorr(s, d),
      """WITH x AS (SELECT l_extendedprice AS xv, l_quantity AS yv FROM lineitem),
        |gx AS (SELECT xv, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY xv),
        |rx AS (SELECT xv, 2 * (CAST(sum(cnt) OVER (ORDER BY xv ROWS UNBOUNDED PRECEDING) AS BIGINT) - cnt)
        |    + cnt + 1 AS a FROM gx),
        |gy AS (SELECT yv, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY yv),
        |ry AS (SELECT yv, 2 * (CAST(sum(cnt) OVER (ORDER BY yv ROWS UNBOUNDED PRECEDING) AS BIGINT) - cnt)
        |    + cnt + 1 AS b FROM gy),
        |j AS (SELECT a, b FROM x JOIN rx USING (xv) JOIN ry USING (yv)),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(a AS DECIMAL(38,0))) AS DOUBLE) AS sa,
        |    CAST(sum(CAST(b AS DECIMAL(38,0))) AS DOUBLE) AS sb,
        |    CAST(sum(CAST(a AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0))) AS DOUBLE) AS sab,
        |    CAST(sum(CAST(a AS DECIMAL(38,0)) * CAST(a AS DECIMAL(38,0))) AS DOUBLE) AS saa,
        |    CAST(sum(CAST(b AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0))) AS DOUBLE) AS sbb
        |  FROM j)
        |SELECT round((n * sab - sa * sb)
        |    / (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb)), 9) AS spearman_rho,
        |  CAST(n AS BIGINT) AS n FROM s""".stripMargin),
    Gate("iso1_isotonic_calibration", (s, d) => Stats.isotonicCalibration(s, d),
      """WITH b AS (
        |  SELECT CAST(least(floor(value/50), 9) AS INT) AS bin,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
        |      FROM b GROUP BY 1),
        |c AS (SELECT bin, n, s,
        |        CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
        |        CAST(sum(s) OVER (ORDER BY bin) AS BIGINT) AS cs
        |      FROM g),
        |p AS (SELECT ck.bin AS k, cj.bin AS j,
        |        CAST(cj.cs - (ck.cs - ck.s) AS DOUBLE) / CAST(cj.cn - (ck.cn - ck.n) AS DOUBLE) AS m
        |      FROM c ck JOIN c cj ON ck.bin <= cj.bin),
        |inn AS (SELECT g.bin AS i, p.k, min(p.m) AS mn
        |        FROM g JOIN p ON p.k <= g.bin AND p.j >= g.bin
        |        GROUP BY 1, 2),
        |f AS (SELECT i AS bin, max(mn) AS fit FROM inn GROUP BY 1)
        |SELECT g.bin, g.n,
        |  round(CAST(g.s AS DOUBLE)/CAST(g.n AS DOUBLE), 6) AS raw_rate,
        |  round(f.fit, 6) AS fitted_rate
        |FROM g JOIN f USING (bin) ORDER BY bin""".stripMargin),
    Gate("conf1_conformal_coverage", (s, d) => Stats.conformalCalibration(s, d),
      """WITH s AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS vc,
        |    event_id % 2 AS half FROM events),
        |med AS (SELECT event_type, round(quantile_cont(vc, 0.5), 6) AS med
        |  FROM s WHERE half = 0 GROUP BY 1),
        |cal AS (SELECT s.event_type, CAST(round(abs(s.vc - med.med)) AS BIGINT) AS sc
        |  FROM s JOIN med USING (event_type) WHERE half = 0),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ncal FROM cal GROUP BY 1),
        |k AS (SELECT event_type, ncal, CAST(ceil((ncal+1) * 0.9) AS BIGINT) AS kk FROM n),
        |rk AS (SELECT event_type, sc,
        |    row_number() OVER (PARTITION BY event_type ORDER BY sc) AS r FROM cal),
        |q AS (SELECT rk.event_type, min(sc) AS qhat
        |  FROM rk JOIN k USING (event_type) WHERE rk.r = k.kk GROUP BY 1),
        |tst AS (SELECT s.event_type,
        |    CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN CAST(round(abs(s.vc - med.med)) AS BIGINT) <= q.qhat
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
        |  FROM s JOIN med USING (event_type) JOIN q USING (event_type)
        |  WHERE half = 1 GROUP BY 1)
        |SELECT t.event_type, k.ncal, CAST(q.qhat AS BIGINT) AS qhat_cents,
        |  t.n_test, round(CAST(t.n_cov AS DOUBLE)/t.n_test, 6) AS coverage
        |FROM tst t JOIN q USING (event_type) JOIN k USING (event_type)
        |ORDER BY 1""".stripMargin),
  )
}
