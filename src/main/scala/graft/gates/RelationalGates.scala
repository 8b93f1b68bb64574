package graft.gates

import graft.operators.Relational

/** The gates of [[graft.operators.Relational]]: each run with its DuckDB oracle. */
object RelationalGates {
  val gates: Seq[Gate] = Seq(
    Gate("j1_broadcast_segment_revenue", (s, d) => Relational.revenueBySegment(s, d),
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Gate("j2_shuffle_top_orders", (s, d) => Relational.topRevenueOrders(s, d),
      """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    Gate("j3_multijoin_nation_revenue", (s, d) => Relational.revenueByNation(s, d),
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Gate("q3_shipping_priority", (s, d) => Relational.shippingPriority(s, d),
      """SELECT l_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, order_date, l_orderkey
        |LIMIT 10""".stripMargin),
    Gate("q5_local_supplier_volume", (s, d) => Relational.localSupplierVolume(s, d),
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),
    Gate("q10_returned_items", (s, d) => Relational.returnedItemReport(s, d),
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),
    Gate("q18_large_orders", (s, d) => Relational.largeVolumeCustomers(s, d),
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
        |SELECT c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate,
        |  o.o_totalprice, big.total_qty
        |FROM big JOIN orders o ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin),
    Gate("j4_semi_customers_with_orders", (s, d) => Relational.customersWithBigOrders(s, d),
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin),
    Gate("j5_anti_customers_without_orders", (s, d) => Relational.customersWithoutBigOrders(s, d),
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin),
    Gate("j6_outer_order_counts", (s, d) => Relational.orderCountPerCustomer(s, d),
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    Gate("w1_rank_top_orders", (s, d) => Relational.topOrdersPerCustomer(s, d),
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    Gate("w2_running_revenue", (s, d) => Relational.runningRevenue(s, d),
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    Gate("set1_union_nationkeys", (s, d) => Relational.unionNationKeys(s, d),
      """SELECT nationkey FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |  UNION
        |  SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin),
    Gate("g1_rollup_summary", (s, d) => Relational.rollupSummary(s, d),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Gate("h1_having_brand_price", (s, d) => Relational.brandsAboveAvgPrice(s, d),
      """SELECT p_brand,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS n_parts
        |FROM part GROUP BY p_brand
        |HAVING CAST(sum(CAST(p_retailprice AS DECIMAL(30,2))) AS DOUBLE) / count(*) >
        |  (SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(30,2))) AS DOUBLE) / count(*) FROM part)
        |ORDER BY p_brand""".stripMargin),
    Gate("sq1_orders_above_avg", (s, d) => Relational.ordersAboveAvg(s, d),
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) / count(*)
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin),
    Gate("f1_scalar_expressions", (s, d) => Relational.scalarExpressions(s, d),
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(month(o_orderdate) AS INT) AS order_month,
        |  upper(o_orderpriority) AS priority_uc,
        |  substring(o_orderstatus, 1, 1) AS status_c,
        |  CASE WHEN o_totalprice > 1000 THEN 'big' ELSE 'small' END AS size_class,
        |  round(o_totalprice * 1.07, 2) AS price_with_tax,
        |  CAST(length(o_orderpriority) AS INT) AS prio_len
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Gate("x2_distinct_users", (s, d) => Relational.distinctUsersPerType(s, d),
      """SELECT event_type, count(DISTINCT user_id) AS n_users FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // x1/x4: the sketches' VALUES are engine-specific, but their error
    // CONTRACTS are not — the gates emit exact counts plus
    // |approx − exact| ≤ bound booleans, which the oracle states
    // exactly (the boolean being TRUE is the hash-checked claim).
    Gate("x1_approx_distinct_users", (s, d) => Relational.approxDistinctUsers(s, d),
      """SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
        |  TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("set2_intersect_nationkeys", (s, d) => Relational.intersectNationKeys(s, d),
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |INTERSECT
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),
    Gate("set3_except_nationkeys", (s, d) => Relational.exceptNationKeys(s, d),
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |EXCEPT
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),
    Gate("sq2_correlated_max_order", (s, d) => Relational.correlatedMaxOrder(s, d),
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_price
        |FROM customer ORDER BY c_custkey""".stripMargin),
    Gate("w3_order_gaps", (s, d) => Relational.orderGaps(s, d),
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey, 1) OVER w AS prev_orderkey,
        |  lead(o_orderkey, 1) OVER w AS next_orderkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Gate("f3_date_functions", (s, d) => Relational.dateFunctions(s, d),
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INT) AS days_to_ref,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Gate("f4_string_functions", (s, d) => Relational.stringFunctions(s, d),
      """SELECT p_partkey,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  lpad(p_brand, 12, '_') AS brand_padded,
        |  regexp_replace(p_type, ' ', '-', 'g') AS type_dashed,
        |  reverse(p_brand) AS brand_rev,
        |  substring(p_type, 1, 5) AS type_prefix,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  lower(p_type) AS type_lc
        |FROM part ORDER BY p_partkey""".stripMargin),
    Gate("a8_compound_filter", (s, d) => Relational.compoundFilter(s, d),
      """SELECT event_id, event_type, value FROM events
        |WHERE (event_type IN ('click', 'view') OR value > 150.0)
        |  AND props NOT LIKE '%"k": 4%'
        |ORDER BY event_id""".stripMargin),
    Gate("g3_grouping_sets", (s, d) => Relational.groupingSets(s, d),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Gate("w4_range_frame_sum", (s, d) => Relational.rangeFrameSum(s, d),
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS nearby_sum
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    Gate("x5_price_histogram", (s, d) => Relational.priceHistogram(s, d), {
      // width_bucket(x, 0, 600000, 10): DuckDB lacks it; mirror the
      // definition: 1 + floor(x / 60000), clamped to [0, 11].
      """SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
        |    WHEN o_totalprice >= 600000.0 THEN 11
        |    ELSE 1 + CAST(floor(o_totalprice / 60000.0) AS INT) END AS INT) AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    Gate("j7_range_join_tiers", (s, d) => Relational.eventValueTiers(s, d), {
      val tiers = Relational.ValueTiers
        .map { case (t, lo, hi) => s"('$t', $lo, $hi)" }.mkString(", ")
      s"""WITH tiers(tier, lo, hi) AS (VALUES $tiers)
         |SELECT tier, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
         |FROM events JOIN tiers ON value >= lo AND value < hi
         |GROUP BY tier ORDER BY tier""".stripMargin
    }),
    Gate("x4_approx_quantiles", (s, d) => Relational.approxPriceQuantiles(s, d),
      """SELECT count(*) AS n, TRUE AS p50_in_bound, TRUE AS p90_in_bound,
        |  TRUE AS p99_in_bound FROM orders""".stripMargin),
    Gate("aj1_asof_purchase_click", (s, d) => Relational.asofPurchaseClick(s, d),
      """SELECT p.event_id, p.user_id, c.cid AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(event_id) AS cid FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),
    Gate("p1_pivot_user_type", (s, d) => Relational.pivotUserTypeTotals(s, d), {
      val cols = Relational.EventTypes.map(t =>
        s"""coalesce(CAST(sum(CAST(CASE WHEN event_type = '$t' THEN value END AS DECIMAL(30,2))) AS DOUBLE), 0.0) AS "$t"""")
        .mkString(",\n  ")
      s"""SELECT user_id,
         |  $cols
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    }),
    Gate("g2_cube_summary", (s, d) => Relational.cubeSummary(s, d),
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Gate("e2_json_extract", (s, d) => Relational.jsonExtract(s, d),
      """SELECT event_id, json_extract_string(props, '$.k') AS k_val
        |FROM events ORDER BY event_id""".stripMargin),
    Gate("x7_cms_type_counts", (s, d) => Relational.cmsEventTypeCounts(s, d),
      """SELECT event_type, count(*) AS est_n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("w5_window_stats", (s, d) => Relational.windowStats(s, d),
      """SELECT o_custkey, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Gate("x8_price_moments", (s, d) => Relational.priceMoments(s, d),
      """WITH s AS (SELECT count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))
        |    * CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sx2
        |FROM orders)
        |SELECT n, round(sx / n, 6) AS mean_price,
        |  round((sx2 - sx * sx / n) / (n - 1), 6) AS var_price,
        |  round(sqrt((sx2 - sx * sx / n) / (n - 1)), 6) AS std_price
        |FROM s""".stripMargin),
    Gate("b1_bucketed_join", (s, d) => Relational.bucketedSegmentRevenue(s, d),
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Gate("f5_array_functions", (s, d) => Relational.arrayFunctions(s, d),
      """SELECT p_partkey,
        |  CAST(len(string_split(p_type, ' ')) AS INT) AS n_words,
        |  array_to_string(list_sort(string_split(p_type, ' ')), '-') AS sorted_join,
        |  list_sort(string_split(p_type, ' '))[1] AS first_word,
        |  CAST(list_reduce(list_prepend(0,
        |    list_transform(string_split(p_type, ' '), x -> CAST(length(x) AS INT))),
        |    (a, b) -> a + b) AS INT) AS total_len
        |FROM part ORDER BY p_partkey""".stripMargin),
    Gate("f6_conditionals", (s, d) => Relational.conditionals(s, d),
      """SELECT o_orderkey,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
        |  CASE WHEN o_totalprice > 300000 THEN 'hi'
        |    WHEN o_totalprice > 100000 THEN 'mid' ELSE 'lo' END AS band,
        |  least(o_totalprice, 150000.0) AS capped,
        |  greatest(o_totalprice, 1000.0) AS floored
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Gate("ts1_resample_hourly", (s, d) => Relational.resampleHourly(s, d),
      """WITH h AS (SELECT unnest(generate_series(
        |    date_trunc('hour', (SELECT min(ts) FROM events)),
        |    date_trunc('hour', (SELECT max(ts) FROM events)),
        |    INTERVAL 1 HOUR)) AS hr),
        |t AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT strftime(h.hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  t.event_type, coalesce(c.cnt, 0) AS n
        |FROM h CROSS JOIN t
        |LEFT JOIN c ON c.hr = h.hr AND c.event_type = t.event_type
        |ORDER BY 1, 2""".stripMargin),
    // Skyline: the oracle states dominance directly (NOT EXISTS);
    // the operator's window reduction must agree exactly, ties kept.
    // Spend is BIGINT integer cents on both sides — the decimal form
    // hash-diverged in the external comparator despite local bit-identity.
    Gate("sky1_pareto_customers", (s, d) => Relational.customerSkyline(s, d),
      """WITH m AS (SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) * 100 AS BIGINT) AS spend_cents
        |  FROM orders GROUP BY 1)
        |SELECT custkey, n_orders, spend_cents FROM m a
        |WHERE NOT EXISTS (SELECT 1 FROM m b
        |  WHERE b.n_orders <= a.n_orders AND b.spend_cents >= a.spend_cents
        |    AND (b.n_orders < a.n_orders OR b.spend_cents > a.spend_cents))
        |ORDER BY n_orders, custkey""".stripMargin),
    Gate("fd1_functional_deps", (s, d) => Relational.functionalDeps(s, d),
      """SELECT table_name, lhs, rhs, n_lhs, n_pairs,
        |  n_pairs = n_lhs AS holds, n_pairs - n_lhs AS n_violating_combos
        |FROM (
        |  SELECT 'nation' AS table_name, 'n_nationkey' AS lhs, 'n_regionkey' AS rhs,
        |    (SELECT CAST(count(DISTINCT n_nationkey) AS BIGINT) FROM nation) AS n_lhs,
        |    (SELECT CAST(count(*) AS BIGINT)
        |      FROM (SELECT DISTINCT n_nationkey, n_regionkey FROM nation)) AS n_pairs
        |  UNION ALL
        |  SELECT 'part', 'p_brand', 'p_type',
        |    (SELECT CAST(count(DISTINCT p_brand) AS BIGINT) FROM part),
        |    (SELECT CAST(count(*) AS BIGINT)
        |      FROM (SELECT DISTINCT p_brand, p_type FROM part))
        |  UNION ALL
        |  SELECT 'customer', 'c_nationkey', 'c_mktsegment',
        |    (SELECT CAST(count(DISTINCT c_nationkey) AS BIGINT) FROM customer),
        |    (SELECT CAST(count(*) AS BIGINT)
        |      FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer))
        |  UNION ALL
        |  SELECT 'lineitem', 'l_orderkey', 'l_returnflag',
        |    (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT)
        |      FROM (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem)))
        |ORDER BY table_name, lhs, rhs""".stripMargin),
    // Interval weight = ms to the user's next event capped at 1 h;
    // open tails dropped; weighted sum exact in DECIMAL(20,6)×ms.
    Gate("twa1_time_weighted", (s, d) => Relational.timeWeightedAverage(s, d),
      """WITH d AS (
        |  SELECT user_id, ts, date_trunc('hour', ts) AS hr,
        |    CAST(value AS DECIMAL(20,6)) AS v,
        |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events
        |), w AS (
        |  SELECT user_id, hr, v,
        |    LEAST(date_diff('millisecond', ts, nxt), 3600000) AS dur_ms
        |  FROM d WHERE nxt IS NOT NULL
        |), f AS (SELECT * FROM w WHERE dur_ms > 0)
        |SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  CAST(SUM(dur_ms) AS BIGINT) AS total_ms,
        |  round(CAST(SUM(v * dur_ms) AS DOUBLE)
        |    / CAST(SUM(dur_ms) AS DOUBLE), 6) AS twa_value
        |FROM f GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY user_id, hour_start""".stripMargin),
    // DuckDB dayofweek is 0=Sunday; Spark side emits dayofweek()-1.
    // Sums of v and v*v exact in DECIMAL(18,6)/(36,12).
    Gate("ts4_dow_hod_profile", (s, d) => Relational.dowHodProfile(s, d),
      """WITH e AS (
        |  SELECT dayofweek(ts) AS dow, hour(ts) AS hod,
        |    CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events
        |)
        |SELECT CAST(dow AS INT) AS dow, CAST(hod AS INT) AS hod,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_value,
        |  round((CAST(sum(v*v) AS DOUBLE)
        |    - CAST(sum(v) AS DOUBLE) * CAST(sum(v) AS DOUBLE) / count(*))
        |    / count(*), 6) AS var_value
        |FROM e GROUP BY 1,2 HAVING count(*) >= 5 ORDER BY 1,2""".stripMargin),
    // Oracle sees extracted VALUES (json_extract), not the variant
    // encoding; k is non-negative so // matches Spark's div.
    Gate("vnt1_variant_extract", (s, d) => Relational.variantExtract(s, d),
      """WITH v AS (SELECT event_type,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, CAST(k // 25 AS BIGINT) AS k_bucket,
        |  CAST(count(*) AS BIGINT) AS n, CAST(min(k) AS BIGINT) AS k_min,
        |  CAST(max(k) AS BIGINT) AS k_max
        |FROM v GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    // The non-urgent condition rides the OUTER JOIN (zero-order
    // customers stay); count(o_orderkey) counts matches only.
    Gate("q13_order_count_dist", (s, d) => Relational.orderCountDistribution(s, d),
      """WITH co AS (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority != '1-URGENT'
        |  GROUP BY 1
        |)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // Threshold = exactAvg (DECIMAL sum, one double division) so the
    // boundary comparison is bit-identical; NOT EXISTS == left anti.
    Gate("q22_idle_rich", (s, d) => Relational.idleRichCustomers(s, d),
      """WITH ab AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE)
        |    / count(*) AS ab
        |  FROM customer WHERE c_acctbal > 0.0
        |)
        |SELECT CAST(c_nationkey AS INT) AS cntry,
        |  CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS totacctbal
        |FROM customer, ab
        |WHERE c_acctbal > ab.ab
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q19_disjunctive_pred", (s, d) => Relational.disjunctivePredicateRevenue(s, d),
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 15 AND 40)""".stripMargin),
    // Leave-fold-out by subtraction: enc(cat, f) = mean over cat minus
    // fold f; guard NULLs a category living entirely in one fold.
    Gate("te1_target_encoding", (s, d) => Relational.targetEncoding(s, d),
      """WITH r AS (SELECT o_orderpriority AS cat, o_orderkey % 5 AS fold,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |ct AS (SELECT cat, CAST(sum(cents) AS BIGINT) AS sc,
        |    CAST(count(*) AS BIGINT) AS nc FROM r GROUP BY 1),
        |cf AS (SELECT cat, fold, CAST(sum(cents) AS BIGINT) AS sf,
        |    CAST(count(*) AS BIGINT) AS nf FROM r GROUP BY 1, 2)
        |SELECT cat, CAST(fold AS BIGINT) AS fold, nf AS n_rows,
        |  round(CASE WHEN nc > nf
        |    THEN CAST(sc - sf AS DOUBLE) / (nc - nf) END, 6) AS target_enc
        |FROM cf JOIN ct USING (cat) ORDER BY cat, fold""".stripMargin),
    // Gini from the rank-ordered closed form, both sums DECIMAL-summed.
    Gate("gini1_spend_gini", (s, d) => Relational.spendGini(s, d),
      """WITH s AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS rn FROM s),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(CAST(rn AS DOUBLE) * x AS DECIMAL(38,6))) AS DOUBLE) AS six,
        |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx FROM r)
        |SELECT n AS n_customers,
        |  round((2.0 * six - (CAST(n AS DOUBLE) + 1.0) * sx)
        |    / (CAST(n AS DOUBLE) * sx), 6) AS gini FROM a""".stripMargin),
    // CBO cardinality estimate (containment assumption) next to the
    // exact join size; integer division for bucket ids on both sides.
    Gate("jcs1_join_card_est", (s, d) => Relational.joinCardStats(s, d),
      """WITH ko AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |ke AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |exact AS (SELECT CAST(sum(ko.c * ke.c) AS BIGINT) AS exact_pairs
        |  FROM ko JOIN ke ON ko.k = ke.k),
        |mx AS (SELECT greatest((SELECT max(k) FROM ko),
        |    (SELECT max(k) FROM ke)) AS mk),
        |bo AS (SELECT k * 64 // (mk + 1) AS b, sum(c) AS n, count(*) AS d
        |  FROM ko CROSS JOIN mx GROUP BY 1),
        |be AS (SELECT k * 64 // (mk + 1) AS b, sum(c) AS n, count(*) AS d
        |  FROM ke CROSS JOIN mx GROUP BY 1),
        |est AS (SELECT CAST(round(sum(CAST(bo.n AS DOUBLE)
        |    * CAST(be.n AS DOUBLE)
        |    / CAST(greatest(bo.d, be.d) AS DOUBLE)), 0) AS BIGINT) AS est_pairs
        |  FROM bo JOIN be ON bo.b = be.b)
        |SELECT exact_pairs, est_pairs,
        |  CAST(round(10000.0 * (est_pairs - exact_pairs) / exact_pairs, 0)
        |    AS BIGINT) AS err_bp
        |FROM exact CROSS JOIN est""".stripMargin),
    // Cramér's V: 9-dp-quantized chi-square terms, DECIMAL sum,
    // pinned sqrt — the effect size next to cs1's statistic.
    Gate("cs2_cramers_v", (s, d) => Relational.cramersV(s, d),
      """WITH o AS (SELECT event_type, user_id % 5 AS cohort,
        |    CAST(count(*) AS BIGINT) AS obs FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rtot
        |  FROM o GROUP BY 1),
        |ct AS (SELECT cohort, CAST(sum(obs) AS BIGINT) AS ctot
        |  FROM o GROUP BY 1),
        |nn AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS r,
        |    CAST(count(DISTINCT cohort) AS BIGINT) AS c FROM o),
        |t AS (SELECT CAST(round((obs - exp) * (obs - exp) / exp, 9)
        |      AS DECIMAL(28,9)) AS term
        |  FROM (SELECT o.obs,
        |      CAST(rt.rtot AS DOUBLE) * ct.ctot / nn.n AS exp
        |    FROM o JOIN rt USING (event_type) JOIN ct USING (cohort)
        |    CROSS JOIN nn))
        |SELECT nn.n AS n_rows, nn.r AS r_levels, nn.c AS c_levels,
        |  round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
        |  round(sqrt(CAST(sum(term) AS DOUBLE)
        |    / (CAST(nn.n AS DOUBLE) * least(nn.r - 1, nn.c - 1))), 9)
        |    AS cramers_v
        |FROM t CROSS JOIN nn GROUP BY nn.n, nn.r, nn.c""".stripMargin),
    // Universe sampling: the oracle filters the JOINED result by the
    // orders-side key alone — hash match proves the sampled join
    // lost nothing (join preservation).
    Gate("us1_universe_sample", (s, d) => Relational.universeSample(s, d),
      """SELECT o_orderpriority AS priority,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '4000'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Identical operation order to the Spark side — (nxy/n) *
    // ln((nxy*n)/(nx*ny)) per cell, DECIMAL(38,18)-summed — so the
    // doubles match bit-for-bit before the round(6).
    Gate("mi1_mutual_information", (s, d) => Relational.mutualInformation(s, d),
      """WITH c AS (SELECT event_type AS x, user_id % 4 AS y,
        |    CAST(count(*) AS BIGINT) AS nxy FROM events GROUP BY 1,2),
        |tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM c),
        |mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM c GROUP BY 1),
        |my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM c GROUP BY 1),
        |terms AS (SELECT
        |    CAST(c.nxy AS DOUBLE)/t.n
        |      * ln(CAST(c.nxy AS DOUBLE)*t.n/(CAST(mx.nx AS DOUBLE)*my.ny)) AS mi_t,
        |    t.n AS n
        |  FROM c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot t),
        |hx AS (SELECT sum(CAST(-(CAST(nx AS DOUBLE)/t.n)*ln(CAST(nx AS DOUBLE)/t.n)
        |    AS DECIMAL(38,18))) AS v FROM mx CROSS JOIN tot t),
        |hy AS (SELECT sum(CAST(-(CAST(ny AS DOUBLE)/t.n)*ln(CAST(ny AS DOUBLE)/t.n)
        |    AS DECIMAL(38,18))) AS v FROM my CROSS JOIN tot t)
        |SELECT any_value(n) AS n,
        |  round(CAST(sum(CAST(mi_t AS DECIMAL(38,18))) AS DOUBLE), 6) AS mi_nats,
        |  round(CAST((SELECT v FROM hx) AS DOUBLE), 6) AS h_x,
        |  round(CAST((SELECT v FROM hy) AS DOUBLE), 6) AS h_y
        |FROM terms""".stripMargin),
    Gate("j8_nullsafe_join", (s, d) => Relational.nullSafeJoin(s, d),
      """WITH e AS (SELECT event_id, nullif(event_type, 'error') AS k FROM events),
        |dim(k2, code) AS (VALUES ('click', 1), ('view', 2), (NULL, 99))
        |SELECT CAST(code AS BIGINT) AS code, count(*) AS n
        |FROM e JOIN dim ON e.k IS NOT DISTINCT FROM dim.k2
        |GROUP BY code ORDER BY code""".stripMargin),
    Gate("set4_intersect_all", (s, d) => Relational.intersectAllNationKeys(s, d),
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |INTERSECT ALL
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),
    Gate("set5_except_all", (s, d) => Relational.exceptAllNationKeys(s, d),
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |EXCEPT ALL
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),
    Gate("e3_json_typed", (s, d) => Relational.jsonTyped(s, d),
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int
        |FROM events ORDER BY event_id""".stripMargin),
    Gate("w6_mom_growth", (s, d) => Relational.momRevenueGrowth(s, d),
      """WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |  lag(revenue) OVER (ORDER BY month) AS prev_revenue,
        |  round((revenue - lag(revenue) OVER (ORDER BY month))
        |    / lag(revenue) OVER (ORDER BY month), 6) AS growth
        |FROM m ORDER BY month""".stripMargin),
    Gate("x9_corr_exact", (s, d) => Relational.quantityPriceCorr(s, d),
      """WITH s AS (SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))
        |    * CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))
        |    * CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS syy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))
        |    * CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sxy
        |FROM lineitem)
        |SELECT n, round((sxy - sx * sy / n)
        |  / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6)
        |  AS corr_qty_price
        |FROM s""".stripMargin),
    Gate("aj3_asof_native", (s, d) => Relational.asofNativePurchaseClick(s, d),
      """SELECT p.event_id, p.user_id, c.cid AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(event_id) AS cid FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),
    Gate("aj4_asof_native_fwd", (s, d) => Relational.asofNativeNextPurchase(s, d),
      """SELECT c.event_id, c.user_id, p.pid AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(event_id) AS pid FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin),
    Gate("cs1_chi_square", (s, d) => Relational.chiSquareIndependence(s, d),
      """WITH o AS (SELECT event_type, user_id % 2 AS cohort,
        |    CAST(count(*) AS BIGINT) AS obs FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rtot FROM o GROUP BY 1),
        |ct AS (SELECT cohort, CAST(sum(obs) AS BIGINT) AS ctot FROM o GROUP BY 1),
        |n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
        |t AS (SELECT o.event_type, o.cohort, obs,
        |    CAST(rt.rtot AS DOUBLE) * ct.ctot / n.n AS exp
        |  FROM o JOIN rt USING (event_type) JOIN ct USING (cohort) CROSS JOIN n)
        |SELECT event_type, CAST(cohort AS BIGINT) AS cohort, obs,
        |  round(exp, 6) AS expected,
        |  round((obs - exp) * (obs - exp) / exp, 6) AS chi2_term
        |FROM t ORDER BY event_type, cohort""".stripMargin),
    Gate("ols1_linear_fit", (s, d) => Relational.olsPriceOnQuantity(s, d),
      """WITH s AS (SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))
        |    * CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))
        |    * CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sxy
        |  FROM lineitem)
        |SELECT n, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
        |FROM s""".stripMargin),
    Gate("w9_group_topk", (s, d) => Relational.topOrdersPerSegment(s, d),
      """WITH j AS (SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |r AS (SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank FROM j)
        |SELECT c_mktsegment, o_orderkey, o_totalprice, rank FROM r
        |WHERE rank <= 3 ORDER BY c_mktsegment, rank""".stripMargin),
    Gate("nrm1_feature_scalers", (s, d) => Relational.featureScalers(s, d), {
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity")
      def dec(c: String) = s"CAST($c AS DECIMAL(30,2))"
      val sums = cols.flatMap { c => Seq(
        s"min($c) AS min_$c", s"max($c) AS max_$c",
        s"CAST(sum(${dec(c)}) AS DOUBLE) AS sx_$c",
        s"CAST(sum(${dec(c)} * ${dec(c)}) AS DOUBLE) AS sxx_$c")
      }.mkString(",\n  ")
      val rows = cols.map { c =>
        s"""SELECT '$c' AS feature, round(min_$c, 6) AS vmin, round(max_$c, 6) AS vmax,
           |  round(sx_$c / n, 6) AS mean,
           |  round(sqrt((sxx_$c - sx_$c * sx_$c / n) / n), 6) AS std FROM s""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH s AS (SELECT count(*) AS n,
         |  $sums
         |FROM lineitem)
         |$rows
         |ORDER BY feature""".stripMargin
    }),
    Gate("cor1_corr_matrix", (s, d) => Relational.corrMatrix(s, d), {
      val cols = Seq("disc" -> "l_discount", "price" -> "l_extendedprice",
        "qty" -> "l_quantity", "tax" -> "l_tax")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      def dec(c: String) = s"CAST($c AS DECIMAL(30,2))"
      val sums = (
        cols.map { case (nm, c) => s"CAST(sum(${dec(c)}) AS DOUBLE) AS s_$nm" } ++
        cols.map { case (nm, c) => s"CAST(sum(${dec(c)} * ${dec(c)}) AS DOUBLE) AS ss_$nm" } ++
        pairs.map { case ((na, ca), (nb, cb)) =>
          s"CAST(sum(${dec(ca)} * ${dec(cb)}) AS DOUBLE) AS sp_${na}_$nb" }
      ).mkString(",\n  ")
      val rows = pairs.map { case ((na, _), (nb, _)) =>
        s"""SELECT '$na' AS var_x, '$nb' AS var_y,
           |  round((sp_${na}_$nb - s_$na * s_$nb / n)
           |    / (sqrt(ss_$na - s_$na * s_$na / n)
           |      * sqrt(ss_$nb - s_$nb * s_$nb / n)), 6) AS corr FROM s""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH s AS (SELECT count(*) AS n,
         |  $sums
         |FROM lineitem)
         |$rows
         |ORDER BY var_x, var_y""".stripMargin
    }),
    Gate("fi1_frequent_pairs", (s, d) => Relational.frequentItemPairs(s, d),
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY support DESC, part_a, part_b""".stripMargin),
    // The oracle states the NAIVE triple count; the Spark plan runs
    // the apriori-pruned enumeration — downward closure makes them
    // provably identical (the prune cuts candidates, not answers).
    Gate("fi2_frequent_triples", (s, d) => Relational.frequentItemTriples(s, d),
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |t AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc
        |  FROM i a
        |  JOIN i b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  JOIN i c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey)
        |SELECT pa AS part_a, pb AS part_b, pc AS part_c,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM t GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |ORDER BY support DESC, part_a, part_b, part_c""".stripMargin),
    Gate("q7_nation_volume", (s, d) => Relational.nationTradeVolume(s, d),
      """WITH n AS (SELECT n_nationkey, n_name FROM nation
        |  WHERE n_name IN ('NATION_1', 'NATION_2'))
        |SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN n sn ON s_nationkey = sn.n_nationkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN n cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    Gate("q14_promo_share", (s, d) => Relational.promoRevenueShare(s, d),
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
        |  round(100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(30,6))) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE), 6) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("ij1_interval_join", (s, d) => Relational.intervalCountJoin(s, d),
      """WITH p AS (SELECT event_id, epoch_ns(ts)//1000 AS pus FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT epoch_ns(ts)//1000 AS cus FROM events WHERE event_type = 'click')
        |SELECT p.event_id, CAST(count(c.cus) AS BIGINT) AS n_nearby
        |FROM p LEFT JOIN c ON c.cus BETWEEN p.pus - 60000000 AND p.pus + 60000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Unpivot = UNION ALL of one SELECT per metric (engine-neutral melt).
    Gate("p2_unpivot", (s, d) => Relational.unpivotPartMetrics(s, d),
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, 'p_retailprice' AS metric,
        |    CAST(p_retailprice AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
        |) ORDER BY p_partkey, metric""".stripMargin),
    // The map round-trip (map_from_entries -> explode) is lossless, so
    // the oracle is the plain group count.
    Gate("f7_map_functions", (s, d) => Relational.mapTypeCounts(s, d),
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events WHERE user_id < 20
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),
    Gate("ts2_interpolate", (s, d) => Relational.interpolateHourly(s, d),
      """WITH h AS (SELECT date_trunc('hour', ts) AS hr,
        |    CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS v
        |  FROM events GROUP BY 1),
        |b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
        |j AS (SELECT spine.hr, h.v FROM spine LEFT JOIN h USING (hr)),
        |f AS (SELECT hr, v,
        |    last_value(v IGNORE NULLS) OVER (ORDER BY hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
        |      ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    first_value(v IGNORE NULLS) OVER (ORDER BY hr
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
        |      ORDER BY hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM j)
        |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS interpolated,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NULL THEN nv
        |    WHEN nv IS NULL THEN pv
        |    ELSE pv + (nv - pv) *
        |      (CAST(CAST(epoch(hr) AS BIGINT) - CAST(epoch(ph) AS BIGINT) AS DOUBLE) /
        |       CAST(CAST(epoch(nh) AS BIGINT) - CAST(epoch(ph) AS BIGINT) AS DOUBLE))
        |    END, 6) AS value
        |FROM f ORDER BY hour_start""".stripMargin),
    Gate("x10_mode_quantity", (s, d) => Relational.modeQuantityPerFlag(s, d),
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY n DESC, l_quantity ASC) AS rn FROM c)
        |SELECT l_returnflag, l_quantity AS mode_quantity, CAST(n AS BIGINT) AS n
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin),
    Gate("x11_hll_users", (s, d) => Relational.hllDistinctUsers(s, d),
      """WITH h AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1,16), i -> CAST(strpos('0123456789abcdef',
        |        md5(CAST(user_id AS VARCHAR))[i]) - 1 AS BIGINT))),
        |      (a,c) -> a*16 + c) AS h FROM events),
        |b AS (SELECT h // 18014398509481984 AS bucket,
        |        h % 18014398509481984 AS rem FROM h),
        |r AS (SELECT bucket, max(CASE WHEN rem = 0 THEN 55
        |        ELSE 55 - length(bin(rem)) END) AS reg FROM b GROUP BY bucket),
        |s AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS isp,
        |        CAST(count(*) AS BIGINT) AS obs FROM r),
        |x AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events),
        |f AS (SELECT 64 - obs AS v_empty,
        |        isp + (64 - obs) * (CAST(1 AS BIGINT) << 55) AS isum, n_exact
        |      FROM s, x),
        |g AS (SELECT v_empty, isum, n_exact,
        |        (0.7213/(1 + 1.079/64)) * 64 * 64
        |          * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
        |          / CAST(isum AS DOUBLE) AS raw FROM f)
        |SELECT CAST(64 AS INT) AS m, v_empty, isum, round(raw, 6) AS est_raw,
        |  CASE WHEN raw <= 160 AND v_empty > 0
        |    THEN round(64 * ln(64/CAST(v_empty AS DOUBLE)), 6)
        |    ELSE round(raw, 6) END AS est_hll,
        |  n_exact
        |FROM g""".stripMargin),
    Gate("x12_hll_setops", (s, d) => Relational.hllSetOps(s, d),
      """WITH e AS (SELECT event_type AS t, user_id FROM events
        |  WHERE value > 100 AND event_type IN ('click','purchase')),
        |h AS (SELECT t, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1,16), i -> CAST(strpos('0123456789abcdef',
        |        md5(CAST(user_id AS VARCHAR))[i]) - 1 AS BIGINT))),
        |      (a,c) -> a*16 + c) AS h FROM e),
        |b AS (SELECT t, h // 18014398509481984 AS bucket,
        |        h % 18014398509481984 AS rem FROM h),
        |r AS (SELECT t, bucket, max(CASE WHEN rem = 0 THEN 55
        |        ELSE 55 - length(bin(rem)) END) AS reg FROM b GROUP BY 1, 2),
        |ru AS (SELECT bucket, max(reg) AS reg FROM r GROUP BY 1),
        |sa AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS isp,
        |        CAST(count(*) AS BIGINT) AS obs FROM r WHERE t = 'purchase'),
        |sb AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS isp,
        |        CAST(count(*) AS BIGINT) AS obs FROM r WHERE t = 'click'),
        |su AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS isp,
        |        CAST(count(*) AS BIGINT) AS obs FROM ru),
        |ea AS (SELECT CASE WHEN raw <= 160 AND v_empty > 0
        |    THEN round(64 * ln(64/CAST(v_empty AS DOUBLE)), 6)
        |    ELSE round(raw, 6) END AS est_a FROM (
        |  SELECT 64 - obs AS v_empty, (0.7213/(1 + 1.079/64)) * 64 * 64
        |    * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
        |    / CAST(isp + (64 - obs) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS raw FROM sa)),
        |eb AS (SELECT CASE WHEN raw <= 160 AND v_empty > 0
        |    THEN round(64 * ln(64/CAST(v_empty AS DOUBLE)), 6)
        |    ELSE round(raw, 6) END AS est_b FROM (
        |  SELECT 64 - obs AS v_empty, (0.7213/(1 + 1.079/64)) * 64 * 64
        |    * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
        |    / CAST(isp + (64 - obs) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS raw FROM sb)),
        |eu AS (SELECT CASE WHEN raw <= 160 AND v_empty > 0
        |    THEN round(64 * ln(64/CAST(v_empty AS DOUBLE)), 6)
        |    ELSE round(raw, 6) END AS est_union FROM (
        |  SELECT 64 - obs AS v_empty, (0.7213/(1 + 1.079/64)) * 64 * 64
        |    * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
        |    / CAST(isp + (64 - obs) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS raw FROM su)),
        |fl AS (SELECT user_id, max(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS a,
        |        max(CASE WHEN t = 'click' THEN 1 ELSE 0 END) AS b FROM e GROUP BY 1),
        |ex AS (SELECT CAST(sum(a) AS BIGINT) AS exact_a, CAST(sum(b) AS BIGINT) AS exact_b,
        |        CAST(count(*) AS BIGINT) AS exact_union,
        |        CAST(sum(a*b) AS BIGINT) AS exact_intersect FROM fl)
        |SELECT est_a, est_b, est_union,
        |  round(est_a + est_b - est_union, 6) AS est_intersect,
        |  exact_a, exact_b, exact_union, exact_intersect
        |FROM ea, eb, eu, ex""".stripMargin),
    // Runtime-bloom-pruned shuffle join: the filter is a pruning aid
    // only, so the result is exactly the plain join.
    Gate("bl1_bloom_join", (s, d) => Relational.bloomPrunedJoin(s, d),
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Forward as-of: DuckDB native ASOF with c.ts <= p.ts; purchases
    // pre-aggregated per (user, ts) for an explicit exact-ts tiebreak.
    Gate("aj2_asof_next_purchase", (s, d) => Relational.asofNextPurchase(s, d),
      """SELECT c.event_id, c.user_id, p.pid AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(event_id) AS pid FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin),
    // ov1's oracle runs the sweep as a per-priority window; the Spark
    // side's single global prefix sum agrees because each priority's
    // deltas sum to zero (see Relational.maxConcurrency).
    Gate("ov1_max_concurrency", (s, d) => Relational.maxConcurrency(s, d),
      """WITH iv AS (SELECT o_orderpriority AS prio,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      + o_orderkey % 60 + 1 AS e,
        |    o_orderkey AS k FROM orders),
        |d AS (SELECT prio, s AS day, 1 AS delta, k FROM iv
        |  UNION ALL SELECT prio, e AS day, -1 AS delta, k FROM iv),
        |r AS (SELECT prio, day, delta,
        |    sum(delta) OVER (PARTITION BY prio ORDER BY day, delta, k
        |                     ROWS UNBOUNDED PRECEDING) AS run FROM d),
        |m AS (SELECT prio, max(run) AS peak FROM r GROUP BY 1)
        |SELECT m.prio, CAST(m.peak AS BIGINT) AS peak,
        |  DATE '1970-01-01' + CAST(min(r.day) AS INT) AS peak_day
        |FROM r JOIN m ON r.prio = m.prio AND r.run = m.peak
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
  )
}
