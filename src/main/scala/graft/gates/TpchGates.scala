package graft.gates

import graft.operators.Tpch

/** The gates of [[graft.operators.Tpch]]: each run with its DuckDB oracle.
  *
  * The five partsupp-based oracles prepend the identical derived-partsupp
  * CTE (`Tpch.partsuppSql`) the engine computes.
  */
object TpchGates {
  val gates: Seq[Gate] = Seq(
    Gate("q2_min_cost_supplier", (s, d) => Tpch.minCostSupplier(s, d),
      s"""WITH ${Tpch.partsuppSql},
        |eligible AS (
        |  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
        |    s.s_acctbal, n.n_name, ps.ps_cost_cents
        |  FROM ps JOIN part p ON p.p_partkey = ps.p_partkey
        |  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'EUROPE' AND p.p_type = 'SMALL' AND p.p_size <= 15),
        |mc AS (SELECT p_partkey, min(ps_cost_cents) AS min_cents
        |  FROM eligible GROUP BY 1)
        |SELECT e.s_acctbal, e.s_name, e.n_name, e.p_partkey, e.p_name,
        |  e.s_suppkey, CAST(e.ps_cost_cents AS BIGINT) AS cost_cents
        |FROM eligible e JOIN mc ON e.p_partkey = mc.p_partkey
        |  AND e.ps_cost_cents = mc.min_cents
        |ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, e.p_partkey,
        |  e.s_suppkey
        |LIMIT 100""".stripMargin),
    Gate("q4_priority_exists", (s, d) => Tpch.priorityExists(s, d),
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q8_market_share", (s, d) => Tpch.marketShare(s, d),
      """WITH v AS (
        |  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6)) AS volume,
        |    sn.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN region r ON cn.n_regionkey = r.r_regionkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        |    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume
        |      ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE)
        |    / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q9_product_profit", (s, d) => Tpch.productProfit(s, d),
      """SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |    - (1 + (l.l_partkey * 31 + l.l_suppkey * 17) % 10000) / 100.0
        |      * l.l_quantity AS DECIMAL(30,6))) AS DOUBLE), 4) AS sum_profit
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q11_important_stock", (s, d) => Tpch.importantStock(s, d),
      s"""WITH ${Tpch.partsuppSql},
        |val AS (
        |  SELECT ps.p_partkey,
        |    CAST(sum(ps.ps_cost_cents * ps.ps_availqty) AS BIGINT) AS v
        |  FROM ps JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = 2 GROUP BY 1),
        |tot AS (SELECT CAST(sum(v) AS BIGINT) AS t FROM val)
        |SELECT v.p_partkey, v.v AS value_cents
        |FROM val v, tot WHERE v.v * 1000 > tot.t
        |ORDER BY value_cents DESC, p_partkey""".stripMargin),
    Gate("q12_priority_lines", (s, d) => Tpch.priorityLines(s, d),
      """SELECT l.l_returnflag AS rflag,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q15_top_supplier", (s, d) => Tpch.topSupplier(s, d),
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1),
        |m AS (SELECT max(total_revenue) AS mr FROM rev)
        |SELECT s.s_suppkey, s.s_name,
        |  round(CAST(r.total_revenue AS DOUBLE), 4) AS total_revenue
        |FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no, m
        |WHERE r.total_revenue = m.mr
        |ORDER BY s.s_suppkey""".stripMargin),
    Gate("q16_supplier_variety", (s, d) => Tpch.supplierVariety(s, d),
      s"""WITH ${Tpch.partsuppSql}
        |SELECT p.p_brand, p.p_type, p.p_size,
        |  CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part p ON p.p_partkey = ps.p_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |  AND ps.ps_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    Gate("q17_small_qty_revenue", (s, d) => Tpch.smallQtyRevenue(s, d),
      """WITH agg AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
        |      / count(*) AS aq
        |  FROM lineitem GROUP BY 1)
        |SELECT round(coalesce(
        |    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(30,2))) AS DOUBLE),
        |    0.0) / 7.0, 4) AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN agg a ON a.l_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#23' AND p.p_size < 10
        |  AND l.l_quantity < 0.2 * a.aq""".stripMargin),
    Gate("q20_excess_stock", (s, d) => Tpch.excessStockSuppliers(s, d),
      s"""WITH ${Tpch.partsuppSql},
        |sh AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |q AS (
        |  SELECT DISTINCT ps.ps_suppkey
        |  FROM ps JOIN part p ON ps.p_partkey = p.p_partkey
        |  LEFT JOIN sh ON sh.l_partkey = ps.p_partkey
        |    AND sh.l_suppkey = ps.ps_suppkey
        |  WHERE p.p_name LIKE 'small%'
        |    AND ps.ps_availqty > 0.5 * coalesce(sh.qty, 0))
        |SELECT s.s_name, s.s_suppkey
        |FROM supplier s
        |WHERE s.s_nationkey IN
        |    (SELECT n_nationkey FROM nation WHERE n_regionkey = 3)
        |  AND s.s_suppkey IN (SELECT ps_suppkey FROM q)
        |ORDER BY s.s_suppkey""".stripMargin),
    Gate("q21_waiting_suppliers", (s, d) => Tpch.waitingSuppliers(s, d),
      """WITH late AS (
        |  SELECT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1
        |JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE n.n_regionkey = 1
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 100""".stripMargin),
  )
}
