package graft.gates

import graft.operators.Graph

/** The gates of [[graft.operators.Graph]]: each run with its DuckDB oracle. */
object GraphGates {
  val gates: Seq[Gate] = Seq(
    // Modularity of the nation partition on the trade graph: pure
    // counting on the edge list, per-community contributions.
    Gate("mod1_graph_modularity", (s, d) => Graph.modularityGate(s, d),
      """WITH pairs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |e AS (SELECT cu.c_nationkey AS cn, su.s_nationkey AS sn
        |  FROM pairs p JOIN customer cu ON cu.c_custkey = p.c
        |  JOIN supplier su ON su.s_suppkey = p.s),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |w AS (SELECT cn AS nation, CAST(count(*) AS BIGINT) AS within
        |  FROM e WHERE cn = sn GROUP BY 1),
        |d AS (SELECT nation, CAST(count(*) AS BIGINT) AS degree_sum
        |  FROM (SELECT cn AS nation FROM e UNION ALL SELECT sn FROM e)
        |  GROUP BY 1)
        |SELECT CAST(d.nation AS BIGINT) AS nation, d.degree_sum,
        |  CAST(COALESCE(w.within, 0) AS BIGINT) AS within_edges,
        |  round(CAST(COALESCE(w.within, 0) AS DOUBLE) / m.m
        |    - (CAST(d.degree_sum AS DOUBLE) / (2.0 * m.m))
        |      * (CAST(d.degree_sum AS DOUBLE) / (2.0 * m.m)), 12) AS contrib
        |FROM d CROSS JOIN m LEFT JOIN w ON w.nation = d.nation
        |ORDER BY nation""".stripMargin),
    // Harmonic centrality via per-seed BFS min-distances; 12-dp 1/d
    // weights summed as DECIMAL (the bitmask pass computes the same
    // per-(seed, dist) counts in one BSP sweep).
    Gate("hc1_harmonic_centrality", (s, d) => Graph.harmonicCentrality(s, d),
      """WITH RECURSIVE pairs AS (SELECT DISTINCT o_custkey*2 AS src,
        |    l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |ed AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |seeds AS (SELECT node FROM
        |    (SELECT DISTINCT src AS node FROM ed WHERE src % 2 = 0) t
        |  ORDER BY node LIMIT 8),
        |walk AS (
        |  SELECT s.node AS seed, s.node AS node, 0 AS dist FROM seeds s
        |  UNION
        |  SELECT w.seed, e.dst AS node, w.dist + 1 AS dist FROM walk w
        |  JOIN ed e ON w.node = e.src WHERE w.dist < 4),
        |md AS (SELECT seed, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
        |SELECT CAST(seed // 2 AS BIGINT) AS seed_custkey,
        |  CAST(count(CASE WHEN dist > 0 THEN 1 END) AS BIGINT) AS n_reached,
        |  round(CAST(sum(CASE WHEN dist > 0
        |      THEN CAST(round(1.0/dist, 12) AS DECIMAL(28,12)) END)
        |    AS DOUBLE), 6) AS harmonic
        |FROM md GROUP BY 1 ORDER BY seed_custkey""".stripMargin),
    // Adamic–Adar edge strength: the oracle materializes the wedge
    // join the operator's kernel avoids; both rank on the EXACT
    // scaled-long sum, so the top-k sets agree bit-for-bit. Nodes of
    // degree 1 can never be common neighbors — their weight is pinned
    // to 0 so neither engine divides by ln(1).
    Gate("aa1_edge_strength", (s, d) => Graph.edgeStrength(s, d),
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM it a
        |  JOIN it b ON a.o = b.o AND a.p < b.p),
        |und AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
        |deg AS (SELECT b AS node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
        |w AS (SELECT node, CASE WHEN d >= 2
        |    THEN CAST(round(1e12/ln(d)) AS BIGINT) ELSE 0 END AS wt FROM deg),
        |sc AS (SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(w.wt) AS BIGINT) AS s
        |  FROM e JOIN und n1 ON n1.a = e.u
        |  JOIN und n2 ON n2.a = e.v AND n2.b = n1.b
        |  JOIN w ON w.node = n1.b
        |  GROUP BY e.u, e.v)
        |SELECT u, v, n_common, round(CAST(s AS DOUBLE)/1e12, 6) AS aa_score
        |FROM sc ORDER BY s DESC, u, v LIMIT 25""".stripMargin),
    // Unrolled to exactly the operator's round budget — bounded-round
    // peel is the CONTRACT (see Graph.kCorePeel doc), so the CTE
    // chain and the BSP loop agree round by round. Every CTE is
    // MATERIALIZED: round r reads e(r-1) three times, so inlined CTEs
    // expand 3^r-fold (DuckDB dies on fd exhaustion before finishing)
    // — the same lineage blowup localCheckpoint cuts on the Spark side.
    Gate("kc1_kcore_peel", (s, d) => Graph.kCorePeel(s, d), {
      val k = 80; val rounds = 8
      val head = new StringBuilder(
        """WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          |e0 AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM it a JOIN it b
          |       ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)""".stripMargin)
      (1 to rounds).foreach { r =>
        head ++= s""",
          |kp$r AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e${r - 1}
          |    UNION ALL SELECT v AS node FROM e${r - 1})
          |  GROUP BY 1 HAVING count(*) >= $k),
          |e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
          |  WHERE u IN (SELECT node FROM kp$r)
          |    AND v IN (SELECT node FROM kp$r))""".stripMargin
      }
      val rows = (1 to rounds).map { r =>
        s"""SELECT CAST($r AS INT) AS round,
           |  (SELECT CAST(count(*) AS BIGINT)
           |     FROM (SELECT u FROM e$r UNION SELECT v FROM e$r)) AS n_nodes,
           |  (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"$head\n$rows\nORDER BY round"
    }),
    Gate("pr1_pagerank", (s, d) => Graph.pageRank(s, d),
      """WITH pairs AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |edges AS (
        |  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst FROM pairs
        |  UNION ALL
        |  SELECT 's' || CAST(s AS VARCHAR) AS src, 'c' || CAST(c AS VARCHAR) AS dst FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
        |p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
        |p1 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr / d.deg * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p0 p ON e.src = p.node JOIN deg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst),
        |p2 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr / d.deg * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p1 p ON e.src = p.node JOIN deg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst),
        |p3 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr / d.deg * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p2 p ON e.src = p.node JOIN deg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst)
        |SELECT node, round(pr, 12) AS pr FROM p3
        |ORDER BY pr DESC, node ASC LIMIT 25""".stripMargin),
    // Two quantized HITS mutual updates (pr1's determinism trick twice
    // over): contributions ride round(·1e14) BIGINTs, each L2 norm
    // folds round(·²·1e9) integers before one double sqrt, divisions
    // replay in the same IEEE order — fuzz-matched against a Python
    // replay before wiring.
    Gate("hits1_hubs_authorities", (s, d) => Graph.hitsScores(s, d),
      """WITH pairs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |h0 AS (SELECT DISTINCT c, 1.0 AS h FROM pairs),
        |a1r AS (SELECT p.s,
        |    CAST(sum(CAST(round(h.h*1e14) AS BIGINT)) AS DOUBLE)/1e14 AS a
        |  FROM pairs p JOIN h0 h ON p.c = h.c GROUP BY p.s),
        |a1n AS (SELECT sqrt(CAST(sum(CAST(round(a*a*1e9) AS HUGEINT))
        |    AS DOUBLE)/1e9) AS nrm FROM a1r),
        |a1 AS (SELECT s, a/a1n.nrm AS a FROM a1r CROSS JOIN a1n),
        |h1r AS (SELECT p.c,
        |    CAST(sum(CAST(round(a.a*1e14) AS BIGINT)) AS DOUBLE)/1e14 AS h
        |  FROM pairs p JOIN a1 a ON p.s = a.s GROUP BY p.c),
        |h1n AS (SELECT sqrt(CAST(sum(CAST(round(h*h*1e9) AS HUGEINT))
        |    AS DOUBLE)/1e9) AS nrm FROM h1r),
        |h1 AS (SELECT c, h/h1n.nrm AS h FROM h1r CROSS JOIN h1n),
        |a2r AS (SELECT p.s,
        |    CAST(sum(CAST(round(h.h*1e14) AS BIGINT)) AS DOUBLE)/1e14 AS a
        |  FROM pairs p JOIN h1 h ON p.c = h.c GROUP BY p.s),
        |a2n AS (SELECT sqrt(CAST(sum(CAST(round(a*a*1e9) AS HUGEINT))
        |    AS DOUBLE)/1e9) AS nrm FROM a2r),
        |a2 AS (SELECT s, a/a2n.nrm AS a FROM a2r CROSS JOIN a2n),
        |h2r AS (SELECT p.c,
        |    CAST(sum(CAST(round(a.a*1e14) AS BIGINT)) AS DOUBLE)/1e14 AS h
        |  FROM pairs p JOIN a2 a ON p.s = a.s GROUP BY p.c),
        |h2n AS (SELECT sqrt(CAST(sum(CAST(round(h*h*1e9) AS HUGEINT))
        |    AS DOUBLE)/1e9) AS nrm FROM h2r),
        |h2 AS (SELECT c, h/h2n.nrm AS h FROM h2r CROSS JOIN h2n),
        |topa AS (SELECT 's' || CAST(s AS VARCHAR) AS node,
        |    round(a, 9) AS score FROM a2 ORDER BY score DESC, node ASC LIMIT 12),
        |toph AS (SELECT 'c' || CAST(c AS VARCHAR) AS node,
        |    round(h, 9) AS score FROM h2 ORDER BY score DESC, node ASC LIMIT 12)
        |SELECT node, score FROM (SELECT * FROM topa UNION ALL SELECT * FROM toph)
        |ORDER BY score DESC, node ASC""".stripMargin),
    // Fixed-round synchronous LPA; argmax by (count DESC, label ASC)
    // stated as a window here, computed as a min-struct aggregation
    // in Spark — same deterministic winner.
    Gate("lp1_label_propagation", (s, d) => Graph.labelPropagation(s, d),
      """WITH pairs AS (
        |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |edges AS (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s, c FROM pairs),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
        |l1 AS (SELECT dst AS node, label FROM (
        |    SELECT e.dst, l.label,
        |      row_number() OVER (PARTITION BY e.dst
        |        ORDER BY count(*) DESC, l.label ASC) AS rn
        |    FROM edges e JOIN l0 l ON e.src = l.node GROUP BY e.dst, l.label)
        |  WHERE rn = 1),
        |l2 AS (SELECT dst AS node, label FROM (
        |    SELECT e.dst, l.label,
        |      row_number() OVER (PARTITION BY e.dst
        |        ORDER BY count(*) DESC, l.label ASC) AS rn
        |    FROM edges e JOIN l1 l ON e.src = l.node GROUP BY e.dst, l.label)
        |  WHERE rn = 1),
        |l3 AS (SELECT dst AS node, label FROM (
        |    SELECT e.dst, l.label,
        |      row_number() OVER (PARTITION BY e.dst
        |        ORDER BY count(*) DESC, l.label ASC) AS rn
        |    FROM edges e JOIN l2 l ON e.src = l.node GROUP BY e.dst, l.label)
        |  WHERE rn = 1)
        |SELECT label AS community, count(*) AS n_nodes FROM l3
        |GROUP BY 1 ORDER BY n_nodes DESC, community ASC LIMIT 25""".stripMargin),
    // Fixed-round Bellman-Ford; distances exact BIGINT cents.
    Gate("sp1_cheapest_routes", (s, d) => Graph.cheapestRoutes(s, d),
      """WITH wt AS (
        |  SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s,
        |    min(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS w
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT c AS src, s AS dst, w FROM wt
        |  UNION ALL SELECT s, c, w FROM wt),
        |d0 AS (SELECT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS d
        |  FROM customer WHERE c_nationkey = 0
        |  AND c_custkey * 2 IN (SELECT src FROM edges)),
        |d1 AS (SELECT node, min(d) AS d FROM (
        |    SELECT node, d FROM d0 UNION ALL
        |    SELECT e.dst, p.d + e.w FROM edges e JOIN d0 p ON e.src = p.node)
        |  GROUP BY 1),
        |d2 AS (SELECT node, min(d) AS d FROM (
        |    SELECT node, d FROM d1 UNION ALL
        |    SELECT e.dst, p.d + e.w FROM edges e JOIN d1 p ON e.src = p.node)
        |  GROUP BY 1),
        |d3 AS (SELECT node, min(d) AS d FROM (
        |    SELECT node, d FROM d2 UNION ALL
        |    SELECT e.dst, p.d + e.w FROM edges e JOIN d2 p ON e.src = p.node)
        |  GROUP BY 1),
        |d4 AS (SELECT node, min(d) AS d FROM (
        |    SELECT node, d FROM d3 UNION ALL
        |    SELECT e.dst, p.d + e.w FROM edges e JOIN d3 p ON e.src = p.node)
        |  GROUP BY 1)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
        |    ELSE 's' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
        |  d AS dist_cents
        |FROM d4 WHERE d > 0 ORDER BY dist_cents, node LIMIT 25""".stripMargin),
    // Weighted PageRank over the word co-occurrence graph; same
    // integer-scaled contribution discipline as pr1.
    Gate("tr1_textrank_keywords", (s, d) => Graph.textRankKeywords(s, d),
      """WITH ww AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT
        |    unnest(list_transform(range(1, len(ws)),
        |      i -> least(ws[i], ws[i+1]))) AS u,
        |    unnest(list_transform(range(1, len(ws)),
        |      i -> greatest(ws[i], ws[i+1]))) AS v
        |  FROM ww WHERE len(ws) >= 2),
        |und AS (SELECT u, v, count(*) AS cw FROM b GROUP BY 1, 2),
        |edges AS (SELECT u AS src, v AS dst, cw FROM und
        |  UNION ALL SELECT v, u, cw FROM und),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |wdeg AS (SELECT src AS node, CAST(sum(cw) AS BIGINT) AS wd
        |  FROM edges GROUP BY 1),
        |p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
        |p1 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr * e.cw / d.wd * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p0 p ON e.src = p.node JOIN wdeg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst),
        |p2 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr * e.cw / d.wd * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p1 p ON e.src = p.node JOIN wdeg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst),
        |p3 AS (SELECT e.dst AS node,
        |    0.15 / any_value(nn.n) + 0.85 * (CAST(sum(CAST(round(p.pr * e.cw / d.wd * 100000000000000.0) AS BIGINT)) AS DOUBLE) / 100000000000000.0) AS pr
        |  FROM edges e JOIN p2 p ON e.src = p.node JOIN wdeg d ON e.src = d.node CROSS JOIN nn
        |  GROUP BY e.dst)
        |SELECT node AS word, round(pr, 12) AS pr FROM p3
        |ORDER BY pr DESC, word ASC LIMIT 20""".stripMargin),
    Gate("tc1_triangle_stats", (s, d) => Graph.triangleStats(s, d),
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) GROUP BY 1),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS t
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT t FROM tri) AS n_triangles,
        |  round(3.0 * (SELECT t FROM tri) / (SELECT sum(d*(d-1)/2.0) FROM deg), 6) AS clustering""".stripMargin),
    Gate("bfs1_seed_distances", (s, d) => Graph.bfsDistances(s, d),
      """WITH RECURSIVE pairs AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |ed AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM ed),
        |seeds AS (SELECT DISTINCT c_custkey*2 AS node FROM customer WHERE c_nationkey = 0),
        |walk AS (
        |  SELECT s.node, 0 AS dist FROM seeds s JOIN nodes n ON s.node = n.node
        |  UNION
        |  SELECT e.dst AS node, w.dist + 1 AS dist FROM walk w
        |  JOIN ed e ON w.node = e.src WHERE w.dist < 4),
        |md AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node)
        |SELECT CAST(dist AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM md GROUP BY dist ORDER BY dist""".stripMargin),
    // pr1's quantized-contribution replay with seed teleport: the rank
    // update LEFT-joins from nodes so teleport-only rows survive.
    Gate("ppr1_personalized_pagerank", (s, d) => Graph.personalizedPageRank(s, d), {
      val it = (t: Int) =>
        s"""p$t AS (SELECT n.node,
           |    tel.b * CASE WHEN se.node IS NOT NULL THEN 1 ELSE 0 END
           |      + 0.85 * (CAST(coalesce(c.s, 0) AS DOUBLE) / 100000000000000.0) AS pr
           |  FROM nodes n
           |  LEFT JOIN seeds se ON se.node = n.node
           |  LEFT JOIN (SELECT e.dst AS node,
           |      sum(CAST(round(p.pr / d.deg * 100000000000000.0) AS BIGINT)) AS s
           |    FROM edges e JOIN p${t - 1} p ON e.src = p.node JOIN deg d ON e.src = d.node
           |    GROUP BY e.dst) c ON c.node = n.node
           |  CROSS JOIN tel)""".stripMargin
      s"""WITH pairs AS (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |edges AS (
         |  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst FROM pairs
         |  UNION ALL
         |  SELECT 's' || CAST(s AS VARCHAR) AS src, 'c' || CAST(c AS VARCHAR) AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
         |seeds AS (SELECT node FROM nodes
         |  WHERE node LIKE 'c%' AND CAST(substring(node, 2) AS BIGINT) < 10),
         |tel AS (SELECT 0.15 / CAST(count(*) AS DOUBLE) AS b FROM seeds),
         |p0 AS (SELECT n.node,
         |    CASE WHEN se.node IS NOT NULL
         |      THEN 1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM seeds)
         |      ELSE 0.0 END AS pr
         |  FROM nodes n LEFT JOIN seeds se ON se.node = n.node),
         |${it(1)},
         |${it(2)},
         |${it(3)}
         |SELECT node, round(pr, 12) AS pr FROM p3
         |ORDER BY pr DESC, node ASC LIMIT 25""".stripMargin
    }),
    Gate("gnn1_neighbor_agg", (s, d) => Graph.gnnNeighborAgg(s, d),
      """WITH pairs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |feat AS (SELECT c_custkey AS c, CAST(round(c_acctbal*100) AS BIGINT) AS cb FROM customer),
        |h1 AS (SELECT p.s,
        |    CAST(round(CAST(sum(f.cb) AS DOUBLE) / count(*), 6) AS DECIMAL(38,6)) AS h1
        |  FROM pairs p JOIN feat f ON p.c = f.c GROUP BY p.s),
        |h2 AS (SELECT p.c,
        |    round(CAST(sum(h.h1) AS DOUBLE) / count(*), 6) AS h2
        |  FROM pairs p JOIN h1 h ON p.s = h.s GROUP BY p.c)
        |SELECT CAST(c_nationkey AS INT) AS nation, CAST(count(*) AS BIGINT) AS n_cust,
        |  round(CAST(sum(CAST(h2.h2 AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS avg_h2
        |FROM h2 JOIN customer ON c_custkey = h2.c GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
