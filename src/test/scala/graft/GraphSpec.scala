package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends SparkSpec {

  test("pagerank: scores positive, ordered desc, and nodes are prefixed keys") {
    val rows = Graph.pageRank(spark, sf).collect()
    assert(rows.nonEmpty)
    val prs = rows.map(_.getAs[Double]("pr"))
    assert(prs.forall(_ > 0))
    assert(prs.toSeq == prs.sortBy(-_).toSeq)
    rows.foreach { r =>
      val n = r.getAs[String]("node")
      assert(n.head == 'c' || n.head == 's', s"unexpected node id: $n")
    }
  }

  test("pagerank mass is conserved across the full vector") {
    // With symmetric edges every node has out-degree, so total rank
    // must stay ~1 after any number of iterations (up to the
    // deliberate 1e-14 contribution rounding).
    val all = Graph.pageRank(spark, sf, iterations = 2, k = Int.MaxValue)
    val total = all.agg(sum(col("pr"))).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-6, s"rank mass drifted: $total")
  }

  test("pagerank favors high-degree hubs") {
    // The top node should have at least the degree of the median node:
    // a supplier trading with many customers accumulates their mass.
    val top = Graph.pageRank(spark, sf, k = 1).head.getAs[String]("node")
    val pairs = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .distinct()
    val deg = pairs.select(col("dst").as("node"))
      .unionAll(pairs.select(col("src").as("node")))
      .groupBy("node").count()
    val topDeg = deg.filter(col("node") === top).head.getAs[Long]("count")
    val medianDeg = deg.agg(expr("percentile_approx(count, 0.5)")).head.getLong(0)
    assert(topDeg >= medianDeg, s"top node $top degree $topDeg < median $medianDeg")
  }

  test("bfs distances: histogram starts at the seed set and saturates") {
    val rows = Graph.bfsDistances(spark, sf).collect()
    assert(rows.nonEmpty)
    val dists = rows.map(_.getAs[Int]("dist")).toSeq
    assert(dists == (0 until rows.length), s"distances not contiguous: $dists")
    // seeds = nation-0 customers that actually trade
    val nSeeds = Tables.customer(spark, sf)
      .filter(col("c_nationkey") === 0)
      .join(Tables.orders(spark, sf),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .count()
    assert(rows.head.getAs[Long]("n_nodes") == nSeeds)
    // all counts positive, total bounded by graph size
    assert(rows.forall(_.getAs[Long]("n_nodes") > 0))
  }

  test("triangle stats: K4 has 4 triangles at clustering 1; a path has none") {
    import spark.implicits._
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val r = Graph.triangleStatsFrom(spark, k4).head
    assert(r.getAs[Long]("n_nodes") == 4 && r.getAs[Long]("n_edges") == 6)
    assert(r.getAs[Long]("n_triangles") == 4)
    assert(r.getAs[Double]("clustering") == 1.0)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val p = Graph.triangleStatsFrom(spark, path).head
    assert(p.getAs[Long]("n_triangles") == 0L)
  }

  test("triangle stats: random graph matches a brute-force local count") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val n = 60
    val edges = (for {
      u <- 0 until n; v <- (u + 1) until n if rng.nextDouble() < 0.2
    } yield (u.toLong, v.toLong)).toSeq
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .withDefaultValue(Set.empty[Long])
    def connected(a: Long, b: Long) = adj(math.min(a, b)).contains(math.max(a, b))
    val brute = (for {
      u <- 0L until n; v <- (u + 1) until n if connected(u, v)
      w <- (v + 1) until n if connected(u, w) && connected(v, w)
    } yield 1).size
    val r = Graph.triangleStatsFrom(spark, edges.toDF("u", "v")).head
    assert(r.getAs[Long]("n_triangles") == brute,
      s"distributed count ${r.getAs[Long]("n_triangles")} vs brute $brute")
  }

  test("sorted intersect kernel: exact on crafted arrays") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def c(a: Seq[Long], b: Seq[Long]): Long =
      graft.functions.SortedIntersectKernel.count(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
    assert(c(Seq(1L, 3L, 5L), Seq(2L, 3L, 5L, 9L)) == 2)
    assert(c(Seq(), Seq(1L)) == 0)
    assert(c(Seq(7L), Seq(7L)) == 1)
    assert(c(Seq(1L, 2L, 3L), Seq(4L, 5L)) == 0)
  }

  test("weighted intersect kernel: sums aligned weights over matches") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def ws(a: Seq[Long], b: Seq[Long], w: Seq[Long]): Long =
      graft.functions.SortedIntersectKernel.weightSum(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray),
        new GenericArrayData(w.toArray))
    assert(ws(Seq(1L, 3L, 5L), Seq(2L, 3L, 5L, 9L), Seq(10L, 20L, 30L)) == 50)
    assert(ws(Seq(), Seq(1L), Seq()) == 0)
    assert(ws(Seq(7L), Seq(7L), Seq(42L)) == 42)
    assert(ws(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L)) == 0)
  }

  test("edge strength: crafted graph matches hand-computed Adamic-Adar") {
    // Graph: 1-2, 1-3, 2-3, 2-4, 3-4. Degrees: d1=2, d2=3, d3=3, d4=2.
    // AA(2,3) = common {1,4} = 2/ln 2; AA(1,2) = common {3} = 1/ln 3.
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val rows = Graph.edgeStrengthFrom(spark, e, k = 10).collect()
    assert(rows.length == 5)
    val byEdge = rows.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getAs[Long]("n_common"), r.getAs[Double]("aa_score"))).toMap
    assert(byEdge((2L, 3L))._1 == 2)
    assert(math.abs(byEdge((2L, 3L))._2 - 2.0 / math.log(2)) < 1e-5)
    assert(byEdge((1L, 2L))._1 == 1)
    assert(math.abs(byEdge((1L, 2L))._2 - 1.0 / math.log(3)) < 1e-5)
    // top edge first: (2,3) has the largest AA
    assert((rows.head.getLong(0), rows.head.getLong(1)) == ((2L, 3L)))
  }

  test("edge strength: random graph matches a brute-force local score") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val edges = (for (u <- 1L to 30L; v <- (u + 1) to 30L
      if rnd.nextDouble() < 0.25) yield (u, v)).toSeq
    val got = Graph.edgeStrengthFrom(spark, edges.toDF("u", "v"), k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_common"), r.getAs[Double]("aa_score"))).toMap
    val nbrs = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupMap(_._1)(_._2).map { case (k2, vs) => k2 -> vs.toSet }
    for ((u, v) <- edges) {
      val common = nbrs(u) & nbrs(v)
      if (common.isEmpty)
        // zero-common bridges are excluded from the scored population
        // (matches the oracle's inner wedge join — see edgeStrengthFrom)
        assert(!got.contains((u, v)), s"unexpected zero-common edge ($u,$v)")
      else {
        val aa = common.toSeq.map(w =>
          math.round(1e12 / math.log(nbrs(w).size.toDouble))).sum / 1e12
        assert(got((u, v))._1 == common.size, s"n_common mismatch at ($u,$v)")
        assert(math.abs(got((u, v))._2 - aa) < 1e-5, s"aa mismatch at ($u,$v)")
      }
    }
  }

  test("degree cap: planted hub stays bounded; exact when cap >= max degree") {
    import spark.implicits._
    // Planted power-law hub: node 0 joined to 1..400, plus a clique on
    // 1..8 so edges have common neighbors beyond the hub.
    val star = (1L to 400L).map(x => (0L, x))
    val clique = for (u <- 1L to 8L; v <- (u + 1) to 8L) yield (u, v)
    val e = (star ++ clique).toDF("u", "v")
    // Exactness contract: any cap >= max degree (400) is bit-identical
    // to uncapped.
    val exact = Graph.edgeStrengthFrom(spark, e, k = 1000,
      degreeCap = Int.MaxValue).collect()
    val generous = Graph.edgeStrengthFrom(spark, e, k = 1000,
      degreeCap = 400).collect()
    assert(exact.map(_.toString).sorted.toSeq
      == generous.map(_.toString).sorted.toSeq)
    // Capped run: every adjacency array holds each node's cap SMALLEST
    // neighbor ids, so results equal a local brute force over exactly
    // that truncated model — proving the rank filter ran BEFORE any
    // array materialized (candidate mass O(nodes × cap), hub included)
    // and that truncation is deterministic.
    val cap = 16
    val full = (star ++ clique).flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupMap(_._1)(_._2)
    val trueDeg = full.view.mapValues(_.size).toMap
    val capped = full.map { case (n, vs) => n -> vs.sorted.take(cap).toSet }
    val got = Graph.edgeStrengthFrom(spark, e, k = 10000, degreeCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_common"), r.getAs[Double]("aa_score"))).toMap
    val expect = (star ++ clique).flatMap { case (u, v) =>
      val common = capped(u) & capped(v)
      if (common.isEmpty) None
      else {
        val aa = common.toSeq.map(w =>
          // weights use TRUE degree (computed pre-cap), 0 when d < 2
          if (trueDeg(w) >= 2) math.round(1e12 / math.log(trueDeg(w).toDouble))
          else 0L).sum / 1e12
        Some((u, v) -> (common.size.toLong, aa))
      }
    }.toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (k2, (nc, aa)) =>
      assert(got(k2)._1 == nc, s"n_common mismatch at $k2")
      assert(math.abs(got(k2)._2 - aa) < 1e-5, s"aa mismatch at $k2")
    }
    // The hub's capped neighborhood is {1..16}: an edge to a neighbor
    // outside it can only score through the clique, never the hub.
    assert(!got.contains((0L, 300L)), "hub edge to a truncated neighbor scored")
  }

  test("degree cap on triangle stats: generous cap exact, tiny cap bounded") {
    import spark.implicits._
    val star = (1L to 200L).map(x => (0L, x))
    val clique = for (u <- 1L to 6L; v <- (u + 1) to 6L) yield (u, v)
    val e = (star ++ clique).toDF("u", "v")
    val exact = Graph.triangleStatsFrom(spark, e, degreeCap = Int.MaxValue).head
    val generous = Graph.triangleStatsFrom(spark, e, degreeCap = 200).head
    assert(exact.getAs[Long]("n_triangles")
      == generous.getAs[Long]("n_triangles"))
    // C(6,2)=15 clique triangles... each clique edge + hub closes one
    // more: hub-u-v for clique edges (u,v) => 15 + C(6,3)=20 = 35.
    assert(exact.getAs[Long]("n_triangles") == 35L)
    val tiny = Graph.triangleStatsFrom(spark, e, degreeCap = 2).head
    assert(tiny.getAs[Long]("n_triangles") <= 35L,
      "capped count must never exceed exact")
  }

  test("hits: closed form on a mega-star (the norm term that saturated a long)") {
    import spark.implicits._
    // 120k customers all buying from one supplier: the first-iteration
    // raw authority is 120000, whose squared norm term
    // round(120000²·1e9) = 1.44e19 > 2^63 — the old long-cast path
    // silently saturated here; the DECIMAL(38,0) path is exact.
    val n = 120000
    val pairs = (1 to n).map(i => (i.toLong, 0L)).toDF("c", "s")
    val rows = Graph.hitsScoresFrom(spark, pairs, iterations = 2, k = 3)
      .collect()
    val auth = rows.filter(_.getString(0).startsWith("s"))
    val hubs = rows.filter(_.getString(0).startsWith("c"))
    // Closed form: a(s0) = 1.0 exactly; every hub = 1/sqrt(n).
    assert(auth.length == 1 && auth.head.getAs[Double]("score") == 1.0)
    val expectH = BigDecimal(1.0 / math.sqrt(n.toDouble))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(hubs.length == 3)
    hubs.foreach(r => assert(r.getAs[Double]("score") == expectH,
      s"hub score ${r.getAs[Double]("score")} != $expectH"))
  }

  test("hits: two-round mutual reinforcement matches a local replay") {
    import spark.implicits._
    // Crafted bipartite graph with asymmetric degrees.
    val pairs = Seq((1L, 10L), (1L, 20L), (2L, 10L), (3L, 10L), (3L, 30L),
      (4L, 20L), (4L, 30L)).toDF("c", "s")
    val got = Graph.hitsScoresFrom(spark, pairs, iterations = 2, k = 10)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("score")).toMap
    // Local replay with the identical quantization chain.
    val ps = Seq((1L, 10L), (1L, 20L), (2L, 10L), (3L, 10L), (3L, 30L),
      (4L, 20L), (4L, 30L))
    var h = ps.map(_._1).distinct.map(_ -> 1.0).toMap
    var a = Map.empty[Long, Double]
    for (_ <- 1 to 2) {
      val ar = ps.groupBy(_._2).view.mapValues(xs =>
        xs.map(p => math.round(h(p._1) * 1e14)).sum.toDouble / 1e14).toMap
      val an = math.sqrt(ar.values.map(v => math.round(v * v * 1e9)).sum / 1e9)
      a = ar.view.mapValues(_ / an).toMap
      val hr = ps.groupBy(_._1).view.mapValues(xs =>
        xs.map(p => math.round(a(p._2) * 1e14)).sum.toDouble / 1e14).toMap
      val hn = math.sqrt(hr.values.map(v => math.round(v * v * 1e9)).sum / 1e9)
      h = hr.view.mapValues(_ / hn).toMap
    }
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    a.foreach { case (s, v) => assert(got(s"s$s") == r9(v), s"auth s$s") }
    h.foreach { case (c, v) => assert(got(s"c$c") == r9(v), s"hub c$c") }
  }

  test("triangle stats on the co-purchase graph: counts positive, clustering in (0,1)") {
    val r = Graph.triangleStats(spark, sf).head
    assert(r.getAs[Long]("n_triangles") > 0)
    val c = r.getAs[Double]("clustering")
    assert(c > 0.0 && c < 1.0, s"clustering out of range: $c")
  }

  test("triangle stats release their pins when the edge frame throws") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val edges = spark.range(0, 40).select(
      when(col("id") === 17, raise_error(lit("bad edge"))).otherwise(col("id")).as("u"),
      (col("id") + 1).as("v"))
    intercept[Exception](Graph.triangleStatsFrom(spark, edges).collect())
    assert(sc.getPersistentRDDs.keySet == before,
      s"leaked: ${sc.getPersistentRDDs.keySet -- before}")
  }
}
