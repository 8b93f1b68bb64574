package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph analytics over relational edge lists.
  *
  * The reference has no graph operators (its dataflow DAG is static,
  * reference: dagster_repository/jobs.py:14-30); these are north-star
  * additions for corpus curation — link-graph centrality is the
  * classic web-crawl quality prior (ranking domains/pages before
  * text filtering), and it exercises the BSP iterate-join-aggregate
  * shape that any 100 TB graph pass needs.
  *
  * Scale shape: each PageRank iteration is one shuffle join of the
  * edge list against the current rank vector (keyed on src) plus one
  * aggregation (keyed on dst). The edge list is hash-partitioned on
  * src once and persisted, so every iteration reuses that exchange;
  * ranks are small relative to edges and flow through the join. The
  * driver only sees the node-count scalar. Loops that persist a frame
  * per round run through [[Pins.rounds]], which owns the per-round
  * cache lifetime and the lineage cut; such a round reads its previous
  * frame once, joined to the edges plus one self-loop per node
  * ([[selfLooped]]).
  *
  * Determinism (cross-engine gate): per-edge contributions are
  * rounded to 14 decimals and summed as DECIMAL(30,14) — exact and
  * order-independent — before the damping update runs in doubles,
  * so Spark and DuckDB iterate bit-identical rank vectors.
  */
object Graph {

  /** Run `f` with adaptive query execution OFF, restoring the prior
    * setting afterwards (exception-safe, so the shared session's
    * deterministic config is preserved — the Bench header's
    * session-wide-config rule).
    *
    * Why (round 12): AQE materializes EVERY exchange as its own
    * query-stage job, so a 3-iteration rank loop submits ~21 jobs and
    * the 8-round k-core peel ~55 — pure driver scheduling round-trips.
    * That is the right trade on a corpus-scale scan (runtime
    * re-planning, skew splits), but these iterative loops run on
    * BOUNDED node-cardinality control frames at a pinned 32
    * partitions: there is nothing for AQE to re-plan, and its
    * per-exchange round-trips are exactly the noisy-box fragility the
    * r11 driver record measured (kc1 8.7 s noisy vs 6.3 s clean, pr1
    * 5.1 vs 2.9 — PERF.md §Round 11). With AQE off the whole
    * iteration chain executes as ONE multi-stage job. Results are
    * unaffected (same plans, same arithmetic — AQE only re-plans
    * partitioning), so gate hashes are unchanged.
    *
    * CONCURRENCY CONTRACT (r12 advice): this scope mutates the SHARED
    * session conf with set/restore and no lock — it assumes gates on
    * one SparkSession run single-threaded, which is how every driver
    * surface executes (Bench/Verify run gates sequentially; the test
    * suite shares one session but ScalaTest runs suites serially
    * here). Concurrent gate execution on one session would need a
    * lock around the scope — or better, per-thread sessions via
    * `spark.newSession()`, whose confs are independent. Note also
    * that a few wrapped operators return LAZY frames whose final
    * small exchange (e.g. duplicateClustersFrom's tail orderBy on the
    * already-checkpointed label frame) executes after the restore:
    * that tail runs under AQE at session width — a perf footnote on a
    * bounded frame, never a correctness one, and collecting a
    * corpus-scale label frame inside the scope to avoid it would
    * violate the no-driver-collect rule.
    */
  private[operators] def withoutAqe[T](spark: SparkSession)(f: => T): T = {
    // Shuffle width drops with AQE: coalescing normally shrinks these
    // control-frame exchanges at runtime; with AQE off the session's
    // full-width shuffles would quadruple the task count instead
    // (measured: kc1 476 → 2653 tasks at 32-wide). Pin HALF the
    // session width, floor 8: at sf0.1 that matches what AQE's 64 MB
    // advisory target picked anyway, and at sf1 (12M-edge frames) it
    // keeps 16 cores busy — the round-12 sf1 record showed a fixed
    // pin of 8 costing the graph family 15–50% there. At real scale
    // the width should track |V|/64 MB per job; the half-width rule
    // is the bounded-loop default, not a corpus law.
    val sessionWidth =
      spark.conf.getOption("spark.sql.shuffle.partitions")
        .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(32)
    graft.GraftSession.withConfs(spark, Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> math.max(8, sessionWidth / 2).toString))(f)
  }

  // The trade graph's node ids: customer k is node 2k, supplier k is
  // node 2k+1 — one integer key space for the bipartite graph (int
  // keys halve the distinct/join/agg shuffle width against
  // concatenated strings); display names appear only in the readout.
  private def custNode(key: Column): Column = key * 2
  private def suppNode(key: Column): Column = key * 2 + 1
  private def isCust(node: Column): Column = node % 2 === 0
  /** The customer or supplier key of a node. */
  private def nodeKey(node: Column): Column = (node / 2).cast("long")
  /** "c<custkey>" or "s<suppkey>". */
  private def nodeName(node: Column): Column =
    concat(when(isCust(node), lit("c")).otherwise(lit("s")),
      nodeKey(node).cast("string"))

  /** Every lineitem's trade, (customer, supplier) columns raw. */
  private def trades(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))

  /** Distinct trade relationships as (src = customer node, dst =
    * supplier node).
    */
  private def tradePairs(spark: SparkSession, dir: String): DataFrame =
    trades(spark, dir)
      .select(custNode(col("o_custkey")).as("src"), suppNode(col("l_suppkey")).as("dst"))
      .distinct()

  /** Both directions of a (src, dst, …) edge frame. */
  private def mirrored(e: DataFrame): DataFrame =
    e.unionAll(e.select(col("dst").as("src") +: col("src").as("dst") +:
      e.columns.filterNot(Set("src", "dst")).toSeq.map(col): _*))

  /** `edges` (src, dst[, w]) plus one self-loop (v, v[, w = 0]) per row
    * of the one-column frame `nodes`. A round that joins its previous
    * frame to this on `src` and folds by `dst` sees each node's own
    * value beside its neighbours' — the fold over N(v) ∪ {v} — and so
    * reads that frame once.
    */
  private[operators] def selfLooped(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val v = col(nodes.columns.head)
    val loops = nodes.select(v.as("src"), v.as("dst"))
    edges.unionByName(
      if (edges.columns.contains("w")) loops.withColumn("w", lit(0).cast(edges.schema("w").dataType))
      else loops)
  }

  /** [[selfLooped]] over the nodes of a mirrored edge frame,
    * hash-partitioned on src: the resident side of a round's join.
    */
  private def looped(edges: DataFrame): DataFrame =
    selfLooped(edges, edges.select(col("src").as("node")).distinct())
      .repartition(col("src"))

  /** The nodes of a [[looped]] trade graph: its self-loops, since the
    * bipartite graph has no other src = dst row.
    */
  private def loopNodes(edges: DataFrame): DataFrame =
    edges.filter(col("src") === col("dst")).select(col("src").as("node"))

  /** One min-plus round over a [[looped]] weighted edge frame: each
    * reached node's smallest `v + w` over its in-edges and its weight-0
    * self-loop, so known values stay and one more edge is crossed.
    */
  private def relaxed(prev: DataFrame, edges: DataFrame, v: String): DataFrame =
    prev.hint("shuffle_hash")
      .join(edges, col("node") === col("src"))
      .groupBy(col("dst").as("node"))
      .agg(min(col(v) + col("w")).as(v))

  /** Customer nodes of `nation` that have a trade in `nodes`. */
  private def seedNodes(spark: SparkSession, dir: String, nation: Long,
                        nodes: DataFrame): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_nationkey") === nation)
      .select(custNode(col("c_custkey")).as("node"))
      .join(nodes, Seq("node"), "left_semi")

  /** PageRank over the bipartite customer↔supplier trade graph
    * (query pr1): an edge per distinct (customer, supplier) trade
    * relationship, both directions so the chain is ergodic; 3
    * damped iterations; top-k hub nodes.
    *
    * Hot-path choices (measured at sf0.1, ~587k distinct pairs →
    * 1.17M directed edges):
    *  - node ids are the packed trade-graph integers ([[tradePairs]])
    *    end to end; display strings are built only in the final top-k
    *    projection ([[nodeName]]).
    *  - contributions are scaled to exact longs (round(pr/deg·10¹⁴))
    *    instead of DECIMAL(30,14): the per-node sum stays exact and
    *    order-independent (mass ≤ 1 ⇒ sums ≪ 2⁶³) but aggregates on
    *    the fast 64-bit path rather than 128-bit decimals.
    *  - the edge⊳degree join is hoisted out of the loop and
    *    persisted, so each iteration is ONE map-side broadcast join
    *    of the rank vector plus ONE dst-keyed aggregation.
    */
  def pageRank(spark: SparkSession, dir: String,
               iterations: Int = 3, k: Int = 25): DataFrame =
      withoutAqe(spark) { Pins.local(spark) { p =>
    // Pin the distinct pair set BEFORE mirroring it: caching the
    // union instead would re-run the join+distinct once per direction.
    val pairs = p(tradePairs(spark, dir))
    val edges = mirrored(pairs)

    // Degree rides the edges via one broadcast (node-cardinality ≪
    // edges), and the persisted frame is PRE-PARTITIONED on src so
    // every iteration's rank join can reuse that exchange. The rank
    // join itself is SHUFFLE-HASH, not broadcast (round 12): each
    // broadcast(prev) was a driver round-trip — a separate
    // broadcast-build job per iteration, the stage-scheduling
    // exposure that inflated pr1 1.7× on the r11 driver's contended
    // box. With the edge side's partitioning reused, the only moving
    // data per iteration is the node-cardinality rank vector
    // (hash-shuffled to the same 32 src buckets) — the whole
    // iteration chain now executes as ONE job. At web-graph scale the
    // same plan holds: bucket the edges on src, shuffle only ranks.
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgesDeg = p(edges.join(broadcast(deg), "src").repartition(col("src")))
    val nodes = edges.select(col("src").as("node")).distinct()
    val n = nodes.count().toDouble // control-plane scalar
    val base = 0.15 / n

    var pr = nodes.withColumn("pr", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      val prev = pr
      // each rank vector feeds exactly one consumer — caching it
      // would only add memory pressure
      pr = edgesDeg
        .join(prev.hint("shuffle_hash"), edgesDeg("src") === prev("node"))
        .select(col("dst"),
          round(col("pr") / col("deg") * lit(1e14)).cast("long").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"),
          (lit(base) + lit(0.85) * (col("s").cast("double") / lit(1e14)))
            .as("pr"))
    }

    pr.select(nodeName(col("node")).as("node"), round(col("pr"), 12).as("pr"))
      .orderBy(desc("pr"), asc("node"))
      .limit(k)
  }} // withoutAqe


  /** Gated ppr1: PERSONALIZED PAGERANK — the seed-teleport variant of
    * [[pageRank]] (Haveliwala 2002): random walks restart at a SEED
    * SET instead of everywhere, so scores measure proximity to the
    * seeds — the recommendation / related-entities primitive (and at
    * corpus scale, the "find documents in this topic neighborhood"
    * selection pass). Seeds = customers with custkey < 10; teleport
    * mass (1−d)/|S| lands only on seeds, everything else starts (and
    * may stay) at 0.
    *
    * Mechanics mirror pr1 exactly — quantized round(·1e14) BIGINT
    * contributions, one broadcast rank join + one dst-keyed
    * aggregation per iteration, edge⊳degree hoisted and persisted —
    * with ONE structural change: the rank update LEFT-joins from the
    * node frame so zero-in-contribution nodes (and seeds with no mass
    * yet) keep their teleport term; pr1 could skip that only because a
    * mirrored graph gives every node in-edges AND a uniform base.
    */
  def personalizedPageRank(spark: SparkSession, dir: String,
                           iterations: Int = 3, k: Int = 25,
                           seedMax: Long = 10L): DataFrame =
      withoutAqe(spark) { Pins.local(spark) { p =>
    val pairs = p(tradePairs(spark, dir))
    val edges = mirrored(pairs)
    // Same round-12 shuffle-hash discipline as pr1: edges partitioned
    // on src once, rank vectors shuffle to them, no per-iteration
    // broadcast-build jobs. The left-join back onto the node frame is
    // likewise shuffle-hash with the node frame pre-partitioned on
    // its key, so each iteration adds exactly two node-cardinality
    // shuffles to the single job.
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgesDeg = p(edges.join(broadcast(deg), "src").repartition(col("src")))
    val nodes = p(edges.select(col("src").as("node")).distinct()
      .repartition(col("node")))
    def isSeed(c: Column): Column = isCust(c) && c < custNode(lit(seedMax))
    val ns = nodes.filter(isSeed(col("node"))).count().toDouble // control plane
    val tel = 0.15 / ns

    var pr = nodes.withColumn("pr",
      when(isSeed(col("node")), lit(1.0 / ns)).otherwise(lit(0.0)))
    for (_ <- 1 to iterations) {
      val prev = pr
      val contribs = edgesDeg
        .join(prev.hint("shuffle_hash"), edgesDeg("src") === prev("node"))
        .select(col("dst"),
          round(col("pr") / col("deg") * lit(1e14)).cast("long").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("s"))
      pr = nodes.join(contribs.hint("shuffle_hash"),
          nodes("node") === contribs("dst"), "left")
        .select(nodes("node"),
          (when(isSeed(nodes("node")), lit(tel)).otherwise(lit(0.0))
            + lit(0.85) * (coalesce(col("s"), lit(0L)).cast("double")
              / lit(1e14))).as("pr"))
    }
    pr.select(nodeName(col("node")).as("node"), round(col("pr"), 12).as("pr"))
      .orderBy(desc("pr"), asc("node"))
      .limit(k)
  }} // withoutAqe


  /** Gated gnn1: TWO-HOP NEIGHBOR FEATURE AGGREGATION — the data-prep
    * kernel of message-passing GNNs (GraphSAGE mean aggregator,
    * Hamilton et al. 2017): layer 1 gives every supplier the mean of
    * its neighbor customers' feature (balance cents), layer 2 gives
    * every customer the mean of its neighbor suppliers' layer-1
    * value; the gate reads out the per-nation fold. This is exactly
    * the "sample-and-aggregate" shape a 100 TB GNN feature pipeline
    * runs per layer: one edge-keyed join + one dst-keyed mean, feature
    * width amortized, no adjacency materialization.
    *
    * Numeric contract: features are BIGINT cents; each hop's mean is
    * (exact BIGINT/DECIMAL sum) cast DOUBLE, one division, round 6,
    * re-widened to DECIMAL(38,6) before the next hop's sum — so every
    * engine-visible comparison is on drift-free values and the gate
    * hashes (edr1's fold discipline per hop).
    */
  def gnnNeighborAgg(spark: SparkSession, dir: String): DataFrame =
      Pins.local(spark) { p =>
    val pairs = p(trades(spark, dir)
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct())
    val feat = Tables.customer(spark, dir)
      .select(col("c_custkey").as("c"),
        round(col("c_acctbal") * 100).cast("long").as("cb"))
    val h1 = pairs.join(feat, "c")
      .groupBy(col("s"))
      .agg(round(sum(col("cb")).cast("double") / count(lit(1)), 6)
        .cast("decimal(38,6)").as("h1"))
    val h2 = pairs.join(h1, "s")
      .groupBy(col("c"))
      .agg(round(sum(col("h1")).cast("double") / count(lit(1)), 6).as("h2"))
    h2.join(Tables.customer(spark, dir),
        col("c") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("int").as("nation"))
      .agg(count(lit(1)).as("n_cust"),
        round(sum(col("h2").cast("decimal(38,6)")).cast("double")
          / count(lit(1)), 6).as("avg_h2"))
      .orderBy(col("nation")) // 25 rows
  }

  /** Gated bfs1: MULTI-SOURCE BFS distance histogram over the
    * bipartite customer↔supplier trade graph (packed node ids as in
    * [[pageRank]]), seeded at nation-0 customers. The "how far is
    * everything from the trusted core" reachability pass curation
    * uses to propagate trust/spam labels outward from a seed set.
    *
    * Scale shape: each hop is ONE join of the distance frame against
    * the src-keyed edge list plus self-loops and ONE min aggregation
    * ([[relaxed]], sp1's round with unit weights); the driver sees one
    * reached-node count per round (and stops once it no longer grows,
    * so a saturated graph never pays maxHops rounds). The distance
    * frame is node-cardinality, edges are touched once per hop.
    * Measured at sf0.1 against a frontier-only hop (`w = 0 OR dist =
    * h - 1` in the join predicate): same jobs, stages and tasks, and
    * no speed difference beyond run-to-run noise, so the simpler
    * full-frame hop stays.
    */
  def bfsDistances(spark: SparkSession, dir: String,
                   seedNation: Long = 0, maxHops: Int = 4): DataFrame =
      withoutAqe(spark) { Pins.local(spark) { p =>
    // Pin the edge list (plus a weight-0 self-loop per node)
    // HASH-PARTITIONED on src: every hop joins on that key, so the
    // per-round exchange moves only the distance frame
    // (node-cardinality) while the edge frame — the big side — stays
    // where it was cached. Without this, each hop re-shuffles the
    // edges: maxHops × |edges| rows of avoidable network at scale.
    val edges = p(looped(mirrored(tradePairs(spark, dir)).withColumn("w", lit(1))))
    var reached = -1L
    p(Pins.rounds(seedNodes(spark, dir, seedNation, loopNodes(edges)).select(col("node"), lit(0).as("dist")),
        maxHops, cutEvery = 0) { (dist, _) => relaxed(dist, edges, "dist")
    } { (dist, _, _) =>
      val n = dist.count() // control-plane scalar per round
      val grew = n != reached
      reached = n
      grew
    })
      .groupBy(col("dist").cast("int").as("dist"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("dist")) // ≤ maxHops+1 rows
  }} // withoutAqe

  /** Distinct co-purchase edges over parts: (u, v) with u < v when
    * both parts appear in the same order. Pair enumeration is
    * per-order and order sizes are bounded (TPC-H lineitems/order
    * ≤ 7), so the self-join is a bounded within-group expansion — at
    * corpus scale a pathological hot group would be capped or
    * sampled upstream, not here.
    */
  def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    // One shuffle groups each order's DISTINCT parts into a sorted
    // array (collect_set partials combine map-side); pairs then
    // expand WITHIN the row — u<v falls out of the sort order — and a
    // second shuffle dedups the edge list. The former shape (distinct
    // on (o,p), then a self-join on o, then distinct) paid four edge-
    // scale shuffles because distinct's (o,p) partitioning cannot be
    // reused by a join keyed on o alone. Per-order arrays are bounded
    // (≤ 7 lineitems/order in TPC-H shape), so the in-row pair
    // expansion is a constant-factor map step.
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), greatest(size(col("ps")) - i - 1, lit(0))),
          y => struct(x.as("u"), y.as("v"))))))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
  }

  /** Gated tc1: TRIANGLE COUNT + global clustering coefficient of the
    * part co-purchase graph — the standard cohesion statistic for
    * curation graphs (link farms and template clusters show up as
    * abnormal clustering long before content filters see them).
    *
    * Scale shape: the node-iterator wedge join is run on a
    * DEGREE-ORIENTED edge list (each edge points to its higher-
    * (degree, id) endpoint), which bounds every out-neighborhood at
    * O(√m) — the hub that would make the naive wedge join quadratic
    * gets its edges pointed AT it instead of out of it. Wedges close
    * against the oriented list itself, so each triangle is counted
    * exactly once, from its lowest-priority corner. Driver sees four
    * scalars.
    */
  def triangleStats(spark: SparkSession, dir: String): DataFrame =
    triangleStatsFrom(spark, copurchaseEdges(spark, dir))

  /** Gated aa1: per-edge COMMON-NEIGHBOR strength — |N(u)∩N(v)| and
    * the Adamic–Adar sum Σ_{w∈N(u)∩N(v)} 1/ln(deg w) for every
    * existing co-purchase edge, top-k strongest. Link analysis's
    * embeddedness/link-prediction score: high-AA edges are structural
    * (template clusters, bundles), zero-AA edges are bridges — the
    * signal curation uses to separate organic link mass from farms.
    *
    * Scale shape: same discipline as [[triangleStatsFrom]] — the
    * quadratic object (per-edge neighborhood overlap) never
    * materializes as rows; it stays inside a per-row two-pointer
    * kernel over sorted adjacency arrays. Full (undirected)
    * neighborhoods are needed here, so per-node arrays are O(max
    * degree) rather than tc1's O(√m) oriented bound — the standard
    * mitigation at web scale is capping/sampling hub adjacency before
    * scoring (hubs' AA terms are ≈0 anyway: weight 1/ln d); the gate
    * keeps arrays exact at catalog density. Weights ride ALIGNED with
    * the neighbor ids (one struct sort, then two projections), scaled
    * to exact longs (round(1e12/ln d) — common neighbors have d ≥ 2
    * by construction, so ln d ≥ ln 2) to make every per-edge sum
    * order-invariant: ranking compares exact integers, cross-engine.
    */
  def edgeStrength(spark: SparkSession, dir: String, k: Int = 25): DataFrame =
    edgeStrengthFrom(spark, copurchaseEdges(spark, dir), k)

  /** Truncate an (a, b) half-edge frame to each node's `cap` SMALLEST
    * neighbor ids — the hub guard for every adjacency-ARRAY operator:
    * without it one power-law hub materializes a degree-sized array in
    * a single task (a multi-hundred-MB row at web scale). The
    * smallest-id rule is deterministic and cross-engine replayable
    * (pairs are distinct — no ties). EXACTNESS CONTRACT: results are
    * bit-identical to uncapped whenever every true degree ≤ cap
    * (spec-proven); beyond it, neighborhoods are truncated
    * deterministically — the standard web-scale mitigation, since a
    * hub's per-neighbor contribution (1/ln d) is negligible exactly
    * when the cap bites.
    *
    * The rank window runs on HUB ROWS ONLY (round 11): every caller
    * already owns a degree frame, and `degUpper(node, d)` gives a
    * per-`a` group-size upper bound, so rows whose node sits at or
    * under the cap — ALL of them, at catalog density — bypass the
    * window through a broadcast anti-join against the (typically
    * empty) hub list. The former shape ranked every half-edge: a
    * full-frame per-key sort paid purely to guard against hubs that
    * don't exist. Cost is now two broadcast probes over the frame
    * plus a window over the hub slice alone, and the rank filter
    * still runs BEFORE any collect_list, so candidate mass stays
    * O(nodes × cap) by construction.
    */
  private def capNeighbors(half: DataFrame, a: String, b: String,
                           cap: Int, degUpper: DataFrame): DataFrame =
    capNeighborsThen(half, a, b, cap, degUpper)(identity)

  /** [[capNeighbors]] with the caller's per-`a`-group aggregation
    * PUSHED BELOW the cold∪hot union (round 14): a node's half-edge
    * group lives entirely on one side of the hub split, so aggregating
    * each side and unioning the RESULTS is row-identical to
    * aggregating the union — but the union of two frames reports
    * unknown output partitioning, which forced the callers'
    * collect_list groupBy to re-exchange the full half-edge frame that
    * aa1/tc1 had just hash-partitioned. With the aggregation inside,
    * the cold path (ALL rows, at catalog density) rides the resident
    * partitioning exchange-free end to end; only the hub slice — empty
    * until the cap bites — pays the window and its own (tiny) shuffle.
    */
  private def capNeighborsThen(half: DataFrame, a: String, b: String,
                               cap: Int, degUpper: DataFrame)(
                               agg: DataFrame => DataFrame): DataFrame = {
    require(cap >= 1, s"degreeCap must be >= 1, got $cap")
    if (cap == Int.MaxValue) agg(half)
    else {
      val hubs = broadcast(
        degUpper.filter(col("d") > cap).select(col("node").as("_hub")))
      val cold = half.join(hubs, col(a) === col("_hub"), "left_anti")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(a)).orderBy(col(b))
      val hot = half.join(hubs, col(a) === col("_hub"), "left_semi")
        .withColumn("_r", row_number().over(w))
        .filter(col("_r") <= cap).drop("_r")
      agg(cold).unionAll(agg(hot))
    }
  }

  /** [[edgeStrength]] over an explicit (u, v) u<v edge frame.
    * `degreeCap` bounds every adjacency array (see [[capNeighbors]]);
    * the gate's 4096 is ~20× the densest sf0.1 co-purchase degree, so
    * the capped path is exercised hash-exactly, and a production
    * caller on a power-law graph tightens it to taste.
    */
  def edgeStrengthFrom(spark: SparkSession, edgesUV: DataFrame,
                       k: Int, degreeCap: Int = 4096): DataFrame =
      Pins.local(spark) { p =>
    val e = p(edgesUV)
    // The mirrored half-edge frame is SYMMETRIC — (x,y) ∈ und ⇔
    // (y,x) ∈ und — so grouping on `a` and grouping on `b` see the
    // same multiset of keys. Hash-partition it ONCE on `a` (round 14)
    // and key BOTH the degree count and the adjacency collection on
    // `a`: the former shape exchanged the 2m-row frame twice (degree
    // keyed on b, adjacency keyed on a — same values, different
    // columns, so Catalyst cannot share the exchange). The persisted
    // repartition also feeds capNeighbors' two broadcast probes and
    // the weight join, all partitioning-preserving, so ONE 2m-row
    // exchange now serves the whole adjacency build.
    val und = p(e.select(col("u").as("a"), col("v").as("b"))
      .unionAll(e.select(col("v").as("a"), col("u").as("b")))
      .repartition(col("a")))
    // Node-cardinality; read three ways (weight join, hub list,
    // implicit reuse across them) — pin, or the half-edge
    // aggregation reruns per subscriber.
    val deg = p(und.groupBy(col("a").as("node")).agg(count(lit(1)).as("d")))
    // Neighbor lists annotated with the NEIGHBOR's degree weight: join
    // on the dst endpoint (node-cardinality degree table broadcasts),
    // sort once as structs — sort_array orders by the leading field —
    // and project the aligned id/weight arrays out of the same sort.
    // Weights use TRUE degrees (computed pre-cap); only the collected
    // lists are capped. Undirected degree IS the per-`a` group size
    // here, so it is the exact hub bound for [[capNeighbors]].
    // The weight join + collect_list run per hub-split side
    // ([[capNeighborsThen]], round 14): both are broadcast/partition-
    // preserving, so the cold side (everything, at catalog density)
    // aggregates straight off und's resident `a`-partitioning with NO
    // further exchange — the union used to erase that partitioning and
    // re-exchange the 2m-row weighted frame just before the groupBy.
    // Joined twice (u side + v side): pinned, or the degree-join +
    // groupBy+sort adjacency build runs twice.
    val adj = p(capNeighborsThen(und, "a", "b", degreeCap, deg)(h => h
        .join(broadcast(deg), col("b") === col("node"))
        .select(col("a"), struct(col("b"),
          // d = 1 nodes can never be common neighbors; pin their weight
          // to 0 rather than divide by ln(1).
          when(col("d") >= 2,
            round(lit(1e12) / log(col("d").cast("double"))).cast("long"))
            .otherwise(lit(0L)).as("w")).as("nw"))
        .groupBy(col("a"))
        .agg(sort_array(collect_list(col("nw"))).as("arr")))
      .select(col("a"),
        transform(col("arr"), x => x.getField("b")).as("nbrs"),
        transform(col("arr"), x => x.getField("w")).as("wts")))
    // SHUFFLE-HASH both adjacency joins (round 11): the streamed side
    // of the second join carries every edge row already loaded with
    // the u-side id+weight arrays — ~2 KB/row, tens of GB at sf1 —
    // and sort-merge would SORT that stream (spill-write + spill-read
    // of the whole array payload) just to meet a 200 k-row build side.
    // Hashing the node-cardinality adjacency instead leaves the heavy
    // stream unsorted: probe-only, no array byte ever spilled. Same
    // exchange count; measured 24.4 s -> 10.6 s steady on the sf1
    // rehearsal for this stage.
    e
      .join(adj.select(col("a").as("u2"), col("nbrs").as("nbrs_u"))
        .hint("shuffle_hash"), col("u") === col("u2"))
      .join(adj.select(col("a").as("v2"), col("nbrs").as("nbrs_v"),
        col("wts").as("wts_v")).hint("shuffle_hash"), col("v") === col("v2"))
      .select(col("u"), col("v"),
        graft.functions.SortedIntersectExpr
          .sortedIntersectCount(col("nbrs_u"), col("nbrs_v")).as("n_common"),
        // Weights ride the V-SIDE build (round 15): a common neighbor
        // w's weight depends on w ALONE, so Σ weight(w) over the
        // intersection reads the aligned weights from EITHER side's
        // array — value-identical. Taking them from the v side means
        // the second join's STREAMED frame (every edge row, already
        // loaded with the u-side id array) no longer ships wts_u
        // through its exchange: the weight array arrives on the
        // node-cardinality build side instead, halving the array
        // bytes the heavy stream carries.
        graft.functions.SortedIntersectExpr
          .sortedIntersectWeightSum(col("nbrs_v"), col("nbrs_u"), col("wts_v"))
          .as("aa_scaled"))
      // Embedded edges only: the oracle's wedge join never produces an
      // edge with zero common neighbors, so scoring (and possibly
      // top-k-admitting) n_common = 0 bridges here would diverge on a
      // sparse graph where fewer than k edges are embedded. Both sides
      // rank the same population.
      .filter(col("n_common") > 0)
      // rank on the EXACT scaled long; display the rounded double
      .orderBy(desc("aa_scaled"), asc("u"), asc("v"))
      .limit(k)
      .select(col("u"), col("v"), col("n_common"),
        round(col("aa_scaled").cast("double") / lit(1e12), 6).as("aa_score"))
  }

  /** [[triangleStats]] over an explicit (u, v) u<v edge frame (the
    * seam synthetic-graph tests drive).
    */
  def triangleStatsFrom(spark: SparkSession, edgesUV: DataFrame,
                        degreeCap: Int = 4096): DataFrame =
      Pins.local(spark) { p =>
    val e = p(edgesUV)
    // Node-cardinality; read four ways (two orientation joins, the
    // wedge-total summary, the hub list) — pin, or the edge-list
    // aggregation reruns per subscriber.
    val deg = p(e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d")))
    // Orient toward the higher (degree, id) endpoint. The degree
    // table is O(|nodes|) — for a product-catalog-sized node set it
    // broadcasts (two map-side joins, the edge list never shuffles
    // here); a web-scale node set would drop the hint and take the
    // shuffle join, changing nothing else.
    val oriented = e
      .join(broadcast(deg.select(col("node").as("u"), col("d").as("du"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("d").as("dv"))), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("src"), col("e.t").as("dst"))
    // Hash-partition the oriented list ONCE on src (round 14, the same
    // move as [[edgeStrengthFrom]]'s adjacency build): the adjacency
    // groupBy keys on src and the wedge join's streamed side probes on
    // src, so both reuse the resident partitioning — the former shape
    // exchanged the full edge list separately for the groupBy and for
    // the first join. adj inherits src-partitioning through its
    // groupBy, so the s2-side of the wedge join is exchange-free too;
    // only the dst-side probe still moves the edge stream.
    val or = p(oriented.repartition(col("src")))
    // EDGE-ITERATOR closure: a triangle {u,v,w} oriented from its
    // lowest-priority corner has out-edges u→v, u→w and closing edge
    // v→w, so n_triangles = Σ_{(s,t)∈oriented} |N⁺(s) ∩ N⁺(t)|.
    // Materializing the wedge set instead (self-join on src) is
    // O(Σ d⁺²) ROWS through a shuffle — ~2·10⁸ at the sf0.1
    // co-purchase density (avg degree ~200) and growing with density
    // squared. Adjacency arrays keep that product inside a per-row
    // two-pointer kernel: the oriented out-degree is O(√m) by
    // construction, the adjacency table has one row per node (O(n)
    // state, broadcast-or-shuffle joinable at any scale), and the
    // only big frame that moves is the edge list itself.
    // Joined twice below (src side + dst side) — pinned, or the
    // groupBy+sort pass over the edge list runs twice. Degree
    // orientation already bounds out-neighborhoods at O(√m); the
    // explicit cap ([[capNeighbors]]) is the backstop for the graph
    // where √m itself is an oversized array — exact whenever the max
    // ORIENTED out-degree ≤ cap (so the gate's 4096 never bites at
    // catalog density), an undercount past it (documented truncation,
    // spec-proven bounded).
    // Undirected degree upper-bounds the oriented out-degree, so it is
    // a sound hub bound for [[capNeighbors]] here: any src group it
    // clears is provably under the cap, and the (empty, at catalog
    // density) remainder gets the exact window.
    // collect_list per hub-split side ([[capNeighborsThen]], round 14):
    // the cold side aggregates on or's resident src-partitioning with
    // no exchange (the union used to erase it and re-shuffle the full
    // oriented list into the groupBy).
    val adj = p(capNeighborsThen(or, "src", "dst", degreeCap, deg)(h => h
        .groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))))
    // Shuffle-hash for the same reason as [[edgeStrengthFrom]]'s score
    // join: the streamed edge list carries the src-side array through
    // the second join; hashing the node-cardinality adjacency avoids
    // sorting that payload.
    val tri = or
      .join(adj.withColumnsRenamed(Map("src" -> "s2", "nbrs" -> "nbrs_s"))
        .hint("shuffle_hash"), col("src") === col("s2"))
      .join(adj.withColumnsRenamed(Map("src" -> "t2", "nbrs" -> "nbrs_t"))
        .hint("shuffle_hash"), col("dst") === col("t2"))
      .select(graft.functions.SortedIntersectExpr
        .sortedIntersectCount(col("nbrs_s"), col("nbrs_t")).as("c"))
      .agg(sum(col("c")).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("d") * (col("d") - 1) / lit(2.0)).as("wedge_total"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("wedge_total"), 6)
          .as("clustering"))
  }

  /** Gated lp1: SYNCHRONOUS LABEL PROPAGATION community detection
    * over the bipartite customer↔supplier trade graph (packed int
    * ids as in [[pageRank]]) — each round every node adopts the most
    * frequent label among its neighbors, ties broken by the SMALLEST
    * label. The cheap community pass curation runs before expensive
    * per-cluster work (template clusters, market segments, link
    * farms all surface as label basins).
    *
    * ROUND COUNT IS PART OF THE CONTRACT (same policy as
    * [[kCorePeel]]): both engines run exactly `rounds` synchronous
    * updates — synchronous LPA on a bipartite graph can oscillate
    * rather than converge, so a fixpoint loop would be
    * non-deterministic across engines; a fixed-round contract with a
    * deterministic tie-break is exact.
    *
    * Scale shape: each round is ONE join of the (node-cardinality)
    * label vector against the src-hash-partitioned edge list plus a
    * two-level aggregation — (dst, label) counts combine map-side,
    * then the per-dst argmax folds as `min(struct(-count, label))`,
    * an aggregation, never a window. The edge frame is exchanged
    * once and reused every round; only labels move per round. The
    * argmax-by-(count desc, label asc) is exact integer arithmetic,
    * so the gate is hash-identical cross-engine.
    */
  def labelPropagation(spark: SparkSession, dir: String,
                       rounds: Int = 3, k: Int = 25): DataFrame =
      withoutAqe(spark) { Pins.local(spark) { p =>
    val pairs = p(tradePairs(spark, dir))
    // Hash-partition the mirrored edge list on src once: every round
    // joins on that key, so the per-round exchange moves only the
    // label vector (node-cardinality), never the edges.
    val edges = p(mirrored(pairs).repartition(col("src")))

    // Initial label = own node id (the standard seeding).
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val prev = labels
      // Label vectors are node-cardinality — shuffle-hash them to the
      // resident edge partitioning (round 12: broadcast builds were
      // one driver round-trip per round; the same plan now runs as
      // one job end to end, and it is already the web-scale shape).
      labels = edges
        .join(prev.hint("shuffle_hash"), edges("src") === prev("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
        // argmax by (count DESC, label ASC) = min of the struct
        // (-count, label): one aggregation, exact integers, no window
        .groupBy(col("dst"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
        .select(col("dst").as("node"), col("m.label").as("label"))
    }

    labels
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(desc("n_nodes"), asc("community"))
      .limit(k)
  }} // withoutAqe

  /** Gated sp1: BOUNDED-ROUND WEIGHTED SHORTEST PATHS (Bellman–Ford
    * BSP) over the trade graph — edge weight = the CHEAPEST trade
    * (min extended price, integer cents) between the pair; seeds =
    * nation-0 customers at distance 0; `rounds` relaxations; top-k
    * nearest non-seed nodes. The weighted sibling of [[bfsDistances]]
    * (reach in "cost" rather than hops — supply-chain proximity /
    * trust-propagation with edge costs).
    *
    * ROUND COUNT IS PART OF THE CONTRACT (as in [[kCorePeel]]): both
    * engines run `rounds` relaxations, so results agree even before
    * the distance map converges. The loop stops earlier only at the
    * fixpoint, after which every further round repeats the frame.
    *
    * Scale shape: each relaxation is ONE join of the current distance
    * vector (node-cardinality) against the src-hash-partitioned edge
    * list plus weight-0 self-loops, which keep every known distance,
    * and one map-side-combinable MIN aggregation — the textbook BSP
    * SSSP round. Distances are exact BIGINT cents end to end, so the
    * min-fold is order-invariant and the gate hash-exact. The driver
    * sees one (count, Σd) pair per round and no rows until the final
    * k-row top list.
    */
  def cheapestRoutes(spark: SparkSession, dir: String,
                     seedNation: Long = 0, rounds: Int = 4,
                     k: Int = 25): DataFrame =
      withoutAqe(spark) { Pins.local(spark) { p =>
    val edges = p(looped(mirrored(trades(spark, dir)
      .groupBy(custNode(col("o_custkey")).as("src"), suppNode(col("l_suppkey")).as("dst"))
      .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("w")))))
    // Distances only fall and the reached set only grows, so an
    // unchanged (count, Σd) is the fixpoint.
    var last = (-1L, 0L)
    val dist = p(Pins.rounds(seedNodes(spark, dir, seedNation, loopNodes(edges)).select(col("node"), lit(0L).as("d")),
        rounds, cutEvery = 0) { (prev, _) => relaxed(prev, edges, "d")
    } { (dist, _, _) =>
      val row = dist.agg(count(lit(1)), coalesce(sum(col("d")), lit(0L))).head()
      val now = (row.getLong(0), row.getLong(1))
      val moved = now != last
      last = now
      moved
    })
    dist
      .filter(col("d") > 0) // non-seed nodes: seeds pin at 0
      .select(nodeName(col("node")).as("node"), col("d").as("dist_cents"))
      .orderBy(asc("dist_cents"), asc("node"))
      .limit(k)
  }} // withoutAqe

  /** Gated tr1: TEXTRANK KEYWORDS — weighted PageRank over the word
    * co-occurrence graph of the documents corpus (adjacent-token
    * pairs, undirected, weight = corpus-wide adjacency count), 3
    * damped iterations, top-k words. The classic unsupervised
    * keyword/keyphrase extractor (Mihalcea & Tarau 2004), and the
    * graph-centrality member of the text-analysis family: unlike
    * frequency rankings (t5/hh1) it scores a word by the RANK of its
    * neighbors, not its own count.
    *
    * Determinism: per-edge contributions round(pr·w/wdeg·10¹⁴) to
    * exact longs before the per-dst sum — order-invariant, so both
    * engines iterate bit-identical vectors (same discipline as
    * [[pageRank]]).
    *
    * Scale shape: tokenization + pair counting are two map-side-
    * combinable aggregations over the corpus; from there every
    * iteration touches only the word graph (vocabulary-cardinality,
    * tiny relative to the corpus — the whole point of the reduction).
    * The corpus is scanned exactly once however many iterations run.
    */
  def textRankKeywords(spark: SparkSession, dir: String,
                       iterations: Int = 3, k: Int = 20): DataFrame =
      withoutAqe(spark) { Pins.local(spark) { p =>
    val toks = Tables.documents(spark, dir)
      .select(split(trim(col("text")), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 2)
    // Undirected co-occurrence weight: ordered adjacency counts fold
    // into the (least, greatest) key — one corpus-scale aggregation.
    val und = p(toks
      .select(explode(transform(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        (x, i) => struct(
          least(x, element_at(col("ws"), i + 2)).as("u"),
          greatest(x, element_at(col("ws"), i + 2)).as("v")))).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(count(lit(1)).as("w")))
    val edges = und.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst"), col("w")))
    // Self-loops (a word adjacent to itself) mirror into TWO equal
    // edges; that double-count is part of the contract on both sides.
    val wdeg = edges.groupBy(col("src")).agg(sum(col("w")).as("wd"))
    // pr1's round-12 discipline: src-partitioned persisted edges +
    // shuffle-hash rank joins, one job for the whole iteration chain.
    val edgesDeg = p(edges.join(broadcast(wdeg), "src").repartition(col("src")))
    val nodes = edges.select(col("src").as("node")).distinct()
    val n = nodes.count().toDouble // control-plane scalar
    val base = 0.15 / n

    var pr = nodes.withColumn("pr", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      val prev = pr
      pr = edgesDeg
        .join(prev.hint("shuffle_hash"), edgesDeg("src") === prev("node"))
        .select(col("dst"),
          round(col("pr") * col("w") / col("wd") * lit(1e14))
            .cast("long").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"),
          (lit(base) + lit(0.85) * (col("s").cast("double") / lit(1e14)))
            .as("pr"))
    }

    pr.select(col("node").as("word"), round(col("pr"), 12).as("pr"))
      .orderBy(desc("pr"), asc("word"))
      .limit(k)
  }} // withoutAqe

  /** Gated kc1: BOUNDED-ROUND k-CORE PEEL over the co-purchase graph
    * — iteratively drop every node with degree < `k` and the edges
    * touching it, `rounds` times, reporting the (nodes, edges)
    * trajectory per round. The cohesion filter that isolates the
    * densely-connected "core catalog" from long-tail attachments
    * (in curation: the template/boilerplate cluster detector's
    * preprocessing step — cores survive, tendrils don't).
    *
    * ROUND COUNT IS PART OF THE CONTRACT: both this operator and the
    * SQL oracle run exactly `rounds` peels (the unrolled-CTE oracle
    * cannot loop to fixpoint), so results agree even when the peel
    * has not yet converged; at the gated SFs the cascade settles by
    * round 5 and the tail rows repeat the fixpoint. A production run
    * would loop on the same per-round counter until Δedges = 0.
    *
    * Scale shape: classic BSP peel — each round is one map-side-
    * combinable degree count plus two semi-joins of the edge frame
    * against the (node-cardinality) survivor set, all keyed shuffles;
    * the driver sees two counters per round (they'd drive the
    * convergence check in production), never rows.
    *
    * LINEAGE MUST BE CUT EVERY ROUND: round r references round r-1's
    * frame three times (degree union ×2 + join input), so a
    * persist()-only loop grows the LOGICAL plan 3^r — at 8 rounds
    * Catalyst optimizes a ~6.5k-leaf tree and the driver OOMs before
    * any executor works. `localCheckpoint(eager)` rewrites the plan
    * to a scan of the materialized blocks, keeping every round's plan
    * constant-size. (The SQL oracle needs the same guard: its CTEs
    * are `AS MATERIALIZED`, else DuckDB inlines them exponentially.)
    */
  def kCorePeel(spark: SparkSession, dir: String,
                k: Int = 80, rounds: Int = 8): DataFrame =
      withoutAqe(spark) {
    // THE DEGREE FRAME IS THE ROUND'S WHOLE CONTROL STATE (round 12):
    // one endpoint-union aggregation per round yields BOTH the
    // survivor set for the NEXT peel (filter d ≥ k) and the CURRENT
    // graph's counters (n_nodes = rows, n_edges = Σd/2 — every edge
    // contributes exactly two endpoint rows). The old shape computed
    // the same aggregation inside the peel job AND re-scanned the
    // checkpointed blocks with a countDistinct for the counters —
    // one full degree pass per round, now gone. Pinned because it
    // is read twice (counter action + next round's joins); the
    // counter action doubles as its materializer.
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
    // One aggregate yields the counters AND the below-threshold count
    // that decides whether the NEXT peel can change anything (round
    // 14): when nBelow = 0 every remaining node has degree ≥ k, the
    // keep-set is the whole node set, both semi-joins are identities
    // and round r+1's graph equals round r's — so the rest of the
    // trajectory provably repeats the fixpoint row. The loop stops
    // there and replicates the row instead of paying (checkpoint +
    // degree pass) per already-converged round (the sf0.1 cascade
    // settles by round 5 of 8; the oracle's unrolled CTEs still state
    // all `rounds` rows — identical by the proof above, hash-checked).
    def counters(byV: DataFrame): (Long, Long, Long) = {
      val row = byV.agg(count(lit(1)).as("nn"), sum(col("d")).as("sd"),
        coalesce(sum(when(col("d") < k, 1L).otherwise(0L)), lit(0L))
          .as("nb")).head()
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1) / 2,
        row.getLong(2))
    }
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    Pins.scope { p =>
      // LAZY checkpoints throughout the loop (round 15): each round has
      // exactly one action — the counter aggregate — whose map side
      // scans every partition of the round's graph, so it materializes
      // the checkpoint blocks as a side effect. An EAGER checkpoint ran
      // its own materialization job first: 2 driver round-trips per
      // round where 1 suffices (the 8-vs-32-core scaling ratio of 1.05
      // says per-round scheduling, not data, bounds this gate at the
      // bench SF). Lineage is still cut the moment the blocks exist.
      val edges0 = copurchaseEdges(spark, dir).localCheckpoint(false)
      var byV = p(degrees(edges0))
      p(Pins.rounds(edges0, rounds, cutEvery = 1) { (edges, _) =>
        val keep = byV.filter(col("d") >= k).select(col("node"))
        // SHUFFLE-HASH semi-joins (round 12): with broadcast semi-joins
        // every round paid TWO broadcast-build driver round-trips (the
        // u-side and v-side keep builds are alias-distinct subtrees, so
        // ReuseExchange cannot dedup them) — ~4 jobs per round, the
        // stage-scheduling exposure that made kc1 the most noisy-box-
        // fragile gate in the round-11 bench record (8.7 s noisy vs 6.3 s
        // clean). Hinted shuffle-hash keeps the peel ONE job: keep
        // reads the pinned degree frame (already partitioned on the
        // join key by its own groupBy exchange), and the edge frame
        // shuffles as executor-side work instead of driver latency.
        edges
          .join(keep.withColumnRenamed("node", "u").hint("shuffle_hash"),
            Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("node", "v").hint("shuffle_hash"),
            Seq("v"), "left_semi")
          .select(col("u"), col("v"))
      } { (next, r, pins) =>
        // The counter job evaluates keep's semi-join builds from the
        // previous degree frame, which the loop releases after it.
        byV = pins(degrees(next))
        val (nNodes, nEdges, nBelow) = counters(byV) // materializes next too
        stats += ((r, nNodes, nEdges))
        nBelow != 0
      })
    }
    while (stats.nonEmpty && stats.length < rounds) {
      val (_, nn, ne) = stats.last
      stats += ((stats.length + 1, nn, ne))
    }
    spark.createDataFrame(stats.toSeq)
      .toDF("round", "n_nodes", "n_edges")
      .select(col("round").cast("int").as("round"),
        col("n_nodes"), col("n_edges"))
      .orderBy(col("round"))
  } // withoutAqe

  /** Gated hits1: HITS hubs & authorities over the directed
    * customer→supplier trade graph — the OTHER classic link-centrality
    * prior beside PageRank: hubs (customers whose baskets span strong
    * suppliers) and authorities (suppliers bought by strong hubs)
    * reinforce each other, exactly the query/document duality a
    * crawl-quality ranker uses. Two full mutual-update rounds with L2
    * normalization.
    *
    * Same scale discipline as [[pageRank]]: each half-update is one
    * edge⋈vector join (vector is node-cardinality, broadcast here;
    * pre-bucket edges by key when it outgrows broadcast) + one
    * aggregation. Cross-engine determinism is pr1's quantization
    * trick twice over: score contributions ride as
    * `round(score·1e14)` BIGINTs (order-invariant sums), and each L2
    * norm folds `round(score²·1e12)` BIGINTs before one double sqrt —
    * the norms reach the plan as driver-computed literals
    * (control-plane scalars, like pr1's node count).
    */
  def hitsScores(spark: SparkSession, dir: String,
                 iterations: Int = 2, k: Int = 12): DataFrame =
    hitsScoresFrom(spark,
      trades(spark, dir)
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct(),
      iterations, k)

  /** [[hitsScores]] over an explicit distinct (c, s) pair frame (the
    * seam the planted-hub saturation spec drives).
    */
  // Broadcasts KEPT (each half-vector is persisted and read by both
  // the norm action and the next join — the broadcast collect is the
  // materialization barrier); only the AQE scope.
  def hitsScoresFrom(spark: SparkSession, pairsCS: DataFrame,
                     iterations: Int, k: Int): DataFrame =
      withoutAqe(spark) { Pins.local(spark) { p =>
    val pairs = p(pairsCS)

    // Quantized-BIGINT terms, DECIMAL(38,0) sums: the per-key
    // contribution sum is bounded by max-degree·1e14 and the norm
    // fold by Σscore²·1e9 — both can pass 2^63 on a large graph, so
    // the exact accumulation rides DECIMAL (DuckDB's BIGINT sums are
    // already 128-bit HUGEINT — same exact value on both engines).
    def dsum(c: Column): Column = sum(c.cast("decimal(38,0)"))
    def l2(df: DataFrame, v: String): Double = {
      // The squared term goes STRAIGHT to DECIMAL(38,0): routing it
      // through a long would saturate at 2^63 once a pre-normalization
      // score passes ~3e3 (first-iteration authority = in-degree on a
      // high-degree graph), silently corrupting the norm. Double →
      // decimal is exact here (round() made the value integral).
      val q = df.agg(dsum(round(col(v) * col(v) * 1e9))
        .cast("double")).head().getDouble(0)
      math.sqrt(q / 1e9)
    }
    // Each half-vector is pinned before its norm action: the l2 fold
    // and the next join both read it, and without the pin every
    // action would re-run the whole iteration lineage from `pairs`.
    var hub = pairs.select(col("c")).distinct().withColumn("h", lit(1.0))
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      val araw = p(pairs.join(broadcast(hub), "c")
        .select(col("s"), round(col("h") * 1e14).cast("long").as("q"))
        .groupBy(col("s")).agg(dsum(col("q")).as("sq"))
        .select(col("s"), (col("sq").cast("double") / 1e14).as("a")))
      val an = l2(araw, "a")
      auth = araw.select(col("s"), (col("a") / an).as("a"))
      val hraw = p(pairs.join(broadcast(auth), "s")
        .select(col("c"), round(col("a") * 1e14).cast("long").as("q"))
        .groupBy(col("c")).agg(dsum(col("q")).as("sq"))
        .select(col("c"), (col("sq").cast("double") / 1e14).as("h")))
      val hn = l2(hraw, "h")
      hub = hraw.select(col("c"), (col("h") / hn).as("h"))
    }
    val topA = auth
      .select(concat(lit("s"), col("s").cast("string")).as("node"),
        round(col("a"), 9).as("score"))
      .orderBy(desc("score"), asc("node")).limit(k)
    val topH = hub
      .select(concat(lit("c"), col("c").cast("string")).as("node"),
        round(col("h"), 9).as("score"))
      .orderBy(desc("score"), asc("node")).limit(k)
    topA.unionAll(topH).orderBy(desc("score"), asc("node")) // 2k rows
  }} // withoutAqe

  /** Gated hc1: HARMONIC CENTRALITY of a seed set via ONE multi-source
    * BFS with a BITMASK frontier — per node, one long whose bit i says
    * "seed i has reached me"; each hop is one edge join + one `bit_or`
    * aggregation, so K seeds cost ONE BSP pass instead of K (the
    * classic multi-source trick: the OR of reachability masks is
    * exactly simultaneous BFS, because masks are monotone). Newly-set
    * bits at hop h are nodes at distance exactly h from that seed;
    * harmonic centrality C(s) = Σ_v 1/d(s,v) accumulates from the
    * per-hop per-seed counts with 12-dp-rounded 1/h weights (exact
    * decimals), driver-side over ≤ maxHops·K scalars.
    *
    * Scale: edges persisted hash-partitioned on the join key (bfs1's
    * discipline), mask frame is node-cardinality with ONE long of
    * state however many seeds ≤ 64; one action per hop.
    */
  def harmonicCentrality(spark: SparkSession, dir: String,
                         nSeeds: Int = 8, maxHops: Int = 4): DataFrame =
      withoutAqe(spark) {
    import spark.implicits._
    val (seedKeys, reached, harmonic) = Pins.scope { p =>
      val edges = p(looped(mirrored(tradePairs(spark, dir))))
      // 8 smallest customer nodes: a bounded, deterministic seed panel.
      val seedKeys = loopNodes(edges).filter(isCust(col("node")))
        .orderBy(col("node")).limit(nSeeds)
        .collect().map(_.getLong(0))
      val harmonic = Array.fill(seedKeys.length)(BigDecimal(0))
      val reached = Array.fill(seedKeys.length)(0L)
      val seedMasks = seedKeys.zipWithIndex
        .map { case (nd, i) => (nd, 1L << i) }.toSeq
        .toDF("node", "mask")
      // Round h's frame holds each node's mask after h hops and the
      // bits it gained at hop h; the loop stops once no bit moves. The
      // self-loop carries a node's own mask: OR-ed with its
      // neighbours' it is the new mask, alone it is the old one.
      p(Pins.rounds(seedMasks, maxHops, cutEvery = 0) { (merged, _) =>
        merged.hint("shuffle_hash")
          .join(edges, col("node") === col("src"))
          .groupBy(col("dst").as("node"))
          .agg(expr("bit_or(mask)").as("mask"),
            expr("bit_or(if(src = dst, mask, 0))").as("om"))
          .select(col("node"), col("mask"), expr("mask & ~om").as("newly"))
      } { (merged, h, _) =>
        val counts = merged.agg(
          seedKeys.indices.map(i =>
            sum(expr(s"(newly >> $i) & 1")).as(s"c$i")).head,
          seedKeys.indices.map(i =>
            sum(expr(s"(newly >> $i) & 1")).as(s"c$i")).tail: _*).head()
        val w = BigDecimal(1.0 / h).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        var live = false
        seedKeys.indices.foreach { i =>
          val c = if (counts.isNullAt(i)) 0L else counts.getLong(i)
          if (c > 0) live = true
          harmonic(i) += w * c
          reached(i) += c
        }
        live
      })
      (seedKeys, reached, harmonic)
    }
    seedKeys.indices.map { i =>
      (seedKeys(i), reached(i), harmonic(i).bigDecimal)
    }.toDF("seed_node", "n_reached", "h_exact")
      .select(nodeKey(col("seed_node")).as("seed_custkey"), col("n_reached"),
        round(col("h_exact").cast("decimal(28,12)").cast("double"), 6)
          .as("harmonic"))
      .orderBy(col("seed_custkey"))
  } // withoutAqe

  /** Gated mod1: NEWMAN MODULARITY of the nation partition on the
    * bipartite trade graph — the quality functional every community-
    * detection method (Louvain, Leiden, label propagation's stopping
    * check) optimizes, here evaluated for a GIVEN partition:
    * Q = Σ_c (e_c/m − (d_c/2m)²), e_c = edges inside community c,
    * d_c = degree mass of c, m = |edges|. Answers "do nations trade
    * within themselves more than a degree-preserving random rewiring
    * would predict" — per-nation contributions expose WHICH
    * communities carry the assortativity (lp1's labels can be scored
    * with the same readout).
    *
    * Scale shape: everything is counting on the edge list — one
    * distinct() over the order⋈lineitem pairs (the corpus-sized
    * work), two dimension joins for endpoint labels, then three
    * community-keyed aggregations (within-edges, cust-side degrees,
    * supp-side degrees) that AQE broadcasts. No iteration, no
    * adjacency arrays, no per-node state; the only driver transfer is
    * the edge-count scalar. Contributions are exact-integer ratios
    * evaluated in pinned double order, so the gate hashes.
    */
  def modularityGate(spark: SparkSession, dir: String): DataFrame =
      Pins.local(spark) { p =>
    val pairs = trades(spark, dir)
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    val e = p(pairs
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("c"), col("c_nationkey").as("cn")), "c")
      .join(Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("s"), col("s_nationkey").as("sn")), "s")
      .select(col("cn"), col("sn")))
    val m = e.count()
    val within = e.filter(col("cn") === col("sn"))
      .groupBy(col("cn").as("nation"))
      .agg(count(lit(1)).as("within"))
    val dC = e.groupBy(col("cn").as("nation")).agg(count(lit(1)).as("d1"))
    val dS = e.groupBy(col("sn").as("nation")).agg(count(lit(1)).as("d2"))
    val deg = dC.join(dS, Seq("nation"), "full_outer")
      .select(col("nation"),
        (coalesce(col("d1"), lit(0L)) + coalesce(col("d2"), lit(0L)))
          .as("degree_sum"))
    val ratio = col("degree_sum").cast("double") / (lit(2.0) * m)
    deg.join(within, Seq("nation"), "left")
      .select(col("nation").cast("bigint").as("nation"),
        col("degree_sum").cast("bigint").as("degree_sum"),
        coalesce(col("within"), lit(0L)).cast("bigint").as("within_edges"),
        round(coalesce(col("within"), lit(0L)).cast("double") / m
          - ratio * ratio, 12).as("contrib"))
      .orderBy(col("nation"))
  }
}
