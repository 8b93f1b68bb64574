package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Pins}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup collapses identical bodies to min doc_id") {
    val df = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "unique text here"), (7L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    df.createOrReplaceTempView("t")
    val out = df.select(sha2(col("text"), 256).as("text_sha"), col("doc_id"))
      .groupBy("text_sha")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 3L -> 1L))
  }

  test("shingleArray: short docs produce no shingles; shingles are distinct") {
    val rows = Seq((1L, "one two"), (2L, "a b c d"), (3L, "x y z x y z"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingleArray(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(rows(1L).isEmpty)
    assert(rows(2L) == Seq("a b c", "b c d"))
    assert(rows(3L).sorted == Seq("x y z", "y z x", "z x y").sorted,
      "duplicate shingle 'x y z' must appear once")
  }

  test("minhash LSH pairs equal exact jaccard pairs at the same threshold") {
    val lsh = Dedup.minhashLshPairs(spark, sf, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Dedup.jaccardPairs(spark, sf, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact, "LSH candidates + exact confirm must equal brute force")
    assert(exact.nonEmpty, "test corpus has planted near-duplicates")
  }

  test("simhash: identical docs collide at distance 0; planted dups are close") {
    // probeShards = 1: the FULL pair set (the gated form shards).
    val pairs = Dedup.simhashPairs(spark, sf, probeShards = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = Dedup.jaccardPairs(spark, sf, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty)
    val recall = planted.intersect(pairs).size.toDouble / planted.size
    assert(recall >= 0.9, s"simhash should find J>=0.9 dups, recall=$recall")
  }

  test("simhash probe shards partition the full pair set (r13 dd3 bound)") {
    val full = Dedup.simhashPairs(spark, sf, probeShards = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val shards = (0 until 2).map { s =>
      Dedup.simhashPairs(spark, sf, probeShards = 2, shard = s).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    assert(shards(0).intersect(shards(1)).isEmpty,
      "shards must be disjoint (keyed by the smaller doc_id)")
    assert(shards(0).union(shards(1)) == full,
      "the shard union must recover the full pair set")
    // Every gated-form pair has its smaller id in the gated residue
    // (the 1-in-8 narrowing is passed EXPLICITLY at the dd3
    // registration; the library default is the full pair set).
    Dedup.simhashPairs(spark, sf, probeShards = 8, shard = 0).collect()
      .foreach(r => assert(r.getLong(0) % 8 == 0))
    // Library default ≡ probeShards = 1 (full semantics).
    assert(Dedup.simhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == full)
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val pairs = Dedup.embeddingDupPairs(spark, sf, 0.4).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("blocked embedding near-dup equals the broadcast brute force, without a cross join") {
    val blocked = Dedup.embeddingDupPairs(spark, sf, 0.3)
    val brute = Dedup.embeddingDupPairsBrute(spark, sf, 0.3)
    val asSet = (rows: Array[org.apache.spark.sql.Row]) =>
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(asSet(blocked.collect()) == asSet(brute.collect()))
    assert(asSet(brute.collect()).nonEmpty, "threshold 0.3 must produce pairs")
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"blocked form must not plan a corpus-wide nested loop:\n$plan")
  }

  test("df cap bounds posting lists but keeps rare-shingle near-dups") {
    // 40 docs all sharing one hot 5-word prefix (every prefix shingle has
    // df=40); docs 0/1 additionally share a rare 12-word body (J high).
    val hot = "zz yy xx ww vv"
    val docs = (0 until 40).map { i =>
      val body = if (i <= 1) "p q r s t u v w x y z aa"
      else s"b$i c$i d$i e$i f$i g$i h$i i$i j$i k$i l$i m$i"
      (i.toLong, s"$hot $body")
    }.toDF("doc_id", "text")
      .select(col("doc_id"), graft.operators.TextAnalysis.words(col("text")).as("ws"))
    // Sanity: the hot shingles really exceed the cap.
    val maxDf = docs
      .select(explode(Dedup.shinglesFromWords(col("ws"))).as("s"))
      .groupBy("s").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxDf == 40)
    val cappedRows = Dedup.jaccardPairsFrom(docs, 0.5, dfCap = 10).collect()
    val capped = cappedRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // The planted pair survives: its rare body shingles (df=2) carry it.
    assert(capped == Set((0L, 1L)),
      s"planted rare-shingle pair must survive the cap, got $capped")
    // And the confirm is over the FULL sets: docs 0/1 are byte-identical,
    // so the emitted value must be the true J = 1.0 even though their hot
    // prefix shingles (df=40 > cap) were dropped from candidate generation.
    assert(cappedRows.head.getDouble(2) == 1.0,
      s"confirm must use full shingle sets, got J=${cappedRows.head.getDouble(2)}")
    // And the capped candidate set is ACTUALLY smaller: uncapped sees
    // every doc pair via the hot shingle (40*39/2), capped only df<=10.
    val uncapped = Dedup.jaccardPairsFrom(docs, 0.0, dfCap = Int.MaxValue).count()
    val cappedAll = Dedup.jaccardPairsFrom(docs, 0.0, dfCap = 10).count()
    assert(uncapped == 40L * 39 / 2 && cappedAll == 1L,
      s"cap must prune hot-shingle candidates ($uncapped -> $cappedAll)")
  }

  test("df is a combinable count, never a shingle-partitioned window (hot-shingle straggler guard)") {
    // The round-10 verdict's watch item: a count(*) OVER (PARTITION BY
    // shingle) buffers the hottest shingle's entire posting list in one
    // WindowExec task. Assert the df paths of dd4/dd13/dd11 plan NO
    // window partitioned by shingle — only per-doc windows (bounded by
    // document length) may remain. The planted corpus makes one shingle
    // appear in every doc, so a window here WOULD be the straggler.
    val hot = "zz yy xx ww vv"
    val docs = (0 until 40).map { i =>
      val body = if (i <= 1) "p q r s t u v w x y z aa"
      else s"b$i c$i d$i e$i f$i g$i h$i i$i j$i k$i l$i m$i"
      (i.toLong, s"$hot $body")
    }.toDF("doc_id", "text")
      .select(col("doc_id"), graft.operators.TextAnalysis.words(col("text")).as("ws"))
    for ((name, df) <- Seq(
        "jaccardPairsFrom" -> Dedup.jaccardPairsFrom(docs, 0.5, dfCap = 10),
        "ppjoinJaccardPairsFrom" -> Dedup.ppjoinJaccardPairsFrom(docs, 0.7))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("windowspecdefinition(shingle"),
        s"$name must not plan a shingle-partitioned window:\n$plan")
    }
    // And the combinable form agrees with brute force on the planted
    // corpus: ppjoin (no cap, prefix-filtered) must emit the identical
    // pair at the true J = 1.0.
    val pp = Dedup.ppjoinJaccardPairsFrom(docs, 0.7).collect()
    assert(pp.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == Set((0L, 1L, 1.0)), s"ppjoin on planted corpus: ${pp.mkString(",")}")
  }

  test("duplicate clusters: every pair edge lands in one component with the min-id rep") {
    val reps = Dedup.duplicateClusters(spark, sf, 0.7).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = Dedup.minhashLshPairs(spark, sf, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    edges.foreach { case (a, b) =>
      assert(reps(a) == reps(b), s"edge ($a,$b) must share a component")
    }
    // The rep is the component minimum: no member maps below its rep,
    // and each rep maps to itself.
    reps.foreach { case (id, rep) => assert(rep <= id && reps(rep) == rep) }
    // Docs with no edges are singleton components.
    val inEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
    reps.filter { case (id, _) => !inEdges.contains(id) }
      .foreach { case (id, rep) => assert(rep == id) }
  }

  test("PassJoin edit-distance blocking finds indel-shifted pairs (recall vs brute)") {
    val base = "the quick brown fox jumps over the lazy dog melon"
    val docs = Seq(
      0L -> base,
      1L -> base.replace("quick ", ""),           // 6-char deletion
      2L -> ("xy " + base),                       // 3-char insertion (shifts all)
      3L -> base.replace("brown", "green"),       // substitutions
      4L -> "a completely unrelated string with other words here")
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairsFrom(docs, maxDist = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // Brute-force truth over the padded prefixes.
    val p = docs.select(col("doc_id"),
      rpad(substring(col("text"), 1, 40), 40, " ").as("p")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- p.keys; b <- p.keys; if a < b
      d = lev(p(a), p(b)); if d <= 6
    } yield (a, b) -> d).toMap
    assert(want.nonEmpty && want.keySet.exists(_._2 == 2L),
      s"fixture must include a shifted (insertion) pair, got $want")
    assert(got == want, s"blocking must be recall-complete: got $got want $want")
  }

  test("high-diameter chain converges with bounded plan depth (lineage checkpointing)") {
    // 50 docs in one duplication chain 0-1-2-...-49: min-label
    // propagation needs ~49 BSP rounds, which without lineage
    // truncation would nest 49 joins into the final plan.
    // One more edge leads to a doc outside `nodes`: it labels nothing.
    val nodes = (0L until 50L).toDF("doc_id")
    val edges = ((0L until 49L).map(i => (i, i + 1)) :+ ((-1L, 7L)))
      .toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClustersFrom(nodes, edges, maxRounds = 60)
    val reps = out.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(reps.map(_._1).toSeq == (0L until 50L) && reps.forall(_._2 == 0L),
      s"whole chain must collapse to rep 0, got ${reps.filter(_._2 != 0L).take(5).toSeq}")
    // The returned plan must not carry one join per round: the last
    // cut (every 5th round) bounds it to < 5 joins.
    val joins = "(?i)join".r.findAllIn(out.queryExecution.optimizedPlan.toString).size
    assert(joins <= 5, s"lineage must be truncated, plan still has $joins joins")
  }

  test("capped jaccard equals uncapped on the test corpus (cap far above max df)") {
    val capped = Dedup.jaccardPairs(spark, sf, 0.5, dfCap = 1000).collect().toSeq
    val uncapped = Dedup.jaccardPairs(spark, sf, 0.5, dfCap = Int.MaxValue).collect().toSeq
    assert(capped == uncapped)
  }

  test("ppjoin equals uncapped exact jaccard and closes the df-cap blind spot") {
    import spark.implicits._
    // equivalence on the fixture corpus at the dd4 threshold
    val pp = Dedup.ppjoinJaccardPairs(spark, sf, threshold = 0.5).collect().map(_.toSeq)
    val exact = Dedup.jaccardPairs(spark, sf, 0.5, dfCap = Int.MaxValue).collect().map(_.toSeq)
    assert(pp.toSeq == exact.toSeq)
    // blind-spot corpus: docs 0 and 1 are identical boilerplate whose
    // every shingle has df = 60 (> any practical cap); a df-capped
    // candidate pass drops ALL their postings and never emits the pair
    val boiler = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val docs = ((0L to 1L).map(i => (i, boiler)) ++
      (2L until 60L).map(i => (i, s"$boiler tail$i extra$i"))).toDF("doc_id", "text")
    val words = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.words(col("text")).as("ws"))
    val capped = Dedup.jaccardPairsFrom(words, 0.9, dfCap = 50).collect()
    assert(!capped.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L),
      "df-capped candidates must miss the all-boilerplate pair (the documented blind spot)")
    val ppj = Dedup.ppjoinJaccardPairsFrom(words, 0.9).collect()
    val hit = ppj.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(hit.exists(_.getDouble(2) == 1.0),
      "prefix filtering must find the identical boilerplate pair with J = 1.0")
  }

  test("semdedup: kept set is a maximal smaller-id-free subset within each cluster") {
    val kept = Dedup.semDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val all = graft.Tables.embeddings(spark, sf).count()
    assert(kept.nonEmpty && kept.size <= all)
    // recompute within-cluster qualifying pairs locally from the exact
    // blocked pair list (threshold matches semDedup's default)
    val pairs = Dedup.embeddingDupPairs(spark, sf, threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      // if both sides landed in the same cluster, the larger id must be gone
      (kept.get(a), kept.get(b)) match {
        case (Some(ca), Some(cb)) =>
          assert(ca != cb,
            s"pair ($a,$b) at cos>=0.4 survived in the same cluster $ca")
        case _ => // at least one pruned — fine
      }
    }
    // determinism
    val again = Dedup.semDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kept == again)
  }

  test("dd15 canonical selection: one keeper per cluster, argmax quality") {
    val rows = Dedup.clusterCanonical(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_rep"))
    byCluster.foreach { case (rep, members) =>
      val keepers = members.filter(_.getAs[Boolean]("keep"))
      assert(keepers.length == 1, s"cluster $rep has ${keepers.length} keepers")
      val canon = keepers.head
      val maxQ = members.map(_.getAs[Double]("quality")).max
      assert(canon.getAs[Double]("quality") == maxQ,
        s"cluster $rep canonical is not max-quality")
      // tie-break: smallest doc_id among max-quality members
      val tied = members.filter(_.getAs[Double]("quality") == maxQ)
        .map(_.getAs[Long]("doc_id")).min
      assert(canon.getAs[Long]("doc_id") == tied)
      assert(members.forall(_.getAs[Long]("canonical_doc") ==
        canon.getAs[Long]("doc_id")))
    }
  }

  test("dd16 incremental near-dup: matches agree with the all-pairs LSH restricted to the split") {
    val rows = graft.operators.Dedup.incrementalNearDedup(spark, sf).collect()
    val nDelta = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0).count()
    assert(rows.length == nDelta, "one row per delta doc")
    rows.foreach { r =>
      if (r.getAs[Boolean]("novel")) {
        assert(r.isNullAt(r.fieldIndex("matched_doc")) && r.isNullAt(r.fieldIndex("jaccard")))
      } else {
        assert(r.getAs[Double]("jaccard") >= 0.7)
        assert(r.getAs[Long]("matched_doc") % 10 != 0, "match must come from the base side")
      }
    }
    // the flagged delta set == delta docs appearing in a cross-split
    // pair of the all-pairs operator at the same threshold
    val crossDeltas = graft.operators.Dedup.minhashLshPairs(spark, sf).collect()
      .flatMap { p =>
        val (a, b) = (p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"))
        if ((a % 10 == 0) != (b % 10 == 0)) Some(if (a % 10 == 0) a else b) else None
      }.toSet
    assert(rows.filterNot(_.getAs[Boolean]("novel")).map(_.getAs[Long]("doc_id")).toSet
      == crossDeltas)
  }

  test("dd14 coverage audit: one row per doc; containment participants covered") {
    val cov = Dedup.containmentCoverage(spark, sf).collect()
    assert(cov.length == Tables.documents(spark, sf).count())
    cov.foreach { r =>
      val sz = r.getAs[Long]("sz")
      val capped = r.getAs[Long]("capped_sz")
      val hot = r.getAs[Long]("hot_sz")
      assert(capped + hot <= sz, s"band counts exceed total: $r")
      assert(r.getAs[Boolean]("covered") == (capped > 0))
    }
    // every doc the capped path CAN pair must be flagged covered —
    // the audit's whole point is that covered=false docs are invisible
    val covered = cov.filter(_.getAs[Boolean]("covered"))
      .map(_.getAs[Long]("doc_id")).toSet
    Dedup.containmentPairs(spark, sf).collect().foreach { p =>
      assert(covered.contains(p.getAs[Long]("doc_a")), s"uncovered doc_a in $p")
      assert(covered.contains(p.getAs[Long]("doc_b")), s"uncovered doc_b in $p")
    }
  }

  test("dd13 containment with a hot side equals brute-force ordered containment") {
    // The sf0.001 5-gram df tops out at 4: dfCap = 2 makes every df-3/4
    // shingle hot, so a candidate's overlap needs the hot correction.
    val cap = 2
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), Dedup.shinglesFromWords(
        graft.operators.TextAnalysis.words(col("text")), 5).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val df = sets.values.toSeq.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(df.values.exists(_ > cap), "the hot side is empty")
    // Candidates: ordered pairs sharing a shingle of df in [2, cap].
    val cands = sets.toSeq.flatMap { case (d, sh) => sh.filter(df(_) <= cap).map(_ -> d) }
      .groupBy(_._1).values.flatMap { ps =>
        for ((_, a) <- ps; (_, b) <- ps if a != b) yield (a, b) }.toSet
    val brute = cands.map { case (a, b) =>
      val common = (sets(a) intersect sets(b)).size
      (a, b, BigDecimal(common.toDouble / sets(a).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(cands.exists { case (a, b) =>
        (sets(a) intersect sets(b)).exists(df(_) > cap) },
      "no candidate pair shares a hot shingle")
    val got = Dedup.containmentPairs(spark, sf, threshold = 0.0, dfCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute, s"${(got diff brute).take(5)} vs ${(brute diff got).take(5)}")
  }

  test("s3 leakage-safe split: clusters never straddle a split boundary") {
    val rows = Dedup.leakageSafeSplit(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count().toInt)
    // THE invariant the gate exists for: one split per cluster.
    rows.groupBy(_.getAs[Long]("cluster_rep")).foreach { case (rep, members) =>
      assert(members.map(_.getAs[String]("split")).toSet.size == 1,
        s"cluster $rep crosses splits")
    }
    // Singletons (their own rep) must match s1's md5 bucket map —
    // the split degrades to the plain hash split when dedup is a no-op.
    val singletons = rows.groupBy(_.getAs[Long]("cluster_rep"))
      .filter(_._2.length == 1).values.flatten
    singletons.foreach { r =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(r.getAs[Long]("cluster_rep").toString.getBytes("UTF-8"))
      val c = "%02x".format(h(0)).charAt(0)
      val want =
        if ("0123456789ab".contains(c)) "train"
        else if (c == 'c' || c == 'd') "val" else "test"
      assert(r.getAs[String]("split") == want, s"singleton bucket drifted: $r")
    }
    // Non-degenerate on the corpus: multi-member clusters exist AND
    // all three splits are populated.
    assert(rows.groupBy(_.getAs[Long]("cluster_rep")).exists(_._2.length > 1))
    assert(rows.map(_.getAs[String]("split")).toSet == Set("train", "val", "test"))
  }

  test("each dd6 round reads the previous round once, from the cache") {
    // 20 docs in one chain: no round before the 19th is the fixpoint,
    // so the seam returns round r itself when run for r rounds. Round
    // r's plan is the cached plan of its frame; a reference to round
    // r - 1 that missed the cache would replay that round's join there.
    val nodes = (0L until 20L).toDF("doc_id")
    val edges = (0L until 19L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // Rounds 6 and 12 read a cut (every 5th round); 2 and 7 a persist.
    for (r <- Seq(2, 6, 7, 12)) {
      val out = Dedup.duplicateClustersFrom(nodes, edges, maxRounds = r)
      val round = out.queryExecution.optimizedPlan.collectFirst {
        case m: InMemoryRelation => m.cachedPlan
      }.getOrElse(fail(s"round $r's frame is not cached"))
      val joins = round.collect { case j: BaseJoinExec => j }
      assert(joins.size == 1, s"round $r runs ${joins.size} joins:\n$round")
      val leaves = round.collectLeaves()
      assert(leaves.size == 2 && leaves.forall {
        case _: InMemoryTableScanExec | _: RDDScanExec => true
        case _ => false
      }, s"round $r must read the edges and round ${r - 1} from the cache:\n$round")
      assert(out.collect().map(_.getLong(1)).toSeq ==
        (0L until 20L).map(i => math.max(0L, i - r)))
      GraftSession.reset(spark)
    }
  }

  /** One min-label round over a mirrored (src, dst) edge frame with a
    * self-loop per node — the step [[Dedup.duplicateClustersFrom]]
    * runs, spelled out so the loop's own pins can be counted.
    */
  private def minLabelStep(edges: DataFrame)(labels: DataFrame, r: Int): DataFrame =
    edges.join(labels, col("src") === col("doc_id"))
      .groupBy(col("dst").as("doc_id")).agg(min(col("rep")).as("rep"))

  test("Pins.rounds on a chain: at most two rounds pinned after any act, cuts on exactly every cutEvery-th round") {
    val sc = spark.sparkContext
    // 20 docs in one chain: min-label needs 19 rounds, the 20th sees
    // the fixpoint.
    val edges = ((0L until 19L).flatMap(i => Seq((i, i + 1), (i + 1, i))) ++
      (0L until 20L).map(i => (i, i)))
      .toDF("src", "dst").cache()
    edges.count()
    val before = sc.getPersistentRDDs.keySet
    def live: Int = (sc.getPersistentRDDs.keySet -- before).size
    val init = (0L until 20L).toDF("doc_id").select(col("doc_id"), col("doc_id").as("rep"))
    val acted = collection.mutable.ArrayBuffer.empty[(Int, Boolean)]
    // pins held once the previous round's act and releases are done
    val held = collection.mutable.ArrayBuffer.empty[Int]
    var lastSum = Long.MinValue
    val out = Pins.rounds(init, maxRounds = 60, cutEvery = 3) { (labels, r) =>
      held += live
      minLabelStep(edges)(labels, r)
    } { (frame, r, _) =>
      val sum = frame.agg(org.apache.spark.sql.functions.sum(col("rep"))).head().getLong(0)
      val cut = frame.queryExecution.analyzed.isInstanceOf[LogicalRDD]
      assert(cut || frame.storageLevel.useMemory, s"round $r's frame is not pinned")
      acted += ((r, cut))
      val go = sum != lastSum
      lastSum = sum
      go
    }
    held += live
    assert(acted.map(_._1) == (1 to 20), "stops at the first false")
    acted.foreach { case (r, cut) => assert(cut == (r % 3 == 0), s"round $r: cut = $cut") }
    // Only the previous round is pinned when a round starts, and only
    // the returned last round after the loop.
    assert(held.forall(_ <= 1), s"pinned round frames after each release: $held")
    assert(held.last == 1)
    assert(out.collect().forall(_.getLong(1) == 0L))
    GraftSession.reset(spark)
  }

  test("Pins.rounds stops on the first false and runs at most maxRounds") {
    def run(maxRounds: Int)(go: Int => Boolean): Seq[Int] = {
      val seen = collection.mutable.ArrayBuffer.empty[Int]
      Pins.rounds(spark.range(0, 10).toDF("v"), maxRounds, cutEvery = 0) {
        (prev, _) => prev.select((col("v") + 1).as("v"))
      } { (frame, r, _) => frame.count(); seen += r; go(r) }
      seen.toSeq
    }
    assert(run(8)(_ < 3) == Seq(1, 2, 3))
    assert(run(5)(_ => true) == Seq(1, 2, 3, 4, 5))
    assert(run(0)(_ => true) == Seq())
    GraftSession.reset(spark)
  }
}
