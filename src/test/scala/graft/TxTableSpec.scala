package graft

import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** TxTable commit-log semantics: versioned reads, time travel,
  * snapshot isolation under concurrent append, and optimistic-
  * concurrency conflict resolution between racing writers.
  */
class TxTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): (String, TxTable) = {
    val dir = tmpDir("txtable_")
    (dir, new TxTable(s"$dir/t"))
  }

  test("append/overwrite produce consecutive versions; replay is correct") {
    val (dir, t) = freshTable()
    try {
      assert(t.latestVersion().isEmpty)
      assert(t.append(Seq(1, 2, 3).toDF("x")) == 1L)
      assert(t.append(Seq(4, 5).toDF("x")) == 2L)
      assert(t.overwrite(Seq(9).toDF("x")) == 3L)
      assert(t.append(Seq(10).toDF("x")) == 4L)
      def xs(v: Long) = t.snapshot(spark, Some(v))
        .select(col("x")).as[Int].collect().sorted.toSeq
      assert(xs(1) == Seq(1, 2, 3))
      assert(xs(2) == Seq(1, 2, 3, 4, 5))
      assert(xs(3) == Seq(9))            // overwrite resets the visible set
      assert(xs(4) == Seq(9, 10))        // append after overwrite extends it
      // head read = latest version
      assert(t.snapshot(spark).select(col("x")).as[Int].collect().sorted.toSeq
        == Seq(9, 10))
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("snapshot isolation: a resolved reader is pinned across commits") {
    val (dir, t) = freshTable()
    try {
      t.append(Seq(1, 2, 3).toDF("x"))
      val pinned = t.snapshot(spark) // resolves the v1 file set eagerly
      t.append(Seq(100).toDF("x"))   // concurrent ingest lands v2
      t.overwrite(Seq(-1).toDF("x")) // and v3 rewrites the table
      // The pinned reader still sees exactly v1 — no phantom rows, no
      // torn reads — while a fresh reader sees the new head.
      assert(pinned.select(col("x")).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
      assert(t.snapshot(spark).select(col("x")).as[Int].collect().toSeq == Seq(-1))
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("optimistic concurrency: exactly one of two racing publishes wins") {
    val (dir, t) = freshTable()
    try {
      t.append(Seq(1).toDF("x"))
      // Two writers staged data and both try to publish version 2.
      val da = s"$dir/t/data/race-a"; val db = s"$dir/t/data/race-b"
      Seq(7).toDF("x").write.parquet(da)
      Seq(8).toDF("x").write.parquet(db)
      val winA = t.tryPublish(2L, TxTable.Manifest("append", Seq(da)))
      val winB = t.tryPublish(2L, TxTable.Manifest("append", Seq(db)))
      assert(winA && !winB) // create-exclusive: second EEXISTs
      // The loser retries against the new head, as commit() does.
      assert(t.tryPublish(3L, TxTable.Manifest("append", Seq(db))))
      assert(t.snapshot(spark).select(col("x")).as[Int].collect().sorted.toSeq
        == Seq(1, 7, 8))
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("concurrent committers via the retry loop never lose a batch") {
    val (dir, t) = freshTable()
    try {
      import scala.concurrent._
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val futures = (1 to 4).map { i =>
        Future(t.append(Seq(i * 10, i * 10 + 1).toDF("x")))
      }
      val versions = Await.result(Future.sequence(futures), 120.seconds)
      assert(versions.sorted == Seq(1L, 2L, 3L, 4L)) // no gaps, no dupes
      assert(t.snapshot(spark).count() == 8L)        // every batch visible
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("commitIfAbsent: a replayed batch is a no-op, not a duplicate") {
    val (dir, t) = freshTable()
    try {
      assert(t.commitIfAbsent(Seq(1, 2).toDF("x"), 1L))
      assert(t.commitIfAbsent(Seq(3).toDF("x"), 2L))
      // Re-delivery of batch 1 (same pinned version): dropped.
      assert(!t.commitIfAbsent(Seq(1, 2).toDF("x"), 1L))
      assert(t.snapshot(spark).count() == 3L)
      assert(t.latestVersion().contains(2L))
      // The replay's staged dir was cleaned up (no orphans left —
      // zero retention so a leak could not hide behind the window).
      assert(t.vacuum(retentionMillis = 0L).isEmpty)
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("checkpoint preserves every snapshot; vacuum only eats orphans") {
    val (dir, t) = freshTable()
    try {
      t.append(Seq(1).toDF("x"))
      t.append(Seq(2).toDF("x"))
      t.overwrite(Seq(9).toDF("x"))
      t.append(Seq(10).toDF("x"))
      val cp = t.checkpoint() // v5 = checkpoint([v3dir, v4dir])
      assert(cp == 5L)
      t.append(Seq(11).toDF("x"))
      def xs(asOf: Option[Long]) = t.snapshot(spark, asOf)
        .select(col("x")).as[Int].collect().sorted.toSeq
      assert(xs(Some(cp)) == Seq(9, 10))     // checkpoint = same snapshot
      assert(xs(None) == Seq(9, 10, 11))     // appends continue past it
      assert(xs(Some(2L)) == Seq(1, 2))      // pre-checkpoint history intact
      // An orphan dir (crashed commit: staged, never published).
      Seq(99).toDF("x").write.parquet(s"$dir/t/data/orphan-crash")
      // Inside the retention window the orphan is indistinguishable
      // from an in-flight writer's staged dir: default vacuum keeps it.
      assert(t.vacuum().isEmpty)
      val removed = t.vacuum(retentionMillis = 0L)
      assert(removed == Seq("orphan-crash")) // referenced dirs untouched
      assert(xs(None) == Seq(9, 10, 11))
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("footer-derived zones: exact min/max boundaries, null/empty edges, bloom bit parity") {
    val (dir, t) = freshTable()
    try {
      // Mixed batch with negatives and nulls: the zone must be the
      // exact non-null (min, max) = (-3, 42) — pinned at BOTH
      // boundaries via range pruning (round 15: zones now come from
      // the staged parquet footers, not a pre-write aggregate job).
      t.appendWithStats(
        Seq(Some(5L), Some(-3L), Some(42L), None).toDF("k"), "k")
      assert(t.resolveDirsRange("k", 42L, 100L).size == 1)  // max inclusive
      assert(t.resolveDirsRange("k", 43L, 100L).isEmpty)    // just past max
      assert(t.resolveDirsRange("k", -10L, -3L).size == 1)  // min inclusive
      assert(t.resolveDirsRange("k", -10L, -4L).isEmpty)    // just below min
      // All-null batch: no zone — every range must keep the dir.
      t.appendWithStats(Seq(Option.empty[Long]).toDF("k"), "k")
      assert(t.resolveDirsRange("k", 1000L, 2000L).size == 1)
      // Multi-column: per-column exact zones from one staged dir.
      val (_, t2) = (dir, new TxTable(s"$dir/t2"))
      t2.appendWithStatsMulti(
        Seq((1L, 100L), (9L, 7L)).toDF("a", "b"), Seq("a", "b"))
      assert(t2.resolveDirsRange("a", 9L, 9L).size == 1)
      assert(t2.resolveDirsRange("a", 10L, 99L).isEmpty)
      assert(t2.resolveDirsRange("b", 100L, 100L).size == 1)
      assert(t2.resolveDirsRange("b", 101L, 999L).isEmpty)
      // Bloom sidecar bits are unchanged by the stage-first shape:
      // same values, same exact count, same fpp ⇒ byte-identical
      // filter vs building it straight off the input frame.
      val (_, t3) = (dir, new TxTable(s"$dir/t3"))
      val df = (0L until 500L).toDF("k")
      t3.appendWithBloom(df, "k")
      val sidecars = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$dir/t3/_txlog")).iterator()
      val sidecar = {
        import scala.jdk.CollectionConverters._
        sidecars.asScala.filter(_.toString.endsWith(".bloom")).toSeq.head
      }
      val got = java.nio.file.Files.readAllBytes(sidecar)
      val want = {
        val bos = new java.io.ByteArrayOutputStream()
        df.stat.bloomFilter("k", 500L, 0.03).writeTo(bos)
        bos.toByteArray
      }
      assert(java.util.Arrays.equals(got, want),
        "footer-count/staged-read bloom bits differ from direct build")
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("zone maps: range reads open only overlapping dirs; answers stay exact") {
    val (dir, t) = freshTable()
    try {
      // Four range-clustered commits: [0,99], [100,199], [200,299], [300,399].
      (0 until 4).foreach { i =>
        t.appendWithStats(
          (i * 100 until i * 100 + 100).toDF("k").select(col("k").cast("long").as("k")),
          "k")
      }
      // A dir with NO zone (plain append): must always be read.
      t.append(Seq(1000L).toDF("k"))
      val all = t.resolveDirs()
      assert(all.size == 5)
      // [150, 250] overlaps bands 2 and 3 only — plus the zoneless dir.
      val pruned = t.resolveDirsRange("k", 150L, 250L)
      assert(pruned.size == 3, s"expected 3 dirs, got ${pruned.size}")
      assert(t.snapshotRange(spark, "k", 150L, 250L).count() == 101L)
      // Unknown stats column: nothing is skippable.
      assert(t.resolveDirsRange("other", 150L, 250L).size == 5)
      // Zones survive a log checkpoint (dirs are immutable).
      t.checkpoint()
      assert(t.resolveDirsRange("k", 150L, 250L).size == 3)
      // Fully-missing range: zero zone dirs, zoneless dir still read.
      assert(t.resolveDirsRange("k", 5000L, 6000L).size == 1)
      assert(t.snapshotRange(spark, "k", 5000L, 6000L).count() == 0L)
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("bloom sidecars: point lookups open only maybe-dirs; evolution merges schemas") {
    val (dir, t) = freshTable()
    try {
      // Four disjoint key sets, each with a Bloom sidecar.
      (0 until 4).foreach { i =>
        t.appendWithBloom(
          (i * 1000 until i * 1000 + 50).toDF("k")
            .select(col("k").cast("long").as("k")), "k")
      }
      assert(t.resolveDirs().size == 4)
      // Key 2007 lives in dir 2 — the other three filters prove absence
      // (disjoint ranges; fpp 3% could theoretically add a dir, so
      // assert <= 2 and that the right answer comes back).
      val opened = t.resolveDirsEquals("k", 2007L)
      assert(opened.nonEmpty && opened.size <= 2,
        s"expected ~1 dir, got ${opened.size}")
      assert(t.snapshotEquals(spark, "k", 2007L).count() == 1L)
      // Absent key: usually zero dirs opened; never a wrong answer.
      assert(t.snapshotEquals(spark, "k", 999999L).count() == 0L)
      // A dir without a filter is always read.
      t.append(Seq(7L).toDF("k"))
      assert(t.resolveDirsEquals("k", 999999L).size >= 1)
      // Schema evolution: a later commit adds a column; merged read
      // nulls it for older rows.
      t.append(Seq((8L, "x")).toDF("k", "tag"))
      val ev = t.snapshotEvolved(spark)
      assert(ev.columns.sorted.toSeq == Seq("k", "tag"))
      assert(ev.filter(col("tag").isNull).count() == 201L) // all pre-evolution rows
      assert(ev.filter(col("tag") === "x").count() == 1L)
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("changes feed: exactly the appended rows per version; overwrite breaks it") {
    val (dir, t) = freshTable()
    try {
      t.append(Seq(1, 2).toDF("x"))
      t.append(Seq(3).toDF("x"))
      t.append(Seq(4, 5).toDF("x"))
      val ch = t.readChanges(spark, afterVersion = 1)
        .select(col("_commit_version").as[Long], col("x").as[Int]).collect()
      assert(ch.sorted.toSeq == Seq((2L, 3), (3L, 4), (3L, 5)))
      // Incremental-consumer identity: v1 snapshot + changes = head.
      val incremental = t.snapshot(spark, Some(1)).select("x")
        .unionByName(t.readChanges(spark, 1).select("x"))
        .as[Int].collect().sorted.toSeq
      assert(incremental ==
        t.snapshot(spark).select("x").as[Int].collect().sorted.toSeq)
      // A history rewrite cannot be expressed as row appends.
      t.overwrite(Seq(9).toDF("x"))
      intercept[IllegalStateException](t.readChanges(spark, 1).collect())
      // ...but changes AFTER the rewrite flow again.
      t.append(Seq(10).toDF("x"))
      assert(t.readChanges(spark, afterVersion = 4)
        .select("x").as[Int].collect().toSeq == Seq(10))
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("optimizeCompact collapses dirs losslessly and preserves history") {
    val (dir, t) = freshTable()
    try {
      (1 to 5).foreach(i => t.append(Seq(i).toDF("x")))
      assert(t.resolveDirs().size == 5)
      val v = t.optimizeCompact(spark)
      assert(v == 6L)
      assert(t.resolveDirs().size == 1) // one rewritten dir at head
      assert(t.snapshot(spark).select(col("x")).as[Int].collect().sorted.toSeq
        == (1 to 5))
      // History intact: pre-optimize versions resolve to original dirs.
      assert(t.snapshot(spark, Some(3L)).count() == 3L)
      assert(t.vacuum(retentionMillis = 0L).isEmpty) // originals still manifest-referenced
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("tt1 gate matches the per-version filter semantics") {
    val df = graft.operators.Ingest.timeTravelGate(spark, sf)
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val all = Tables.orders(spark, sf)
    val nAll = all.count()
    val nEven = all.filter(col("o_orderkey") % 2 === 0).count()
    val nCent = all.filter(col("o_orderkey") % 100 === 0).count()
    assert(rows(0).getLong(1) == nEven)
    assert(rows(1).getLong(1) == nAll)
    assert(rows(2).getLong(1) == nCent)
  }

  test("changes feed spans additive schema evolution with nulls (round-8)") {
    val (dir, t) = freshTable()
    try {
      t.append(Seq(1, 2).toDF("x"))
      t.append(Seq((3, "en"), (4, "de")).toDF("x", "lang")) // additive commit
      val ch = t.readChanges(spark, afterVersion = 0)
        .select(col("_commit_version").as[Long], col("x").as[Int],
          col("lang").as[Option[String]]).collect().sortBy(r => (r._1, r._2))
      assert(ch.toSeq == Seq((1L, 1, None), (1L, 2, None),
        (2L, 3, Some("en")), (2L, 4, Some("de"))))
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("manifests survive a hostile table root (quote, comma, bracket)") {
    val dir = tmpDir("txtable_esc_")
    // A root that breaks naive JSON interpolation AND comma-split parsing.
    val hostile = s"""$dir/we\"ird,ta]ble"""
    val t = new TxTable(hostile)
    try {
      t.append(Seq(1, 2).toDF("x"))
      t.append(Seq(3).toDF("x"))
      assert(t.snapshot(spark).select(col("x")).as[Int].collect().sorted.toSeq
        == Seq(1, 2, 3))
      assert(t.resolveDirs().forall(_.contains("we\"ird,ta]ble")))
      // A log checkpoint re-writes the dir list through the same escaping.
      t.checkpoint()
      assert(t.snapshot(spark).count() == 3L)
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("vacuum reclaims orphan bloom sidecars but never referenced ones") {
    val (dir, t) = freshTable()
    try {
      t.appendWithBloom(Seq(1L, 2L).toDF("k"), "k")
      // Crash window replica: a sidecar written, manifest never published.
      val orphan = java.nio.file.Paths.get(s"$dir/t/_txlog/b0000000099.bloom")
      java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
      assert(t.vacuum().isEmpty) // inside retention: kept
      val removed = t.vacuum(retentionMillis = 0L)
      assert(removed == Seq("b0000000099.bloom"))
      // The referenced sidecar still serves point lookups.
      assert(t.snapshotEquals(spark, "k", 1L).count() == 1L)
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("32 concurrent committers (append/merge-shape/compact) never livelock") {
    val (dir, t) = freshTable()
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      // 32 writers x mixed actions at the driver's parallelism: 24 pure
      // appends, 4 idempotent pinned commits racing each other in pairs
      // on the same version, 4 log compactions. Optimistic retry must
      // let every append land exactly once, exactly one of each pinned
      // pair win, and compactions interleave without clobbering.
      // Pinned exactly-once commits own their table (the TxSink
      // contract: the sink is the only writer, version = f(batch id))
      // — mixed into the same thread pool so they contend for CPU and
      // filesystem with the appends/compacts, just not for versions.
      val t2 = new TxTable(s"$dir/t2")
      val appends = (1 to 24).map { i =>
        scala.concurrent.Future(t.append(Seq(i).toDF("x")))
      }
      val pinBase = 1L
      val pinned = (0 until 4).map { i =>
        scala.concurrent.Future(
          t2.commitIfAbsent(Seq(1000 + i / 2).toDF("x"), pinBase + i / 2))
      }
      val compacts = (1 to 4).map { _ =>
        scala.concurrent.Future(t.checkpoint())
      }
      import scala.concurrent.duration._
      val appendVs = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(appends), 300.seconds)
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(compacts), 300.seconds)
      val pinWins = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(pinned), 300.seconds)
      pool.shutdown()
      // Exactly one winner per pinned pair (the loser saw EEXIST).
      assert(pinWins.count(identity) == 2,
        s"pinned pairs must each elect one winner, got $pinWins")
      // Every append claimed a unique consecutive version through the
      // retry loop: 24 appends + 4 compacts = a gap-free 1..28 chain.
      assert(appendVs.distinct.length == 24)
      assert(t.versions() == (1L to 28L))
      val xs = t.snapshot(spark).select(col("x")).as[Int].collect().sorted.toSeq
      assert(xs == (1 to 24),
        "every append lands exactly once through the retry loop")
      // Exactly-once table: one row per pinned pair, nothing else.
      assert(t2.snapshot(spark).select(col("x")).as[Int].collect().sorted.toSeq
        == Seq(1000, 1001))
      // No stale staged dirs escaped cleanup paths except losers'
      // vacuum-able orphans; reclaim must leave both tables intact.
      t.vacuum(retentionMillis = 0L)
      t2.vacuum(retentionMillis = 0L)
      assert(t.snapshot(spark).count() == 24L)
      assert(t2.snapshot(spark).count() == 2L)
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("deletion vectors: merge-on-read, stacking, time travel, OPTIMIZE") {
    val (dir, t) = freshTable()
    try {
      t.append((1 to 10).toDF("x"))
      t.append((11 to 20).toDF("x"))
      val dirsBefore = t.resolveDirs()
      val vDel = t.deleteWhere(spark, col("x") % 2 === 0)
      // Merge-on-read: NO data dir changed, one DV dir appeared.
      assert(t.resolveDirs() == dirsBefore)
      assert(t.resolveDvDirs().size == 1)
      def xs(asOf: Option[Long]) = t.snapshot(spark, asOf)
        .select(col("x")).as[Int].collect().sorted.toSeq
      assert(xs(None) == (1 to 19 by 2))
      // Time travel BEFORE the delete still sees every row.
      assert(xs(Some(vDel - 1)) == (1 to 20))
      // Stacked delete: tombstones accumulate, reads stay exact;
      // the second DV must not re-tombstone already-deleted rows.
      t.deleteWhere(spark, col("x") > 15)
      assert(xs(None) == Seq(1, 3, 5, 7, 9, 11, 13, 15))
      assert(t.resolveDvDirs().size == 2)
      val dv2 = spark.read.parquet(t.resolveDvDirs().last)
      assert(dv2.count() == 2L, "only 17 and 19 are newly deleted")
      // Range/point reads apply DVs too.
      assert(t.snapshotRange(spark, "x", 1L, 6L).select(col("x"))
        .as[Int].collect().sorted.toSeq == Seq(1, 3, 5))
      // OPTIMIZE materializes: DV set clears, data unchanged, and the
      // pre-optimize MoR state stays time-travelable.
      val vOpt = t.optimizeCompact(spark, 1)
      assert(t.resolveDvDirs().isEmpty)
      assert(t.resolveDirs().size == 1)
      assert(xs(None) == Seq(1, 3, 5, 7, 9, 11, 13, 15))
      assert(xs(Some(vOpt - 1)) == Seq(1, 3, 5, 7, 9, 11, 13, 15))
      assert(xs(Some(vDel - 1)) == (1 to 20))
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("deletion vectors: restore, clone, checkpoint, vacuum, changes feed") {
    val (dir, t) = freshTable()
    try {
      t.append((1 to 8).toDF("x")) // v1
      val vDel = t.deleteWhere(spark, col("x") <= 3) // v2
      def xs(tt: TxTable, asOf: Option[Long] = None) = tt.snapshot(spark, asOf)
        .select(col("x")).as[Int].collect().sorted.toSeq
      // A checkpoint carries the active DV set (no data rewrite).
      val vCk = t.checkpoint() // v3
      assert(xs(t) == (4 to 8))
      assert(t.resolveDvDirs(Some(vCk)).size == 1)
      // RESTORE to a post-delete version must keep rows deleted;
      // restore to the pre-delete version resurrects them.
      t.restore(vDel) // v4
      assert(xs(t) == (4 to 8))
      t.restore(vDel - 1) // v5
      assert(xs(t) == (1 to 8))
      // Clone at the MoR version sees the DV-applied state.
      val c = t.shallowCloneTo(s"$dir/clone", asOf = Some(vDel))
      assert(xs(c) == (4 to 8))
      // Vacuum must never reclaim a manifest-referenced DV dir.
      val dvDir = t.resolveDvDirs(Some(vDel)).head
      t.vacuum(retentionMillis = 0L)
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dvDir)))
      assert(xs(t, Some(vDel)) == (4 to 8))
      // The changes feed refuses to span a delete manifest.
      intercept[IllegalStateException] {
        t.readChanges(spark, afterVersion = 0L, untilVersion = Some(vDel)).count()
      }
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("deletion vectors under concurrency: appends/deletes/optimize converge") {
    val (dir, t) = freshTable()
    try {
      t.append(Seq(0).toDF("x")) // seed: deleters always have a table
      val pool = java.util.concurrent.Executors.newFixedThreadPool(14)
      // 8 disjoint-range appenders, 4 MoR deleters, 2 compactors racing
      // through the same create-exclusive retry loop. Interleaving
      // invariants under test: a deleter losing its head race to an
      // OPTIMIZE must recompute (its tombstones point into retired
      // files); an OPTIMIZE losing to a delete must rebuild from the
      // DV-applied head (or it would resurrect deleted rows).
      val tasks: Seq[java.util.concurrent.Callable[Unit]] =
        (1 to 8).map { i =>
          new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              t.append(((i * 100) until (i * 100 + 10)).toDF("x")); ()
            }
          }
        } ++
          (1 to 4).map { _ =>
            new java.util.concurrent.Callable[Unit] {
              def call(): Unit = { t.deleteWhere(spark, col("x") % 10 === 3); () }
            }
          } ++
          (1 to 2).map { _ =>
            new java.util.concurrent.Callable[Unit] {
              def call(): Unit = { t.optimizeCompact(spark, 2); () }
            }
          }
      import scala.jdk.CollectionConverters._
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get()) // surface failures
      pool.shutdown()
      // Quiesce with one final delete: racing deletes may each have
      // missed appends that landed after them, so only the final state
      // is deterministic.
      t.deleteWhere(spark, col("x") % 10 === 3)
      val expect = (Seq(0) ++ (1 to 8).flatMap(i => (i * 100) until (i * 100 + 10)))
        .filter(_ % 10 != 3).sorted
      assert(t.snapshot(spark).select(col("x")).as[Int].collect().sorted.toSeq
        == expect, "no lost append, no resurrected delete, no duplicate")
      // Gap-free version chain; every version still snapshot-readable.
      val vs = t.versions()
      assert(vs == (1L to vs.max))
      vs.foreach(v => t.snapshot(spark, Some(v)).count())
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("merge-on-read update: atomic tombstone+replace in one manifest") {
    val (dir, t) = freshTable()
    try {
      t.append((1 to 10).map(i => (i, i * 100)).toDF("k", "v")) // v1
      val vUpd = t.updateWhere(spark, col("k") % 2 === 0,
        Map("v" -> (col("v") + lit(1)))) // v2: one manifest
      // Replace, not duplicate: same cardinality, updated values only.
      val got = t.snapshot(spark).select(col("k"), col("v")).as[(Int, Int)]
        .collect().sortBy(_._1).toSeq
      assert(got == (1 to 10).map(i => (i, if (i % 2 == 0) i * 100 + 1 else i * 100)))
      // One new data dir (replacements) + one DV dir, atomically at vUpd.
      assert(t.resolveDirs().size == 2 && t.resolveDvDirs().size == 1)
      assert(t.versions() == Seq(1L, 2L), "exactly one manifest for the update")
      // Pre-update time travel sees the originals.
      assert(t.snapshot(spark, Some(vUpd - 1)).select(col("v")).as[Int]
        .collect().sorted.toSeq == (1 to 10).map(_ * 100))
      // Stacked semantics: an update of already-updated rows composes.
      t.updateWhere(spark, col("k") === 2, Map("v" -> lit(0)))
      assert(t.snapshot(spark).filter(col("k") === 2).select(col("v"))
        .as[Int].head() == 0)
      assert(t.snapshot(spark).count() == 10L)
      // The changes feed refuses to span an update manifest (its
      // removal half cannot be expressed as appends).
      intercept[IllegalStateException] {
        t.readChanges(spark, afterVersion = 0L).count()
      }
      // OPTIMIZE materializes updates exactly like deletes.
      t.optimizeCompact(spark, 1)
      assert(t.resolveDvDirs().isEmpty)
      assert(t.snapshot(spark).filter(col("k") === 2).select(col("v"))
        .as[Int].head() == 0)
      assert(t.snapshot(spark).count() == 10L)
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("conflict detection: interleaved delete/overwrite/append fail a reader") {
    import graft.sources.ConcurrentWriteException
    val (dir, t) = freshTable()
    try {
      t.append((1 to 20).map(i => (i, i * 10)).toDF("k", "v")) // v1
      // (a) full-table reader vs interleaved DELETE → conflict.
      val tx1 = t.transaction()
      val doubled = tx1.snapshot(spark)
        .select(col("k"), (col("v") * 2).as("v"))
      t.deleteWhere(spark, col("k") % 5 === 0) // v2 lands mid-transaction
      intercept[ConcurrentWriteException] { tx1.commit(doubled, "overwrite") }
      // The refused commit left no version and no visible change...
      assert(t.latestVersion().contains(2L))
      assert(t.snapshot(spark).count() == 16L)
      // ...and no orphan survives vacuum (staged data was cleaned).
      assert(t.vacuum(retentionMillis = 0L).isEmpty)
      // (b) reader vs interleaved OVERWRITE → conflict.
      val tx2 = t.transaction()
      val d2 = tx2.snapshot(spark).select(col("k"), (col("v") + 1).as("v"))
      t.overwrite((1 to 3).map(i => (i, i)).toDF("k", "v")) // v3
      intercept[ConcurrentWriteException] { tx2.commit(d2, "overwrite") }
      // (c) full-table reader vs interleaved APPEND → conflict (the
      // reader's derived overwrite would silently drop the new rows).
      val tx3 = t.transaction()
      val d3 = tx3.snapshot(spark).select(col("k"), (col("v") + 1).as("v"))
      t.append(Seq((99, 99)).toDF("k", "v")) // v4
      intercept[ConcurrentWriteException] { tx3.commit(d3, "overwrite") }
      // (d) BLIND append transaction: same interleavings, no conflict —
      // it read nothing, so nothing could have been invalidated.
      val tx4 = t.transaction()
      t.deleteWhere(spark, col("k") === 1) // v5
      t.append(Seq((100, 100)).toDF("k", "v")) // v6
      val v = tx4.commit(Seq((101, 101)).toDF("k", "v"), "append")
      assert(v == 7L)
      assert(t.snapshot(spark).filter(col("k") === 101).count() == 1L)
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("conflict detection: zone-disjoint append passes a range reader") {
    import graft.sources.ConcurrentWriteException
    val (dir, t) = freshTable()
    try {
      t.appendWithStats((1L to 100L).map(i => (i, i * 10)).toDF("k", "v"), "k")
      // Range reader over k ∈ [1, 100].
      val tx = t.transaction()
      val derived = tx.snapshotRange(spark, "k", 1L, 100L)
        .agg(sum(col("v")).as("tv")).select(col("tv").cast("long").as("tv"))
      // Interleaved append PROVABLY outside the read range: no conflict.
      t.appendWithStats((200L to 300L).map(i => (i, i)).toDF("k", "v"), "k")
      assert(tx.commit(derived, "append") == 3L)
      // Same shape but OVERLAPPING zone: conflict.
      val tx2 = t.transaction()
      val derived2 = tx2.snapshotRange(spark, "k", 1L, 100L)
        .agg(sum(col("v")).as("tv")).select(col("tv").cast("long").as("tv"))
      t.appendWithStats(Seq((50L, 1L)).toDF("k", "v"), "k")
      intercept[ConcurrentWriteException] { tx2.commit(derived2, "append") }
      // An append with NO zone for the read column cannot be proven
      // disjoint → conservative conflict.
      val tx3 = t.transaction()
      val derived3 = tx3.snapshotRange(spark, "k", 1L, 100L)
        .agg(count(lit(1)).as("n"))
      t.append(Seq((400L, 1L)).toDF("k", "v"))
      intercept[ConcurrentWriteException] { tx3.commit(derived3, "append") }
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("mergeSerializable re-runs on conflict and lands the serial outcome") {
    val (dir, t) = freshTable()
    try {
      t.append((1 to 10).map(i => (i, i * 100)).toDF("k", "v")) // v1
      // Injected contention: the FIRST compute call triggers a
      // concurrent delete before the merge commits, so attempt 1 must
      // conflict and the retry must see the post-delete snapshot.
      var calls = 0
      val vFinal = t.mergeSerializable(spark) { base =>
        calls += 1
        if (calls == 1) t.deleteWhere(spark, col("k") % 2 === 0)
        base.select(col("k"), (col("v") + 1).as("v"))
      }
      assert(calls == 2, "exactly one conflict retry")
      val got = t.snapshot(spark, Some(vFinal)).select(col("k"), col("v"))
        .as[(Int, Int)].collect().sortBy(_._1).toSeq
      // Serial order delete-then-merge: odds only, each bumped once.
      assert(got == (1 to 10).filter(_ % 2 == 1).map(i => (i, i * 100 + 1)))
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("updateWhere keeps evolved columns (mergeSchema on the matched read)") {
    val (dir, t) = freshTable()
    try {
      t.append((1 to 5).map(i => (i, i * 10)).toDF("k", "v"))      // v1: (k,v)
      t.append(Seq((6, 60, "x"), (7, 70, "y")).toDF("k", "v", "tag")) // v2: +tag
      t.updateWhere(spark, col("k") === 7, Map("v" -> lit(0)))
      val evolved = t.snapshotEvolved(spark)
      // The updated row keeps its evolved column; pre-evolution rows
      // stay null there.
      assert(evolved.filter(col("k") === 7).select(col("v"), col("tag"))
        .as[(Int, String)].head() == ((0, "y")))
      assert(evolved.filter(col("k") === 1).select(col("tag")).head().isNullAt(0))
      assert(evolved.count() == 7L)
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("multi-column zones: append + clustered rewrite prune on any column") {
    val (dir, t) = freshTable()
    try {
      // Two correlated BIGINT columns: k in bands, w = k * 1000.
      (0 until 4).foreach { b =>
        val rows = ((b * 100L + 1) to (b * 100L + 100)).map(i => (i, i * 1000))
        t.appendWithStatsMulti(rows.toDF("k", "w"), Seq("k", "w"))
      }
      // Pruning works on BOTH columns from the same commits.
      assert(t.resolveDirsRange("k", 1L, 50L).size == 1)
      assert(t.resolveDirsRange("w", 301000L, 350000L).size == 1)
      assert(t.resolveDirsRange("w", 1L, 999L).isEmpty)
      // Answers stay exact through the pruned read.
      assert(t.snapshotRange(spark, "w", 101000L, 105000L).count() == 5L)
      // Clustered rewrite carries zones for BOTH columns per bucket:
      // a range read on the NON-cluster column w still prunes.
      t.optimizeClusteredMulti(spark, col("k"), Seq("k", "w"), nBuckets = 4)
      val opened = t.resolveDirsRange("w", 1000L, 50000L)
      assert(opened.size == 1, s"expected 1 bucket dir, got ${opened.size}")
      assert(t.snapshotRange(spark, "w", 1000L, 50000L).count() == 50L)
      // Clone carries multi-column zones over.
      val dst = t.shallowCloneTo(s"$dir/clone")
      assert(dst.resolveDirsRange("w", 1000L, 50000L).size == 1)
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("pruned reads and compaction are evolution-safe (union schema)") {
    val (dir, t) = freshTable()
    try {
      t.appendWithStats((1L to 50L).map(i => (i, i * 10)).toDF("k", "v"), "k")
      // Evolved commit: schema (tv) only — no k, no v. Before the
      // mergeSchema fix, range/eq reads inferred the schema from an
      // ARBITRARY file, so this table flakily threw UNRESOLVED_COLUMN
      // on `k` depending on file listing order.
      t.append(Seq(Tuple1(9999L)).toDF("tv"))
      val r = t.snapshotRange(spark, "k", 1L, 50L)
      assert(r.columns.toSet == Set("k", "v", "tv"))
      assert(r.count() == 50L) // the tv row has k NULL -> excluded
      assert(t.snapshotEquals(spark, "k", 7L).count() == 1L)
      // Compaction must rewrite the UNION schema, not a file guess —
      // otherwise the evolved column is silently dropped from the table.
      t.optimizeCompact(spark)
      val s = t.snapshotEvolved(spark)
      assert(s.columns.toSet == Set("k", "v", "tv"))
      assert(s.filter(col("tv") === 9999L).count() == 1L)
      assert(s.count() == 51L)
    } finally TmpIO.deleteRecursively(new java.io.File(dir))
  }
}
