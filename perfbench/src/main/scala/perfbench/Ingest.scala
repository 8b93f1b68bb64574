package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.sources.TxTable
import graft.streaming.ReactiveMetaPipeline

/** The `reactive_ingest` workload: graft's reactive pipeline as an open
  * loop. A writer thread lands `event_id`-contiguous slices of `events` on
  * a fixed schedule: each slice is committed with
  * `TxTable.appendWithStats(_, "event_id")` and then dropped into the
  * upstream directory of a running `ReactiveMetaPipeline`, which keeps
  * per-`event_type` min/max/count. Every few commits the writer writes a
  * log checkpoint. A reader thread, on its own schedule, issues
  * zone-pruned range reads over recent and old ranges and change-feed
  * reads. The seed sets the slice boundaries and the read ranges.
  */
object Ingest {
  final val IntervalMs = 700L
  final val ReadIntervalMs = 700L
  final val CheckpointEvery = 5
  final val WarmSlices = 8

  /** One landing-zone file cut by `gen.py`: ids lo..hi. */
  final case class Slice(idx: Int, lo: Long, hi: Long, rows: Long, bytes: Long, path: String)

  /** One landed slice: due and drop times (epoch ms) and its version. */
  final case class Landing(slice: Slice, dueMs: Long, startMs: Long, endMs: Long,
                           dropMs: Long, version: Long)

  /** One reader call. `kind` is "range" (lo..hi at `version`) or
    * "changes" (versions after `from` up to `version`).
    */
  final case class Read(kind: String, from: Long, version: Long, lo: Long, hi: Long,
                        rows: Long, sum: Long, secs: Double)

  /** A 32-bit hash of one event row: summed, it cannot overflow a long. */
  val rowHash = xxhash64(col("event_id"), col("ts"), col("user_id"), col("event_type"),
    col("value"), col("props")).bitwiseAND(lit(0xffffffffL))

  /** Order-independent (count, checksum) over the event columns. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def run(spark: SparkSession, probe: Probe, data: String, sliceDir: String, work: String,
          seed: Long, deadline: () => Long, maxPasses: Int, corrupt: Boolean, res: Result): Unit = {
    val rng = new Random(seed)
    val events = graft.Tables.events(spark, data)
    val slices = Files.readAllLines(Paths.get(sliceDir, "slices.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t")
        Slice(f(0).toInt, f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong, s"$sliceDir/${f(5)}")
      }

    // Warm-up: an untimed pass over the first slices on a faster schedule,
    // so the timed pass does not pay for loading and compiling the commit,
    // read and streaming code paths.
    val w0 = System.nanoTime()
    val warm = new Pass(spark, probe, events, slices.take(WarmSlices), s"$work/ingest/warm",
      new Random(seed + 1), IntervalMs / 2, ReadIntervalMs / 2, tracing = false)
    warm.run()
    warm.cleanup()
    probe.clearSpans()
    res.layer("session.warm_s") = (System.nanoTime() - w0) / 1e9

    val perPass = mutable.ArrayBuffer[Map[String, Double]]()
    val passCpu, commits, heap = mutable.ArrayBuffer[Double]()
    res.startTiming()
    var k = 0
    while (k == 0 || (System.nanoTime() < deadline() && k < maxPasses)) {
      probe.reset()
      val (gcMs0, gcN0) = Probe.gc()
      val p = new Pass(spark, probe, events, slices, s"$work/ingest/p$k", rng,
        IntervalMs, ReadIntervalMs, probe.tracing)
      val out = p.run()
      val win = probe.window()
      val (gcMs1, gcN1) = Probe.gc()
      val failures = p.check(corrupt)
      res.attempted += out.landings.length + out.reads.length + p.readErrorCount + 2
      failures.foreach(res.fail)
      passCpu += out.cpuS
      commits ++= out.landings.map(l => (l.endMs - l.startMs) / 1000.0)
      heap += Probe.liveHeapMb()
      perPass += out.metrics ++ (if (!probe.tracing) Map.empty
        else Layers.spark(win, out.gapMs(win), 0L, gcMs1 - gcMs0, gcN1 - gcN0) ++
          streaming(win.progress.toSeq))
      p.cleanup()
      k += 1
    }
    res.context("passes") = passCpu.length.toString
    res.context("slices_per_pass") = slices.length.toString
    // CPU seconds of the pass: its wall time is set by the arrival schedule.
    res.e2e("pass_s") = Stats.median(passCpu.toSeq)
    // The writer's step: one appendWithStats commit. (Per-slice freshness
    // swings with the stream's batch phase; it is reported per layer.)
    res.e2e("step_s.p50") = Stats.pct(commits.toSeq, 0.5)
    res.e2e("step_s.p90") = Stats.pct(commits.toSeq, 0.9)
    res.e2e("heap_live_mb") = Stats.median(heap.toSeq)
    res.layer ++= Stats.medianByKey(perPass.toSeq)
  }

  def streaming(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def total(k: String) = ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)).sum
    Map(
      "streaming.batches" -> data.length.toDouble,
      "streaming.input_rows" -> data.map(_.numInputRows).sum.toDouble,
      "streaming.batch_ms.p50" -> Stats.median(data.map(_.durationMs.get("triggerExecution").toDouble)),
      "streaming.latestOffset_ms" -> total("latestOffset"),
      "streaming.getBatch_ms" -> total("getBatch"),
      "streaming.addBatch_ms" -> total("addBatch"),
      "streaming.walCommit_ms" -> total("walCommit"),
      "streaming.commitOffsets_ms" -> total("commitOffsets"),
      "streaming.state_commit_ms" -> ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum.toDouble,
      "streaming.state_rows" -> ps.lastOption.fold(0.0)(_.stateOperators.map(_.numRowsTotal).sum.toDouble))
  }

  final class Outcome(val landings: Seq[Landing], val reads: Seq[Read], val cpuS: Double,
                      val metrics: Map[String, Double], windowMs: (Long, Long)) {
    /** Pass wall time during which no task ran. */
    def gapMs(w: Window): Double = {
      val (a, b) = windowMs
      (b - a) - Probe.covered(w.taskIntervals.toSeq, a, b).toDouble
    }
  }

  /** One pass: a fresh table and pipeline, every slice landed once. */
  final class Pass(spark: SparkSession, probe: Probe, events: DataFrame, slices: Seq[Slice],
                   root: String, rng: Random, intervalMs: Long, readMs: Long,
                   tracing: Boolean) {
    private val tx = new TxTable(s"$root/table")
    private val upstream = s"$root/upstream"
    private val metaDir = s"$root/meta"
    private val landings = new java.util.concurrent.ConcurrentLinkedQueue[Landing]()
    private val reads = mutable.ArrayBuffer[Read]()
    private val readErrors = mutable.ArrayBuffer[String]()
    def readErrorCount: Int = readErrors.length
    @volatile private var lastCheckpoint = 0L
    private val checkpointMs = mutable.ArrayBuffer[Double]()
    /** (cumulative rows, batch start ms, batch end ms) per stream batch. */
    private val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    private val resolveMs, keepRatio, replayed = mutable.ArrayBuffer[Double]()
    @volatile private var writerDone = false
    @volatile private var landedRows = 0L

    private def onProgress(p: StreamingQueryProgress): Unit = if (p.numInputRows > 0) {
      val start = Instant.parse(p.timestamp).toEpochMilli
      val prev = Option(batches.peek).fold(0L)(_ => batches.asScala.map(_._1).max)
      batches.add((prev + p.numInputRows, start, start + p.durationMs.get("triggerExecution")))
    }

    def run(): Outcome = {
      new File(upstream).mkdirs()
      // The file-stream source needs a schema: seed the upstream directory
      // with an empty parquet file of the landing files' schema.
      spark.read.parquet(slices.head.path).limit(0).coalesce(1).write.mode("append").parquet(upstream)
      probe.progressHook = onProgress
      val query = new ReactiveMetaPipeline(upstream, metaDir, s"$root/stream-ckpt")
        .run(spark, Trigger.ProcessingTime("100 milliseconds"))
      // The pass's own cost: CPU time of every thread in the process
      // (writer, reader, stream, executors, GC, JIT) from here until the
      // meta table reflects the last slice. Waiting for the arrival
      // schedule costs none, and unlike wall time it does not swing with
      // how the writer's commits overlap the stream's batches.
      val cpu0 = Probe.processCpuNs()
      val t0 = System.currentTimeMillis() + 200
      val reader = new Thread(() => readLoop(t0 + readMs / 2))
      reader.start()
      writeLoop(t0)
      writerDone = true
      reader.join()
      val total = slices.map(_.rows).sum
      val giveUp = System.currentTimeMillis() + 60000
      while (freshAt(total).isEmpty && System.currentTimeMillis() < giveUp) Thread.sleep(5)
      val cpuS = (Probe.processCpuNs() - cpu0) / 1e9
      query.stop()
      probe.progressHook = _ => ()
      val ls = landings.asScala.toSeq.sortBy(_.slice.idx)
      val prefix = ls.map(_.slice.rows).scanLeft(0L)(_ + _).tail
      val fresh = ls.zip(prefix).map { case (l, n) =>
        val seen = freshAt(n)
        // A slice the stream never reflected counts as fresh at the give-up
        // time; the meta-table check then fails the pass.
        (math.max(l.endMs, seen.fold(giveUp)(_._2)) - l.dueMs) / 1000.0 ->
          seen.fold(0.0)(s => math.max(0L, s._1 - l.dropMs).toDouble)
      }
      val end = ls.last.dueMs + (fresh.last._1 * 1000).toLong
      val commits = ls.map(l => (l.endMs - l.startMs) / 1000.0)
      val rs = reads.map(_.secs).toSeq
      val rootBytes = du(new File(s"$root/table"))
      val landedBytes = ls.map(_.slice.bytes).sum.toDouble
      val m = mutable.Map[String, Double](
        "freshness_s.p50" -> Stats.pct(fresh.map(_._1), 0.5),
        "freshness_s.p90" -> Stats.pct(fresh.map(_._1), 0.9),
        "commit_s.p50" -> Stats.pct(commits, 0.5),
        "commit_s.p90" -> Stats.pct(commits, 0.9),
        "read_s.p50" -> (if (rs.isEmpty) 0.0 else Stats.pct(rs, 0.5)),
        "read_s.p90" -> (if (rs.isEmpty) 0.0 else Stats.pct(rs, 0.9)),
        "space_amp" -> rootBytes / landedBytes,
        "streaming.queue_ms.p90" -> Stats.pct(fresh.map(_._2), 0.9),
        "gen.lateness_s.max" -> ls.map(l => (l.startMs - l.dueMs) / 1000.0).max)
      if (tracing) m ++= Map(
        "sources.append_ms.p50" -> Stats.pct(commits, 0.5) * 1000,
        "sources.append_ms.p90" -> Stats.pct(commits, 0.9) * 1000,
        "sources.checkpoint_ms" -> Stats.median(checkpointMs.toSeq),
        "sources.resolve_ms.p50" -> Stats.median(resolveMs.toSeq),
        "sources.replay_versions" -> Stats.median(replayed.toSeq),
        "sources.range_keep_ratio" -> Stats.median(keepRatio.toSeq),
        "sources.live_dirs" -> tx.resolveDirs().length.toDouble,
        "sources.bytes_per_user_byte" -> rootBytes / landedBytes)
      new Outcome(ls, reads.toSeq, cpuS, m.toMap, (t0, end))
    }

    /** First batch whose cumulative input covers `rows`: (start, end) ms. */
    private def freshAt(rows: Long): Option[(Long, Long)] =
      batches.asScala.filter(_._1 >= rows).toSeq.sortBy(_._1).headOption.map(b => (b._2, b._3))

    private def sleepUntil(t: Long): Unit = {
      val d = t - System.currentTimeMillis()
      if (d > 0) Thread.sleep(d)
    }

    private def writeLoop(t0: Long): Unit = slices.foreach { s =>
      val due = t0 + s.idx * intervalMs
      sleepUntil(due)
      val start = System.currentTimeMillis()
      val v = probe.span("commit", "step") {
        probe.span("TxTable.appendWithStats", "sources", "sources") {
          tx.appendWithStats(read(s), "event_id")
        }
      }
      val end = System.currentTimeMillis()
      val tmp = Paths.get(upstream, s".slice-${s.idx}.tmp")
      Files.copy(Paths.get(s.path), tmp)
      Files.move(tmp, Paths.get(upstream, s"slice-${s.idx}.parquet"), StandardCopyOption.ATOMIC_MOVE)
      landings.add(Landing(s, due, start, end, System.currentTimeMillis(), v))
      landedRows = s.hi + 1
      if ((s.idx + 1) % CheckpointEvery == 0) {
        val c0 = System.nanoTime()
        lastCheckpoint = probe.span("checkpoint", "step") {
          probe.span("TxTable.checkpoint", "sources", "sources")(tx.checkpoint())
        }
        checkpointMs += (System.nanoTime() - c0) / 1e6
      }
    }

    private def readLoop(t0: Long): Unit = {
      var i = 0
      var changesFrom = 0L
      while (!writerDone) {
        sleepUntil(t0 + i * readMs)
        val hiId = landedRows - 1
        val v = tx.latestVersion().getOrElse(0L)
        val appended = landings.asScala.exists(l => l.version > changesFrom && l.version <= v)
        if (hiId >= 0 && !writerDone) try i % 3 match {
          case 2 if appended =>
            val (n, s, secs) = timed("changes", "TxTable.readChanges")(
              tx.readChanges(spark, changesFrom, Some(v)))
            reads += Read("changes", changesFrom, v, 0, 0, n, s, secs)
            changesFrom = v
          case 2 =>
          case kind =>
            val w = 500L + rng.nextInt(2500)
            val lo = if (kind == 0) math.max(0L, hiId - w)
                     else (rng.nextDouble() * math.max(1L, hiId / 2)).toLong
            val hi = math.min(hiId, lo + w)
            val (n, s, secs) = timed("range", "TxTable.snapshotRange")(
              tx.snapshotRange(spark, "event_id", lo, hi, Some(v)))
            reads += Read("range", 0, v, lo, hi, n, s, secs)
            if (tracing) inspect(v, lo, hi)
        } catch {
          case e: Exception => readErrors += s"read at v$v threw ${e.getClass.getName}: ${e.getMessage}"
        }
        i += 1
      }
    }

    private def timed(step: String, call: String)(df: => DataFrame): (Long, Long, Double) = {
      val t = System.nanoTime()
      val (n, s) = probe.span(step, "step") {
        probe.span(call, "sources", "sources")(fingerprint(df))
      }
      (n, s, (System.nanoTime() - t) / 1e9)
    }

    /** Traced runs only: log replay cost and pruning outcome at version v. */
    private def inspect(v: Long, lo: Long, hi: Long): Unit = {
      val t = System.nanoTime()
      val live = tx.resolveDirs(Some(v)).length
      resolveMs += (System.nanoTime() - t) / 1e6
      keepRatio += tx.resolveDirsRange("event_id", lo, hi, Some(v)).length.toDouble / math.max(live, 1)
      // Manifests a replay at v folds: the last checkpoint at or before v
      // (the version read here can trail a newer checkpoint) and its tail.
      val cp = if (lastCheckpoint <= v) lastCheckpoint else 0L
      replayed += tx.versions().count(x => x >= math.max(cp, 1L) && x <= v).toDouble
    }

    /** The pass's output checks; returns one message per failure. */
    def check(corrupt: Boolean): Seq[String] = {
      val ls = landings.asScala.toSeq
      val out = mutable.ArrayBuffer[String](readErrors.toSeq: _*)
      val got = fingerprint(tx.snapshot(spark))
      val landed = fingerprint(read(ls.map(_.slice): _*))
      val want = (landed._1, landed._2 + (if (corrupt) 1L else 0L))
      if (got != want) out += s"snapshot: (rows, checksum) $got != landed slices $want"
      val landedTo = ls.map(_.slice.hi).max
      def meta(df: DataFrame) = df.select(col("event_type"), col("min_value"), col("max_value"),
        col("n_events")).collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val metaGot = meta(spark.read.parquet(metaDir))
      val batch = meta(events.filter(col("event_id") <= landedTo).groupBy("event_type")
        .agg(min("value").as("min_value"), max("value").as("max_value"),
          count(lit(1)).as("n_events")))
      if (metaGot != batch) out += s"meta table ${metaGot.mkString(";")} != batch ${batch.mkString(";")}"
      reads.foreach {
        case r if r.kind == "range" =>
          val full = fingerprint(tx.snapshot(spark, Some(r.version))
            .filter(col("event_id").between(r.lo, r.hi)))
          if (full != ((r.rows, r.sum)))
            out += s"range read [${r.lo}, ${r.hi}] at v${r.version}: pruned ${(r.rows, r.sum)} != unpruned $full"
        case r =>
          val in = ls.filter(l => l.version > r.from && l.version <= r.version).map(_.slice)
          val want = if (in.isEmpty) (0L, 0L) else fingerprint(read(in: _*))
          if ((r.rows, r.sum) != want)
            out += s"changes (v${r.from}, v${r.version}]: ${(r.rows, r.sum)} != landed slices $want"
      }
      out.toSeq
    }

    /** Landing files as graft reads raw events (timestamps normalized). */
    private def read(ss: Slice*): DataFrame =
      graft.Tables.normalizeEventTs(spark.read.parquet(ss.map(_.path): _*))

    def cleanup(): Unit = delete(new File(root))
  }

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(du).sum) else f.length
}
