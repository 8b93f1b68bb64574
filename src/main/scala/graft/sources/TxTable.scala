package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** TxTable — a minimal TRANSACTIONAL table over parquet: an ordered
  * commit log of immutable manifest files on top of immutable data
  * directories, giving snapshot isolation, optimistic concurrency,
  * idempotent (exactly-once) commits, time travel, log compaction and
  * orphan vacuum. The storage capability a 100 TB pipeline needs that
  * a bare parquet directory cannot provide: a reader must never
  * observe a half-written batch, a re-delivered batch must never
  * double-append, and yesterday's training snapshot must stay
  * reproducible after today's ingest. (Same design family as
  * open-source log-structured table formats — commit log + immutable
  * files — reduced to the minimal protocol this engine needs.)
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>/part-*.parquet   -- immutable data dirs, one per commit
  *   <root>/_txlog/v%010d.json           -- manifest: action + data dirs
  *   <root>/_txlog/b<uuid>.bloom         -- Bloom filter sidecars
  * }}}
  *
  * Manifest: one JSON object, read and written with Jackson —
  * `version`, `action` (`append`, `overwrite`, `delete` or
  * `checkpoint`), `dirs` (data dir paths) and, when non-empty, `dvs`
  * (deletion-vector dir paths). Data-skipping annotations are per dir,
  * keyed by index `i` into `dirs`, in three arrays: `zones`
  * `{"i","column","min","max"}` (a BIGINT column's range), `szones`
  * `{"i","column","slo","shi"}` (a STRING column's range as UTF-8 hex,
  * [[TxTable.toHex]]) and `dblooms` `{"i","column","file"}` (a Bloom
  * sidecar). An annotation may over-cover its dir, never under-cover
  * it. Older logs may also hold commit-level `stats`
  * `{"column","min","max"}` and `bloom` `{"column","file"}`, which
  * annotate every dir of their commit; they are read, never written.
  *
  * Protocol:
  *  - WRITE: stage the batch's parquet files into a fresh uuid dir
  *    (invisible — only manifests make data visible), then publish
  *    manifest version N+1 via an atomic CREATE-EXCLUSIVE hard link.
  *    Two writers racing to one version: exactly one link succeeds
  *    (EEXIST for the loser), the loser re-reads the log head and
  *    retries — optimistic concurrency with no lock server, the
  *    standard object-store commit trick.
  *  - IDEMPOTENT WRITE: [[commitIfAbsent]] pins the version instead
  *    of retrying — a REPLAYED batch (streaming re-delivery after a
  *    checkpoint reset, a re-run backfill) re-attempts the same
  *    version, loses the create-exclusive race against its own first
  *    delivery, and becomes a no-op. Exactly-once sinks reduce to
  *    "version = f(batch id)".
  *  - READ: [[snapshot]] resolves the manifest list ONCE into a
  *    concrete directory set; later commits add new manifests + new
  *    dirs and never touch resolved ones, so an in-flight reader is
  *    isolated by construction.
  *  - TIME TRAVEL: `snapshot(spark, asOf = Some(v))` replays the log
  *    up to v — an `overwrite` manifest resets the visible set, an
  *    `append` extends it.
  *  - MERGE-ON-READ DELETE: [[deleteWhere]] publishes a `delete`
  *    manifest whose `dvs` dirs hold (file_path, row_index)
  *    tombstones — no data rewrite; readers apply them as one
  *    broadcast anti-join and OPTIMIZE materializes them away.
  *  - LOG COMPACTION: [[checkpoint]] publishes one `checkpoint`
  *    manifest holding the CURRENT state (dirs, DVs, annotations)
  *    — no data moves; readers at or after it fold from one manifest
  *    instead of the whole log, and the changes feed skips it. Keeps
  *    log replay O(recent) as versions accumulate.
  *  - VACUUM: [[vacuum]] deletes data dirs (and Bloom sidecars)
  *    referenced by NO manifest — the leakage mode of this protocol
  *    is an orphan from a crash (or lost race) between staging and
  *    publish. Orphans are invisible to readers, but an IN-FLIGHT
  *    writer's staged dir looks identical until its manifest lands,
  *    so reclamation is gated by a retention window (mtime): only
  *    unreferenced entries older than the window are deleted.
  *
  * Scale notes: manifests carry directory names, not per-row state —
  * commit cost is O(1) in table size; reads plan a normal multi-dir
  * vectorized parquet scan (pushdown/pruning intact).
  */
object TxTable {
  /** Default [[TxTable.vacuum]] retention: an hour dwarfs any real
    * stage→publish window while still reclaiming crash orphans the
    * same day. Pass 0 explicitly when no writer can be in flight.
    */
  final val DefaultVacuumRetentionMillis: Long = 60L * 60L * 1000L

  /** The schema of a deletion-vector dir: one tombstone per deleted
    * row, addressed by the `_metadata` columns of its data file.
    */
  private[graft] val DvSchema: org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType()
      .add("file_path", org.apache.spark.sql.types.StringType)
      .add("row_index", org.apache.spark.sql.types.LongType)

  /** String zone bounds ride the manifest as lowercase UTF-8 hex:
    * fixed-width per byte, so lexicographic HEX order == byte order ==
    * Spark's UTF8String order == parquet/DuckDB binary collation —
    * pruning compares hex directly.
    */
  private[graft] def toHex(s: String): String = hex(s.getBytes("UTF-8"))
  private[graft] def fromHex(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, "UTF-8")
  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString

  /** One data-skipping annotation of one data dir. */
  private[graft] sealed trait Ann { def col: String }
  /** A BIGINT column's [min, max] over the dir. */
  private[graft] final case class LongZone(col: String, min: Long, max: Long) extends Ann
  /** A STRING column's [min, max] over the dir, as [[toHex]]. */
  private[graft] final case class HexZone(col: String, min: String, max: String) extends Ann
  /** A Bloom filter sidecar over a BIGINT column of the dir: a file
    * name in the log dir, or an absolute path (a clone's borrowed ref).
    */
  private[graft] final case class BloomRef(col: String, file: String) extends Ann

  /** Whether annotation `a` proves its dir holds no row in the range
    * `r` (a zone of the same kind on the same column): the one overlap
    * test behind range reads, partial optimize and transaction
    * validation. Any other annotation proves nothing.
    */
  private def misses(a: Ann, r: Ann): Boolean = (a, r) match {
    case (LongZone(c, mn, mx), LongZone(rc, lo, hi)) => c == rc && (mx < lo || mn > hi)
    case (HexZone(c, mn, mx), HexZone(rc, lo, hi)) => c == rc && (mx < lo || mn > hi)
    case _ => false
  }

  /** One manifest: `anns` are (dir index, annotation) pairs. */
  private[graft] final case class Manifest(action: String, dirs: Seq[String],
                                           dvs: Seq[String] = Nil,
                                           anns: Seq[(Int, Ann)] = Nil)

  private val Json = graft.Json.mapper

  /** The manifest codec's writer (the reader is [[TxTable]]'s
    * `readManifest`): paths with `/` separators, every annotation in
    * its kind's index-keyed array.
    */
  private def encode(v: Long, m: Manifest): Array[Byte] = {
    val o = Json.createObjectNode().put("version", v).put("action", m.action)
    def paths(key: String, ps: Seq[String]): Unit = {
      val a = o.putArray(key)
      ps.foreach(p => a.add(p.replace("\\", "/")))
    }
    paths("dirs", m.dirs)
    if (m.dvs.nonEmpty) paths("dvs", m.dvs)
    m.anns.foreach { case (i, a) =>
      val e = Json.createObjectNode().put("i", i).put("column", a.col)
      val key = a match {
        case LongZone(_, mn, mx) => e.put("min", mn).put("max", mx); "zones"
        case HexZone(_, mn, mx) => e.put("slo", mn).put("shi", mx); "szones"
        case BloomRef(_, f) => e.put("file", f); "dblooms"
      }
      o.withArrayProperty(key).add(e)
    }
    Json.writeValueAsBytes(o)
  }
}

/** A concurrent commit invalidated this transaction's read snapshot:
  * committing anyway would be a LOST UPDATE (the write was derived
  * from rows another writer changed or removed in the meantime). The
  * caller's correct move is to re-run the whole read→compute→commit
  * cycle against the new head ([[TxTable.mergeSerializable]] packages
  * that loop). Blind appends never see this — they read nothing, so
  * no interleaved commit can invalidate them.
  */
final class ConcurrentWriteException(msg: String)
  extends RuntimeException(msg)

/** A read-snapshot-pinned transaction over a [[TxTable]] — the
  * Delta-style serializable commit protocol. Reads through the
  * transaction are pinned to the version at creation AND recorded as
  * the transaction's read set (full-table, or per-column ranges);
  * [[commit]] re-validates that read set against every commit that
  * landed in between and refuses (throws [[ConcurrentWriteException]])
  * when one could have changed what this transaction read:
  *
  *  - interleaved `overwrite` (compaction/restore/merge): conflicts
  *    with ANY reading transaction — history was rewritten.
  *  - interleaved delete / merge-on-read update (dvs-bearing commit):
  *    conflicts with any reading transaction — rows it read may be
  *    gone. (DV tombstones carry no zone metadata, so no disjointness
  *    proof is attempted; conservative is correct here.)
  *  - interleaved pure append: conflicts with a full-table reader;
  *    for a range reader it conflicts UNLESS the append's zone maps
  *    prove every appended dir disjoint from every read range — the
  *    zone metadata does double duty as a conflict-narrowing index,
  *    exactly why serializable writers keep committing at high
  *    append throughput on a range-partitioned 100 TB table.
  *  - a transaction that read NOTHING (blind append) never conflicts.
  *
  * The validation window is race-free without a lock server: winning
  * the create-exclusive publish at version v proves no commit landed
  * between validating (readVersion, v-1] and publishing v — any
  * interloper would have taken v itself (the version chain is
  * gap-free), in which case the publish loses and validation re-runs
  * over the extended window.
  */
final class TxTransaction private[sources] (t: TxTable) {
  /** The head this transaction's reads are pinned to (0 = empty). */
  val readVersion: Long = t.latestVersion().getOrElse(0L)
  private var readTable: Boolean = false
  private var readRanges: Vector[(String, Long, Long)] = Vector.empty

  /** Full-snapshot read at [[readVersion]]; records a table read. */
  def snapshot(spark: SparkSession): DataFrame = {
    readTable = true
    t.snapshot(spark, Some(readVersion))
  }

  /** Zone-pruned range read at [[readVersion]]; records a range read
    * on `statsCol`, against which interleaved appends are checked.
    */
  def snapshotRange(spark: SparkSession, statsCol: String,
                    lo: Long, hi: Long): DataFrame = {
    readRanges :+= ((statsCol, lo, hi))
    t.snapshotRange(spark, statsCol, lo, hi, Some(readVersion))
  }

  /** Commit `df` after validating the read set against every commit
    * that landed since [[readVersion]]. Throws
    * [[ConcurrentWriteException]] on conflict (staged data cleaned
    * up); otherwise publishes at the current head + 1 and returns the
    * version. `action` is "append" or "overwrite" (a read-then-
    * replace MERGE commits as "overwrite").
    */
  def commit(df: DataFrame, action: String = "append"): Long =
    t.commitValidated(df, action, readVersion, readTable, readRanges)
}

class TxTable(val root: String) {
  import TxTable._

  private val logDir: Path = Paths.get(root, "_txlog")
  private val dataDir: Path = Paths.get(root, "data")

  private def manifestPath(v: Long): Path = logDir.resolve(f"v$v%010d.json")

  /** Versions present in the log, ascending (empty table → empty). */
  def versions(): Seq[Long] =
    if (!Files.isDirectory(logDir)) Seq.empty
    else {
      val it = Files.list(logDir)
      try it.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toLong }
        .toSeq.sorted
      finally it.close()
    }

  def latestVersion(): Option[Long] = versions().lastOption

  /** Append `df` as a new committed version; returns the version. */
  def append(df: DataFrame): Long = commit(df, "append")

  /** Append with a ZONE MAP: the manifest additionally records
    * min/max of long column `statsCol` over the batch, so range reads
    * can skip whole data dirs without opening a file — manifest-level
    * data skipping, the capability that turns a 100 TB log table into
    * a range-indexed one when commits are range-clustered (time, id
    * band, partition). The zone comes from the staged files' parquet
    * footers ([[footerZones]]): the write is the only pass over the
    * batch.
    */
  def appendWithStats(df: DataFrame, statsCol: String): Long =
    appendStaged(df.sparkSession, stageData(df), statsCol)

  /** Publishes a dir of parquet files already under this table's data
    * dir as an append, with a zone on `statsCol` from their footers.
    */
  private[graft] def appendStaged(spark: SparkSession, stage: String,
                                  statsCol: String): Long =
    appendZoned(spark, stage, Seq(statsCol), string = false)

  /** [[appendWithStats]] for SEVERAL columns at once: the manifest
    * records a zone per column for the one staged dir, so
    * [[snapshotRange]] prunes this commit on ANY of them. The zones
    * come from the staged footers like [[appendWithStats]]'s; all
    * columns must be BIGINT.
    */
  def appendWithStatsMulti(df: DataFrame, statsCols: Seq[String]): Long = {
    require(statsCols.nonEmpty, s"TxTable $root: statsCols must be non-empty")
    appendZoned(df.sparkSession, stageData(df), statsCols, string = false)
  }

  /** [[appendWithStats]] for a STRING column: the manifest records the
    * batch's min/max as UTF-8 hex ([[TxTable.toHex]] — byte order ==
    * Spark/parquet binary string order). This is VARCHAR data
    * skipping — category, date-string and identifier-prefix ranges
    * prune at the manifest level just like BIGINT zones. The zone
    * comes from the staged footers too; a batch whose extremes parquet
    * keeps no statistics for (over 4 KB) gets none, and is never
    * skipped.
    */
  def appendWithStatsString(df: DataFrame, statsCol: String): Long =
    appendZoned(df.sparkSession, stageData(df), Seq(statsCol), string = true)

  /** Publishes a staged dir as an append annotated with the footer
    * zones of `cols`.
    */
  private def appendZoned(spark: SparkSession, stage: String, cols: Seq[String],
                          string: Boolean): Long = {
    val footers = stageFooters(spark, stage)
    requireOneSchema(spark, stage, footers)
    val zones = footerZones(footers, cols, string).map(0 -> _)
    publishAtHead(_ => Manifest("append", Seq(stage), anns = zones))
  }

  /** Range read with manifest-level data skipping: dirs whose zone
    * [min,max] provably misses [lo,hi] are never opened; dirs WITHOUT
    * a zone for `statsCol` are kept (skipping is an optimization, the
    * residual filter keeps the answer exact either way). One log
    * replay serves the pruning, the dir set AND the DV set.
    */
  def snapshotRange(spark: SparkSession, statsCol: String,
                    lo: Long, hi: Long,
                    asOf: Option[Long] = None): DataFrame =
    prunedRead(spark, asOf, col(statsCol).between(lo, hi))(
      prune(_, LongZone(statsCol, lo, hi)))

  /** The dirs a range read must open ([[snapshotRange]]'s pruning,
    * exposed for inspection/testing).
    */
  def resolveDirsRange(statsCol: String, lo: Long, hi: Long,
                       asOf: Option[Long] = None): Seq[String] =
    prune(replayLog(asOf), LongZone(statsCol, lo, hi))

  /** [[snapshotRange]] for STRING bounds: dirs whose recorded [min,
    * max] provably misses [lo,hi] under binary order are never
    * opened; dirs without a string zone for `statsCol` are kept and
    * the residual BETWEEN keeps the answer exact either way.
    */
  def snapshotRangeString(spark: SparkSession, statsCol: String,
                          lo: String, hi: String,
                          asOf: Option[Long] = None): DataFrame =
    prunedRead(spark, asOf, col(statsCol).between(lo, hi))(
      prune(_, HexZone(statsCol, toHex(lo), toHex(hi))))

  /** The dirs a string-range read must open (exposed for testing). */
  def resolveDirsRangeString(statsCol: String, lo: String, hi: String,
                             asOf: Option[Long] = None): Seq[String] =
    prune(replayLog(asOf), HexZone(statsCol, toHex(lo), toHex(hi)))

  /** The dirs of `st` that no annotation proves to miss `range`. */
  private def prune(st: LogState, range: Ann): Seq[String] =
    st.dirs.filterNot(d => st.anns.getOrElse(d, Vector.empty).exists(misses(_, range)))

  /** Append with a BLOOM FILTER on long column `bloomCol`: the filter
    * is written to a SIDECAR file next to the log (sized from the
    * batch's exact count, fpp 3%) and referenced by the manifest —
    * point lookups ([[snapshotEquals]]) then skip every dir whose
    * filter proves the key absent. Zone maps bound RANGES; blooms
    * bound MEMBERSHIP — the "find this document id / user id in a
    * 100 TB log" path. Sidecars keep manifests O(bytes): real table
    * formats make the same split (tiny commit record, fat index
    * files).
    */
  def appendWithBloom(df: DataFrame, bloomCol: String): Long = {
    // The write is the only execution of the lineage: the exact row
    // count comes from the staged footers (no job) and the filter
    // builds from a read-back of the staged files.
    val stage = stageData(df)
    val n = footerRowCount(df.sparkSession, stage)
    val bf =
      if (n == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L, 0.03)
      else scan(df.sparkSession, Seq(stage), merge = false)
        .stat.bloomFilter(bloomCol, n, 0.03)
    // The sidecar exists in full BEFORE a manifest names it (the data
    // dirs' write-then-publish order); a crash between the two leaves
    // an orphan for [[vacuum]].
    val sidecar = s"b${java.util.UUID.randomUUID()}.bloom"
    val out = Files.newOutputStream(logDir.resolve(sidecar))
    try bf.writeTo(out) finally out.close()
    publishAtHead(_ => Manifest("append", Seq(stage),
      anns = Seq(0 -> BloomRef(bloomCol, sidecar))))
  }

  /** Point-lookup read: dirs whose Bloom filter proves `value` absent
    * are never opened; dirs without a filter for `eqCol` are kept.
    * The residual equality filter keeps the answer exact regardless
    * of skipping (a Bloom hit is only "maybe"). One log replay serves
    * the pruning, the dir set AND the DV set.
    */
  def snapshotEquals(spark: SparkSession, eqCol: String, value: Long,
                     asOf: Option[Long] = None): DataFrame =
    prunedRead(spark, asOf, col(eqCol) === value)(pruneEquals(_, eqCol, value))

  /** The dirs a point lookup must open (exposed for testing). */
  def resolveDirsEquals(eqCol: String, value: Long,
                        asOf: Option[Long] = None): Seq[String] =
    pruneEquals(replayLog(asOf), eqCol, value)

  private def pruneEquals(st: LogState, eqCol: String, value: Long): Seq[String] =
    st.dirs.filterNot(d => st.anns.getOrElse(d, Vector.empty).exists {
      case BloomRef(c, sidecar) if c == eqCol =>
        val in = Files.newInputStream(logDir.resolve(sidecar))
        try !org.apache.spark.util.sketch.BloomFilter.readFrom(in).mightContainLong(value)
        finally in.close()
      case _ => false
    })

  /** A read of the dirs `keep` picks from the state at `asOf`, with
    * deletes applied and the residual `cond`; when `keep` picks none,
    * an empty frame with the live dirs' merged schema.
    */
  private def prunedRead(spark: SparkSession, asOf: Option[Long], cond: Column)(
      keep: LogState => Seq[String]): DataFrame = {
    val st = replayLog(asOf)
    val dirs = keep(st)
    // Merged schema: on an evolved table one dir's schema can lack the
    // filtered column entirely (unresolved-column at read). Rows
    // predating the column read as NULL and fail the predicate.
    if (dirs.isEmpty)
      scan(spark, liveDirs(st, asOf), merge = true).filter(org.apache.spark.sql.functions.lit(false))
    else applyDeletes(spark, scan(spark, dirs, merge = true), st.dvs).filter(cond)
  }

  /** CHANGES FEED: every row appended in versions (afterVersion,
    * untilVersion], stamped with its `_commit_version` — the
    * incremental-consumer contract (downstream rollups, dedup-index
    * maintenance, feature backfills process exactly the new commits,
    * never table history; cost is O(changed data)). An `overwrite`
    * manifest inside the range is a history rewrite that CANNOT be
    * expressed as row-level appends — the feed throws and the consumer
    * must re-read a full snapshot (the same contract log-structured
    * table formats expose for non-append commits).
    */
  def readChanges(spark: SparkSession, afterVersion: Long,
                  untilVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val vs = versions()
      .filter(v => v > afterVersion && untilVersion.forall(v <= _))
    // Vacuumed-log guard (Delta's CDF errors on missing log versions in
    // range, and so must we): commits are minted sequentially, so the
    // feed is complete only if the surviving manifests tile the range
    // contiguously from afterVersion+1. After vacuumLog deletes
    // pre-checkpoint manifests, a consumer whose afterVersion predates
    // the checkpoint would otherwise get those appends silently DROPPED
    // (the checkpoint replays as a no-op) — fail loudly instead.
    vs.zipWithIndex.foreach { case (v, i) =>
      if (v != afterVersion + 1 + i)
        throw new IllegalStateException(
          s"TxTable $root: changes after version $afterVersion requested but " +
            s"version ${afterVersion + 1 + i} is missing from the log " +
            "(vacuumed after a checkpoint) — re-read a full snapshot")
    }
    val parts = vs.flatMap { v =>
      val m = readManifest(v)
      // A checkpoint re-lists the whole live dir set without changing
      // anything — to a changes consumer it is a no-op, not a change.
      if (m.action == "checkpoint") None
      else {
      if (m.action == "overwrite")
        throw new IllegalStateException(
          s"TxTable $root: overwrite at version $v inside the changes " +
            "range — re-read a full snapshot")
      if (m.action == "delete" || m.dvs.nonEmpty)
        throw new IllegalStateException(
          s"TxTable $root: merge-on-read delete/update at version $v inside " +
            "the changes range — row removal cannot be expressed as appends; " +
            "re-read a full snapshot")
      if (m.dirs.isEmpty) None
      else Some(scan(spark, m.dirs, merge = false)
        .withColumn("_commit_version", lit(v)))
      }
    }
    if (parts.isEmpty)
      throw new IllegalStateException(
        s"TxTable $root: no appends after version $afterVersion")
    // allowMissingColumns: a range spanning an additive schema-evolution
    // commit (the snapshotEvolved pattern) yields the union schema with
    // nulls where an older commit predates a column, instead of throwing.
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Replace the visible table with `df` as a new committed version. */
  def overwrite(df: DataFrame): Long = commit(df, "overwrite")

  /** Idempotent commit PINNED to `version` (exactly-once sinks:
    * version = batch id + base). Returns true if this call published
    * the version, false if it already existed — in which case the
    * staged data is removed again and the table is untouched, so a
    * re-delivered batch is a no-op rather than a duplicate.
    */
  def commitIfAbsent(df: DataFrame, version: Long,
                     action: String = "append"): Boolean = {
    if (Files.exists(manifestPath(version))) return false // cheap pre-check
    val stage = stageData(df)
    val won = tryPublish(version, Manifest(action, Seq(stage)))
    if (!won) graft.TmpIO.deleteRecursively(new java.io.File(stage))
    won
  }

  /** Open a serializable [[TxTransaction]] pinned to the current head. */
  def transaction(): TxTransaction = new TxTransaction(this)

  /** Serializable read-compute-replace (the MERGE shape): run
    * `compute` on a transaction-pinned snapshot and commit the result
    * as an overwrite; on [[ConcurrentWriteException]] re-run the WHOLE
    * cycle against the new head, so the final state is always
    * equivalent to this merge running serially after every concurrent
    * commit — the lost-update outcome a blind read+overwrite permits
    * is impossible by construction. Bounded retries: under real
    * contention a caller should see the failure, not an unbounded
    * recompute loop over a 100 TB snapshot.
    */
  def mergeSerializable(spark: SparkSession, maxRetries: Int = 5)(
      compute: DataFrame => DataFrame): Long = {
    var attempt = 0
    while (true) {
      val tx = transaction()
      val merged = compute(tx.snapshot(spark))
      try return tx.commit(merged, "overwrite")
      catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1L // unreachable
  }

  /** [[TxTransaction.commit]]'s engine: validate-then-publish with the
    * gap-free-version-chain race argument documented on the class.
    */
  private[sources] def commitValidated(df: DataFrame, action: String,
                                       readVersion: Long, readTable: Boolean,
                                       readRanges: Seq[(String, Long, Long)]): Long = {
    val stage = stageData(df)
    publishAtHead { v =>
      try validateNoConflict(readVersion, v - 1, readTable, readRanges)
      catch {
        case e: ConcurrentWriteException =>
          graft.TmpIO.deleteRecursively(new java.io.File(stage))
          throw e
      }
      Manifest(action, Seq(stage))
    }
  }

  /** Throw iff a commit in (readVersion, head] could have changed
    * what a transaction with this read set observed (conflict matrix
    * on [[TxTransaction]]).
    */
  private def validateNoConflict(readVersion: Long, head: Long,
                                 readTable: Boolean,
                                 readRanges: Seq[(String, Long, Long)]): Unit = {
    if (!readTable && readRanges.isEmpty) return // blind write: no read set
    versions().filter(v => v > readVersion && v <= head).foreach { v =>
      val m = readManifest(v)
      def fail(kind: String): Nothing = throw new ConcurrentWriteException(
        s"TxTable $root: concurrent $kind at version $v conflicts with a " +
          s"transaction that read version $readVersion — re-run the " +
          "read-compute-commit cycle against the new head")
      // A checkpoint republishes the SAME logical state (dirs + DVs +
      // annotations) — nothing a reader observed can have changed, so
      // it is the one dirs-bearing commit class that never conflicts.
      if (m.action != "checkpoint") {
        if (m.action == "overwrite") fail("overwrite")
        if (m.dvs.nonEmpty) fail("delete/update")
        if (m.dirs.nonEmpty) {
          if (readTable) fail("append")
          // Range-only reader: the append passes iff its zones PROVE
          // every appended dir misses every read range; a dir without a
          // zone for the read column might overlap — conservative fail.
          val appended = replayStep(LogState.Empty, m)
          if (readRanges.exists { case (c, lo, hi) =>
                prune(appended, LongZone(c, lo, hi)).nonEmpty })
            fail("append overlapping the read ranges")
        }
      }
    }
  }

  /** Snapshot read: replay manifests up to `asOf` (default: head) into
    * a concrete directory set, resolved EAGERLY — the returned
    * DataFrame is pinned to this snapshot no matter how many commits
    * land while it is being consumed.
    */
  def snapshot(spark: SparkSession, asOf: Option[Long] = None): DataFrame =
    fullRead(spark, asOf, merge = false)

  /** Snapshot read under SCHEMA EVOLUTION: commits may ADD columns
    * over the table's life (the additive evolution every long-lived
    * ingest needs); the merged read is the union schema, with nulls
    * where an older commit predates a column. [[snapshot]] takes the
    * first dir's schema instead, as a plain parquet read would: the
    * merge costs one footer per dir, read once per dir for the life of
    * this instance ([[readSchema]]).
    */
  def snapshotEvolved(spark: SparkSession, asOf: Option[Long] = None): DataFrame =
    fullRead(spark, asOf, merge = true)

  private def fullRead(spark: SparkSession, asOf: Option[Long],
                       merge: Boolean): DataFrame = {
    val st = replayLog(asOf) // one log replay per read
    applyDeletes(spark, scan(spark, liveDirs(st, asOf), merge), st.dvs)
  }

  /** `st`'s dirs; fails when there are none. */
  private def liveDirs(st: LogState, asOf: Option[Long]): Seq[String] =
    if (st.dirs.nonEmpty) st.dirs
    else throw new IllegalStateException(s"TxTable $root: no committed data" +
      asOf.map(v => s" at or before version $v").getOrElse(""))

  /** The full log state at `asOf`, from ONE replay: visible data dirs,
    * active DV dirs and each dir's annotations. Every read path folds
    * THIS once instead of paying separate replays for dirs, DVs and
    * skipping metadata.
    *
    * Visibility folding: `delete` (and dvs-bearing `append`, the
    * atomic-update shape) manifests accumulate DV dirs; an `overwrite`
    * replaces the dir AND dv sets with its own lists (a data rewrite
    * either materialized the deletes — empty list, the OPTIMIZE path —
    * or explicitly carries the active set forward, the checkpoint/
    * restore path). ANNOTATIONS stick to immutable dirs permanently —
    * a zone recorded by the manifest that created a dir stays valid
    * however often a later compaction re-lists it; visibility is the
    * dirs fold's job, annotation only decorates. A dir holds at most
    * one annotation per kind and column; a later one replaces it.
    */
  private case class LogState(dirs: Vector[String], dvs: Vector[String],
                              anns: Map[String, Vector[Ann]])
  private object LogState {
    val Empty: LogState = LogState(Vector.empty, Vector.empty, Map.empty)
  }

  private def replayLog(asOf: Option[Long]): LogState = {
    val kept = versions().filter(v => asOf.forall(v <= _))
    // Fast path: a self-contained checkpoint manifest ([[checkpoint]])
    // carries the FULL state — dirs, DVs and annotations — so replay
    // folds only the tail after it. The `_last_checkpoint` pointer is a
    // best-effort hint (written after the publish, racy by design): a
    // stale, missing, or post-asOf pointer just falls back to the full
    // fold, never to a wrong one.
    val start = lastCheckpointVersion().filter(cv =>
      kept.contains(cv) && asOf.forall(cv <= _))
    val (init, tail) = start match {
      case Some(cv) =>
        val m = readManifest(cv)
        if (m.action == "checkpoint")
          (replayStep(LogState.Empty, m), kept.filter(_ > cv))
        else (LogState.Empty, kept) // corrupt pointer: full replay
      case None => (LogState.Empty, kept)
    }
    tail.foldLeft(init)((st, v) => replayStep(st, readManifest(v)))
  }

  private def replayStep(st: LogState, m: Manifest): LogState = {
    val anns = m.anns.foldLeft(st.anns) { case (acc, (i, a)) =>
      m.dirs.lift(i).fold(acc) { d =>
        acc.updated(d, acc.getOrElse(d, Vector.empty)
          .filterNot(b => b.getClass == a.getClass && b.col == a.col) :+ a)
      }
    }
    m.action match {
      case "overwrite" | "checkpoint" =>
        LogState(m.dirs.toVector, m.dvs.toVector, anns)
      case _ =>
        LogState(st.dirs ++ m.dirs, st.dvs ++ m.dvs, anns)
    }
  }

  /** `st`'s annotations keyed by index into `st.dirs`: what a manifest
    * re-listing those dirs (checkpoint, clone) carries.
    */
  private def annotationsOf(st: LogState): Seq[(Int, Ann)] =
    st.dirs.zipWithIndex.flatMap { case (d, i) =>
      st.anns.getOrElse(d, Vector.empty).map(i -> _)
    }

  private def lastCheckpointPath: Path = logDir.resolve("_last_checkpoint")

  /** The checkpoint-pointer hint, validated only as far as "names an
    * existing manifest" — action and asOf bounds are the caller's.
    */
  private def lastCheckpointVersion(): Option[Long] =
    if (!Files.exists(lastCheckpointPath)) None
    else try {
      val v = new String(Files.readAllBytes(lastCheckpointPath), "UTF-8").trim.toLong
      if (Files.exists(manifestPath(v))) Some(v) else None
    } catch { case _: Exception => None }

  /** Publish a SELF-CONTAINED log checkpoint (the Delta `_last_checkpoint`
    * analog): one `checkpoint` manifest carrying the complete current
    * state — live dirs, active DV dirs and every dir's annotations —
    * plus a pointer file so readers fold checkpoint + tail instead of
    * the whole history. No data is staged or moved; the cost is one
    * manifest write however large the table.
    *
    * This is what keeps replay O(recent commits) on a table that has
    * accumulated a million commits: a checkpoint carries the zone and
    * Bloom annotations along with the dir list, so everything before
    * it is dead weight for readers at or past it. Time travel BELOW
    * the checkpoint still full-replays — history is never rewritten.
    *
    * Concurrency: the manifest publishes through the same
    * create-exclusive loop as every commit; it changes no logical
    * state, so [[TxTransaction]] validation skips it (a checkpoint
    * landing mid-transaction is NOT a conflict). The pointer is
    * written after the publish with an atomic rename; two racing
    * checkpoints can leave the pointer at the older one, which costs
    * tail length, never correctness.
    */
  def checkpoint(): Long = {
    val v = publishAtHead { _ =>
      val st = replayLog(None)
      Manifest("checkpoint", st.dirs, st.dvs, annotationsOf(st))
    }
    val tmp = Files.createTempFile(logDir, "._lc-", ".tmp")
    try {
      Files.write(tmp, v.toString.getBytes("UTF-8"))
      Files.move(tmp, lastCheckpointPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case _: Exception => () } // pointer is a hint; publish stands
    finally Files.deleteIfExists(tmp)
    v
  }

  /** The visible data dirs and active DV dirs at `asOf` (one replay). */
  def resolveDirsAndDvs(asOf: Option[Long] = None): (Seq[String], Seq[String]) = {
    val st = replayLog(asOf)
    (st.dirs, st.dvs)
  }

  /** The data directories visible at `asOf` (testing/inspection). */
  def resolveDirs(asOf: Option[Long] = None): Seq[String] =
    resolveDirsAndDvs(asOf)._1

  /** The DV dirs active at `asOf` (testing/inspection). */
  def resolveDvDirs(asOf: Option[Long] = None): Seq[String] =
    resolveDirsAndDvs(asOf)._2

  /** `df` with the (_dv_file, _dv_row) physical identity of each row,
    * less the rows the DV dirs tombstone: tombstones are (file_path,
    * row_index) pairs — Spark's parquet metadata columns give every row
    * a stable physical identity with zero storage overhead — and
    * removal is one BROADCAST anti-join (the DV set is bounded by
    * delete volume since the last OPTIMIZE, not by table size; a
    * pipeline that lets deletes grow table-sized has an
    * OPTIMIZE-cadence problem, not a join-strategy one).
    */
  private def keyed(spark: SparkSession, df: DataFrame,
                    dvDirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val k = df
      .withColumn("_dv_file", col("_metadata.file_path"))
      .withColumn("_dv_row", col("_metadata.row_index"))
    if (dvDirs.isEmpty) k
    else {
      val dv = spark.read.schema(DvSchema).parquet(dvDirs: _*)
      k.join(broadcast(dv),
        k("_dv_file") === dv("file_path") && k("_dv_row") === dv("row_index"),
        "left_anti")
    }
  }

  /** DV-applied live read KEEPING the (_dv_file, _dv_row) columns — the
    * shared first stage of [[deleteWhere]] and [[updateWhere]] (both
    * must address the surviving rows by position to tombstone them).
    * Merged schema: on a schema-evolved table the matched rows must
    * carry the UNION schema — a read pinned to one dir's schema would
    * silently drop the evolved columns from every replacement row
    * updateWhere writes back.
    */
  private def liveKeyed(spark: SparkSession, dirs: Seq[String],
                        dvDirs: Seq[String]): DataFrame =
    keyed(spark, scan(spark, dirs, merge = true), dvDirs)

  /** Apply active deletion vectors to a raw multi-dir scan. The
    * metadata columns are projected only when DVs are active, so the
    * no-delete fast path is the plain vectorized scan.
    */
  private def applyDeletes(spark: SparkSession, df: DataFrame,
                           dvDirs: Seq[String]): DataFrame =
    if (dvDirs.isEmpty) df
    else keyed(spark, df, dvDirs).drop("_dv_file", "_dv_row")

  /** MERGE-ON-READ row deletion (the Delta/Iceberg deletion-vector
    * analog): matching rows are tombstoned by physical position
    * (file_path, row_index) into a tiny DV parquet dir and published
    * as a `delete` manifest — NO data file is rewritten, so deleting
    * a thousand rows from a 100 TB table costs one filtered scan and
    * a KB-scale write instead of a table rewrite (the copy-on-write
    * alternative [[overwrite]] pays). Readers merge on read via one
    * broadcast anti-join; [[optimizeCompact]]/[[optimizeClustered]]
    * materialize the deletes and clear the DV set. Time travel is
    * exact: a snapshot BEFORE the delete version sees every row.
    * Tombstones are computed against the DV-APPLIED snapshot, so
    * re-deleting an already-deleted row never duplicates entries.
    * Optimistic ([[rewriteAtHead]]): on losing the head race the
    * staged DV is stale (a concurrent OPTIMIZE may have rewritten the
    * very files it points into) — it is dropped and recomputed.
    */
  def deleteWhere(spark: SparkSession, cond: Column): Long =
    rewriteAtHead("delete from") { st =>
      val stage = stageData(liveKeyed(spark, st.dirs, st.dvs).filter(cond)
        .select(col("_dv_file").as("file_path"), col("_dv_row").as("row_index")))
      Some((Manifest("delete", Nil, Seq(stage)), Seq(stage)))
    }

  /** MERGE-ON-READ UPDATE: tombstone the matching rows AND append
    * their transformed replacements in ONE manifest — an `append`
    * whose `dvs` carries the tombstones, so the swap is atomic (a
    * reader sees either the old rows or the new rows, never both,
    * never neither). Cost is proportional to the MATCHED rows (one
    * filtered scan + a matched-size write), not the table — the
    * row-level-update shape copy-on-write [[overwrite]] cannot afford
    * at 100 TB. `set` maps column name → replacement expression
    * evaluated on the matched rows; unlisted columns carry over.
    */
  def updateWhere(spark: SparkSession, cond: Column,
                  set: Map[String, Column]): Long =
    rewriteAtHead("update") { st =>
      val dataCols = // union schema: see liveKeyed's note
        scan(spark, st.dirs, merge = true).columns.toSeq
      // A typo'd set key would otherwise be a silent no-op that still
      // commits tombstones + unchanged replacements.
      val unknown = set.keySet -- dataCols.toSet
      require(unknown.isEmpty,
        s"TxTable $root: updateWhere set keys not in the table schema: " +
          unknown.mkString(", "))
      val matched = liveKeyed(spark, st.dirs, st.dvs).filter(cond).persist()
      try {
        val dvStage = stageData(matched
          .select(col("_dv_file").as("file_path"), col("_dv_row").as("row_index")))
        val rowStage = stageData(matched.select(dataCols.map(c =>
          set.getOrElse(c, col(c)).as(c)): _*))
        Some((Manifest("append", Seq(rowStage), Seq(dvStage)), Seq(dvStage, rowStage)))
      } finally { matched.unpersist(); () }
    }

  /** DATA compaction (OPTIMIZE): rewrite the current snapshot into
    * `targetPartitions` files in ONE new dir and commit it as an
    * overwrite — the small-files remedy after many little appends
    * (streaming sinks, per-batch commits). History is untouched:
    * every pre-optimize version still resolves to its original
    * immutable dirs (reclaim them with [[vacuum]] only after dropping
    * history on purpose — they stay manifest-referenced until then).
    * Optimistic ([[rewriteAtHead]]): losing the race to a concurrent
    * append re-reads the new head and rewrites, so no commit is ever
    * clobbered.
    */
  def optimizeCompact(spark: SparkSession, targetPartitions: Int = 1): Long =
    rewriteAtHead("optimize") { st =>
      val stage = stageData(compacted(spark, st.dirs, st.dvs, targetPartitions))
      Some((Manifest("overwrite", Seq(stage)), Seq(stage)))
    }

  /** `dirs` read DV-applied — the rewrite MATERIALIZES merge-on-read
    * deletes — under the merged schema (a compaction of an evolved
    * table must rewrite the UNION schema, or it would permanently drop
    * evolved columns), in `targetPartitions` partitions.
    */
  private def compacted(spark: SparkSession, dirs: Seq[String], dvs: Seq[String],
                        targetPartitions: Int): DataFrame =
    applyDeletes(spark, scan(spark, dirs, merge = true), dvs)
      .coalesce(math.max(targetPartitions, 1))

  /** PARTIAL OPTIMIZE (the Delta `OPTIMIZE ... WHERE` analog): compact
    * ONLY the dirs whose `statsCol` zone intersects [lo, hi] — the
    * "compact the hot ingest range, never touch cold history" shape a
    * streaming table needs weekly at 100 TB (a full rewrite costs the
    * table; this costs the hot range). Dirs whose zone PROVABLY misses
    * the range keep their files, their zone annotations and their
    * active tombstones untouched; dirs without a zone for `statsCol`
    * are conservatively included (they might hold matching rows).
    * The rewritten dir materializes merge-on-read deletes for the
    * range it absorbs and carries a fresh footer zone; DV dirs are
    * carried forward — tombstones into retired files become no-ops
    * (the anti-join is by file path), tombstones into kept files stay
    * live. Optimistic like every rewrite.
    */
  def optimizeCompactWhere(spark: SparkSession, statsCol: String,
                           lo: Long, hi: Long,
                           targetPartitions: Int = 1): Long =
    rewriteAtHead("optimize") { st =>
      val hot = prune(st, LongZone(statsCol, lo, hi))
      if (hot.isEmpty) None // nothing intersects: no-op
      else {
        val keep = st.dirs.diff(hot)
        val stage = stageData(compacted(spark, hot, st.dvs, targetPartitions))
        val zones = footerZones(stageFooters(spark, stage), Seq(statsCol), string = false)
          .map(keep.length -> _)
        Some((Manifest("overwrite", keep :+ stage, st.dvs, zones), Seq(stage)))
      }
    }

  /** OPTIMIZE with CLUSTERING (the Delta `OPTIMIZE ... ZORDER BY`
    * analog): rewrite the visible snapshot bucketed by `cluster`
    * (any deterministic numeric expression — callers pass a Morton
    * zval for multi-dimensional clustering) and publish ONE atomic
    * overwrite manifest carrying PER-DIR `statsCol` zones, so
    * [[snapshotRange]]/[[resolveDirsRange]] prune buckets after the
    * rewrite. Data is bit-identical before/after (lossless rewrite);
    * only the physical layout and the skipping metadata change.
    *
    * Scale shape: one pass over the snapshot (bucket column is plan-
    * time arithmetic from a 2-scalar min/max read), one partitioned
    * write, and each bucket dir's zones from its parquet footers (no
    * job). Concurrency: optimistic like every rewrite — losing the
    * head race discards the staged rewrite and rebuilds against the
    * new head; readers never observe an intermediate state because the
    * swap is a single manifest. `statsCol` must be a BIGINT column
    * (same contract as [[appendWithStats]]); `__zb` is reserved.
    */
  def optimizeClustered(spark: SparkSession, cluster: Column,
                        statsCol: String, nBuckets: Int = 8): Long =
    optimizeClusteredMulti(spark, cluster, Seq(statsCol), nBuckets)

  /** [[optimizeClustered]] with MULTI-COLUMN zone maps: each rewritten
    * bucket dir records min/max for EVERY column in `statsCols`, so
    * [[snapshotRange]] can prune on any of them — including columns
    * that are not part of the cluster key (useful whenever a second
    * column is correlated with the layout: time with id bands,
    * revenue with size tiers). Manifests stay O(buckets × columns)
    * bytes. All `statsCols` must be BIGINT (same contract as
    * [[appendWithStats]]).
    */
  def optimizeClusteredMulti(spark: SparkSession, cluster: Column,
                             statsCols: Seq[String],
                             nBuckets: Int = 8): Long = {
    import org.apache.spark.sql.functions.{floor, least, lit, max, min}
    require(statsCols.nonEmpty, s"TxTable $root: statsCols must be non-empty")
    val n = math.max(nBuckets, 1)
    rewriteAtHead("optimize") { st =>
      val snap = applyDeletes(spark, scan(spark, st.dirs, merge = true), st.dvs)
      val ck = cluster.cast("long")
      val r = snap.agg(min(ck), max(ck)).head()
      if (r.isNullAt(0)) { // no key values: a plain one-file compaction
        val stage = stageData(snap.coalesce(1))
        Some((Manifest("overwrite", Seq(stage)), Seq(stage)))
      } else {
        val (lo, hi) = (r.getLong(0), r.getLong(1))
        val span = math.max(hi - lo + 1, 1L).toDouble
        // Equi-width bucket from plan-time literals: deterministic
        // across the write pass.
        val bucket = least(
          floor((ck - lit(lo)).cast("double") * lit(n) / lit(span)),
          lit((n - 1).toLong)).cast("int")
        val stage = dataDir.resolve(java.util.UUID.randomUUID().toString)
        Files.createDirectories(dataDir)
        snap.withColumn("__zb", bucket)
          .repartition(n, col("__zb"))
          .write.partitionBy("__zb").parquet(stage.toString)
        // Bucket dirs come from the staged layout itself (empty
        // buckets write no dir).
        val bucketDirs = {
          val ls = Files.list(stage)
          try ls.iterator().asScala
            .map(_.getFileName.toString)
            .filter(_.startsWith("__zb="))
            .toSeq
            .sortBy(_.stripPrefix("__zb=").toInt)
            .map(d => stage.resolve(d).toString)
          finally ls.close()
        }
        val zones = bucketDirs.zipWithIndex.flatMap { case (d, i) =>
          footerZones(stageFooters(spark, d), statsCols, string = false).map(i -> _)
        }
        Some((Manifest("overwrite", bucketDirs, anns = zones), Seq(stage.toString)))
      }
    }
  }

  /** LOG RETENTION: delete every manifest BELOW the last checkpoint —
    * the step that makes [[checkpoint]]'s O(tail) replay an O(tail)
    * LOG too, and the head of the reclamation chain
    * (checkpoint → vacuumLog → [[vacuum]]): once pre-checkpoint
    * manifests are gone, data dirs referenced ONLY by them (e.g.
    * retired by a pre-checkpoint OPTIMIZE) lose their last reference
    * and become vacuumable. This EXPLICITLY surrenders time travel
    * below the checkpoint (reads there fail cleanly with "no
    * committed data" — spec'd in LogCheckpointSpec); like [[vacuum]]
    * with retention 0, call it only when no reader can be replaying
    * full history. No-op unless the pointer names a real checkpoint.
    */
  def vacuumLog(): Seq[Long] = lastCheckpointVersion() match {
    case Some(cv) if Files.exists(manifestPath(cv))
        && readManifest(cv).action == "checkpoint" =>
      val old = versions().filter(_ < cv)
      old.foreach(v => Files.deleteIfExists(manifestPath(v)))
      old
    case _ => Seq.empty
  }

  /** RESTORE to `toVersion` (the Delta `RESTORE TABLE ... TO VERSION`
    * analog): publish the RESOLVED dir set of that version as a new
    * overwrite head. Zero data movement — history after `toVersion`
    * stays readable (time travel is untouched; this is a new commit,
    * not a log rewind), and annotations keep working because they
    * stick to the immutable dirs via their CREATING manifests. Same
    * publish loop as every other writer.
    */
  def restore(toVersion: Long): Long = {
    // The restored state includes the DVs active AT that version —
    // restoring to a point after a merge-on-read delete must not
    // resurrect the deleted rows. One replay serves both sets.
    val st = replayLog(Some(toVersion))
    if (st.dirs.isEmpty)
      throw new IllegalStateException(
        s"TxTable $root: nothing to restore at version $toVersion")
    publishAtHead(_ => Manifest("overwrite", st.dirs, st.dvs))
  }

  /** SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE` analog):
    * create an independent table at `dstRoot` whose v1 manifest
    * REFERENCES this table's resolved data dirs — zero data copied,
    * one manifest written. Every annotation is carried over (Bloom
    * refs as absolute paths to this table's sidecars), so the clone's
    * range reads and point lookups prune exactly like the source's.
    * The clone is fully independent afterwards: its commits land in
    * its own log/data dirs, and its vacuum only ever scans its OWN
    * dataDir and log (borrowed source dirs and sidecars are never
    * orphan candidates). The shared-fate contract is the same as every
    * shallow-clone implementation: vacuuming the SOURCE can retire
    * dirs a clone still references — retention discipline spans
    * clones.
    */
  def shallowCloneTo(dstRoot: String, asOf: Option[Long] = None): TxTable = {
    val st = replayLog(asOf) // one replay: dirs + dvs + annotations
    if (st.dirs.isEmpty)
      throw new IllegalStateException(
        s"TxTable $root: nothing to clone" +
          asOf.map(v => s" at or before version $v").getOrElse(""))
    val anns = annotationsOf(st).map {
      case (i, BloomRef(c, f)) => i -> BloomRef(c, logDir.resolve(f).toAbsolutePath.toString)
      case e => e
    }
    val dst = new TxTable(dstRoot)
    // Clones see the DV-applied state: borrowed DV dirs ride along
    // exactly like borrowed data dirs (same shared-fate contract).
    if (!dst.tryPublish(1, Manifest("overwrite", st.dirs, st.dvs, anns)))
      throw new IllegalStateException(
        s"TxTable $dstRoot: destination already has a version 1")
    dst
  }

  /** Delete data dirs referenced by NO manifest (crash/lost-race
    * orphans — invisible to every reader by construction), plus
    * `_txlog` Bloom sidecars no manifest names (the crash window
    * between sidecar write and manifest publish leaks one).
    * Returns the deleted dir/file names.
    *
    * RETENTION: an in-flight writer's staged-but-unpublished dir is
    * indistinguishable from a crash orphan by name alone, so anything
    * younger than `retentionMillis` (mtime) is left in place — a live
    * commit completes or crashes well inside the default hour, after
    * which the dir is provably dead. Pass 0 only when no writer can
    * be in flight (tests, single-writer maintenance windows); real
    * log-structured formats gate reclamation with the same clock.
    */
  def vacuum(retentionMillis: Long = TxTable.DefaultVacuumRetentionMillis): Seq[String] = {
    if (!Files.isDirectory(dataDir)) return Seq.empty
    val cutoff = System.currentTimeMillis() - math.max(retentionMillis, 0L)
    def oldEnough(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis <= cutoff
      catch { case _: java.io.IOException => false } // vanished: skip
    val manifests = versions().map(readManifest)
    // Reference by the TOP-LEVEL dataDir component: clustered-rewrite
    // commits list NESTED bucket dirs (<uuid>/__zb=k), and vacuuming
    // the <uuid> parent because only its children are named would
    // delete live data.
    val dataRoot = dataDir.toAbsolutePath.normalize
    // DV dirs are ordinary staged dirs under data/ — any manifest's
    // dvs list protects them exactly like its dirs list.
    val referenced = manifests.flatMap(m => m.dirs ++ m.dvs).map { d =>
      val p = Paths.get(d).toAbsolutePath.normalize
      if (p.startsWith(dataRoot) && p.getNameCount > dataRoot.getNameCount)
        p.getName(dataRoot.getNameCount).toString
      else p.getFileName.toString
    }.toSet
    val it = Files.list(dataDir)
    val orphans =
      try it.iterator().asScala
        .filterNot(p => referenced.contains(p.getFileName.toString))
        .filter(oldEnough)
        .map(_.toString).toList
      finally it.close()
    orphans.foreach(o => graft.TmpIO.deleteRecursively(new java.io.File(o)))
    // Orphan Bloom sidecars: same publish discipline, same retention.
    val liveSidecars = manifests.flatMap(_.anns.collect {
      case (_, BloomRef(_, f)) => f }).toSet
    val deadSidecars =
      if (!Files.isDirectory(logDir)) Nil
      else {
        val lt = Files.list(logDir)
        try lt.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".bloom"))
          .filterNot(p => liveSidecars.contains(p.getFileName.toString))
          .filter(oldEnough)
          .map(_.toString).toList
        finally lt.close()
      }
    deadSidecars.foreach(s => Files.deleteIfExists(Paths.get(s)))
    (orphans ++ deadSidecars).map(Paths.get(_).getFileName.toString)
  }

  /** The manifest codec's reader (the writer is [[TxTable.encode]]).
    * The only legacy shape: commit-level `stats`/`bloom` annotate
    * every dir of their commit, ahead of its per-dir entries.
    */
  private def readManifest(v: Long): Manifest = {
    val o = Json.readTree(Files.readAllBytes(manifestPath(v)))
    def field(key: String): JsonNode = Option(o.get(key)).getOrElse(
      throw new IllegalStateException(s"TxTable $root: manifest v$v missing $key"))
    def texts(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    def longZone(e: JsonNode) =
      LongZone(e.get("column").asText, e.get("min").asLong, e.get("max").asLong)
    def bloomRef(e: JsonNode) = BloomRef(e.get("column").asText, e.get("file").asText)
    val dirs = texts(field("dirs"))
    def everyDir(key: String)(ann: JsonNode => Ann): Seq[(Int, Ann)] =
      Option(o.get(key)).toSeq.flatMap(e => dirs.indices.map(_ -> ann(e)))
    def perDir(key: String)(ann: JsonNode => Ann): Seq[(Int, Ann)] =
      o.path(key).elements().asScala.map(e => e.get("i").asInt -> ann(e)).toSeq
    Manifest(field("action").asText, dirs, texts(o.path("dvs")),
      everyDir("stats")(longZone) ++ everyDir("bloom")(bloomRef) ++
        perDir("zones")(longZone) ++ perDir("dblooms")(bloomRef) ++
        perDir("szones")(e => HexZone(e.get("column").asText,
          e.get("slo").asText, e.get("shi").asText)))
  }

  private def stageData(df: DataFrame): String = {
    Files.createDirectories(logDir)
    Files.createDirectories(dataDir)
    val stage = dataDir.resolve(java.util.UUID.randomUUID().toString)
    df.write.parquet(stage.toString)
    stage.toString
  }

  /** The parquet files of a dir, by name, and a reader of one file's
    * footer; driver-side, no Spark job.
    */
  private def parquetFiles(spark: SparkSession, dir: String)
      : (Seq[org.apache.hadoop.fs.FileStatus],
         org.apache.hadoop.fs.FileStatus => org.apache.parquet.hadoop.metadata.ParquetMetadata) = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(dir)
    val files = path.getFileSystem(conf).listStatus(path).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    (files, { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try r.getFooter finally r.close()
    })
  }

  /** Parquet footers of a staged dir, by file, driver-side (no Spark
    * job).
    */
  private def stageFooters(spark: SparkSession, stage: String)
      : Seq[(org.apache.hadoop.fs.Path, org.apache.parquet.hadoop.metadata.ParquetMetadata)] = {
    val (files, footer) = parquetFiles(spark, stage)
    files.map(f => f.getPath -> footer(f))
  }

  /** Fails unless every file of a staged dir has one schema, the
    * contract [[dirSchema]] reads a dir's schema from one footer under.
    */
  private def requireOneSchema(spark: SparkSession, stage: String,
      footers: Seq[(org.apache.hadoop.fs.Path, org.apache.parquet.hadoop.metadata.ParquetMetadata)]): Unit = {
    val schemas = footers.map { case (f, md) =>
      org.apache.spark.sql.graftshim.ParquetShim.footerSchema(spark, f, md.getFileMetaData)
    }.distinct
    require(schemas.size <= 1, s"TxTable $root: the files of $stage have " +
      s"${schemas.size} schemas (${schemas.map(_.simpleString).mkString("; ")}); " +
      "every file in a published dir must have one")
  }

  /** Each data dir's parquet file metadata, from ONE of its footers:
    * every file in a published dir has one schema (a dir is immutable
    * once staged, and [[appendStaged]], the one publish of files this
    * table did not write itself, checks it). Memoized for the life of
    * this instance and converted at each read, so the reading session's
    * parquet settings apply; a dir with no parquet file has none.
    */
  private val dirFooters = new java.util.concurrent.ConcurrentHashMap[String,
    Option[(org.apache.hadoop.fs.Path, org.apache.parquet.hadoop.metadata.FileMetaData)]]()

  private def dirSchema(spark: SparkSession, dir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    dirFooters.computeIfAbsent(dir, _ => {
      val (files, footer) = parquetFiles(spark, dir)
      files.headOption.map(f => f.getPath -> footer(f).getFileMetaData)
    }).map { case (f, meta) =>
      org.apache.spark.sql.graftshim.ParquetShim.footerSchema(spark, f, meta)
    }

  /** The read schema of `dirs` without a Spark job: with `merge`, every
    * dir's schema folded in log order (the union schema of an additively
    * evolved table, as a `mergeSchema` read infers it); without, the
    * first dir's. None if no dir holds a parquet file.
    */
  private def readSchema(spark: SparkSession, dirs: Seq[String], merge: Boolean)
      : Option[org.apache.spark.sql.types.StructType] = {
    val schemas = dirs.iterator.flatMap(dirSchema(spark, _))
    if (merge) schemas.reduceOption(
      org.apache.spark.sql.graftshim.ParquetShim.merge(spark, _, _))
    else schemas.nextOption()
  }

  /** A parquet scan of `dirs` whose schema is given ([[readSchema]]),
    * so building it starts no schema-inference job. Dirs without any
    * parquet file fall back to Spark's own inference and its error.
    */
  private def scan(spark: SparkSession, dirs: Seq[String],
                   merge: Boolean): DataFrame =
    readSchema(spark, dirs, merge) match {
      case Some(s) => spark.read.schema(s).parquet(dirs: _*)
      case None => spark.read.parquet(dirs: _*)
    }

  /** Exact row count of a staged dir from its footers (no job). */
  private def footerRowCount(spark: SparkSession, stage: String): Long =
    stageFooters(spark, stage)
      .flatMap(_._2.getBlocks.asScala.map(_.getRowCount)).sum

  /** The zones of the named columns over a staged dir, merged across
    * its files and row groups from the parquet FOOTERS alone (no Spark
    * job): a [[LongZone]] per INT64 column, or with `string` a
    * [[HexZone]] per BINARY column. Each equals the min/max an
    * aggregation over the staged rows returns: INT64 statistics are
    * exact, and BINARY ones are untruncated and ordered by unsigned
    * bytes, Spark's string order. A column is OMITTED (no zone, never
    * skipped) when it is absent, of the other type, has no non-null
    * value, or has a chunk in a non-empty row group whose statistics
    * carry no min/max and do not show it all-null (statistics disabled,
    * a foreign writer, or a value over parquet's 4 KB statistics
    * limit): a zone without that chunk could under-cover.
    */
  private def footerZones(
      footers: Seq[(org.apache.hadoop.fs.Path, org.apache.parquet.hadoop.metadata.ParquetMetadata)],
      cols: Seq[String], string: Boolean): Seq[Ann] = {
    import org.apache.parquet.column.statistics.Statistics
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val want = if (string) PrimitiveTypeName.BINARY else PrimitiveTypeName.INT64
    val acc = scala.collection.mutable.Map.empty[String, Statistics[_]]
    var unbounded = Set.empty[String]
    for ((_, md) <- footers; b <- md.getBlocks.asScala; c <- b.getColumns.asScala) {
      val name = c.getPath.toDotString
      val st: Statistics[_] = c.getStatistics
      if (cols.contains(name)) {
        if (c.getPrimitiveType.getPrimitiveTypeName != want) unbounded += name
        else if (st != null && st.hasNonNullValue)
          acc.getOrElseUpdate(name, Statistics.createStats(c.getPrimitiveType))
            .mergeStatistics(st)
        else {
          val allNull = st != null && st.isNumNullsSet && st.getNumNulls == c.getValueCount
          if (b.getRowCount > 0 && !allNull) unbounded += name
        }
      }
    }
    cols.filterNot(unbounded).flatMap(c => acc.get(c).map { s =>
      (s.genericGetMin, s.genericGetMax) match {
        case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary) =>
          HexZone(c, hex(mn.getBytes), hex(mx.getBytes))
        case (mn: java.lang.Long, mx: java.lang.Long) => LongZone(c, mn, mx)
      }
    })
  }

  /** Stage the batch invisibly, then publish with create-exclusive
    * retry against the moving head. Data files exist BEFORE any
    * manifest names them, so a crash between the steps leaks an
    * orphan dir ([[vacuum]]able) but never a torn table.
    */
  private def commit(df: DataFrame, action: String): Long = {
    val stage = stageData(df)
    publishAtHead(_ => Manifest(action, Seq(stage)))
  }

  /** The one retry-at-head loop: publish `manifest(v)` at v = head + 1,
    * and after each lost race at the new head + 1 (`manifest` may
    * re-read the log, and throws to give up). Returns the version won.
    */
  @annotation.tailrec
  private def publishAtHead(manifest: Long => Manifest): Long = {
    val v = latestVersion().getOrElse(0L) + 1
    if (tryPublish(v, manifest(v))) v else publishAtHead(manifest)
  }

  /** The one optimistic rewrite: `derive` a manifest from the state at
    * head h and publish it at h + 1; after a lost race, delete the dirs
    * the derivation staged and derive again against the new head.
    * `derive` returns the manifest and its staged dirs, or None when
    * the state needs no commit (then the head is returned). Fails on
    * a table with no data ("nothing to `what`").
    */
  @annotation.tailrec
  private def rewriteAtHead(what: String)(
      derive: LogState => Option[(Manifest, Seq[String])]): Long = {
    val head = latestVersion().getOrElse(0L)
    val st = replayLog(None)
    if (st.dirs.isEmpty)
      throw new IllegalStateException(s"TxTable $root: nothing to $what")
    derive(st) match {
      case None => head
      case Some((m, staged)) =>
        if (tryPublish(head + 1, m)) head + 1
        else {
          // Lost to a concurrent commit: the rewrite is stale.
          staged.foreach(s => graft.TmpIO.deleteRecursively(new java.io.File(s)))
          rewriteAtHead(what)(derive)
        }
    }
  }

  /** Publish manifest `v` exclusively: full bytes to a temp file, then
    * an atomic hard link into place — link(2) fails with EEXIST if the
    * version was taken, and a reader can never observe partial JSON
    * because the content exists in full before the name does. Returns
    * false on losing the race.
    */
  private[graft] def tryPublish(v: Long, m: Manifest): Boolean = {
    Files.createDirectories(logDir)
    val json = encode(v, m)
    val tmp = Files.createTempFile(logDir, s".v$v-", ".tmp")
    Files.write(tmp, json)
    try {
      try { Files.createLink(manifestPath(v), tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          // Filesystem without hard links: CREATE_NEW single write —
          // still create-exclusive, with an (accepted) tiny window of
          // partial content instead of none.
          try {
            Files.write(manifestPath(v), json,
              java.nio.file.StandardOpenOption.CREATE_NEW)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
      }
    } finally Files.deleteIfExists(tmp)
  }
}
