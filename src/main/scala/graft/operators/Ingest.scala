package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.TickerStore

/** Ingest-path operators exercised through the verification gate: the
  * store's append/read round-trip (K1/K2) and daily-partitioned layout
  * with partition pruning (D4), driven by the `events` test table.
  *
  * Each run writes to a fresh temp directory and deletes it after the
  * eager read-back (TmpIO.collectAndClean), so Verify and Bench can
  * invoke the query repeatedly without accumulating state OR disk —
  * the reference's `run_key` idempotency concern, sensors.py:15,
  * solved by construction here and by dynamic partition overwrite in
  * [[graft.sources.TickerStore]].
  */
object Ingest {

  private def freshDir(prefix: String): String =
    graft.TmpIO.scratchDir(prefix)

  /** K1/K2 — distributed append through TickerStore, then read back.
    * Output = the business columns that survive the round-trip
    * unchanged, so the oracle is simply the source table: proves the
    * sink neither drops, duplicates, nor mutates rows.
    */
  def appendRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // Corpus-sized read-back: stable per-gate staging + LAZY return
    // (the store itself is the bounded residue, wiped next invocation).
    val storeDir = graft.TmpIO.stableDir("k1")
    val store = new TickerStore(storeDir)
    val src = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    store.append(src, "20240101")
    store.read(spark)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** D4 — write events hive-partitioned by event date, then scan one
    * day back. The read plan's `PartitionFilters` prunes every other
    * date directory before any file is opened — at 100 TB / 365 days
    * that is a 365× I/O cut before the first byte is read.
    */
  def partitionPrunedDay(spark: SparkSession, dir: String,
                         day: String = "2024-01-03"): DataFrame = {
    val tableDir = freshDir("graft_d4_")
    Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
      // cluster rows by their target partition before the partitioned
      // write: one file per date instead of (tasks × dates) small files
      // — at 100 TB the difference between a healthy table and a
      // small-file catastrophe.
      .repartition(col("event_date"))
      .write.partitionBy("event_date").parquet(tableDir + "/t")
    graft.TmpIO.collectAndClean(spark, tableDir)(
        spark.read.parquet(tableDir + "/t")
          .filter(col("event_date") === lit(day))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               Analytics.exactSum(col("value"), 30, 2).as("sum_value")))
      .orderBy(col("event_type"))
  }

  /** K1 through a columnar non-parquet format: ORC round-trip (format
    * breadth — reader/writer symmetry proven through the oracle gate).
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.TmpIO.stableDir("k2orc") // corpus round-trip: lazy
    val src = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    graft.sources.FormatIO.write(src, "orc", root + "/t")
    graft.sources.FormatIO.read(spark, "orc", root + "/t", src.schema)
      .orderBy(col("event_id"))
  }

  /** Text-format round-trips (k3/k4): CSV and JSON lines through the
    * same FormatIO seam as ORC — proves reader/writer symmetry for the
    * interchange formats (doubles survive via shortest-representation
    * printing; longs and strings trivially).
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame =
    textFormatRoundtrip(spark, dir, "csv")

  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame =
    textFormatRoundtrip(spark, dir, "json")

  private def textFormatRoundtrip(spark: SparkSession, dir: String,
                                  format: String): DataFrame = {
    val root = graft.TmpIO.stableDir(format) // corpus round-trip: lazy
    val src = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    graft.sources.FormatIO.write(src, format, root + "/t")
    graft.sources.FormatIO.read(spark, format, root + "/t", src.schema)
      .orderBy(col("event_id"))
  }

  /** Batch MERGE (upsert): new rows replace existing rows with the same
    * key; unmatched existing rows survive. Composed as anti-join +
    * union — one shuffle on the key. This is the keyed complement to
    * TickerStore.overwritePartition's partition-level idempotency:
    * partition overwrite when updates align with the layout, keyed
    * merge when they don't.
    */
  def upsert(existing: DataFrame, updates: DataFrame, key: String): DataFrame = {
    // `updates` usually SHARES the existing frame's lineage (the delta
    // is computed from the table), so joining existing(key) ===
    // updates(key) compares the same attribute id and the analyzer
    // logs a "trivially true equals predicate" warning on every run —
    // noise that would bury a real self-join bug. Rename the probe key
    // so the equality is between distinct attributes by construction.
    val uk = s"__upsert_$key"
    val probe = updates.select(col(key).as(uk))
    existing.join(probe, existing(key) === probe(uk), "left_anti")
      .unionByName(updates)
  }

  /** Gated MERGE exercise (up1): updates = re-priced rows for every
    * 7th key plus brand-new keys minted from every 97th row; the
    * oracle states the same MERGE as NOT EXISTS + UNION ALL. Proves
    * matched-row replacement, unmatched survival, and insert-of-new
    * in one result.
    */
  def upsertGate(spark: SparkSession, dir: String): DataFrame = {
    val existing = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val updates = existing.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + lit(1000.0))
      .unionByName(existing.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + lit(10000000L)))
    upsert(existing, updates, "event_id")
      .orderBy(col("event_id"))
  }

  /** Surgical partition replacement (k5): load three daily partitions,
    * dynamic-partition-overwrite ONLY the middle day with re-priced
    * rows, and read everything back — days 1 and 3 must survive
    * untouched, day 2 must carry the replacement. This is the
    * reference's daily re-materialization semantics (a backfill of one
    * day must never clobber its neighbors); rk1 proves idempotency of
    * the overwrite, this proves its SELECTIVITY.
    */
  def partitionReplaceGate(spark: SparkSession, dir: String): DataFrame = {
    val storeDir = graft.TmpIO.stableDir("k5") // corpus read-back: lazy
    val store = new TickerStore(storeDir)
    val e = Tables.events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
    val days = e.select(col("day")).distinct().orderBy(col("day"))
      .limit(3).collect().map(_.getString(0))
    val src = e.select(col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("day"))
    days.foreach { d =>
      store.append(src.filter(col("day") === d).drop("day"), d)
    }
    // Graceful at probe scale: if the events table spans fewer than two
    // distinct days there is no "middle day" to replace — mirror the
    // oracle's row_number()=2 CASE, which then re-prices nothing.
    if (days.length >= 2) store.overwritePartition(
      src.filter(col("day") === days(1)).drop("day")
        .withColumn("value", col("value") + lit(500.0)),
      days(1))
    store.read(spark)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("partition_date"))
      .orderBy(col("event_id"))
  }

  /** Gated k6: small-file compaction — the maintenance pass every
    * streaming-ingested table needs at scale (each micro-batch appends
    * a file per partition; a week of 1-minute batches is 10k files and
    * the scan planner drowns in footers). Rewrite with a row-count
    * target per output file derived from the table's own count —
    * content byte-identical, file count collapsed. The gate stages the
    * events table as 40 deliberate file shards, compacts, and returns
    * the read-back (oracle = the source table: compaction must neither
    * drop, duplicate, nor mutate); the file-count collapse itself is
    * asserted in FormatIOSpec.
    */
  def compactionGate(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.TmpIO.stableDir("k6") // corpus read-back: lazy
    val src = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    src.repartition(40).write.parquet(root + "/fragmented")
    val frag = spark.read.parquet(root + "/fragmented")
    compact(frag, root + "/compacted", targetRowsPerFile = 2000000)
    graft.TmpIO.deleteSubdirs(root, "fragmented")
    spark.read.parquet(root + "/compacted")
      .orderBy(col("event_id"))
  }

  /** Gated k7: the DataSource V2 SINK end-to-end — write the events
    * slice through [[graft.sources.v2.LocalFileSink]]'s batch-write
    * commit protocol (executor staging files → task commit messages →
    * driver publish), read the published files back by schema. Oracle
    * = the source table: the protocol must publish exactly one copy of
    * every row, no more (duplicate attempts), no less (torn commits).
    */
  def v2SinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.TmpIO.stableDir("k7") // corpus read-back: lazy
    val src = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    src.write.format("graft.sources.v2.LocalFileSink")
      .option("path", root + "/out").mode("append").save()
    spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .csv(root + "/out")
      .orderBy(col("event_id"))
  }

  /** Gated k15: DataSource V2 REQUIRED DISTRIBUTION AND ORDERING —
    * with `clusterBy`/`sortBy` options the sink's Write advertises
    * `RequiresDistributionAndOrdering`, and SPARK plans the hash
    * exchange + per-partition sort before any writer runs: the
    * connector states the layout contract, the engine satisfies it
    * (the V2-native form of bucketed writes). The gate writes orders
    * clustered by priority and sorted by orderkey, reads the
    * published files back WITH their file identity, and hashes the
    * contract itself: every priority lives in EXACTLY ONE file, and
    * every file's rows arrive orderkey-sorted (counted as adjacent
    * inversions in WRITE order — zero). The oracle restates the
    * contract as literals next to per-priority row counts, so a
    * regression in the exchange/sort planning flips the hash.
    *
    * Write order is witnessed by the sink's recorded `writeSeq`
    * column, NOT read order or monotonically_increasing_id(): Spark
    * bin-packs CSV splits by size, so one large file can be read
    * across several partitions whose ids do not follow file offset —
    * only a sequence the WRITER stamped survives any read layout.
    */
  def v2RequiredDistribution(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.TmpIO.stableDir("k15")
    Tables.orders(spark, dir)
      .selectExpr("o_orderpriority AS prio", "o_orderkey AS k",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
      .repartition(16) // scatter the input so the exchange has work to do
      .write.format("graft.sources.v2.LocalFileSink")
      .option("path", root + "/out")
      .option("clusterBy", "prio").option("sortBy", "k")
      .option("writeSeq", "true")
      .mode("append").save()
    val back = spark.read
      .schema("prio STRING, k LONG, cents LONG, seq LONG")
      .csv(root + "/out")
      .select(col("prio"), col("k"), col("seq"),
        col("_metadata.file_path").as("f"))
    // A file may hold several cluster keys (hash partitions are
    // many-to-one); the sort contract is (prio, k), so k-order holds
    // WITHIN each (file, prio) run.
    back
      .withColumn("prev", lag(col("k"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("f"), col("prio"))
          .orderBy(col("seq"))))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("f")).cast("bigint").as("n_files"),
        sum(when(col("prev").isNotNull && col("prev") > col("k"), 1L)
          .otherwise(0L)).cast("bigint").as("inversions"))
      .orderBy(col("prio"))
  }

  /** Gated k9: DataSource V2 AGGREGATE pushdown end-to-end. The quote
    * universe is the 25 nation names (read from the real parquet dim,
    * collected — a bounded catalog-size transfer), and the query asks
    * only `count(*) / min(symbol) / max(symbol)`. The connector
    * answers all three from the universe itself
    * ([[graft.sources.v2.QuoteAggScan]]) — zero quote fetches, one
    * 1-row partition — where the unpushed plan would fan out one
    * fetch per symbol. Oracle = the same aggregates over `nation`.
    */
  def v2AggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val symbols = Tables.nation(spark, dir)
      .select(col("n_name")).collect().map(_.getString(0))
    spark.read.format("graft.sources.v2.QuoteDataSource")
      .option("symbols", symbols.mkString(",")).load()
      .agg(count(lit(1)).as("n_quotes"),
        min(col("symbol")).as("first_sym"),
        max(col("symbol")).as("last_sym"))
  }

  /** Gated k10: DataSource V2 TOP-N pushdown. `ORDER BY symbol LIMIT
    * 5` reaches the connector, which sorts the UNIVERSE and plans
    * partitions for only the 5 winning symbols — 5 fetches instead of
    * 25 (or 10k). Spark keeps the global Sort+Limit on top (partial
    * pushdown), so the prune can never change the answer.
    */
  def v2TopNPushdown(spark: SparkSession, dir: String): DataFrame = {
    val symbols = Tables.nation(spark, dir)
      .select(col("n_name")).collect().map(_.getString(0))
    spark.read.format("graft.sources.v2.QuoteDataSource")
      .option("symbols", symbols.mkString(",")).load()
      .orderBy(col("symbol")).limit(5)
      .select(col("symbol"))
  }

  /** Gated k11: DataSource V2 RUNTIME filtering. The quote scan joins
    * a FILTERED dim (region-0 nations, 5 of 25); Spark broadcasts the
    * dim, feeds the surviving join keys to the scan's runtime filter,
    * and only those symbols are fetched — dynamic partition pruning
    * where the "partitions" are API calls. The spec asserts the
    * fetch-count cut; this gate asserts the joined result.
    */
  def v2RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val symbols = Tables.nation(spark, dir)
      .select(col("n_name")).collect().map(_.getString(0))
    val quotes = spark.read.format("graft.sources.v2.QuoteDataSource")
      .option("symbols", symbols.mkString(",")).load()
    val dim = Tables.nation(spark, dir)
      .filter(col("n_regionkey") === 0)
      .select(col("n_name"))
    quotes.join(broadcast(dim), quotes("symbol") === dim("n_name"))
      .select(col("symbol"))
      .orderBy(col("symbol"))
  }

  /** Gated k13: DataSource V2 REPORTED PARTITIONING. The quote scan
    * declares `KeyGroupedPartitioning(symbol)` (one InputPartition per
    * symbol — [[graft.sources.v2.QuoteScan.outputPartitioning]]), so
    * with DSv2 bucketing enabled this per-symbol aggregation plans
    * with ZERO Exchange nodes: the fetch fan-out already IS the
    * distribution the aggregate needs. The aggregate deliberately
    * includes `min(market_price)` so the complete-pushdown path (k9)
    * does NOT fire and a real per-row scan runs. The spec asserts the
    * shuffle-free plan; this gate pins the result (count 1 per symbol,
    * generator prices strictly positive).
    */
  def v2PartitionedAgg(spark: SparkSession, dir: String): DataFrame = {
    // Needed at EXECUTION time; the bench/verify harness enables it
    // session-wide so gates are order-independent — this set only
    // covers standalone use on a vanilla session (and is then a
    // deliberate session-level enable, not a scoped toggle: the
    // returned plan is lazy, so save/restore here would be a no-op).
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val symbols = Tables.nation(spark, dir)
      .select(col("n_name")).collect().map(_.getString(0))
    spark.read.format("graft.sources.v2.QuoteDataSource")
      .option("symbols", symbols.mkString(",")).load()
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_rows"),
        (min(col("market_price")) > 0).as("price_positive"))
      .orderBy(col("symbol"))
  }

  /** Gated k14: STORAGE-PARTITIONED JOIN over two V2 scans. Both
    * sides are quote fetches of the SAME symbol universe at different
    * seeds (two "polling rounds" of the feed); each reports
    * `KeyGroupedPartitioning(symbol)`, so the equi-join on symbol
    * plans with NO Exchange and NO Sort on either side — partition i
    * of the left joins partition i of the right, fetch-local. This is
    * the DSv2 answer to bucketed joins (b1) for sources that are not
    * files: at 10k symbols the two fan-outs zip together without a
    * byte of shuffle. The round-over-round delta report every quote
    * monitor computes (did the price move?).
    */
  def v2StoragePartitionedJoin(spark: SparkSession, dir: String): DataFrame = {
    // Session-level enable, same rationale as [[v2PartitionedAgg]].
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val symbols = Tables.nation(spark, dir)
      .select(col("n_name")).collect().map(_.getString(0))
    def read(seed: Long) =
      spark.read.format("graft.sources.v2.QuoteDataSource")
        .option("symbols", symbols.mkString(",")).option("seed", seed.toString)
        .load().select(col("symbol"), col("market_price"))
    val a = read(42L).withColumnRenamed("market_price", "price_a")
    val b = read(99L).withColumnRenamed("market_price", "price_b")
    a.join(b, Seq("symbol"))
      .select(col("symbol"),
        (col("price_a") > 0 && col("price_b") > 0).as("both_positive"),
        (col("price_a") =!= col("price_b")).as("price_moved"))
      .orderBy(col("symbol"))
  }

  /** Rewrite `df` into `outPath` with ceil(rows / targetRowsPerFile)
    * output files. One adaptive count decides the width — the same
    * scalar the planner reads from parquet footers anyway; rows stay
    * distributed throughout (round-robin repartition, no sort, no
    * driver data).
    */
  def compact(df: DataFrame, outPath: String, targetRowsPerFile: Long): Unit = {
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    df.repartition(nFiles).write.parquet(outPath)
  }

  /** SCD Type-2 history maintenance (scd1): apply a batch of dimension
    * updates while preserving history — matched keys get their current
    * row CLOSED (is_current=0) and a new open row appended; unmatched
    * rows pass through. One shuffle on the key (a left join decides
    * close-vs-carry, a union appends the new versions) — the keyed
    * complement of partition-overwrite idempotency, for dimensions
    * that mutate in place at 100 TB fact scale.
    *
    * The gated exercise re-segments every 10th customer to
    * 'MACHINERY'; version 1 = original rows, version 2 = new rows.
    */
  def scd2Gate(spark: SparkSession, dir: String): DataFrame = {
    val existing = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        lit(1).as("version"), lit(1).as("is_current"))
    val updates = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 10 === 0)
      .filter(col("c_mktsegment") =!= "MACHINERY")
      .select(col("c_custkey"), lit("MACHINERY").as("c_mktsegment"))
    val updatedKeys = updates.select(col("c_custkey").as("u_key"))
    val closedOrCarried = existing
      .join(updatedKeys, col("c_custkey") === col("u_key"), "left")
      .select(col("c_custkey"), col("c_mktsegment"), col("version"),
        when(col("u_key").isNotNull, lit(0)).otherwise(col("is_current"))
          .as("is_current"))
    val newVersions = updates
      .select(col("c_custkey"), col("c_mktsegment"),
        lit(2).as("version"), lit(1).as("is_current"))
    closedOrCarried.unionByName(newVersions)
      .orderBy(col("c_custkey"), col("version"))
  }

  /** D6/EP3 — the reactive meta pipeline end-to-end through the gate:
    * stream the events table (file-stream source = the "sensor"),
    * incrementally aggregate per-key min/max/count in streaming state,
    * snapshot the meta table idempotently, then read the result back.
    * Oracle = the equivalent batch GROUP BY, proving the incremental
    * streaming path converges to the batch answer.
    */
  def reactiveMeta(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tmp = freshDir("graft_r1_")
    // File-stream sources watch a table DIRECTORY (new files = upstream
    // materialization events); stage the test file into one.
    val upstream = new java.io.File(s"$tmp/upstream")
    upstream.mkdirs()
    // Driver testdata ships single parquet FILES; rehearsal corpora
    // (tools/ScaleUp, any Spark write) produce DIRECTORIES of part
    // files — a naive Files.copy of a directory copies an EMPTY dir
    // and the stream's schema inference throws. Stage whichever form.
    val srcEvents = java.nio.file.Paths.get(s"$dir/events.parquet")
    if (Files.isDirectory(srcEvents)) {
      import scala.jdk.CollectionConverters._
      val it = Files.list(srcEvents)
      try it.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .zipWithIndex.foreach { case (p, i) =>
          Files.copy(p,
            java.nio.file.Paths.get(s"$tmp/upstream/part-$i.parquet"))
        }
      finally it.close()
    } else {
      Files.copy(srcEvents,
        java.nio.file.Paths.get(s"$tmp/upstream/events.parquet"))
    }
    val pipeline = new graft.streaming.ReactiveMetaPipeline(
      s"$tmp/upstream", s"$tmp/meta", s"$tmp/ckpt")
    pipeline.runAvailableNow(spark)
    graft.TmpIO.collectAndClean(spark, tmp)(
        spark.read.parquet(s"$tmp/meta")
          .select(col("event_type"), col("min_value"), col("max_value"),
            col("n_events")))
      .orderBy(col("event_type"))
  }

  /** Idempotent re-materialization (run_key semantics): append the same
    * partition twice via overwritePartition — row count must equal one
    * copy. Returned as a 1-row DataFrame for the gate.
    */
  def idempotentOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val storeDir = freshDir("graft_rk_")
    val store = new TickerStore(storeDir)
    val src = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    store.overwritePartition(src, "20240101")
    store.overwritePartition(src, "20240101") // re-delivery of the same partition
    graft.TmpIO.collectAndClean(spark, storeDir)(
      store.read(spark).agg(count(lit(1)).as("n_rows")))
  }

  /** Incremental view maintenance (gate ivm1): a materialized per-key
    * aggregate updated by MERGING a new partition's delta aggregates
    * into the previous state — the pattern that lets a 100 TB daily
    * pipeline maintain rollups by touching one day of data instead of
    * recomputing history. Counts add; value sums stay DECIMAL through
    * the merge (exact, order-invariant) and only cast to DOUBLE at the
    * very end, so the incrementally-maintained result is bit-identical
    * to the oracle's full recompute — the gate IS the IVM correctness
    * proof. The day split point is a one-scalar control-plane read.
    */
  def incrementalAggMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    val maxDay = e.agg(max(col("day"))).collect()(0).getDate(0)
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(30,2)")).as("s"))
    val base = rollup(e.filter(col("day") < lit(maxDay)))
      .select(col("event_type"), col("n").as("bn"), col("s").as("bs"))
    val delta = rollup(e.filter(col("day") === lit(maxDay)))
      .select(col("event_type"), col("n").as("dn"), col("s").as("ds"))
    base.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("bs"), lit(0).cast("decimal(30,2)"))
          + coalesce(col("ds"), lit(0).cast("decimal(30,2)")))
          .cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }


  /** Gated ivm2: INCREMENTAL JOIN-VIEW MAINTENANCE through the
    * TxTable changes feed — [[incrementalAggMaintenance]]'s missing
    * half: real pipelines maintain JOIN views (fact ⋈ dim rollups),
    * and the delta algebra is Δ(O ⋈ C) = ΔO ⋈ C ∪ O ⋈ ΔC ∪ ΔO ⋈ ΔC.
    * Both sides live in TxTables committed in batches (orders in 3,
    * customers in 2); after each commit the maintained per-nation
    * rollup absorbs ONLY the delta join — ΔO against the current
    * customer snapshot, or the current order snapshot against ΔC —
    * never a recompute. Because each (order, customer) pair completes
    * exactly once (at the LATER of its two sides' commits), the
    * maintained view over the full commit schedule must equal a
    * from-scratch join — the oracle IS the full recompute, so the
    * hash match is the incremental ≡ rebuilt proof (the ss9 pattern
    * applied to relational views).
    *
    * Numeric contract: counts are BIGINT; price mass stays
    * DECIMAL(30,2) through every merge (exact, order-invariant) and
    * casts to DOUBLE once at the end. Scale shape: each round joins
    * one bounded delta against a snapshot (broadcast the dim-side
    * delta at real scale), merges a 25-row rollup with a full-outer
    * coalesce, and truncates lineage — maintenance cost tracks the
    * delta, not history, which is the entire point of IVM at 100 TB.
    */
  def incrementalJoinView(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.TmpIO.scratchDir("graft_ivm2_")
    val oTx = new graft.sources.TxTable(s"$tmp/orders")
    val cTx = new graft.sources.TxTable(s"$tmp/customer")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    def joined(odf: DataFrame, cdf: DataFrame): DataFrame =
      odf.join(cdf, col("o_custkey") === col("c_custkey"))
    def aggView(j: DataFrame): DataFrame =
      j.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(30,2)")).as("s"))
    val zero = lit(0).cast("decimal(30,2)")
    var view: DataFrame = null
    def absorb(delta: DataFrame): Unit = {
      view = view.select(col("c_nationkey"), col("n").as("bn"), col("s").as("bs"))
        .join(delta.select(col("c_nationkey"), col("n").as("dn"), col("s").as("ds")),
          Seq("c_nationkey"), "full_outer")
        .select(col("c_nationkey"),
          (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("bs"), zero) + coalesce(col("ds"), zero))
            .cast("decimal(30,2)").as("s"))
        .localCheckpoint() // 25-row state; flat lineage per round
    }
    // round 1: initial batches on both sides → full (small) join
    oTx.append(o.filter(col("o_orderkey") % 3 === 0))
    var oSeen = oTx.latestVersion().get
    cTx.append(cust.filter(col("c_custkey") % 2 === 0))
    var cSeen = cTx.latestVersion().get
    view = aggView(joined(oTx.snapshot(spark), cTx.snapshot(spark)))
      .localCheckpoint()
    // round 2: ΔO ⋈ C
    oTx.append(o.filter(col("o_orderkey") % 3 === 1))
    val oH2 = oTx.latestVersion().get
    val dO2 = oTx.readChanges(spark, afterVersion = oSeen, untilVersion = Some(oH2))
    oSeen = oH2
    absorb(aggView(joined(dO2, cTx.snapshot(spark))))
    // round 3: O ⋈ ΔC
    cTx.append(cust.filter(col("c_custkey") % 2 === 1))
    val cH3 = cTx.latestVersion().get
    val dC3 = cTx.readChanges(spark, afterVersion = cSeen, untilVersion = Some(cH3))
    cSeen = cH3
    absorb(aggView(joined(oTx.snapshot(spark), dC3)))
    // round 4: ΔO ⋈ C (customer side now complete)
    oTx.append(o.filter(col("o_orderkey") % 3 === 2))
    val oH4 = oTx.latestVersion().get
    val dO4 = oTx.readChanges(spark, afterVersion = oSeen, untilVersion = Some(oH4))
    oSeen = oH4
    absorb(aggView(joined(dO4, cTx.snapshot(spark))))
    val out = view.select(col("c_nationkey").cast("int").as("nation"),
        col("n").as("n_orders"),
        round(col("s").cast("double"), 2).as("total_price"))
      .orderBy(col("nation"))
    graft.TmpIO.collectAndClean(spark, tmp)(out)
  }

  /** Gate z1: Z-ORDER (Morton) layout key over (o_custkey,
    * o_totalprice) — the multi-dimensional clustering that makes
    * parquet min/max skipping work for MORE THAN ONE predicate column.
    * A table sorted by custkey alone has tight custkey footers but
    * full-span price footers in every file; writing in zval order
    * bounds BOTH dims per file (LayoutSpec measures it), so a query
    * filtering either column prunes most files from the footer stats
    * alone. This is the same layout idea as Delta/Iceberg Z-ordering,
    * expressed as a plain deterministic column.
    *
    * Mechanics: each dim quantizes to a 16-bit cell with mirrored
    * double math (corpus min/max are plan-time literals — a 4-number
    * control-plane read), and the 32-bit zval interleaves the cell
    * bits as a static 16-term shift/mask chain inside codegen. At
    * scale the write is `repartitionByRange(zval)` + sortWithinPartitions
    * — one range shuffle, no driver data.
    */
  /** 16-bit equi-width quantizer cell (shared by z1 and tt8). */
  def zorderCell(v: org.apache.spark.sql.Column, lo: Double, hi: Double): org.apache.spark.sql.Column =
    floor((v.cast("double") - lo) * 65536.0 / (hi - lo + 1.0)).cast("long")

  /** 32-bit Morton interleave of two 16-bit cells — a static 16-term
    * shift/mask chain inside codegen (shared by z1 and tt8).
    */
  def mortonZval(cx: org.apache.spark.sql.Column, cy: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(cx, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(cy, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val s = o.agg(
      min(col("o_custkey").cast("double")), max(col("o_custkey").cast("double")),
      min(col("o_totalprice").cast("double")), max(col("o_totalprice").cast("double")))
      .collect()(0)
    val (minc, maxc, minp, maxp) =
      (s.getDouble(0), s.getDouble(1), s.getDouble(2), s.getDouble(3))
    val q = o.select(col("o_orderkey"),
      zorderCell(col("o_custkey"), minc, maxc).as("cx"),
      zorderCell(col("o_totalprice"), minp, maxp).as("cy"))
    q.withColumn("zval", mortonZval(col("cx"), col("cy")))
      .orderBy(col("zval"), col("o_orderkey"))
  }

  /** Gated k12: ERASURE-CASCADE audit — the "right to be forgotten"
    * pass: given a subject predicate (here: customers of one nation),
    * report per table how many rows the cascade removes and keeps,
    * following the FK chain customer → orders → lineitem.
    *
    * Scale shape: the subject key set flows DOWN the chain as
    * semi-join probes — customer keys prune orders, the surviving
    * order keys prune lineitem — so each fact table is scanned once
    * and only key columns shuffle (and at TPC-H-like dim/fact ratios
    * the key sets broadcast; AQE demotes to shuffle joins when a
    * cascade front grows past the threshold). The actual delete is
    * the same anti-join written back via [[partitionReplaceGate]]'s
    * dynamic-overwrite machinery; the audit IS the delete's plan with
    * counts instead of a sink.
    */
  def cascadeDeleteAudit(spark: SparkSession, dir: String,
                         nation: Long = 7): DataFrame = {
    // Rename the cascading key frames so the semi-joins against their
    // own source tables can't hit ambiguous-lineage resolution.
    val doomedCust = Tables.customer(spark, dir)
      .filter(col("c_nationkey") === nation)
      .select(col("c_custkey").as("del_key"))
    val doomedOrders = Tables.orders(spark, dir)
      .join(broadcast(doomedCust),
        col("o_custkey") === col("del_key"), "left_semi")
      .select(col("o_orderkey").as("del_key"))
    def audit(name: String, df: DataFrame, doomed: DataFrame,
              key: Column): DataFrame = {
      val hit = df.join(broadcast(doomed), key === col("del_key"), "left_semi")
      df.agg(count(lit(1)).as("rows_total"))
        .crossJoin(hit.agg(count(lit(1)).as("rows_deleted")))
        .select(lit(name).as("table_name"), col("rows_total"),
          col("rows_deleted"),
          (col("rows_total") - col("rows_deleted")).as("rows_kept"))
    }
    (audit("customer", Tables.customer(spark, dir), doomedCust,
        col("c_custkey")) ::
      audit("orders", Tables.orders(spark, dir), doomedCust,
        col("o_custkey")) ::
      audit("lineitem", Tables.lineitem(spark, dir), doomedOrders,
        col("l_orderkey")) :: Nil)
      .reduce(_ unionAll _)
      .orderBy(col("table_name"))
  }

  /** Gated tt1: TIME-TRAVEL read through the [[graft.sources.TxTable]]
    * commit log — three commits (append evens, append odds, OVERWRITE
    * down to every-100th order), then one snapshot aggregate per
    * version. Proves the log semantics end-to-end: v1 sees only the
    * first append, v2 the union, v3 only the overwrite — and v1/v2
    * remain exactly reproducible AFTER the overwrite landed, which is
    * the reproducible-training-snapshot property a bare parquet
    * directory cannot give. The oracle states each version as a plain
    * filter over `orders`, so the gate hash-fails if any commit leaks
    * into, or drops from, the wrong snapshot.
    */
  def timeTravelGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_tt1_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    t.append(o.filter(col("o_orderkey") % 2 === 0))
    t.append(o.filter(col("o_orderkey") % 2 === 1))
    t.overwrite(o.filter(col("o_orderkey") % 100 === 0))
    def snapAgg(v: Long): DataFrame = t.snapshot(spark, Some(v))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(30,2)"))
          .cast("decimal(30,2)").as("total"))
      .select(lit(v).cast("long").as("version"), col("n_rows"), col("total"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        snapAgg(1).unionAll(snapAgg(2)).unionAll(snapAgg(3)))
      .orderBy(col("version"))
  }

  /** Gated tt2: transactional MERGE (upsert) through the TxTable log —
    * base commit (orderkeys ≡ 0 mod 3), then a delta that UPDATES the
    * ≡ 0 mod 6 subset (doubled cents) and INSERTS the ≡ 1 mod 3 keys,
    * applied as one full-outer merge committed atomically as version
    * 2. The readout aggregates BOTH versions, so the gate proves (a)
    * merge semantics (update-wins / keep / insert in one pass) and
    * (b) that the pre-merge snapshot stays bit-exactly readable after
    * the merge landed — the SCD/feature-store maintenance pattern on
    * a log-structured table. The merge itself is one shuffle on the
    * key (full outer join); at 100 TB the same plan runs with the
    * base side bucketed by key and only the delta shuffling.
    */
  def txMergeGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_tt2_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    t.append(o.filter(col("k") % 3 === 0)) // v1: base
    val delta = o.filter(col("k") % 6 === 0 || col("k") % 3 === 1)
      .select(col("k").as("dk"), (col("cents") * 2).as("dcents"))
    val base = t.snapshot(spark, Some(1))
    val merged = base.join(delta, col("k") === col("dk"), "full_outer")
      .select(coalesce(col("k"), col("dk")).as("k"),
        coalesce(col("dcents"), col("cents")).as("cents"))
    t.overwrite(merged) // v2: the merge result, atomically visible
    def snapAgg(v: Long): DataFrame = t.snapshot(spark, Some(v))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast("bigint").as("total_cents"))
      .select(lit(v).cast("long").as("version"), col("n_rows"),
        col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        snapAgg(1).unionAll(snapAgg(2)))
      .orderBy(col("version"))
  }

  /** Gated tt3: ZONE-MAP DATA SKIPPING through the TxTable log —
    * orders committed in 8 orderkey bands (each manifest records the
    * band's min/max), then two fixed-range reads answered through
    * [[graft.sources.TxTable.snapshotRange]]: dirs whose zone misses
    * the range are never opened. Correctness never depends on the
    * pruning (a residual filter runs either way — the oracle is the
    * plain BETWEEN over `orders`); the SKIPPING itself is asserted in
    * TxTableSpec on a synthetic layout. This is the manifest-level
    * min/max index that makes a range query on a 100 TB range-
    * clustered log table open O(matching bands) files, not O(table).
    */
  def zoneSkipGate(spark: SparkSession, dir: String,
                   bands: Int = 8): DataFrame = {
    val tmp = freshDir("graft_tt3_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    val maxK = o.agg(max(col("k"))).head.getLong(0)
    val w = maxK / bands + 1
    (0 until bands).foreach { i =>
      t.appendWithStats(
        o.filter(col("k") >= i * w && col("k") < (i + 1) * w), "k")
    }
    def rangeAgg(id: Int, lo: Long, hi: Long): DataFrame =
      t.snapshotRange(spark, "k", lo, hi)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("bigint").as("total_cents"))
        .select(lit(id).cast("int").as("range_id"), col("n_rows"),
          col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        rangeAgg(1, 1L, 5000L).unionAll(rangeAgg(2, 30000L, 45000L)))
      .orderBy(col("range_id"))
  }

  /** Gated cf1: CHANGES-FEED consumption — three append commits
    * (orderkeys by residue mod 3), then
    * [[graft.sources.TxTable.readChanges]] after version 1: the
    * consumer sees EXACTLY the rows of commits 2 and 3, each stamped
    * with its commit version. This is the incremental half of the
    * table contract (tt1/tt2/tt3 prove reads, st14 proves exactly-
    * once writes): a downstream rollup or dedup-index maintainer
    * processes O(new commits), never table history — the only shape
    * that survives a table that grows by 100 TB a month.
    */
  def changesFeedGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_cf1_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    (0 until 3).foreach(i => t.append(o.filter(col("k") % 3 === i)))
    graft.TmpIO.collectAndClean(spark, tmp)(
        t.readChanges(spark, afterVersion = 1)
          .groupBy(col("_commit_version").cast("long").as("commit_version"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).cast("bigint").as("total_cents")))
      .orderBy(col("commit_version"))
  }

  /** Gated tt5: BLOOM point-lookup skipping — orders committed in 6
    * hash-clustered batches, each manifest referencing a sidecar
    * Bloom filter over the orderkey; three point lookups (two present
    * keys, one absent) answered through
    * [[graft.sources.TxTable.snapshotEquals]], which opens only dirs
    * whose filter says "maybe". Zone maps (tt3) index RANGES on
    * range-clustered layout; blooms index MEMBERSHIP on any layout —
    * together they are the two skipping primitives a log table needs.
    * Correctness never depends on the filter (residual equality runs
    * either way; a Bloom "maybe" on an absent key just reads a dir
    * and finds nothing); the actual pruning is asserted in
    * TxTableSpec.
    */
  def bloomSkipGate(spark: SparkSession, dir: String,
                    buckets: Int = 6): DataFrame = {
    val tmp = freshDir("graft_tt5_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    (0 until buckets).foreach(i =>
      t.appendWithBloom(o.filter(col("k") % buckets === i), "k"))
    def probe(id: Int, key: Long): DataFrame =
      t.snapshotEquals(spark, "k", key)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("bigint").as("total_cents"))
        .select(lit(id).cast("int").as("probe_id"), lit(key).as("key"),
          col("n_rows"), col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        probe(1, 7L).unionAll(probe(2, 68L)).unionAll(probe(3, 999999999L)))
      .orderBy(col("probe_id"))
  }

  /** Gated tt6: ADDITIVE SCHEMA EVOLUTION across commits — v1 writes
    * (k, cents), v2 appends the same shape PLUS a `channel` column;
    * [[graft.sources.TxTable.snapshotEvolved]] reads the union schema
    * with nulls where the older commit predates the column, and the
    * readout buckets nulls as 'legacy'. The contract every long-lived
    * ingest needs: old data stays readable untouched, new columns
    * arrive without a table rewrite.
    */
  def schemaEvolutionGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_tt6_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    t.append(o.filter(col("k") % 2 === 0)) // v1: pre-evolution shape
    t.append(o.filter(col("k") % 2 === 1)  // v2: + channel column
      .withColumn("channel",
        when(col("k") % 4 === 1, lit("web")).otherwise(lit("store"))))
    graft.TmpIO.collectAndClean(spark, tmp)(
        t.snapshotEvolved(spark)
          .groupBy(coalesce(col("channel"), lit("legacy")).as("channel"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).cast("bigint").as("total_cents")))
      .orderBy(col("channel"))
  }

  /** Gated tt7: OPTIMIZE (data compaction) — six small append commits
    * (the streaming-sink small-files pattern), then
    * [[graft.sources.TxTable.optimizeCompact]] rewrites the snapshot
    * into one dir committed as an overwrite. The readout aggregates
    * the PRE-optimize head and the POST-optimize head: identical
    * numbers prove the rewrite is lossless, and the pre-optimize
    * version staying readable proves history survived the rewrite
    * (physical reclaim is a deliberate later vacuum). The tx-native
    * form of k6's compaction. TxTableSpec asserts the dir collapse
    * itself.
    */
  def txOptimizeGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_tt7_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    (0 until 6).foreach(i => t.append(o.filter(col("k") % 6 === i)))
    val pre = t.latestVersion().get
    t.optimizeCompact(spark)
    def snapAgg(label: Int, v: Long): DataFrame = t.snapshot(spark, Some(v))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast("bigint").as("total_cents"))
      .select(lit(label).cast("int").as("phase"), col("n_rows"),
        col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        snapAgg(1, pre).unionAll(snapAgg(2, pre + 1)))
      .orderBy(col("phase"))
  }

  /** Gated tt8: OPTIMIZE with Z-ORDER CLUSTERING — three time-sliced
    * append commits (each spanning the FULL custkey range: the layout
    * that defeats skipping), then
    * [[graft.sources.TxTable.optimizeClustered]] rewrites the
    * snapshot bucketed by the Morton zval of (custkey, cents) and
    * publishes per-bucket custkey zones in ONE atomic overwrite.
    * The readout proves the rewrite lossless (pre/post full
    * aggregates identical) and the skipping path correct (a custkey
    * range query through [[graft.sources.TxTable.snapshotRange]]
    * equals the plain SQL range select). The SPEC asserts the part
    * SQL cannot see: post-optimize the range read opens a strict
    * subset of bucket dirs, pre-optimize it had to open every
    * commit. Same layout idea as z1, pushed into the storage seam
    * where it belongs at 100 TB — skipping metadata rides the commit
    * record, not a side computation.
    */
  def txOptimizeZorderGate(spark: SparkSession, dir: String,
                           custLo: Long = 100, custHi: Long = 200): DataFrame = {
    val tmp = freshDir("graft_tt8_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k", "o_custkey AS cust",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    (0 until 3).foreach(i => t.append(o.filter(col("k") % 3 === i)))
    val pre = t.latestVersion().get
    // Morton cluster over (cust, cents): bounds are a 4-scalar
    // control-plane read of the snapshot.
    val s = t.snapshot(spark).agg(
      min(col("cust").cast("double")), max(col("cust").cast("double")),
      min(col("cents").cast("double")), max(col("cents").cast("double")))
      .head()
    val zval = mortonZval(
      zorderCell(col("cust"), s.getDouble(0), s.getDouble(1)),
      zorderCell(col("cents"), s.getDouble(2), s.getDouble(3)))
    t.optimizeClustered(spark, zval, "cust", nBuckets = 8)
    def agg(df: DataFrame, phase: Int): DataFrame = df
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast("bigint").as("total_cents"))
      .select(lit(phase).cast("int").as("phase"), col("n_rows"),
        col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        agg(t.snapshot(spark, Some(pre)), 1)         // pre-optimize head
          .unionAll(agg(t.snapshot(spark), 2))       // post-optimize: lossless
          .unionAll(agg(                             // zone-pruned range read
            t.snapshotRange(spark, "cust", custLo, custHi), 3)))
      .orderBy(col("phase"))
  }

  /** Gated tt9: RESTORE — commit the full table (v1), apply a "bad"
    * half-deleting overwrite (v2: the fat-finger incident), then
    * [[graft.sources.TxTable.restore]] republishes v1's resolved dirs
    * as v3 with ZERO data movement. The readout aggregates all three
    * versions: v3 ≡ v1 proves the rollback exact, v2 staying readable
    * proves restore is a forward commit, not a log rewind — the
    * incident remains auditable. Completes the time-travel story:
    * tt1 reads history, tt9 promotes it back to the head.
    */
  def txRestoreGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_tt9_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    t.append(o)                                  // v1: good state
    t.overwrite(o.filter(col("k") % 2 === 0))    // v2: the incident
    val restored = t.restore(1)                  // v3 == v1, zero copy
    def snapAgg(phase: Int, v: Long): DataFrame = t.snapshot(spark, Some(v))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast("bigint").as("total_cents"))
      .select(lit(phase).cast("int").as("phase"), col("n_rows"),
        col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        snapAgg(1, 1).unionAll(snapAgg(2, 2)).unionAll(snapAgg(3, restored)))
      .orderBy(col("phase"))
  }

  /** Gated tt10: SHALLOW CLONE — zero-copy table fork.
    * [[graft.sources.TxTable.shallowCloneTo]] publishes one manifest
    * referencing the source's data dirs (zone annotations carried
    * over), then the clone DIVERGES with its own append while the
    * source stays frozen. Phases: 1 source, 2 clone ≡ source,
    * 3 zone-served range read through the clone, 4 clone after its
    * divergent append, 5 source after the clone's append ≡ phase 1
    * (independence). The dev/experiment-branch workflow every
    * log-structured format ships; at 100 TB the fork costs one
    * manifest write however big the table is.
    */
  def txCloneGate(spark: SparkSession, dir: String,
                  custLo: Long = 100, custHi: Long = 200): DataFrame = {
    val tmp = freshDir("graft_tt10_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k", "o_custkey AS cust",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    (0 until 3).foreach(i =>
      t.appendWithStats(o.filter(col("k") % 3 === i), "cust"))
    val c = t.shallowCloneTo(s"$tmp/clone")
    def agg(df: DataFrame, phase: Int): DataFrame = df
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast("bigint").as("total_cents"))
      .select(lit(phase).cast("int").as("phase"), col("n_rows"),
        col("total_cents"))
    val p1 = agg(t.snapshot(spark), 1)
    val p2 = agg(c.snapshot(spark), 2)
    val p3 = agg(c.snapshotRange(spark, "cust", custLo, custHi), 3)
    // Divergence: the clone ingests nation-3 customers' orders AGAIN;
    // the source must not see them.
    val n3 = Tables.customer(spark, dir)
      .filter(col("c_nationkey") === 3).select(col("c_custkey").as("cc"))
    c.append(o.join(broadcast(n3), col("cust") === col("cc"), "left_semi"))
    val p4 = agg(c.snapshot(spark), 4)
    val p5 = agg(t.snapshot(spark), 5)
    graft.TmpIO.collectAndClean(spark, tmp)(
        p1.unionAll(p2).unionAll(p3).unionAll(p4).unionAll(p5))
      .orderBy(col("phase"))
  }

  /** Gated tt11: WRITE-WRITE CONFLICT DETECTION — the serializable
    * commit protocol ([[graft.sources.TxTransaction]]) driven through
    * a deterministic lost-update interleave. Phase 1: a MERGE
    * transaction reads v1 (orderkeys ≡ 0 mod 3), computes its upsert
    * (double the ≡ 0 mod 6 cents, insert the ≡ 1 mod 3 keys), and
    * while it computes a concurrent writer lands a merge-on-read
    * DELETE of the ≡ 0 mod 5 keys. The stale commit MUST be refused
    * (without the read-set validation it would overwrite v2 and
    * silently resurrect the deleted rows); the retry loop
    * ([[graft.sources.TxTable.mergeSerializable]]) then re-runs the
    * merge against the post-delete head, so the final state is
    * exactly the SERIAL delete-then-merge outcome the oracle
    * restates. Phase 2: a BLIND append transaction straddling another
    * delete commits fine — it read nothing, so nothing invalidated
    * it. The `refused` column carries the observed protocol decision
    * into the hash: a wrong accept/reject flips the gate red.
    */
  def txConflictGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_tt11_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    t.append(o.filter(col("k") % 3 === 0)) // v1: base
    val delta = o.filter(col("k") % 6 === 0 || col("k") % 3 === 1)
      .select(col("k").as("dk"), (col("cents") * 2).as("dcents"))
    def mergeWith(base: DataFrame): DataFrame =
      base.join(delta, col("k") === col("dk"), "full_outer")
        .select(coalesce(col("k"), col("dk")).as("k"),
          coalesce(col("dcents"), col("cents")).as("cents"))
    // Phase 1: the transaction's snapshot is pinned to v1; the
    // interleaved delete lands BEFORE it commits.
    val txA = t.transaction()
    val mergedStale = mergeWith(txA.snapshot(spark))
    t.deleteWhere(spark, col("k") % 5 === 0) // v2, mid-transaction
    val refusedA =
      try { txA.commit(mergedStale, "overwrite"); 0L }
      catch { case _: graft.sources.ConcurrentWriteException => 1L }
    t.mergeSerializable(spark)(mergeWith) // serial delete-then-merge
    def agg(phase: String, refused: Long): DataFrame = t.snapshot(spark)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast("bigint").as("total_cents"))
      .select(lit(phase).as("phase"), lit(refused).cast("bigint").as("refused"),
        col("n_rows"), col("total_cents"))
    val p1 = agg("merge_after_conflict", refusedA)
    // Phase 2: blind append straddling a delete — must NOT be refused.
    val txC = t.transaction()
    t.deleteWhere(spark, col("k") % 7 === 0)
    val extra = o.filter(col("k") % 3 === 2 && col("k") % 11 === 0)
    val refusedC =
      try { txC.commit(extra, "append"); 0L }
      catch { case _: graft.sources.ConcurrentWriteException => 1L }
    val p2 = agg("blind_append", refusedC)
    graft.TmpIO.collectAndClean(spark, tmp)(p1.unionAll(p2))
      .orderBy(col("phase"))
  }

  /** Gated tt12: MULTI-COLUMN ZONE MAPS — manifests record min/max
    * for SEVERAL caller-named columns per dir, so range reads prune
    * on any of them, not just the one clustering key. Phases: banded
    * appends carry zones for (k, custkey) and are range-read on BOTH
    * (1: custkey — the second column; 2: k); then a clustered rewrite
    * by k records per-bucket zones for (k, cents) and is range-read
    * on the NON-cluster column cents (3) and on k again (4: lossless
    * rewrite ⇒ identical to 2). Correctness never depends on the
    * skipping (residual filters keep answers exact — the oracle is
    * four plain BETWEENs); the pruning itself is asserted in
    * TxTableSpec on a synthetic correlated layout.
    */
  def txMultiZoneGate(spark: SparkSession, dir: String,
                      bands: Int = 8): DataFrame = {
    val tmp = freshDir("graft_tt12_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k", "CAST(o_custkey AS BIGINT) AS cust",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    val maxK = o.agg(max(col("k"))).head.getLong(0)
    val w = maxK / bands + 1
    (0 until bands).foreach { i =>
      t.appendWithStatsMulti(
        o.filter(col("k") >= i * w && col("k") < (i + 1) * w),
        Seq("k", "cust"))
    }
    def rangeAgg(id: Int, c: String, lo: Long, hi: Long): DataFrame =
      t.snapshotRange(spark, c, lo, hi)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("bigint").as("total_cents"))
        .select(lit(id).cast("int").as("range_id"), col("n_rows"),
          col("total_cents"))
    val r1 = rangeAgg(1, "cust", 100L, 500L)
    val r2 = rangeAgg(2, "k", 5000L, 20000L)
    t.optimizeClusteredMulti(spark, col("k"), Seq("k", "cents"), nBuckets = 8)
    val r3 = rangeAgg(3, "cents", 1000000L, 5000000L)
    val r4 = rangeAgg(4, "k", 5000L, 20000L)
    graft.TmpIO.collectAndClean(spark, tmp)(
        r1.unionAll(r2).unionAll(r3).unionAll(r4))
      .orderBy(col("range_id"))
  }

  /** Gated ttd1: SNAPSHOT DIFF between two table versions — the audit
    * question the changes feed (cf1) cannot answer once lineage is
    * broken by RESTORE/CLONE/compaction: "what actually differs
    * between v_a and v_b", computed from the materialized snapshots
    * themselves. One full-outer join on the key classifies every row
    * added / removed / changed / unchanged; the readout is the
    * per-class row count and integer-cents totals on both sides
    * (pure BIGINT arithmetic — no float anywhere). At 100 TB the join
    * shuffles both snapshots once on the key — the unavoidable cost
    * of a lineage-free diff — and emits 4 rows; when lineage IS
    * intact, cf1's O(delta) feed is the cheap path and this gate is
    * the fallback that never lies.
    * Staged versions: v1 = orders sans every 4th key; v2 = orders
    * sans every 5th key with 'F'-status prices bumped 1000 cents —
    * so all four classes are populated deterministically.
    */
  def txVersionDiffGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_ttd1_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k", "o_orderstatus AS status",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    val va = t.append(o.filter(col("k") % 4 =!= 0))
    val vb = t.overwrite(o.filter(col("k") % 5 =!= 0)
      .withColumn("cents", when(col("status") === "F",
        col("cents") + 1000L).otherwise(col("cents"))))
    val a = t.snapshot(spark, Some(va))
      .select(col("k"), col("status").as("sa"), col("cents").as("ca"))
    val b = t.snapshot(spark, Some(vb))
      .select(col("k"), col("status").as("sb"), col("cents").as("cb"))
    val diff = a.join(b, Seq("k"), "full_outer")
      .select(
        when(col("ca").isNull, "added")
          .when(col("cb").isNull, "removed")
          .when(col("ca") =!= col("cb") || col("sa") =!= col("sb"), "changed")
          .otherwise("unchanged").as("change_type"),
        col("ca"), col("cb"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("ca"), lit(0L))).as("cents_before"),
        sum(coalesce(col("cb"), lit(0L))).as("cents_after"))
    graft.TmpIO.collectAndClean(spark, tmp)(diff)
      .orderBy(col("change_type"))
  }

  /** Gated tt4: ROW-LEVEL DELETE through the TxTable log — the
    * right-to-erasure path: all orders committed as v1, then "erase
    * every order of nation-7 customers" applied as one broadcast
    * anti-join and committed atomically as v2. The readout aggregates
    * both versions: v2 proves the deletion is complete-and-only (any
    * over- or under-delete hash-fails), v1 proves the pre-delete
    * snapshot is still bit-exactly readable — which is precisely what
    * time travel means for compliance: the DELETE is logical until
    * [[graft.sources.TxTable.checkpoint]], `vacuumLog` and vacuum
    * retire the old dirs (physical erasure = checkpoint the post-delete
    * snapshot, drop the log below it and vacuum, the documented
    * sequence every log-structured table format shares).
    */
  def txDeleteGate(spark: SparkSession, dir: String,
                   nation: Long = 7): DataFrame = {
    val tmp = freshDir("graft_tt4_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k", "o_custkey AS cust",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    t.append(o) // v1
    val doomed = Tables.customer(spark, dir)
      .filter(col("c_nationkey") === nation)
      .select(col("c_custkey").as("del_key"))
    val kept = t.snapshot(spark, Some(1))
      .join(broadcast(doomed), col("cust") === col("del_key"), "left_anti")
      .select(col("k"), col("cust"), col("cents"))
    t.overwrite(kept) // v2: the delete, atomically visible
    def snapAgg(v: Long): DataFrame = t.snapshot(spark, Some(v))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast("bigint").as("total_cents"))
      .select(lit(v).cast("long").as("version"), col("n_rows"),
        col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        snapAgg(1).unionAll(snapAgg(2)))
      .orderBy(col("version"))
  }

  /** Gated dv1: MERGE-ON-READ DELETION VECTORS through the TxTable
    * log — the scale path for small deletes that [[txDeleteGate]]'s
    * copy-on-write overwrite cannot afford at 100 TB: two stacked
    * [[graft.sources.TxTable.deleteWhere]] calls tombstone rows by
    * physical (file, row_index) position with ZERO data rewritten,
    * then OPTIMIZE materializes both vectors in one pass. The readout
    * hashes four phases — pre-delete, after each MoR delete, and
    * post-OPTIMIZE — and each phase row also carries the MANIFEST
    * STATE (data-dir / DV-dir counts): identical data dirs across the
    * MoR phases is the merge-on-read property itself, provable in the
    * oracle hash, and dv-count 0 after OPTIMIZE proves
    * materialization cleared the vectors. Time travel to the
    * pre-delete version inside the same log proves deleted rows stay
    * reproducible until vacuum.
    */
  def txDeleteVectorGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_dv1_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k", "o_custkey AS cust",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    t.append(o.filter(col("k") % 2 === 0)) // v1
    val vFull = t.append(o.filter(col("k") % 2 =!= 0)) // v2
    val vDel1 = t.deleteWhere(spark, col("k") % 3 === 0) // v3: MoR
    val vDel2 = t.deleteWhere(spark, col("cust") % 7 === 0) // v4: stacked
    val vOpt = t.optimizeCompact(spark, 2) // v5: materialize
    def phase(label: String, v: Long): DataFrame =
      t.snapshot(spark, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("bigint").as("total_cents"))
        .select(lit(label).as("phase"),
          lit(t.resolveDirs(Some(v)).size).as("n_data_dirs"),
          lit(t.resolveDvDirs(Some(v)).size).as("n_dv_dirs"),
          col("n_rows"), col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        phase("1_full", vFull)
          .unionAll(phase("2_mor_k3", vDel1))
          .unionAll(phase("3_mor_both", vDel2))
          .unionAll(phase("4_optimized", vOpt)))
      .orderBy(col("phase"))
  }

  /** Gated dv2: ATOMIC MERGE-ON-READ UPDATE — "raise every F-status
    * order total by 10%" lands as ONE manifest carrying both the
    * tombstones of the old rows and the appended replacements
    * ([[graft.sources.TxTable.updateWhere]]), so cost scales with the
    * MATCHED rows, not the table, and no reader can observe the
    * half-applied state. The phase rows prove it in the hash: the
    * update adds exactly one data dir (the replacements) and one DV
    * dir to an otherwise untouched dir set, row count is unchanged
    * (replace, not duplicate), and the pre-update version still
    * time-travels to the original totals.
    */
  def txUpdateVectorGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_dv2_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k", "o_orderstatus AS status",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    t.append(o.filter(col("k") % 2 === 0)) // v1
    val vFull = t.append(o.filter(col("k") % 2 =!= 0)) // v2
    val vUpd = t.updateWhere(spark, col("status") === "F",
      Map("cents" -> (col("cents") + expr("cents div 10")))) // v3: atomic MoR
    def phase(label: String, v: Long): DataFrame =
      t.snapshot(spark, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("bigint").as("total_cents"))
        .select(lit(label).as("phase"),
          lit(t.resolveDirs(Some(v)).size).as("n_data_dirs"),
          lit(t.resolveDvDirs(Some(v)).size).as("n_dv_dirs"),
          col("n_rows"), col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        phase("1_full", vFull).unionAll(phase("2_mor_update", vUpd)))
      .orderBy(col("phase"))
  }

  /** Gated tt13: SELF-CONTAINED LOG CHECKPOINT — two stats-annotated
    * appends and a merge-on-read delete, then
    * [[graft.sources.TxTable.checkpoint]] (one manifest carrying the
    * full state: dirs + DVs + zones + Bloom refs, plus the
    * `_last_checkpoint` pointer), then a third append. Four reads
    * prove every boundary: time travel BELOW the checkpoint (full
    * replay — history is never rewritten), a read AT the checkpoint
    * (the fast path alone), the head (checkpoint + tail fold), and a
    * zone-pruned range read whose skipping metadata flowed THROUGH
    * the checkpoint for pre-checkpoint dirs and from tail manifests
    * for the post-checkpoint one. This is what keeps replay
    * O(commits since checkpoint) — not O(table history) — on a table
    * that has accumulated a million commits; the O(tail) property
    * itself (reads keep working with pre-checkpoint manifests
    * physically removed) is asserted in the spec, where it belongs.
    */
  def txLogCheckpointGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_tt13_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    t.appendWithStats(o.filter(col("k") % 3 === 0), "k") // v1
    val vPre = t.appendWithStats(o.filter(col("k") % 3 === 1), "k") // v2
    t.deleteWhere(spark, col("cents") > lit(30000000L)) // v3: MoR DVs
    val vCk = t.checkpoint() // v4: state-bearing manifest + pointer
    t.appendWithStats(o.filter(col("k") % 3 === 2), "k") // v5
    def phase(label: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("bigint").as("total_cents"))
        .select(lit(label).as("phase"), col("n_rows"), col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        phase("1_below_ckpt", t.snapshot(spark, Some(vPre)))
          .unionAll(phase("2_at_ckpt", t.snapshot(spark, Some(vCk))))
          .unionAll(phase("3_head", t.snapshot(spark)))
          .unionAll(phase("4_range", t.snapshotRange(spark, "k", 1L, 5000L))))
      .orderBy(col("phase"))
  }

  /** Gated tt14: STRING ZONE MAPS — VARCHAR min/max data skipping at
    * the manifest level (the BIGINT zones of tt3/tt12, extended to
    * the column type category/date-string/identifier predicates
    * actually arrive in). Bounds ride the manifest as UTF-8 hex, so
    * ordering is the binary collation Spark, parquet and DuckDB all
    * compare strings with, and no string content ever needs JSON
    * escaping. Orders are committed one priority class per commit
    * (tight zones); a checkpoint lands mid-history so read 1's
    * pruning metadata must flow THROUGH the checkpoint while read 2's
    * comes from tail manifests. Correctness never depends on the
    * skipping (residual BETWEEN either way — the oracle is the plain
    * string-range scan); the pruning itself is spec-asserted.
    */
  def txStringZoneGate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("graft_tt14_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderpriority AS prio",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM").foreach(p =>
      t.appendWithStatsString(o.filter(col("prio") === p), "prio"))
    t.checkpoint()
    Seq("4-NOT SPECIFIED", "5-LOW").foreach(p =>
      t.appendWithStatsString(o.filter(col("prio") === p), "prio"))
    def rangeAgg(id: Int, lo: String, hi: String): DataFrame =
      t.snapshotRangeString(spark, "prio", lo, hi)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("bigint").as("total_cents"))
        .select(lit(id).cast("int").as("range_id"), col("n_rows"),
          col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        rangeAgg(1, "1", "2~")
          .unionAll(rangeAgg(2, "4", "9"))
          .unionAll(rangeAgg(3, "3-MEDIUM", "3-MEDIUM")))
      .orderBy(col("range_id"))
  }

  /** Gated tt15: PARTIAL OPTIMIZE — compaction scoped by a zone
    * predicate (`OPTIMIZE ... WHERE`): orders land in 6 orderkey
    * bands, a merge-on-read delete tombstones high-price rows, then
    * [[graft.sources.TxTable.optimizeCompactWhere]] compacts ONLY the
    * bands intersecting the low-key range — cold bands keep their
    * files, zones, and live tombstones; the rewritten dir materializes
    * its deletes and carries a fresh zone. The hashed phases pin the
    * physical claim (6 dirs before, 4 after: three bands fused into
    * one) next to the logical one (row counts and sums unchanged by
    * the rewrite, range reads exact through the mixed old/new
    * layout).
    */
  def txPartialOptimizeGate(spark: SparkSession, dir: String,
                            bands: Int = 6): DataFrame = {
    val tmp = freshDir("graft_tt15_")
    val t = new graft.sources.TxTable(s"$tmp/table")
    val o = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS k",
        "CAST(round(o_totalprice*100) AS BIGINT) AS cents")
    val maxK = o.agg(max(col("k"))).head.getLong(0)
    val w = maxK / bands + 1
    (0 until bands).foreach { i =>
      t.appendWithStats(
        o.filter(col("k") >= i * w && col("k") < (i + 1) * w), "k")
    }
    t.deleteWhere(spark, col("cents") > lit(40000000L))
    val before = t.resolveDirs().size.toLong
    t.optimizeCompactWhere(spark, "k", 0L, 3 * w - 1)
    val after = t.resolveDirs().size.toLong
    def phase(label: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("bigint").as("total_cents"))
        .select(lit(label).as("phase"),
          lit(before).as("dirs_before"), lit(after).as("dirs_after"),
          col("n_rows"), col("total_cents"))
    graft.TmpIO.collectAndClean(spark, tmp)(
        phase("1_full", t.snapshot(spark))
          .unionAll(phase("2_low_range", t.snapshotRange(spark, "k", 1L, 2 * w)))
          .unionAll(phase("3_high_range",
            t.snapshotRange(spark, "k", 4 * w, maxK))))
      .orderBy(col("phase"))
  }

  /** Gated enc1: RLE RUN-COUNT LAYOUT ESTIMATOR — the statistic a
    * layout optimizer (tt8's clustered OPTIMIZE, z1's Z-order) reads
    * to CHOOSE a sort order: for each candidate order and column, the
    * exact number of value runs the written files would carry, which
    * is what parquet RLE/dictionary pages actually encode (fewer runs
    * ⇒ smaller files AND tighter per-page min/max ⇒ better skipping).
    * lineitem under a time-clustered vs a key-clustered order: the
    * shipdate run count collapses under the time sort while the
    * high-cardinality suppkey stays ≈ n under both — the measured
    * basis for "cluster by date, not by key" decisions.
    *
    * Scale shape: adjacency under a total order WITHOUT a global
    * window and WITHOUT a rank self-join (round 14): a range exchange
    * on the sort key makes every partition a contiguous band of the
    * total order, a PARTITION-LOCAL lag window counts within-band
    * transitions (plus each band's first/last row values, from the
    * same pass), and the only sequential residue — whether a band's
    * first value continues the previous band's last run — is resolved
    * on the #partitions-sized band-boundary frame (the same bounded
    * control-plane object as [[Ranks]]' offset folds). The former
    * shape assigned exact global ranks and self-joined rank = rank+1,
    * which paid a second full-frame hash exchange plus the join; the
    * identity `runs = Σ within-band starts − Σ band boundaries whose
    * values match` computes the same exact counts with one exchange
    * and no join. Every stage is linear and partition-parallel;
    * nothing ever sees more than its range band.
    */
  def rleRunsGate(spark: SparkSession, dir: String): DataFrame = {
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val l = Tables.lineitem(spark, dir).select(
      col("l_shipdate"), col("l_returnflag"), col("l_linestatus"),
      col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))

    def runsUnder(label: String, order: Seq[Column]): DataFrame = {
      val parted = l.repartitionByRange(math.max(np, 1), order: _*)
        .withColumn("_pid", spark_partition_id())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_pid")).orderBy(order: _*)
      // All four lags + the last-row marker ride ONE window pass; the
      // measured columns are non-null (TPC-H shape), so lag-is-null ⇔
      // band-first and lead-is-null ⇔ band-last.
      val lagged = parted.select(col("_pid"),
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        col("l_suppkey").as("sk"), col("l_shipdate").as("sd"),
        lag(col("l_returnflag"), 1).over(w).as("p_rf"),
        lag(col("l_linestatus"), 1).over(w).as("p_ls"),
        lag(col("l_suppkey"), 1).over(w).as("p_sk"),
        lag(col("l_shipdate"), 1).over(w).as("p_sd"),
        lead(col("l_orderkey"), 1).over(w).isNull.as("_is_last"))
      def runs(c: String): Column =
        sum(when(col(s"p_$c").isNull || col(s"p_$c") =!= col(c), 1L)
          .otherwise(0L)).cast("bigint")
      // Per-band: within-band run starts + first/last row values. The
      // groupBy reuses the window's _pid partitioning — no exchange.
      val vals = struct(col("rf"), col("ls"), col("sk"), col("sd"))
      val perBand = lagged.groupBy(col("_pid")).agg(
        runs("rf").as("w_rf"), runs("ls").as("w_ls"),
        runs("sk").as("w_sk"), runs("sd").as("w_sd"),
        max(when(col("p_rf").isNull, vals)).as("f"),
        max(when(col("_is_last"), vals)).as("z"))
      // Band-boundary correction over the ≤ np-row band frame: a
      // band-first row was counted as a run start within its band;
      // subtract it when it actually continues the previous
      // (non-empty) band's last value.
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.operators.Ranks.boundedOnePartition(col("_pid")))
        .orderBy(col("_pid"))
      def cont(c: String): Column =
        coalesce(sum(when(col(s"pz.$c") === col(s"f.$c"), 1L)
          .otherwise(0L)), lit(0L))
      perBand.withColumn("pz", lag(col("z"), 1).over(wb))
        .agg((sum(col("w_rf")) - cont("rf")).cast("bigint").as("r_rf"),
          (sum(col("w_ls")) - cont("ls")).cast("bigint").as("r_ls"),
          (sum(col("w_sk")) - cont("sk")).cast("bigint").as("r_sk"),
          (sum(col("w_sd")) - cont("sd")).cast("bigint").as("r_sd"))
        .selectExpr(
          """stack(4, 'l_returnflag', r_rf, 'l_linestatus', r_ls,
            |'l_suppkey', r_sk, 'l_shipdate', r_sd)
            |AS (column_name, n_runs)""".stripMargin)
        .select(lit(label).as("sort_order"), col("column_name"),
          col("n_runs"))
    }

    runsUnder("ship_date",
        Seq(col("l_shipdate").asc, col("l_orderkey").asc,
          col("l_linenumber").asc))
      .unionAll(runsUnder("order_key",
        Seq(col("l_orderkey").asc, col("l_linenumber").asc)))
      .orderBy(col("sort_order"), col("column_name"))
  }
}
