package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's reactive layer (SURVEY §2.4 D6, §3 EP3) rebuilt on
  * Structured Streaming.
  *
  * Reference behavior: a Dagster `@asset_sensor` polls the event log
  * every ≥10 s (reference: dagster_repository/sensors.py:6-16); each
  * upstream `ticker` materialization triggers one `ticker_meta` run for
  * that partition, `run_key` = partition giving exactly-once semantics
  * (sensors.py:15); the meta job re-scans the whole table per key
  * (resources.py:55-76).
  *
  * Spark-first re-expression:
  *  - the "sensor" is a file-stream source on the upstream table
  *    directory — new files ARE the materialization events; no polling
  *    code, no event log.
  *  - the "run_key" is the streaming checkpoint: a batch is never
  *    replayed into visible state after a restart, and the sink write
  *    is an idempotent, atomic replace ([[publish]]), so re-delivery
  *    converges instead of duplicating (naive append would break
  *    exactly-once — SURVEY §7.4) and a reader always finds a table.
  *  - the meta aggregate is INCREMENTAL: min/max/count merge in the
  *    streaming state store per key, so each micro-batch does work
  *    proportional to NEW data, not table size. The reference re-scans
  *    everything per trigger; at 100 TB that difference is the whole
  *    ballgame.
  *
  * Triggers: `Trigger.AvailableNow` = catch-up/backfill mode (process
  * everything pending, then stop — used by tests and the verify gate);
  * `Trigger.ProcessingTime("10 seconds")` = the reference's 10 s poll
  * cadence for continuous deployment.
  */
class ReactiveMetaPipeline(
    upstreamDir: String,
    metaDir: String,
    checkpointDir: String) {

  /** Run the reactive meta materialization until all pending upstream
    * data is processed (AvailableNow), writing the per-key meta table
    * to `metaDir`. Returns after the stream stops.
    */
  def runAvailableNow(spark: SparkSession, keyCol: String = "event_type",
                      valueCol: String = "value"): Unit =
    run(spark, Trigger.AvailableNow, keyCol, valueCol).awaitTermination()

  /** Start the pipeline with an arbitrary trigger; caller manages the
    * returned query's lifecycle (used with ProcessingTime in prod-shape
    * deployments).
    */
  def run(spark: SparkSession, trigger: Trigger,
          keyCol: String = "event_type",
          valueCol: String = "value"): StreamingQuery =
    // One state partition: the state is O(keys), so every further
    // partition only adds a state-store commit and a meta file per
    // micro-batch. The stream clones the session conf at start, and the
    // checkpoint pins the count from its first batch on: a checkpoint
    // made under another count restarts with that count.
    graft.GraftSession.withConfs(spark, Seq("spark.sql.shuffle.partitions" -> "1")) {
      start(spark, trigger, keyCol, valueCol)
    }

  /** [[run]] under the session's own shuffle partition count, which a
    * new checkpoint's state then takes.
    */
  private[graft] def start(spark: SparkSession, trigger: Trigger,
                           keyCol: String, valueCol: String): StreamingQuery = {
    // Schema must be declared for file-stream sources; reuse the batch
    // footer schema of whatever currently exists upstream.
    val schema = spark.read.parquet(upstreamDir).schema
    val stream = spark.readStream.schema(schema).parquet(upstreamDir)

    // Incremental keyed min/max/count — state store holds one tiny row
    // per key; each micro-batch merges only its own partial aggregates.
    val meta = stream
      .groupBy(col(keyCol))
      .agg(
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"),
        count(lit(1)).as("n_events"))

    meta.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => publish(batch) }
      .start()
  }

  /** The sink: replace the meta table with one complete-mode batch,
    * atomically. The batch is written to `metaDir/_staging` (parquet
    * readers skip `_`-prefixed names), then its one part file is
    * renamed over `metaDir/meta.parquet`, so a reader of `metaDir` sees
    * the previous table or this one, never none: a batch that fails or
    * is stopped mid-write leaves the previous table in place. Re-running
    * a batch after failure rewrites the same result (run_key semantics,
    * sensors.py:15). The part file's `.crc` stays in staging, since a
    * checksum beside the target would have to match it.
    */
  private[graft] def publish(batch: DataFrame): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    def parts(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val ls = Files.list(dir)
      try ls.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-")).toList
      finally ls.close()
    }
    val staging = Paths.get(metaDir, "_staging")
    batch.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    Files.move(parts(staging).head, Paths.get(metaDir, "meta.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    // Part files of the former overwrite-the-dir layout.
    parts(Paths.get(metaDir)).foreach(Files.delete)
  }
}
