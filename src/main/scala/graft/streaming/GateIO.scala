package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Shared plumbing for the end-to-end streaming gates (st4/st5/st7/st8):
  * pinned stateful shuffle partitions and eager staging cleanup.
  */
private[streaming] object GateIO {

  /** Files in a range-ordered corpus stage: [[stageFiles]]' default
    * `rangeParts`, and the `maxFilesPerTrigger` of a stream that must
    * consume one whole corpus stage in a single trigger.
    */
  val CorpusFiles: Int = 4

  /** Stage one simulated arrival (micro-batch group `n`) into
    * `upstream` at NATURAL write parallelism — every part file is
    * moved, named `nnnn_iiii.parquet` and mtime-pinned so a
    * maxFilesPerTrigger=1 file source consumes stages in order and
    * files within a stage in part order. This replaces the old
    * `coalesce(1)` single-file staging, which serialized the whole
    * staged slice through one task (the round-10 verdict's last
    * staging-funnel item): a stage is now a GROUP of consecutive
    * micro-batches, which every caller's semantics tolerate —
    * order-invariant merges (st11 decimal sums, st14 exactly-once
    * append, st10 sketch registers) by construction, watermarked
    * aggregations by RANGE-ORDERING the stage on event time
    * (`orderBy = Some(ts)`): range files are time-contiguous, so the
    * progressively-advancing watermark (lag ≥ the window size) can
    * never evict a window that still has rows in a later file of the
    * same stage.
    */
  def stageFiles(df: DataFrame, scratch: String, upstream: java.io.File,
                 n: Int, orderBy: Option[Column] = None,
                 rangeParts: Int = CorpusFiles): Unit = {
    val part = s"$scratch/stage$n"
    orderBy.fold(df)(c => df.repartitionByRange(rangeParts, c))
      .write.parquet(part)
    val fs = new java.io.File(part).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    fs.zipWithIndex.foreach { case (f, i) =>
      val dst = new java.io.File(upstream, f"$n%04d_$i%04d.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + n * 60000L + i * 1000L)
    }
  }

  /** Run a streaming query with `spark.sql.shuffle.partitions` pinned
    * to `n` for its WHOLE lifetime. The first micro-batch — which pins
    * the state-store partition count into the fresh checkpoint — is
    * planned asynchronously on the stream thread, so the config must
    * stay set until awaitTermination returns; restoring right after
    * start() races the plan and may silently not apply.
    */
  def runPinned(spark: SparkSession, n: Int)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try start.awaitTermination()
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Gate read-back + staging cleanup — see [[graft.TmpIO]]. */
  def collectAndClean(spark: SparkSession, tmpRoot: String)(df: DataFrame): DataFrame =
    graft.TmpIO.collectAndClean(spark, tmpRoot)(df)
}
