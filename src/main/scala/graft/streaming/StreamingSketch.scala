package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Streaming SKETCH maintenance (gate st10): per-hour HyperLogLog
  * registers kept as STREAMING AGGREGATION STATE — the shape a
  * real-time distinct-users dashboard runs at scale. The streaming
  * state per hour is 64 small longs (the registers), NOT the user
  * set: memory is O(windows × m) regardless of cardinality, and the
  * watermark bounds how many windows stay live. Registers finalize on
  * the sink via the same deterministic md5-based HLL estimate as the
  * batch x11/x12 gates, so DuckDB replays the whole pipeline —
  * streaming state included — bit-for-bit.
  *
  * Mechanics: `max(rank)` per (hour window, bucket) is exactly the
  * HLL register update and is a streaming-safe aggregate (max is
  * monotone; late data can only raise a register, and the watermark
  * defines when a window's registers are final). A sentinel row 3
  * hours past max(ts) advances the watermark so every real window
  * finalizes under append mode; the sentinel's own window never
  * finalizes, so it stays invisible (same technique as st4).
  */
object StreamingSketch {

  private def hashCol(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Per-hour streaming HLL distinct-user estimates, finalized on the
    * read-back and joined against the exact per-hour counts.
    */
  def streamingHourlyHll(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.TmpIO.scratchDir("graft_st10_")
    val upstream = new java.io.File(s"$tmp/upstream"); upstream.mkdirs()
    val e = Tables.events(spark, dir).select(col("ts"), col("user_id"))
    val mx = e.agg(max(col("ts"))).head.getTimestamp(0)

    import spark.implicits._
    // Corpus stage range-ordered on ts (parallel staging write; the
    // watermark can then never outrun rows in later files of the
    // stage — see GateIO.stageFiles); 1-row sentinel stage after it.
    GateIO.stageFiles(e, tmp, upstream, 1, orderBy = Some(col("ts")))
    GateIO.stageFiles(Seq((new java.sql.Timestamp(mx.getTime + 3 * 3600000L), -1L))
      .toDF("ts", "user_id"), tmp, upstream, 2)

    val h = hashCol(col("user_id"))
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    GateIO.runPinned(spark, 4)(spark.readStream
      .schema("ts TIMESTAMP, user_id BIGINT")
      // One trigger consumes the whole corpus stage (CorpusFiles files); the
      // sentinel (strictly newer mtime) forms the second and last
      // batch (round 15, ~0.4 s of per-batch planning + state-store
      // commit per micro-batch removed). Batch boundaries are NOT
      // load-bearing here: the register update max(rank) is
      // order-invariant, the watermark only advances BETWEEN batches
      // (so no window can finalize before every row of the corpus
      // stage is in state — strictly safer than consuming the stage
      // as 4 batches), and every real window still finalizes because
      // the sentinel batch advances the watermark past max(ts)+2h.
      // Emitted (hour_start, bucket, M) rows are identical; the
      // foreachBatch sink groups them differently across files, which
      // the read-back groupBy collapses. Contrast st4/st16/st18,
      // where late-vs-watermark arrival ORDER is the scenario and
      // stays per-file.
      .option("maxFilesPerTrigger", GateIO.CorpusFiles.toLong)
      .parquet(upstream.toString)
      .withWatermark("ts", "1 hour")
      .select(col("ts"),
        shiftright(h, 54).as("bucket"),
        h.bitwiseAND(lit((1L << 54) - 1)).as("rem"))
      .select(col("ts"), col("bucket"),
        when(col("rem") === 0, lit(55))
          .otherwise(lit(55) - length(bin(col("rem")))).as("rank"))
      .groupBy(window(col("ts"), "1 hour"), col("bucket"))
      .agg(max(col("rank")).as("M"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("bucket"), col("M"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .start())

    val exact = Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour_start"))
      .agg(count_distinct(col("user_id")).as("n_exact"))

    val finalized = GateIO.collectAndClean(spark, tmp)(
      spark.read.parquet(out))
      .groupBy(col("hour_start"))
      .agg(sum(expr("shiftleft(cast(1 as bigint), 55 - M)")).as("isp"),
        count(lit(1)).as("obs"))
      .select(col("hour_start"),
        (lit(64L) - col("obs")).as("v_empty"),
        ((lit(0.7213) / (lit(1.0) + lit(1.079) / lit(64.0))) *
          lit(64.0 * 64.0) * lit((1L << 55).toDouble) /
          (col("isp") + (lit(64L) - col("obs")) * lit(1L << 55))
            .cast("double")).as("raw"))
      .select(col("hour_start"), col("v_empty"),
        when(col("raw") <= lit(160.0) && col("v_empty") > 0,
          round(lit(64.0) * log(lit(64.0) / col("v_empty").cast("double")), 6))
          .otherwise(round(col("raw"), 6)).as("est_hll"))

    finalized.join(exact, Seq("hour_start"))
      .select(col("hour_start"), col("v_empty"), col("est_hll"), col("n_exact"))
      .orderBy(col("hour_start"))
  }
}
