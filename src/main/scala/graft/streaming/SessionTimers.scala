package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Event-time TIMERS on `transformWithState` (gated st18): sessions
  * are emitted exactly when their gap timer FIRES at the watermark —
  * not when the next record happens to arrive (st6's classic
  * sessionizer) and not at an arbitrary micro-batch boundary. This is
  * the remaining Spark-4 stateful primitive after st7 (value state) /
  * st15 (TTL) / st17 (bounded sketches): reference semantics for any
  * "emit when the user goes quiet" pipeline — session rollups,
  * abandonment signals, conversation packing for training data.
  *
  * Protocol per user key:
  *  - the OPEN session rides a ValueState; its gap timer is
  *    re-registered on every extension (delete old, register new).
  *  - a session CLOSED by a later in-batch event (gaps-and-islands
  *    inside one batch) moves to a MapState keyed by its expiry ms —
  *    its already-registered timer keeps ticking; multiple closed
  *    sessions can await distinct timers concurrently.
  *  - [[SessionTimerProcessor.handleExpiredTimer]] emits whichever
  *    session owns the fired expiry and clears it.
  *
  * Timers live in the state store, so they SURVIVE query restarts
  * from the checkpoint (spec-proven: sessions opened in run 1 fire in
  * run 2). Scale: state is O(open + awaiting sessions) per user —
  * bounded by activity, not history; RocksDB pages cold keys to disk.
  *
  * DETERMINISM CONTRACT (what the oracle restates): timestamps are
  * carried in MICROSECONDS; a session's expiry is
  * `floor(end_us / 1000) + gap_ms` and it is emitted iff that expiry
  * is <= the final watermark (max event ms − delay). Spark fires
  * event-time timers when `expiry <= batch watermark` — pinned by the
  * boundary spec, so the <= is measured, not assumed.
  */
object SessionTimers {

  case class SEvent(user_id: Long, ts_us: Long)
  case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  class SessionTimerProcessor(gapMs: Long)
    extends StatefulProcessor[Long, SEvent, Session] {

    @transient private var open: org.apache.spark.sql.streaming.ValueState[Session] = _
    @transient private var pending: org.apache.spark.sql.streaming.MapState[Long, Session] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[Session]("open",
        Encoders.product[Session], TTLConfig.NONE)
      pending = getHandle.getMapState[Long, Session]("pending",
        Encoders.scalaLong, Encoders.product[Session], TTLConfig.NONE)
    }

    private def expiryMs(s: Session): Long = s.end_us / 1000 + gapMs

    override def handleInputRows(key: Long, rows: Iterator[SEvent],
                                 timerValues: TimerValues): Iterator[Session] = {
      // Batch rows arrive unordered; the per-key sort is bounded by
      // one user's batch volume (the whole operator is already keyed).
      val sorted = rows.map(_.ts_us).toArray.sorted
      var cur = if (open.exists()) open.get() else null
      sorted.foreach { ts =>
        if (cur == null) {
          cur = Session(key, ts, ts, 1L)
          getHandle.registerTimer(expiryMs(cur))
        } else if (ts - cur.end_us > gapMs * 1000L) {
          // Close the current session locally: it awaits its OWN
          // already-registered timer in the pending map.
          pending.updateValue(expiryMs(cur), cur)
          cur = Session(key, ts, ts, 1L)
          getHandle.registerTimer(expiryMs(cur))
        } else {
          getHandle.deleteTimer(expiryMs(cur))
          cur = Session(key, cur.start_us, math.max(cur.end_us, ts),
            cur.n_events + 1L)
          getHandle.registerTimer(expiryMs(cur))
        }
      }
      if (cur != null) open.update(cur)
      Iterator.empty // emission happens ONLY on timer expiry
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      val ms = expiredTimerInfo.getExpiryTimeInMs()
      if (pending.containsKey(ms)) {
        val s = pending.getValue(ms)
        pending.removeKey(ms)
        Iterator(s)
      } else if (open.exists() && expiryMs(open.get()) == ms) {
        val s = open.get()
        open.clear()
        Iterator(s)
      } else Iterator.empty // stale timer (extension raced a restart)
    }
  }

  /** Wire the processor over a watermarked (user_id, ts_us) stream. */
  def timedSessions(spark: SparkSession, events: Dataset[SEvent],
                    gapMs: Long): Dataset[Session] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Gated st18: the events table streamed with a 10-minute watermark
    * and a 30-minute session gap; one data batch plus the trailing
    * no-data batch, so exactly the sessions whose gap timer expiry
    * (end ms + 30 min) is at or before the final watermark
    * (max ts ms − 10 min) are emitted — the oracle restates that set
    * with batch gaps-and-islands plus the same cutoff. Restart/timer
    * persistence semantics are spec-proven (SessionTimersSpec drives
    * two checkpointed runs).
    */
  def timerSessionsGate(spark: SparkSession, dir: String,
                        gapMin: Int = 30, delayMin: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = graft.TmpIO.stableDir("st18") // session-scaling output: lazy read-back
    // Natural-parallelism staging: AvailableNow with no
    // maxFilesPerTrigger folds ALL staged files into one data
    // micro-batch (the st5/st16 reasoning), so the one-data-batch
    // timer semantics hold with any file count.
    graft.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"))
      .write.parquet(s"$tmp/in")
    // Provider + partition configs stay set until awaitTermination (the
    // first micro-batch is planned async on the stream thread).
    graft.GraftSession.withConfs(spark,
        Seq(RunningStats.RocksDbProvider, "spark.sql.shuffle.partitions" -> "4")) {
      val stream = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP")
        .parquet(s"$tmp/in")
        .withWatermark("ts", s"$delayMin minutes")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .as[SEvent]
      // Epoch-micros BIGINT boundaries: exact cross-engine (no
      // timestamp-type/formatting seams in the hash compare).
      timedSessions(spark, stream, gapMin * 60000L).toDF()
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_events"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(s"$tmp/out")
        }
        .start()
        .awaitTermination()
    }
    graft.TmpIO.deleteSubdirs(tmp, "in", "ckpt")
    spark.read.parquet(s"$tmp/out")
      .orderBy(col("user_id"), col("start_us"))
  }
}
