package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues}

/** Spark 4 `transformWithState` operator: running per-user statistics
  * (count / sum / min / max) emitted after every micro-batch update.
  *
  * This is the modern replacement for flatMapGroupsWithState
  * ([[StatefulSessions]] keeps the classic API for comparison): typed
  * state handles (`ValueState`) managed by the RocksDB state store,
  * explicit TimeMode/OutputMode contracts, and composable per-key
  * state variables instead of a single state object.
  *
  * Scale: state is O(distinct users), each entry four numbers in
  * RocksDB — cold state pages to disk instead of evicting or OOMing,
  * which is what makes billion-key state feasible.
  */
object RunningStats {

  case class Event(user_id: Long, value: Double)
  case class UserStats(user_id: Long, n: Long, sum: Double, min: Double, max: Double)

  class Processor extends StatefulProcessor[Long, Event, UserStats] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserStats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserStats]("stats",
        Encoders.product[UserStats], org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserStats] = {
      var s =
        if (state.exists()) state.get()
        else UserStats(key, 0L, 0.0, Double.MaxValue, Double.MinValue)
      rows.foreach { e =>
        s = UserStats(key, s.n + 1, s.sum + e.value,
          math.min(s.min, e.value), math.max(s.max, e.value))
      }
      state.update(s)
      Iterator(s)
    }
  }

  /** Wire the processor over a streaming Dataset of events. Requires
    * the RocksDB state store provider (set by [[rocksdbConf]]).
    */
  def runningStats(spark: SparkSession, events: Dataset[Event]): Dataset[UserStats] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Update())
  }

  /** transformWithState requires RocksDB-backed state. */
  val RocksDbProvider: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def rocksdbConf(spark: SparkSession): Unit =
    spark.conf.set(RocksDbProvider._1, RocksDbProvider._2)

  /** Gated transformWithState run (st7): the events table streamed as
    * one micro-batch, so each user emits exactly one update = their
    * total stats, checkable against the batch GROUP BY oracle. The
    * emitted columns are n/min/max — order-invariant under the
    * nondeterministic per-key iteration order (the double running sum
    * is not, so it stays out of the hash-compared gate).
    */
  def runningStatsGate(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = graft.TmpIO.stableDir("st7") // user-scaling output: lazy read-back
    // Natural-parallelism staging: AvailableNow with no
    // maxFilesPerTrigger folds ALL staged files into one micro-batch
    // (the st5/st16 reasoning), so "one update per user" holds with
    // any file count and the write stops being a single-task funnel.
    graft.Tables.events(spark, dir)
      .select(col("user_id"), col("value"))
      .write.parquet(s"$tmp/in")
    // Provider + partition configs stay set for the query's whole
    // lifetime (the first micro-batch is planned async on the stream
    // thread) and are restored only after awaitTermination.
    graft.GraftSession.withConfs(spark,
        Seq(RocksDbProvider, "spark.sql.shuffle.partitions" -> "4")) {
      val stream = spark.readStream
        .schema("user_id LONG, value DOUBLE")
        .parquet(s"$tmp/in")
        .as[Event]
      runningStats(spark, stream).toDF()
        .select(col("user_id"), col("n"),
          col("min").as("min_value"), col("max").as("max_value"))
        .writeStream
        .outputMode("update")
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
      .orderBy(col("user_id"))
  }
}
