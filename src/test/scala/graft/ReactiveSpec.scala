package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.ReactiveMetaPipeline

class ReactiveSpec extends SparkSpec {

  /** Write a small upstream batch as one parquet file. */
  private def writeBatch(dir: String, rows: Seq[(String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("event_type", "value")
      .coalesce(1).write.mode("append").parquet(dir)
  }

  test("reactive meta materializes incrementally as upstream files land") {
    val base = tmpDir("reactive_")
    val upstream = s"$base/upstream"; val meta = s"$base/meta"; val ckpt = s"$base/ckpt"

    writeBatch(upstream, Seq(("a", 1.0), ("a", 5.0), ("b", 2.0)))
    val p = new ReactiveMetaPipeline(upstream, meta, ckpt)
    p.runAvailableNow(spark)
    val m1 = spark.read.parquet(meta).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("min_value"), r.getAs[Double]("max_value"), r.getAs[Long]("n_events"))).toMap
    assert(m1 == Map("a" -> (1.0, 5.0, 2L), "b" -> (2.0, 2.0, 1L)))

    // New upstream materialization (the reference's sensor trigger,
    // sensors.py:12-16) → rerun → state merges incrementally.
    writeBatch(upstream, Seq(("a", -3.0), ("c", 9.0)))
    p.runAvailableNow(spark)
    val m2 = spark.read.parquet(meta).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("min_value"), r.getAs[Double]("max_value"), r.getAs[Long]("n_events"))).toMap
    assert(m2 == Map("a" -> (-3.0, 5.0, 3L), "b" -> (2.0, 2.0, 1L), "c" -> (9.0, 9.0, 1L)))
  }

  test("stream metrics listener reports per-batch row counts (K4)") {
    val base = tmpDir("reactive_metrics_")
    val upstream = s"$base/upstream"; val meta = s"$base/meta"; val ckpt = s"$base/ckpt"
    writeBatch(upstream, Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)))
    val m = graft.streaming.StreamMetrics.attach(spark)
    try {
      new ReactiveMetaPipeline(upstream, meta, ckpt).runAvailableNow(spark)
      // listener events are async; wait for delivery
      spark.streams.awaitAnyTermination(1)
      var tries = 0
      while (m.totalRows < 3 && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(m.totalRows == 3, s"expected 3 input rows, got ${m.batches}")
    } finally spark.streams.removeListener(m)
  }

  test("re-running with no new data is a no-op (run_key idempotency)") {
    val base = tmpDir("reactive_idem_")
    val upstream = s"$base/upstream"; val meta = s"$base/meta"; val ckpt = s"$base/ckpt"
    writeBatch(upstream, Seq(("x", 1.0), ("x", 2.0)))
    val p = new ReactiveMetaPipeline(upstream, meta, ckpt)
    p.runAvailableNow(spark)
    p.runAvailableNow(spark) // checkpoint: already-seen files are not replayed
    val m = spark.read.parquet(meta).collect()
    assert(m.length == 1)
    assert(m(0).getAs[Long]("n_events") == 2L, "replay must not double-count")
  }

  /** The meta table as sorted `key|min|max|n` lines. */
  private def metaLines(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("event_type"), col("min_value"), col("max_value"), col("n_events"))
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** A batch GROUP BY over every file landed upstream. */
  private def batchMeta(upstream: String): Seq[String] =
    metaLines(spark.read.parquet(upstream).groupBy("event_type")
      .agg(min("value").as("min_value"), max("value").as("max_value"),
        count(lit(1)).as("n_events")))

  /** State partitions of the aggregate in a checkpoint. */
  private def statePartitions(ckpt: String): Seq[String] =
    new java.io.File(s"$ckpt/state/0").list().filter(_.forall(_.isDigit)).toSeq.sorted

  test("restart replay: a stopped ProcessingTime pipeline resumes to the batch GROUP BY") {
    val base = tmpDir("reactive_restart_")
    val upstream = s"$base/upstream"; val meta = s"$base/meta"; val ckpt = s"$base/ckpt"
    try {
      val p = new ReactiveMetaPipeline(upstream, meta, ckpt)
      writeBatch(upstream, Seq(("a", 1.0), ("b", 2.0)))
      writeBatch(upstream, Seq(("a", 4.0), ("c", -1.0)))
      val q1 = p.run(spark, Trigger.ProcessingTime("100 milliseconds"))
      try {
        q1.processAllAvailable()
        // Lands while the query runs: the stop may come before or
        // after a batch takes it.
        writeBatch(upstream, Seq(("b", 7.0), ("d", 3.0)))
      } finally q1.stop()
      writeBatch(upstream, Seq(("a", -5.0), ("e", 0.5)))
      writeBatch(upstream, Seq(("d", 9.0)))
      val q2 = p.run(spark, Trigger.ProcessingTime("100 milliseconds"))
      try q2.processAllAvailable() finally q2.stop()
      assert(metaLines(spark.read.parquet(meta)) == batchMeta(upstream))
      assert(statePartitions(ckpt) == Seq("0"), "the O(keys) state keeps one partition")
    } finally TmpIO.deleteRecursively(new java.io.File(base))
  }

  test("a checkpoint made with 4 state partitions restarts with 4 and the same answer") {
    val base = tmpDir("reactive_restart4_")
    val upstream = s"$base/upstream"; val meta = s"$base/meta"; val ckpt = s"$base/ckpt"
    try {
      val p = new ReactiveMetaPipeline(upstream, meta, ckpt)
      writeBatch(upstream, Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)))
      GraftSession.withConfs(spark, Seq("spark.sql.shuffle.partitions" -> "4")) {
        p.start(spark, Trigger.AvailableNow, "event_type", "value").awaitTermination()
      }
      assert(statePartitions(ckpt) == Seq("0", "1", "2", "3"))
      writeBatch(upstream, Seq(("a", -2.0), ("d", 8.0)))
      p.runAvailableNow(spark)
      assert(metaLines(spark.read.parquet(meta)) == batchMeta(upstream))
      assert(statePartitions(ckpt) == Seq("0", "1", "2", "3"),
        "the checkpoint pins its partition count")
    } finally TmpIO.deleteRecursively(new java.io.File(base))
  }

  test("a batch that fails mid-write leaves the previous meta table readable and unchanged") {
    val base = tmpDir("reactive_atomic_")
    val upstream = s"$base/upstream"; val meta = s"$base/meta"; val ckpt = s"$base/ckpt"
    try {
      writeBatch(upstream, Seq(("a", 1.0), ("a", 4.0), ("b", 2.0)))
      val p = new ReactiveMetaPipeline(upstream, meta, ckpt)
      p.runAvailableNow(spark)
      val before = metaLines(spark.read.parquet(meta))
      assert(before == batchMeta(upstream))
      val failing = spark.range(3).select(lit("z").as("event_type"),
        raise_error(lit("batch evaluation fails")).cast("double").as("min_value"),
        lit(0.0).as("max_value"), lit(1L).as("n_events"))
      intercept[Exception](p.publish(failing))
      assert(metaLines(spark.read.parquet(meta)) == before)
      val names = new java.io.File(meta).list().toSet
      assert(names.contains("meta.parquet") && !names.exists(_.startsWith("part-")), names)
    } finally TmpIO.deleteRecursively(new java.io.File(base))
  }
}
