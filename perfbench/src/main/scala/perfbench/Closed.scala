package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.sql.{Row, SparkSession}

/** The closed-loop workloads (`analytics`, `curation_loops`): one client
  * calls each step, materializes its result, checks it against the pinned
  * digest, and only then calls the next. The seed permutes the step order
  * of every pass.
  */
object Closed {

  def run(spark: SparkSession, probe: Probe, steps: Seq[Step], data: String,
          warm: String, seed: Long, pinned: Map[String, String],
          deadline: () => Long, maxPasses: Int, res: Result): Unit = {
    val sc = spark.sparkContext
    val w0 = System.nanoTime()
    // Warm-up: every step once over the sf0.001 tables, untimed. The plans
    // and generated code match those over the measured inputs, so timed
    // passes run warm without paying for a full-size pass.
    steps.foreach { st => Try(st.run(spark, warm).collect()); Main.releaseCaches(spark) }
    probe.clearSpans()
    res.layer("session.warm_s") = (System.nanoTime() - w0) / 1e9

    val rng = new Random(seed)
    val stepSecs = mutable.ArrayBuffer[Double]()
    val passSecs = mutable.ArrayBuffer[Double]()
    val heap = mutable.ArrayBuffer[Double]()
    val perPass = mutable.ArrayBuffer[Map[String, Double]]()
    val byGate = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    res.startTiming()
    var pass = 0
    // Whole passes only: a pass that starts before the deadline completes.
    while (pass == 0 || (System.nanoTime() < deadline() && pass < maxPasses)) {
      probe.reset()
      val (gcMs0, gcN0) = Probe.gc()
      val familyMs = mutable.Map[String, Double]().withDefaultValue(0.0)
      val windows = mutable.ArrayBuffer[(Long, Long)]()
      var persisted = 0L
      var passS = 0.0
      for (st <- rng.shuffle(steps)) {
        val e0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val out = Try(probe.span(st.gate, "step") {
          probe.span(s"${st.family}.${st.gate}", "operators", st.family) {
            val df = st.run(spark, data)
            (df.columns.toSeq, df.collect())
          }
        })
        val s = (System.nanoTime() - t0) / 1e9
        windows += ((e0, System.currentTimeMillis()))
        res.attempted += 1
        stepSecs += s
        byGate.getOrElseUpdate(st.gate, mutable.ArrayBuffer()) += s
        passS += s
        familyMs(st.family) += s * 1000
        check(st.gate, out, pinned, res)
        persisted += sc.getPersistentRDDs.size
        Main.releaseCaches(spark)
      }
      passSecs += passS
      val win = probe.window()
      val (gcMs1, gcN1) = Probe.gc()
      heap += Probe.liveHeapMb()
      if (probe.tracing) {
        val gap = windows.map { case (a, b) =>
          ((b - a) - Probe.covered(win.taskIntervals.toSeq, a, b)).toDouble }.sum
        perPass += Layers.spark(win, gap, persisted, gcMs1 - gcMs0, gcN1 - gcN0) ++
          Steps.allFamilies.flatMap(f => Seq(
            s"operators.$f.ms" -> familyMs(f),
            s"operators.$f.jobs" -> win.familyJobs(f).toDouble))
      }
      pass += 1
    }
    res.context("passes") = passSecs.length.toString
    res.context("steps_timed") = stepSecs.length.toString
    res.context("step_median_s") = Json.obj(byGate.toSeq.sortBy(-_._2.max).map {
      case (g, xs) => g -> Json.num(Stats.median(xs.toSeq)) })
    res.e2e("pass_s") = Stats.median(passSecs.toSeq)
    res.e2e("step_s.p50") = Stats.pct(stepSecs.toSeq, 0.5)
    res.e2e("step_s.p90") = Stats.pct(stepSecs.toSeq, 0.9)
    res.e2e("heap_live_mb") = Stats.median(heap.toSeq)
    res.layer ++= Stats.medianByKey(perPass.toSeq)
  }

  private def check(gate: String, out: Try[(Seq[String], Array[Row])],
                    pinned: Map[String, String], res: Result): Unit = out match {
    case scala.util.Failure(e) => res.fail(s"$gate: threw ${e.getClass.getName}: ${e.getMessage}")
    case scala.util.Success((cols, rows)) =>
      val d = s"${rows.length}:${Steps.digest(cols, rows)}"
      pinned.get(gate) match {
        case Some(p) if p == d =>
        case Some(p) => res.fail(s"$gate: digest $d != pinned $p")
        case None => res.fail(s"$gate: no pinned digest (got $d)")
      }
  }

  /** Pinned digests, one `gate<TAB>rows:sha256` per line. `corrupt` names a
    * gate whose digest is altered, so the self-test can see a mismatch fail.
    */
  def readDigests(path: String, corrupt: Option[String]): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(g, d) = l.split("\t"); g -> d }.toMap
      .map { case (g, d) => g -> (if (corrupt.contains(g)) d.reverse else d) }

  /** Pin mode: each step's output as parquet under `dir/<gate>`, its digest
    * in `dir/digests.tsv`, and its graft oracle SQL in `dir/oracle_sql.json`
    * (the layout `tools/oracle_check.py` reads).
    */
  def dump(spark: SparkSession, workload: String, data: String, dir: String): Unit = {
    val steps = if (workload == "analytics") Steps.analytics else Steps.curation
    val lines = steps.map { st =>
      val df = st.run(spark, data)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/${st.gate}")
      Main.releaseCaches(spark)
      s"${st.gate}\t${rows.length}:${Steps.digest(df.columns.toSeq, rows)}"
    }
    Files.writeString(Paths.get(s"$dir/digests.tsv"), lines.mkString("", "\n", "\n"))
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json.obj(steps.map(st => st.gate -> Json.str(sql(st.gate)))))
  }
}

/** Per-pass Spark and JVM numbers from one listener window. */
object Layers {
  def spark(w: Window, gapMs: Double, persisted: Long, gcMs: Long, gcN: Long): Map[String, Double] =
    Map(
      "plans.queries" -> w.queries.toDouble,
      "plans.analysis_ms" -> w.analysisMs.toDouble,
      "plans.optimizer_ms" -> w.optimizerMs.toDouble,
      "plans.planning_ms" -> w.planningMs.toDouble,
      "spark.jobs" -> w.jobs.toDouble,
      "spark.stages" -> w.stages.toDouble,
      "spark.tasks" -> w.tasks.toDouble,
      "spark.driver_gap_ms" -> gapMs,
      "spark.task_ms" -> w.taskMs.toDouble,
      "spark.task_skew" -> (if (w.stageSkew.isEmpty) 1.0 else Stats.pct(w.stageSkew.toSeq, 0.9)),
      "spark.shuffle_write_bytes" -> w.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> w.shuffleRead.toDouble,
      "spark.spill_bytes" -> w.spill.toDouble,
      "spark.input_bytes" -> w.input.toDouble,
      "spark.persisted_rdds" -> persisted.toDouble,
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.gc_count" -> gcN.toDouble)
}
