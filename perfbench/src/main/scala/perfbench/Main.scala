package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds this harness,
  * generates the inputs and launches it; see `perfbench/README.md`.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * data (input tables), warm (warm-up tables), slices (reactive_ingest
  * landing files and their manifest), work (scratch dir), out
  * (result JSON), digests (pinned digests), cores, passes (maximum
  * timed passes), dump (pin mode: write each step's output as parquet
  * and its oracle SQL, then exit), corrupt (self-test: the closed-loop
  * step whose pinned digest is altered; for reactive_ingest, any value
  * alters the snapshot invariant).
  */
object Main {
  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = args("work")
    val cores = args.get("cores").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val b0 = System.nanoTime()
    val spark = session(cores, work)
    val buildS = (System.nanoTime() - b0) / 1e9
    val res = new Result
    res.context("session_conf") = Json.obj(confEcho(spark).map { case (k, v) => k -> Json.str(v) })
    res.context("cores") = cores.toString
    res.layer("session.build_s") = buildS
    // Pin mode fails loudly: an exception exits the JVM non-zero.
    args.get("dump").foreach { dir =>
      try Closed.dump(spark, args("workload"), args("data"), dir) finally spark.stop()
      return
    }
    try run(spark, args, res)
    catch {
      case e: Throwable =>
        res.failures += s"harness: ${e.getClass.getName}: ${e.getMessage}"
        res.failed += 1
        res.attempted = math.max(res.attempted, 1)
        e.printStackTrace()
    } finally {
      res.context("jvm_start_epoch_ms") = jvmStartMs.toString
      // Set-up: JVM start, session, input staging and warm-up.
      if (res.firstStepEpochMs > 0) res.e2e("setup_s") = (res.firstStepEpochMs - jvmStartMs) / 1000.0
      args.get("out").foreach(o => Files.writeString(Paths.get(o), res.toJson))
      spark.stop()
    }
  }

  private def run(spark: SparkSession, args: Args, res: Result): Unit = {
    val tracing = args("trace") == "1"
    val seed = args("seed").toLong
    val probe = new Probe(spark, tracing)
    val maxPasses = args.get("passes").fold(Int.MaxValue)(_.toInt)
    val deadline = () => res.firstStepNs + (args("seconds").toDouble * 1e9).toLong
    // Input staging: graft.Tables opens every input table (file listing,
    // parquet schema, the events timestamp normalization).
    val s0 = System.nanoTime()
    graft.Tables.names.foreach(n => graft.Tables.load(spark, args("data"), n).schema)
    res.layer("session.stage_s") = (System.nanoTime() - s0) / 1e9
    args("workload") match {
      case w @ ("analytics" | "curation_loops") =>
        val steps = if (w == "analytics") Steps.analytics else Steps.curation
        val pinned = Closed.readDigests(args("digests"), args.get("corrupt"))
        Closed.run(spark, probe, steps, args("data"), args("warm"), seed,
          pinned, deadline, maxPasses, res)
      case "reactive_ingest" =>
        Ingest.run(spark, probe, args("data"), args("slices"), args("work"), seed, deadline,
          maxPasses, args.get("corrupt").isDefined, res)
      case other => sys.error(s"unknown workload $other")
    }
    if (tracing) {
      Kernels.measure(spark, args("data"), res)
      Trace.summarize(probe, res, args("work"))
    }
    probe.close()
  }

  /** The one session configuration graft's Bench and Verify share:
    * shuffle partitions = cores, v2 bucketing on, no recursive-CTE row
    * limit, UTC, no UI. Scratch space stays under the benchmark's work
    * directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.cteRecursionRowLimit", "-1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val echoedConf: Seq[String] = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.sources.v2.bucketing.enabled", "spark.sql.cteRecursionRowLimit",
    "spark.sql.session.timeZone", "spark.ui.enabled", "spark.sql.adaptive.enabled")

  def confEcho(spark: SparkSession): Seq[(String, String)] =
    echoedConf.map(k => k -> spark.conf.getOption(k).getOrElse("<default>"))

  /** Clears what a step may leave cached, as graft's Bench does between
    * gates, so one step's blocks never slow the next.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.operators.Ranks.releaseAll()
  }
}

/** Everything one run reports; serialized for `run.py`. */
final class Result {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  /** nanoTime and epoch millis of the first timed step (the end of set-up). */
  var firstStepNs = 0L
  var firstStepEpochMs = 0L
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val context = mutable.LinkedHashMap[String, String]()

  def startTiming(): Unit = if (firstStepNs == 0L) {
    firstStepNs = System.nanoTime()
    firstStepEpochMs = System.currentTimeMillis()
  }

  def fail(msg: String): Unit = { failed += 1; failures += msg }

  def toJson: String = Json.obj(Seq(
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
    "e2e" -> Json.obj(e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
    "layer" -> Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) }),
    "context" -> Json.obj(context.toSeq.map { case (k, v) =>
      k -> (if (v.startsWith("{")) v else Json.str(v)) })))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Percentile (q in [0, 1]) of a non-empty sample, interpolating
    * linearly between the two nearest order statistics.
    */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val at = q * (s.length - 1)
    val i = math.floor(at).toInt
    if (i + 1 >= s.length) s.last else s(i) + (at - i) * (s(i + 1) - s(i))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  /** Median over passes of each per-pass metric. */
  def medianByKey(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.flatMap(_.keys).distinct.map(k => k -> median(passes.map(_.getOrElse(k, 0.0)))).toMap
}
