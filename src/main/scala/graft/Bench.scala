package graft
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line with per-query seconds.
  *
  * Methodology (round 2 + round 3, see PERF.md):
  *  - every query is materialized through the `noop` sink, not
  *    `.count()`: count() lets Catalyst prune every column the
  *    aggregate doesn't need, so projection-heavy queries were being
  *    timed as little more than the scan. The noop sink evaluates the
  *    full result rows and discards them — write-path overhead without
  *    disk I/O.
  *  - each query runs one UNTIMED warm-up pass before its timed reps
  *    (round 3): the first execution of a plan pays whole-stage-codegen
  *    Janino compilation and JVM JIT of any native kernel expression
  *    (round 2's t7 driver outlier was exactly this landing in the
  *    median); warming per-query keeps every timed rep steady-state.
  *  - each query then runs 3 times and the MEDIAN is reported (min also
  *    emitted), so round-over-round comparisons sit above the ±15%
  *    run-to-run noise observed in round 1.
  *  - budgeted reps for the slow tail (round 12, revised round 13): a
  *    query whose FIRST TIMED rep takes ≥ [[SlowRepBarSec]] — AND is
  *    consistent with its committed clean-box reference (≤
  *    [[SpreadBar]]× ref, when an entry exists) — gets ONE timed rep
  *    instead of 3. The round-11 driver bench hit its wall-clock
  *    budget (BENCH_r11 rc:124) as the suite grew to 382 gates; the
  *    ≥1 s tail (~115 gates, ~257 s of medians) was 2/3 of the
  *    suite's rep cost while being exactly the population whose
  *    multi-second runtimes are least affected by scheduler noise in
  *    RELATIVE terms. Sub-second gates — where one GC pause IS the
  *    measurement — keep median-of-3, and (r13) so does any gate
  *    whose first rep is slow only relative to its own reference
  *    (the transient-stall case the warm-up-keyed r12 rule missed).
  *    Slow gates remain protected by the reference check below: a
  *    single rep that lands [[RefBar]]× above the committed clean-box
  *    number still triggers extra reps + min-reporting + the stall
  *    flag, so a noisy box cannot plant an unflagged outlier.
  *  - stall control (round 8): when median/min > 2 the spread is an
  *    environment artifact (GC stall, box contention — the round-7
  *    driver recorded dd11 at 16.8 s vs a 3.4 s same-day steady state
  *    with an identical plan), not a plan property. Such queries get up
  *    to 4 extra reps; if the spread persists, the official number is
  *    the MIN and the query is flagged in "stalls" (with its median and
  *    rep count) so the record is never 5× reality and a reader can see
  *    exactly which numbers were stall-corrected.
  *  - the cache catalog is cleared between repetitions: several
  *    operators cache() intermediates internally, and a warm cache
  *    would turn rep-2/3 into a different (smaller) computation.
  *  - a failing query is NEVER folded into the statistics (round 2
  *    returned a -1.0 sentinel that shrank the total): failures are
  *    reported per-query under "errors", excluded from every stat, and
  *    flip the exit code so a regression cannot pass silently.
  */
object Bench {
  /** Timed reps per query — 3 for the driver record (median-of-3 +
    * stall correction); SPARK_GRAFT_REPS=1 for SF-bump rehearsals
    * where per-query wall time × 4 runs would make the full surface
    * unaffordable (the driver never sets it).
    */
  private def Reps: Int =
    sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).filter(_ >= 1).getOrElse(3)
  private final val MaxExtraReps = 4
  private final val SpreadBar = 2.0
  /** Host steal-tick growth during one query's window above which
    * stall/reference-triggered extra reps stop firing (r12 verdict
    * item #7): past this much hypervisor steal the extra reps are
    * re-measuring the box, not the plan — the stall flag and the
    * per-query steal_delta already carry the evidence. ~2000 ticks ≈
    * 20 stolen CPU-seconds inside one query window.
    */
  private final val StealCapTicks = 2000L
  /** Warm-up seconds at/above which a query runs ONE timed rep
    * instead of [[Reps]] — the round-12 wall-budget lever (see the
    * methodology note above). SPARK_GRAFT_SLOW_BAR overrides;
    * non-positive disables (every query gets full reps).
    */
  private def SlowRepBarSec: Double =
    sys.env.get("SPARK_GRAFT_SLOW_BAR").map(_.toDouble).getOrElse(1.0)

  /** Hypervisor steal ticks from /proc/stat (cpu line, field 8) — the
    * direct evidence when a bench record was taken on a contended box
    * (the round-7→8 "environment epoch" took a pinned-commit control
    * experiment to adjudicate; the marker makes the record
    * self-adjudicating). -1 when unreadable.
    */
  private def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong)
        .getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  /** Fixed-work single-thread calibration: 400M xorshift steps, pure
    * register arithmetic (no allocation, no memory traffic) — ~0.4 s
    * on a healthy core, inflating proportionally under steal/frequency
    * throttling. Run before AND after the suite so a reader can see
    * whether the epoch drifted mid-record.
    */
  private def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 400000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 0L) System.err.println("calibration sink") // defeat DCE
    math.round(dt * 10000) / 10000.0
  }

  /** Per-query outcome: `official` is what enters the totals — the
    * median normally, the min when the spread stayed above [[SpreadBar]]
    * after extra reps (`stalled`). `stealDelta` is the host steal-tick
    * growth across this query's reps (-1 when unreadable): the direct
    * evidence channel when a single query's window landed on a
    * contended epoch.
    */
  private final case class QStat(official: Double, median: Double,
                                 min: Double, reps: Int, stalled: Boolean,
                                 stealDelta: Long, noRef: Boolean = false)

  /** Known-good per-query reference seconds (`bench_reference.json`,
    * path overridable via SPARK_GRAFT_REF; absent → empty). The round-10
    * driver record exposed the blind spot in spread-only stall control:
    * e3_json_typed ran ~14 s on EVERY rep of a contended epoch (22× its
    * clean-box steady state) with median/min under [[SpreadBar]], so no
    * extra reps fired and a pure-environment number entered the record
    * unflagged — while e2_json_extract, one slot earlier, happened to
    * catch one clean rep and was corrected to 1.85 s. The reference
    * closes it: a query whose BEST rep is still [[RefBar]]× the
    * committed clean-box number gets the same extra-rep + min-reporting
    * + stall-flag treatment, so the record either recovers a clean rep
    * or carries the flag that says the number measures the box.
    */
  private def loadReference(sfDir: String): Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_REF", "bench_reference.json")
    try {
      val ref = Json.mapper.readTree(new java.io.File(path))
      // The reference is only meaningful at the SF it was measured at:
      // an sf1 rehearsal against sf0.1 minima would flag every heavy
      // gate. `_sf_dir` is compared by basename so the same corpus
      // staged under a different parent (e.g. /dev/shm) still matches.
      def base(p: String) = p.stripSuffix("/").split('/').last
      if (Option(ref.get("_sf_dir")).exists(r => base(r.asText) != base(sfDir))) Map.empty
      else ref.properties().asScala.collect {
        case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble
      }.toMap
    } catch { case _: Throwable => Map.empty }
  }
  private final val RefBar = 4.0
  private final val RefFloorSec = 1.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores
    val spark = GraftSession.build(cpus)
    // Warm the session (codegen compiler, shuffle machinery, parquet
    // footer cache) so per-query numbers measure queries, not JVM init.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // Environment-epoch markers (see PERF.md "bench environment
    // epoch"): fixed-work calibration + steal ticks bracket the suite.
    val stealPre = stealTicks()
    val calibPre = calibrate()

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, Double] = {
      GraftSession.reset(spark)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }

    def median(ts: Seq[Double]): Double = { val s = ts.sorted; s(s.length / 2) }

    // Optional name filter (local iteration / SF-rehearsal aid; the
    // driver never sets it and always measures the full surface).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val reference = loadReference(sfDir)
    val results = SparkEntry.gates.sortBy(_.name)
      .filter(g => only.forall(_.contains(g.name)))
      .map { case graft.gates.Gate(name, fn, _) =>
      // A rep whose BEST time is still RefBar× the clean-box reference
      // (and above an absolute floor, so sub-second gates don't flap)
      // is environment-suspect even when the spread is tight.
      def refSlow(minT: Double): Boolean =
        reference.get(name).exists(r => minT > RefBar * r && minT > RefFloorSec)
      val stealQ0 = stealTicks()
      runOnce(fn) match { // warm-up: never enters the stats
        case Left(err) => name -> Left(err)
        case Right(_) =>
          // The rep budget is decided by the first TIMED (warm) rep,
          // not the warm-up (r12 advice): the warm-up pays cold
          // codegen/JIT, so keying the budget off it silently dropped
          // median-of-3 for gates whose steady state is well under the
          // bar — exactly the sub-second population where one GC pause
          // IS the measurement. Second guard (both halves of the r12
          // advice): the 1-rep path also requires t1 to be CONSISTENT
          // with the committed clean-box reference (≤ SpreadBar×ref) —
          // a fast gate whose t1 caught a transient stall would
          // otherwise become a 1-rep official with no spread signal
          // and no refSlow recovery (min ≤ RefBar×ref can hold while
          // still 3× inflated). Absent a reference entry (new gate, or
          // an SF the reference isn't pinned to — the map is empty
          // then) the time-only rule stands: at sf1 strictness would
          // triple the heavy tail's wall for no protection gain.
          runOnce(fn) match {
            case Left(err) => name -> Left(err)
            case Right(t1) =>
              val repBudget =
                if (SlowRepBarSec > 0 && t1 >= SlowRepBarSec &&
                    reference.get(name).forall(r => t1 <= SpreadBar * r)) 1
                else Reps
              // r13 advice: a 1-rep official taken where NO reference
              // entry existed (new gate, or an SF the reference map is
              // not pinned to) had no consistency guard — mark it so
              // readers can discount a possibly stall-inflated single
              // rep instead of mistaking it for a ref-consistent one.
              val noRef = repBudget == 1 && !reference.contains(name)
              val reps = (2 to repBudget).map(_ => runOnce(fn))
              reps.collectFirst { case Left(err) => err } match {
            case Some(err) => name -> Left(err)
            case None =>
              var ts = t1 +: reps.collect { case Right(t) => t }
              // Spread- or reference-triggered extra reps: a clean query
              // converges in one or two; a genuinely stalled box keeps
              // the flag. Extra reps are CAPPED when the host's steal
              // ticks grew past StealCapTicks during this query's window
              // (r12 verdict item #7): on a box that contended, more
              // reps only re-measure the contention — the stall flag +
              // steal_delta evidence already tell the reader what the
              // number means, and the r12 driver record paid up to 7
              // reps × 6 stalled gates re-proving it.
              var err: Option[String] = None
              while (err.isEmpty && ts.length < Reps + MaxExtraReps &&
                     (median(ts) / ts.min > SpreadBar || refSlow(ts.min)) &&
                     (stealQ0 < 0 || stealTicks() - stealQ0 < StealCapTicks)) {
                runOnce(fn) match {
                  case Left(e) => err = Some(e)
                  case Right(t) => ts = ts :+ t
                }
              }
              err match {
                case Some(e) => name -> Left(e)
                case None =>
                  val med = median(ts)
                  val stalled = med / ts.min > SpreadBar || refSlow(ts.min)
                  val stealQ1 = stealTicks()
                  val sd = if (stealQ0 < 0 || stealQ1 < 0) -1L else stealQ1 - stealQ0
                  name -> Right(QStat(if (stalled) ts.min else med,
                    med, ts.min, ts.length, stalled, sd,
                    noRef && ts.length == 1))
              }
              }
          }
      }
    }
    val timed = results.collect { case (n, Right(v)) => n -> v }
    val errors = results.collect { case (n, Left(e)) => n -> e }
    def jsonMap(sel: QStat => Double): String =
      timed.map { case (k, v) => "\"" + k + "\":" + sel(v) }.mkString("{", ",", "}")
    val errJson = Json.strings(errors)
    val total = timed.map(_._2.official).sum
    // Full per-query detail goes to a FILE; stdout gets a COMPACT line.
    // The driver captures only the last ~2000 bytes of output and parses
    // the JSON line out of that tail — with ~200 gated queries the full
    // per-query map is ~6 KB, so it has never parsed (BENCH_r01–r05 all
    // record "parsed": null). The compact line (total + slowest 15,
    // rounded) stays well under the tail window; bench_detail.json keeps
    // the complete per-query medians and minima for PERF.md and the
    // BENCH_local_r{N} record.
    val stalls = timed.filter(_._2.stalled)
    val stallJson = stalls.map { case (k, v) =>
      s"${Json.str(k)}:{" + "\"median\":" + math.round(v.median * 1000) / 1000.0 +
        ",\"min\":" + math.round(v.min * 1000) / 1000.0 +
        ",\"reps\":" + v.reps +
        ",\"steal_delta\":" + v.stealDelta +
        reference.get(k).map(r => ",\"ref\":" + r).getOrElse("") + "}"
    }.mkString("{", ",", "}")
    val repsJson = timed.map { case (k, v) => "\"" + k + "\":" + v.reps }
      .mkString("{", ",", "}")
    val stealJson = timed.map { case (k, v) => "\"" + k + "\":" + v.stealDelta }
      .mkString("{", ",", "}")
    val norefJson = timed.filter(_._2.noRef).map(kv => "\"" + kv._1 + "\"")
      .mkString("[", ",", "]")
    val calibPost = calibrate()
    val stealPost = stealTicks()
    val epochJson = s""""calib_sec":[$calibPre,$calibPost],""" +
      s""""steal_ticks":[$stealPre,$stealPost],"cpus":$cpus"""
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","reps":$Reps,""" +
      s""""queries":${jsonMap(_.official)},"queries_median":${jsonMap(_.median)},""" +
      s""""queries_min":${jsonMap(_.min)},"queries_reps":$repsJson,""" +
      s""""queries_steal":$stealJson,""" +
      s""""queries_noref":$norefJson,""" +
      s""""stalls":$stallJson,$epochJson,""" +
      s""""errors":$errJson,"n_failed":${errors.length},"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_detail.json"), fullJson)
    val slowest = timed.sortBy(-_._2.official).take(15)
      .map { case (k, v) => "\"" + k + "\":" + math.round(v.official * 1000) / 1000.0 }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},""" +
      s""""unit":"sec","reps":$Reps,"n_queries":${timed.length},""" +
      s""""n_failed":${errors.length},"n_stalled":${stalls.length},""" +
      s""""stalls":$stallJson,"errors":$errJson,$epochJson,""" +
      s""""queries":$slowest,"detail":"bench_detail.json","sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) {
      errors.foreach { case (n, e) => System.err.println(s"[bench] FAILED $n: $e") }
      sys.exit(1)
    }
  }
}
