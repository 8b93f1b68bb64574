package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftshim.PlanShim

/** Diagnostic main: run named gates once (warm) and print how many
  * Spark JOBS / STAGES / TASKS each submitted — the driver-side
  * scheduling exposure that turns into wall-clock fragility on a
  * contended box (PERF.md §Round 11: the graph family's noisy-box
  * inflation is stage-count sensitivity, not plan cost). Use to
  * verify a fusion actually removed scheduler round-trips, because
  * wall-clock on a throttled box cannot.
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
    })
    args.foreach { name =>
      val fn = graft.SparkEntry.gates.find(_.name == name).get.run
      graft.GraftSession.reset(spark)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      graft.GraftSession.reset(spark)
      // Listener events arrive asynchronously: drain the warm run's
      // before the counters reset, the counted run's before the print.
      PlanShim.drainListenerBus(spark)
      jobs = 0; stages = 0; tasks = 0
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      PlanShim.drainListenerBus(spark)
      println(f"JOBCOUNT $name jobs=$jobs stages=$stages tasks=$tasks wall=$dt%.2f")
    }
    spark.stop()
  }
}
