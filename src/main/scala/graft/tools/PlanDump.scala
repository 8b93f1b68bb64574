package graft.tools

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan evidence tool: registers a QueryExecutionListener and dumps
  * the formatted plan of EVERY query executed while the gate runs —
  * the returned frame's execution and, for gates that materialize
  * bounded results via collect+createDataFrame, the internal
  * executions whose exchanges/joins the returned LocalTableScan hides.
  * Runs under the shared [[graft.GraftSession]] config, at
  * SPARK_GRAFT_SF_DIR (default sf0.01).
  * Usage: runMain graft.tools.PlanDump <gate...> [> plans.txt] .
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build()
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val buf = new java.lang.StringBuilder
    val listener = new QueryExecutionListener {
      private def dump(fn: String, qe: QueryExecution): Unit = buf.synchronized {
        buf.append(s"\n===== execution ($fn) =====\n")
          .append(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = dump(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = dump(funcName, qe)
    }
    spark.listenerManager.register(listener)
    for (q <- args) {
      buf.setLength(0)
      println(s"===== $q (all executions) =====")
      val df = graft.SparkEntry.gates.find(_.name == q).get.run(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.graftshim.PlanShim.drainListenerBus(spark)
      println(buf.toString)
    }
    spark.stop()
  }
}
