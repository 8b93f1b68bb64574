package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/oracle_check.py`).
  *
  * A gate that throws does not stop the dump: the remaining gates still
  * run, the failures are listed as `{gate: message}` in
  * `<outDir>/errors.json` (always written, `{}` when every gate ran), and
  * the process exits 1.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name filter (local
    // iteration aid; the driver always runs the full surface).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Session-wide for the same reason as Bench: DSv2 bucketing must
      // be on when the k13/k14 plans EXECUTE, and per-operator sets on
      // the shared session would make later gates order-dependent.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // Recursion's cumulative-row valve scales with the table (rcte1
      // touches each order once across rounds) — the level limit is the
      // real runaway guard; see Bench.scala.
      .config("spark.sql.cteRecursionRowLimit", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val errors = dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter(kv => selected(kv._1)),
      SparkEntry.oracleSql.filter(kv => selected(kv._1)))
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} gate(s) failed: ${errors.keys.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Writes each gate's output, `oracle_sql.json` and `errors.json` under
    * `outDir`; returns the failed gates with their messages.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           gates: Seq[(String, (SparkSession, String) => DataFrame)],
           oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    gates.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] FAILED $name: ${errors(name)}")
      }
      // Operators cache() intermediates internally; dropping them here
      // keeps one long verify session from accumulating cached blocks.
      // localCheckpoint() blocks (BSP operators) live in the
      // BlockManager, not the catalog — unpersist those too, or a
      // 241-query session accumulates them until GC stalls (round-6
      // driver bench bimodality).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      graft.operators.Ranks.releaseAll() // drain the Ranks registry too
    }
    def json(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), json(errors))
    errors.toMap
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in an oracle SQL string would otherwise make json.load
  // of the manifest fail and silently skip every comparison.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
