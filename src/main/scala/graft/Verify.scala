package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.gates.Gate
/** Correctness dump: each gate's output → parquet, plus the gates'
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
    // iteration aid; without it every gate runs). The filtered
    // oracle_sql.json is also how to read one gate's oracle SQL.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.build()
    val errors = dump(spark, sfDir, outDir,
      SparkEntry.gates.filter(g => only.forall(_.contains(g.name))))
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} gate(s) failed: ${errors.keys.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Writes each gate's output, the gates' `oracle_sql.json` and
    * `errors.json` under `outDir`; returns the failed gates with their
    * messages.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           gates: Seq[Gate]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    gates.foreach { g =>
      try g.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        errors(g.name) = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] FAILED ${g.name}: ${errors(g.name)}")
      }
      GraftSession.reset(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.strings(gates.map(g => g.name -> g.oracle)))
    Files.writeString(Paths.get(s"$outDir/errors.json"), Json.strings(errors))
    errors.toMap
  }
}
