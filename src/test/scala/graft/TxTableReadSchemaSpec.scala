package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanShim
import graft.sources.TxTable

/** TxTable reads give their scan a schema from the dirs' footers, so
  * building a read starts no Spark job. Each read path must still carry
  * the schema Spark's own inference gives over the same dirs, and the
  * same rows.
  */
class TxTableReadSchemaSpec extends SparkSpec {
  import spark.implicits._

  /** `body`'s result and the Spark jobs it started on this thread. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val key = "graft.test.readSchemaProbe"
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty(key, tag)
    try {
      val r = body
      PlanShim.drainListenerBus(spark)
      (r, n.get)
    } finally {
      spark.sparkContext.setLocalProperty(key, null)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def inferred(dirs: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)

  /** `read` starts no job and matches `want` in schema and rows. */
  private def check(what: String, read: => DataFrame, want: => DataFrame): Unit = {
    val (df, jobs) = jobsOf(read)
    assert(jobs == 0, s"$what: building the read started $jobs Spark job(s)")
    val w = want
    assert(df.schema == w.schema, s"$what: ${df.schema.simpleString} != ${w.schema.simpleString}")
    assert(rows(df) == rows(w), s"$what: rows differ")
  }

  private def withTable(body: TxTable => Unit): Unit = {
    val dir = tmpDir("txtable_schema_")
    try body(new TxTable(s"$dir/t"))
    finally TmpIO.deleteRecursively(new java.io.File(dir))
  }

  test("the job probe sees a schema-inference job") {
    withTable { t =>
      t.append(Seq((1L, "a")).toDF("k", "s"))
      assert(jobsOf(inferred(t.resolveDirs()))._2 >= 1)
    }
  }

  test("plain table: every read path keeps the inferred schema and rows, at zero jobs") {
    withTable { t =>
      t.appendWithStats(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "s", "d"), "k")
      t.appendWithStats(Seq((10L, "c", 3.5)).toDF("k", "s", "d"), "k")
      t.appendWithBloom(Seq((20L, "e", 4.5), (21L, "f", 5.5)).toDF("k", "s", "d"), "k")
      val dirs = t.resolveDirs()
      check("snapshot", t.snapshot(spark), spark.read.parquet(dirs: _*))
      check("snapshotEvolved", t.snapshotEvolved(spark), inferred(dirs))
      check("snapshot asOf", t.snapshot(spark, Some(2L)),
        spark.read.parquet(t.resolveDirs(Some(2L)): _*))
      check("snapshotRange", t.snapshotRange(spark, "k", 2L, 10L),
        inferred(t.resolveDirsRange("k", 2L, 10L)).filter(col("k").between(2L, 10L)))
      check("snapshotEquals", t.snapshotEquals(spark, "k", 21L),
        inferred(t.resolveDirsEquals("k", 21L)).filter(col("k") === 21L))
      check("readChanges", t.readChanges(spark, 1L),
        spark.read.parquet(dirs(1)).withColumn("_commit_version", lit(2L))
          .unionByName(spark.read.parquet(dirs(2)).withColumn("_commit_version", lit(3L))))
    }
  }

  test("additive evolution: snapshotEvolved and a changes range across the new column") {
    withTable { t =>
      t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
      t.append(Seq((3L, "c", 7.0)).toDF("k", "s", "w"))
      t.append(Seq((4L, "d", 8.0, true)).toDF("k", "s", "w", "z"))
      val dirs = t.resolveDirs()
      check("snapshotEvolved", t.snapshotEvolved(spark), inferred(dirs))
      def version(v: Long) =
        spark.read.parquet(dirs(v.toInt - 1)).withColumn("_commit_version", lit(v))
      check("readChanges across the new columns", t.readChanges(spark, 0L),
        Seq(1L, 2L, 3L).map(version).reduce(_.unionByName(_, allowMissingColumns = true)))
      check("snapshotRange over evolved dirs", t.snapshotRange(spark, "k", 2L, 4L),
        inferred(dirs).filter(col("k").between(2L, 4L)))
    }
  }

  test("deletion vectors: the DV read takes its fixed schema") {
    withTable { t =>
      t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))
      t.append(Seq((4L, "d"), (5L, "e")).toDF("k", "s"))
      t.deleteWhere(spark, col("k") % 2 === 0)
      assert(t.resolveDvDirs().nonEmpty)
      assert(spark.read.parquet(t.resolveDvDirs(): _*).schema == TxTable.DvSchema)
      val live = inferred(t.resolveDirs()).filter(col("k") % 2 =!= 0)
      check("snapshot with DVs", t.snapshot(spark), live)
      check("snapshotEvolved with DVs", t.snapshotEvolved(spark), live)
      check("snapshotRange with DVs", t.snapshotRange(spark, "k", 1L, 4L),
        live.filter(col("k").between(1L, 4L)))
    }
  }

  test("a range read that prunes every dir is empty, with the table's schema") {
    withTable { t =>
      t.appendWithStats(Seq((1L, "a"), (9L, "b")).toDF("k", "s"), "k")
      t.appendWithStats(Seq((10L, "c")).toDF("k", "s"), "k")
      assert(t.resolveDirsRange("k", 100L, 200L).isEmpty)
      check("pruned range", t.snapshotRange(spark, "k", 100L, 200L),
        inferred(t.resolveDirs()).filter(lit(false)))
    }
  }

  test("publishing a staged dir whose files have two schemas fails") {
    withTable { t =>
      t.append(Seq((1L, "a")).toDF("k", "s"))
      val stage = new java.io.File(s"${t.root}/data/stage-mixed")
      stage.mkdirs()
      Seq(Seq((2L, "b")).toDF("k", "s"), Seq((3L, "c", 7.0)).toDF("k", "s", "w"))
        .zipWithIndex.foreach { case (df, i) =>
          val out = s"${t.root}/w$i"
          df.coalesce(1).write.parquet(out)
          new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
            java.nio.file.Files.move(f.toPath, stage.toPath.resolve(s"w$i-${f.getName}"))
          }
        }
      val e = intercept[IllegalArgumentException](t.appendStaged(spark, stage.toString, "k"))
      assert(e.getMessage.contains("2 schemas"), e.getMessage)
      assert(t.latestVersion().contains(1L))
    }
  }
}
