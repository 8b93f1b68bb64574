package graft

import java.io.File
import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** Zone maps are a pure optimization: whatever statistics the parquet
  * writers left in the footers, a zone-pruned range read returns exactly
  * the rows of the unpruned filter.
  */
class TxTableZonesSpec extends SparkSpec {
  import spark.implicits._

  private val StatsKey = "parquet.column.statistics.enabled"

  private def batch(rng: Random): Seq[(Option[Long], Long)] = {
    val base = rng.nextInt(1000).toLong
    Seq.fill(rng.nextInt(400)) {
      (if (rng.nextInt(8) == 0) None else Some(base + rng.nextInt(120)), rng.nextLong())
    }
  }

  /** Writes a batch with its own writer settings and moves its files into
    * `stage`: the files of a foreign writer.
    */
  private def writeInto(stage: File, rows: Seq[(Option[Long], Long)], stats: Boolean,
                        smallBlocks: Boolean, parts: Int, tag: String): Unit = {
    val out = tmpDir("zones_w_") + "/out"
    rows.toDF("k", "v").repartition(parts).write
      .option(StatsKey, stats.toString)
      .option("parquet.block.size", if (smallBlocks) "1024" else "134217728")
      .parquet(out)
    new File(out).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.move(f.toPath, stage.toPath.resolve(s"$tag-${f.getName}"))
    }
    graft.TmpIO.deleteRecursively(new File(out).getParentFile)
  }

  test("prop: a zone-pruned range read equals the unpruned filter") {
    val rng = new Random(17)
    for (trial <- 1 to 12) {
      val dir = tmpDir("zones_")
      val t = new TxTable(s"$dir/t")
      try {
        for (b <- 1 to 1 + rng.nextInt(4)) {
          if (rng.nextBoolean()) {
            // Several writers, each with its own statistics settings, in one
            // staged dir.
            val stage = new File(s"$dir/t/data/stage-$b")
            stage.mkdirs()
            (1 to 1 + rng.nextInt(3)).foreach { w =>
              writeInto(stage, batch(rng), rng.nextBoolean(), rng.nextBoolean(),
                1 + rng.nextInt(3), s"w$w")
            }
            t.appendStaged(spark, stage.toString, "k")
          } else {
            // The public path, with the session's writer statistics setting.
            val stats = rng.nextBoolean()
            spark.conf.set(StatsKey, stats.toString)
            try t.appendWithStats(batch(rng).toDF("k", "v").repartition(1 + rng.nextInt(3)), "k")
            finally spark.conf.unset(StatsKey)
          }
        }
        val all = t.snapshot(spark).persist()
        for (_ <- 1 to 8) {
          val lo = rng.nextInt(1200).toLong - 60
          val hi = lo + rng.nextInt(240)
          def rows(df: org.apache.spark.sql.DataFrame) =
            df.select(col("k"), col("v")).as[(Long, Long)].collect().sorted.toSeq
          val pruned = rows(t.snapshotRange(spark, "k", lo, hi))
          val full = rows(all.filter(col("k").between(lo, hi)))
          assert(pruned == full, s"trial $trial range [$lo, $hi]: " +
            s"${t.resolveDirsRange("k", lo, hi).size} of ${t.resolveDirs().size} dirs kept")
        }
        all.unpersist()
      } finally graft.TmpIO.deleteRecursively(new File(dir))
    }
  }
}
