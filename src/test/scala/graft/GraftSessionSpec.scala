package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import graft.operators.{Pins, Ranks}

/** The one session factory: its settings reach the test session, its
  * reset leaves no persistent RDD behind, and no other main source
  * builds a session of its own.
  */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries every setting GraftSession.build applies") {
    val expected = Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.cteRecursionRowLimit" -> "-1",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    assert(GraftSession.settings(8).toMap == expected)
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.master == "local[8]")
  }

  test("reset releases persisted, locally checkpointed and Ranks-cached frames") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    def persists(what: String)(step: => Unit): Unit = {
      val before = persisted
      step
      assert((persisted -- before).nonEmpty, s"$what persisted nothing")
    }
    val df = spark.range(0, 100, 1, 4).withColumn("v", col("id") % 7)
    persists("persist")(df.persist().count())
    persists("localCheckpoint")(df.filter(col("v") > 2).localCheckpoint().count())
    persists("withGlobalRowNumber") {
      Ranks.scan(df, Seq(col("id").asc), 4, Some("rn"), Nil)._1.count()
    }
    GraftSession.reset(spark)
    // unpersist(blocking = false) is asynchronous; poll briefly.
    val deadline = System.nanoTime() + 10e9.toLong
    while (persisted.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(persisted.isEmpty, s"left behind: $persisted")
  }

  test("a Pins.local body that throws leaves no pinned frame behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      Pins.local(spark) { p =>
        p(spark.range(0, 100, 1, 4).withColumn("v", col("id") % 7)).count()
        throw new IllegalStateException("gate failed after pinning")
      }
    }
    assert(sc.getPersistentRDDs.keySet == before,
      s"leaked: ${sc.getPersistentRDDs.keySet -- before}")
  }

  test("withConfs restores a set key and unsets an unset key, on return and on a throw") {
    val (setKey, unsetKey) = ("spark.sql.shuffle.partitions", "spark.graft.withConfsSpec")
    val before = spark.conf.get(setKey)
    assert(spark.conf.getOption(unsetKey).isEmpty)
    val pairs = Seq(setKey -> "3", unsetKey -> "on")
    def inside(): Unit = {
      assert(spark.conf.get(setKey) == "3")
      assert(spark.conf.get(unsetKey) == "on")
    }
    def restored(): Unit = {
      assert(spark.conf.get(setKey) == before)
      assert(spark.conf.getOption(unsetKey).isEmpty)
    }
    assert(GraftSession.withConfs(spark, pairs) { inside(); 42 } == 42)
    restored()
    intercept[IllegalStateException] {
      GraftSession.withConfs(spark, pairs) { inside(); throw new IllegalStateException("body failed") }
    }
    restored()
  }

  /** Main sources (relative to src/main) whose text contains `s`. */
  private def mainSourcesContaining(s: String): List[String] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter(p => Files.readString(p).contains(s))
      .map((p: Path) => root.relativize(p).toString).toList
  }

  test("no main source other than GraftSession.scala builds a SparkSession") {
    val builders = mainSourcesContaining("SparkSession.builder")
    assert(builders == List("scala/graft/GraftSession.scala"), builders)
  }

  test("no main source other than Pins.scala rebuilds a collected result by hand") {
    // Pins.local collects a bounded result and releases its pins in
    // one place; a hand-rolled collect-unpersist-rebuild leaks them on
    // any exception in between.
    val sites = mainSourcesContaining("createDataFrame(java.util.Arrays.asList(")
    assert(sites == List("scala/graft/operators/Pins.scala"), sites)
  }
}
