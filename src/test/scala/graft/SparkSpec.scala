package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one SparkContext). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.build(8)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf

  private val tmpDirs = ArrayBuffer.empty[java.io.File]

  /** A fresh temp dir, deleted with its contents after the suite. */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs.synchronized(tmpDirs += d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try tmpDirs.synchronized(tmpDirs.foreach(TmpIO.deleteRecursively))
    finally super.afterAll()
}
