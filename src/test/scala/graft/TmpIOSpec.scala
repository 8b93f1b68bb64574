package graft

import org.apache.spark.sql.functions._

/** The collect-to-driver seam in TmpIO is a bounded control-plane
  * transfer by contract: every gate routes only a small summary frame
  * through it. The row cap makes that contract executable — a future
  * caller that tries to collect a corpus-scale result must fail loudly
  * instead of OOMing the driver at some larger SF.
  */
class TmpIOSpec extends SparkSpec {

  test("collectAndClean round-trips a small frame and deletes the staging dir") {
    val root = tmpDir("tmpio-ok-")
    val out = TmpIO.collectAndClean(spark, root) {
      spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    }
    assert(out.count() == 100L)
    assert(!new java.io.File(root).exists(), "staging dir must be gone")
  }

  test("collectAndClean refuses a result above the row cap") {
    val root = tmpDir("tmpio-cap-")
    try {
      val e = intercept[IllegalArgumentException] {
        TmpIO.collectAndClean(spark, root) {
          spark.range(TmpIO.MaxCollectRows + 1).toDF()
        }
      }
      assert(e.getMessage.contains("control-plane"))
      assert(new java.io.File(root).exists(),
        "staging dir must survive — the caller still owns cleanup on failure")
    } finally TmpIO.deleteRecursively(new java.io.File(root))
  }

  /** A pid no process holds: a child that has already exited. */
  private def deadPid(): Long = {
    val c = new ProcessBuilder("true").start()
    c.waitFor()
    c.pid()
  }

  private def dirWithFile(base: java.io.File, name: String): java.io.File = {
    val d = new java.io.File(base, name)
    d.mkdirs()
    java.nio.file.Files.write(new java.io.File(d, "part").toPath, Array[Byte](1))
    d
  }

  test("stableDir reclaims this gate's dir of a dead process, and no other gate's") {
    val base = new java.io.File(tmpDir("tmpio-stable-dead-"))
    try {
      val dead = deadPid()
      val gone = dirWithFile(base, s"graft_stable_g_$dead")
      val otherGate = dirWithFile(base, s"graft_stable_g1_$dead")
      val unnumbered = dirWithFile(base, "graft_stable_g")
      TmpIO.stableDirIn(base, "g", ProcessHandle.current().pid())
      assert(!gone.exists(), "a dead process's dir is reclaimed")
      assert(otherGate.exists() && unnumbered.exists(), "only this gate's numbered dirs are touched")
    } finally TmpIO.deleteRecursively(base)
  }

  test("stableDir keeps this gate's dir of a live foreign process") {
    val base = new java.io.File(tmpDir("tmpio-stable-live-"))
    val other = new ProcessBuilder("sleep", "60").start()
    try {
      val live = dirWithFile(base, s"graft_stable_g_${other.pid()}")
      TmpIO.stableDirIn(base, "g", ProcessHandle.current().pid())
      assert(new java.io.File(live, "part").exists(), "a live process's output stays")
    } finally {
      other.destroy()
      TmpIO.deleteRecursively(base)
    }
  }

  test("stableDir wipes and reuses this process's own dir") {
    val base = new java.io.File(tmpDir("tmpio-stable-own-"))
    try {
      val pid = ProcessHandle.current().pid()
      val own = dirWithFile(base, s"graft_stable_g_$pid")
      val d = TmpIO.stableDirIn(base, "g", pid)
      assert(d == own.toString)
      assert(own.isDirectory && own.list().isEmpty, "the previous invocation's output is wiped")
    } finally TmpIO.deleteRecursively(base)
  }
}
