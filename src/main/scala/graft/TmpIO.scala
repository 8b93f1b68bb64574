package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Temp-dir hygiene for gates that stage side-effectful IO (ingest
  * round-trips, streaming sinks): collect the small read-back result
  * into a LOCAL DataFrame and delete the staging directory eagerly.
  * The lazy read-back would otherwise keep the directory live until
  * after the caller materializes it, so repeated verify/bench
  * invocations accumulated /tmp residue (round-2 verdict, missing #4).
  */
private[graft] object TmpIO {

  /** Gate-scoped scratch dir, preferring tmpfs (`/dev/shm`) over
    * `java.io.tmpdir`. The streaming gates pay one state-store commit
    * per partition per micro-batch plus checkpoint-manager
    * rename+fsync traffic; on tmpfs those fsyncs are memory writes, on
    * a loaded physical disk they dominate the gate (driver-box bench
    * ran the streaming gates 4-6x slower than an idle local run).
    * Every scratch dir is deleted eagerly by [[collectAndClean]], so
    * nothing outlives the gate. Production callers supply their own
    * durable checkpoint locations — this is test/bench staging only.
    */
  def scratchDir(prefix: String): String = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }

  /** Hard cap on the driver-side collect below. Every legitimate caller
    * returns a bounded gate summary (≤ a few thousand rows); the cap
    * exists so this seam can never be silently reused to route a
    * corpus-sized result through the driver — that caller must keep its
    * result distributed instead.
    */
  private[graft] final val MaxCollectRows = 100000L

  /** Stable per-gate staging for CORPUS-SIZED gate results, which must
    * never ride the driver (the sf1 rehearsal caught st8 collecting
    * the whole deduped event table through [[collectAndClean]]'s cap):
    * the dir is wiped and recreated at gate START, the gate writes its
    * output there, and the caller returns a LAZY reader over it.
    * Residue is bounded to one output per gate per live process —
    * overwritten by the next invocation — instead of growing per run;
    * bulky staging subdirs (inputs, checkpoints) are still deleted
    * eagerly via [[deleteSubdirs]] once the gate's stream has terminated.
    *
    * The dir is `graft_stable_<gate>_<pid>`, so two graft JVMs on one
    * machine never share (and delete) each other's output. At entry
    * the gate's dirs of processes no longer alive are reclaimed; a
    * live process's dir is left alone.
    */
  def stableDir(gate: String): String = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm
      else new java.io.File(System.getProperty("java.io.tmpdir"))
    stableDirIn(base, gate, ProcessHandle.current().pid())
  }

  /** [[stableDir]] under `base` for process `pid`. */
  private[graft] def stableDirIn(base: java.io.File, gate: String, pid: Long): String = {
    val own = s"graft_stable_${gate}_"
    Option(base.listFiles()).getOrElse(Array.empty).foreach { f =>
      val tail = f.getName.stripPrefix(own)
      if (f.getName.startsWith(own) && tail.nonEmpty && tail.length <= 18 &&
          tail.forall(_.isDigit)) {
        val p = tail.toLong
        if (p != pid && !ProcessHandle.of(p).isPresent) deleteRecursively(f)
      }
    }
    val d = new java.io.File(base, s"$own$pid")
    deleteRecursively(d)
    d.mkdirs()
    d.toString
  }

  /** Eagerly reclaim named staging subdirs under a [[stableDir]] once
    * the gate no longer reads them (streams terminated, stores read).
    */
  def deleteSubdirs(root: String, names: String*): Unit =
    names.foreach(n => deleteRecursively(new java.io.File(root, n)))

  def collectAndClean(spark: SparkSession, tmpRoot: String)(df: DataFrame): DataFrame = {
    val schema = df.schema
    val rows = df.limit(MaxCollectRows.toInt + 1).collect()
    require(rows.length <= MaxCollectRows,
      s"TmpIO.collectAndClean is a bounded control-plane seam: result exceeds " +
        s"$MaxCollectRows rows — keep corpus-scale results distributed " +
        s"(write them to the destination directly) instead of collecting")
    deleteRecursively(new java.io.File(tmpRoot))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }
}
