package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.storage.StorageLevel

/** The one owner of cache lifetime in the operators. A gate pins the
  * frames it reads more than once, and the pins are released here, in
  * one of two shapes:
  *
  *  - [[Pins.local]]: a gate with a BOUNDED result pins through `p`,
  *    and the result is collected before every pin is released (in
  *    `finally`, so a throwing gate leaks nothing). The caller gets a
  *    local frame over the collected rows — self-releasing.
  *  - [[Pins.rounds]]: the BSP loop. Each round's frame is pinned, and
  *    the previous round's is released only after the new round's one
  *    action has materialized it.
  *
  * [[Pins.scope]] is [[Pins.local]] without the collect, for gates
  * that assemble their result on the driver. A frame an operator
  * returns LAZILY while it still reads pinned blocks (the labels of
  * [[Dedup.duplicateClustersFrom]]) cannot release them itself; those
  * blocks live until `graft.GraftSession.reset`.
  */
final class Pins private () {
  private val held = ArrayBuffer.empty[DataFrame]

  /** Pins `df` until this scope ends: `persist(MEMORY_AND_DISK)`, unless
    * it is already cached or locally checkpointed, in which case the
    * scope only takes over its release.
    */
  def apply(df: DataFrame): DataFrame = {
    if (!Pins.pinned(df)) df.persist(StorageLevel.MEMORY_AND_DISK)
    held += df
    df
  }

  private def release(): Unit = {
    held.foreach(Pins.release)
    held.clear()
  }
}

object Pins {

  /** Runs `body` with a fresh scope and releases its pins afterwards,
    * also when `body` throws.
    */
  def scope[T](body: Pins => T): T = {
    val p = new Pins
    try body(p) finally p.release()
  }

  /** Runs `body`, collects the bounded frame it returns, releases every
    * pin and returns a local frame over the collected rows.
    */
  def local(spark: SparkSession)(body: Pins => DataFrame): DataFrame =
    scope { p =>
      val out = body(p)
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }

  /** The BSP loop. `init` is round 0's frame (pinned by persist unless
    * the caller already pinned or cut it). Round r = 1, 2, … builds its
    * frame with `step(previous, r)` and pins it: a lazy
    * `localCheckpoint(false)` — a CUT, after which the plan restarts
    * from a scan of the round's blocks — when `cutEvery > 0` and r is a
    * multiple of it, else a persist. `act(frame, r, pins)` is the
    * round's one action (it materializes the frame) and returns whether
    * to go on; frames it pins with `pins` share the round's lifetime.
    *
    * One release rule: a round's pins are released after the NEXT
    * round's `act`, so no action recomputes a released frame. `step`
    * must read the previous frame once — a second reference can miss
    * the cache lookup and recompute from the lineage, which a released
    * cut can no longer serve.
    *
    * The loop stops after the first `false` or after `maxRounds`
    * rounds. It returns its last frame still pinned (the last round's
    * other pins are released): the caller collects it inside its own
    * scope, or returns it lazily for `GraftSession.reset` to free. On
    * an exception every pin of the loop is released.
    */
  def rounds(init: DataFrame, maxRounds: Int, cutEvery: Int)(
      step: (DataFrame, Int) => DataFrame)(
      act: (DataFrame, Int, Pins) => Boolean): DataFrame = {
    var prev = new Pins // the last finished round's
    var frame = prev(init)
    try {
      var r = 0
      var go = true
      while (go && r < maxRounds) {
        r += 1
        val next = new Pins
        try {
          val built = step(frame, r)
          frame = next(if (cutEvery > 0 && r % cutEvery == 0) built.localCheckpoint(false) else built)
          go = act(frame, r, next)
        } catch { case e: Throwable => next.release(); throw e }
        prev.release()
        prev = next
      }
      prev.held -= frame
      prev.release()
      frame
    } catch { case e: Throwable => prev.release(); throw e }
  }

  /** Cached (catalog) or locally checkpointed. */
  private def pinned(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE || checkpointRdd(df).isDefined

  /** The persisted RDD under a `localCheckpoint`ed frame: its blocks
    * are not catalog-tracked, so `unpersist` alone never frees them.
    */
  private def checkpointRdd(df: DataFrame) = PlanShim.analyzed(df) match {
    case r: LogicalRDD if r.rdd.getStorageLevel != StorageLevel.NONE => Some(r.rdd)
    case _ => None
  }

  /** Non-blocking: the blocks are dropped in the background. */
  private def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    checkpointRdd(df).foreach(_.unpersist(blocking = false))
  }
}
