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
    * A round's pins are released only after the NEXT round's `act`, so
    * no action recomputes a released frame. The latest cut is the
    * exception: it lives until a newer cut has materialized. A frame
    * that a round reads twice can be served from the cache only once
    * (dd6's step: the analyzer re-instances the second reference, and
    * that copy misses the cache lookup), so the other reference
    * recomputes from the lineage — down to the latest cut, whose
    * blocks, once released, cannot be recomputed. After any `act` at
    * most two rounds stay pinned: the current one and the latest cut.
    *
    * The loop stops after the first `false` or after `maxRounds`
    * rounds. It returns the last frame still pinned, together with the
    * latest cut under it (the last round's other pins are released):
    * the caller collects it inside its own scope, or returns it lazily
    * for `GraftSession.reset` to free. On an exception every pin of
    * the loop is released.
    */
  def rounds(init: DataFrame, maxRounds: Int, cutEvery: Int)(
      step: (DataFrame, Int) => DataFrame)(
      act: (DataFrame, Int, Pins) => Boolean): DataFrame = {
    var prev = new Pins // the last finished round's
    var frame = prev(init)
    var cut = if (checkpointRdd(init).isDefined) prev else null // latest cut's
    def releaseAll(): Unit = { prev.release(); if (cut != null) cut.release() }
    try {
      var r = 0
      var go = true
      while (go && r < maxRounds) {
        r += 1
        val next = new Pins
        val cuts = cutEvery > 0 && r % cutEvery == 0
        try {
          val built = step(frame, r)
          frame = next(if (cuts) built.localCheckpoint(false) else built)
          go = act(frame, r, next)
        } catch { case e: Throwable => next.release(); throw e }
        if (prev ne cut) prev.release()
        if (cuts) {
          if (cut != null) cut.release()
          cut = next
        }
        prev = next
      }
      prev.held -= frame
      prev.release()
      frame
    } catch { case e: Throwable => releaseAll(); throw e }
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
