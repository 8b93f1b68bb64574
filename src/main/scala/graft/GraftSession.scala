package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Bench, Verify, the
  * tools mains and the test session all build through here, so a gate
  * timed, dumped, plan-inspected or unit-tested runs under the same
  * config (a probe under a different session lies: rcte1 once threw
  * RECURSION_ROW_LIMIT_EXCEEDED in a probe while green in Bench,
  * because only Bench lifted the recursion row limit).
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every setting [[build]] applies besides the master. */
  private[graft] def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    // Session-wide, not per-operator: the DSv2 gates (k13/k14) need it
    // when their plans EXECUTE, and a per-operator conf.set on the
    // shared session would leak into whichever gate runs next.
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    // rcte1's recursion touches each order once ACROSS rounds, so the
    // cumulative-row valve scales with the table (default 1M rows
    // tripped at the 10x rehearsal). The LEVEL limit (default 100)
    // stays: it is the bound that protects against runaway recursion.
    "spark.sql.cteRecursionRowLimit" -> "-1",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A local[cores] session under [[settings]], WARN logging. Like the
    * builder it wraps, returns the running session if there is one.
    */
  def build(cores: Int = defaultCores): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cores]").appName("graft")
    settings(cores).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with `pairs` set on the session, then restores every
    * key in `finally`, also when `body` throws: a key that had a value
    * gets it back, a key that was unset is unset again. Gates share one
    * session, so a gate that needs its own confs sets them only here.
    * The confs hold while `body` runs, so the work that needs them
    * (a collect, a stream's awaitTermination) must run inside it.
    */
  def withConfs[T](spark: SparkSession, pairs: Seq[(String, String)])(body: => T): T = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Drops everything a gate may have left cached, so the next gate
    * starts from the same state. `clearCache` frees only catalog-tracked
    * plans; the BSP operators' `localCheckpoint` blocks and
    * `persist`ed frames live in the BlockManager as persistent RDDs, and
    * left there they pile up across a long session until GC stalls
    * (the round-6 bimodal bench record). Every gate builds its plan from
    * scratch, so nothing still references the released blocks.
    */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    graft.operators.Ranks.releaseAll()
  }
}
