package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are `System.nanoTime` nanoseconds. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      step: Int, start: Long, end: Long)

/** What the Spark listeners saw between two [[Probe.reset]] calls. */
final class Window {
  var jobs, stages, tasks, taskMs = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L
  var queries, analysisMs, optimizerMs, planningMs = 0L
  val familyJobs = mutable.Map[String, Long]().withDefaultValue(0L)
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]() // epoch ms
  val stageSkew = mutable.ArrayBuffer[Double]()
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
}

/** Measures Spark from outside the program, through its public listeners
  * (`SparkListener`, `QueryExecutionListener` with the query's planning
  * tracker, `StreamingQueryListener`) and the GC MXBeans. Client threads
  * tag their jobs with local properties; the listener reads the tags to
  * split jobs by operator family and to parent job spans under the call
  * that launched them.
  */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  import Probe._

  private var w = new Window
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val jobOpen = mutable.Map[Int, (Long, Int, Int)]() // job -> start ms, parent, step
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val current = new ThreadLocal[(Int, Int)] // (span id, step id)
  /** nanoTime = epochMillis * 1e6 + offset; maps listener times onto spans. */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      w.jobs += 1
      val p = Option(e.properties)
      w.familyJobs(p.flatMap(x => Option(x.getProperty(FamilyKey))).getOrElse("")) += 1
      def num(k: String) = p.flatMap(x => Option(x.getProperty(k))).fold(-1)(_.toInt)
      jobOpen(e.jobId) = (e.time, num(SpanKey), num(StepKey))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobOpen.remove(e.jobId).foreach { case (t0, parent, step) =>
        if (step >= 0) record(s"job ${e.jobId}", "spark", parent, step,
          ms2ns(t0), ms2ns(e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      w.stages += 1
      stageTasks.remove(e.stageInfo.stageId).filter(_.nonEmpty).foreach { ts =>
        val s = ts.sorted
        w.stageSkew += s.last.toDouble / math.max(s(s.length / 2), 1L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      w.tasks += 1
      val i = e.taskInfo
      w.taskIntervals += ((i.launchTime, i.finishTime))
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += i.duration
      Option(e.taskMetrics).foreach { m =>
        w.taskMs += m.executorRunTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Probe.this.synchronized {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
        w.queries += 1
        w.analysisMs += ms("analysis")
        w.optimizerMs += ms("optimization")
        w.planningMs += ms("planning")
        ph.foreach { case (name, s) =>
          record(name, "plans", -1, -1, ms2ns(s.startTimeMs), ms2ns(s.endTimeMs))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      Probe.this.synchronized { w.progress += e.progress }
      if (tracing) recordBatch(e.progress)
      progressHook(e.progress)
    }
  }

  /** Called on the listener thread for every streaming progress event. */
  @volatile var progressHook: StreamingQueryProgress => Unit = _ => ()

  // Untraced runs attach only the streaming listener, which the ingest
  // workload needs to see when the meta table reflects a slice.
  if (tracing) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def ms2ns(ms: Long): Long = ms * 1000000L + offsetNs

  /** Waits for every pending listener event, then starts a new window. */
  def reset(): Unit = { drain(); synchronized { w = new Window } }

  /** Waits for every pending listener event and returns the window. */
  def window(): Window = { drain(); synchronized(w) }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Runs `body` as a span on this thread, tagging the jobs it launches
    * with `family` (operator family) and, when tracing, with the span.
    * A span opened with no enclosing span starts a new step.
    */
  def span[T](name: String, layer: String, family: String = null)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = current.get
    val prevFamily = sc.getLocalProperty(FamilyKey)
    if (family != null) sc.setLocalProperty(FamilyKey, family)
    if (!tracing) try body finally sc.setLocalProperty(FamilyKey, prevFamily)
    else {
      val (id, step) = synchronized {
        nextId += 1
        (nextId, if (outer == null) nextId else outer._2)
      }
      current.set((id, step))
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setLocalProperty(StepKey, step.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized(spans += Span(id, name, layer, if (outer == null) -1 else outer._1, step, t0, t1))
        current.set(outer)
        sc.setLocalProperty(SpanKey, if (outer == null) null else outer._1.toString)
        sc.setLocalProperty(StepKey, if (outer == null) null else outer._2.toString)
        sc.setLocalProperty(FamilyKey, prevFamily)
      }
    }
  }

  /** Adds a span observed by a listener (plan phase, job, stream phase).
    * Plan phases arrive without a step: they are parented under the
    * innermost client span that covers them.
    */
  def record(name: String, layer: String, parent: Int, step: Int,
             start: Long, end: Long): Unit = synchronized {
    nextId += 1
    spans += Span(nextId, name, layer, parent, step, start, math.max(start, end))
  }

  /** A micro-batch as a root span with its phases as children, laid out
    * in the order the micro-batch engine runs them.
    */
  private def recordBatch(p: StreamingQueryProgress): Unit = synchronized {
    val t0 = ms2ns(java.time.Instant.parse(p.timestamp).toEpochMilli)
    def d(k: String) = Option(p.durationMs.get(k)).fold(0L)(_.longValue) * 1000000L
    nextId += 1
    val root = nextId
    spans += Span(root, s"batch ${p.batchId}", "streaming", -1, root, t0, t0 + d("triggerExecution"))
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foldLeft(t0) { (at, k) =>
        nextId += 1
        spans += Span(nextId, k, "streaming", root, root, at, at + d(k))
        at + d(k)
      }
  }

  /** Drops the spans recorded so far (warm-up work). */
  def clearSpans(): Unit = { drain(); synchronized(spans.clear()) }

  def allSpans(): Seq[Span] = { drain(); synchronized(spans.toList) }
}

object Probe {
  val FamilyKey = "perfbench.family"
  val SpanKey = "perfbench.span"
  val StepKey = "perfbench.step"

  def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** CPU time this process has used, all threads, in ns. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use after a full collection, in MB. The pause between two
    * collections lets Spark's ContextCleaner drop the broadcast and shuffle
    * blocks the first one found unreachable.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Self time per span of one step's tree: every instant of the root
    * span goes to the deepest span open at that instant (the latest
    * started among equals), so the self times of a step sum to its wall
    * time exactly. Where siblings do not overlap this is a span's
    * duration minus the time its children cover.
    */
  def selfTimes(tree: Seq[Span], root: Span): Map[Int, Long] = {
    val byId = tree.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.id == root.id) 0 else byId.get(s.parent).fold(1)(p => 1 + depth(p))
    val depths = tree.map(s => s.id -> depth(s)).toMap
    val cuts = tree.flatMap(s => Seq(s.start, s.end))
      .map(t => math.min(math.max(t, root.start), root.end)).distinct.sorted
    val self = mutable.Map[Int, Long]().withDefaultValue(0L)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val open = tree.filter(s => s.start <= a && s.end >= b)
      if (open.nonEmpty) {
        val owner = open.maxBy(s => (depths(s.id), s.start))
        self(owner.id) += b - a
      }
    }
    self.toMap
  }
}
