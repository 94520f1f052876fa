package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, plus a listener that
  * attributes Spark work to the span that was open when it was submitted.
  *
  * A span's id travels to Spark as a thread-local job property, so jobs
  * submitted from helper threads the span's thread started (broadcast
  * builds, stream micro-batches) are attributed to it too. Task time,
  * shuffle, spill and GC are summed per span from task-end events; job
  * start/end times give each span's driver gap, the part of its wall clock
  * no job covers. Listener events arrive asynchronously: call [[drain]]
  * before reading [[stats]] or [[actions]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val lock = new Object
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open: Option[Span] = None
  private var nextId = 1L
  private val perSpan = mutable.HashMap.empty[Long, Stats]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long)]
  private val actionLog = mutable.ArrayBuffer.empty[Action]
  private val drained = new java.util.concurrent.LinkedBlockingQueue[java.lang.Integer]()

  def span[T](name: String)(body: => T): T = {
    val s = lock.synchronized { val s = new Span(nextId, name, open); nextId += 1; all += s; s }
    val prev = sc.getLocalProperty(SpanKey)
    open = Some(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    s.ms0 = System.currentTimeMillis()
    s.t0 = System.nanoTime()
    try body
    finally {
      s.t1 = System.nanoTime()
      s.ms1 = System.currentTimeMillis()
      s.parent.foreach(p => p.childNs += s.t1 - s.t0)
      open = s.parent
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      jobSpan(e.jobId) = (id, e.time)
      e.stageIds.foreach(stageSpan(_) = id)
      statsOf(id).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val id = lock.synchronized {
        jobSpan.remove(e.jobId).map { case (id, t0) => statsOf(id).jobIntervals += ((t0, e.time)); id }
      }
      if (id.contains(DrainId)) drained.put(e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = statsOf(stageSpan.getOrElse(e.stageId, 0L))
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val n = fitPasses(qe.executedPlan)
      lock.synchronized { actionLog += Action(funcName, durationNs / 1e9, n) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def statsOf(id: Long): Stats = perSpan.getOrElseUpdate(id, new Stats)

  /** GWR fit operators in an executed plan: `MapPartitionsExec` nodes whose
    * function was defined in `graft.pipeline.Forage` (stage 2's per-cell fit
    * is the pipeline's only typed `mapPartitions`). A cached relation is not
    * descended into: its plan runs only when the cache is built. */
  def fitPasses(plan: SparkPlan): Int = {
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec  => Seq(a.executedPlan)
      case s: QueryStageExec         => Seq(s.plan)
      case _: InMemoryTableScanExec  => Nil
      case d: DataWritingCommandExec => Seq(d.child)
      case e: ExecutedCommandExec    => e.children
      case other                     => other.children ++ other.subqueries
    }
    def walk(p: SparkPlan): Int = {
      val self = p match {
        case m: org.apache.spark.sql.execution.MapPartitionsExec
            if m.func.getClass.getName.startsWith(FitMarker) => 1
        case _ => 0
      }
      self + kids(p).map(walk).sum
    }
    walk(plan)
  }

  def attach(): Unit = { sc.addSparkListener(listener); spark.listenerManager.register(sqlListener) }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(sqlListener)
  }

  /** Block until every event posted so far has reached the listeners: a
    * marker job's end event is queued behind all of them. */
  def drain(): Unit = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, DrainId.toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SpanKey, prev)
    if (drained.poll(60, java.util.concurrent.TimeUnit.SECONDS) == null)
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }

  def spans: Seq[Span] = lock.synchronized(all.toSeq)
  def actions: Seq[Action] = lock.synchronized(actionLog.toSeq)
  def reset(): Unit = lock.synchronized { all.clear(); perSpan.clear(); actionLog.clear() }

  /** Summed stats of the given spans. */
  def stats(ss: Seq[Span]): Stats = lock.synchronized {
    val out = new Stats
    ss.flatMap(s => perSpan.get(s.id)).foreach { s =>
      out.jobs += s.jobs; out.tasks += s.tasks; out.runMs += s.runMs; out.gcMs += s.gcMs
      out.shuffleWrite += s.shuffleWrite; out.spill += s.spill
      out.inputRecords += s.inputRecords; out.outputBytes += s.outputBytes
      out.jobIntervals ++= s.jobIntervals
    }
    out
  }

  /** A span and every span nested in it. */
  def subtree(root: Span): Seq[Span] = {
    val ss = spans
    ss.filter(s => Iterator.iterate(Option(s))(_.flatMap(_.parent)).takeWhile(_.isDefined)
      .exists(_.get.id == root.id))
  }

  /** Seconds of the spans' walls that no job of theirs covers. */
  def driverGapS(ss: Seq[Span]): Double =
    ss.map(_.wallS).sum - coveredS(ss)

  /** Seconds of the spans' walls covered by at least one of their jobs. */
  def coveredS(ss: Seq[Span]): Double = ss.map { s =>
    val (lo, hi) = s.intervalMs
    val iv = stats(subtree(s)).jobIntervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered / 1e3
  }.sum
}

object Tracer {
  final class Span(val id: Long, val name: String, val parent: Option[Span]) {
    private[perfbench] var t0 = 0L
    private[perfbench] var t1 = 0L
    private[perfbench] var childNs = 0L
    private[perfbench] var ms0 = 0L
    private[perfbench] var ms1 = 0L
    def wallS: Double = (t1 - t0) / 1e9
    /** Wall minus the part of it the span's children cover. */
    def selfS: Double = (t1 - t0 - childNs) / 1e9
    def intervalMs: (Long, Long) = (ms0, ms1)
  }

  final class Stats {
    var jobs, tasks, runMs, gcMs, shuffleWrite, spill, inputRecords, outputBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** One Dataset action, as the SQL listener reported it. `fitPasses` counts
    * the GWR fit operators its executed plan ran (see [[fitPasses]]). */
  final case class Action(func: String, seconds: Double, fitPasses: Int)

  val SpanKey = "perfbench.span"
  private val FitMarker = "graft.pipeline.Forage$"
  private val DrainId = -1L
}
