package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus one
  * SparkListener and one QueryExecutionListener attached from outside
  * the program. Events are attributed to spans by time window: an event
  * at time t belongs to the latest span that started at or before t and
  * had not ended by then. Job-group properties are not used because
  * Etl's pooled threads keep the local properties they were created
  * with. Everything is kept in memory until [[census]].
  *
  * A disabled or detached tracer registers nothing and `span` only runs
  * its body. [[selfS]] is the time the tracer's own code has taken: its
  * listener callbacks (on the bus threads, which share the cores with the
  * ops) and its span bookkeeping (on the op's thread).
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Job]
  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val plans = new ConcurrentLinkedQueue[Plan]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val selfNs = new java.util.concurrent.atomic.AtomicLong

  private def self[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  /** Seconds the tracer's own code has taken so far, once every event so
    * far has been delivered.
    */
  def selfS: Double = {
    if (attached) BenchBus.drain(spark.sparkContext)
    selfNs.get / 1e9
  }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = self(e match {
      // a SQL execution's description is the short call site of the
      // Dataset action, taken on the thread that ran it
      case x: SparkListenerSQLExecutionStart =>
        execSites.put(x.executionId, x.description)
      case _ =>
    })
    override def onJobStart(e: SparkListenerJobStart): Unit = self {
      // jobs outside a SQL execution: the result stage is created after
      // its parents, so it has the highest id, and its name is the
      // job's short call site
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val site =
        if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).name
      jobs.add(Job(e.time, exec.map(_.toLong), site))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = self {
      val i = e.stageInfo
      val t: Long = i.submissionTime.orElse(i.completionTime).getOrElse(0L)
      stages.add(t)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = self {
      val m = e.taskMetrics
      if (m != null)
        tasks.add(Task(e.taskInfo.launchTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead))
    }
  }
  private val planListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = self {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add(Plan(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      rec(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = rec(qe)
  }
  private var attached = false
  attach()

  /** Starts recording (a no-op on a disabled tracer). */
  def attach(): Unit = if (on && !attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    attached = true
  }

  /** Stops recording once every event so far has been delivered; what
    * runs while detached pays nothing for tracing.
    */
  def detach(): Unit = if (attached) {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    attached = false
  }

  def span[A](name: String)(body: => A): A =
    if (!attached) body
    else {
      val s0 = System.nanoTime()
      val gc0 = gcMs(); val jit0 = jitMs()
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      selfNs.addAndGet(n0 - s0)
      try body
      finally {
        val n1 = System.nanoTime(); val t1 = System.currentTimeMillis()
        spans += Span(name, t0, t1, (n1 - n0) / 1e9, gcMs() - gc0,
          jitMs() - jit0)
        selfNs.addAndGet(System.nanoTime() - n1)
      }
    }

  /** Rolls the events of `[fromMs, toMs]` up per span name. Returns the
    * per-name totals and the number of jobs in the window that fell in
    * no span (0 when the spans account for every job).
    */
  def census(fromMs: Long, toMs: Long): (Map[String, Totals], Long) = {
    BenchBus.drain(spark.sparkContext)
    val sp = spans.filter(s => s.startMs >= fromMs && s.endMs <= toMs)
      .sortBy(_.startMs).toIndexedSeq
    val starts = sp.map(_.startMs).toArray
    def owner(t: Long): Option[Span] = {
      // latest span starting at or before t
      var i = java.util.Arrays.binarySearch(starts, t)
      if (i < 0) i = -i - 2
      else while (i + 1 < starts.length && starts(i + 1) == t) i += 1
      if (i >= 0 && t <= sp(i).endMs) Some(sp(i)) else None
    }
    val tot = mutable.LinkedHashMap.empty[String, Totals]
    def at(s: Span) = tot.getOrElseUpdate(s.name, new Totals)
    sp.foreach { s =>
      val t = at(s); t.wallS += s.wallS; t.gcMs += s.gcMs; t.jitMs += s.jitMs
    }
    var unattributed = 0L
    jobs.asScala.filter(j => j.timeMs >= fromMs && j.timeMs <= toMs)
      .foreach { j =>
        owner(j.timeMs) match {
          case Some(s) =>
            val t = at(s); t.jobs += 1
            val f = siteFile(j.execution.flatMap(x => Option(execSites.get(x)))
              .getOrElse(j.stageName))
            t.jobsBySite(f) = t.jobsBySite.getOrElse(f, 0L) + 1
          case None => unattributed += 1
        }
      }
    stages.asScala.foreach(ms => owner(ms).foreach(s => at(s).stages += 1))
    tasks.asScala.foreach { k =>
      owner(k.timeMs).foreach { s =>
        val t = at(s)
        t.tasks += 1; t.taskMs += k.runMs; t.shuffleBytes += k.shuffleBytes
        t.inBytes += k.inBytes; t.inRows += k.inRows
      }
    }
    plans.asScala.foreach(p => owner(p.timeMs).foreach { s =>
      at(s).planMs += p.ms
    })
    (tot.toMap, unattributed)
  }

  /** Wall seconds of each top-level span inside `[fromMs, toMs]`. */
  def spanWalls(fromMs: Long, toMs: Long, names: Set[String]): Double =
    spans.filter(s => names(s.name) && s.startMs >= fromMs &&
      s.endMs <= toMs).map(_.wallS).sum
}

object Tracer {
  final case class Job(timeMs: Long, execution: Option[Long], stageName: String)
  final case class Task(timeMs: Long, runMs: Long, shuffleBytes: Long,
      inBytes: Long, inRows: Long)
  final case class Plan(timeMs: Long, ms: Long)
  final case class Span(name: String, startMs: Long, endMs: Long,
      wallS: Double, gcMs: Long, jitMs: Long)

  final class Totals {
    var wallS, gcMs, jitMs = 0.0
    var jobs, stages, tasks, taskMs, planMs, shuffleBytes = 0L
    var inBytes, inRows = 0L
    val jobsBySite = mutable.Map.empty[String, Long]
  }

  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.scala:""".r.unanchored

  /** `count at Scd2.scala:120` -> `Scd2`; anything else -> `other`. */
  def siteFile(site: String): String = site match {
    case SiteFile(f) if Set("Scd2", "Scd1", "Lakehouse")(f) => f
    case _ => "other"
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime
}
