package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer: the benchmark opens one around every
  * public library call it makes. `parent` links a layer call to the
  * request that caused it; spans of one request share `request`. */
final case class Span(id: Int, name: String, layer: String, request: Int,
    parent: Int, depth: Int, t0: Long, t1: Long) {
  def wallMs: Long = t1 - t0
}

/** Task, stage and job counters summed over every task a span caused. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, cpuMs, gcMs, bytesRead, bytesWritten = 0L
  var shuffleRead, shuffleWrite, fetchWaitMs, spill = 0L
  var planMs = 0L
  var filesRead, partitionsRead = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    bytesRead += o.bytesRead; bytesWritten += o.bytesWritten
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    fetchWaitMs += o.fetchWaitMs; spill += o.spill; planMs += o.planMs
    filesRead += o.filesRead; partitionsRead += o.partitionsRead
  }
}

/** Opens and closes spans. The untraced run uses this base class: it
  * records the span walls the end-to-end metrics need and nothing else. */
class Spans {
  private val ids = new AtomicInteger(0)
  private val stack = mutable.Stack[Span]()
  val done = mutable.ArrayBuffer[Span]()

  protected def enter(s: Span): Unit = ()
  protected def exit(s: Span, parent: Option[Span]): Unit = ()

  def apply[T](name: String, layer: String, request: Int)(body: => T): (T, Span) = {
    val parent = stack.headOption
    val open = Span(ids.incrementAndGet(), name, layer, request,
      parent.fold(0)(_.id), stack.size, System.currentTimeMillis(), 0L)
    stack.push(open)
    enter(open)
    try {
      val out = body
      val closed = open.copy(t1 = System.currentTimeMillis())
      done += closed
      (out, closed)
    } finally {
      stack.pop()
      exit(open, stack.headOption)
    }
  }
}

/** The traced run: a `SparkListener` plus a `QueryExecutionListener`
  * owned by the benchmark. Each span sets the Spark job group to its id
  * from the benchmark thread, so every job, stage and task is attributed
  * to the innermost span that submitted it, without any hook inside the
  * library. Planning time comes from each executed query's
  * `QueryPlanningTracker` phases and is attributed to the innermost span
  * whose interval holds the phase start. */
final class Tracer(spark: SparkSession) extends Spans {
  import Tracer._
  private val sc = spark.sparkContext

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groupCounters = new ConcurrentHashMap[String, Counters]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
  @volatile private var drainLatch: CountDownLatch = _

  private def counters(g: String): Counters =
    groupCounters.computeIfAbsent(g, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, g, e.time, e.time))
      e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
      val c = counters(g)
      c.synchronized { c.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      val j = jobs.get(e.jobId)
      if (j != null && j.group == "perfbench-drain" && drainLatch != null) drainLatch.countDown()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val c = counters(stageGroup.getOrDefault(e.stageId, ""))
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1000000L
        c.gcMs += m.jvmGCTime
        c.bytesRead += m.inputMetrics.bytesRead
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values.toSeq
      if (phases.isEmpty) return
      val scans = try PlanWalk.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      } catch { case _: Throwable => Nil }
      def metric(name: String) =
        scans.flatMap(_.metrics.get(name)).map(_.value).sum
      plans.add(Plan(phases.map(_.startTimeMs).min,
        phases.map(p => p.endTimeMs - p.startTimeMs).sum,
        metric("numFiles"), metric("numPartitions")))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  override protected def enter(s: Span): Unit =
    sc.setJobGroup(s.id.toString, s.name, interruptOnCancel = false)

  override protected def exit(s: Span, parent: Option[Span]): Unit = parent match {
    case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  /** Listener events arrive asynchronously: submit one marker job and
    * wait for its end event, which the bus delivers after every event
    * posted before it. */
  def drain(): Unit = {
    drainLatch = new CountDownLatch(1)
    sc.setJobGroup("perfbench-drain", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    drainLatch.await(30, TimeUnit.SECONDS)
    Thread.sleep(200) // the query-execution listener has its own queue
  }

  /** Jobs, in time order, whose group is `s` (by id) — or, for jobs
    * submitted from pool threads that do not inherit the job group,
    * whose start falls inside the innermost span covering it. */
  private lazy val jobsBySpan: Map[Int, Seq[Job]] = {
    val ids = done.map(_.id).toSet
    jobs.values.asScala.toSeq.filter(_.group != "perfbench-drain").flatMap { j =>
      scala.util.Try(j.group.toInt).toOption.filter(ids) match {
        case Some(id) => Some(id -> j)
        case None => innermostAt(j.start).map(_.id -> j)
      }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_.start) }
  }

  private def innermostAt(t: Long): Option[Span] =
    done.filter(s => s.t0 <= t && t <= s.t1).maxByOption(_.depth)

  /** Counters of `s` alone (not of its children). */
  def own(s: Span): Counters = {
    val c = new Counters
    Option(groupCounters.get(s.id.toString)).foreach(c += _)
    plans.asScala.filter(p => innermostAt(p.start).exists(_.id == s.id)).foreach { p =>
      c.planMs += p.ms; c.filesRead += p.files; c.partitionsRead += p.partitions
    }
    c
  }

  /** Counters of `s` and every span beneath it. */
  def total(s: Span): Counters = {
    val c = own(s)
    done.filter(_.parent == s.id).foreach(ch => c += total(ch))
    c
  }

  /** Union of the job intervals of `s` and its children, clipped to `s`. */
  def jobUnionMs(s: Span): Long = {
    def under(x: Span): Seq[Job] =
      jobsBySpan.getOrElse(x.id, Nil) ++ done.filter(_.parent == x.id).flatMap(under)
    val iv = under(s).map(j => (math.max(j.start, s.t0), math.min(j.end, s.t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var sum = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) sum += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) sum += curB - curA
    sum
  }

  /** Driver time of `s` not covered by any of its jobs. */
  def driverGapMs(s: Span): Long = s.wallMs - jobUnionMs(s)

  /** One JSON line per span: its identity, parent, wall and own counters,
    * so a run's layer report can be traced back to single calls. */
  def writeSpans(path: String, workload: String): Unit = {
    val lines = done.map { s =>
      val c = own(s)
      s"""{"id": ${s.id}, "name": "${s.name}", "layer": "${s.layer}", "workload": "$workload", """ +
        s""""request": ${s.request}, "parent": ${s.parent}, "t0_ms": ${s.t0}, "wall_ms": ${s.wallMs}, """ +
        s""""jobs": ${c.jobs}, "tasks": ${c.tasks}, "task_ms": ${c.taskMs}, "plan_ms": ${c.planMs}, """ +
        s""""driver_gap_ms": ${driverGapMs(s)}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }

  /** Reconciliation: a span's job intervals must lie inside its wall
    * (job union + driver gap = wall only then), and no job may go
    * unattributed. Returns the job time that falls outside its span or
    * outside every span, as a share of all span wall time. */
  def reconcileErrorFrac(roots: Seq[Span]): Double = {
    val slackMs = 2L
    val outside = done.iterator.map { s =>
      jobsBySpan.getOrElse(s.id, Nil).map { j =>
        math.max(0L, s.t0 - slackMs - j.start) + math.max(0L, j.end - s.t1 - slackMs)
      }.sum
    }.sum
    val attributed = jobsBySpan.values.flatten.map(_.id).toSet
    val window = (roots.map(_.t0).minOption.getOrElse(0L), roots.map(_.t1).maxOption.getOrElse(0L))
    val stray = jobs.values.asScala
      .filter(j => j.group != "perfbench-drain" && !attributed(j.id))
      .filter(j => j.start >= window._1 && j.start <= window._2)
      .map(j => j.end - j.start).sum
    val wall = roots.map(_.wallMs).sum.max(1L)
    (outside + stray).toDouble / wall
  }
}

object Tracer {
  private final case class Job(id: Int, group: String, start: Long, var end: Long)
  private final case class Plan(start: Long, ms: Long, files: Long, partitions: Long)
}
