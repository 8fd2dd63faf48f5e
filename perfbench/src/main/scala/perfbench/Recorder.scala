package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded call: a named interval, the span that caused it and
  * the request it belongs to. Times are epoch microseconds. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Spans and Spark events recorded from outside the program: spans
  * wrap the benchmark's own calls into each layer, and a
  * `SparkListener` plus a `QueryExecutionListener` registered here see
  * every job, task and planned query the calls cause. Everything is
  * kept in memory and written out once, when the run ends.
  *
  * A disabled recorder runs the body and records nothing, so the
  * untraced run pays only a branch per call. */
final class Recorder(val enabled: Boolean) {
  import Recorder._
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val nextRequest = new java.util.concurrent.atomic.AtomicLong(1)
  private val currentRequest = ThreadLocal.withInitial[Long](() => 0L)

  private def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Run `body` as one request: the spans it records share a new
    * request id. */
  def request[T](body: => T): T =
    if (!enabled) body
    else {
      val outer = currentRequest.get()
      currentRequest.set(nextRequest.getAndIncrement())
      try body finally currentRequest.set(outer)
    }

  /** Record `body` as a span named `name` under the current span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get()
      val t0 = nowUs
      stack.set(id :: parents)
      try body
      finally {
        stack.set(parents)
        spans.add(Span(id, name, parents.headOption.getOrElse(0L), currentRequest.get(), t0, nowUs))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startUs)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  /** Mean duration of the spans named `name`, in microseconds (0 if none). */
  def meanUs(name: String): Double = {
    val s = named(name); if (s.isEmpty) 0.0 else s.map(_.durUs).sum.toDouble / s.size
  }

  /** Self time of each span: its duration minus the part of it that
    * its child spans cover. */
  def selfTimes: Map[Long, Long] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - Stats.covered(kids))
    }.toMap
  }

  // ------------------------------------------------------------------
  // Spark events
  // ------------------------------------------------------------------

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val planned = new ConcurrentLinkedQueue[Planned]()
  private var session: Option[SparkSession] = None

  /** Register the listeners on `spark` (no-op when disabled). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    session = Some(spark)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.endMs = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = Option(e.taskMetrics)
        tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.map(_.inputMetrics.bytesRead).getOrElse(0L),
          m.map(_.outputMetrics.recordsWritten).getOrElse(0L),
          m.map(_.outputMetrics.bytesWritten).getOrElse(0L))); ()
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = {
        val phases = qe.tracker.phases
        if (phases.nonEmpty) {
          val start = phases.values.map(_.startTimeMs).min
          planned.add(Planned(start, phases.values.map(_.durationMs).sum)); ()
        }
      }
    })
  }

  /** Block until the listener bus has delivered every queued event. */
  def drain(): Unit = session.foreach(s => org.apache.spark.perfbenchshim.Bus.waitUntilEmpty(s.sparkContext))

  /** Spark work that started inside `spans`, mean per span: jobs,
    * stages, tasks, time inside jobs, input bytes, planning time and
    * the rows and bytes written. Calls are attributed by time, so the
    * traced pass runs one client. */
  def sparkCost(of: Seq[Span]): SparkCost = {
    if (of.isEmpty) return SparkCost(0, 0, 0, 0, 0, 0, 0, 0, 0)
    val js = jobs.values.asScala.toSeq
    val ts = tasks.asScala.toSeq
    val ps = planned.asScala.toSeq
    val per = of.map { s =>
      val (lo, hi) = (s.startUs / 1000, s.endUs / 1000 + 1)
      val mine = js.filter(j => j.startMs >= lo && j.startMs <= hi)
      val stageIds = mine.flatMap(_.stages).toSet
      val myTasks = ts.filter(t => stageIds.contains(t.stageId))
      val inJobMs = Stats.covered(mine.map(j => (j.startMs, math.max(j.startMs, if (j.endMs < 0) hi else j.endMs))))
      val planMs = ps.filter(p => p.startMs >= lo && p.startMs <= hi).map(_.planMs).sum
      SparkCost(mine.size, stageIds.size, myTasks.size, inJobMs, math.max(0.0, s.durUs / 1000.0 - inJobMs),
        myTasks.map(_.bytesRead).sum, planMs, myTasks.map(_.rowsWritten).sum, myTasks.map(_.bytesWritten).sum)
    }
    def mean(f: SparkCost => Double) = per.map(f).sum / per.size
    SparkCost(mean(_.jobs), mean(_.stages), mean(_.tasks), mean(_.jobMs), mean(_.driverMs),
      mean(_.bytesRead), mean(_.planMs), mean(_.rowsWritten), mean(_.bytesWritten))
  }

  /** Write every span (with its self time) as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    val self = selfTimes
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"self_us":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Recorder {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Task(stageId: Int, launchMs: Long, finishMs: Long, bytesRead: Long,
                        rowsWritten: Long, bytesWritten: Long)
  final case class Planned(startMs: Long, planMs: Long)
  final case class SparkCost(jobs: Double, stages: Double, tasks: Double, jobMs: Double,
                             driverMs: Double, bytesRead: Double, planMs: Double,
                             rowsWritten: Double, bytesWritten: Double)
}
