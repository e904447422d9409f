package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a layer call made by the benchmark's own code.
  * Times are wall-clock milliseconds (the clock Spark stamps listener
  * events with, so jobs can be placed inside spans) plus a nanosecond
  * duration for the span itself.
  */
final case class Span(id: Int, name: String, parent: Int, request: Long,
                      startMs: Long, endMs: Long, durNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = durNs / 1e6
}

/** Spans kept in memory and written out when the run ends. Used by ONE
  * client thread at a time: the traced run sends requests one by one, so
  * every Spark job started while a span is open belongs to that span.
  */
final class Tracer {
  /** Off: calls run untimed and nothing is recorded. */
  var enabled = true
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var open: List[(Int, String, Long, Long, Long)] = Nil
  private var nextId = 1
  var request: Long = 0L

  def apply[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    open = (id, name, parent.toLong, System.currentTimeMillis(), System.nanoTime()) :: open
    try body
    finally {
      val (_, _, par, sMs, sNs) = open.head
      open = open.tail
      spans += Span(id, name, par.toInt, request, sMs,
        System.currentTimeMillis(), System.nanoTime() - sNs)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Self time per layer: each span's duration minus the part its child
    * spans cover (children never overlap: one client, sequential calls).
    */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s => Util.json(Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "request" -> s.request, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_ms" -> s.ms)))
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  def off: Tracer = { val t = new Tracer; t.enabled = false; t }
}

/** Per-job record assembled from listener events. */
final class JobRec(val id: Int, val startMs: Long, var shortSite: String,
                   var longSite: String, val stageIds: Seq[Int], val execution: String) {
  @volatile var endMs: Long = -1L
  /** Adaptive execution submits query stages from a pool thread, so such a
    * job's own call site names the pool, not the caller.
    */
  def pooled: Boolean = longSite.contains("withThreadLocalCaptured")
}

final class StageRec(val id: Int) {
  var tasks = 0
  var taskMs = 0L
  var scanBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var submittedMs = -1L
  var completedMs = -1L
  /** The stage computed an RDD that is being persisted. */
  var materializesCache = false
}

/** Counts jobs, tasks, task time and bytes for the traced run. Registered
  * by the benchmark on the session; the program itself is not changed.
  */
final class BenchListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()

  private def stage(id: Int): StageRec = stages.computeIfAbsent(id, i => new StageRec(i))

  /** A job's call site is its result stage's name (short form, e.g.
    * `collect at X.scala:12`) and details (the long form: the caller stack).
    */
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val result = e.stageInfos.maxBy(_.stageId)
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, result.name, result.details,
      e.stageIds, execution))
  }

  /** Call site of each SQL execution: the thread that started it. */
  private val executionSites =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSites.put(s.executionId.toString, (s.description, s.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submittedMs = e.stageInfo.submissionTime.getOrElse(-1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.completedMs = e.stageInfo.completionTime.getOrElse(-1L)
    if (s.submittedMs < 0) s.submittedMs = e.stageInfo.submissionTime.getOrElse(-1L)
    s.materializesCache = e.stageInfo.rddInfos.exists(_.storageLevel.isValid)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.scanBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(sc: SparkContext): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Every job, in start order. A pooled job takes the call site of the
    * SQL execution it belongs to.
    */
  def allJobs: Seq[JobRec] = {
    val b = ArrayBuffer.empty[JobRec]
    jobs.values().forEach(j => b += j)
    val js = b.sortBy(_.startMs).toSeq
    js.filter(_.pooled).foreach(j => Option(executionSites.get(j.execution)).foreach {
      case (short, long) => j.shortSite = short; j.longSite = long
    })
    js
  }

  /** Jobs that started anywhere inside `s`, children included. */
  def jobsWithin(s: Span, all: Seq[JobRec]): Seq[JobRec] =
    all.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)

  final case class Totals(jobs: Int, tasks: Int, taskMs: Long, scanBytes: Long,
                          shuffleBytes: Long, outputBytes: Long)

  /** Stages a job ran itself: a stage it lists but that an earlier job
    * already computed (a skipped stage) was submitted before it started.
    */
  def stagesRun(j: JobRec): Seq[StageRec] = synchronized {
    j.stageIds.flatMap(i => Option(stages.get(i))).filter(_.submittedMs >= j.startMs)
  }

  def totals(js: Seq[JobRec]): Totals = synchronized {
    val st = js.flatMap(stagesRun).distinct
    Totals(js.size, st.map(_.tasks).sum, st.map(_.taskMs).sum,
      st.map(_.scanBytes).sum, st.map(_.shuffleWriteBytes).sum,
      st.map(_.outputBytes).sum)
  }
}
