package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds at nanoTime resolution, on the same clock as the
  * event times Spark's listeners report. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Double, end: Double)

/** Spans around the harness's calls into the program, kept in memory and
  * written out when the run ends. While tracing is on, each span is also
  * the Spark job group of its thread, so the job listener can attribute
  * every job to the span that was active when the job started. Spans are
  * only recorded while a traced unit runs; otherwise a span only runs its
  * body. */
final class Tracer(spark: () => SparkSession) {
  @volatile var active = false
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val open = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val outer = open.get
      val id = ids.incrementAndGet()
      val sc = spark().sparkContext
      open.set((id, name) :: outer)
      sc.setJobGroup(s"pb-$id", name)
      val start = Clock.nowMs
      try body
      finally {
        done.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), layer,
          name, start, Clock.nowMs))
        open.set(outer)
        outer.headOption match {
          case Some((pid, pname)) => sc.setJobGroup(s"pb-$pid", pname)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Per-job counts from task-end events: stages, tasks, executor run and
  * CPU time, shuffle bytes, spill, peak execution memory and GC. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long) {
    var end = -1L
    var ok = true
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    // under AQE a later job lists stages an earlier one already ran;
    // a stage belongs to the first job that listed it
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  /** Events reach listeners asynchronously; wait until every job seen has
    * ended (its task events are queued ahead of its end event). */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.values.exists(_.end < 0)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def records: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map[String, Any](
      "id" -> j.id, "group" -> j.group, "start" -> j.start, "end" -> j.end,
      "ok" -> j.ok, "stages" -> j.stages, "tasks" -> j.tasks,
      "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
      "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
      "spill" -> j.spill, "peak_mem" -> j.peakMem))
  }
}

/** Planning time of every executed query: the sum of its
  * `QueryExecution.tracker` phases (analysis, optimization, planning),
  * stamped with the start of the first phase. */
final class PlanListener extends QueryExecutionListener {
  private val recs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private def add(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      recs.add(Map("start" -> ph.map(_.startTimeMs).min,
        "ms" -> ph.map(_.durationMs).sum))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    add(qe)
  def records: Seq[Map[String, Any]] = recs.asScala.toSeq
}

/** Micro-batch progress of streaming queries: per batch its trigger start,
  * per-phase durations and input rows; and any query failure. */
final class ProgressListener extends StreamingQueryListener {
  private val recs = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var failure: Option[String] = None

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    if (d.contains("addBatch"))
      recs.add(Map("batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows, "run_id" -> p.runId.toString,
        "duration_ms" -> d.toMap))
  }
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failure = Some(x))

  def records: Seq[Map[String, Any]] =
    recs.asScala.toSeq.sortBy(_("batch").asInstanceOf[Long])
}
