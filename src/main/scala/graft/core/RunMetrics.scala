package graft.core

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What the Spark context did while a body ran: its jobs, their stages
  * and tasks, and the task totals for shuffle, spill and peak execution
  * memory. This is the engine's only `SparkListener`; tools measure
  * through [[RunMetrics.measure]] instead of registering their own.
  *
  * The wall splits into the time some job was running (the union of the
  * job intervals, not their sum: AQE runs sibling query stages as
  * concurrent jobs, so summed job walls overlap and overstate job time)
  * and the remainder with no job running (analysis, optimization,
  * planning, codegen and driver-side loops).
  */
object RunMetrics {

  /** One Spark job: its interval in epoch ms (on the scheduler's clock),
    * the stages that ran for it and their tasks. Under AQE a later job
    * lists stages an earlier job already ran; those count for the first
    * job that listed them. */
  final case class Job(id: Int, description: String, start: Long,
      end: Long, stages: Int, tasks: Int) {
    def seconds: Double = (end - start) / 1e3
  }

  /** One measured body. Seconds for times, bytes for sizes. */
  final case class Run(wall: Double, union: Double, jobs: Seq[Job],
      shuffleRead: Long, shuffleWrite: Long, memorySpill: Long,
      diskSpill: Long, peakExecutionMemory: Long) {
    /** Wall with no job running. */
    def remainder: Double = wall - union
    def stages: Int = jobs.map(_.stages).sum
    def tasks: Int = jobs.map(_.tasks).sum
  }

  /** Run `body` with the listener attached and return what it recorded:
    * every job the context ran while `body` ran, from any thread. The
    * listener bus is drained before the listener is added (so earlier
    * jobs' queued events are not charged to `body`) and again before it
    * is removed (so every event of `body`'s jobs has arrived). The
    * listener is removed on a throw too. */
  def measure(spark: SparkSession)(body: => Unit): Run = {
    val sc = spark.sparkContext
    drain(sc)
    val listener = new Listener
    sc.addSparkListener(listener)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val wallMs = try {
      body
      val ms = (System.nanoTime() - t0) / 1e6
      drain(sc)
      ms
    } finally sc.removeSparkListener(listener)
    listener.result(startMs, wallMs)
  }

  /** Wait until every event posted so far has reached every listener.
    * Spark keeps its listener bus package-private (its own test suites
    * call `listenerBus.waitUntilEmpty()`), so this is the one reflective
    * call; it throws if the bus does not empty within Spark's 10 s. */
  private def drain(sc: SparkContext): Unit = {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    try bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    catch {
      case e: java.lang.reflect.InvocationTargetException => throw e.getCause
    }
  }

  /** Union of the intervals clipped to [lo, hi], in the intervals' unit. */
  private def unionOf(intervals: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (s.max(lo), e.min(hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var end = lo
    for ((s, e) <- clipped if e > end) {
      total += e - s.max(end)
      end = e
    }
    total
  }

  private final class Listener extends SparkListener {
    private final class Open(val id: Int, val description: String,
        val start: Long) {
      var end = -1L
      var stages = 0
      var tasks = 0
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, Open]
    private val stageJob = mutable.Map.empty[Int, Int]
    private var shuffleRead, shuffleWrite, memorySpill, diskSpill,
        peakMem = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs(e.jobId) = new Open(e.jobId, desc, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
          .foreach(_.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.tasks += 1)
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        memorySpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        peakMem = peakMem.max(m.peakExecutionMemory)
      }
    }

    /** The recorded run of a body that started at `startMs` (epoch) and
      * took `wallMs`. A job that never ended (cancelled with its stage,
      * or still running in another thread) ends with the body. */
    def result(startMs: Long, wallMs: Double): Run = synchronized {
      val endMs = startMs + wallMs.toLong
      val done = jobs.values.toSeq.map(j => Job(j.id, j.description,
        j.start, if (j.end < 0) endMs else j.end, j.stages, j.tasks))
      val busy = unionOf(done.map(j => (j.start.toDouble, j.end.toDouble)),
        startMs.toDouble, startMs + wallMs)
      Run(wallMs / 1e3, busy / 1e3, done, shuffleRead, shuffleWrite,
        memorySpill, diskSpill, peakMem)
    }
  }
}
