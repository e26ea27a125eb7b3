package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Session

/** JSON through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}

/** Run context shared by the workloads: the session, the tracer, the
  * listeners a traced unit attaches, and the op accounting behind
  * `attempted` / `failed`. */
final class Ctx(val work: String, val trace: Boolean,
    val spark: SparkSession) {
  val tracer = new Tracer(() => spark)
  val jobs = new JobListener
  val plans = new PlanListener
  val progress = new ProgressListener
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]

  def fail(op: String, why: String): Unit = {
    System.err.println(s"[perfbench] FAILED $op: $why")
    failures += Map("op" -> op, "error" -> why)
  }

  /** One counted op: an exception fails it, and so does leaving more
    * persisted RDDs behind than it started with (checked from outside, as
    * graft.Bench's tripwire does; the extras are released so the next op
    * starts clean). */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out =
      try Some(body)
      catch { case NonFatal(e) => fail(name, String.valueOf(e)); None }
    val extra = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) }
    if (extra.nonEmpty) {
      if (out.nonEmpty) fail(name, s"leaked persisted RDDs ${extra.keys.toSeq.sorted}")
      extra.values.foreach(_.unpersist(blocking = false))
    }
    out
  }

  /** Run `body` with the job and planning listeners attached (a traced
    * unit); they are detached once their queued events are drained. */
  def traced[T](body: => T): T = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    tracer.active = true
    try body
    finally {
      tracer.active = false
      jobs.settle()
      Thread.sleep(200) // planning records ride the same asynchronous bus
      spark.listenerManager.unregister(plans)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  def elapsedSince(t0: Double): Double = (Clock.nowMs - t0) / 1000.0
}

/** Benchmark harness entry point; see perfbench/README.md.
  *
  * `--workload <batch|ais_stream> --work <dir> --trace <0|1>
  *  --launch-ms <epoch ms the JVM was launched>`
  * plus workload options. Inputs are read from, and the raw record is
  * written to, `<dir>`; nothing outside it is touched. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = new File(opts("work")).getAbsolutePath
    val workload = opts("workload")

    // set-up: from JVM launch to the session ready, then a warm-up: one
    // registry query on a tiny table through the entry point the batch
    // workload uses, or one micro-batch of the monitor the stream feeds
    val t0 = opts("launch-ms").toDouble
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = Clock.nowMs
    workload match {
      case "batch" => SparkEntry.queries("q16_tpch_q1")(spark, s"$work/tiny")
        .write.format("noop").mode("overwrite").save()
      case "ais_stream" => AisStream.warmUp(spark, work)
      case other => sys.error(s"unknown workload $other")
    }
    val t2 = Clock.nowMs
    val setup = Map("total_s" -> (t2 - t0) / 1e3,
      "session_s" -> (t1 - t0) / 1e3, "warmup_s" -> (t2 - t1) / 1e3)
    val ctx = new Ctx(work, opts("trace") == "1", spark)
    ctx.spark.streams.addListener(ctx.progress)

    val facts: Map[String, Any] = workload match {
      case "batch" => BatchCycle.run(ctx)
      case _ => AisStream.run(ctx, opts)
    }
    val workloadS = (Clock.nowMs - t2) / 1e3

    val raw = Map[String, Any](
      "workload" -> workload,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "setup" -> setup, "workload_s" -> workloadS,
      "attempted" -> ctx.attempted,
      "failures" -> ctx.failures,
      "peak_rss_kb" -> vmHwmKb(),
      "facts" -> facts,
      "spans" -> ctx.tracer.spans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start" -> s.start, "end" -> s.end)),
      "jobs" -> ctx.jobs.records,
      "plans" -> ctx.plans.records)
    Files.writeString(Paths.get(work, "raw.json"), Json.render(raw))
    ctx.spark.stop()
  }

  /** The process's peak resident set (VmHWM), in kB. */
  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  /** Bytes of the data files under `dir` (metadata and checksums aside). */
  def dataBytes(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) {
      val n = dir.getName
      if (n.startsWith(".") || n.startsWith("_")) 0L else dir.length()
    } else Option(dir.listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("_")).map(dataBytes).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
