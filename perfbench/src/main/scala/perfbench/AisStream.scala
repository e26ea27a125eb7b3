package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.queries.Geo
import graft.streaming.StreamingGeo

/** Open loop at a fixed rate: one generator thread moves pre-staged hour
  * files (each holds every vessel's fixes for one event hour) into the
  * landing dir of `StreamingGeo.startDarkRendezvous`, which runs with an
  * as-fast-as-possible trigger. After the last file the stream is drained
  * and stopped; its cumulative alerts are then checked against
  * `Geo.darkRendezvous` over every landed fix. A traced run feeds the same
  * files twice, untraced and then traced, each into fresh dirs. */
object AisStream {
  val MinGapS = 21600L

  def run(ctx: Ctx, opts: Map[String, String]): Map[String, Any] = {
    val rate = opts("rate").toDouble
    val files = staged(ctx.work)
    val feeds =
      if (ctx.trace) Seq(feed(ctx, files, rate, "plain", traced = false),
        feed(ctx, files, rate, "traced", traced = true))
      else Seq(feed(ctx, files, rate, "plain", traced = false))
    Map("rate" -> rate, "feeds" -> feeds)
  }

  private def staged(work: String): Seq[File] =
    new File(work, "stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  /** The monitor's first micro-batch pays for class loading and code
    * generation. Set-up runs one micro-batch over the first few hours in
    * scratch dirs, so the timed feed measures the always-on steady state. */
  def warmUp(spark: SparkSession, work: String): Unit = {
    val root = new File(work, "warm")
    val landing = new File(root, "landing")
    landing.mkdirs()
    staged(work).take(4).foreach(f =>
      Files.copy(f.toPath, new File(landing, f.getName).toPath))
    StreamingGeo.startDarkRendezvous(spark, landing.toString,
      s"$root/out", minGapS = MinGapS).awaitTermination()
    Main.deleteTree(root)
  }

  private def feed(ctx: Ctx, staged: Seq[File], rate: Double, tag: String,
      traced: Boolean): Map[String, Any] = {
    val spark = ctx.spark
    val root = new File(ctx.work, tag)
    val stage = new File(root, "stage")
    val landing = new File(root, "landing")
    val out = new File(root, "out")
    stage.mkdirs(); landing.mkdirs()
    staged.foreach(f => Files.copy(f.toPath, new File(stage, f.getName).toPath))

    val due = new Array[Double](staged.size)
    val landed = new Array[Double](staged.size)
    var runId = ""
    val body = () => ctx.tracer.span("streaming", "StreamingGeo.startDarkRendezvous") {
      val q = StreamingGeo.startDarkRendezvous(spark, landing.toString,
        out.toString, minGapS = MinGapS, trigger = Trigger.ProcessingTime(0L))
      runId = q.runId.toString
      try {
        val gen = new Thread(() => {
          val t0 = Clock.nowMs + 500.0
          staged.indices.foreach { i =>
            due(i) = t0 + i * 1000.0 / rate
            val wait = due(i) - Clock.nowMs
            if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
            Files.move(new File(stage, staged(i).getName).toPath,
              new File(landing, staged(i).getName).toPath,
              StandardCopyOption.ATOMIC_MOVE)
            landed(i) = Clock.nowMs
          }
        }, "perfbench-generator")
        gen.start()
        gen.join()
        q.processAllAvailable()
      } finally q.stop()
      ctx.progress.failure.foreach(e => sys.error(s"stream failed: $e"))
    }
    val ok = ctx.op(s"stream $tag") {
      if (traced) ctx.traced(body()) else body()
    }.nonEmpty

    // gate, outside timing: cumulative alerts == the batch query over every
    // landed fix, compared as multisets of rows (a few hundred)
    val gate: Map[String, Any] = if (!ok) Map.empty else {
      val exp = Geo.darkRendezvous(spark.read.parquet(landing.toString),
        minGapS = MinGapS)
      val got = spark.read.parquet(s"$out/alerts")
        .select(exp.columns.map(col).toIndexedSeq: _*)
      def bag(df: DataFrame) =
        df.collect().toSeq.map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)
      val (g, e) = (bag(got), bag(exp))
      Map("alerts" -> g.values.sum, "expected" -> e.values.sum,
        "missing" -> e.map { case (r, n) => math.max(0, n - g.getOrElse(r, 0)) }.sum,
        "extra" -> g.map { case (r, n) => math.max(0, n - e.getOrElse(r, 0)) }.sum)
    }
    // progress events arrive asynchronously: wait for every committed
    // batch's. Each micro-batch counts as an op; a failed one fails the
    // stream.
    val committed = Option(new File(out, "_checkpoint/commits").list())
      .toSeq.flatten.filter(_.forall(_.isDigit)).map(_.toLong).toSet
    def batches = ctx.progress.records.filter(_("run_id") == runId)
    val deadline = System.currentTimeMillis() + 10000L
    while (!committed.subsetOf(batches.map(_("batch").asInstanceOf[Long]).toSet)
        && System.currentTimeMillis() < deadline) Thread.sleep(20)
    val seen = batches
    ctx.attempted += seen.size
    Map[String, Any]("tag" -> tag, "traced" -> traced, "ok" -> ok,
      "run_id" -> runId, "files" -> staged.map(_.getName),
      "due_ms" -> due.toSeq, "landed_ms" -> landed.toSeq,
      "checkpoint" -> s"$out/_checkpoint", "batches" -> seen,
      "input_bytes" -> Main.dataBytes(landing),
      "output_bytes" -> Main.dataBytes(out),
      "index_bytes" -> Main.dataBytes(new File(out, "index")),
      "gate" -> gate)
  }
}
