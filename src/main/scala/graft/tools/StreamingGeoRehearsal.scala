package graft.tools

import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.core.{RunMetrics, Session}
import graft.streaming.StreamingGeo
import graft.streaming.StreamingGeo.GeoEv

/** SCALE evidence for the always-on proximity monitor's per-batch
  * cost contract: each micro-batch's index reads are BOUNDED to
  * the batch's own hour span, so per-batch wall stays FLAT as the
  * landed history grows (the r17 scale-killer: an unbounded read made
  * it O(total history) per batch). Lands `waves` one-hour waves, each
  * as its own AvailableNow drain, timing every drain; then runs
  * [[StreamingGeo.retainIndex]] and one post-retention wave to show
  * the maintenance path keeps the table itself bounded too.
  *
  * Usage: runMain graft.tools.StreamingGeoRehearsal
  *          [users] [waves] [horizonHours] [mode]
  *
  * mode `rendezvous` drives [[StreamingGeo.startDarkRendezvous]]
  * instead: waves land two hours apart with minGapS one hour, so
  * EVERY wave completes one dark gap per vessel (constant alert
  * load) while the landed history grows — per-batch wall must stay
  * FLAT because the endpoint-span index reads are hour-bounded (the
  * same contract as the proximity monitor's batch-span reads).
  *
  * Every drain's line also carries the Spark jobs it ran and the
  * classes it code-generated: once the generated-class cache holds a
  * micro-batch's working set, a steady drain compiles only the stages
  * that inline a per-batch literal.
  */
object StreamingGeoRehearsal {

  private def ts(sec: Long): Timestamp =
    new Timestamp(1700000000000L + sec * 1000)

  def main(args: Array[String]): Unit = {
    val users = args.headOption.map(_.toLong).getOrElse(2000L)
    val waves = args.drop(1).headOption.map(_.toInt).getOrElse(12)
    val horizon = args.drop(2).headOption.map(_.toLong).getOrElse(3L)
    val mode = args.drop(3).headOption.getOrElse("prox")
    val spark: SparkSession = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val landing = java.nio.file.Files
      .createTempDirectory("graft-sgeo-in").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-sgeo-out").toString

    // rendezvous mode: waves 2 h apart so every wave closes one
    // >= 1 h gap per vessel — constant alert load, growing history
    val stepS = if (mode == "rendezvous") 7200L else 3600L
    def land(w: Int): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft-sgeo-w$w").toString
      (1L to users).map(u =>
          GeoEv(u * 1000 + w, u, ts(60 + w * stepS)))
        .toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, s"w$w.parquet"))
    }

    def sec[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    def drain(): Unit =
      (if (mode == "rendezvous")
        StreamingGeo.startDarkRendezvous(spark, landing, out,
          minGapS = 3600L)
      else StreamingGeo.start(spark, landing, out)).awaitTermination()

    (0 until waves).foreach { w =>
      land(w)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val m = RunMetrics.measure(spark)(drain())
      val nCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      val idxBatches = Option(new java.io.File(s"$out/index")
        .listFiles()).map(_.count(_.getName.startsWith("batch=")))
        .getOrElse(0)
      val alerts =
        if (mode == "rendezvous")
          spark.read.parquet(s"$out/alerts").count()
        else -1L
      println(f"""[scale] {"tool":"streaming_geo","mode":"$mode","wave":$w,"users":$users,"batch_sec":${m.wall}%.2f,"jobs":${m.jobs.size},"compiles":$nCompiles,"index_batches":$idxBatches,"alerts":$alerts}""")
    }
    // retention: drop partitions past the pairing horizon, then one
    // more wave against the bounded table
    val (dropped, tRet) = sec(
      StreamingGeo.retainIndex(spark, out, horizon))
    land(waves)
    val (_, tPost) = sec(drain())
    println(f"""[scale] {"tool":"streaming_geo","retain_dropped":${dropped.size},"retain_sec":$tRet%.2f,"post_retention_batch_sec":$tPost%.2f,"horizon_hours":$horizon}""")
    spark.stop()
  }
}
