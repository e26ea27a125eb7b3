package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.Dq

/** Always-on data-quality monitor — the streaming form of `dq diff`:
  * every micro-batch's profile (null rates, distinct ratios, numeric
  * moments) is compared against a STORED baseline run (produced by the
  * `dq` CLI on a known-good snapshot), and per-(column, metric) drift
  * rows land under `outDir/alerts/batch=<id>`.
  *
  * The comparison is [[Dq.driftFrames]] — the exact predicate the batch
  * `dq diff` report uses, so an alert that fires here reproduces
  * verbatim when the stored-run report is run later (no
  * monitor-vs-report disagreement to chase at 3am).
  *
  * Scale shape: the per-batch profile is |columns| map-side-combined
  * aggregates over the batch only; the baseline is |columns·metrics|
  * rows read once per batch. State is ZERO — each batch compares
  * independently against the artifact, so replays are pure overwrites
  * (batch=<id>), and there is nothing to compact or recover.
  */
object StreamingDq {

  /** Start the monitor. `outDir/alerts/batch=<id>` gets every compared
    * metric with its drift flag; rows where `drifted` is true are the
    * alert. The baseline must exist (fail fast — a monitor silently
    * comparing against nothing is worse than one that won't start).
    */
  def start(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      baselineDir: String,
      outDir: String,
      tol: Double = 0.25,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val fs = new Path(baselineDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(s"$baselineDir/null_profile")),
      s"no dq baseline at $baselineDir - run `dq <sf> <table> $baselineDir` first")

    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "json"),
        s"$outDir/_checkpoint", trigger) { b =>
      b.write(Dq.driftFrames(
        Dq.storedMetrics(spark, baselineDir), Dq.liveMetrics(b.df), tol),
        s"$outDir/alerts")
    }
  }
}
