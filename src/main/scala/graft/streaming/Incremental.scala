package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.{Readers, SchemaOptimizer}

/** The streaming successor of the reference's per-day ingest+preprocess
  * loop (SURVEY.md §3.2/§7.1 item 9): a Structured Streaming file source
  * ([[MicroBatch]]) watches the landing prefix the Ingestor writes to,
  * and every micro-batch runs the SchemaOptimizer pipeline incrementally —
  * multi-token null normalization, duplicate-column drop, date parsing,
  * downcasts, quarantine split — writing one `batch=<id>` partition of an
  * optimized parquet table plus one of a quarantine audit table.
  *
  * At scale this is the always-on form of the batch pipeline: the file
  * source tracks processed files in the checkpoint, so restarts are
  * exactly-once per input file (a batch replayed after its commit was
  * lost overwrites its own partitions), and each batch's work is
  * proportional to newly landed data only.
  */
object Incremental {

  /** Start the incremental pipeline. `schema` must be explicit —
    * streaming sources cannot infer (and production readers shouldn't
    * anyway, SURVEY §1.4). `trigger` defaults to AvailableNow: drain
    * what's landed, then stop — cron-friendly; pass a processing-time
    * trigger for an always-on daemon.
    */
  def start(
      spark: SparkSession,
      landingDir: String,
      outDir: String,
      schema: StructType,
      dateCols: Seq[String] = Seq(),
      dropPattern: Option[String] = Some(".*_ar$"),
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "csv"),
        checkpoint.getOrElse(s"$outDir/_checkpoint"), trigger) { b =>
      val cleaned = Readers.normalizeAllNullMarkers(b.df)
      val (optimized, quarantined) =
        SchemaOptimizer.optimize(cleaned, dropPattern, dateCols)
      b.write(optimized, s"$outDir/optimized")
      b.write(quarantined, s"$outDir/quarantine")
    }
}
