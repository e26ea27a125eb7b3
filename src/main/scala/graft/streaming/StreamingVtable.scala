package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.Versioned

/** Streaming ingestion INTO the versioned table — each micro-batch
  * becomes one table version via [[Versioned.commitAppendAt]] at its
  * batch id, so the landing stream turns into an append-only,
  * time-travelable, stats-pruned table with exactly-once versions:
  * the manifest rename is the commit point, a crash-replayed batch
  * sees its manifest durable and no-ops (a crash before the manifest
  * leaves only a vacuum-reclaimable orphan), and downstream readers
  * pin any version while ingestion continues — "read the table AS OF
  * the snapshot my training run started from", live.
  *
  * Zero streaming state beyond the source checkpoint; the table's
  * manifests ARE the sink state. Single writer (the upsert-stream
  * contract).
  */
object StreamingVtable {

  def start(spark: SparkSession, landingDir: String, schema: StructType,
      tableDir: String, statsCols: Seq[String] = Seq.empty,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema),
        s"$tableDir/_checkpoint", trigger) { b =>
      Versioned.commitAppendAt(b.df, tableDir, b.id, statsCols)
    }
}
