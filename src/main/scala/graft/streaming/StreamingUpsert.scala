package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.Writers

/** Streaming CDC APPLY: a file stream of delta parquet (one or more
  * files per feed drop, each row carrying the key columns, a version
  * column, and the table's partition column) is merged into a
  * hive-layout SCD1 table with [[Writers.upsertPartitioned]] — every
  * micro-batch reads and rewrites ONLY the partitions its delta
  * touches. This is the always-on form of the `upsert-part` CLI, and
  * the 100 TB CDC shape: per-batch cost is proportional to the delta's
  * partitions (for a dated feed, today's), never the table.
  *
  * Correctness under replay and crash:
  *  - The file source tracks processed files in the checkpoint, and a
  *    FAILED batch replays on restart. Re-applying the same delta is a
  *    no-op by the merge's latest-wins rule (delta wins version ties),
  *    so the sink is effectively exactly-once.
  *  - A crash INSIDE a batch's swap can leave a partition set aside
  *    under its hidden staging name. [[start]] therefore runs
  *    [[Writers.upsertRecoverPartitions]] BEFORE starting the stream:
  *    an interrupted swap is restored (merged copy preferred) and the
  *    replayed batch then merges against a complete partition — never
  *    against a missing one, which would silently drop the pre-crash
  *    rows.
  *
  * Deltas must carry non-null, dir-name-safe partition values
  * (upsertPartitioned's contract); a violating batch fails the query
  * loudly rather than mangling the layout.
  *
  * ONE writer per table: the swap's staging names
  * (`Writers.swapTmp` of `partCol=v`) are deterministic per partition, so two
  * concurrent upserting streams (or a stream plus the CLI) against the
  * same table race each other's swaps — run a single stream per table
  * (micro-batches within one stream are already serial via
  * foreachBatch). The same single-writer rule as `compact`
  * (Writers.scala's quiesce contract).
  */
object StreamingUpsert {

  def start(
      spark: SparkSession,
      landingDir: String,
      tableDir: String,
      schema: StructType,
      partCol: String,
      keyCols: Seq[String],
      versionCol: String,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val recovered = Writers.upsertRecoverPartitions(spark, tableDir)
    if (recovered.nonEmpty)
      println(s"[upsert-stream] recovered interrupted swap(s): " +
        recovered.toSeq.sorted.map { case (p, s) => s"$p=$s" }
          .mkString(", "))
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema),
        checkpoint.getOrElse(s"$tableDir.upsert-checkpoint"), trigger) { b =>
      Writers.upsertPartitioned(spark, tableDir, b.df, partCol,
        keyCols, versionCol)
    }
  }
}
