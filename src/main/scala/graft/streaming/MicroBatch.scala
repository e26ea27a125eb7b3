package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.Pins
import graft.etl.Writers

/** The one micro-batch runner behind every always-on monitor in this
  * package. A monitor is a file source over its landing dir, a stream
  * checkpointed at a location the monitor names, a trigger, and one of
  * two sinks: a per-batch body ([[run]]) or the append-mode parquet file
  * sink the typed-state monitors use ([[appendFiles]]). This object owns
  * that wiring, so a monitor states only its per-batch work.
  *
  * [[run]] hands each batch body a [[Batch]]: the batch frame and id,
  * the Hadoop file system, the batch's [[Pins]] scope, and the
  * replay-idempotent output write. The runner opens one scope per
  * batch, so everything a body keeps or pins is released when the body
  * returns or throws: an always-on stream that skipped a release would
  * pin one block set per micro-batch forever, and a failed batch (an
  * append racing a compaction, a full disk) must not either.
  */
object MicroBatch {

  /** The landing-dir file source. `format` is parquet, json or csv (csv
    * files carry a header row). The schema is explicit: streaming file
    * sources cannot infer one. */
  def source(spark: SparkSession, landingDir: String, schema: StructType,
      format: String = "parquet"): DataFrame = {
    val reader = spark.readStream.schema(schema)
    (if (format == "csv") reader.option("header", "true") else reader)
      .format(format).load(landingDir)
  }

  /** Run `body` once per micro-batch of `stream`. The source tracks
    * processed files in `checkpoint`, so a restart resumes after the
    * last committed batch and replays the one whose commit was lost. */
  def run(stream: Dataset[_], checkpoint: String, trigger: Trigger)(
      body: Batch => Unit): StreamingQuery =
    stream.toDF().writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) =>
        Pins(pins => body(new Batch(df, id, pins)))
      }
      .start()

  /** Append `stream`'s rows to the parquet files under `path` (Spark's
    * file sink: its own log under `path` makes each batch land once). */
  def appendFiles(stream: Dataset[_], checkpoint: String, trigger: Trigger,
      path: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .option("compression", Writers.DefaultCompression)
      .trigger(trigger)
      .format("parquet")
      .option("path", path)
      .start()

  /** One micro-batch: its frame `df`, its id, and `pins`, the scope
    * that holds frames for it until the body ends. */
  final class Batch private[MicroBatch] (val df: DataFrame, val id: Long,
      val pins: Pins) {

    /** The Hadoop file system that holds `path`. */
    def fs(path: String): FileSystem =
      new Path(path).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)

    def exists(path: String): Boolean = fs(path).exists(new Path(path))

    /** Overwrite `dir/batch=<id>` with `df`: a batch replayed after its
      * commit was lost replaces its own partition, never adds a copy. */
    def write(df: DataFrame, dir: String): Unit =
      df.write.mode("overwrite")
        .option("compression", Writers.DefaultCompression)
        .parquet(s"$dir/batch=$id")
  }
}
