package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
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
  * the Hadoop file system, the batch's [[Pins]] scope, the
  * replay-idempotent output write, and the per-batch history [[Store]].
  * The runner opens one scope per batch, so everything a body keeps or
  * pins is released when the body returns or throws: an always-on
  * stream that skipped a release would pin one block set per
  * micro-batch forever, and a failed batch (an append racing a
  * compaction, a full disk) must not either.
  *
  * Replay contract: Structured Streaming starts batch n only after
  * batch n-1 committed, and a restart re-runs the one batch whose
  * commit was lost. Every per-batch write here therefore replaces its
  * own `batch=<id>` partition, and every history read sees only
  * `batch < id`: a replayed batch reproduces itself instead of adding a
  * second copy or probing its own partial output. MicroBatchSpec keeps
  * the other `streaming/` files from appending or filtering on `batch`
  * by hand.
  *
  * Spark logs `WARN ResolveWriteToStream: spark.sql.adaptive.enabled is
  * not supported in streaming DataFrames/Datasets and will be disabled.`
  * at every query start. The warning is about the streaming plan
  * itself; a [[run]] body plans its batch frame as a batch query, with
  * AQE, and the typed-state monitors need none. So the logger that
  * emits it, `org.apache.spark.sql.execution.streaming.runtime
  * .ResolveWriteToStream`, is set to ERROR when `MicroBatch` is first
  * used; every other logger keeps its level.
  */
object MicroBatch {

  Configurator.setLevel(
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
    Level.ERROR)

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

  /** Catalog name of the bucketed [[Store]] table over `dir` (a path is
    * not an identifier; the hash keeps two stores in one session
    * distinct). */
  def tableName(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_sidx_${md.take(12)}"
  }

  /** The bucket count pinned for `dir`: `requested` (else `default`) on
    * first open, written to a `_graft_buckets` marker; the marker's
    * value thereafter. A `requested` count that disagrees with the
    * marker raises: the count is baked into the file layout, and a
    * reopen under another count re-registers the table with the wrong
    * spec, so every bucketed probe silently reads the wrong buckets.
    * `source` names where `requested` came from, for the message. A
    * monitor pins once, before its first batch, at the dir that owns the
    * decision: StreamingCuration at its `stateDir` (one count for all
    * its state tables), StreamingDedup at its `indexDir`. */
  private[streaming] def pinnedBuckets(spark: SparkSession, dir: String,
      requested: Option[Int], default: Int, source: String): Int = {
    val marker = new Path(dir, "_graft_buckets")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the claim winner writes content right after createNewFile, so a
    // concurrent reader can glimpse the empty claimed file — retry
    // briefly before declaring the marker corrupt
    def readMarker(): Int = {
      val deadline = System.currentTimeMillis() + 10000L
      var txt = ""
      var done = false
      while (!done) {
        val in = fs.open(marker)
        txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        done = txt.nonEmpty || System.currentTimeMillis() > deadline
        if (!done) Thread.sleep(50L)
      }
      require(txt.nonEmpty,
        s"bucket marker $marker is empty — its creator likely died " +
          "mid-claim; delete the marker and reopen the dir")
      txt.toInt
    }
    def validated(pinned: Int): Int = {
      requested.foreach(c => require(c == pinned,
        s"$dir was written with $pinned buckets but $source=$c — " +
          "reopening under a different bucket count would mix file " +
          "layouts and corrupt bucketed probes"))
      pinned
    }
    if (fs.exists(marker)) validated(readMarker())
    else {
      val n = requested.getOrElse(default)
      fs.mkdirs(new Path(dir))
      // atomic claim: two sessions first-opening the same dir with
      // different counts must NOT both write; only the createNewFile
      // winner writes, the loser reads back and validates like any
      // reopen
      if (fs.createNewFile(marker)) {
        val out = fs.create(marker, true)
        try out.write(n.toString.getBytes("UTF-8")) finally out.close()
        n
      } else validated(readMarker())
    }
  }

  /** Register the bucketed [[Store]] table over `dir` if the session
    * catalog lacks it, and return its name. The DDL is `PARTITIONED BY
    * (batch) CLUSTERED BY (key)` + `RECOVER PARTITIONS` under
    * `buckets`, which the caller pinned for `dir` before its first
    * batch ([[pinnedBuckets]]), so a fresh session reads a prior
    * session's partitions bucket-aware at once. A crashed compaction's
    * set-aside copy is put back first ([[Writers.recoverDir]]); that
    * clears a LIVE compaction's stage as stale, so a caller whose dir
    * is compacted opens it under the same lease as its writes
    * (StreamingCuration's `leased`). A dir holding data files directly
    * under it (the flat layout of older releases) raises instead of
    * reading as empty history. */
  private[streaming] def openTable(spark: SparkSession, dir: String,
      cols: String, key: String, buckets: Int): String = {
    val name = tableName(dir)
    if (!spark.catalog.tableExists(name)) {
      Writers.recoverDir(spark, dir)
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val flat = if (!fs.exists(root)) Nil else fs.listStatus(root).toSeq
        .map(_.getPath.getName).filter(n =>
          !n.startsWith("_") && !n.startsWith(".") && !n.contains("="))
      require(flat.isEmpty, s"$dir holds data files directly under the " +
        s"table dir (${flat.take(3).mkString(", ")}): the flat layout of an " +
        "older release, which would read as empty history. To rebuild, move " +
        s"$dir aside WITH the stream's output dir (its _checkpoint and " +
        "sinks) and re-drain the landing data under a fresh checkpoint: " +
        "the old checkpoint marks every landed file processed")
      fs.mkdirs(root)
      Writers.registerBucketedTable(spark, name, dir, key, buckets,
        Some(s"$cols, batch BIGINT"), Some("batch"))
    }
    name
  }

  /** One micro-batch: its frame `df`, its id, and `pins`, the scope
    * that holds frames for it until the body ends. */
  final class Batch private[MicroBatch] (val df: DataFrame, val id: Long,
      val pins: Pins) {

    /** The Hadoop file system that holds `path`. */
    def fs(path: String): FileSystem =
      new Path(path).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)

    /** Overwrite `dir/batch=<id>` with `df`: a batch replayed after its
      * commit was lost replaces its own partition, never adds a copy. */
    def write(df: DataFrame, dir: String): Unit =
      df.write.mode("overwrite")
        .option("compression", Writers.DefaultCompression)
        .parquet(s"$dir/batch=$id")

    /** This batch's view of the history [[Store]] under `dir`, whose
      * rows have the columns `cols` (a DDL list such as `"k STRING, v
      * BIGINT"`); `buckets > 0` selects the catalog table bucketed by
      * `key` into `buckets`, a count the caller has pinned
      * ([[pinnedBuckets]]). */
    def store(dir: String, cols: String, key: String = "",
        buckets: Int = 0): Store = new Store(this, dir, cols, key, buckets)
  }

  /** The one per-batch history store of the always-on monitors: one
    * `batch=<id>` partition per micro-batch under `dir`, read with the
    * declared `cols` schema (no footer-inference job), in the layout
    * `buckets` selects:
    *   - 0: plain parquet partitions;
    *   - > 0: the catalog table over the same partitions, bucketed by
    *     `key` ([[openTable]]), so a probe join on `key` reads the
    *     stored side pre-partitioned: exchange-free. Pick buckets ==
    *     spark.sql.shuffle.partitions: with fewer, the planner anchors
    *     the join at the larger count and re-shuffles the stored side
    *     anyway (measured, SCALE.md r19: 8 buckets under a 32-partition
    *     session → `Exchange hashpartitioning(g, 32)` above the scan).
    *     Opening it also turns Spark's DisableUnnecessaryBucketedScan
    *     heuristic off in the stream's own session (the one every batch
    *     plans in): the heuristic silently falls back to a plain scan —
    *     "Bucketed: false (disabled by query planner)" — when it judges
    *     a full shuffle's parallelism worth more than the avoided
    *     exchange (e.g. numBuckets < shuffle partitions), which brings
    *     back exactly the corpus-sized shuffle this layout removes
    *     (measured: per-batch shuffle-write tracked the corpus with the
    *     heuristic on, flat with it off — StreamingDedupRehearsal /
    *     SCALE.md r19).
    * [[earlier]] is every earlier batch's rows and [[write]] replaces
    * this batch's partition, so a batch replayed after a lost commit
    * reproduces itself instead of adding a second copy. */
  final class Store private[MicroBatch] (b: Batch, dir: String,
      cols: String, key: String, buckets: Int) {
    private val spark = b.df.sparkSession
    private val table =
      if (buckets <= 0) None
      else {
        spark.conf.set(
          "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        Some(openTable(spark, dir, cols, key, buckets))
      }

    /** Rows of every `batch < id` partition, without the `batch`
      * column; None before the first write. Looked up after the open,
      * which may have put back a crashed compaction's copy. */
    val earlier: Option[DataFrame] =
      if (Option(b.fs(dir).globStatus(new Path(dir, "batch=*")))
          .forall(_.isEmpty)) None
      else Some(table.fold(spark.read.schema(s"$cols, batch BIGINT")
          .parquet(dir))(spark.table)
        .filter(col("batch") < b.id).drop("batch"))

    /** Replace this batch's partition with `df`. In the bucketed layout
      * the partition is dropped first, and the pre-write repartition
      * uses the SAME murmur3-pmod hash as the bucket-id assignment, so
      * each task holds exactly one bucket's rows and the partition lands
      * as ONE file per bucket — without it every task can write every
      * bucket (tasks × buckets small files per batch, and a long-lived
      * stream's scan cost is driven by file count). Cost: one
      * batch-sized exchange per write. */
    def write(df: DataFrame): Unit = table match {
      case Some(name) =>
        spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION (batch=${b.id})")
        b.fs(dir).delete(new Path(s"$dir/batch=${b.id}"), true)
        df.repartition(buckets, col(key))
          .withColumn("batch", lit(b.id))
          .write.mode("append").format("parquet")
          .partitionBy("batch")
          .bucketBy(buckets, key).sortBy(key)
          .option("compression", Writers.DefaultCompression)
          .saveAsTable(name)
      case None => b.write(df, dir)
    }
  }
}
