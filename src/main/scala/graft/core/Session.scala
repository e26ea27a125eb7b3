package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Defaults are chosen for correctness-parity with the reference pipeline
  * (see SURVEY.md §7.1) and for scale:
  *   - UTC session timezone everywhere (reference uses UTC ingestion dates,
  *     `dubai-dataset/lambdas/data-ingestion/lambda_handler.py:273`).
  *   - ANSI off so failed casts/parses yield null, matching the reference's
  *     `strptime(..., strict=False)` semantics
  *     (`notebooks/preprocessing_with_polars.ipynb:1490-1494`).
  *   - AQE on: runtime shuffle-partition coalescing and skew-join splitting
  *     are what make a fixed partition count survive a 100× scale-up.
  *   - Shuffle partitions default to the local core count; on a real
  *     cluster this is expected to be overridden to ~2-3× total cores.
  */
object Session {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // Native expression registration (graft_cosine, graft_minhash_sig,
      // ...): extensions are a create-time-only config, so every session
      // factory in the repo must set it (tune() can't add it post-hoc).
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Vectorized parquet + pushdown are on by default; pinned here so a
      // cluster-side config override can't silently regress scan perf.
      // Parquet TIMESTAMP(NANOS) (e.g. events.ts in the testdata) is
      // otherwise an illegal type for Spark's reader; read as long and
      // convert at the catalog layer (Tables.load).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.enableVectorizedReader", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // InferFiltersFromGenerate synthesizes `size(genInput) > 0` filters
      // and pushes them below exchanges, INLINING the generator input
      // expression. For higher-order-function inputs (shingling, minhash)
      // that re-evaluates the whole lambda chain — including any split()
      // referenced inside it, once per element — on the pre-repartition
      // partition layout: measured 10-30 s vs ~2 s at sf0.1 on the
      // near-dup queries. The rule only saves generating empty arrays.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")

  /** Size of Spark's generated-class cache (`spark.sql.codegen.cache.
    * maxEntries`, default 100). An always-on monitor replans the same
    * DataFrames every micro-batch; one dark-rendezvous micro-batch alone
    * generates ~150 distinct classes, so at 100 entries each class is
    * evicted before the next batch asks for it and every batch compiles
    * its whole plan again. 1,000 holds several batches' working set;
    * only stages whose code inlines a per-batch literal (the hour span)
    * still compile (StreamingGeoSpec's codegen guard). The cache is
    * a static conf read once per JVM, on the driver and on every
    * executor, so it belongs to session creation on any cluster, not to
    * one local box; `tune()` cannot set it on an existing session. */
  private val CodegenCacheEntries: Int = 1000

  /** The driver contract's session (Bench, Verify, Probe): `local[cpus]`
    * with the extensions, `shufflePartitions`, UTC and the UI off, then
    * [[tune]], then log level WARN. Every other conf, the codegen cache
    * size included, stays at Spark's default, as in the session the
    * driver itself would hand to [[graft.SparkEntry]]. */
  def driver(shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$driverCpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores of the [[driver]] session: SPARK_GRAFT_CPUS, or the core
    * count. */
  lazy val driverCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Tune an externally-created session (the driver contract's) to
    * engine defaults that are safe to set post-hoc. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // Mirror builder()'s broadcast threshold so externally-created
    // sessions (the driver contract's) plan the same joins as the
    // engine's own sessions: at the 10 MB default they planned
    // sort-merge joins the builder sessions broadcast. The value is
    // size-adaptive by construction (estimates grow with the data, so
    // nothing near 64 MB broadcasts at cluster scale that would not on a
    // large local box), not a local-box tune. Only when the session
    // still runs Spark's 10 MB default: an operator-tuned cluster value
    // (e.g. a deliberate lower bound against post-filter size
    // underestimates) must survive tune().
    if (spark.sessionState.conf.autoBroadcastJoinThreshold ==
        10L * 1024 * 1024)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (64L * 1024 * 1024).toString)
    spark
  }

  /** Ensure the SparkContext has a checkpoint dir for [[Pins.land]],
    * the reliable checkpoint a result outlives its pinned frames on.
    *
    * Resolution order (a per-call `Files.createTempDirectory` would be
    * a local-mode assumption and leave one orphan dir per call):
    *   1. a dir already set on the context (cluster operators set one
    *      on SHARED storage — a reliable checkpoint must be readable
    *      by every executor, so on a real cluster this, or (2), is
    *      REQUIRED: a driver-local temp dir cannot work);
    *   2. the engine conf `graft.checkpoint.dir` (settable per session
    *      or via spark-defaults), for deployments that cannot call
    *      setCheckpointDir before the engine runs;
    *   3. one JVM-shared local temp dir (local mode only), created
    *      once and removed by a shutdown hook — repeated queries reuse
    *      it instead of scattering per-call dirs for the JVM lifetime.
    */
  private[core] def ensureCheckpointDir(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = spark.conf.getOption("graft.checkpoint.dir")
        .getOrElse(sharedLocalCheckpointDir)
      sc.setCheckpointDir(dir)
    }
  }

  private lazy val sharedLocalCheckpointDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-ckpt")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => try java.nio.file.Files.deleteIfExists(p)
            catch { case _: java.io.IOException => () })
      } catch { case _: Throwable => () }))
    d.toString
  }

  /** Switch Structured Streaming state to the RocksDB provider — the
    * 100 TB lever for the always-on streams (StreamingDedup/Curation/
    * Sketch, gapAlerts, StreamJoin): the default HDFS-backed provider
    * keeps every key's state in executor HEAP, so state size is bounded
    * by memory; RocksDB spills to local disk with changelog
    * checkpointing, bounding memory at any key cardinality. Applies to
    * queries STARTED after the call (provider is read at query start;
    * restarting an existing checkpoint keeps its original provider).
    * StreamingRocksDbSpec pins operator parity under the swap.
    */
  def rocksdbStateStore(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    spark
  }
}
