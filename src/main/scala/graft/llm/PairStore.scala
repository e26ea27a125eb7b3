package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Writers

/** Persisted near-dup pair table.
  *
  * Every q56/q61-class job (dedup clustering, survivorship, curation
  * funnels) starts from the same expensive artifact — the near-dup pair
  * graph — and rebuilding it per query re-scans, re-tokenizes, and
  * re-shingles the whole corpus. This operator materializes the pairs
  * once and maintains them as the corpus grows, so downstream jobs read
  * a slim (d1, d2, jaccard) table instead of paying the pair-graph
  * construction again:
  *
  *  - [[build]]: full pair graph ([[Dedup.hashJaccardPairs]]) → parquet;
  *  - [[append]]: a NEW document batch contributes only its own pairs —
  *    exact intra-batch pairs plus cross pairs from an LSH probe of the
  *    persisted band index, certified with true per-pair Jaccard; the
  *    historical corpus is never re-shingled (the incremental-dedup
  *    shape, producing durable pairs instead of transient candidates);
  *  - [[compact]]: fold the small files the appends accumulate (at
  *    100 TB a scan's task count is driven by file count, not bytes);
  *  - [[clusters]]: connected components over the stored pairs.
  *
  * At cluster scale the table lives bucketed by d1 ([[buildBucketed]]):
  * Spark records the hash-bucket layout in the catalog, so every later
  * d1-keyed join/aggregation over the stored pairs starts pre-partitioned
  * — no exchange on the stored side (PairStoreSpec pins the plan).
  * Bucket metadata lives in the catalog, not the parquet footers, so the
  * plain-directory [[build]] remains the portable default; a warehouse
  * deployment (Hive metastore / commit-log table format) makes the
  * bucketed layout durable across sessions.
  */
object PairStore {

  /** Build (or rebuild) the pair table from the full corpus. */
  def build(docs: DataFrame, dir: String, minJaccard: Double,
      maxDf: Int = Dedup.DefaultMaxShingleDf): Unit =
    Writers.parquet(Dedup.hashJaccardPairs(docs, minJaccard, maxDf), dir)

  /** Build the pair table as a d1-bucketed, d1-sorted catalog table (at
    * `dir` when given, else the session warehouse). `NumBuckets` is the
    * cluster-scale knob: buckets ≈ executors × a small factor so each
    * task owns a few whole buckets.
    */
  def buildBucketed(docs: DataFrame, table: String, minJaccard: Double,
      maxDf: Int = Dedup.DefaultMaxShingleDf, dir: Option[String] = None,
      buckets: Int = NumBuckets): Unit = {
    val w = Dedup.hashJaccardPairs(docs, minJaccard, maxDf)
      .write.mode("overwrite")
      .option("compression", Writers.DefaultCompression)
      .bucketBy(buckets, "d1").sortBy("d1")
      .format("parquet")
    dir.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  val NumBuckets = 32

  /** The stored bucketed pair table — reads resolve through the catalog
    * so the bucket spec reaches the planner. */
  def bucketedPairs(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Clusters over the bucketed table (same contract as [[clusters]]). */
  def clustersBucketed(spark: SparkSession, table: String): DataFrame =
    Dedup.connectedComponents(bucketedPairs(spark, table))

  /** Persist the (node, comp) cluster labeling derived from the bucketed
    * pair table as its own node-bucketed catalog table — run CC ONCE,
    * then every cluster-consuming report (retention, best-of-cluster,
    * mixture design) is an index read: node-keyed joins against the
    * stored labels plan with no exchange on the stored side, and nothing
    * re-derives the pair graph (PairStoreSpec pins stored == fresh and
    * the exchange-free plan).
    */
  def saveClustersBucketed(spark: SparkSession, pairsTable: String,
      clustersTable: String, dir: Option[String] = None,
      buckets: Int = NumBuckets): Unit = {
    val w = clustersBucketed(spark, pairsTable)
      .write.mode("overwrite")
      .option("compression", Writers.DefaultCompression)
      .bucketBy(buckets, "node").sortBy("node")
      .format("parquet")
    dir.fold(w)(p => w.option("path", p)).saveAsTable(clustersTable)
  }

  /** The stored cluster labeling [[saveClustersBucketed]] wrote. */
  def storedClusters(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Threshold-sweep calibration ([[Dedup.thresholdSweep]]) over the
    * stored pair table — the whole cost of the fresh-route sweep is the
    * pair-graph build it re-derives (19.9 s at the 10× rehearsal), so a
    * calibration re-run against an existing store should be an INDEX
    * READ: one scan of the slim (d1, d2, jaccard) table, the broadcast
    * 5-row fan-out, and two <= 5-key aggregates — no re-scan,
    * re-tokenize, or re-shingle of the corpus, no shingle-index
    * self-join (PairStoreSpec pins stored == fresh and the
    * SortMergeJoin-free stored-side plan).
    */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame =
    Dedup.thresholdSweep(pairs(spark, dir))

  /** [[thresholdSweep]] over the d1-bucketed catalog table. */
  def thresholdSweepBucketed(spark: SparkSession, table: String): DataFrame =
    Dedup.thresholdSweep(bucketedPairs(spark, table))

  /** Append a new batch's pairs: intra-batch exact pairs (the capped
    * inverted-index route, same semantics as [[build]]) plus cross
    * batch-vs-corpus pairs — LSH candidates from probing `corpusBands`
    * (the persisted index [[graft.streaming.StreamingDedup]] maintains),
    * certified with TRUE uncapped Jaccard over `allDocs` at per-pair
    * cost. Certification is uncapped by construction (it intersects the
    * two docs' full shingle-hash sets), i.e. strictly more precise than
    * the capped index route at boundary pairs.
    */
  def append(newDocs: DataFrame, allDocs: DataFrame, corpusBands: DataFrame,
      dir: String, minJaccard: Double, minEstJaccard: Double = 0.5): Unit =
    batchPairs(newDocs, allDocs, corpusBands, minJaccard, minEstJaccard)
      .write.mode("append")
      .option("compression", Writers.DefaultCompression)
      .parquet(dir)

  /** [[append]] into the d1-bucketed catalog table [[buildBucketed]]
    * wrote: append-mode saveAsTable with the SAME bucket spec routes the
    * new pairs through the bucket hash, so an incrementally-grown store
    * KEEPS the exchange-free d1 reads the bucketed layout exists for
    * (a plain-directory append would silently demote every later read
    * to a re-shuffle — the r6 gap). Spark validates the declared spec
    * against the catalog's and refuses a mismatch rather than mixing
    * layouts.
    */
  def appendBucketed(newDocs: DataFrame, allDocs: DataFrame,
      corpusBands: DataFrame, table: String, minJaccard: Double,
      minEstJaccard: Double = 0.5, buckets: Int = NumBuckets): Unit =
    batchPairs(newDocs, allDocs, corpusBands, minJaccard, minEstJaccard)
      .write.mode("append")
      .option("compression", Writers.DefaultCompression)
      .bucketBy(buckets, "d1").sortBy("d1")
      .format("parquet")
      .saveAsTable(table)

  /** A new batch's pairs (see [[append]]): exact intra-batch pairs plus
    * certified cross pairs from the persisted band index.
    */
  private def batchPairs(newDocs: DataFrame, allDocs: DataFrame,
      corpusBands: DataFrame, minJaccard: Double,
      minEstJaccard: Double): DataFrame = {
    val intra = Dedup.hashJaccardPairs(newDocs, minJaccard)
    val candidates = Dedup
      .incrementalCandidatesFromBands(Dedup.minhashBands(newDocs),
        corpusBands, minEstJaccard)
      .select(col("d_new").as("d1"), col("d_old").as("d2"))
    val cross = Dedup.jaccardOnCandidates(allDocs, candidates)
      .filter(col("jaccard") >= minJaccard)
      // canonical d1 < d2 so the stored pair set stays orientation-free
      .select(least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2"), col("jaccard"))
    intra.unionByName(cross)
  }

  /** The stored pair table. */
  def pairs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Dedup clusters over the stored pairs — [[Dedup.connectedComponents]]
    * without re-deriving the pair graph.
    */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(pairs(spark, dir))

  /** Fold append-accumulated small files; returns the new file count. */
  def compact(spark: SparkSession, dir: String, targetMB: Int = 512): Int =
    Writers.compact(spark, dir, targetMB)

  /** Fold the small files [[appendBucketed]] accumulates in the BUCKETED
    * pair table, PRESERVING the d1 bucket layout (a plain [[compact]]
    * rewrite would strip the bucket ids from the file names and demote
    * every later d1-keyed read to a re-shuffle). Crash-safe sibling
    * write + directory swap — [[graft.etl.Writers.compactBucketedTable]];
    * quiesce appenders first. Returns the new file count.
    *
    * Crash recovery: a complete copy of the pairs exists on disk at
    * every instant, but a crash between its catalog DROP and CREATE
    * leaves the data durable with no catalog entry — and because this
    * method discovers the path via DESCRIBE FORMATTED, the table can
    * then no longer be reached through the API. [[registerBucketed]]
    * (CLI: `pairs register <table> <dir>`) puts a dir left mid-swap
    * back and re-creates the entry over it.
    */
  def compactBucketed(spark: SparkSession, table: String,
      buckets: Int = NumBuckets): Int = {
    val loc = spark.sql(s"DESCRIBE FORMATTED `$table`").collect()
      .find(r => r.getString(0).trim.equalsIgnoreCase("Location"))
      .getOrElse(throw new IllegalStateException(
        s"no Location row in DESCRIBE FORMATTED $table"))
      .getString(1).trim
    Writers.compactBucketedTable(spark, table, loc, "d1", buckets)
  }

  /** Re-create the bucketed pair table's catalog entry over files
    * already on disk — the recovery path after a crash between
    * [[compactBucketed]]'s DROP and CREATE (the data survives; a dir
    * left mid-swap is put back first), and the maintenance path for a fresh
    * session whose in-memory catalog forgot the table. `buckets` must
    * match the count the files were written with.
    */
  def registerBucketed(spark: SparkSession, table: String, path: String,
      buckets: Int = NumBuckets): Unit =
    Writers.registerBucketedTable(spark, table, path, "d1", buckets)
}
