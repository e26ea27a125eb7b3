package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.llm.TextOps

/** Always-on Count-Min sketch over an arriving document stream — the
  * heavy-hitter monitor that never holds vocab-sized state: each
  * micro-batch folds into 4·w integer counters (q152's md5-addressed
  * layout), and because CMS counters of disjoint slices SUM to the
  * whole-stream sketch, the persisted state is just each batch's
  * partial counter table, merged on read.
  *
  * Exactly-once without locks, the [[StreamingScore]] /
  * [[StreamingIndex]] idempotency pattern: a batch's partial sketch is
  * a pure function of the batch, so a replay recomputes identical
  * counters and OVERWRITES its own `batch=<id>` partition — never
  * double-counts, never touches other batches' files. Point queries
  * read the merged counters at whatever batch boundary is on disk;
  * [[graft.streaming.StreamingCuration.compactState]]'s
  * directory-swap applies unchanged if the partition count ever
  * matters (it is bounded by batches × 4·w tiny rows).
  */
object StreamingSketch {

  /** Fold arriving documents (JSON files carrying `schema`, which must
    * include `text`) into per-batch partial CMS counter tables under
    * `outDir/sketch/batch=<id>`.
    */
  def startCms(spark: SparkSession, landingDir: String, schema: StructType,
      outDir: String, w: Int = 1024,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "json"),
        s"$outDir/_checkpoint", trigger) { b =>
      b.write(TextOps.cmsSketch(b.df, w), s"$outDir/sketch")
    }

  /** The whole-stream sketch: per-batch partials summed counter-wise. */
  def sketch(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/sketch")
      .groupBy(col("r"), col("bucket")).agg(sum(col("c")).as("c"))

  /** Point-query estimates for `toks` against the merged sketch:
    * est(t) = min over the 4 rows of t's bucket counters (identical
    * addressing to the batch q152 via [[TextOps.cmsBuckets]]).
    *
    * The stored sketch only materializes buckets that were ever HIT, so
    * the probe LEFT-joins and coalesces absent counters to 0 — a token
    * the stream never saw reports est=0 (not a silently missing row),
    * and a token with some empty buckets takes its true min instead of
    * an inflated min over nonzero counters only.
    */
  def estimate(spark: SparkSession, outDir: String,
      toks: Seq[String], w: Int = 1024): DataFrame = {
    import spark.implicits._
    toks.toDF("tok")
      .select(col("tok"),
        posexplode(TextOps.cmsBuckets(col("tok"), w)).as(Seq("r", "bucket")))
      .join(broadcast(sketch(spark, outDir)), Seq("r", "bucket"), "left")
      .groupBy(col("tok"))
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
      .orderBy(col("tok"))
  }

  /** Always-on DISTINCT-CARDINALITY monitor — the HLL complement to the
    * CMS counters (how often vs how many distinct): each micro-batch
    * folds its `valCol` values into ONE Datasketches HLL sketch per
    * `keyCol` (Spark 4's native `hll_sketch_agg`), persisted under
    * `outDir/hll/batch=<id>`. HLL sketches of disjoint slices UNION
    * losslessly into the whole-stream sketch, so the persisted state is
    * |keys| fixed-size binary blobs per batch — never a
    * distinct-values-sized set — and the same overwrite layout as
    * [[startCms]] makes replays idempotent (a batch's sketch is a pure
    * function of the batch).
    */
  def startHll(spark: SparkSession, landingDir: String, schema: StructType,
      outDir: String, keyCol: String, valCol: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "json"),
        s"$outDir/_checkpoint", trigger) { b =>
      b.write(b.df.groupBy(col(keyCol))
        .agg(hll_sketch_agg(col(valCol)).as("sk")), s"$outDir/hll")
    }

  /** Whole-stream distinct estimates per key: per-batch sketches merged
    * with the lossless `hll_union_agg`, then estimated — identical to
    * the sketch a single pass over the union of all batches would
    * build (StreamingSketchSpec pins the equality).
    */
  def distinctEstimate(spark: SparkSession, outDir: String,
      keyCol: String): DataFrame =
    spark.read.parquet(s"$outDir/hll")
      .groupBy(col(keyCol))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
        .as("n_distinct_est"))
      .orderBy(col(keyCol))
}
