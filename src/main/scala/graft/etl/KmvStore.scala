package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted, MERGEABLE k-minimum-values sketch store — the production
  * shape q271's Scaladoc promises: build one min-k set per group in
  * ONE corpus pass per source, then answer any distinct-count /
  * union / Jaccard / intersection question — including across sources
  * — from the sketches alone, never re-scanning a corpus. The algebra
  * that makes this work is the KMV closure property: the k smallest
  * hashes of A ∪ B are a subset of (min-k(A) ∪ min-k(B)), so
  * `merge(build(A), build(B)) == build(A ∪ B)` EXACTLY (pinned in
  * KmvStoreSpec) — sketches compose associatively like the CMS
  * partials (`sketch` CLI) and HLL registers (StreamingSketch), but
  * unlike those, every KMV readout is deterministic integer
  * arithmetic, so it hash-checks.
  *
  * Layout under `dir`:
  *   sketch/    parquet (t: group, h: member hash), <= k rows per group
  *   meta/      1-row parquet (k) — merge refuses mismatched k
  *
  * Member hashes are [[graft.queries.Stats.kmvHash]] (the ":kmv"
  * md5-addressed 32-bit uniform) — THE hash q247/q271 use, so a
  * stored sketch is bit-compatible with the calibration queries.
  *
  * 100 TB shape: `build` is one distinct + one bounded-heap min-k per
  * group (the TopKPerKey plan); `merge`/`query` touch ONLY sketches —
  * |groups| × k rows, KBs per group — so cross-source overlap
  * questions cost seconds regardless of corpus size (SCALE.md r17:
  * query wall flat as the built corpus grows 10×).
  */
object KmvStore {

  private def sketchDir(dir: String) = s"$dir/sketch"
  private def metaDir(dir: String) = s"$dir/meta"

  private def writeOut(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("compression", Writers.DefaultCompression)
      .parquet(path)

  /** The stored k (merge and query refuse a mismatch). */
  def readK(spark: SparkSession, dir: String): Int = {
    Writers.recoverDir(spark, sketchDir(dir))
    spark.read.parquet(metaDir(dir)).head.getAs[Long]("k").toInt
  }

  /** One corpus pass: the k smallest distinct member hashes per group
    * land under `dir`. `keyCol` is hashed with the shared ":kmv"
    * rule; groups with fewer than k distinct members store their
    * complete hash set (the exact regime). */
  def build(df: DataFrame, grpCol: Column, keyCol: Column, dir: String,
      k: Int = 256): Unit = {
    require(k > 0, s"k must be positive, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val uh = df.select(grpCol.as("t"), keyCol.as("kid"))
      .distinct()
      .select(col("t"), graft.queries.Stats.kmvHash(col("kid")).as("h"))
      .distinct()
    val w = Window.partitionBy(col("t")).orderBy(col("h"))
    writeOut(uh.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("t"), col("h")), sketchDir(dir))
    writeOut(Seq(k.toLong).toDF("k"), metaDir(dir))
  }

  /** Per-group INCREMENTAL append — the lakehouse convention every
    * other persisted store here follows (PairStore, IvfStore, the
    * `sketch` CLI): sketch the NEW slice in one slice-sized pass and
    * fold it into the stored sketch via the min-k closure, so
    * `append(build(A), B) == build(A ∪ B)` BIT FOR BIT (pinned in
    * KmvStoreSpec) — a daily drop updates the store at the cost of
    * the drop, never a corpus rebuild. The merged sketch replaces the
    * live one through [[Writers.replaceDir]] (read-then-overwrite of
    * the same path would race the lazy scan); every reader runs
    * [[Writers.recoverDir]] first, so a crashed append heals at the
    * next read, and re-running it is safe (append is a duplicate no-op
    * by the min-k closure, KmvStoreSpec). Single writer per store. */
  def append(df: DataFrame, grpCol: Column, keyCol: Column,
      dir: String): Unit = {
    val spark = df.sparkSession
    val k = readK(spark, dir)
    val slice = df.select(grpCol.as("t"), keyCol.as("kid"))
      .distinct()
      .select(col("t"), graft.queries.Stats.kmvHash(col("kid")).as("h"))
      .distinct()
    val un = spark.read.parquet(sketchDir(dir))
      .unionByName(slice)
      .distinct()
    val w = Window.partitionBy(col("t")).orderBy(col("h"))
    Writers.replaceDir(spark, sketchDir(dir)) { stage =>
      writeOut(un.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("t"), col("h")), stage)
    }
  }

  /** Sketch-only merge — NEVER re-scans a corpus: union the stored
    * min-k sets, collapse duplicate hashes (the same key hashes
    * identically in every source), keep the k smallest per group.
    * By the KMV closure property the result equals `build` over the
    * unioned corpora, bit for bit. Groups present in one side only
    * pass through. */
  def merge(spark: SparkSession, dirA: String, dirB: String,
      outDir: String): Unit = {
    val ka = readK(spark, dirA); val kb = readK(spark, dirB)
    require(ka == kb, s"cannot merge sketches with k=$ka and k=$kb")
    import spark.implicits._
    val un = spark.read.parquet(sketchDir(dirA))
      .unionByName(spark.read.parquet(sketchDir(dirB)))
      .distinct()
    val w = Window.partitionBy(col("t")).orderBy(col("h"))
    writeOut(un.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= ka)
      .select(col("t"), col("h")), sketchDir(outDir))
    writeOut(Seq(ka.toLong).toDF("k"), metaDir(outDir))
  }

  /** Per-group distinct-count estimates from the sketch alone —
    * q247's readout without its corpus scan: exact when the group's
    * sketch is unsaturated (it holds the COMPLETE hash set), else the
    * (k-1)·2^32 / h_k estimator on the half-up integer grid. Returns
    * (t, k_used, est_distinct, branch). */
  def estimate(spark: SparkSession, dir: String): DataFrame = {
    val k = readK(spark, dir)
    spark.read.parquet(sketchDir(dir))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("hk"))
      .withColumn("branch",
        when(col("k_used") < k, lit("exact")).otherwise(lit("estimated")))
      .withColumn("est_distinct",
        when(col("k_used") < k, col("k_used"))
          .otherwise(expr(s"(2 * ${k - 1} * 4294967296 + hk) div (2 * hk)")))
      .select(col("t"), col("k_used"), col("est_distinct"), col("branch"))
      .orderBy(col("t"))
  }

  /** The q271 set-algebra readout from the sketch alone — every group
    * pair's union / Jaccard / intersection estimate, integer-exact:
    * per pair, the k smallest hashes of min-k(a) ∪ min-k(b) are
    * EXACTLY min-k(a ∪ b) (closure), and membership against the
    * stored sketches is exact for those hashes (h <= the k-th of the
    * union implies h <= the k-th of its own set). Branch rule: if
    * NEITHER group's sketch is saturated both hash sets are complete
    * and the answer is exact over the full union; if either is
    * saturated, the estimator regime (q271's grid rules, every value
    * half-up cross-multiplied — no floats). */
  def overlap(spark: SparkSession, dir: String): DataFrame = {
    val k = readK(spark, dir)
    val sk = spark.read.parquet(sketchDir(dir))
    val sat = sk.groupBy(col("t")).agg(count(lit(1)).as("n_sk"))
      .select(col("t"), (col("n_sk") >= k).as("sat"))
    val tp = sk.select(col("t")).distinct()
    val prs = tp.select(col("t").as("ta"))
      .join(tp.select(col("t").as("tb")), col("ta") < col("tb"))
    val un = sk
      .join(broadcast(prs),
        col("t") === col("ta") || col("t") === col("tb"))
      .groupBy(col("ta"), col("tb"), col("h"))
      .agg(max(when(col("t") === col("ta"), 1L).otherwise(0L)).as("in_a"),
        max(when(col("t") === col("tb"), 1L).otherwise(0L)).as("in_b"))
    val full = un.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_union_sk"),
        sum(col("in_a") * col("in_b")).as("n_inter_sk"))
    val w = Window.partitionBy(col("ta"), col("tb")).orderBy(col("h"))
    val km = un.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("ta"), col("tb"))
      .agg(max(col("h")).as("hk"),
        sum(col("in_a") * col("in_b")).as("n_both"),
        count(lit(1)).as("k_used"))
    km.join(full, Seq("ta", "tb"))
      .join(broadcast(sat.select(col("t").as("ta"),
        col("sat").as("sat_a"))), Seq("ta"))
      .join(broadcast(sat.select(col("t").as("tb"),
        col("sat").as("sat_b"))), Seq("tb"))
      .withColumn("branch",
        when(!col("sat_a") && !col("sat_b"), lit("exact"))
          .otherwise(lit("estimated")))
      .withColumn("est_union",
        when(col("branch") === "exact", col("n_union_sk"))
          .otherwise(expr(s"(2 * ${k - 1} * 4294967296 + hk) div (2 * hk)")))
      .withColumn("jacc_e6",
        when(col("branch") === "exact",
          expr("(2 * 1000000 * n_inter_sk + n_union_sk) " +
            "div (2 * n_union_sk)"))
          .otherwise(expr("(2 * 1000000 * n_both + k_used) " +
            "div (2 * k_used)")))
      .withColumn("est_inter",
        when(col("branch") === "exact", col("n_inter_sk"))
          .otherwise(expr("(2 * n_both * est_union + k_used) " +
            "div (2 * k_used)")))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("k_used"), col("n_both"), col("est_union"), col("jacc_e6"),
        col("est_inter"), col("branch"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** True iff `dir` holds a sketch (for CLI validation). */
  def exists(spark: SparkSession, dir: String): Boolean =
    Writers.recoverDir(spark, sketchDir(dir)) != "missing"
}
