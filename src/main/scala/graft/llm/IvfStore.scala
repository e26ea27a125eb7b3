package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins
import graft.etl.Writers

/** Persisted IVF index — the ANN analog of [[PairStore]].
  *
  * [[Similarity.ivfTopK]] re-derives the codebook and re-assigns every
  * corpus vector to its cell on every query; at 100 TB that assignment
  * pass (|corpus| × IvfCells cosines) dominates and must be paid ONCE:
  *
  *  - [[build]]: codebook (cell, cv) + corpus cell assignment, the cells
  *    written `partitionBy(cell)` so a probe reads only its cells'
  *    files (partition pruning — the on-disk form of an inverted file);
  *  - [[append]]: new vectors are assigned against the STORED codebook
  *    and appended to their cell partitions — the historical corpus is
  *    never re-scored (the PairStore/StreamingDedup growth shape);
  *  - [[topK]]: rank the query's IvfProbes nearest cells' population by
  *    exact cosine. The codebook read is a bounded driver action
  *    (IvfCells rows — same class as the CC convergence probe), and the
  *    driver-side cell ranking folds components in ascending index
  *    order, exactly the engine's CosineSim order, so stored-index
  *    results equal the from-scratch [[Similarity.ivfTopK]] bit for bit
  *    (IvfStoreSpec pins equality).
  */
object IvfStore {

  /** Build the index: codebook + cell-partitioned corpus layout.
    * `codebook` defaults to the oracle-pinned first-IvfCells vectors;
    * pass [[train]]'s output for centroids that actually tile the data.
    */
  def build(vectors: DataFrame, dir: String,
      codebook: Option[DataFrame] = None): Unit = {
    val vecs = vectors.repartition(col("vec_id"))
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val cb = codebook.getOrElse(
      vecs.filter(col("vec_id") < Similarity.IvfCells)
        .select(col("vec_id").as("cell"), col("v").as("cv")))
    cb.write.mode("overwrite")
      .option("compression", Writers.DefaultCompression)
      .parquet(s"$dir/codebook")
    Similarity.ivfAssign(cb, vecs, probes = 1)
      .write.mode("overwrite")
      .option("compression", Writers.DefaultCompression)
      .partitionBy("cell")
      .parquet(s"$dir/cells")
  }

  /** Deterministic seeded Lloyd's (spherical flavor: assignment by max
    * cosine — exactly [[Similarity.ivfAssign]]'s rule, so a trained
    * codebook probes through the identical machinery — centroid update
    * by per-dimension mean). The first-IvfCells "codebook" [[build]]
    * defaults to is a training SAMPLE standing in for k-means; at 100×
    * corpus growth recall rests on centroids that tile the data, which
    * is what the training loop buys.
    *
    * Per iteration (`iters` is FIXED — deterministic job count, no
    * convergence probe):
    *  - assignment is fully map-side: broadcast codebook, per-row argmax
    *    (ties to the lower cell id — ivfAssign's sort order);
    *  - update is one partial-aggregated groupBy mean over slim
    *    (cell, dim, component) rows — ≤ cells×dim×partitions rows reach
    *    the exchange, never the corpus;
    *  - a cell that loses every vector keeps its previous centroid;
    *  - the k-row iterate is pinned on the driver (same bounded-action
    *    class as the CC convergence probe and [[topK]]'s codebook read),
    *    keeping the loop's lineage flat without checkpoint bookkeeping.
    *
    * Init is a seeded hash-ranked sample: the k vectors with the
    * smallest (xxhash64(vec_id, seed), vec_id) — uniform, reproducible,
    * engine-order-independent. Within-cell means fold in partition
    * order, so trailing-bit float drift across cluster layouts is
    * possible; assignments are argmax over well-separated centroids and
    * ties still break on cell id, so labels stay stable in practice
    * (SimilaritySpec pins recall, not bits).
    *
    * Scale assumption: the codebook (k × dim doubles) fits in driver and
    * executor memory — inherent to broadcast assignment (ivfAssign
    * collapses it to one broadcast row regardless), and the standard IVF
    * regime (cells ~ sqrt(corpus): 32k cells × 1k dims ≈ 256 MB at 10⁹
    * vectors). The corpus itself only ever streams through map-side
    * assignment and the slim per-dimension mean.
    *
    * `sampleFraction` bounds the TRAINING SET, not the index: a seeded
    * Bernoulli `df.sample` applied before the checkpoint, so only the
    * sample is materialized and each Lloyd's iteration scans the sample,
    * never the corpus. k-means practice derives centroids from a ~1–10%
    * sample; at 100 TB the full corpus is read exactly once — by
    * [[build]]'s single assignment pass against the trained codebook.
    * The sample must keep comfortably more than k vectors (cells ~
    * sqrt(corpus) makes any practical fraction safe); a degenerate
    * sample with fewer than k rows simply trains a smaller codebook.
    */
  def train(vectors: DataFrame, k: Int = Similarity.IvfCells,
      iters: Int = 5, seed: Long = 42L,
      sampleFraction: Double = 1.0): DataFrame = Pins { pins =>
    import org.apache.spark.sql.expressions.Window
    // the returned codebook is driver-pinned by the loop's per-iteration
    // collect; with zero iterations the init would still reference the
    // pinned vectors, which are released when this call returns
    require(iters >= 1, s"train needs at least one iteration, got $iters")
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val spark = vectors.sparkSession
    import spark.implicits._
    val base =
      if (sampleFraction < 1.0)
        vectors.sample(withReplacement = false, sampleFraction, seed)
      else vectors
    val vecs = pins.pin(base.repartition(col("vec_id"))
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v")))
    val w = Window.orderBy(col("h"), col("vec_id"))
    var codebook = vecs
      .select(col("vec_id"), col("v"),
        xxhash64(col("vec_id"), lit(seed)).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select((row_number().over(w) - 1).cast("long").as("cell"),
        col("v").as("cv"))
    for (_ <- 1 to iters) {
      val assigned = Similarity.ivfAssign(codebook, vecs, probes = 1)
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i")).agg(avg(col("x")).as("x"))
        .groupBy(col("cell"))
        .agg(collect_list(struct(col("i"), col("x"))).as("ps"))
        .select(col("cell"),
          transform(array_sort(col("ps")), p => p.getField("x")).as("cvm"))
      val next = codebook.join(means, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("cvm"), col("cv")).as("cv"))
      // bounded: k rows
      codebook = next.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toDF("cell", "cv")
    }
    codebook
  }

  /** Assign a NEW batch against the stored codebook and append it to its
    * cell partitions; existing vectors are untouched.
    */
  def append(newVectors: DataFrame, dir: String): Unit = {
    val spark = newVectors.sparkSession
    val codebook = spark.read.parquet(s"$dir/codebook")
    val vecs = newVectors.repartition(col("vec_id"))
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    Similarity.ivfAssign(codebook, vecs, probes = 1)
      .write.mode("append")
      .option("compression", Writers.DefaultCompression)
      .partitionBy("cell")
      .parquet(s"$dir/cells")
  }

  /** Fold the small files [[append]] accumulates (one per cell per
    * appended batch) back into one file per cell, preserving the
    * `partitionBy("cell")` layout so probe-time partition pruning is
    * untouched (IvfStoreSpec plan-asserts PartitionFilters after a
    * compaction). `repartition(col("cell"))` puts each cell's rows in
    * exactly one task, so the dynamic-partition write emits exactly one
    * file per cell — bounded by the IVF regime (cells ~ sqrt(corpus) →
    * ~sqrt(corpus) rows per file). The compacted layout replaces
    * `cells` through [[graft.etl.Writers.replaceDir]]; [[recover]]
    * heals a crash. Callers must quiesce appenders first (same contract
    * as compactBucketedTable); an append that races the compaction
    * aborts it ([[graft.etl.Writers.unraced]]). Returns the new data-file
    * count.
    */
  def compact(spark: SparkSession, dir: String): Int = {
    val cells = s"$dir/cells"
    val p = new org.apache.hadoop.fs.Path(cells)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Writers.replaceDir(spark, cells) { stage =>
      Writers.unraced(fs, p) { _ =>
        spark.read.parquet(cells)
          .repartition(col("cell"))
          .write.mode("overwrite")
          .option("compression", Writers.DefaultCompression)
          .partitionBy("cell")
          .parquet(stage)
      }
    }
    dataFileCount(fs, p)
  }

  /** [[graft.etl.Writers.recoverDir]] on `cells`: returns true if a copy
    * was put back, false if the index was already healthy (leftovers
    * are swept either way); throws if no copy of `cells` exists. Safe to
    * call unconditionally before opening an index.
    */
  def recover(spark: SparkSession, dir: String): Boolean =
    Writers.recoverDir(spark, s"$dir/cells") match {
      case "clean" => false
      case "missing" => throw new java.io.IOException(
        s"ivf recover: $dir/cells is missing and no copy of it survives " +
          "— the index was never built or was deleted")
      case _ => true
    }

  /** Parquet data files under `p`, recursively (cell partition dirs). */
  def dataFileCount(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Int = {
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Exact-cosine top-k over the stored index: only the query's
    * IvfProbes nearest cells are read (cell partition pruning).
    */
  def topK(spark: SparkSession, dir: String, qv: Array[Double], k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    // bounded: the codebook is IvfCells rows by construction
    val codebook = spark.read.parquet(s"$dir/codebook").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probed = codebook
      .map { case (cell, cv) => (cell, cosineLocal(qv, cv)) }
      .sortBy { case (cell, sim) => (-sim, cell) }
      .take(Similarity.IvfProbes)
      .map(_._1)
    val cells = spark.read.parquet(s"$dir/cells")
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
    val candidates = excludeId.fold(cells)(id => cells.filter(col("vec_id") =!= id))
    val sim = Similarity.cosine(col("v"), lit(qv))
    candidates
      .select(col("vec_id"), round(sim, 4).as("sim"), sim.as("sim_raw"))
      .orderBy(col("sim_raw").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("sim"))
  }

  /** Driver-side cosine in the engine's fold order (ascending index,
    * independent accumulators — CosineSim's exact arithmetic).
    */
  private def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var sxy = 0.0; var sxx = 0.0; var syy = 0.0
    var i = 0
    while (i < n) {
      sxy += a(i) * b(i); sxx += a(i) * a(i); syy += b(i) * b(i)
      i += 1
    }
    sxy / (math.sqrt(sxx) * math.sqrt(syy))
  }
}
