package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Pins, Tables}
import graft.queries.Q

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory-bounded ANN path: vectors
  * compress to `m` small codes (8 bytes here vs 256 bytes of raw floats
  * per 64-dim vector), and a query scans CODES with a per-query lookup
  * table instead of touching raw vectors. At 100 TB of embeddings this
  * is the difference between an index that fits hot storage and one
  * that doesn't; IVF (cell pruning, [[IvfStore]]) and PQ (in-cell
  * compression) compose into the standard IVF-PQ layout.
  *
  * Everything is deterministic and engine-portable by the repo's rules:
  * seeded hash-ranked init, fixed iteration count, argmin ties to the
  * lower cell id, and every distance folds in ascending index order —
  * so the DuckDB oracle (q91) reproduces codes and ADC distances from
  * the persisted codebook bit-for-bit.
  */
object Pq {

  val DefaultM = 8 // subspaces
  val DefaultK = 16 // centroids per subspace

  /** Map-side PQ assignment, ALL subspaces at once: codes(s) = argmin
    * L2² over subspace s's centroids, ties to the lower cell id. Runs
    * as the native [[graft.functions.PqAssignCodes]] expression — one
    * compiled triple loop per row; the HOF reference form below every
    * layer of which is a CodegenFallback interpreter call is pinned
    * bit-equal in PqSpec. Ascending dim/cell/subspace order matches
    * DuckDB's list_sum(list_transform) oracle arithmetic (the q82
    * bit-equality precedent).
    */
  private def codesExpr(m: Int, dsub: Int,
      books: IndexedSeq[IndexedSeq[Array[Double]]]): Column =
    graft.functions.Fns.pqAssign(col("v"),
      books.map(_.map(_.toSeq).toSeq).toSeq)

  /** The HOF formulation codesExpr replaces — kept as the executable
    * spec of the native expression's semantics (PqSpec pins equality).
    */
  private[graft] def codesExprHof(m: Int, dsub: Int,
      books: IndexedSeq[IndexedSeq[Array[Double]]]): Column = {
    val cbLit = typedlit(books.map(_.map(_.toSeq)))
    transform(sequence(lit(0), lit(m - 1)), s => {
      val sv = slice(col("v"), s * dsub + 1, lit(dsub))
      val dists = transform(element_at(cbLit, s + 1), cv =>
        aggregate(zip_with(sv, cv, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, e) => acc + e))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
  }

  private def booksFrom(codebook: DataFrame): IndexedSeq[IndexedSeq[Array[Double]]] = {
    // bounded driver action: m*k rows by construction
    val rows = codebook.select(col("sub"), col("cell"), col("cv")).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    val m = rows.keys.map(_._1).max + 1
    val k = rows.keys.map(_._2).max + 1
    (0 until m).map(s => (0 until k).map(c => rows((s, c))))
  }

  /** Train per-subspace codebooks: seeded Lloyd's with L2 assignment on
    * the sub-vectors ([[IvfStore.train]]'s shape, factored per
    * subspace). Init takes the k hash-smallest vectors once and splits
    * them into sub-vectors; each iteration is ONE job over the sample —
    * all m subspaces assign in the same map pass, and the update
    * exchanges only slim (sub, cell, dim, component) rows, never the
    * corpus. Empty cells keep their previous centroid. Returns
    * (sub, cell, cv).
    */
  def train(vectors: DataFrame, m: Int = DefaultM, k: Int = DefaultK,
      iters: Int = 3, seed: Long = 42L,
      sampleFraction: Double = 1.0): DataFrame = Pins { pins =>
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
    val dim = vecs.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    // bounded: k rows
    val initRows = vecs
      .select(col("vec_id"), col("v"),
        xxhash64(col("vec_id"), lit(seed)).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    require(initRows.length == k,
      s"sample has only ${initRows.length} vectors for k=$k centroids")
    var books: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until m).map(s => initRows.toIndexedSeq
        .map(v => v.slice(s * dsub, (s + 1) * dsub)))
    for (_ <- 1 to iters) {
      val stacked = vecs
        .select(col("v"), codesExpr(m, dsub, books).as("codes"))
        .select(explode(array((0 until m).map(s =>
          struct(lit(s).as("s"),
            element_at(col("codes"), s + 1).as("cell"),
            slice(col("v"), s * dsub + 1, dsub).as("sv"))): _*)).as("e"))
        .select(col("e.s").as("s"), col("e.cell").as("cell"),
          posexplode(col("e.sv")).as(Seq("i", "x")))
      // bounded: <= m*k rows
      val means = stacked
        .groupBy(col("s"), col("cell"), col("i"))
        .agg(avg(col("x")).as("x"))
        .groupBy(col("s"), col("cell"))
        .agg(collect_list(struct(col("i"), col("x"))).as("ps"))
        .select(col("s"), col("cell"),
          transform(array_sort(col("ps")), p => p.getField("x")).as("cv"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
        .toMap
      books = (0 until m).map(s => (0 until k).map(c =>
        means.getOrElse((s, c), books(s)(c))))
    }
    books.zipWithIndex.flatMap { case (cells, s) =>
      cells.zipWithIndex.map { case (cv, c) => (s, c, cv.toSeq) }
    }.toDF("sub", "cell", "cv")
  }

  /** Encode the corpus against a codebook: (vec_id, codes) with
    * codes(s) = argmin-L2 cell of subspace s. Pure map-side projection
    * over broadcast-literal centroids — the corpus never shuffles, and
    * the output is m ints per vector regardless of dim.
    */
  def encode(vectors: DataFrame, codebook: DataFrame): DataFrame = {
    val books = booksFrom(codebook)
    val dsub = books.head.head.length
    vectors
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        codesExpr(books.length, dsub, books).as("codes"))
  }

  /** Asymmetric-distance top-k over encoded vectors: the query builds a
    * per-subspace lookup table (m*k L2² values, computed once on the
    * driver in the engine's fold order), and each code row costs m
    * array lookups + an ascending sum — no raw vectors touched. The
    * global top-k is a TakeOrdered, not a sort.
    */
  def topK(codes: DataFrame, codebook: DataFrame, qv: Array[Double],
      k: Int, excludeId: Option[Long] = None): DataFrame = {
    val books = booksFrom(codebook)
    val dsub = books.head.head.length
    val table: Seq[Seq[Double]] = books.indices.map { s =>
      val qs = qv.slice(s * dsub, (s + 1) * dsub)
      books(s).map { cv =>
        var acc = 0.0
        var i = 0
        while (i < dsub) { val d = qs(i) - cv(i); acc += d * d; i += 1 }
        acc
      }.toSeq
    }
    // native ascending-s fold (PqAdcDist) — same order as the HOF
    // aggregate(zip_with(codes, table, element_at)) it replaces
    val dist = graft.functions.Fns.pqAdcDist(col("codes"), table)
    val base = excludeId.fold(codes)(id => codes.filter(col("vec_id") =!= id))
    base
      .select(col("vec_id"), dist.as("dist_raw"))
      .orderBy(col("dist_raw").asc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("dist_raw"), 4).as("dist"))
  }

  /** Persist the PQ index: trained codebook + encoded corpus — the
    * [[IvfStore]] operational shape for PQ: the corpus-scale encode pass
    * is paid ONCE at build, probes scan only the m-int codes, and new
    * batches append against the STORED codebook so historical vectors
    * are never re-encoded. Codes write `repartition(vec_id)` so the
    * layout is reproducible and append-friendly.
    */
  def buildStore(vectors: DataFrame, dir: String, m: Int = DefaultM,
      k: Int = DefaultK, iters: Int = 3, seed: Long = 42L,
      sampleFraction: Double = 1.0): Unit = {
    val cb = train(vectors, m, k, iters, seed, sampleFraction)
    cb.write.mode("overwrite")
      .option("compression", graft.etl.Writers.DefaultCompression)
      .parquet(s"$dir/codebook")
    val stored = vectors.sparkSession.read.parquet(s"$dir/codebook")
    encode(vectors.repartition(col("vec_id")), stored)
      .write.mode("overwrite")
      .option("compression", graft.etl.Writers.DefaultCompression)
      .parquet(s"$dir/codes")
  }

  /** Encode a NEW batch against the stored codebook and append it. */
  def appendStore(newVectors: DataFrame, dir: String): Unit = {
    val stored = newVectors.sparkSession.read.parquet(s"$dir/codebook")
    encode(newVectors.repartition(col("vec_id")), stored)
      .write.mode("append")
      .option("compression", graft.etl.Writers.DefaultCompression)
      .parquet(s"$dir/codes")
  }

  /** ADC top-k over the stored codes — identical machinery to [[topK]],
    * fed from the persisted layout (raw vectors never read).
    */
  def topKStored(spark: SparkSession, dir: String, qv: Array[Double],
      k: Int, excludeId: Option[Long] = None): DataFrame =
    topK(spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/codebook"), qv, k, excludeId)

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")

  val Q91CodebookDir = graft.core.Artifacts.dir("graft_q91_pq_codebook")
  val Q92CodebookDir = graft.core.Artifacts.dir("graft_q92_pq_codebook")

  def defs: Seq[Q] = Seq(
    // PQ ANN: train per-subspace codebooks (seeded, sampled), PERSIST
    // them, encode the corpus to m-byte codes, and answer a top-10
    // query by asymmetric distance — the memory-bounded ANN layout
    // (codes are 32x smaller than the raw floats; IVF cell pruning
    // composes on top). The oracle reads the SAME persisted codebook
    // parquet and recomputes codes + ADC with the identical ascending
    // fold, so assignment ties and distances value-pin cross-engine
    // (the q82 persisted-codebook pattern, L2 flavor).
    Q("q91_ann_pq",
      (s, d) => {
        val e = emb(s, d)
        val cb = train(e, iters = 3, sampleFraction = 0.5)
        cb.write.mode("overwrite").parquet(Q91CodebookDir)
        val stored = s.read.parquet(Q91CodebookDir)
        val qv = e.filter(col("vec_id") === 0L)
          .select(Similarity.asDouble(col("embedding"))).head().getSeq[Double](0).toArray
        topK(encode(e, stored), stored, qv, k = 10, excludeId = Some(0L))
      },
      Some(s"""WITH v AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                FROM embeddings),
              cb AS (SELECT sub, cell, cv
                     FROM read_parquet('$Q91CodebookDir/*.parquet')),
              sd AS (
                SELECT v.vec_id, cb.sub, cb.cell,
                       list_sum(list_transform(generate_series(1, LEN(cb.cv)),
                         i -> (v.a[CAST(cb.sub * LEN(cb.cv) AS BIGINT) + i] - cb.cv[i])
                            * (v.a[CAST(cb.sub * LEN(cb.cv) AS BIGINT) + i] - cb.cv[i]))) AS d2
                FROM v CROSS JOIN cb),
              codes AS (
                SELECT vec_id, sub, cell FROM (
                  SELECT vec_id, sub, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                           ORDER BY d2, cell) AS rn
                  FROM sd) t WHERE rn = 1),
              q AS (SELECT sub, cell, d2 AS qd2 FROM sd WHERE vec_id = 0),
              dist AS (
                SELECT c.vec_id, SUM(q.qd2) AS dist_raw
                FROM codes c JOIN q USING (sub, cell)
                WHERE c.vec_id <> 0
                GROUP BY c.vec_id)
              SELECT vec_id, ROUND(dist_raw, 4) AS dist
              FROM dist ORDER BY dist_raw, vec_id LIMIT 10""")),

    // IVF-PQ — the two layouts COMPOSED, which is the standard
    // billion-scale ANN design: IVF cell pruning bounds WHICH codes a
    // query scans (the q50 first-16 cell rule, 4 probes), PQ bounds
    // WHAT each candidate costs (m lookups on an 8-byte code). The
    // corpus's raw vectors appear only in the map-side cell/code
    // assignment; candidate ranking never touches them. Oracle =
    // q50's cell-selection CTEs + q91's ADC CTEs over the same
    // persisted PQ codebook, joined — hash-pinned end to end.
    Q("q92_ann_ivfpq",
      (s, d) => {
        val e = emb(s, d)
        val pqCb = train(e, iters = 3, sampleFraction = 0.5)
        pqCb.write.mode("overwrite").parquet(Q92CodebookDir)
        val stored = s.read.parquet(Q92CodebookDir)
        val vecs = e.repartition(col("vec_id"))
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
        val ivfCb = vecs.filter(col("vec_id") < Similarity.IvfCells)
          .select(col("vec_id").as("cell"), col("v").as("cv"))
        val corpusCells = Similarity.ivfAssign(ivfCb, vecs, probes = 1)
          .select(col("vec_id"), col("cell"))
        val qCells = Similarity
          .ivfAssign(ivfCb, vecs.filter(col("vec_id") === 0L),
            Similarity.IvfProbes)
          .select(col("cell"))
        val qv = vecs.filter(col("vec_id") === 0L)
          .select(col("v")).head().getSeq[Double](0).toArray
        val candidates = encode(e, stored)
          .join(corpusCells, Seq("vec_id"))
          .join(broadcast(qCells), Seq("cell"), "left_semi")
        topK(candidates, stored, qv, k = 10, excludeId = Some(0L))
      },
      Some(s"""WITH v AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                FROM embeddings),
              ivfcb AS (SELECT vec_id AS cell, a AS cv FROM v WHERE vec_id < 16),
              scored AS (
                SELECT v.vec_id, ivfcb.cell,
                       list_sum(list_transform(generate_series(1, LEN(v.a)),
                         i -> v.a[i] * ivfcb.cv[i]))
                       / (SQRT(list_sum(list_transform(v.a, x -> x*x)))
                        * SQRT(list_sum(list_transform(ivfcb.cv, x -> x*x)))) AS sim
                FROM v CROSS JOIN ivfcb),
              corpus AS (
                SELECT vec_id, cell FROM (
                  SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, cell) AS rn
                  FROM scored) t WHERE rn = 1),
              qcell AS (
                SELECT cell FROM (
                  SELECT cell, ROW_NUMBER() OVER (ORDER BY sim DESC, cell) AS rn
                  FROM scored WHERE vec_id = 0) t WHERE rn <= 4),
              cand AS (SELECT vec_id FROM corpus JOIN qcell USING (cell)),
              pqcb AS (SELECT sub, cell, cv
                       FROM read_parquet('$Q92CodebookDir/*.parquet')),
              sd AS (
                SELECT v.vec_id, pqcb.sub, pqcb.cell,
                       list_sum(list_transform(generate_series(1, LEN(pqcb.cv)),
                         i -> (v.a[CAST(pqcb.sub * LEN(pqcb.cv) AS BIGINT) + i] - pqcb.cv[i])
                            * (v.a[CAST(pqcb.sub * LEN(pqcb.cv) AS BIGINT) + i] - pqcb.cv[i]))) AS d2
                FROM v CROSS JOIN pqcb),
              codes AS (
                SELECT vec_id, sub, cell FROM (
                  SELECT vec_id, sub, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                           ORDER BY d2, cell) AS rn
                  FROM sd) t WHERE rn = 1),
              q AS (SELECT sub, cell, d2 AS qd2 FROM sd WHERE vec_id = 0),
              dist AS (
                SELECT c.vec_id, SUM(q.qd2) AS dist_raw
                FROM codes c JOIN q USING (sub, cell)
                JOIN cand USING (vec_id)
                WHERE c.vec_id <> 0
                GROUP BY c.vec_id)
              SELECT vec_id, ROUND(dist_raw, 4) AS dist
              FROM dist ORDER BY dist_raw, vec_id LIMIT 10"""))
  )
}
