package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Pins, Tables}
import graft.queries.Q

/** Distributed PCA (top principal component) by power iteration — the
  * embedding-space companion of [[QualityClassifier]]'s GD loop: EACH
  * ITERATION IS ONE AGGREGATION JOB, and only `dim+1` doubles ever
  * return to the driver.
  *
  * Per iteration, with the current direction `v` embedded as literals:
  * every row computes the scalar `s = x·v - mu·v` (its centered
  * projection), and the job aggregates `sum(s·x_j)` per dimension plus
  * `sum(s)`. The driver then forms `Σ s·(x - mu) = Σ s·x - mu·Σ s`
  * and normalizes — the classic `v ← C·v / ‖C·v‖` step without ever
  * materializing the covariance matrix OR a centered copy of the data.
  * At 100 TB each iteration is one map-side-combined aggregate whose
  * shuffle is `dim+1` doubles per partition; like `IvfStore.train` and
  * `QualityClassifier.train`, a seeded `sampleFraction` bounds the
  * iterated scans (the top component of a 1% sample is statistically
  * indistinguishable at corpus scale), while the map-only projection
  * pass — the part that must see every row — runs exactly once against
  * the persisted artifact.
  *
  * The trained component ships as a `dim`-row parquet artifact
  * `(j, mu, w)` (train once, project many — the lm/bpe/ivf/classifier
  * convention), and the projection of a row is the algebraic form
  * `x·w - mu·w`: one sequential-fold dot product against a literal
  * vector plus a constant shift, so the DuckDB oracle reproduces it
  * bit-for-bit from the same stored artifact.
  */
object Pca {

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")

  /** Column-mean vector of `a` (array<double>), one aggregation job. */
  private def meanVector(vecs: DataFrame, dim: Int): Array[Double] = {
    val sums = vecs.agg(
      count(lit(1)).as("n"),
      (0 until dim).map(j => sum(element_at(col("a"), j + 1)).as(s"s$j")): _*)
      .head()
    val n = sums.getLong(0).toDouble
    Array.tabulate(dim)(j => sums.getDouble(j + 1) / n)
  }

  /** Power iteration for the top principal component of the (implicitly
    * mean-centered) vectors in column `a`. Returns (mu, w) with ‖w‖ = 1
    * and the largest-magnitude coordinate of `w` made positive (sign
    * canonicalization — eigenvectors are defined up to sign).
    *
    * `sampleFraction` < 1 bounds every iterated scan to a seeded sample;
    * the frame (sampled or not) is pinned once so the loop re-reads a
    * materialized columnar copy, not the parquet scan.
    */
  def powerIteration(vecs: DataFrame, iters: Int = 12,
      sampleFraction: Double = 1.0, seed: Long = 42L)
      : (Array[Double], Array[Double]) = Pins { pins =>
    val f0 = if (sampleFraction < 1.0)
      vecs.sample(withReplacement = false, sampleFraction, seed) else vecs
    val f = pins.pin(f0.select(col("a")))
    val dim = f.select(size(col("a"))).head().getInt(0)
    val mu = meanVector(f, dim)

    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    for (_ <- 0 until iters) {
      val muDotV = mu.zip(v).map { case (m, x) => m * x }.sum
      val xDotV = (0 until dim)
        .map(j => element_at(col("a"), j + 1) * lit(v(j)))
        .reduce(_ + _)
      val withS = f.select(col("a"), (xDotV - lit(muDotV)).as("s"))
      val g = withS.agg(
        sum(col("s")).as("ssum"),
        (0 until dim)
          .map(j => sum(col("s") * element_at(col("a"), j + 1)).as(s"g$j")): _*)
        .head()
      val ssum = g.getDouble(0)
      val unnorm = Array.tabulate(dim)(j => g.getDouble(j + 1) - mu(j) * ssum)
      val nrm = math.sqrt(unnorm.map(x => x * x).sum)
      v = unnorm.map(_ / nrm)
    }
    val kMax = v.indices.maxBy(j => math.abs(v(j)))
    if (v(kMax) < 0) v = v.map(-_)
    (mu, v)
  }

  /** One-pass training: a single `treeAggregate` over the corpus
    * accumulates `n`, `Σx`, and the upper triangle of the Gram matrix
    * `Σ x·xᵀ` in primitive arrays — `d(d+3)/2 + 1` doubles per partition
    * (17 KB at d=64), merged tree-wise, so ONE corpus-scale pass trains
    * the component regardless of iteration count; power iteration then
    * runs on the driver against the d×d covariance
    * `C = G/n − μμᵀ` at d² flops per step, which is free. This is the
    * production path for moderate `d` (the corpus is scanned once,
    * like `build`/`score` passes); [[powerIteration]] remains the
    * arbitrary-`d` fallback where a d×d driver matrix is no longer
    * trivial and each distributed iteration must stay one aggregation
    * job. Per-partition accumulation is imperative by design — the
    * genuinely-per-partition case where a fused primitive-array loop
    * beats 2 000+ declarative aggregate columns.
    */
  def gramComponent(vecs: DataFrame, iters: Int = 100,
      sampleFraction: Double = 1.0, seed: Long = 42L)
      : (Array[Double], Array[Double]) = {
    val (mu, _, comps) =
      gramComponents(vecs, k = 1, iters, sampleFraction, seed)
    (mu, comps(0))
  }

  /** Top-`k` principal components from the SAME single Gram pass as
    * [[gramComponent]]: the covariance lives on the driver, so further
    * components cost d² flops each via Hotelling deflation
    * (C ← C − λ·v·vᵀ after each converged component) — the corpus is
    * still scanned exactly once no matter how many components are
    * extracted. Returns (mu, eigenvalues, components), components
    * orthonormal, each sign-canonicalized.
    */
  def gramComponents(vecs: DataFrame, k: Int, iters: Int = 100,
      sampleFraction: Double = 1.0, seed: Long = 42L)
      : (Array[Double], Array[Double], Array[Array[Double]]) = {
    val f = if (sampleFraction < 1.0)
      vecs.sample(withReplacement = false, sampleFraction, seed) else vecs
    val rdd = f.select(col("a")).rdd
      .map(r => r.getSeq[Double](0).toArray)
    val dim = rdd.first().length
    val tri = dim * (dim + 1) / 2
    val zero = (0L, new Array[Double](dim), new Array[Double](tri))
    val (n, sx, g) = rdd.treeAggregate(zero)(
      seqOp = { case ((cnt, s, gg), x) =>
        var i = 0; var idx = 0
        while (i < dim) {
          s(i) += x(i)
          var j = i
          while (j < dim) { gg(idx) += x(i) * x(j); idx += 1; j += 1 }
          i += 1
        }
        (cnt + 1L, s, gg)
      },
      combOp = { case ((c1, s1, g1), (c2, s2, g2)) =>
        var i = 0
        while (i < dim) { s1(i) += s2(i); i += 1 }
        i = 0
        while (i < tri) { g1(i) += g2(i); i += 1 }
        (c1 + c2, s1, g1)
      })
    val mu = sx.map(_ / n)
    val c = Array.ofDim[Double](dim, dim)
    var idx = 0
    for (i <- 0 until dim; j <- i until dim) {
      val v0 = g(idx) / n - mu(i) * mu(j)
      c(i)(j) = v0; c(j)(i) = v0; idx += 1
    }
    val comps = Array.ofDim[Double](k, dim)
    val eigs = new Array[Double](k)
    for (m <- 0 until k) {
      var v = Array.fill(dim)(1.0 / math.sqrt(dim))
      for (_ <- 0 until iters) {
        val nv = Array.tabulate(dim)(i =>
          (0 until dim).map(j => c(i)(j) * v(j)).sum)
        val nrm = math.sqrt(nv.map(x => x * x).sum)
        v = nv.map(_ / nrm)
      }
      val kMax = v.indices.maxBy(j => math.abs(v(j)))
      if (v(kMax) < 0) v = v.map(-_)
      val lambda = (0 until dim).map(i =>
        v(i) * (0 until dim).map(j => c(i)(j) * v(j)).sum).sum
      comps(m) = v; eigs(m) = lambda
      // deflate: remove the found component's subspace
      for (i <- 0 until dim; j <- 0 until dim)
        c(i)(j) -= lambda * v(i) * v(j)
    }
    (mu, eigs, comps)
  }

  /** The component artifact: `dim` rows `(j, mu, w)`, readable by any
    * engine. Values round to 8 decimals so re-trained artifacts are
    * hash-stable across runs (the float-sum low bits of the distributed
    * aggregation never reach the stored file).
    */
  def componentDf(spark: SparkSession, mu: Array[Double], w: Array[Double])
      : DataFrame = {
    import spark.implicits._
    mu.indices.map(j =>
      (j, BigDecimal(mu(j)).setScale(8, BigDecimal.RoundingMode.HALF_UP)
        .toDouble,
        BigDecimal(w(j)).setScale(8, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      .toDF("j", "mu", "w")
  }

  /** Project every vector onto a STORED component artifact: the
    * `dim`-row artifact collapses to literals (a bounded driver action —
    * `dim` rows), and the pass is map-only codegen: one sequential-fold
    * dot product per row minus the constant `mu·w`.
    */
  def projectWith(vecs: DataFrame, component: DataFrame): DataFrame = {
    val rows = component.orderBy(col("j")).collect()
    val w = rows.map(_.getDouble(2))
    val muDotW = rows.map(r => r.getDouble(1) * r.getDouble(2)).sum
    val wLit = typedLit(w.toSeq)
    vecs.select(col("vec_id"), col("label"),
      round(Similarity.dot(col("a"), wLit) - lit(muDotW), 4).as("p_pca"))
  }

  val Q111ComponentDir = graft.core.Artifacts.dir("graft_q111_component")
  val Q116CentroidDir = graft.core.Artifacts.dir("graft_q116_centroid")
  val Q119ComponentsDir = graft.core.Artifacts.dir("graft_q119_components")

  /** Multi-component artifact: `k·dim` rows `(comp, j, mu, w, ev)` —
    * `ev` is the component's eigenvalue (explained variance), carried
    * for reporting; projection consumes (comp, j, mu, w). Rounded like
    * [[componentDf]] for cross-run hash stability.
    */
  def componentsDf(spark: SparkSession, mu: Array[Double],
      eigs: Array[Double], comps: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    def r8(x: Double) =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    (for (m <- comps.indices; j <- mu.indices)
      yield (m, j, r8(mu(j)), r8(comps(m)(j)), r8(eigs(m))))
      .toDF("comp", "j", "mu", "w", "ev")
  }

  /** Project every vector onto ALL components of a stored multi-component
    * artifact: one map-only pass emitting `p1..pk` — k sequential-fold
    * dot products per row against literal vectors, constants shifted.
    */
  def projectKWith(vecs: DataFrame, components: DataFrame): DataFrame = {
    val rows = components.select(col("comp"), col("j"), col("mu"), col("w"))
      .orderBy(col("comp"), col("j")).collect()
    val byComp = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    val projCols = byComp.map { case (m, rs) =>
      val w = rs.map(_.getDouble(3))
      val muDotW = rs.map(r => r.getDouble(2) * r.getDouble(3)).sum
      round(Similarity.dot(col("a"), typedLit(w.toSeq)) - lit(muDotW), 4)
        .as(s"p${m + 1}")
    }
    vecs.select(col("vec_id") +: col("label") +: projCols: _*)
  }

  /** Per-vector distance to a STORED centroid artifact plus its z-score
    * against the corpus distance distribution — the embedding-space
    * outlier report (mislabeled / off-distribution docs to prune before
    * training). Distance uses the expanded form
    * `sqrt(a·a − 2·a·μ + μ·μ)` — two sequential-fold dot products
    * against literals, map-only — so the oracle reproduces the exact
    * arithmetic from the same artifact; the z-score joins the global
    * (mean, stddev_pop) of distances back as a broadcast 1-row
    * aggregate.
    */
  def outliersWith(vecs: DataFrame, centroid: DataFrame): DataFrame = {
    val rows = centroid.orderBy(col("j")).collect()
    val mu = rows.map(_.getDouble(1))
    val muLit = typedLit(mu.toSeq)
    val muDotMu = mu.map(m => m * m).sum
    val dist = sqrt(Similarity.dot(col("a"), col("a"))
      - lit(2.0) * Similarity.dot(col("a"), muLit) + lit(muDotMu))
    val scored = vecs.select(col("vec_id"), col("label"), dist.as("dist"))
    val stats = scored.agg(avg(col("dist")).as("d_mean"),
      stddev_pop(col("dist")).as("d_std"))
    scored.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("label"), round(col("dist"), 4).as("dist"),
        round((col("dist") - col("d_mean")) / col("d_std"), 4).as("z"))
  }

  def defs: Seq[Q] = Seq(
    // Top-principal-component projection end to end: ONE treeAggregate
    // pass accumulates mean + Gram triangle, the driver power-iterates
    // the 64×64 covariance for free, the (j, mu, w) artifact persists,
    // then the corpus projects against the STORED artifact —
    // the oracle reads the same parquet, so the hash pins the projection
    // math (sequential-fold dot product, centering shift, rounding)
    // exactly; training lives upstream of the shared artifact like
    // q82's codebook and q110's weights.
    Q("q111_pca_projection",
      (s, d) => {
        val vecs = emb(s, d)
          .select(col("vec_id"), col("label"),
            Similarity.asDouble(col("embedding")).as("a"))
        val (mu, w) = gramComponent(vecs)
        componentDf(s, mu, w).coalesce(1)
          .write.mode("overwrite").parquet(Q111ComponentDir)
        val stored = s.read.parquet(Q111ComponentDir)
        projectWith(vecs, stored)
          .orderBy(col("vec_id"))
          .limit(200)
      },
      Some(s"""WITH v AS (
                SELECT vec_id, label,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                FROM embeddings),
              art AS (SELECT j, mu, w
                      FROM read_parquet('$Q111ComponentDir/*.parquet')),
              wv AS (SELECT list(w ORDER BY j) AS wl,
                            list(mu ORDER BY j) AS ml
                     FROM art),
              c AS (SELECT wl,
                           list_sum(list_transform(generate_series(1, LEN(wl)),
                             i -> ml[i] * wl[i])) AS muw
                    FROM wv)
              SELECT v.vec_id, v.label,
                     ROUND(list_sum(list_transform(generate_series(1, LEN(v.a)),
                             i -> v.a[i] * c.wl[i])) - c.muw, 4) AS p_pca
              FROM v, c ORDER BY v.vec_id LIMIT 200""")),

    // Embedding outliers: top-50 by distance to the stored corpus
    // centroid with distance z-scores — the "prune off-distribution
    // vectors before training" report. The centroid trains in the same
    // one-pass mean aggregate gramComponent uses (here via one avg job),
    // persists as a (j, mu) artifact, and both engines score the
    // expanded-form distance from the SAME stored values.
    Q("q116_embedding_outliers",
      (s, d) => {
        val vecs = emb(s, d)
          .select(col("vec_id"), col("label"),
            Similarity.asDouble(col("embedding")).as("a"))
        val mu = Pins { pins =>
          val f = pins.pin(vecs.select(col("a")))
          meanVector(f, f.select(size(col("a"))).head().getInt(0))
        }
        componentDf(s, mu, Array.fill(mu.length)(0.0))
          .select(col("j"), col("mu")).coalesce(1)
          .write.mode("overwrite").parquet(Q116CentroidDir)
        val stored = s.read.parquet(Q116CentroidDir)
        outliersWith(vecs, stored)
          .orderBy(col("dist").desc, col("vec_id"))
          .limit(50)
      },
      Some(s"""WITH v AS (
                SELECT vec_id, label,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                FROM embeddings),
              art AS (SELECT j, mu
                      FROM read_parquet('$Q116CentroidDir/*.parquet')),
              wv AS (SELECT list(mu ORDER BY j) AS ml FROM art),
              c AS (SELECT ml,
                           list_sum(list_transform(generate_series(1, LEN(ml)),
                             i -> ml[i] * ml[i])) AS mumu
                    FROM wv),
              sc AS (
                SELECT v.vec_id, v.label,
                       SQRT(list_sum(list_transform(generate_series(1, LEN(v.a)),
                              i -> v.a[i] * v.a[i]))
                            - 2 * list_sum(list_transform(generate_series(1, LEN(v.a)),
                                i -> v.a[i] * c.ml[i]))
                            + c.mumu) AS dist
                FROM v, c),
              st AS (SELECT AVG(dist) AS d_mean, STDDEV_POP(dist) AS d_std
                     FROM sc)
              SELECT sc.vec_id, sc.label, ROUND(sc.dist, 4) AS dist,
                     ROUND((sc.dist - st.d_mean) / st.d_std, 4) AS z
              FROM sc, st
              ORDER BY ROUND(sc.dist, 4) DESC, sc.vec_id LIMIT 50""")),

    // Top-2 PCA projection — the whitening / visualization / SemDeDup
    // feature map. Same ONE-pass Gram training as q111; the second
    // component costs d² driver flops via Hotelling deflation, not a
    // second corpus scan. Projection is one map-only pass computing
    // both coordinates; the oracle replays both folds from the stored
    // (comp, j, mu, w) artifact.
    Q("q119_pca_topk",
      (s, d) => {
        val vecs = emb(s, d)
          .select(col("vec_id"), col("label"),
            Similarity.asDouble(col("embedding")).as("a"))
        val (mu, eigs, comps) = gramComponents(vecs, k = 2)
        componentsDf(s, mu, eigs, comps).coalesce(1)
          .write.mode("overwrite").parquet(Q119ComponentsDir)
        val stored = s.read.parquet(Q119ComponentsDir)
        projectKWith(vecs, stored)
          .orderBy(col("vec_id"))
          .limit(200)
      },
      Some(s"""WITH v AS (
                SELECT vec_id, label,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                FROM embeddings),
              art AS (SELECT comp, j, mu, w
                      FROM read_parquet('$Q119ComponentsDir/*.parquet')),
              w1 AS (SELECT list(w ORDER BY j) AS wl, list(mu ORDER BY j) AS ml
                     FROM art WHERE comp = 0),
              w2 AS (SELECT list(w ORDER BY j) AS wl, list(mu ORDER BY j) AS ml
                     FROM art WHERE comp = 1),
              c1 AS (SELECT wl,
                            list_sum(list_transform(generate_series(1, LEN(wl)),
                              i -> ml[i] * wl[i])) AS muw
                     FROM w1),
              c2 AS (SELECT wl,
                            list_sum(list_transform(generate_series(1, LEN(wl)),
                              i -> ml[i] * wl[i])) AS muw
                     FROM w2)
              SELECT v.vec_id, v.label,
                     ROUND(list_sum(list_transform(generate_series(1, LEN(v.a)),
                             i -> v.a[i] * c1.wl[i])) - c1.muw, 4) AS p1,
                     ROUND(list_sum(list_transform(generate_series(1, LEN(v.a)),
                             i -> v.a[i] * c2.wl[i])) - c2.muw, 4) AS p2
              FROM v, c1, c2 ORDER BY v.vec_id LIMIT 200""")),

    // PCA-reduced ANN with exact rerank: project the corpus onto the
    // stored 16-component artifact (map-only), shortlist the query's
    // top-100 neighbors by distance IN THE REDUCED SPACE (a TakeOrdered
    // over 16-double rows — the corpus-scale sort carries 1/4 the bytes
    // of the full vectors), then rerank only the shortlist by exact
    // cosine over the full vectors (broadcast semi join + broadcast
    // 1-row query). The dimensionality-reduction retrieval pattern:
    // candidate recall comes from the subspace that carries the
    // variance, exactness from the rerank. Both stages are
    // deterministic across engines because the projections are
    // 4-decimal-rounded values computed from the same stored artifact
    // and the reduced distance folds in fixed component order.
    // Shortlist quality tracks the spectrum: the synthetic corpus is
    // near-isotropic (16/64 components ≈ 38% variance) and still
    // recalls 9/10 of the brute-force top-10 (PcaSpec); real embedding
    // corpora decay much faster, so the same 4× reduction recalls more.
    Q("q120_ann_pca_rerank",
      (s, d) => {
        val vecs = emb(s, d)
          .select(col("vec_id"), col("label"),
            Similarity.asDouble(col("embedding")).as("a"))
        val (mu, eigs, comps) = gramComponents(vecs, k = Q120Comps)
        componentsDf(s, mu, eigs, comps).coalesce(1)
          .write.mode("overwrite").parquet(Q120ComponentsDir)
        val stored = s.read.parquet(Q120ComponentsDir)
        val proj = projectKWith(vecs, stored)
        val qRow = proj.filter(col("vec_id") === 0L)
          .select((1 to Q120Comps).map(m => col(s"p$m").as(s"q$m")): _*)
        val rd2 = (1 to Q120Comps)
          .map(m => (col(s"p$m") - col(s"q$m")) * (col(s"p$m") - col(s"q$m")))
          .reduce(_ + _)
        val cands = proj.crossJoin(broadcast(qRow))
          .filter(col("vec_id") =!= 0L)
          .orderBy(rd2.asc, col("vec_id"))
          .limit(100)
          .select(col("vec_id"))
        val qVec = vecs.filter(col("vec_id") === 0L)
          .select(col("a").as("qa"))
        val sim = Similarity.cosine(col("a"), col("qa"))
        vecs.join(broadcast(cands), "vec_id")
          .crossJoin(broadcast(qVec))
          .select(col("vec_id"), col("label"), sim.as("sim_raw"))
          .orderBy(col("sim_raw").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"), col("label"),
            round(col("sim_raw"), 4).as("sim"))
      },
      Some(q120OracleSql))
  )

  val Q120Comps = 16
  val Q120ComponentsDir = graft.core.Artifacts.dir("graft_q120_components")

  /** q120's oracle, generated over the 16 components: per-component
    * list/shift CTEs (the q119 pattern ×16), rounded projections, the
    * reduced-space top-50 shortlist with the SAME fold order as the
    * Spark expression, then the exact-cosine rerank (q36's formulation)
    * over the shortlist.
    */
  private def q120OracleSql: String = {
    val ms = 1 to Q120Comps
    val wCtes = ms.map(m =>
      s"""w$m AS (SELECT list(w ORDER BY j) AS wl, list(mu ORDER BY j) AS ml
                  FROM art WHERE comp = ${m - 1}),
          c$m AS (SELECT wl,
                         list_sum(list_transform(generate_series(1, LEN(wl)),
                           i -> ml[i] * wl[i])) AS muw
                  FROM w$m)""").mkString(",\n              ")
    val projCols = ms.map(m =>
      s"""ROUND(list_sum(list_transform(generate_series(1, LEN(v.a)),
              i -> v.a[i] * c$m.wl[i])) - c$m.muw, 4) AS p$m""")
      .mkString(",\n                       ")
    val cTables = ms.map(m => s"c$m").mkString(", ")
    val rd2 = ms.map(m => s"(p.p$m - q.p$m) * (p.p$m - q.p$m)")
      .mkString(" + ")
    s"""WITH v AS (
                SELECT vec_id, label,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                FROM embeddings),
              art AS (SELECT comp, j, mu, w
                      FROM read_parquet('$Q120ComponentsDir/*.parquet')),
              $wCtes,
              proj AS (
                SELECT v.vec_id, v.label, v.a,
                       $projCols
                FROM v, $cTables),
              q AS (SELECT * FROM proj WHERE vec_id = 0),
              cand AS (
                SELECT p.vec_id, p.label, p.a
                FROM proj p, q
                WHERE p.vec_id <> 0
                ORDER BY $rd2, p.vec_id
                LIMIT 100),
              rr AS (
                SELECT c.vec_id, c.label,
                       list_sum(list_transform(generate_series(1, LEN(c.a)),
                         i -> c.a[i] * q.a[i]))
                       / (SQRT(list_sum(list_transform(c.a, x -> x*x)))
                        * SQRT(list_sum(list_transform(q.a, x -> x*x)))) AS sim_raw
                FROM cand c, q)
              SELECT vec_id, label, ROUND(sim_raw, 4) AS sim
              FROM rr
              ORDER BY sim_raw DESC, vec_id
              LIMIT 10"""
  }
}
