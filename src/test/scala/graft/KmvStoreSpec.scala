package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{KmvStore, Writers}
import graft.queries.Stats

/** Persisted mergeable KMV sketches: the closure property
  * (merge(build(A), build(B)) == build(A ∪ B), bit for bit), exact
  * vs estimator branches, agreement with the q271 calibration query
  * in the saturated regime, and the k-mismatch refusal.
  */
class KmvStoreSpec extends AnyFunSuite with TestSpark {

  import spark.implicits._

  private def dirOf(): String = java.nio.file.Files
    .createTempDirectory("graft-kmv").toString

  /** The swap leftovers of a store's `sketch/` dir. */
  private def swapTmp(dir: String) = Writers.swapTmp(s"$dir/sketch")
  private def swapOld(dir: String) = Writers.swapOld(s"$dir/sketch")

  private def sketch(dir: String): Set[(String, Long)] =
    spark.read.parquet(s"$dir/sketch").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  // two overlapping corpora, each group far past k=8 distinct members
  private def corpusA = (1 to 200).flatMap(i =>
    Seq(("x", s"m$i"), ("y", s"m${i + 50}")))
    .toDF("t", "kid")
  private def corpusB = (150 to 400).map(i => ("x", s"m$i"))
    .toDF("t", "kid")

  test("closure: merge(build(A), build(B)) == build(A UNION B) " +
      "exactly — sketch-only merge, never a corpus re-scan") {
    val (da, db, dm, du) = (dirOf(), dirOf(), dirOf(), dirOf())
    KmvStore.build(corpusA, col("t"), col("kid"), da, k = 8)
    KmvStore.build(corpusB, col("t"), col("kid"), db, k = 8)
    KmvStore.merge(spark, da, db, dm)
    KmvStore.build(corpusA.unionByName(corpusB),
      col("t"), col("kid"), du, k = 8)
    assert(sketch(dm) == sketch(du))
    assert(KmvStore.readK(spark, dm) == 8)
    // merge is associative-shaped: merging in the other order too
    val dm2 = dirOf()
    KmvStore.merge(spark, db, da, dm2)
    assert(sketch(dm2) == sketch(du))
  }

  test("estimate: unsaturated groups read back EXACT, saturated " +
      "groups engage the (k-1)*2^32/hk estimator within 3 sigma") {
    val dir = dirOf()
    val df = ((1 to 5).map(i => ("small", s"s$i")) ++
      (1 to 5000).map(i => ("big", s"b$i"))).toDF("t", "kid")
    KmvStore.build(df, col("t"), col("kid"), dir, k = 64)
    val est = KmvStore.estimate(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(est("small") == ((5L, 5L, "exact")))
    val (ku, ed, br) = est("big")
    assert(ku == 64L && br == "estimated")
    // KMV relative error ~ 1/sqrt(k-1): 3 sigma at k=64 is ~38%
    assert(math.abs(ed - 5000L) < 1900L, s"estimate $ed for 5000")
  }

  test("overlap: exact branch when both sketches are complete; " +
      "saturated regime agrees with the q271 calibration query " +
      "column for column") {
    // exact: tiny groups, known algebra — |p|=4, |q|=4, inter=2
    val dE = dirOf()
    val small = Seq(("p", "a"), ("p", "b"), ("p", "c"), ("p", "d"),
      ("q", "c"), ("q", "d"), ("q", "e"), ("q", "f")).toDF("t", "kid")
    KmvStore.build(small, col("t"), col("kid"), dE, k = 64)
    val ex = KmvStore.overlap(spark, dE).collect()
    assert(ex.length == 1)
    val r = ex.head
    assert(r.getAs[String]("branch") == "exact")
    assert(r.getAs[Long]("est_union") == 6L)
    assert(r.getAs[Long]("est_inter") == 2L)
    // half-up(1e6 * 2 / 6) = 333333
    assert(r.getAs[Long]("jacc_e6") == 333333L)

    // saturated: the sketch-only answer must equal q271's estimator
    // columns (n_both/k_used/est_union identical by KMV closure)
    val dS = dirOf()
    val big = corpusA.unionByName(corpusB)
    KmvStore.build(big, col("t"), col("kid"), dS, k = 256)
    // corpusA/B give x 400 and y 200 distinct members: y unsaturated
    // at k=256 -> shrink k via a dedicated build at k=64
    val d64 = dirOf()
    KmvStore.build(big, col("t"), col("kid"), d64, k = 64)
    val got = KmvStore.overlap(spark, d64).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        ((r.getAs[Long]("k_used"), r.getAs[Long]("n_both"),
          r.getAs[Long]("est_union"), r.getAs[Long]("jacc_e6"),
          r.getAs[Long]("est_inter"), r.getAs[String]("branch")))).toMap
    val want = Stats.kmvOverlap(big, col("t"), col("kid"), k = 64)
      .collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        ((r.getAs[Long]("k_used"), r.getAs[Long]("n_both"),
          r.getAs[Long]("est_union"), r.getAs[Long]("jacc_e6"),
          r.getAs[Long]("est_inter")))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k0, (ku, nb, eu, j, ei, br)) =>
      assert(br == "estimated", s"$k0 not saturated")
      assert((ku, nb, eu, j, ei) == want(k0),
        s"$k0: sketch=${(ku, nb, eu, j, ei)} q271=${want(k0)}")
    }
  }

  test("append: folding a new slice into the stored sketch == a full " +
      "rebuild over the unioned corpus, bit for bit (the closure, " +
      "incrementally); new groups pass through; k is preserved") {
    val (da, du) = (dirOf(), dirOf())
    KmvStore.build(corpusA, col("t"), col("kid"), da, k = 8)
    // slice: overlaps x, extends it, and introduces a NEW group z
    val slice = corpusB.unionByName(
      (1 to 30).map(i => ("z", s"w$i")).toDF("t", "kid"))
    KmvStore.append(slice, col("t"), col("kid"), da)
    KmvStore.build(corpusA.unionByName(slice),
      col("t"), col("kid"), du, k = 8)
    assert(sketch(da) == sketch(du))
    assert(KmvStore.readK(spark, da) == 8)
    // idempotent-shaped: appending the same slice again changes
    // nothing (min-k of a superset union is unchanged)
    KmvStore.append(slice, col("t"), col("kid"), da)
    assert(sketch(da) == sketch(du))
    // no set-aside/tmp litter after the swap
    val litter = Seq(swapTmp(da), swapOld(da)).filter(new java.io.File(_).exists)
    assert(litter.isEmpty, litter.mkString(","))
  }

  test("crash recovery: a swap interrupted between the two renames " +
      "(live gone, data stranded under sketch_old-*) heals at the " +
      "next read, and re-running the interrupted append converges " +
      "(ADVICE r18)") {
    val (da, du) = (dirOf(), dirOf())
    KmvStore.build(corpusA, col("t"), col("kid"), da, k = 8)
    val before = sketch(da)
    // simulate the crash window: rename(live -> old) happened, the
    // promote never did — plus a stranded tmp from the dead writer
    val base = new java.io.File(da)
    assert(new java.io.File(base, "sketch")
      .renameTo(new java.io.File(swapOld(da))))
    assert(new java.io.File(swapTmp(da)).mkdir())
    // any read heals: the set-aside sketch is restored, litter cleared
    assert(KmvStore.readK(spark, da) == 8)
    assert(sketch(da) == before)
    val litter = Seq(swapTmp(da), swapOld(da)).filter(new java.io.File(_).exists)
    assert(litter.isEmpty, litter.mkString(","))
    // the interrupted append re-runs to the exact rebuild state
    KmvStore.append(corpusB, col("t"), col("kid"), da)
    KmvStore.build(corpusA.unionByName(corpusB),
      col("t"), col("kid"), du, k = 8)
    assert(sketch(da) == sketch(du))
    // the other crash window (between promote and delete) leaves a
    // superseded set-aside copy BESIDE the live sketch: dropped, live
    // untouched
    assert(new java.io.File(swapOld(da)).mkdir())
    assert(KmvStore.exists(spark, da))
    assert(sketch(da) == sketch(du))
    assert(!new java.io.File(swapOld(da)).exists())
  }

  test("merge refuses mismatched k — a silent mixed-k merge would " +
      "corrupt every estimate") {
    val (da, db) = (dirOf(), dirOf())
    KmvStore.build(corpusA, col("t"), col("kid"), da, k = 8)
    KmvStore.build(corpusB, col("t"), col("kid"), db, k = 16)
    val e = intercept[IllegalArgumentException](
      KmvStore.merge(spark, da, db, dirOf()))
    assert(e.getMessage.contains("k=8"))
  }
}
