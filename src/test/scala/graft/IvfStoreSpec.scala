package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Writers
import graft.llm.{IvfStore, Similarity}

/** Persisted IVF index: stored-index answers must equal the from-scratch
  * ivfTopK, probes must prune to the probed cell partitions, and appends
  * must assign against the stored codebook without touching history.
  */
class IvfStoreSpec extends AnyFunSuite with TestSpark {

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** SimilaritySpec's fixture: 60 vectors + vec 500 a near-clone of 1. */
  private lazy val vectors = {
    val rng = new scala.util.Random(11)
    val base = (0L until 60L).map { i =>
      (i, Array.fill(32)(rng.nextGaussian().toFloat).toSeq)
    }
    val clone = {
      val v = base(1)._2.toArray
      v(0) = v(0) + 0.001f
      (500L, v.toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize((base :+ clone).map(Row.fromTuple), 2),
      schema)
  }

  private def queryVec(id: Long): Array[Double] =
    vectors.filter(col("vec_id") === id)
      .select(Similarity.asDouble(col("embedding")))
      .head().getSeq[Double](0).toArray

  test("stored-index topK equals from-scratch ivfTopK; probe prunes to cells") {
    val dir = Files.createTempDirectory("graft-ivf").toString
    IvfStore.build(vectors, dir)
    val top = IvfStore.topK(spark, dir, queryVec(1L), k = 5,
      excludeId = Some(1L))
    val stored = top.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fresh = Similarity.ivfTopK(vectors, queryVecId = 1L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == fresh, s"stored $stored vs fresh $fresh")
    assert(stored.head._1 == 500L)
    // the probe read only the probed cell partitions
    val plan = top.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cells scan not partition-pruned:\n$plan")
  }

  test("build/append/probe work against a TRAINED codebook") {
    val dir = Files.createTempDirectory("graft-ivf-tr").toString
    val trained = IvfStore.train(vectors, k = 8, iters = 4)
    IvfStore.build(vectors, dir, Some(trained))
    // probe: planted clone of vec 1 retrieved through trained cells
    val top = IvfStore.topK(spark, dir, queryVec(1L), k = 5,
      excludeId = Some(1L)).collect()
    assert(top.head.getLong(0) == 500L,
      s"clone not retrieved through trained index: ${top.map(_.getLong(0)).mkString(",")}")
    // append: a late near-clone of vec 2 is assigned against the STORED
    // trained codebook and found by a later probe
    val v2 = vectors.filter(col("vec_id") === 2L)
      .head().getSeq[Float](1).toArray
    v2(0) = v2(0) + 0.001f
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row.fromTuple((600L, v2.toSeq))), 1),
      schema)
    IvfStore.append(batch, dir)
    val top2 = IvfStore.topK(spark, dir, queryVec(2L), k = 3,
      excludeId = Some(2L)).collect().map(_.getLong(0))
    assert(top2.head == 600L,
      s"appended clone not retrieved through trained cells: ${top2.mkString(",")}")
  }

  test("compact folds per-append files; answers and pruning survive") {
    val dir = Files.createTempDirectory("graft-ivf-cmp").toString
    IvfStore.build(vectors, dir)
    // two appended batches pile extra small files onto their cells
    def cloneOf(srcId: Long, newId: Long) = {
      val v = vectors.filter(col("vec_id") === srcId)
        .head().getSeq[Float](1).toArray
      v(0) = v(0) + 0.001f
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row.fromTuple((newId, v.toSeq))), 1),
        schema)
    }
    IvfStore.append(cloneOf(2L, 600L), dir)
    IvfStore.append(cloneOf(3L, 601L), dir)
    val cells = new org.apache.hadoop.fs.Path(s"$dir/cells")
    val fs = cells.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val filesBefore = IvfStore.dataFileCount(fs, cells)
    val rowsBefore = spark.read.parquet(cells.toString).count()
    val topBefore = IvfStore.topK(spark, dir, queryVec(2L), k = 3,
      excludeId = Some(2L)).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val filesAfter = IvfStore.compact(spark, dir)
    assert(filesAfter < filesBefore,
      s"compaction did not shrink file count: $filesBefore -> $filesAfter")
    assert(IvfStore.dataFileCount(fs, cells) == filesAfter)
    assert(spark.read.parquet(cells.toString).count() == rowsBefore)
    // answers identical through the compacted layout, probe still pruned
    val top = IvfStore.topK(spark, dir, queryVec(2L), k = 3,
      excludeId = Some(2L))
    val topAfter = top.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(topAfter == topBefore, s"$topBefore vs $topAfter")
    val plan = top.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"compacted cells scan not partition-pruned:\n$plan")
  }

  test("recover restores the index from either surviving compaction sibling") {
    val dir = Files.createTempDirectory("graft-ivf-rec").toString
    IvfStore.build(vectors, dir)
    val cells = new org.apache.hadoop.fs.Path(s"$dir/cells")
    val fs = cells.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pre = new org.apache.hadoop.fs.Path(Writers.swapOld(cells.toString))
    val tmp = new org.apache.hadoop.fs.Path(Writers.swapTmp(cells.toString))
    val expected = IvfStore.topK(spark, dir, queryVec(2L), k = 3,
      excludeId = Some(2L)).collect().toSeq

    // healthy index: no-op, and leftovers are swept
    fs.mkdirs(tmp)
    assert(!IvfStore.recover(spark, dir))
    assert(!fs.exists(tmp) && fs.exists(cells))

    // crash between the two renames: only pre survives
    assert(fs.rename(cells, pre))
    assert(IvfStore.recover(spark, dir))
    assert(fs.exists(cells) && !fs.exists(pre))
    assert(IvfStore.topK(spark, dir, queryVec(2L), k = 3,
      excludeId = Some(2L)).collect().toSeq == expected)

    // crash after moving cells aside with the compacted copy durable
    assert(fs.rename(cells, tmp))
    assert(IvfStore.recover(spark, dir))
    assert(fs.exists(cells) && !fs.exists(tmp))
    assert(IvfStore.topK(spark, dir, queryVec(2L), k = 3,
      excludeId = Some(2L)).collect().toSeq == expected)

    // nothing survives -> loud failure
    val empty = Files.createTempDirectory("graft-ivf-rec-empty").toString
    val ex = intercept[java.io.IOException] { IvfStore.recover(spark, empty) }
    assert(ex.getMessage.contains("never built or was deleted"))
  }

  test("append assigns new vectors via the stored codebook") {
    val dir = Files.createTempDirectory("graft-ivf-app").toString
    IvfStore.build(vectors, dir)
    // a near-clone of vec 2 arrives after the build
    val v2 = vectors.filter(col("vec_id") === 2L)
      .head().getSeq[Float](1).toArray
    v2(0) = v2(0) + 0.001f
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row.fromTuple((600L, v2.toSeq))), 1),
      schema)
    IvfStore.append(batch, dir)
    val top = IvfStore.topK(spark, dir, queryVec(2L), k = 3,
      excludeId = Some(2L))
      .collect().map(_.getLong(0))
    assert(top.head == 600L,
      s"appended clone not retrieved through stored cells: ${top.mkString(",")}")
  }
}
