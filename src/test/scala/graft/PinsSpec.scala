package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Pins, Tables}
import graft.llm.{IvfStore, Pca, Pq, QualityClassifier, Similarity, TextOps}

/** The pin scope's contracts: it is the only code that checkpoints, every
  * operator routed through it leaves no persisted RDD behind, and a body
  * that throws still releases everything it held.
  */
class PinsSpec extends AnyFunSuite with TestSpark {

  private val sf = "/root/testdata/sf0.001"

  /** Persisted RDDs that `f` leaves behind. */
  private def leakedBy(f: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    f
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("only Pins checkpoints: no code line in src/main outside Pins " +
      "names localCheckpoint(, .checkpoint( or LogicalRDD") {
    val root = Paths.get(sys.props("user.dir"), "src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 1, s"no sources under $root")
    val offenders = for {
      f <- files if f.getFileName.toString != "Pins.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      word <- Seq("localCheckpoint(", ".checkpoint(", "LogicalRDD")
      if code.contains(word)
    } yield s"${root.relativize(f)}:${i + 1}: $word"
    assert(offenders.isEmpty,
      s"checkpointing outside Pins:\n${offenders.mkString("\n")}")
  }

  test("a body that throws after two pins and one keep releases all three " +
      "and rethrows its own exception") {
    val df = spark.range(0, 100).toDF("id")
    val boom = new RuntimeException("boom")
    var held = Set.empty[Int]
    var kept: DataFrame = null
    val leaked = leakedBy {
      val thrown = intercept[RuntimeException] {
        Pins { pins =>
          val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
          pins.pin(df.filter(col("id") % 2 === 0))
          pins.pin(df.filter(col("id") % 3 === 0))
          kept = pins.keep(df.filter(col("id") % 5 === 0))
          kept.count()
          held = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
          throw boom
        }
      }
      assert(thrown eq boom)
    }
    assert(held.size == 3, s"expected 3 persisted RDDs inside the scope: $held")
    assert(leaked.isEmpty, s"a throwing body leaked persisted RDDs: $leaked")
    assert(kept.storageLevel == StorageLevel.NONE)
  }

  test("Pq.train with m not dividing dim throws and releases its pinned " +
      "vectors") {
    val emb = Tables.load(spark, sf, "embeddings")
    val leaked = leakedBy {
      intercept[IllegalArgumentException](Pq.train(emb, m = 7, iters = 1))
    }
    assert(leaked.isEmpty, s"Pq.train leaked on its throw path: $leaked")
  }

  test("every routed operator leaves zero persisted-RDD delta") {
    lazy val emb = Tables.load(spark, sf, "embeddings")
    lazy val docs = Tables.load(spark, sf, "documents")
    lazy val vecs =
      emb.select(Similarity.asDouble(col("embedding")).as("a"))
    val registry = Seq("q177_triangle_counts", "q181_clustering_coeff",
      "q220_assortativity", "q222_kcore", "q199_lsh_band_recall",
      "q278_fleets", "q241_rfm", "q116_embedding_outliers").map { n =>
        n -> (() => run(graft.queries.Registry.queries(n)(spark, sf)))
      }
    val direct = Seq[(String, () => Unit)](
      "Pca.powerIteration" -> (() => Pca.powerIteration(vecs, iters = 2)),
      "QualityClassifier.train" -> (() => QualityClassifier.train(
        QualityClassifier.features(docs, col("lang") === "en"), iters = 2)),
      "Pq.train" -> (() => run(Pq.train(emb, iters = 1))),
      "IvfStore.train" -> (() => run(IvfStore.train(emb, k = 4, iters = 1))),
      "TextOps.bpeTrain" -> (() => TextOps.bpeTrain(docs, 3)))
    val leaks = (registry ++ direct).flatMap { case (name, op) =>
      val leaked = leakedBy(op())
      if (leaked.isEmpty) None else Some(s"$name: $leaked")
    }
    assert(leaks.isEmpty, s"persisted RDDs left behind:\n${leaks.mkString("\n")}")
  }
}
