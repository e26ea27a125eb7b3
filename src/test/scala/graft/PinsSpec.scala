package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Pins, RunMetrics, Tables}
import graft.llm.{Dedup, IvfStore, Pca, Pq, QualityClassifier, Similarity, TextOps}

/** The pin scope's contracts: it is the only code that checkpoints, every
  * operator routed through it leaves no persisted RDD behind (at its
  * round cap too), a body that throws still releases everything it held,
  * and `iterate` holds at most the previous and the current round.
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

  /** Files under the SparkContext's checkpoint dir (none while unset). */
  private def checkpointFiles(): Set[String] =
    spark.sparkContext.getCheckpointDir.toSeq.flatMap { d =>
      val dir = new Path(d)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listFiles(dir, true)
      Iterator.continually(files).takeWhile(_.hasNext)
        .map(_.next().getPath.toString).toSeq
    }.toSet

  /** A throwing connected-components call: it must throw before it lands
    * anything in the checkpoint dir. */
  private def throwsBeforeLand(cc: => DataFrame): Unit = {
    val before = checkpointFiles()
    intercept[IllegalStateException](cc)
    val added = checkpointFiles() -- before
    assert(added.isEmpty, s"a throwing CC call wrote checkpoint files: $added")
  }

  /** A frame of `rows` ids in column `id`, and its successor round. */
  private def ids(rows: Int): DataFrame = spark.range(0, rows).toDF("id")
  private def next(f: DataFrame): DataFrame = f.select((col("id") + 1).as("id"))

  test("iterate: a round that throws on round 3 releases every round's " +
      "frame and rethrows its own exception") {
    val boom = new RuntimeException("boom")
    val leaked = leakedBy {
      val thrown = intercept[RuntimeException] {
        Pins { pins =>
          pins.iterate("throws", (pins.pin(ids(10)), 0), 10) { (f, n) =>
            if (n == 2) throw boom
            next(f)
          } { (_, n, _) => (n + 1, false) }
        }
      }
      assert(thrown eq boom)
    }
    assert(leaked.isEmpty, s"a throwing round leaked persisted RDDs: $leaked")
  }

  test("iterate: round k's frame is held while round k+1 materializes and " +
      "released after; a normal return holds only the final frame") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val outside = persisted
    var seen = List.empty[Set[Int]] // at each test call: held inside the scope
    var atEnd = Set.empty[Int]
    Pins { pins =>
      val done = pins.iterate("held", (pins.pin(ids(10)), 0), 10)(
        (f, _) => next(f)) {
        (_, n, _) =>
          seen ::= persisted -- outside
          (n + 1, n + 1 == 4)
      }
      assert(done.rounds == 4 && done.converged && done.value == 4)
      assert(done.frame.agg(min(col("id"))).head().getLong(0) == 4L)
      atEnd = persisted -- outside
    }
    val held = seen.reverse
    // every test call sees two frames: the previous round's and the new
    // one; the previous one is gone by the next call
    assert(held.forall(_.size == 2), s"frames held per round: $held")
    held.zip(held.tail).foreach { case (k, k1) =>
      assert((k -- k1).size == 1 && (k1 -- k).size == 1, s"$k then $k1")
    }
    assert(atEnd.size == 1 && held.last.contains(atEnd.head),
      s"after return: $atEnd, last round: ${held.last}")
    assert(persisted -- outside == Set.empty, "the scope end left frames held")
    // at the cap the test has not fired
    val capped = Pins { pins =>
      pins.iterate("capped", (ids(10), 0), 2)((f, _) => next(f))(
        (_, n, _) => (n + 1, false))
    }
    assert(capped.rounds == 2 && !capped.converged && capped.value == 2)
  }

  test("iterate: round k's jobs carry `<label> round k`; the caller's " +
      "own description is back after the loop and after a round throws") {
    val sc = spark.sparkContext
    def description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("caller")
    try {
      var inRound = List.empty[String] // the description each test call saw
      val run = RunMetrics.measure(spark) {
        Pins { pins =>
          val done = pins.iterate("demo", (ids(10), 0), 10)(
              (f, _) => next(f)) { (_, n, nx) =>
            nx.count()
            inRound ::= description
            (n + 1, n + 1 == 3)
          }
          assert(done.rounds == 3 && done.converged)
          assert(description == "caller")
          done.frame.count()
        }
      }
      assert(inRound.reverse == Seq("demo round 1", "demo round 2",
        "demo round 3"))
      val jobs = run.jobs.sortBy(_.id)
      // each round pins its frame and counts it: at least two jobs a round
      (1 to 3).foreach { k =>
        assert(jobs.count(_.description == s"demo round $k") >= 2,
          s"round $k: ${jobs.map(_.description)}")
      }
      assert(jobs.map(_.description).toSet ==
        Set("demo round 1", "demo round 2", "demo round 3", "caller"),
        jobs.map(_.description).toString)
      assert(jobs.last.description == "caller", jobs.last.toString)
      intercept[IllegalStateException] {
        Pins { pins =>
          pins.iterate("boom", (ids(10), 0), 10) { (f, n) =>
            if (n == 1) throw new IllegalStateException("boom")
            next(f)
          } { (_, n, _) => (n + 1, false) }
        }
      }
      assert(description == "caller", "a throwing round kept its label")
    } finally sc.setJobDescription(null)
  }

  test("every routed operator leaves zero persisted-RDD delta") {
    lazy val emb = Tables.load(spark, sf, "embeddings")
    lazy val docs = Tables.load(spark, sf, "documents")
    lazy val vecs =
      emb.select(Similarity.asDouble(col("embedding")).as("a"))
    lazy val chain = spark.range(0, 200)
      .select(col("id").as("d1"), (col("id") + 1).as("d2"))
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
      "TextOps.bpeTrain" -> (() => TextOps.bpeTrain(docs, 3)),
      "connectedComponents at its cap" -> (() =>
        throwsBeforeLand(Dedup.connectedComponents(chain, maxIters = 1))),
      "connectedComponentsStar at its cap" -> (() =>
        throwsBeforeLand(Dedup.connectedComponentsStar(chain, maxIters = 1))),
      "kCore at its cap" -> (() => run(Dedup.kCore(chain, k = 2, maxRounds = 1))),
      "pageRank with the exit off" -> (() =>
        run(Dedup.pageRank(chain, tol = -1.0))))
    val leaks = (registry ++ direct).flatMap { case (name, op) =>
      val leaked = leakedBy(op())
      if (leaked.isEmpty) None else Some(s"$name: $leaked")
    }
    assert(leaks.isEmpty, s"persisted RDDs left behind:\n${leaks.mkString("\n")}")
  }
}
