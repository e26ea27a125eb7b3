package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.StructType
import org.scalatest.Suite

import graft.core.Session

/** Shared local session for all suites — one JVM-wide SparkSession
  * (getOrCreate) so the suite run pays startup once — and the shared
  * micro-batch drivers of the streaming suites.
  */
trait TestSpark { this: Suite =>
  lazy val spark: SparkSession = TestSpark.shared

  /** Zero-persisted-RDD-delta pin (the r9 pageRank leak class): each
    * foreachBatch localCheckpoints its batch frame and MUST release it
    * before the closure returns — in always-on mode a leaked block per
    * micro-batch accumulates forever.
    */
  def assertNoPersistedRddDelta[A](body: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = body
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"foreachBatch leaked persisted RDDs: ${(after -- before).toSeq.sorted}")
    result
  }

  /** Every WindowExec of `qe`'s executed plan, its subqueries included.
    * Under AQE the executed plan is an `AdaptiveSparkPlanExec` leaf, so
    * a plain `executedPlan.collect` finds nothing; this walks into its
    * current plan and query stages. Run the query first to see the
    * final plan. */
  def windowExecs(qe: QueryExecution): Seq[WindowExec] =
    TestSpark.Aqe.collectWithSubqueries(qe.executedPlan) {
      case w: WindowExec => w
    }

  /** Land `content`, JSON lines, as `landing/<name>.json`; with a
    * `parquet` schema, as one parquet file `landing/<name>.parquet` of
    * those rows read under that schema. The move into `landing` is
    * atomic, so a running query never lists a half-written file. */
  def landFile(landing: String, name: String, content: String,
      parquet: Option[StructType] = None): Unit = {
    val staged = parquet match {
      case None =>
        val f = Files.createTempFile("land-stage", ".json")
        Files.write(f, content.getBytes("UTF-8"))
      case Some(schema) =>
        val dir = Files.createTempDirectory("land-stage").toString
        spark.read.schema(schema)
          .json(spark.createDataset(content.split("\n").toSeq)(Encoders.STRING))
          .coalesce(1).write.mode("overwrite").parquet(dir)
        Files.list(Paths.get(dir)).iterator().asScala
          .filter(_.toString.endsWith(".parquet")).next()
    }
    val ext = if (parquet.isEmpty) "json" else "parquet"
    Files.move(staged, Paths.get(landing, s"$name.$ext"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Land each of `files` as `b<i>` ([[landFile]]) in a fresh landing
    * dir and drain it, so each file is its own micro-batch;
    * `start(landing, out)` runs the monitor to termination. With
    * `replay`, then delete the last batch's commit and drain once more,
    * so that batch reruns as after a lost commit (with no persisted-RDD
    * delta). Returns `out`. */
  def drain(files: Seq[String], replay: Boolean,
      parquet: Option[StructType] = None)(
      start: (String, String) => Unit): String = {
    val landing = Files.createTempDirectory("drain-land").toString
    val out = Files.createTempDirectory("drain-out").toString
    files.zipWithIndex.foreach { case (f, i) =>
      landFile(landing, s"b$i", f, parquet)
      start(landing, out)
    }
    if (replay) {
      val last = files.size - 1
      val commit = Paths.get(out, "_checkpoint", "commits", last.toString)
      Files.delete(commit)
      Files.deleteIfExists(commit.resolveSibling(s".$last.crc"))
      assertNoPersistedRddDelta(start(landing, out))
      assert(Files.exists(commit), "the replayed batch did not commit")
    }
    out
  }
}

object TestSpark {
  private object Aqe extends AdaptiveSparkPlanHelper

  lazy val shared: SparkSession = {
    val s = Session.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
