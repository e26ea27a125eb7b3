package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
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

  /** Land each of `files` as `b<i>.json` in a fresh landing dir and
    * drain it, so each file is its own micro-batch; `start(landing,
    * out)` runs the monitor to termination. With `replay`, then delete
    * the last batch's commit and drain once more, so that batch reruns
    * as after a lost commit (with no persisted-RDD delta). Returns
    * `out`. */
  def drain(files: Seq[String], replay: Boolean)(
      start: (String, String) => Unit): String = {
    val landing = Files.createTempDirectory("drain-land").toString
    val out = Files.createTempDirectory("drain-out").toString
    files.zipWithIndex.foreach { case (f, i) =>
      Files.write(Paths.get(landing, s"b$i.json"), f.getBytes("UTF-8"))
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
  lazy val shared: SparkSession = {
    val s = Session.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
