package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.RunMetrics

/** The one run listener and the one driver session: `RunMetrics.measure`
  * records the jobs, task totals and the job-interval union of its body
  * and nothing else, and leaves no listener behind; no other code in
  * `src/main` builds a session or registers a listener, and no tool reads
  * an env var. `Session.driver` itself is not called here: in this JVM
  * `getOrCreate` would return the shared test session and reset its
  * shuffle partitions.
  */
class RunMetricsSpec extends AnyFunSuite with TestSpark {

  private val main = Paths.get(sys.props("user.dir"), "src/main/scala")

  private def sources(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  /** `path:line` of every code line (not a comment line) in `files`
    * that contains `word`. */
  private def codeLines(files: Seq[Path], word: String): Seq[String] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      if code.contains(word)
    } yield s"${main.relativize(f)}:${i + 1}"

  private def outside(name: String): Seq[Path] = {
    val files = sources(main)
    assert(files.exists(_.getFileName.toString == name), s"no $name under $main")
    files.filter(_.getFileName.toString != name)
  }

  test("only Session builds a SparkSession: no code line in src/main " +
      "outside Session.scala contains SparkSession.builder()") {
    val offenders = codeLines(outside("Session.scala"), "SparkSession.builder()")
    assert(offenders.isEmpty, s"sessions built outside Session:\n${offenders.mkString("\n")}")
  }

  test("only RunMetrics listens: no code line in src/main outside " +
      "RunMetrics.scala contains SparkListener") {
    val offenders = codeLines(outside("RunMetrics.scala"), "SparkListener")
    assert(offenders.isEmpty, s"listeners outside RunMetrics:\n${offenders.mkString("\n")}")
  }

  test("no file under tools/ reads an env var") {
    val tools = sources(main.resolve("graft/tools"))
    assert(tools.nonEmpty)
    val offenders = Seq("sys.env", "getenv").flatMap(codeLines(tools, _))
    assert(offenders.isEmpty, s"env reads in tools:\n${offenders.mkString("\n")}")
  }

  /** A query with a shuffle (the aggregate) and a broadcast join. */
  private def shuffleAndBroadcast(): Unit = {
    val facts = spark.range(0, 20000).select((col("id") % 97).as("k"),
      col("id").as("v"))
    val dim = spark.range(0, 97).select(col("id").as("k"),
      (col("id") * 2).as("w"))
    Bench.materialize(facts.groupBy("k").agg(sum("v").as("s"))
      .join(broadcast(dim), "k"))
  }

  /** A listener ahead of RunMetrics' on the bus. While closed it holds
    * every task-end event, and with it every later event, so they reach
    * RunMetrics' listener only after the jobs that posted them have
    * returned: a `measure` that did not wait for the bus would miss its
    * own events, or catch an earlier body's. */
  private final class Gate extends SparkListener {
    @volatile private var openAt = 0L
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      while (System.currentTimeMillis() < openAt) Thread.sleep(5)
    def close(): Unit = openAt = Long.MaxValue
    /** Let the held events through 300 ms from now. */
    def openSoon(): Unit = openAt = System.currentTimeMillis() + 300
  }

  private def withGate[A](f: Gate => A): A = {
    val gate = new Gate
    spark.sparkContext.addSparkListener(gate)
    try f(gate)
    finally {
      gate.openSoon()
      spark.sparkContext.removeSparkListener(gate)
    }
  }

  /** `f`, with the gate closed until 300 ms after it returns. */
  private def held(gate: Gate)(f: => Unit): Unit = {
    gate.close()
    try f finally gate.openSoon()
  }

  test("measure around a shuffle and a broadcast join records its jobs, " +
      "stages, tasks and shuffle, and splits wall into union + remainder") {
    val m = withGate(g => RunMetrics.measure(spark)(held(g)(shuffleAndBroadcast())))
    assert(m.jobs.nonEmpty)
    assert(m.jobs.forall(j => j.stages >= 1 && j.tasks >= j.stages), m)
    assert(m.shuffleWrite > 0L && m.shuffleRead > 0L, m)
    assert(m.union <= m.wall && m.union > 0.0, m)
    assert(m.remainder >= 0.0 && m.remainder == m.wall - m.union, m)
    m.jobs.foreach(j => assert(j.end >= j.start, j))
  }

  /** Listeners currently on the context's bus (package-private in Spark). */
  private def busListeners(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[_]].size
  }

  test("measure removes its listener, on a throw too: a second measure " +
      "sees none of the first body's jobs, and jobs run between the two " +
      "calls are recorded by neither") {
    val sc = spark.sparkContext
    val (first, second) = withGate { g =>
      val before = busListeners()
      val first = RunMetrics.measure(spark)(held(g)(shuffleAndBroadcast()))
      sc.setJobGroup("runmetrics-between", "between two measures")
      try held(g)(spark.range(0, 1000).repartition(3).count())
      finally sc.clearJobGroup()
      val second = RunMetrics.measure(spark)(held(g)(shuffleAndBroadcast()))
      val boom = new RuntimeException("boom")
      val thrown = intercept[RuntimeException] {
        RunMetrics.measure(spark) { spark.range(0, 10).count(); throw boom }
      }
      assert(thrown eq boom)
      assert(busListeners() == before)
      (first, second)
    }

    val between = sc.statusTracker.getJobIdsForGroup("runmetrics-between").toSet
    val (a, b) = (first.jobs.map(_.id).toSet, second.jobs.map(_.id).toSet)
    assert(between.nonEmpty)
    assert(a.nonEmpty && b.nonEmpty)
    assert((a intersect b).isEmpty, s"first $a, second $b")
    assert((between intersect (a ++ b)).isEmpty,
      s"between $between, first $a, second $b")
    // the same body writes the same shuffle: none of the between job's
    // shuffle reached the second run's totals
    assert(second.shuffleWrite == first.shuffleWrite, (first, second))
  }
}
