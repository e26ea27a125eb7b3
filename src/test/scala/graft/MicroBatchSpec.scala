package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Dq
import graft.llm.{Pca, QualityClassifier}
import graft.streaming.{StreamingCuration, StreamingDedup, StreamingDq,
  StreamingGeo, StreamingIndex, StreamingScore, StreamingSketch}
import graft.streaming.StreamingGeo.GeoEv

/** The micro-batch runner's contracts: it is the only place in
  * `streaming/` that wires a stream or reads and writes per-batch
  * history, and a monitor stopped after a batch and restarted from its
  * checkpoint — or whose last commit was lost — lands exactly what an
  * uninterrupted run lands.
  */
class MicroBatchSpec extends AnyFunSuite with TestSpark {

  /** `file:line: word` for every line of a `streaming/` source other
    * than `owner` that contains one of `words`. */
  private def outside(owner: String)(words: String*): Seq[String] = {
    val dir = Paths.get(sys.props("user.dir"), "src/main/scala/graft/streaming")
    val files = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 1, s"no monitor sources under $dir")
    for {
      f <- files if f.getFileName.toString != owner
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      word <- words
      if line.contains(word)
    } yield s"${f.getFileName}:${i + 1}: $word"
  }

  test("only MicroBatch wires streams: no other streaming/ file names " +
      "readStream, writeStream or checkpointLocation") {
    val offenders = outside("MicroBatch.scala")(
      "readStream", "writeStream", "checkpointLocation")
    assert(offenders.isEmpty,
      s"stream wiring outside MicroBatch:\n${offenders.mkString("\n")}")
  }

  test("only MicroBatch's store reads and writes per-batch history: no " +
      "other streaming/ file appends, saves a table or filters on batch") {
    val offenders = outside("MicroBatch.scala")(
      """.mode("append")""", "saveAsTable", """col("batch") <""")
    assert(offenders.isEmpty,
      s"history written or read outside MicroBatch.Store:\n${
        offenders.mkString("\n")}")
  }

  test("only ArrivalOrder keeps the typed-state replay rule: no other " +
      "streaming/ file sorts by (ts, event_id), compares an event id " +
      "with a mark or sets or reads a state timeout") {
    // Funnel's stage rule (stage time strictly after the last stage, no
    // event id) is its own and is named none of these words
    val offenders = outside("ArrivalOrder.scala")(
      "(e.ts.getTime, e.event_id)", "event_id >", "event_id <",
      "setTimeoutTimestamp", "hasTimedOut")
    assert(offenders.isEmpty,
      s"replay rule outside ArrivalOrder:\n${offenders.mkString("\n")}")
  }

  /** One restart case: a monitor, the three landing files it is fed
    * (one micro-batch each, JSON lines landed as JSON, or as parquet
    * under the `parquet` schema) and a canonical dump of what it
    * landed. */
  private final class Monitor(val name: String, val files: Seq[String],
      val start: (String, String, Trigger) => StreamingQuery,
      val landed: String => Seq[String],
      val parquet: Option[StructType] = None)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType)))
  private val langs = Vector("en", "es", "de", "fr")
  private val words = Vector("spark", "query", "table", "row", "scan",
    "join", "hash", "sort", "window")

  /** Three batches of documents; batch 2 repeats one of batch 1's texts
    * and batch 3 one of batch 2's, so cross-batch state matters. */
  private val docFiles: Seq[String] = (0 until 3).map { b =>
    (0 until 40).map { i =>
      val id = b * 100 + i
      val text =
        if (i == 0 && b > 0) s"shared text ${b - 1} spark table"
        else if (i == 1) s"shared text $b spark table"
        else Seq.tabulate(12)(j => words((id * 7 + j * j) % words.size))
          .mkString(" ") + s" d$id"
      s"""{"doc_id":$id,"lang":"${langs(id % 4)}","text":"$text"}"""
    }.mkString("\n")
  }

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("label", IntegerType),
    StructField("embedding", ArrayType(FloatType))))
  private def vec(i: Int, dim: Int): Seq[Float] =
    Seq.tabulate(dim)(j => (math.sin(i * 13 + j * 5) * 3).toFloat)
  private def vecFiles(dim: Int): Seq[String] = (0 until 3).map { b =>
    (b * 20 until b * 20 + 20).map(i =>
      s"""{"vec_id":$i,"label":${i % 3},"embedding":[${vec(i, dim).mkString(",")}]}""")
      .mkString("\n")
  }
  private def vecDf(ids: Range, dim: Int) = spark.createDataFrame(
    spark.sparkContext.parallelize(
      ids.map(i => Row(i.toLong, i % 3, vec(i, dim))), 2), vecSchema)

  private val geoSchema = Some(Encoders.product[GeoEv].schema)

  /** Three batches of vessel fixes: in batch b each of 200 vessels
    * reports at b·`stepS` and 600 s later, so the typed state carries
    * each vessel's last fix (and open zone visit) across batches. */
  private def geoFiles(stepS: Long): Seq[String] = (0 until 3).map { b =>
    (1 to 200).flatMap { u =>
      Seq(0L, 600L).zipWithIndex.map { case (dt, k) =>
        val at = java.time.Instant.ofEpochSecond(1700000000L + b * stepS + dt)
        s"""{"event_id":${u * 10 + 2 * b + k},"user_id":$u,"ts":"$at"}"""
      }
    }.mkString("\n")
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def copyDir(from: String, to: String): Unit =
    Files.walk(Paths.get(from)).iterator().asScala.toSeq.foreach { p =>
      val dst = Paths.get(to).resolve(Paths.get(from).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  private val kvSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType)))

  // stored artifacts, built on first use
  private lazy val baseline = {
    val d = tmp("mb-dq-base")
    Dq.report(spark.range(100).select(col("id").as("k"),
      (col("id") * 2).cast("double").as("v")), "t", d)
    d
  }
  private lazy val weights = {
    val d = tmp("mb-w") + "/w"
    val docs = spark.read.schema(docSchema).json(
      spark.createDataset(docFiles.flatMap(_.split("\n")))(
        org.apache.spark.sql.Encoders.STRING))
    QualityClassifier.weightsDf(spark, QualityClassifier.train(
        QualityClassifier.features(docs, col("lang") === "en")))
      .coalesce(1).write.parquet(d)
    d
  }
  private lazy val components = {
    val d = tmp("mb-pca") + "/c"
    val (mu, w) = Pca.gramComponent(vecDf(0 until 64, 8).select(
      col("vec_id"), col("label"),
      graft.llm.Similarity.asDouble(col("embedding")).as("a")))
    Pca.componentDf(spark, mu, w).coalesce(1).write.parquet(d)
    d
  }
  private lazy val codebook = {
    val d = tmp("mb-pq")
    StreamingIndex.initPqStore(
      vecDf(0 until 120, 64).select(col("vec_id"), col("embedding")),
      d, iters = 2)
    s"$d/codebook"
  }

  private val monitors: Seq[Monitor] = Seq(
    new Monitor("StreamingSketch.startCms", docFiles,
      (l, o, t) => StreamingSketch.startCms(spark, l, docSchema, o, trigger = t),
      o => rows(spark.read.parquet(s"$o/sketch"))),
    new Monitor("StreamingSketch.startHll", docFiles,
      (l, o, t) => StreamingSketch.startHll(spark, l, docSchema, o, "lang",
        "doc_id", trigger = t),
      o => rows(StreamingSketch.distinctEstimate(spark, o, "lang"))),
    new Monitor("StreamingDq.start",
      (0 until 3).map(b => (0L until 100L).map(i =>
        if (b == 2 && i % 2 == 0) s"""{"k":$i,"v":null}"""
        else s"""{"k":$i,"v":${i * (b + 1) * 2}.0}""").mkString("\n")),
      (l, o, t) => StreamingDq.start(spark, l, kvSchema, baseline, o,
        trigger = t),
      o => rows(spark.read.parquet(s"$o/alerts"))),
    new Monitor("StreamingScore.startClassifierScore", docFiles,
      (l, o, t) => StreamingScore.startClassifierScore(spark, l, docSchema,
        weights, o, trigger = t),
      o => rows(spark.read.parquet(s"$o/scores"))),
    new Monitor("StreamingScore.startPcaProject", vecFiles(8),
      (l, o, t) => StreamingScore.startPcaProject(spark, l, vecSchema,
        components, o, trigger = t),
      o => rows(spark.read.parquet(s"$o/proj"))),
    new Monitor("StreamingIndex.startPqAppend", vecFiles(64),
      (l, o, t) => {
        if (!Files.exists(Paths.get(s"$o/codebook")))
          copyDir(codebook, s"$o/codebook")
        StreamingIndex.startPqAppend(spark, l, vecSchema, o, trigger = t)
      },
      o => rows(spark.read.parquet(s"$o/codes"))),
    new Monitor("StreamingCuration.start", docFiles,
      (l, o, t) => StreamingCuration.start(spark, l, docSchema, s"$o/state",
        o, Map("en" -> 100, "es" -> 50, "de" -> 25), 10, trigger = t),
      o => rows(spark.read.parquet(s"$o/contaminated")) ++
        rows(spark.read.parquet(s"$o/mixture")) ++
        rows(StreamingCuration.contaminationCounts(spark, s"$o/state", o))),
    new Monitor("StreamingCuration.startNgramDecon", docFiles,
      (l, o, t) => StreamingCuration.startNgramDecon(spark, l, docSchema,
        s"$o/state", o, trigger = t),
      o => rows(spark.read.parquet(s"$o/gram_hits")) ++
        rows(spark.read.parquet(s"$o/state/train_grams")) ++
        rows(StreamingCuration.ngramContaminationTotals(spark, s"$o/state", o))),
    new Monitor("StreamingDedup.start", docFiles,
      (l, o, t) => StreamingDedup.start(spark, l, docSchema, s"$o/idx", o,
        trigger = t),
      o => rows(spark.read.parquet(s"$o/candidates")) ++
        rows(spark.read.parquet(s"$o/idx"))),
    new Monitor("StreamingDedup.start (buckets = 32)", docFiles,
      (l, o, t) => StreamingDedup.start(spark, l, docSchema, s"$o/idx", o,
        trigger = t, buckets = 32),
      o => rows(spark.read.parquet(s"$o/candidates")) ++
        rows(spark.read.parquet(s"$o/idx"))),
    new Monitor("StreamingDedup.startExact", docFiles,
      (l, o, t) => StreamingDedup.startExact(spark, l, docSchema, s"$o/seen",
        o, trigger = t),
      o => rows(spark.read.parquet(s"$o/unique")) ++
        rows(spark.read.parquet(s"$o/seen"))),
    new Monitor("StreamingGeo.startZoneVisits", geoFiles(1200L),
      (l, o, t) => StreamingGeo.startZoneVisits(spark, l, o, t),
      o => rows(spark.read.parquet(s"$o/visits")), geoSchema),
    new Monitor("StreamingGeo.startResample", geoFiles(1200L),
      (l, o, t) => StreamingGeo.startResample(spark, l, o, trigger = t),
      o => rows(spark.read.parquet(s"$o/grid")), geoSchema),
    new Monitor("StreamingGeo.startDarkGaps", geoFiles(30000L),
      (l, o, t) => StreamingGeo.startDarkGaps(spark, l, o, trigger = t),
      o => rows(spark.read.parquet(s"$o/gaps")), geoSchema))

  /** What `m` lands when each file is drained by a fresh run; with
    * `replay`, the last batch then reruns as after a lost commit. */
  private def restarted(m: Monitor, replay: Boolean = false): Seq[String] =
    m.landed(drain(m.files, replay, m.parquet)((landing, out) =>
      m.start(landing, out, Trigger.AvailableNow()).awaitTermination()))

  private def uninterrupted(m: Monitor): Seq[String] = {
    val (landing, out) = (tmp("mb-land"), tmp("mb-out"))
    val q = m.start(landing, out, Trigger.ProcessingTime("100 milliseconds"))
    try m.files.zipWithIndex.foreach { case (f, i) =>
      landFile(landing, s"f$i", f, m.parquet)
      q.processAllAvailable()
    } finally q.stop()
    m.landed(out)
  }

  monitors.foreach { m =>
    test(s"restart: ${m.name} stopped after each batch and restarted " +
        "from its checkpoint lands what an uninterrupted run lands") {
      val expected = uninterrupted(m)
      assert(expected.nonEmpty, s"${m.name} landed nothing")
      val got = restarted(m)
      assert(got == expected,
        s"${m.name} after restarts diverged:\n${got.diff(expected).take(5)}\n" +
          s"vs uninterrupted:\n${expected.diff(got).take(5)}")
    }
    test(s"replay: ${m.name} re-run after its last commit was lost lands " +
        "what an uninterrupted run lands, with no persisted-RDD delta") {
      val expected = uninterrupted(m)
      val got = restarted(m, replay = true)
      assert(got == expected,
        s"${m.name} after a lost-commit replay diverged:\n${
          got.diff(expected).take(5)}\nvs uninterrupted:\n${
          expected.diff(got).take(5)}")
    }
  }
}
