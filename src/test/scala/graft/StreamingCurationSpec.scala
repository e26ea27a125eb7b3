package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Writers
import graft.llm.Curation
import graft.streaming.StreamingCuration

/** Streaming curation parity: the accumulated streaming answer over 3
  * micro-batches must equal the batch q66/q67 answers on the union of
  * the batches — including a training document that arrives AFTER the
  * test document it contaminates.
  */
class StreamingCurationSpec extends AnyFunSuite with TestSpark {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType)))

  private val rates = Map("en" -> 100, "es" -> 50, "de" -> 25)
  private val defaultRate = 10

  /** Mirror of the engine's md5-bucket split rule (CurationSpec). */
  private def split(docId: Long): String = {
    val d = MessageDigest.getInstance("MD5")
      .digest(docId.toString.getBytes("UTF-8"))
    val b = java.lang.Long.parseLong(
      d.take(4).map("%02x".format(_)).mkString, 16) % 100
    if (b < 90) "train" else if (b < 95) "val" else "test"
  }

  test("3 micro-batches accumulate to the batch decontamination + mixture answers") {
    val landing = Files.createTempDirectory("scur-land").toString
    val state = Files.createTempDirectory("scur-state").toString
    val out = Files.createTempDirectory("scur-out").toString

    val ids = 0L until 200L
    val trainIds = ids.filter(split(_) == "train")
    val testIds = ids.filter(split(_) == "test")
    assert(testIds.size >= 2 && trainIds.size >= 60,
      s"split sample too small: ${testIds.size} test, ${trainIds.size} train")
    val langs = Vector("en", "es", "de", "fr")
    def lang(i: Long): String = langs((i % 4).toInt)
    val leak = "this exact document leaked into the eval set"
    def unique(i: Long): String = s"unique document $i about spark tables"

    // batch 1: a test doc carrying the leak BEFORE any train copy exists,
    // plus ordinary docs
    val b1 = Seq((testIds(0), lang(testIds(0)), leak.toUpperCase)) ++
      trainIds.take(20).map(i => (i, lang(i), unique(i)))
    // batch 2: the TRAIN copy of the leak arrives late (retro-probe must
    // flag batch 1's test doc), plus ordinary docs
    val b2 = Seq((trainIds(20), lang(trainIds(20)), leak)) ++
      trainIds.slice(21, 41).map(i => (i, lang(i), unique(i)))
    // batch 3: another test doc with the leak (flagged on arrival; the
    // whitespace variant exercises fingerprint normalization), the rest
    val b3 = Seq((testIds(1), lang(testIds(1)),
        leak.replace("document ", "document   "))) ++
      trainIds.slice(41, 61).map(i => (i, lang(i), unique(i)))

    def writeBatch(name: String, docs: Seq[(Long, String, String)]): Unit =
      Files.write(Paths.get(landing, name),
        docs.map { case (i, l, t) =>
          s"""{"doc_id":$i,"lang":"$l","text":"$t"}"""
        }.mkString("\n").getBytes)

    Seq(("b1.json", b1), ("b2.json", b2), ("b3.json", b3)).foreach {
      case (name, docs) =>
        writeBatch(name, docs)
        StreamingCuration.start(spark, landing, schema, state, out,
          rates, defaultRate).awaitTermination()
    }

    val all = b1 ++ b2 ++ b3
    val allDf = spark.createDataFrame(
      spark.sparkContext.parallelize(all.map(Row.fromTuple), 2), schema)

    // decontamination: accumulated == batch, and the planted leaks are
    // genuinely what it counts (both test docs, incl. the late-train one)
    val batchDecon = Curation.decontaminationCounts(allDf).head()
    val streamDecon =
      StreamingCuration.contaminationCounts(spark, state, out).head()
    assert(streamDecon.getLong(0) == batchDecon.getLong(0),
      s"n_test: stream ${streamDecon.getLong(0)} vs batch ${batchDecon.getLong(0)}")
    assert(streamDecon.getLong(1) == batchDecon.getLong(1),
      s"n_contaminated: stream ${streamDecon.getLong(1)} vs batch ${batchDecon.getLong(1)}")
    assert(batchDecon.getLong(1) == 2L,
      s"expected the 2 planted leaks, got ${batchDecon.getLong(1)}")

    // mixture: accumulated per-language totals == batch answer
    val batchMix = Curation.mixtureCounts(allDf, rates, defaultRate)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val streamMix = StreamingCuration.mixtureTotals(spark, out)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(streamMix.toSeq == batchMix.toSeq,
      s"mixture: stream ${streamMix.mkString(",")} vs batch ${batchMix.mkString(",")}")

    // the train_fp state is a bucketed catalog table: a batch-shaped
    // probe against it shuffles ONLY the probe side (one exchange, and
    // the state scan reads its bucket layout) — the per-batch cost that
    // must not grow with history at 100 TB
    val trainFpTbl = StreamingCuration.stateTable(state, "train_fp")
    assert(spark.catalog.tableExists(trainFpTbl))
    spark.catalog.refreshTable(trainFpTbl)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = spark.createDataFrame(
          spark.sparkContext.parallelize(
            Seq(Row(999L, "en", "probe doc")), 1), schema)
        .select(col("doc_id"),
          graft.llm.TextOps.fingerprint(col("text")).as("fp"))
        .join(spark.table(trainFpTbl), Seq("fp"), "left_semi")
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).size
      assert(exchanges == 1,
        s"expected only the probe side to shuffle, got $exchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"state scan not bucket-aware:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }

    // compaction folds the per-batch small files, preserves the bucket
    // layout and the accumulated answer
    val files = StreamingCuration.compactState(spark, state,
      settleMillis = 200L)
    assert(files.keySet == Set("train_fp", "test_docs"))
    val afterCompact =
      StreamingCuration.contaminationCounts(spark, state, out).head()
    assert(afterCompact == streamDecon,
      s"compaction changed the answer: $afterCompact vs $streamDecon")
  }

  test("3 micro-batches accumulate to the batch q77 n-gram decon answer") {
    val landing = Files.createTempDirectory("sgram-land").toString
    val state = Files.createTempDirectory("sgram-state").toString
    val out = Files.createTempDirectory("sgram-out").toString

    val ids = 0L until 400L
    val trainIds = ids.filter(split(_) == "train")
    val testIds = ids.filter(split(_) == "test")
    val passage = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    def unique(i: Long): String =
      s"wholly unique document number $i about partitioned spark tables and shuffles"

    // batch 1: a test doc embedding the passage BEFORE any train copy
    val b1 = Seq((testIds(0), "en", "intro words go here then " + passage)) ++
      trainIds.take(15).map(i => (i, "en", unique(i)))
    // batch 2: the train copy arrives late — retro-probe must flag b1's doc
    val b2 = Seq((trainIds(15), "en", passage + " closing filler words")) ++
      trainIds.slice(16, 31).map(i => (i, "en", unique(i)))
    // batch 3: a second test doc with the passage (flagged on arrival) and
    // a vocabulary-only test doc that must NOT be flagged
    val b3 = Seq(
      (testIds(1), "en", passage + " with a different ending"),
      (testIds(2), "en", "alpha beta gamma delta epsilon zeta eta off theta on")) ++
      trainIds.slice(31, 46).map(i => (i, "en", unique(i)))

    def writeBatch(name: String, docs: Seq[(Long, String, String)]): Unit =
      Files.write(Paths.get(landing, name),
        docs.map { case (i, l, t) =>
          s"""{"doc_id":$i,"lang":"$l","text":"$t"}"""
        }.mkString("\n").getBytes)

    Seq(("b1.json", b1), ("b2.json", b2), ("b3.json", b3)).foreach {
      case (name, docs) =>
        writeBatch(name, docs)
        StreamingCuration.startNgramDecon(spark, landing, schema, state, out)
          .awaitTermination()
    }

    val all = b1 ++ b2 ++ b3
    val allDf = spark.createDataFrame(
      spark.sparkContext.parallelize(all.map(Row.fromTuple), 2), schema)
    val batchAns = Curation.ngramOverlapDecontamination(allDf).head()
    val streamAns =
      StreamingCuration.ngramContaminationTotals(spark, state, out).head()
    Seq("n_test", "n_contaminated", "n_overlap_grams").zipWithIndex.foreach {
      case (nm, i) =>
        assert(streamAns.getLong(i) == batchAns.getLong(i),
          s"$nm: stream ${streamAns.getLong(i)} vs batch ${batchAns.getLong(i)}")
    }
    // both planted passage carriers flagged, the vocabulary-only doc not
    assert(batchAns.getLong(1) == 2L,
      s"expected the 2 planted passage leaks, got ${batchAns.getLong(1)}")

    // gram state is bucketed by k; compaction preserves the answer
    assert(spark.catalog.tableExists(
      StreamingCuration.stateTable(state, "train_grams")))
    val files = StreamingCuration.compactState(spark, state,
      settleMillis = 200L)
    assert(files.keySet == Set("train_grams", "test_grams"))
    val afterCompact =
      StreamingCuration.ngramContaminationTotals(spark, state, out).head()
    assert(afterCompact == streamAns,
      s"compaction changed the answer: $afterCompact vs $streamAns")
  }

  test("3 micro-batches accumulate to the batch q105 semantic decon answer") {
    val landing = Files.createTempDirectory("ssem-land").toString
    val state = Files.createTempDirectory("ssem-state").toString
    val out = Files.createTempDirectory("ssem-out").toString
    val cbDir = Files.createTempDirectory("ssem-cb").toString

    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))

    // fixed 2-cell codebook (the trained-artifact shape: streaming and
    // batch both assign against the same broadcast centers)
    val cbSchema = StructType(Seq(StructField("cell", LongType),
      StructField("cv", ArrayType(DoubleType))))
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(0L, Seq(1.0, 0.0, 0.0, 0.0)),
          Row(1L, Seq(0.0, 0.0, 1.0, 0.0))), 1), cbSchema)
      .write.mode("overwrite").parquet(cbDir)

    val ids = 0L until 300L
    val trainIds = ids.filter(split(_) == "train")
    val testIds = ids.filter(split(_) == "test")
    assert(testIds.size >= 2 && trainIds.size >= 6)
    // cell-0 vectors: near = contaminating, ortho = not (cos 0 to near)
    def near(eps: Double) = Seq(0.9, eps, 0.0, 0.0)
    val ortho = Seq(0.1, -0.9, 0.0, 0.0)
    // cell-1 filler, orthogonal to everything in cell 0's near family
    val other = Seq(0.0, 0.0, 0.95, 0.05)

    // batch 1: test vec T1 (near family) BEFORE any train twin; a non-hit
    // cell-0 train vec and a cell-1 train vec
    val b1 = Seq((testIds(0), near(0.10)),
      (trainIds(0), ortho), (trainIds(1), other))
    // batch 2: the train twin arrives LATE -> retro-probe must flag T1
    val b2 = Seq((trainIds(2), near(0.15)), (trainIds(3), other))
    // batch 3: a second test vec flagged on arrival vs stored train
    val b3 = Seq((testIds(1), near(0.20)), (trainIds(4), ortho))

    def writeBatch(name: String, vecs: Seq[(Long, Seq[Double])]): Unit =
      Files.write(Paths.get(landing, name),
        vecs.map { case (i, v) =>
          s"""{"vec_id":$i,"embedding":[${v.mkString(",")}]}"""
        }.mkString("\n").getBytes)

    Seq(("b1.json", b1), ("b2.json", b2), ("b3.json", b3)).foreach {
      case (name, vecs) =>
        writeBatch(name, vecs)
        StreamingCuration.startSemanticDecon(spark, landing, vecSchema,
          cbDir, state, out).awaitTermination()
    }

    val all = b1 ++ b2 ++ b3
    val allDf = spark.createDataFrame(
        spark.sparkContext.parallelize(all.map(Row.fromTuple), 2), vecSchema)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cb = spark.read.parquet(cbDir)
      .select(col("cell"), col("cv"))
    val batchAns = graft.llm.Similarity.semanticDeconWith(cb, allDf, 0.35)
      .orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val streamAns = StreamingCuration.semanticContamination(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(streamAns.toSeq == batchAns.toSeq,
      s"stream ${streamAns.mkString(",")} vs batch ${batchAns.mkString(",")}")
    // both planted test vecs contaminated — incl. T1, whose train twin
    // arrived a batch later (arrival order cannot hide semantic leakage)
    assert(batchAns.map(_._1).toSet == Set(testIds(0), testIds(1)),
      s"expected ${Set(testIds(0), testIds(1))}, got ${batchAns.map(_._1).toSet}")

    // vec state compacts like the other state tables, answer preserved
    val files = StreamingCuration.compactState(spark, state,
      settleMillis = 200L)
    assert(files.keySet == Set("train_vecs", "test_vecs"))
    val afterCompact = StreamingCuration.semanticContamination(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(afterCompact.toSeq == streamAns.toSeq,
      s"compaction changed the answer: ${afterCompact.mkString(",")}")
  }

  test("a held compaction lock trips appends instead of losing them") {
    val landing = Files.createTempDirectory("slock-land").toString
    val state = Files.createTempDirectory("slock-state").toString
    val out = Files.createTempDirectory("slock-out").toString
    Files.write(Paths.get(landing, "b1.json"),
      (0L until 50L).map(i =>
        s"""{"doc_id":$i,"lang":"en","text":"lock doc $i"}""")
        .mkString("\n").getBytes)
    // a compaction lock left on the state dir (compaction in progress)
    Files.write(Paths.get(state, StreamingCuration.CompactLock),
      Array.emptyByteArray)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingCuration.start(spark, landing, schema, state, out,
        rates, defaultRate).awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("compactState is running")),
      s"append under a compaction lock did not fail loudly: ${messages(ex)}")
  }

  test("a batch under a held compaction lock fails before it opens a " +
      "state table: the compaction's stage survives") {
    val landing = Files.createTempDirectory("sstage-land").toString
    val state = Files.createTempDirectory("sstage-state").toString
    val out = Files.createTempDirectory("sstage-out").toString
    def writeBatch(name: String, ids: Seq[Long]): Unit =
      Files.write(Paths.get(landing, name), ids.map(i =>
        s"""{"doc_id":$i,"lang":"en","text":"stage doc $i"}""")
        .mkString("\n").getBytes)
    writeBatch("b1.json", 0L until 50L)
    StreamingCuration.start(spark, landing, schema, state, out,
      rates, defaultRate).awaitTermination()
    // a compaction mid-run in another session: lock held, its complete
    // stage of train_fp written, and this session's catalog entry gone
    val stage = Writers.swapTmp(s"$state/train_fp")
    spark.range(3).selectExpr("CAST(id AS STRING) AS fp")
      .write.parquet(stage)
    Files.write(Paths.get(state, StreamingCuration.CompactLock),
      Array.emptyByteArray)
    spark.sql(s"DROP TABLE ${StreamingCuration.stateTable(state, "train_fp")}")
    writeBatch("b2.json", 100L until 150L)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingCuration.start(spark, landing, schema, state, out,
        rates, defaultRate).awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("compactState is running")),
      s"a batch under a compaction lock did not fail loudly: ${messages(ex)}")
    assert(Files.exists(Paths.get(stage, "_SUCCESS")),
      "opening the state table under the lock cleared the compaction's stage")
  }

  test("a stream that opens a state table a crashed compaction left " +
      "aside reads the restored history, not an empty one") {
    val landing = Files.createTempDirectory("sopen-land").toString
    val state = Files.createTempDirectory("sopen-state").toString
    val out = Files.createTempDirectory("sopen-out").toString
    val trainId = (0L until 1000L).find(split(_) == "train").get
    val testId = (0L until 1000L).find(split(_) == "test").get
    def writeBatch(name: String, id: Long): Unit =
      Files.write(Paths.get(landing, name),
        s"""{"doc_id":$id,"lang":"en","text":"a leaked eval passage"}"""
          .getBytes)
    def run(): Unit = StreamingCuration.start(spark, landing, schema, state,
      out, rates, defaultRate).awaitTermination()
    writeBatch("b1.json", trainId)
    run()
    // the crash window between train_fp's swap renames, in a session
    // whose catalog has no entry for it
    spark.sql(s"DROP TABLE ${StreamingCuration.stateTable(state, "train_fp")}")
    Files.move(Paths.get(state, "train_fp"),
      Paths.get(Writers.swapOld(s"$state/train_fp")))
    // the test copy of the train doc arrives: it must probe the history
    writeBatch("b2.json", testId)
    run()
    assert(Files.exists(Paths.get(state, "train_fp")))
    val counts = StreamingCuration.contaminationCounts(spark, state, out).head()
    assert(counts.getLong(1) == 1L,
      s"the restored train history was not probed: $counts")
  }

  test("a state dir in the flat layout of older releases fails on open " +
      "instead of reading as empty history") {
    val landing = Files.createTempDirectory("sflat-land").toString
    val state = Files.createTempDirectory("sflat-state").toString
    val out = Files.createTempDirectory("sflat-out").toString
    Files.write(Paths.get(landing, "b1.json"),
      (0L until 50L).map(i =>
        s"""{"doc_id":$i,"lang":"en","text":"flat doc $i"}""")
        .mkString("\n").getBytes)
    // the older layout: data files directly under the table dir
    spark.range(3).selectExpr("CAST(id AS STRING) AS fp")
      .write.parquet(s"$state/train_fp")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingCuration.start(spark, landing, schema, state, out,
        rates, defaultRate).awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("flat layout")),
      s"an old-layout state dir did not fail loudly: ${messages(ex)}")
  }

  test("a batch whose sink write fails still releases its localCheckpoint snapshot") {
    val landing = Files.createTempDirectory("sleak-land").toString
    val state = Files.createTempDirectory("sleak-state").toString
    val out = Files.createTempDirectory("sleak-out").toString
    Files.write(Paths.get(landing, "b1.json"),
      (0L until 50L).map(i =>
        s"""{"doc_id":$i,"lang":"en","text":"leak doc $i"}""")
        .mkString("\n").getBytes)
    // a regular file where the contaminated output dir goes: the batch
    // pins its snapshot, appends state, then fails writing its output
    Files.write(Paths.get(out, "contaminated"), "not a dir".getBytes)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingCuration.start(spark, landing, schema, state, out,
        rates, defaultRate).awaitTermination()
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"failed batch leaked persisted RDDs: ${leaked.toSeq.sorted}")
  }

  test("compaction lease: fresh heartbeats make compactState wait, then fail loudly") {
    val landing = Files.createTempDirectory("slease-land").toString
    val state = Files.createTempDirectory("slease-state").toString
    val out = Files.createTempDirectory("slease-out").toString
    Files.write(Paths.get(landing, "b1.json"),
      (0L until 50L).map(i =>
        s"""{"doc_id":$i,"lang":"en","text":"lease doc $i"}""")
        .mkString("\n").getBytes)
    StreamingCuration.start(spark, landing, schema, state, out,
      rates, defaultRate).awaitTermination()
    // a just-touched heartbeat = an append may be in flight: with a long
    // settle and a short timeout the compaction must give up LOUDLY
    // instead of swapping under the append
    Files.write(Paths.get(state, StreamingCuration.AppendHeartbeat),
      Array.emptyByteArray)
    val ex = intercept[IllegalStateException] {
      StreamingCuration.compactState(spark, state,
        settleMillis = 60000L, settleTimeoutMillis = 400L)
    }
    assert(ex.getMessage.contains("still heartbeating"),
      s"unexpected message: ${ex.getMessage}")
    // the failed attempt released its lock; once the heartbeat has aged
    // past the settle interval the compaction proceeds and the answer
    // is unchanged
    Thread.sleep(300L)
    val before = StreamingCuration.contaminationCounts(spark, state, out).head()
    val files = StreamingCuration.compactState(spark, state,
      settleMillis = 200L)
    assert(files.keySet == Set("train_fp", "test_docs"))
    val after = StreamingCuration.contaminationCounts(spark, state, out).head()
    assert(after == before, s"compaction changed the answer: $after vs $before")
  }

  test("compactState puts back a state table a crashed compaction left " +
      "aside, even with no catalog entry") {
    val landing = Files.createTempDirectory("srec-land").toString
    val state = Files.createTempDirectory("srec-state").toString
    val out = Files.createTempDirectory("srec-out").toString
    Files.write(Paths.get(landing, "b1.json"),
      (0L until 50L).map(i =>
        s"""{"doc_id":$i,"lang":"en","text":"recover doc $i"}""")
        .mkString("\n").getBytes)
    StreamingCuration.start(spark, landing, schema, state, out,
      rates, defaultRate).awaitTermination()
    StreamingCuration.compactState(spark, state, settleMillis = 0L)
    val tbl = StreamingCuration.stateTable(state, "train_fp")
    def trainFp() = spark.read.parquet(s"$state/train_fp").collect()
      .map(_.toString).toSet
    val rows = trainFp()
    val before = StreamingCuration.contaminationCounts(spark, state, out).head()
    // the crash window between train_fp's swap renames: catalog entry
    // dropped, the table only under the set-aside name
    spark.sql(s"DROP TABLE $tbl")
    Files.move(Paths.get(state, "train_fp"),
      Paths.get(Writers.swapOld(s"$state/train_fp")))
    val files = StreamingCuration.compactState(spark, state, settleMillis = 0L)
    assert(files.keySet == Set("train_fp", "test_docs"))
    assert(spark.catalog.tableExists(tbl))
    assert(trainFp() == rows)
    val after = StreamingCuration.contaminationCounts(spark, state, out).head()
    assert(after == before, s"recovery changed the answer: $after vs $before")
  }

  test("a stale compaction lock is reported with cleanup guidance; force breaks it") {
    val landing = Files.createTempDirectory("sstale-land").toString
    val state = Files.createTempDirectory("sstale-state").toString
    val out = Files.createTempDirectory("sstale-out").toString
    Files.write(Paths.get(landing, "b1.json"),
      (0L until 50L).map(i =>
        s"""{"doc_id":$i,"lang":"en","text":"stale doc $i"}""")
        .mkString("\n").getBytes)
    StreamingCuration.start(spark, landing, schema, state, out,
      rates, defaultRate).awaitTermination()
    // a lock left behind by a compaction driver that died mid-run
    Files.write(Paths.get(state, StreamingCuration.CompactLock),
      "dead-jvm@nowhere 2026-01-01T00:00:00Z".getBytes)
    val ex = intercept[IllegalStateException] {
      StreamingCuration.compactState(spark, state, settleMillis = 100L)
    }
    assert(ex.getMessage.contains("force"),
      s"stale-lock error must point at the recovery path: ${ex.getMessage}")
    // force breaks the stale lock, compacts, and cleans up after itself
    val files = StreamingCuration.compactState(spark, state,
      force = true, settleMillis = 200L)
    assert(files.keySet == Set("train_fp", "test_docs"))
    assert(!Files.exists(Paths.get(state, StreamingCuration.CompactLock)),
      "lock not released after forced compaction")
  }

  test("concurrent first-open: only one session claims the bucket marker") {
    val state = Files.createTempDirectory("smarker-state").toString
    // simulate the loser of a createNewFile race arriving while the
    // winner's marker is already in place with a DIFFERENT count: the
    // explicit conf must be validated against the pinned value, not
    // silently overwrite it (the fs.create(overwrite=true) bug)
    Files.write(Paths.get(state, "_graft_buckets"), "16".getBytes)
    spark.conf.set(StreamingCuration.StateBucketsConf, "32")
    try {
      val ex = intercept[IllegalArgumentException] {
        StreamingCuration.compactState(spark, state, settleMillis = 100L)
      }
      assert(ex.getMessage.contains("16 buckets"),
        s"unexpected message: ${ex.getMessage}")
      assert(new String(Files.readAllBytes(
        Paths.get(state, "_graft_buckets"))) == "16",
        "marker content must never be overwritten by a later session")
    } finally spark.conf.unset(StreamingCuration.StateBucketsConf)
  }

  test("state bucket count is a conf, pinned per dir; mismatched reopen fails loudly") {
    val landing = Files.createTempDirectory("sbkt-land").toString
    val state = Files.createTempDirectory("sbkt-state").toString
    val out = Files.createTempDirectory("sbkt-out").toString
    Files.write(Paths.get(landing, "b1.json"),
      (0L until 120L).map(i =>
        s"""{"doc_id":$i,"lang":"en","text":"bucket conf doc $i"}""")
        .mkString("\n").getBytes)

    spark.conf.set(StreamingCuration.StateBucketsConf, "8")
    try {
      StreamingCuration.start(spark, landing, schema, state, out,
        rates, defaultRate).awaitTermination()
      val tbl = StreamingCuration.stateTable(state, "train_fp")
      val ddl = spark.sql(s"SHOW CREATE TABLE $tbl")
        .head().getString(0)
      assert(ddl.contains("8 BUCKETS"),
        s"state table not bucketed under the configured count:\n$ddl")
      // accumulated answers still fold correctly under the non-default
      // bucket count
      val counts =
        StreamingCuration.contaminationCounts(spark, state, out).head()
      assert(counts.getLong(0) >= 1L)

      // reopening the SAME state dir under a different configured count
      // must fail loudly before any append can mix layouts
      spark.conf.set(StreamingCuration.StateBucketsConf, "16")
      val ex = intercept[IllegalArgumentException] {
        StreamingCuration.start(spark, landing, schema, state, out,
          rates, defaultRate)
      }
      assert(ex.getMessage.contains("bucket"),
        s"unexpected message: ${ex.getMessage}")

      // maintenance path (the compact-state CLI): a fresh catalog and no
      // explicit conf — compactState re-registers the tables from the
      // files + the pinned marker and folds them under the dir's count
      spark.conf.unset(StreamingCuration.StateBucketsConf)
      Seq("train_fp", "test_docs").foreach(n => spark.sql(
        s"DROP TABLE IF EXISTS ${StreamingCuration.stateTable(state, n)}"))
      val files = StreamingCuration.compactState(spark, state,
      settleMillis = 200L)
      assert(files.keySet == Set("train_fp", "test_docs"))
      val ddl2 = spark.sql(s"SHOW CREATE TABLE $tbl").head().getString(0)
      assert(ddl2.contains("8 BUCKETS"),
        s"re-registered under the wrong bucket count:\n$ddl2")
      val counts2 =
        StreamingCuration.contaminationCounts(spark, state, out).head()
      assert(counts2 == counts, s"compaction changed the answer: $counts2 vs $counts")
    } finally spark.conf.unset(StreamingCuration.StateBucketsConf)
  }
}
