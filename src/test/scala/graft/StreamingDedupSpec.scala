package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Dedup
import graft.streaming.{MicroBatch, StreamingDedup}

/** Streaming near-dup dedup: each micro-batch probes the persisted band
  * index for candidates against all PRIOR batches, then appends its own
  * bands — the corpus is never re-signed.
  */
class StreamingDedupSpec extends AnyFunSuite with TestSpark
    with AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  test("micro-batches probe and extend the persisted band index") {
    val landing = Files.createTempDirectory("sdedup-land").toString
    val index = Files.createTempDirectory("sdedup-idx").toString + "/bands"
    val out = Files.createTempDirectory("sdedup-out").toString

    val rng = new scala.util.Random(31)
    val vocab = Vector("spark", "query", "table", "row", "scan", "join",
      "hash", "sort", "data", "batch", "window", "merge", "filter", "agg")
    def text(): String = Seq.fill(60)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    def writeBatch(name: String, docs: Seq[(Long, String)]): Unit =
      Files.write(Paths.get(landing, name),
        docs.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }
          .mkString("\n").getBytes)

    // batch 1: 20 distinct docs
    val base = (0L until 20L).map(i => (i, text()))
    writeBatch("b1.json", base)
    assertNoPersistedRddDelta {
      StreamingDedup.start(spark, landing, schema, index, out).awaitTermination()
    }

    val bandsAfter1 = spark.read.parquet(index).count()
    assert(bandsAfter1 == 20L * Dedup.Bands, s"index rows: $bandsAfter1")
    assert(!new java.io.File(s"$out/candidates").exists(),
      "first batch has no prior corpus — no candidates output expected")

    // batch 2: one near-dup of doc 3 (one token mutated) + 5 fresh docs
    val nearDup = (103L,
      base(3)._2.split(' ').updated(55, "mutated").mkString(" "))
    writeBatch("b2.json",
      nearDup +: (200L until 205L).map(i => (i, text())))
    assertNoPersistedRddDelta {
      StreamingDedup.start(spark, landing, schema, index, out).awaitTermination()
    }

    // cross-batch candidate found without re-signing batch 1
    val cands = spark.read.parquet(s"$out/candidates")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((103L, 3L)), s"missed planted pair in $cands")
    // the index grew by exactly batch 2's bands
    val bandsAfter2 = spark.read.parquet(index).count()
    assert(bandsAfter2 == 26L * Dedup.Bands, s"index rows: $bandsAfter2")
  }

  test("start and startMedia: a batch replayed after its commit was " +
      "lost replaces its candidates and index partition, never adds a copy") {
    val rng = new scala.util.Random(7)
    val vocab = Vector("spark", "query", "table", "row", "scan", "join",
      "hash", "sort", "data", "batch", "window", "merge", "filter", "agg")
    val base = (0L until 20L).map(i =>
      i -> Seq.fill(60)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    val textFiles = Seq(base,
      (103L, base(3)._2.split(' ').updated(55, "mutated").mkString(" ")) +:
        base.take(4).map { case (i, t) => (i + 200L, t) })
      .map(_.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }
        .mkString("\n"))
    val mediaSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("media_b64", StringType)))
    def payload(seed: Int): Array[Byte] =
      Array.tabulate[Byte](200)(i => ((i * seed + seed) % 251).toByte)
    val twin = payload(7).clone()
    for (i <- twin.indices by 13) twin(i) = ((twin(i) + 1) & 0xFF).toByte
    val mediaFiles = Seq(
      Seq(1L -> payload(7), 2L -> payload(29), 3L -> payload(97)),
      Seq(100L -> twin, 5L -> payload(131), 6L -> payload(29)))
      .map(_.map { case (i, b) =>
        s"""{"doc_id":$i,"media_b64":"${
          java.util.Base64.getEncoder.encodeToString(b)}"}""" }
        .mkString("\n"))

    def rows(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).toSeq.sorted
    /** (candidates, index) after draining `files`, index under `out/idx`. */
    def landed(files: Seq[String], replay: Boolean)(
        start: (String, String, String) => Unit): (Seq[String], Seq[String]) = {
      val out = drain(files, replay)((l, o) => start(l, s"$o/idx", o))
      (rows(s"$out/candidates"), rows(s"$out/idx"))
    }
    Seq[(String, Seq[String], (String, String, String) => Unit)](
      ("start", textFiles, (l, i, o) =>
        StreamingDedup.start(spark, l, schema, i, o).awaitTermination()),
      ("startMedia", mediaFiles, (l, i, o) =>
        StreamingDedup.startMedia(spark, l, mediaSchema, i, o)
          .awaitTermination())
    ).foreach { case (name, files, start) =>
      val (cands, index) = landed(files, replay = false)(start)
      assert(cands.nonEmpty, s"$name: the fixture must produce candidates")
      val (cands2, index2) = landed(files, replay = true)(start)
      assert(cands2 == cands,
        s"$name: replayed candidates ${cands2.size} vs ${cands.size}")
      assert(index2 == index,
        s"$name: replayed index ${index2.size} vs ${index.size} rows")
    }
  }

  test("the bucketed index pins its bucket count per dir: a reopen under " +
      "another count raises instead of mis-routing the bucketed probe") {
    val landing = Files.createTempDirectory("spin-land").toString
    val index = Files.createTempDirectory("spin-idx").toString + "/bands"
    val out = Files.createTempDirectory("spin-out").toString
    def writeBatch(name: String, ids: Seq[Long]): Unit =
      Files.write(Paths.get(landing, name), ids.map(i =>
        s"""{"doc_id":$i,"text":"pinned bucket doc ${i % 20} spark table"}""")
        .mkString("\n").getBytes)
    writeBatch("b0.json", 0L until 20L)
    StreamingDedup.start(spark, landing, schema, index, out, buckets = 16)
      .awaitTermination()
    // a fresh session: the catalog entry is gone, files and marker stay
    spark.sql(s"DROP TABLE IF EXISTS ${MicroBatch.tableName(index)}")
    writeBatch("b1.json", 100L until 120L)
    val ex = intercept[IllegalArgumentException] {
      StreamingDedup.start(spark, landing, schema, index, out, buckets = 32)
    }
    assert(ex.getMessage.contains("written with 16 buckets"),
      s"a reopen under 32 buckets did not fail loudly: ${ex.getMessage}")
    spark.sql(s"DROP TABLE IF EXISTS ${MicroBatch.tableName(index)}")
  }

  test("windowed exact dedup: in-window dups drop even before watermark " +
      "progress; state evicts once the watermark passes") {
    import org.apache.spark.sql.types._
    val landing = Files.createTempDirectory("swdedup-land").toString
    val out = Files.createTempDirectory("swdedup-out").toString
    val wschema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("ts", TimestampType)))
    def writeBatch(name: String, docs: Seq[(Long, String, String)]): Unit =
      Files.write(Paths.get(landing, name),
        docs.map { case (i, t, ts) =>
          s"""{"doc_id":$i,"text":"$t","ts":"${ts}Z"}""" }
          .mkString("\n").getBytes)
    def run(): Unit =
      StreamingDedup.startExactWindowed(spark, landing, wschema, out,
        delay = "10 minutes").awaitTermination()

    // batch 1: alpha@10:00, its dup @10:02 (watermark is still the
    // epoch during the first batch — the dup must drop via STATE, not
    // via watermark math), beta@10:03
    writeBatch("b1.json", Seq(
      (1L, "alpha", "2024-01-01T10:00:00.000"),
      (2L, "alpha", "2024-01-01T10:02:00.000"),
      (3L, "beta", "2024-01-01T10:03:00.000")))
    run()
    // batch 2: gamma@11:00 — advances the watermark to 10:50, past
    // alpha's 10:02+10min expiry, so alpha's key is evicted at batch end
    writeBatch("b2.json", Seq((5L, "gamma", "2024-01-01T11:00:00.000")))
    run()
    // batch 3: alpha again @11:05 — beyond the window, state evicted,
    // the late dup PASSES (the operator's documented bounded-state trade)
    writeBatch("b3.json", Seq((9L, "alpha", "2024-01-01T11:05:00.000")))
    run()

    val got = spark.read.parquet(s"$out/unique")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 3L, 5L, 9L), s"got $got")
  }

  test("exact streaming dedup: first arrival wins across batches, batch layout idempotent") {
    val landing = Files.createTempDirectory("sxdedup-land").toString
    val state = Files.createTempDirectory("sxdedup-state").toString + "/seen"
    val out = Files.createTempDirectory("sxdedup-out").toString

    def writeBatch(name: String, docs: Seq[(Long, String)]): Unit =
      Files.write(Paths.get(landing, name),
        docs.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }
          .mkString("\n").getBytes)

    // batch 1: texts A,B + an intra-batch clone of A (doc 2); min doc_id
    // must represent. AvailableNow processes each file as its own batch
    // only if maxFilesPerTrigger is set, so run batch-by-batch instead.
    writeBatch("b1.json", Seq((0L, "alpha one"), (1L, "beta two"), (2L, "alpha one")))
    assertNoPersistedRddDelta {
      StreamingDedup.startExact(spark, landing, schema, state, out).awaitTermination()
    }
    // batch 2: clone of A (cross-batch dup), clone of B, fresh C
    writeBatch("b2.json", Seq((10L, "alpha one"), (11L, "beta two"), (12L, "gamma three")))
    assertNoPersistedRddDelta {
      StreamingDedup.startExact(spark, landing, schema, state, out).awaitTermination()
    }
    // batch 3: clone of C + fresh D
    writeBatch("b3.json", Seq((20L, "gamma three"), (21L, "delta four")))
    assertNoPersistedRddDelta {
      StreamingDedup.startExact(spark, landing, schema, state, out).awaitTermination()
    }

    val unique = spark.read.parquet(s"$out/unique")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    // one representative per distinct text, first arrival (min doc_id in
    // its first batch) wins
    assert(unique == Seq((0L, "alpha one"), (1L, "beta two"),
      (12L, "gamma three"), (21L, "delta four")), s"got: $unique")
    // the seen-set carries one batch=N partition per micro-batch — the
    // layout the replay-idempotency contract depends on
    val parts = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(parts.length == 3, s"state partitions: ${parts.toSeq}")
    // fingerprints are globally unique across the whole seen-set
    val fps = spark.read.parquet(state).select("fp").collect().map(_.getString(0))
    assert(fps.length == fps.distinct.length && fps.length == 4,
      s"seen-set fps: ${fps.toSeq}")
  }

  test("streaming span probe: cross-batch verbatim quote found at exact offsets") {
    val landing = Files.createTempDirectory("sspan-land").toString
    val index = Files.createTempDirectory("sspan-idx").toString + "/grams"
    val out = Files.createTempDirectory("sspan-out").toString

    def writeBatch(name: String, docs: Seq[(Long, String)]): Unit =
      Files.write(Paths.get(landing, name),
        docs.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }
          .mkString("\n").getBytes)

    def toks(prefix: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$prefix$i")
    val quote = toks("q", 10) // the 10-token passage later docs quote

    // batch 1: the source doc (quote at offset 4) + an unrelated doc.
    // Doc 2 ALSO carries the quote — same batch, so the probe must NOT
    // pair 1 with 2 (strictly new-vs-earlier).
    writeBatch("b1.json", Seq(
      (1L, (toks("fa", 3) ++ quote ++ toks("fb", 4)).mkString(" ")),
      (2L, (toks("fz", 6) ++ quote).mkString(" ")),
      (3L, toks("fc", 25).mkString(" "))))
    assertNoPersistedRddDelta {
      StreamingDedup.startSpans(spark, landing, schema, index, out)
        .awaitTermination()
    }
    assert(!new java.io.File(s"$out/spans").exists(),
      "no earlier batch: batch 1 must produce no span output")
    // batch 1 docs pass through the clean output verbatim (no corpus yet)
    val clean1 = spark.read.parquet(s"$out/clean")
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getLong(r.fieldIndex("removed_tokens"))).toMap
    assert(clean1 == Map(1L -> 0L, 2L -> 0L, 3L -> 0L), s"got $clean1")

    // batch 2: a doc quoting the passage at offset 2, one clean doc
    writeBatch("b2.json", Seq(
      (10L, (toks("fd", 1) ++ quote ++ toks("fe", 6)).mkString(" ")),
      (11L, toks("ff", 20).mkString(" "))))
    assertNoPersistedRddDelta {
      StreamingDedup.startSpans(spark, landing, schema, index, out)
        .awaitTermination()
    }
    val spans2 = spark.read.parquet(s"$out/spans").collect()
      .map(r => (r.getLong(r.fieldIndex("d_new")),
        r.getLong(r.fieldIndex("d_old")), r.getLong(r.fieldIndex("p_new")),
        r.getLong(r.fieldIndex("p_old")), r.getLong(r.fieldIndex("len"))))
      .toSet
    // doc 10 matches BOTH batch-1 carriers at their exact offsets
    assert(spans2 == Set(
      (10L, 1L, 2L, 4L, 10L),
      (10L, 2L, 2L, 7L, 10L)), s"got $spans2")
    // ... and the clean output cut exactly the quoted run from doc 10
    // (keep-first by arrival: the corpus copies stay), doc 11 untouched
    val clean2 = spark.read.parquet(s"$out/clean/batch=1")
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getString(r.fieldIndex("clean_text"))).toMap
    assert(clean2(10L) == (toks("fd", 1) ++ toks("fe", 6)).mkString(" "),
      s"doc10: ${clean2(10L)}")
    assert(clean2(11L) == toks("ff", 20).mkString(" "), s"doc11 changed")

    // batch 3: quotes again — earlier NEW docs (10) are now corpus too
    writeBatch("b3.json", Seq(
      (20L, (quote ++ toks("fg", 8)).mkString(" "))))
    assertNoPersistedRddDelta {
      StreamingDedup.startSpans(spark, landing, schema, index, out)
        .awaitTermination()
    }
    val spans3 = spark.read.parquet(s"$out/spans").collect()
      .map(r => (r.getLong(r.fieldIndex("d_new")),
        r.getLong(r.fieldIndex("d_old"))))
    assert(spans3.count { case (dn, _) => dn == 20L } == 3,
      s"doc 20 must match all three earlier carriers: ${spans3.toSeq}")
    // batch=N layout on BOTH stores — the replay-idempotency contract
    val idxParts = new java.io.File(index).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(idxParts.length == 3, s"index partitions: ${idxParts.toSeq}")
  }

  test("bucketed gram index (VERDICT r18 #4): span probe output is " +
      "IDENTICAL to the plain layout, the stored side reads " +
      "exchange-free (bucketed scan — only the batch side shuffles), " +
      "and the batch=N partition layout survives") {
    import org.apache.spark.sql.functions.col
    val landing = Files.createTempDirectory("sspanb-land").toString
    val index = Files.createTempDirectory("sspanb-idx").toString + "/grams"
    val out = Files.createTempDirectory("sspanb-out").toString
    def writeBatch(name: String, docs: Seq[(Long, String)]): Unit =
      Files.write(Paths.get(landing, name),
        docs.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }
          .mkString("\n").getBytes)
    def toks(prefix: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$prefix$i")
    val quote = toks("q", 10)
    // the SAME two-batch fixture as the plain-layout span test — the
    // bucketed form must reproduce its outputs exactly
    writeBatch("b1.json", Seq(
      (1L, (toks("fa", 3) ++ quote ++ toks("fb", 4)).mkString(" ")),
      (2L, (toks("fz", 6) ++ quote).mkString(" ")),
      (3L, toks("fc", 25).mkString(" "))))
    assertNoPersistedRddDelta {
      StreamingDedup.startSpans(spark, landing, schema, index, out,
        buckets = 32).awaitTermination()
    }
    writeBatch("b2.json", Seq(
      (10L, (toks("fd", 1) ++ quote ++ toks("fe", 6)).mkString(" ")),
      (11L, toks("ff", 20).mkString(" "))))
    assertNoPersistedRddDelta {
      StreamingDedup.startSpans(spark, landing, schema, index, out,
        buckets = 32).awaitTermination()
    }
    val spans = spark.read.parquet(s"$out/spans").collect()
      .map(r => (r.getLong(r.fieldIndex("d_new")),
        r.getLong(r.fieldIndex("d_old")), r.getLong(r.fieldIndex("p_new")),
        r.getLong(r.fieldIndex("p_old")), r.getLong(r.fieldIndex("len"))))
      .toSet
    assert(spans == Set(
      (10L, 1L, 2L, 4L, 10L),
      (10L, 2L, 2L, 7L, 10L)), s"bucketed probe diverged: $spans")
    val clean2 = spark.read.parquet(s"$out/clean/batch=1")
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getString(r.fieldIndex("clean_text"))).toMap
    assert(clean2(10L) == (toks("fd", 1) ++ toks("fe", 6)).mkString(" "))
    // the index is a batch-partitioned CATALOG table bucketed by g
    val name = "graft_sidx_" + java.security.MessageDigest
      .getInstance("MD5").digest(index.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    assert(spark.catalog.tableExists(name), s"missing catalog table $name")
    val idxParts = new java.io.File(index).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(idxParts.toSeq == Seq("batch=0", "batch=1"),
      s"partitions: ${idxParts.toSeq}")
    // THE scale claim: a g-keyed probe join leaves the stored side
    // exchange-free — one Exchange total (the batch side), bucketed scan
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = spark.table(name).drop("batch")
        .join(spark.range(5).select(col("id").as("g")), Seq("g"))
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Bucketed: true"),
        s"stored side not read through the bucket spec:\n$plan")
      assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
        s"expected exactly ONE exchange (the probe side):\n$plan")
      // ... and in the monitor's REAL probe shape: the stored index
      // left-semi joined against the batch's distinct grams, under the
      // forced bucketed scan the monitor scopes to each micro-batch
      val autoBucketed = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      spark.conf.set(autoBucketed, "false")
      try {
        val grams = Dedup.positionalGrams(
          spark.read.schema(schema).json(s"$landing/b2.json")
            .select(col("doc_id"), col("text")),
          Dedup.ExactSubstringMinRun, wide = false)
        val semi = spark.table(name).filter(col("batch") < 2L).drop("batch")
          .join(grams.select(col("g")).distinct(), Seq("g"), "left_semi")
        assert(semi.count() > 0L, "the quote's grams must hit the index")
        val finalPlan = stripAQEPlan(semi.queryExecution.executedPlan)
        val join = collectFirst(finalPlan) {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }
        assert(join.isDefined, s"no join in:\n$finalPlan")
        val stored = join.get.left
        assert(collect(stored) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.bucketedScan => s
        }.nonEmpty, s"stored side not a bucketed scan:\n$finalPlan")
        assert(collect(stored) {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.isEmpty, s"an Exchange sits above the stored scan:\n$finalPlan")
      } finally spark.conf.unset(autoBucketed)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }

  test("streaming media dedup: re-encoded payload found across batches, index grows by batch") {
    val landing = Files.createTempDirectory("smedia-land").toString
    val index = Files.createTempDirectory("smedia-idx").toString + "/bands"
    val out = Files.createTempDirectory("smedia-out").toString
    val mediaSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("media_b64", StringType)))

    def b64(bytes: Array[Byte]): String =
      java.util.Base64.getEncoder.encodeToString(bytes)
    def writeBatch(name: String, docs: Seq[(Long, Array[Byte])]): Unit =
      Files.write(Paths.get(landing, name),
        docs.map { case (i, b) => s"""{"doc_id":$i,"media_b64":"${b64(b)}"}""" }
          .mkString("\n").getBytes)

    // batch 1: three distinct 200-byte payloads + one 30-byte degenerate
    def payload(seed: Int): Array[Byte] =
      Array.tabulate[Byte](200)(i => ((i * seed + seed) % 251).toByte)
    writeBatch("m1.json", Seq(
      (1L, payload(7)), (2L, payload(29)), (3L, payload(97)),
      (4L, Array.tabulate[Byte](30)(_.toByte))))
    assertNoPersistedRddDelta {
      StreamingDedup.startMedia(spark, landing, mediaSchema, index, out)
        .awaitTermination()
    }
    // 3 live payloads x 4 chunk bands (the degenerate one is excluded)
    assert(spark.read.parquet(index).count() == 12L)
    assert(!new java.io.File(s"$out/candidates").exists())

    // batch 2: a value-perturbed re-encode of doc 1's payload + one fresh
    val twin = payload(7).clone()
    for (i <- twin.indices by 13) twin(i) = ((twin(i) + 1) & 0xFF).toByte
    writeBatch("m2.json", Seq((100L, twin), (5L, payload(131))))
    assertNoPersistedRddDelta {
      StreamingDedup.startMedia(spark, landing, mediaSchema, index, out)
        .awaitTermination()
    }

    val cands = spark.read.parquet(s"$out/candidates")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(cands.exists(c => c._1 == 100L && c._2 == 1L && c._3 <= 6),
      s"missed re-encoded payload: ${cands.toSeq}")
    assert(cands.forall(c => c._2 != 4L), "degenerate payload must not pair")
    assert(spark.read.parquet(index).count() == 20L, "index must grow by batch 2's bands")
  }

  test("streaming fuzzy probe: novel typo alerts against the established vocabulary") {
    val landing = Files.createTempDirectory("sfuzzy-land").toString
    val index = Files.createTempDirectory("sfuzzy-idx").toString + "/vars"
    val out = Files.createTempDirectory("sfuzzy-out").toString

    def writeBatch(name: String, docs: Seq[(Long, String)]): Unit =
      Files.write(Paths.get(landing, name),
        docs.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }
          .mkString("\n").getBytes)

    // batch 1 establishes the vocabulary
    writeBatch("b1.json", Seq(
      (1L, "receive window receive"),
      (2L, "spark window")))
    assertNoPersistedRddDelta {
      StreamingDedup.startFuzzy(spark, landing, schema, index, out)
        .awaitTermination()
    }
    assert(!new java.io.File(s"$out/alerts").exists(),
      "no earlier vocabulary: batch 1 must alert nothing")

    // batch 2: one typo of an established word (x2), one established
    // word recurring (no alert), one distant new word (no alert)
    writeBatch("b2.json", Seq(
      (10L, "recieve window recieve"),
      (11L, "elephant")))
    assertNoPersistedRddDelta {
      StreamingDedup.startFuzzy(spark, landing, schema, index, out)
        .awaitTermination()
    }
    val alerts = spark.read.parquet(s"$out/alerts").collect()
      .map(r => (r.getString(r.fieldIndex("tok_new")),
        r.getString(r.fieldIndex("tok_known")),
        r.getLong(r.fieldIndex("dist")),
        r.getLong(r.fieldIndex("c_new")))).toSet
    assert(alerts == Set(("recieve", "receive", 2L, 2L)), s"got $alerts")

    // batch 3: the typo is now itself established (keep-first-arrival
    // semantics) — a fresh variant of IT alerts against it
    writeBatch("b3.json", Seq((20L, "reciev e")))
    assertNoPersistedRddDelta {
      StreamingDedup.startFuzzy(spark, landing, schema, index, out)
        .awaitTermination()
    }
    val a3 = spark.read.parquet(s"$out/alerts/batch=2").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // 1 edit from the batch-2 typo, but 3 edits from the original
    // spelling — the alert names the nearest established term only
    assert(a3 == Set(("reciev", "recieve")), s"got $a3")
    // batch=N layout on the variant index — the replay contract
    val parts = new java.io.File(index).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(parts.length == 3, s"index partitions: ${parts.toSeq}")
  }
}
