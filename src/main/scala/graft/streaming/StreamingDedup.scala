package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.llm.Dedup

/** Always-on near-dup deduplication: the streaming form of
  * [[graft.llm.Dedup.incrementalCandidates]].
  *
  * Every micro-batch of new documents is MinHash-signed and banded ONCE
  * (map-side), probes the persisted corpus band index with the
  * (band, band_hash) equi-join for near-dup candidates against
  * everything ingested before it, then lands its own bands as the
  * index's `batch=<id>` partition. The corpus is never re-signed —
  * per-batch work is proportional to the batch, the historical index
  * is only ever read and extended.
  *
  * Index layout: every monitor here keeps its index as a
  * [[MicroBatch.Store]] under `indexDir` (one `batch=<id>` partition per
  * micro-batch, probes read only `batch < id`, a replayed batch replaces
  * its own partition). `buckets > 0` selects the catalog table BUCKETED
  * BY THE PROBE JOIN KEY ([[graft.llm.PairStore]]'s d1-bucket convention
  * applied to the always-on probes, VERDICT r18 #4), so the per-batch
  * probe join reads the corpus index EXCHANGE-FREE and only the
  * (batch-sized) new side shuffles. Without it the index re-shuffles at
  * every micro-batch: the one per-batch cost that grows with the CORPUS
  * instead of the batch (measured in StreamingDedupRehearsal / SCALE.md
  * r19). Plain parquet stays the default (buckets = 0): bucket specs
  * live in the session catalog (the PairStore caveat), and the count is
  * pinned per `indexDir`, so a reopen under a different `buckets`
  * raises. Pick buckets == spark.sql.shuffle.partitions (32 here — the
  * PairStore.NumBuckets convention; StreamingDedupSpec's bucketed gram
  * index test pins the exchange-free stored side on the span monitor's
  * real probe).
  *
  * Intra-batch duplicates are also reported
  * (minhashCandidates within the batch), so the dedup decision is
  * complete: a doc is new iff it has no candidate in EITHER output.
  */
object StreamingDedup {

  /** The monitor's stream over the JSON files landing in `landingDir`,
    * with `buckets` pinned to `indexDir` before the first batch
    * ([[MicroBatch.pinnedBuckets]]): a reopen under another count raises
    * at start; the plain layout (0) pins nothing. */
  private def run(spark: SparkSession, landingDir: String,
      schema: StructType, indexDir: String, outDir: String,
      trigger: Trigger, buckets: Int = 0)(
      body: MicroBatch.Batch => Unit): StreamingQuery = {
    if (buckets > 0) MicroBatch.pinnedBuckets(spark, indexDir,
      Some(buckets), buckets, "buckets")
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "json"),
      s"$outDir/_checkpoint", trigger)(body)
  }

  /** Start the streaming dedup. `docs` schema must carry doc_id + text.
    * Candidates (d_new, d_old, est_jaccard) land under
    * `outDir/candidates/batch=<id>`; the growing band index under
    * `indexDir`.
    */
  def start(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      indexDir: String,
      outDir: String,
      minEstJaccard: Double = 0.5,
      trigger: Trigger = Trigger.AvailableNow(),
      buckets: Int = 0): StreamingQuery =
    run(spark, landingDir, schema, indexDir, outDir, trigger, buckets) { b =>
      // bands computed ONCE per batch, reused for probe + append
      val batchBands = b.pins.pin(Dedup.minhashBands(b.df))
      val idx = b.store(indexDir,
        "doc_id BIGINT, sig ARRAY<BIGINT>, band INT, band_hash BIGINT",
        "band_hash", buckets)
      idx.earlier.foreach { corpus =>
        b.write(Dedup.incrementalCandidatesFromBands(
          batchBands, corpus, minEstJaccard), s"$outDir/candidates")
      }
      idx.write(batchBands)
    }

  /** Always-on CONTENT-LEVEL MEDIA dedup — [[start]]'s shape for the
    * binary modality: every micro-batch of media rows is perceptual-
    * hashed and chunk-banded ONCE (map-side,
    * [[graft.llm.Multimodal.phashBands]]), probes the persisted corpus
    * band index with the (band, chunk) equi-join for near-identical
    * payloads against everything ingested before (certified by Hamming
    * distance on the signatures riding the rows — the payload bytes
    * never leave their batch), then lands its own bands as the index's
    * `batch=<id>` partition.
    * Candidates (d_new, d_old, hamming) land under
    * `outDir/candidates/batch=<id>`.
    * Media arrives base64-encoded in the landing JSON (`media_b64`) —
    * JSON carries no raw bytes; a parquet/binary landing feed plugs in
    * by swapping the decode projection.
    */
  def startMedia(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      indexDir: String,
      outDir: String,
      maxHamming: Int = 6,
      trigger: Trigger = Trigger.AvailableNow(),
      buckets: Int = 0): StreamingQuery = {
    import org.apache.spark.sql.functions.unbase64
    import graft.llm.Multimodal
    run(spark, landingDir, schema, indexDir, outDir, trigger, buckets) { b =>
      // bands computed ONCE per batch, reused for probe + append
      val batchBands = b.pins.pin(Multimodal.phashBands(
        b.df.select(col("doc_id"), unbase64(col("media_b64")).as("media"))))
      val idx = b.store(indexDir,
        "doc_id BIGINT, phash BIGINT, band INT, chunk BIGINT", "chunk", buckets)
      idx.earlier.foreach { corpus =>
        b.write(Multimodal.incrementalPhashCandidates(
          batchBands, corpus, maxHamming), s"$outDir/candidates")
      }
      idx.write(batchBands)
    }
  }

  /** Always-on VERBATIM-SPAN containment probe — the streaming form of
    * [[graft.llm.Dedup.exactSubstringSpans]], new-doc-vs-corpus instead
    * of corpus-vs-corpus: each micro-batch is reduced ONCE (map-side)
    * to positional depth-L suffix keys, probes the persisted gram index
    * (g → doc_id, p) for matches against everything ingested in EARLIER
    * batches, runs the same gaps-and-islands reduction as the batch
    * operator to recover maximal shared runs, then lands its own
    * grams in the index. Spans (d_new, d_old, p_new, p_old, len ≥
    * minRun) land under `outDir/spans` — the always-on "does this new
    * document quote the corpus verbatim" signal (licensing headers,
    * boilerplate, cross-crawl plagiarism) the batch q137 family answers
    * offline.
    *
    * Alongside the span report, each batch also lands its SPAN-CUT form
    * under `outDir/clean` — the streaming half of
    * [[graft.llm.Dedup.exactSubstringRemove]]: the corpus arrived
    * first, so the new doc's copy of every matched run is the duplicate
    * and is cut (keep-first by arrival order); docs with no match pass
    * through verbatim (token-normalized). An always-on pipeline can
    * feed `clean` straight to training-shard export.
    *
    * Exactly-once by the startExact layout: gram index, span output,
    * and clean output are one `batch=<id>` partition per micro-batch,
    * the probe reads only `batch < current`, all writes OVERWRITE their
    * own partition — a replayed batch recomputes identical results and
    * overwrites, never duplicates.
    *
    * Scale shape: the index is only ever read and appended, never
    * re-derived; the probe first LEFT SEMI joins the index down to the
    * batch's own gram keys (per-batch probe cost is proportional to the
    * batch, not the corpus), then applies the batch operator's df cap
    * to the MATCHED gram set, so a boilerplate gram present at > maxDf
    * corpus positions is dropped before the island reduction instead of
    * fanning out. At 100 TB the index parquet is bucketed by g so the
    * probe co-locates — `buckets > 0` lands exactly that layout (the
    * catalog-bucketed index form; stored side reads exchange-free,
    * measured in StreamingDedupRehearsal); plain parquet stays the
    * default and the join shape is identical.
    */
  def startSpans(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      indexDir: String,
      outDir: String,
      minRun: Int = Dedup.ExactSubstringMinRun,
      maxDf: Int = Dedup.DefaultMaxShingleDf,
      trigger: Trigger = Trigger.AvailableNow(),
      buckets: Int = 0): StreamingQuery = {
    import org.apache.spark.sql.functions.count
    run(spark, landingDir, schema, indexDir, outDir, trigger, buckets) { b =>
      // suffix keys computed ONCE per batch, reused for probe + append
      // (wide=false: a micro-batch frame keeps the AQE-coalescible
      // spread — 32 pinned tasks per small batch is pure overhead)
      val docsB = b.df.select(col("doc_id"), col("text"))
      val grams = b.pins.pin(Dedup.positionalGrams(docsB, minRun, wide = false))
      // bucketed form: the index reads g-pre-partitioned through the
      // catalog — every probe join below leaves the stored side
      // exchange-free; only the batch's grams shuffle
      val idx = b.store(indexDir,
        "doc_id BIGINT, p BIGINT, g BIGINT", "g", buckets)
      val spans = idx.earlier.map { earlier =>
        val hits = earlier
          .join(grams.select(col("g")).distinct(), Seq("g"), "left_semi")
        val hot = hits.groupBy(col("g")).agg(count(lit(1)).as("dfc"))
          .filter(col("dfc") > maxDf)
          .select(col("g"))
        val m = grams
          .select(col("doc_id").as("d1"), col("p").as("p1"), col("g"))
          .join(hot, Seq("g"), "left_anti")
          .join(hits.select(col("doc_id").as("d2"), col("p").as("p2"),
            col("g")), Seq("g"))
          // a doc_id re-ingested in a later batch would self-match
          // on diagonal 0 and silently EMPTY its own clean output —
          // the probe contract is new-vs-earlier
          .filter(col("d1") =!= col("d2"))
          .select(col("d1"), col("d2"), col("p1"), col("p2"))
        // reused by the span write AND the clean derivation
        val islands = b.pins.pin(Dedup.diagonalIslands(m, minRun))
        b.write(islands
          .select(col("d1").as("d_new"), col("d2").as("d_old"),
            col("p1").as("p_new"), col("p2").as("p_old"), col("len")),
          s"$outDir/spans")
        islands
      }
      // span-cut output: the new doc's copy of every matched run is
      // the duplicate (the corpus came first — keep-first by
      // arrival); with no prior index the batch passes through
      val cov = spans match {
        case Some(sp) =>
          sp.select(col("d1").as("doc_id"), col("p1").as("s"),
            (col("p1") + col("len") - 1).as("e"))
        case None =>
          docsB.select(col("doc_id"), lit(1L).as("s"), lit(0L).as("e"))
            .limit(0)
      }
      b.write(Dedup.cutIntervals(docsB, cov), s"$outDir/clean")
      idx.write(grams)
    }
  }

  /** Always-on FUZZY VOCABULARY probe — the streaming form of the q174
    * edit-distance family: each micro-batch's NOVEL tokens (length >=
    * Fuzzy.MinLen, not present in the persisted vocabulary) are checked
    * for being 1–2 edits from an ESTABLISHED earlier token — the
    * live typo/OCR-noise alert an ingest pipeline wants the moment a
    * misspelled variant starts arriving, before it pollutes vocabulary
    * statistics downstream.
    *
    * Index layout: (tok, variant) deletion-variant rows under
    * `indexDir/batch=<id>` — per-batch overwrite, so replays are
    * idempotent and the probe's `batch < bid` filter keeps the pairing
    * strictly new-vs-earlier (the startSpans contract). The probe is
    * the same variant equi-join + levenshtein verify as q174 — never
    * all-pairs — with per-batch work proportional to the batch's novel
    * vocabulary, not the corpus.
    *
    * Alerts land under `outDir/alerts/batch=<id>` as
    * (tok_new, tok_known, dist, c_new): the new spelling, the earlier
    * vocabulary term it sits next to, their exact edit distance, and
    * how often the new spelling occurred in this batch.
    */
  def startFuzzy(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      indexDir: String,
      outDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      buckets: Int = 0): StreamingQuery = {
    import org.apache.spark.sql.functions.levenshtein
    run(spark, landingDir, schema, indexDir, outDir, trigger, buckets) { b =>
      val vocabB = graft.llm.Fuzzy.vocab(b.df) // (tok, c)
      // variants computed ONCE per batch, reused for probe + append
      val vars = b.pins.pin(graft.llm.Fuzzy.deletionVariants(vocabB))
      // variant-bucketed form: the candidate join (the corpus-sized
      // one) leaves the stored side exchange-free; the tok-distinct
      // anti-join side reduces map-side to vocabulary size before its
      // exchange either way
      val idx = b.store(indexDir,
        "tok STRING, variant STRING", "variant", buckets)
      idx.earlier.foreach { earlier =>
        // novel spellings only: a token already in the earlier
        // vocabulary is established, not a typo alert
        val novel = vars.join(
          earlier.select(col("tok")).distinct(), Seq("tok"), "left_anti")
        val cands = novel.as("n")
          .join(earlier.select(col("tok").as("tok_known"), col("variant"))
            .distinct(), Seq("variant"))
          .select(col("tok").as("tok_new"), col("tok_known"))
          .distinct()
        b.write(cands
          .withColumn("dist",
            levenshtein(col("tok_new"), col("tok_known")).cast("long"))
          .filter(col("dist") > 0 &&
            col("dist") <= graft.llm.Fuzzy.MaxDist)
          .join(vocabB.select(col("tok").as("tok_new"),
            col("c").as("c_new")), Seq("tok_new"))
          .select(col("tok_new"), col("tok_known"), col("dist"),
            col("c_new")), s"$outDir/alerts")
      }
      idx.write(vars)
    }
  }

  /** Streaming exact dedup through Spark's OWN stateful operator —
    * `dropDuplicatesWithinWatermark` on the content fingerprint — the
    * bounded-state counterpart of [[startExact]]. [[startExact]] keeps
    * every fingerprint ever seen (exact forever; its parquet seen-set
    * grows with the corpus), while this keeps a key only until the
    * watermark passes its last-seen event time + `delay`: state is
    * bounded by feed-rate × window at ANY corpus size, and duplicates
    * separated by more than `delay` of EVENT time pass through — the
    * operator's documented contract, the right trade for retry-storm /
    * double-send suppression on an unbounded feed (run [[startExact]]
    * or the batch q27 pass downstream when eventual exactness
    * matters). State lives in the checkpoint's state store, hash-
    * partitioned by fp across `spark.sql.shuffle.partitions` tasks —
    * it scales out with the cluster and survives restarts; eviction
    * happens as the WATERMARK advances (end of a later batch), never
    * mid-batch, so a dup arriving before any watermark progress is
    * still caught (StreamingDedupSpec pins both sides). Schema must
    * carry doc_id + text + an event-time `ts`.
    */
  def startExactWindowed(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      outDir: String,
      delay: String = "10 minutes",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.functions.md5
    MicroBatch.appendFiles(
      MicroBatch.source(spark, landingDir, schema, "json")
        .select(col("doc_id"), col("text"), col("ts"),
          md5(col("text")).as("fp"))
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("fp"),
      s"$outDir/_checkpoint", trigger, s"$outDir/unique")
  }

  /** Always-on EXACT dedup — the stage SCALE.md's rehearsal proved must
    * run BEFORE any near-dup banding (clone groups cost Ω(m²) in the
    * banded joins): each micro-batch keeps one representative per
    * content fingerprint (md5(text), min doc_id within the batch),
    * drops docs whose fingerprint was seen in ANY earlier batch, writes
    * survivors under `outDir/unique`, and records its fingerprints in
    * the seen-set.
    *
    * Exactly-once by construction, without locks: the seen-set is a
    * [[MicroBatch.Store]] (one `batch=<id>` partition per micro-batch,
    * the probe reads only `batch < current`), and BOTH writes overwrite
    * their own batch partition — so a replayed batch recomputes the
    * identical survivor set (its own partial state partition is
    * invisible to the probe) and overwrites, never duplicates.
    *
    * Scale shape: the seen-set is probed with a broadcast LEFT SEMI of
    * the batch's (small) fingerprint set and only the (bounded, <=
    * batch-sized) hits are broadcast back for the anti join — the
    * historical seen-set is scanned map-side but NEVER shuffled, the
    * per-batch exchange cost is the batch's own fingerprints. At 100 TB
    * the fp partitions compact partition by partition into a new dir
    * ([[graft.etl.Writers.compactFiles]]), which keeps the
    * `batch=<id>` layout the replay contract depends on.
    */
  def startExact(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      stateDir: String,
      outDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, md5, row_number}
    run(spark, landingDir, schema, stateDir, outDir, trigger) { b =>
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val batchDocs = b.pins.pin(b.df // reused by probe + both writes
        .select(col("doc_id"), col("text"), md5(col("text")).as("fp"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn"))
      val seen = b.store(stateDir, "fp STRING")
      val survivors = seen.earlier.fold(batchDocs) { earlier =>
        val hits = earlier
          .join(broadcast(batchDocs.select(col("fp"))), Seq("fp"), "left_semi")
          .select(col("fp")).distinct()
        batchDocs.join(broadcast(hits), Seq("fp"), "left_anti")
      }
      val kept = b.pins.pin(survivors)
      b.write(kept.select(col("doc_id"), col("text"), col("fp")),
        s"$outDir/unique")
      seen.write(kept.select(col("fp")))
    }
  }
}
