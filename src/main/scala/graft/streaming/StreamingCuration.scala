package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.Writers
import graft.llm.{Curation, TextOps}

/** Always-on corpus curation: the streaming form of q66 test-set
  * decontamination and q67 mixture sampling (the StreamingDedup shape —
  * per-batch work proportional to the batch, history only read/extended).
  *
  * Per micro-batch of documents:
  *  - every doc is hash-split (q59 rule) and content-fingerprinted ONCE;
  *  - TEST-split docs probe the persisted train-fingerprint index for
  *    contamination — history is never re-fingerprinted;
  *  - the batch's TRAIN fingerprints also retro-probe the persisted
  *    test-doc table, so a training document that arrives AFTER the test
  *    document it contaminates is still caught (arrival order cannot
  *    hide leakage);
  *  - train fingerprints / test docs land in their state tables;
  *  - per-language mixture counts (q67's salted-hash rule) land in an
  *    additive stats table.
  *
  * [[contaminationCounts]] / [[mixtureTotals]] fold the accumulated state
  * back to exactly the batch-mode q66/q67 answers over everything
  * ingested so far (StreamingCurationSpec pins equality over 3 batches).
  *
  * State layout (the 100 TB shape): every growing state table is a
  * bucketed [[MicroBatch.Store]] on its probe key — train_fp / test_docs
  * by fp, train_grams / test_grams by k, train_vecs / test_vecs by cell
  * ([[StateBuckets]] buckets, one `batch=<id>` partition per micro-batch
  * under `stateDir/<table>`, registered in the catalog on open). Each
  * per-batch probe therefore joins a batch-sized side against a stored
  * side that is ALREADY partitioned on the join key: only the batch
  * shuffles, the history never re-exchanges (StreamingCurationSpec pins
  * the single-exchange plan). Probes against history and against the
  * current batch run separately — a union of stored + batch would erase
  * the stored side's bucketing — which is sound because every downstream
  * fold distinct-counts its hits. Every state and output write replaces
  * its batch's own partition, so a batch replayed after a lost commit
  * lands exactly what its first run did (MicroBatchSpec's replay matrix
  * pins it; the additive mixture sum would otherwise count it twice).
  * [[compactState]] folds the small files the per-batch writes
  * accumulate, preserving the bucket layout. A `stateDir` in the flat
  * layout of older releases (data files directly under a table dir)
  * fails on open instead of reading as empty history.
  */
object StreamingCuration {

  /** Default buckets per state table — executors × small factor at
    * cluster scale; 32 here to match the session's shuffle partitions so
    * the probe side lands 1:1 on the stored layout. Override with
    * [[StateBucketsConf]] BEFORE the first batch: the count is baked
    * into the dir's file layout, so it is pinned in a `_graft_buckets`
    * marker at first open and a reopen under a different value fails
    * loudly (mixed bucket layouts in one directory assign rows to wrong
    * buckets and silently corrupt every bucketed probe).
    */
  val StateBuckets = 32
  val StateBucketsConf = "spark.graft.curation.stateBuckets"

  private def fsOf(spark: SparkSession, path: Path) =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The bucket count for `stateDir` ([[MicroBatch.pinnedBuckets]]):
    * the configured value on first open, the pinned value thereafter —
    * raising if an EXPLICITLY set session conf disagrees. With no
    * explicit conf the marker alone governs, so maintenance sessions
    * (the `compact-state` CLI) need no conf plumbing to reopen a
    * non-default dir.
    */
  private def pinnedBuckets(spark: SparkSession, stateDir: String): Int =
    MicroBatch.pinnedBuckets(spark, stateDir,
      spark.conf.getOption(StateBucketsConf).map(_.trim.toInt),
      StateBuckets, StateBucketsConf)

  /** The state tables under a `stateDir`: name -> (columns, probe key). */
  private val StateTables = Map(
    "train_fp" -> ("fp STRING", "fp"),
    "test_docs" -> ("doc_id BIGINT, fp STRING", "fp"),
    "train_grams" -> ("k STRING", "k"),
    "test_grams" -> ("doc_id BIGINT, k STRING", "k"),
    "train_vecs" -> ("cell BIGINT, tid BIGINT, tv ARRAY<DOUBLE>", "cell"),
    "test_vecs" -> ("cell BIGINT, vec_id BIGINT, v ARRAY<DOUBLE>", "cell"))

  /** Batch `b`'s view of the state table `name` under `stateDir`. */
  private def state(b: MicroBatch.Batch, stateDir: String, name: String,
      buckets: Int): MicroBatch.Store = {
    val (cols, key) = StateTables(name)
    b.store(s"$stateDir/$name", cols, key, buckets)
  }

  /** Catalog identifier of the state table `key` under `dir` (the
    * [[MicroBatch.Store]]'s table). Public so downstream operators and
    * the spec can reach the bucket-aware catalog entry directly.
    */
  def stateTable(dir: String, key: String): String =
    MicroBatch.tableName(s"$dir/$key")

  /** Run one batch under the compaction lease:
    *  - refuses to START while the [[CompactLock]] is held — before the
    *    batch opens any state table, because opening one in a fresh
    *    session puts back a crashed compaction's copy
    *    ([[MicroBatch.openTable]]), which would clear a live
    *    compaction's stage as stale;
    *  - touches the [[AppendHeartbeat]] before AND after the batch, so a
    *    compaction that acquires the lock mid-batch keeps waiting until
    *    the state has been quiet for a full settle interval;
    *  - if the lock appeared DURING the batch, fails it loudly — its
    *    files may sit on either side of the compaction swap, so the
    *    checkpoint must replay the batch after the compaction (replays
    *    replace the batch's own partitions).
    * A batch overlapping a compaction therefore either fully lands (the
    * compaction waited it out) or fully fails — never a silent drop.
    */
  private def leased(spark: SparkSession, stateDir: String)(
      batch: => Unit): Unit = {
    val dir = new Path(stateDir)
    val fs = fsOf(spark, dir)
    val lock = new Path(dir, CompactLock)
    require(!fs.exists(lock),
      s"compactState is running on $dir — appends during compaction " +
        "would be dropped by the directory swap; stop the stream first " +
        s"(if no compaction is actually running — e.g. its driver died " +
        s"mid-run — delete the stale $lock file)")
    touch(fs, new Path(dir, AppendHeartbeat))
    batch
    touch(fs, new Path(dir, AppendHeartbeat))
    if (fs.exists(lock))
      throw new IllegalStateException(
        s"a batch raced a compaction on $dir (the lock appeared " +
          "mid-batch) — failing the batch loudly so the checkpoint " +
          "replays it after the compaction finishes")
  }

  /** The monitor's stream over the JSON files landing in `landingDir`,
    * every batch run under the compaction lease on `stateDir`. */
  private def run(spark: SparkSession, landingDir: String,
      schema: StructType, stateDir: String, outDir: String,
      trigger: Trigger)(body: MicroBatch.Batch => Unit): StreamingQuery =
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "json"),
        s"$outDir/_checkpoint", trigger)(b => leased(spark, stateDir)(body(b)))

  /** Create-or-overwrite an empty marker file; its mtime is the signal. */
  private def touch(fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit =
    fs.create(p, true).close()

  def start(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      stateDir: String,
      outDir: String,
      rates: Map[String, Int],
      defaultRate: Int,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val buckets = pinnedBuckets(spark, stateDir)
    run(spark, landingDir, schema, stateDir, outDir, trigger) { b =>
      // split + fingerprint computed ONCE per batch, reused across the
      // probe, retro-probe, and both state writes
      val t = b.pins.pin(b.df.select(
          col("doc_id"), Curation.splitCol.as("split"),
          TextOps.fingerprint(col("text")).as("fp")))
      val newTrain = t.filter(col("split") === "train")
        .select(col("fp")).distinct()
      val newTest = t.filter(col("split") === "test")
        .select(col("doc_id"), col("fp"))
      val trainFp = state(b, stateDir, "train_fp", buckets)
      val testDocs = state(b, stateDir, "test_docs", buckets)
      // new test docs vs train history and vs this batch's own train
      // fps — separate probes keep the stored side's bucketing live
      // (duplicate hits are fine: the fold distinct-counts doc_id)
      val contStored = trainFp.earlier
        .map(st => newTest.join(st, Seq("fp"), "left_semi"))
      val contBatch = newTest.join(newTrain, Seq("fp"), "left_semi")
      // new train fingerprints vs already-stored test docs (late train)
      val contLate = testDocs.earlier
        .map(_.join(newTrain, Seq("fp"), "left_semi"))
      trainFp.write(newTrain)
      testDocs.write(newTest)
      b.write((Seq(contBatch) ++ contStored ++ contLate)
        .reduce(_ unionByName _)
        .select(col("doc_id")), s"$outDir/contaminated")
      b.write(Curation.mixtureCounts(b.df, rates, defaultRate),
        s"$outDir/mixture")
    }
  }

  /** Streaming N-GRAM decontamination — the q77 semantics incrementally
    * (the same state shape as [[start]]'s fingerprint check, at 8-gram
    * granularity): per micro-batch, each doc's distinct gram keys are
    * computed ONCE ([[graft.llm.Curation.gramKeys]]); the batch's
    * test-doc grams probe the persisted train-gram index, the batch's
    * train grams retro-probe the persisted test-gram table (late-arriving
    * train contamination is still caught), and both state tables grow by
    * one partition per batch — history is never re-tokenized.
    *
    * Hits are stored as (doc_id, k) PAIRS, so folding with distinct
    * counts ([[ngramContaminationTotals]]) is idempotent across batches:
    * a gram flagged by both the forward probe and a later retro-probe, or
    * by several train batches, counts once — exactly the batch-q77
    * answer over everything ingested (StreamingCurationSpec pins it).
    *
    * 100 TB shape: every probe is an equi-join on the near-unique 16-hex
    * key against a k-bucketed state table — per-batch cost proportional
    * to the batch's gram count; the stored side never re-exchanges.
    */
  def startNgramDecon(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      stateDir: String,
      outDir: String,
      n: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val buckets = pinnedBuckets(spark, stateDir)
    run(spark, landingDir, schema, stateDir, outDir, trigger) { b =>
      val grams = b.pins.pin(Curation.gramKeys(b.df, n))
      val newTrain = grams.filter(col("split") === "train")
        .select(col("k")).distinct()
      val newTest = grams.filter(col("split") === "test")
        .select(col("doc_id"), col("k"))
      val trainGrams = state(b, stateDir, "train_grams", buckets)
      val testGrams = state(b, stateDir, "test_grams", buckets)
      // forward probes: vs stored train grams (bucketed side stays
      // exchange-free) and vs this batch's own train grams
      val hitsStored = trainGrams.earlier
        .map(st => newTest.join(st, Seq("k"), "left_semi"))
      val hitsBatch = newTest.join(newTrain, Seq("k"), "left_semi")
      // retro-probe: new train grams vs already-stored test grams
      val hitsLate = testGrams.earlier
        .map(_.join(newTrain, Seq("k"), "left_semi"))
      trainGrams.write(newTrain)
      testGrams.write(newTest)
      b.write((Seq(hitsBatch) ++ hitsStored ++ hitsLate)
        .reduce(_ unionByName _), s"$outDir/gram_hits")
    }
  }

  /** Streaming SEMANTIC decontamination — the q105 semantics
    * incrementally, completing the decon triad's streaming form
    * (fingerprint [[start]], 8-gram [[startNgramDecon]], embedding
    * here): per micro-batch of (vec_id, embedding) rows, each vector is
    * cell-assigned ONCE against the broadcast codebook at `codebookDir`
    * (train it once with IvfStore.train — at 100 TB the codebook is a
    * fixed artifact, exactly why [[graft.llm.Similarity
    * .semanticDeconWith]] takes it explicitly); the batch's test-split
    * vectors probe the persisted train-vector state within their cell,
    * the batch's train vectors retro-probe the persisted test vectors
    * (a near-duplicate of an eval item arriving AFTER it is still
    * caught), and both state tables grow by one partition per batch —
    * history is never re-embedded or re-assigned.
    *
    * Hits land as (vec_id, tid, sim) PAIRS so the
    * [[semanticContamination]] fold is idempotent across replays
    * (distinct tid count; max is idempotent). State tables are bucketed
    * on `cell` — with a trained ~sqrt(corpus)-cell codebook the probe
    * joins batch-sized sides against a stored side already partitioned
    * on the join key (the [[start]] shape; with the toy 16-cell default
    * some buckets are simply empty).
    */
  def startSemanticDecon(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      codebookDir: String,
      stateDir: String,
      outDir: String,
      minCos: Double = 0.35,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val buckets = pinnedBuckets(spark, stateDir)
    val cb = spark.read.parquet(codebookDir).select(col("cell"), col("cv"))
    run(spark, landingDir, schema, stateDir, outDir, trigger) { b =>
      import graft.llm.Similarity
      // assign + split computed ONCE per batch, reused by both
      // probes, the retro-probe, and both state appends
      val t = b.pins.pin(Similarity.ivfAssign(cb,
          b.df.select(col("vec_id"),
            col("embedding").cast("array<double>").as("v")),
          probes = 1)
        .select(col("cell"), col("vec_id"), col("v"),
          Similarity.vecSplitCol.as("split")))
      val newTrain = t.filter(col("split") === "train")
        .select(col("cell"), col("vec_id").as("tid"), col("v").as("tv"))
      val newTest = t.filter(col("split") === "test")
        .select(col("cell"), col("vec_id"), col("v"))
      val sim = Similarity.cosine(col("v"), col("tv"))
      def hits(test: DataFrame, train: DataFrame): DataFrame =
        test.join(train, Seq("cell"))
          .filter(sim >= minCos)
          .select(col("vec_id"), col("tid"), sim.as("sim"))
      val trainVecs = state(b, stateDir, "train_vecs", buckets)
      val testVecs = state(b, stateDir, "test_vecs", buckets)
      val hitsStored = trainVecs.earlier.map(st => hits(newTest, st))
      val hitsBatch = hits(newTest, newTrain)
      val hitsLate = testVecs.earlier.map(st => hits(st, newTrain))
      trainVecs.write(newTrain)
      testVecs.write(newTest)
      b.write((Seq(hitsBatch) ++ hitsStored ++ hitsLate)
        .reduce(_ unionByName _), s"$outDir/sem_hits")
    }
  }

  /** Accumulated per-test-vector semantic contamination — equal to the
    * batch [[graft.llm.Similarity.semanticDeconWith]] answer over the
    * union of every ingested batch (StreamingCurationSpec pins it,
    * late-train case included). countDistinct(tid) + max(sim) make
    * replayed or multi-probe hits idempotent; max over HITS equals the
    * batch form's max over all same-cell train vectors because a
    * contaminated vector's cell max is itself a hit.
    */
  def semanticContamination(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/sem_hits")
      .groupBy(col("vec_id"))
      .agg(countDistinct(col("tid")).as("n_hits"),
        round(max(col("sim")), 4).as("max_sim"))
      .orderBy(col("vec_id"))

  /** Name of the per-state-dir compaction lock file — present while
    * [[compactState]] runs; [[leased]] refuses to write state under it.
    * Contains its owner + claim timestamp for stale-lock forensics. If
    * the owning driver died mid-compaction the lock stays behind and
    * trips every append and compaction: it is then safe to DELETE the
    * file once no compaction JVM is alive (or pass `force = true` /
    * `compact-state <dir> force` on the CLI).
    */
  val CompactLock = "_graft_compacting"

  /** Mtime-bearing marker [[leased]] touches around every batch;
    * [[compactState]]'s lease wait keys off its age.
    */
  val AppendHeartbeat = "_graft_last_append"

  /** Fold the small files the per-batch writes accumulate in every
    * state table under `stateDir`, PRESERVING the bucket layout (a plain
    * directory rewrite would strip the bucket ids from the file names
    * and silently demote every later probe to a re-shuffle). Every
    * partition older than a table's newest, n, folds into
    * `batch=<n-1>`; `batch=<n>` keeps its rows, so the one batch a
    * replay can still rewrite replaces only its own partition
    * ([[Writers.compactBucketedTable]]). A table the catalog lacks (a
    * maintenance session such as the `compact-state` CLI) is opened
    * the way the stream opens it ([[MicroBatch.openTable]]) under the
    * dir's pinned bucket count. Returns per-table file counts after
    * compaction.
    *
    * Crash-safe: the compacted copy is written to a SIBLING path first —
    * reading the old table while writing a new one needs no snapshot, so
    * the original files stay the durable source of truth until the new
    * copy is complete — then swapped in with [[Writers.replaceDir]]. At
    * every instant a complete copy of the state exists ON DISK, and a
    * crash mid-swap is put back mechanically by the next compaction or
    * stream open (both run [[Writers.recoverDir]] first, the stream's
    * under its lease); an executor
    * loss mid-write loses only the stage. The earlier in-place form
    * overwrote the only durable copy from a localCheckpoint snapshot,
    * whose executor-memory blocks cannot be recomputed after the
    * truncate.
    *
    * Concurrency with a RUNNING stream on the same stateDir is a LEASE,
    * not just a tripwire (the r8 form could still drop a write that
    * was in flight when the lock appeared):
    *  - the [[CompactLock]] refuses concurrent batches (before they
    *    open a state table) and compactions;
    *  - after acquiring the lock, the compaction WAITS until the newest
    *    [[AppendHeartbeat]] is at least `settleMillis` old — a batch
    *    that slipped past the lock check heartbeats before and after
    *    it, so the swap cannot start while one is plausibly in flight
    *    (set `settleMillis` >= the stream's batch duration);
    *  - a batch that completes under the lock fails loudly
    *    (see [[leased]]) — replayed by the checkpoint after the
    *    compaction, idempotently;
    *  - as a final backstop, [[Writers.compactBucketedTable]] re-checks
    *    the dir listing right before its swap and aborts if it changed.
    * If heartbeats keep arriving past `settleTimeoutMillis`, a stream is
    * actively writing: the compaction gives up loudly — stop the stream
    * first. `force = true` breaks a STALE lock (a compaction driver that
    * died mid-run; the lock file records owner + claim time) — never
    * force while a live compaction is running.
    */
  def compactState(spark: SparkSession, stateDir: String,
      force: Boolean = false, settleMillis: Long = 15000L,
      settleTimeoutMillis: Long = 120000L): Map[String, Int] = {
    val buckets = pinnedBuckets(spark, stateDir)
    val fs = fsOf(spark, new Path(stateDir))
    val lock = new Path(stateDir, CompactLock)
    if (!fs.createNewFile(lock)) {
      if (force) {
        fs.delete(lock, false)
        require(fs.createNewFile(lock),
          s"could not re-claim $lock even under force — another " +
            "compaction is claiming it concurrently")
      } else {
        val claimed = fs.getFileStatus(lock).getModificationTime
        throw new IllegalStateException(
          s"another compaction already holds $lock (claimed ${
            java.time.Instant.ofEpochMilli(claimed)}). If that driver " +
            "died mid-compaction, delete the lock file or re-run with " +
            "force = true (CLI: compact-state <dir> force).")
      }
    }
    // owner + claim time, for stale-lock forensics
    val out = fs.create(lock, true)
    try out.write(
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName} ${
        java.time.Instant.now()}".getBytes("UTF-8"))
    finally out.close()
    try {
      // the lease wait: no swap while an append is plausibly in flight
      val hb = new Path(stateDir, AppendHeartbeat)
      val deadline = System.currentTimeMillis() + settleTimeoutMillis
      var settled = false
      while (!settled) {
        val age =
          if (fs.exists(hb))
            System.currentTimeMillis() - fs.getFileStatus(hb).getModificationTime
          else Long.MaxValue
        settled = age >= settleMillis
        if (!settled) {
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"appends to $stateDir were still heartbeating after " +
                s"$settleTimeoutMillis ms — a stream is running on this " +
                "state dir; stop it before compacting")
          Thread.sleep(math.min(250L, math.max(50L, settleMillis / 4)))
        }
      }
      StateTables.flatMap { case (name, (cols, key)) =>
        val path = s"$stateDir/$name"
        if (Writers.recoverDir(spark, path) == "missing") None
        else Some(name -> Writers.compactBucketedTable(spark,
          MicroBatch.openTable(spark, path, cols, key, buckets), path, key,
          buckets))
      }
    } finally fs.delete(lock, false)
  }

  /** Accumulated (n_test, n_contaminated, n_overlap_grams) — equal to
    * the batch q77 answer over the union of every ingested batch.
    * Distinct counts make replayed/multi-source hits idempotent.
    */
  def ngramContaminationTotals(spark: SparkSession, stateDir: String,
      outDir: String): DataFrame = {
    val fs = fsOf(spark, new Path(stateDir))
    val nTest = spark.read.parquet(s"$stateDir/test_grams")
      .agg(countDistinct(col("doc_id")).as("n_test"))
    val hitsDir = s"$outDir/gram_hits"
    val hits =
      if (fs.exists(new Path(hitsDir)))
        spark.read.parquet(hitsDir)
          .agg(countDistinct(col("doc_id")).as("n_contaminated"),
            countDistinct(col("doc_id"), col("k")).as("n_overlap_grams"))
      else nTest.select(lit(0L).as("n_contaminated"),
        lit(0L).as("n_overlap_grams"))
    nTest.crossJoin(hits)
  }

  /** Accumulated (n_test, n_contaminated) — equal to the batch q66
    * answer over the union of every ingested batch. Contaminated doc ids
    * are distinct-counted: a test doc flagged by several train batches
    * counts once, matching the batch semantics.
    */
  def contaminationCounts(spark: SparkSession, stateDir: String,
      outDir: String): DataFrame = {
    val fs = fsOf(spark, new Path(stateDir))
    val nTest = spark.read.parquet(s"$stateDir/test_docs")
      .agg(countDistinct(col("doc_id")).as("n_test"))
    val contDir = s"$outDir/contaminated"
    val nCont =
      if (fs.exists(new Path(contDir)))
        spark.read.parquet(contDir)
          .agg(countDistinct(col("doc_id")).as("n_contaminated"))
      else nTest.select(lit(0L).as("n_contaminated"))
    nTest.crossJoin(nCont)
  }

  /** Accumulated per-language (n_docs, n_sampled) — the q67 answer over
    * everything ingested (the per-batch counts are additive because the
    * sampling rule is a pure per-doc hash).
    */
  def mixtureTotals(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/mixture")
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_sampled")).as("n_sampled"))
      .orderBy(col("lang"))
}
