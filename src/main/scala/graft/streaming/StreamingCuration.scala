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
  * per-batch work proportional to the batch, history only read/appended).
  *
  * Per micro-batch of documents:
  *  - every doc is hash-split (q59 rule) and content-fingerprinted ONCE;
  *  - TEST-split docs probe the persisted train-fingerprint index for
  *    contamination — history is never re-fingerprinted;
  *  - the batch's TRAIN fingerprints also retro-probe the persisted
  *    test-doc table, so a training document that arrives AFTER the test
  *    document it contaminates is still caught (arrival order cannot
  *    hide leakage);
  *  - train fingerprints / test docs append to their state tables;
  *  - per-language mixture counts (q67's salted-hash rule) append to an
  *    additive stats table.
  *
  * [[contaminationCounts]] / [[mixtureTotals]] fold the accumulated state
  * back to exactly the batch-mode q66/q67 answers over everything
  * ingested so far (StreamingCurationSpec pins equality over 3 batches).
  *
  * State layout (the 100 TB shape): every growing state table is a
  * BUCKETED catalog table on its probe key — train_fp / test_docs by fp,
  * train_grams / test_grams by k ([[StateBuckets]] buckets, data files
  * under `stateDir` so the path-based readers keep working). Each
  * per-batch probe therefore joins a batch-sized side against a stored
  * side that is ALREADY partitioned on the join key: only the batch
  * shuffles, the history never re-exchanges (StreamingCurationSpec pins
  * the single-exchange plan). Probes against history and against the
  * current batch run separately — a union of stored + batch would erase
  * the stored side's bucketing — which is sound because every downstream
  * fold distinct-counts its hits. [[compactState]] folds the small files
  * the per-batch appends accumulate, preserving the bucket layout.
  */
object StreamingCuration {

  /** Default buckets per state table — executors × small factor at
    * cluster scale; 32 here to match the session's shuffle partitions so
    * the probe side lands 1:1 on the stored layout. Override with
    * [[StateBucketsConf]] BEFORE the first append: the count is baked
    * into the dir's file layout, so it is pinned in a `_graft_buckets`
    * marker at first open and a reopen under a different value fails
    * loudly (mixed bucket layouts in one directory assign rows to wrong
    * buckets and silently corrupt every bucketed probe).
    */
  val StateBuckets = 32
  val StateBucketsConf = "spark.graft.curation.stateBuckets"

  private def fsOf(spark: SparkSession, path: Path) =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolve the bucket count for `stateDir`: the configured value on
    * first open (pinned into the `_graft_buckets` marker), the pinned
    * value thereafter — raising if an EXPLICITLY set session conf
    * disagrees rather than letting a catalog-less reopen append a second
    * layout. With no explicit conf the marker alone governs, so
    * maintenance sessions (the `compact-state` CLI) need no conf
    * plumbing to reopen a non-default dir.
    */
  private def pinnedBuckets(spark: SparkSession, stateDir: String): Int = {
    val explicit = spark.conf.getOption(StateBucketsConf).map(_.trim.toInt)
    val marker = new Path(stateDir, "_graft_buckets")
    val fs = fsOf(spark, marker)
    // the claim winner writes content right after createNewFile, so a
    // concurrent reader can glimpse the empty claimed file — retry
    // briefly before declaring the marker corrupt
    def readMarker(): Int = {
      val deadline = System.currentTimeMillis() + 10000L
      var txt = ""
      var done = false
      while (!done) {
        val in = fs.open(marker)
        txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        done = txt.nonEmpty || System.currentTimeMillis() > deadline
        if (!done) Thread.sleep(50L)
      }
      require(txt.nonEmpty,
        s"bucket marker $marker is empty — its creator likely died " +
          "mid-claim; delete the marker and reopen the state dir")
      txt.toInt
    }
    def validated(pinned: Int): Int = {
      explicit.foreach(c => require(c == pinned,
        s"state dir $stateDir was written with $pinned buckets but " +
          s"$StateBucketsConf=$c — reopening under a different bucket " +
          "count would mix file layouts and corrupt bucketed probes"))
      pinned
    }
    if (fs.exists(marker)) validated(readMarker())
    else {
      val n = explicit.getOrElse(StateBuckets)
      fs.mkdirs(new Path(stateDir))
      // atomic claim: two sessions first-opening the same dir with
      // different configured counts must NOT both write (the overwrite
      // form let both pass the no-marker branch and append mixed bucket
      // layouts); only the createNewFile winner writes, the loser reads
      // back and validates like any reopen
      if (fs.createNewFile(marker)) {
        val out = fs.create(marker, true)
        try out.write(n.toString.getBytes("UTF-8")) finally out.close()
        n
      } else validated(readMarker())
    }
  }

  /** Deterministic catalog identifier for a state table rooted at `dir`
    * (the path itself can't be an identifier; the hash keeps two state
    * roots in one session distinct). Public so downstream operators and
    * the spec can reach the bucket-aware catalog entry directly.
    */
  def stateTable(dir: String, key: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"graft_stream_${key}_$h"
  }

  /** Append a batch's rows into the bucketed external state table at
    * `path` (created on first append; later appends must match the
    * catalog's bucket spec, so the layout can't silently degrade — the
    * PairStore.appendBucketed contract).
    *
    * Concurrency contract with [[compactState]] (the lease):
    *  - refuses to START while the [[CompactLock]] is held;
    *  - touches the [[AppendHeartbeat]] before AND after the write, so a
    *    compaction that acquires the lock mid-append keeps waiting until
    *    the appends have been quiet for a full settle interval;
    *  - if the lock appeared DURING the write, fails the batch loudly —
    *    the files may sit on either side of the compaction swap, so the
    *    checkpoint must replay the batch after the compaction (replays
    *    are safe: every state fold distinct-counts its keys/doc ids).
    * An append overlapping a compaction therefore either fully lands
    * (the compaction waited it out) or fully fails — never a silent drop.
    */
  private def appendState(df: DataFrame, table: String, path: String,
      keyCol: String, buckets: Int): Unit = {
    val parent = new Path(path).getParent
    val fs = fsOf(df.sparkSession, parent)
    val lock = new Path(parent, CompactLock)
    require(!fs.exists(lock),
      s"compactState is running on $parent — appends during compaction " +
        "would be dropped by the directory swap; stop the stream first " +
        s"(if no compaction is actually running — e.g. its driver died " +
        s"mid-run — delete the stale $lock file)")
    touch(fs, new Path(parent, AppendHeartbeat))
    df.write.mode("append")
      .option("compression", Writers.DefaultCompression)
      .option("path", path)
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)
    touch(fs, new Path(parent, AppendHeartbeat))
    if (fs.exists(lock))
      throw new IllegalStateException(
        s"append to $table raced a compaction on $parent (the lock " +
          "appeared mid-append) — failing the batch loudly so the " +
          "checkpoint replays it after the compaction finishes")
  }

  /** Create-or-overwrite an empty marker file; its mtime is the signal. */
  private def touch(fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit =
    fs.create(p, true).close()

  /** The stored state, bucket-aware when the catalog entry is live; a
    * plain parquet read of the same files when it isn't (fresh session
    * with an in-memory catalog — correct, just re-shuffles until the
    * next append re-registers the table). None before the first append.
    *
    * refreshTable first: state appends run through the STREAM's cloned
    * session, which invalidates the clone's relation cache but not this
    * session's — without the refresh a later batch probes a stale file
    * list and silently misses the rows the previous batch appended
    * (caught by StreamingCurationSpec's late-train scenario).
    */
  private def readState(spark: SparkSession, table: String,
      path: String): Option[DataFrame] =
    if (spark.catalog.tableExists(table)) {
      spark.catalog.refreshTable(table)
      Some(spark.table(table))
    } else {
      val p = new Path(path)
      if (fsOf(spark, p).exists(p)) Some(spark.read.parquet(path)) else None
    }

  def start(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      stateDir: String,
      outDir: String,
      rates: Map[String, Int],
      defaultRate: Int,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val trainFpDir = s"$stateDir/train_fp"
    val testDocsDir = s"$stateDir/test_docs"
    val trainFpTbl = stateTable(stateDir, "train_fp")
    val testDocsTbl = stateTable(stateDir, "test_docs")
    val buckets = pinnedBuckets(spark, stateDir)
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "json"),
        s"$outDir/_checkpoint", trigger) { b =>
      // split + fingerprint computed ONCE per batch, reused across the
      // probe, retro-probe, and both state appends
      val t = b.pins.pin(b.df.select(
          col("doc_id"), Curation.splitCol.as("split"),
          TextOps.fingerprint(col("text")).as("fp")))
      val newTrain = t.filter(col("split") === "train")
        .select(col("fp")).distinct()
      val newTest = t.filter(col("split") === "test")
        .select(col("doc_id"), col("fp"))
      // new test docs vs train history and vs this batch's own train
      // fps — separate probes keep the stored side's bucketing live
      // (duplicate hits are fine: the fold distinct-counts doc_id)
      val contStored = readState(spark, trainFpTbl, trainFpDir)
        .map(st => newTest.join(st, Seq("fp"), "left_semi"))
      val contBatch = newTest.join(newTrain, Seq("fp"), "left_semi")
      // new train fingerprints vs already-stored test docs (late train)
      val contLate = readState(spark, testDocsTbl, testDocsDir)
        .map(_.join(newTrain, Seq("fp"), "left_semi"))
      // state appends FIRST, then the distinct-folded contaminated
      // output, then the additive mixture counts LAST: if anything up
      // to the mixture write fails (including an append racing a
      // compaction), the checkpoint replay re-appends rows that every
      // downstream fold distinct-counts away — and the one sink whose
      // fold is NOT idempotent (mixture sums) runs only once, on the
      // attempt that reaches it. Probing after the append is sound:
      // the extra self-hits it can surface are exactly contBatch's,
      // and the fold distinct-counts doc_id.
      appendState(newTrain, trainFpTbl, trainFpDir, "fp", buckets)
      appendState(newTest, testDocsTbl, testDocsDir, "fp", buckets)
      (Seq(contBatch) ++ contStored ++ contLate)
        .reduce(_ unionByName _)
        .select(col("doc_id"))
        .write.mode("append")
        .option("compression", Writers.DefaultCompression)
        .parquet(s"$outDir/contaminated")
      Curation.mixtureCounts(b.df, rates, defaultRate)
        .write.mode("append")
        .option("compression", Writers.DefaultCompression)
        .parquet(s"$outDir/mixture")
    }
  }

  /** Streaming N-GRAM decontamination — the q77 semantics incrementally
    * (the same state shape as [[start]]'s fingerprint check, at 8-gram
    * granularity): per micro-batch, each doc's distinct gram keys are
    * computed ONCE ([[graft.llm.Curation.gramKeys]]); the batch's
    * test-doc grams probe the persisted train-gram index, the batch's
    * train grams retro-probe the persisted test-gram table (late-arriving
    * train contamination is still caught), and both state tables grow by
    * append only — history is never re-tokenized.
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
    val trainGramDir = s"$stateDir/train_grams"
    val testGramDir = s"$stateDir/test_grams"
    val trainGramTbl = stateTable(stateDir, "train_grams")
    val testGramTbl = stateTable(stateDir, "test_grams")
    val buckets = pinnedBuckets(spark, stateDir)
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "json"),
        s"$outDir/_checkpoint", trigger) { b =>
      val grams = b.pins.pin(Curation.gramKeys(b.df, n))
      val newTrain = grams.filter(col("split") === "train")
        .select(col("k")).distinct()
      val newTest = grams.filter(col("split") === "test")
        .select(col("doc_id"), col("k"))
      // forward probes: vs stored train grams (bucketed side stays
      // exchange-free) and vs this batch's own train grams
      val hitsStored = readState(spark, trainGramTbl, trainGramDir)
        .map(st => newTest.join(st, Seq("k"), "left_semi"))
      val hitsBatch = newTest.join(newTrain, Seq("k"), "left_semi")
      // retro-probe: new train grams vs already-stored test grams
      val hitsLate = readState(spark, testGramTbl, testGramDir)
        .map(_.join(newTrain, Seq("k"), "left_semi"))
      // appends before the hits write (see start(): replays after a
      // loud append-race failure re-append rows the distinct folds
      // ignore; self-hits surfaced by probing post-append are exactly
      // hitsBatch's pairs)
      appendState(newTrain, trainGramTbl, trainGramDir, "k", buckets)
      appendState(newTest, testGramTbl, testGramDir, "k", buckets)
      (Seq(hitsBatch) ++ hitsStored ++ hitsLate)
        .reduce(_ unionByName _)
        .write.mode("append")
        .option("compression", Writers.DefaultCompression)
        .parquet(s"$outDir/gram_hits")
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
    * caught), and both state tables grow by append only — history is
    * never re-embedded or re-assigned.
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
    val trainDir = s"$stateDir/train_vecs"
    val testDir = s"$stateDir/test_vecs"
    val trainTbl = stateTable(stateDir, "train_vecs")
    val testTbl = stateTable(stateDir, "test_vecs")
    val buckets = pinnedBuckets(spark, stateDir)
    val cb = spark.read.parquet(codebookDir).select(col("cell"), col("cv"))
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "json"),
        s"$outDir/_checkpoint", trigger) { b =>
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
      val hitsStored = readState(spark, trainTbl, trainDir)
        .map(st => hits(newTest, st))
      val hitsBatch = hits(newTest, newTrain)
      val hitsLate = readState(spark, testTbl, testDir)
        .map(st => hits(st, newTrain))
      // appends first (see start(): a replay after an append-race
      // failure re-appends rows the distinct fold ignores)
      appendState(newTrain, trainTbl, trainDir, "cell", buckets)
      appendState(newTest, testTbl, testDir, "cell", buckets)
      (Seq(hitsBatch) ++ hitsStored ++ hitsLate)
        .reduce(_ unionByName _)
        .write.mode("append")
        .option("compression", Writers.DefaultCompression)
        .parquet(s"$outDir/sem_hits")
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
    * [[compactState]] runs; [[appendState]] refuses to append under it.
    * Contains its owner + claim timestamp for stale-lock forensics. If
    * the owning driver died mid-compaction the lock stays behind and
    * trips every append and compaction: it is then safe to DELETE the
    * file once no compaction JVM is alive (or pass `force = true` /
    * `compact-state <dir> force` on the CLI).
    */
  val CompactLock = "_graft_compacting"

  /** Mtime-bearing marker [[appendState]] touches around every state
    * write; [[compactState]]'s lease wait keys off its age.
    */
  val AppendHeartbeat = "_graft_last_append"

  /** Fold the small files the per-batch appends accumulate in every
    * state table under `stateDir`, PRESERVING the bucket layout (a plain
    * directory rewrite would strip the bucket ids from the file names
    * and silently demote every later probe to a re-shuffle). Returns
    * per-table file counts after compaction.
    *
    * Crash-safe: the compacted copy is written to a SIBLING path first —
    * reading the old table while writing a new one needs no snapshot, so
    * the original files stay the durable source of truth until the new
    * copy is complete — then swapped in with [[Writers.replaceDir]]. At
    * every instant a complete copy of the state exists ON DISK, and a
    * crash mid-swap is put back mechanically by the next compaction (it
    * runs [[Writers.recoverDir]] before re-registering a table the
    * catalog lacks); an executor loss mid-write loses only the stage.
    * The earlier
    * in-place form overwrote the only durable copy from a
    * localCheckpoint snapshot, whose executor-memory blocks cannot be
    * recomputed after the truncate.
    *
    * Concurrency with a RUNNING stream on the same stateDir is a LEASE,
    * not just a tripwire (the r8 form could still drop an append that
    * was in flight when the lock appeared):
    *  - the [[CompactLock]] refuses concurrent appends and compactions;
    *  - after acquiring the lock, the compaction WAITS until the newest
    *    [[AppendHeartbeat]] is at least `settleMillis` old — an append
    *    that slipped past the lock check heartbeats before and after its
    *    write, so the swap cannot start while one is plausibly in
    *    flight (set `settleMillis` >= the stream's trigger interval);
    *  - an append that completes under the lock fails ITS batch loudly
    *    (see [[appendState]]) — replayed by the checkpoint after the
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
      val tables = Seq(
        ("train_fp", "fp"), ("test_docs", "fp"),
        ("train_grams", "k"), ("test_grams", "k"),
        ("train_vecs", "cell"), ("test_vecs", "cell"))
      tables.flatMap { case (name, keyCol) =>
        val tbl = stateTable(stateDir, name)
        val path = s"$stateDir/$name"
        // a maintenance session (the compact-state CLI) starts with an
        // empty in-memory catalog: re-register the bucketed entry from
        // the files (put back first if a crashed swap left them aside) +
        // the pinned bucket count before compacting
        if (!spark.catalog.tableExists(tbl) &&
            Writers.recoverDir(spark, path) != "missing")
          Writers.registerBucketedTable(spark, tbl, path, keyCol, buckets)
        if (!spark.catalog.tableExists(tbl)) None
        else Some(name -> Writers.compactBucketedTable(
          spark, tbl, path, keyCol, buckets))
      }.toMap
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
    // distinct, not count(1): a batch replayed after an append-race
    // failure re-appends its test docs, and n_test must not inflate
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
