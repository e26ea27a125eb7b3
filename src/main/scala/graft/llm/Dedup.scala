package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Pins, Tables}
import graft.functions.{Fns, MinHashSig => MinHashSigExpr}
import graft.plans.Clones
import graft.queries.Q

/** Deduplication operators for LLM training-data pipelines, over the
  * `documents` table: exact (hash groupBy), exact n-gram Jaccard via an
  * inverted shingle index, MinHash+LSH banding, and SimHash banding.
  *
  * Scale design (the part that must survive 100 TB):
  *  - NOTHING here is all-pairs. Candidate generation is always a
  *    shuffle-join on a short key (shingle, band hash, simhash band), so
  *    cost is proportional to the number of colliding pairs, not n².
  *  - MinHash signatures are computed MAP-SIDE from the shingle array
  *    (`array_min(transform(...))`) — no explode, no shuffle until the
  *    band join itself.
  *  - All hashing uses xxhash64 over seeded strings: deterministic across
  *    runs/executors, no RNG state to synchronize.
  */
object Dedup {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** Deterministic 1/4 calibration sample (q199/q200): md5-bucket of
    * doc_id with the ":cal" salt — the repo's salted-md5 sampling
    * convention (q59/q67/q81), a pure function of the id, so the
    * DuckDB oracle replays the identical subset. Calibration reports
    * have pair-quadratic truth joins; the sample is what keeps their
    * cost bounded at any corpus size (the bandRecallReport Scaladoc's
    * own 100 TB prescription). */
  private def calSample(df: DataFrame): DataFrame =
    df.filter(pmod(
      conv(substring(
        md5(concat(col("doc_id").cast("string"), lit(":cal"))), 1, 8),
        16, 10).cast("long"), lit(4)) === 0)

  /** Spread rows across the full shuffle-partition count BEFORE per-row
    * heavy computation. The documents table arrives as few parquet row
    * groups (often one), so without this every interpreted array-lambda
    * (shingling, signatures) runs on a single core — measured 22 s vs
    * <1 s at sf0.1. At cluster scale the same repartition also defeats
    * input-file skew. The shuffled payload (doc_id + text) is tiny
    * relative to the compute it unlocks.
    *
    * Two variants (r21): the bare `repartition(col)` is an
    * AQE-COALESCIBLE exchange — right for the shingle self-join family,
    * whose deep multi-exchange pipelines measured 10–15 % SLOWER with a
    * pinned width (more, smaller shuffle blocks downstream; q143/q147/
    * q74/q101 A/B) — while [[spreadWide]] pins the session's
    * shuffle-partition count so AQE's byte-sized coalescing cannot fold
    * a compute-heavy, byte-light stage back onto one core: the
    * positional-gram family's tokenize/gram stages ran 1–6 tasks bare
    * (q137 2.47 s → 1.50 s pinned, q139 2.74 → 1.86, q165 2.63 → 1.86,
    * q138/q166 −17–22 %). The pinned count is the cluster-tuned conf,
    * never a local constant; at TB scale the exchange exceeds the
    * advisory size and the two forms plan identically.
    */
  private def spread(df: DataFrame): DataFrame = df.repartition(col("doc_id"))

  /** [[spread]] with the partition count PINNED (non-coalescible) — for
    * stages whose per-row compute dwarfs their bytes (positional grams,
    * token reassembly); see the variant note above.
    */
  private def spreadWide(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      col("doc_id"))

  /** Distinct 3-gram word shingles over an ALREADY-MATERIALIZED token
    * array column. The input must be a plain attribute, not the split()
    * expression itself: expressions referenced inside a higher-order
    * lambda are re-evaluated on every lambda invocation (no CSE), so an
    * inlined split() would re-run the regex ~3x per shingle —
    * measured 15 s vs <1 s over 5,000 docs at sf0.1.
    */
  def shingleArrayFromTokens(ts: Column): Column =
    array_distinct(
      when(size(ts) >= 3,
        transform(sequence(lit(1), size(ts) - 2), i =>
          concat_ws(" ",
            element_at(ts, i),
            element_at(ts, i + 1),
            element_at(ts, i + 2))))
        .otherwise(array().cast("array<string>")))

  /** doc_id + materialized shingle array (tokens projected first so the
    * tokenizer runs exactly once per row — see shingleArrayFromTokens).
    */
  def withShingleArray(df: DataFrame): DataFrame =
    spread(df)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      // emptiness guard HERE, at token level: a pushed-down copy of this
      // filter costs one split() per row; a size(sh) filter would inline
      // the whole shingle lambda chain (see shingleArrayFromTokens note)
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), shingleArrayFromTokens(col("ts")).as("sh"))

  /** doc_id -> exploded distinct shingles (the inverted-index rows). */
  def shingles(df: DataFrame): DataFrame =
    withShingleArray(df).select(col("doc_id"), explode(col("sh")).as("s"))

  /** doc_id + distinct xxhash64 shingle hashes via the native
    * ShingleHashes expression: tokenize → shingle → hash → dedupe in one
    * compiled pass per row, no intermediate shingle-string array. The
    * 8-byte hash replaces the shingle string as join/minhash input, so
    * the inverted-index shuffle carries longs instead of ~20-byte
    * strings. (HOF formulation kept above as the reference semantics —
    * FnsSpec pins native == HOF+xxhash64.)
    */
  def withShingleHashes(df: DataFrame): DataFrame =
    withShingleHashesFromTokens(
      spread(df).select(col("doc_id"), TextOps.tokens(col("text")).as("ts")))

  /** Same, over an ALREADY-TOKENIZED (doc_id, ts) projection — the
    * shared-scan form: a caller that needs the token arrays for another
    * branch too (q61's quality gates) tokenizes once behind one explicit
    * exchange and both consumers reuse it (ReuseExchange), instead of
    * re-scanning and re-tokenizing the corpus per branch.
    */
  def withShingleHashesFromTokens(tok: DataFrame): DataFrame =
    tok
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), Fns.shingleHashes(col("ts")).as("hs"))

  /** Document-frequency cap for the inverted shingle index. A shingle
    * shared by m documents emits m*(m-1)/2 join rows in ONE reducer's key
    * group — a boilerplate 3-gram ("terms of service …") shared by 10^6
    * docs at 100 TB is a task-killing skew key. Shingles past the cap are
    * near-universal boilerplate and contribute almost nothing to Jaccard
    * discrimination, so the standard fix is to drop them from the index
    * and compute Jaccard over the capped shingle space (cf. common-term
    * filtering in near-dup detection).
    */
  val DefaultMaxShingleDf = 64

  /** Inverted shingle-hash index rows (doc_id, s, n) with the hot-shingle
    * cap applied: shingle hashes whose document frequency exceeds maxDf
    * are dropped, and `n` is the doc's POST-cap shingle count so Jaccard
    * is consistent (intersection and union over the same capped space).
    *
    * Scale shape: the df pass is a groupBy on the 8-byte hash (map-side
    * combine, short rows); the hot set it emits is small by construction
    * (only keys with df > maxDf), so the anti-join broadcasts; the
    * per-doc recount is one window over doc_id, whose group size is
    * bounded by document length — no skew.
    */
  def invertedShingleIndex(df: DataFrame, maxDf: Int = DefaultMaxShingleDf): DataFrame =
    invertedShingleIndexFromHashes(withShingleHashes(df), maxDf)

  private def invertedShingleIndexFromHashes(hashes: DataFrame, maxDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one explicit exchange on s that BOTH consumers (the df pass and the
    // anti-join probe side) read via ReuseExchange — without it each
    // branch re-runs the tokenize+shingle+hash scan, the expensive part
    val sh = hashes
      .select(col("doc_id"), explode(col("hs")).as("s"))
      .repartition(col("s"))
    val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("s"))
    sh.join(hot, Seq("s"), "left_anti")
      .select(col("doc_id"), col("s"),
        count(lit(1)).over(Window.partitionBy(col("doc_id"))).as("n"))
  }

  /** Near-dup pairs by n-gram Jaccard over the capped inverted index.
    * "Hash" Jaccard, not literally exact: intersections count 64-bit
    * xxhash64 shingle hashes, so a hash collision can inflate a count —
    * negligible in practice but probabilistic by construction (the
    * string-shingle formulation in `shingles` is the exact reference
    * semantics, pinned equivalent in FnsSpec/DedupSpec).
    *
    * The self-join is left to the planner (SortMergeJoin): a
    * shuffle_hash hint measured ~15% faster at sf0.1 (warm, one box), but
    * SHJ's build side doesn't spill — on a 100 TB index one fat
    * partition would OOM where SMJ degrades to disk. Deliberate choice
    * of robustness over the local win.
    */
  def hashJaccardPairs(df: DataFrame, minJaccard: Double,
      maxDf: Int = DefaultMaxShingleDf): DataFrame =
    jaccardPairsFromIndex(invertedShingleIndex(df, maxDf), minJaccard)

  /** [[hashJaccardPairs]] over a pre-tokenized (doc_id, ts) projection —
    * see [[withShingleHashesFromTokens]] for when to use this form.
    */
  def hashJaccardPairsFromTokens(tok: DataFrame, minJaccard: Double,
      maxDf: Int = DefaultMaxShingleDf): DataFrame =
    jaccardPairsFromIndex(
      invertedShingleIndexFromHashes(withShingleHashesFromTokens(tok), maxDf),
      minJaccard)

  private def jaccardPairsFromIndex(idx: DataFrame, minJaccard: Double): DataFrame = {
    val inter = idx.as("a")
      .join(idx.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
    val j = col("inter").cast("double") /
      (col("na") + col("nb") - col("inter"))
    inter
      .filter(j >= minJaccard)
      .select(col("d1"), col("d2"), round(j, 4).as("jaccard"))
  }

  /** Dedup threshold-sweep calibration over an existing (d1, d2, jaccard)
    * pair frame: pair/doc counts at every candidate Jaccard threshold
    * (0.5–0.9) — the report that picks minJaccard BEFORE a full dedup
    * run (too low over-merges, too high leaves duplication; this shows
    * the cliff). Thresholds compare as integer basis points
    * (round(jaccard·10000)) so bucket edges are engine-exact; the
    * fan-out is a broadcast 5-row nested-loop against the pair frame
    * (linear in pairs) and both aggregates carry <= 5 keys.
    *
    * The pair frame is an INPUT, not derived here: q135 feeds it the
    * fresh build, while the stored route ([[PairStore.thresholdSweepBucketed]],
    * CLI `pairs sweep`) feeds it the persisted table — calibration as an
    * index read, no corpus re-scan/re-shingle (the sweep's entire cost
    * at 10× was the 19.9 s pair-graph build it used to re-derive).
    */
  def thresholdSweep(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    val p = pairs.select(col("d1"), col("d2"),
      round(col("jaccard") * 10000).cast("int").as("bp"))
    val thr = s.range(5, 10)
      .select((col("id") * 1000).cast("int").as("thr_bp"))
    val j = p.crossJoin(broadcast(thr))
      .filter(col("bp") >= col("thr_bp"))
    // r21: pair count and distinct-doc count from ONE aggregate over
    // ONE pass — the two branches each replayed the entire pair
    // pipeline upstream (DiagJobs: the two 0.6 s jobs of q135). Every
    // surviving pair contributes exactly two doc rows, so
    // n_pairs = count/2 on the exploded frame, integer-exact.
    val both = j
      .select(col("thr_bp"), explode(array(col("d1"), col("d2"))).as("doc"))
      .groupBy(col("thr_bp"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct(col("doc")).as("n_docs"))
    thr.join(both, Seq("thr_bp"), "left")
      .select((col("thr_bp") / lit(10000.0)).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("threshold"))
  }

  /** Minimum shared-run length (tokens) for exact-substring dedup — the
    * L of the suffix-window reduction. Public corpora use ~50 BPE tokens
    * (Lee et al. 2022); the synthetic test corpus's docs are ~60 words,
    * so the default is proportionally smaller.
    */
  val ExactSubstringMinRun = 8

  /** Exact-substring duplicate spans — the suffix-array dedup primitive
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"; github deduplicate-text-datasets), re-expressed for
    * a distributed engine: every MAXIMAL run of >= minRun tokens shared
    * VERBATIM between two documents, as (d1, d2, p1, p2, len) with
    * 1-based token offsets. Unlike shingle-overlap dedup (q56: "do these
    * docs share vocabulary"), this reports the exact duplicated REGIONS,
    * at arbitrary length — the operator that finds boilerplate, quoted
    * passages, and licensing headers for surgical removal rather than
    * whole-doc dropping.
    *
    * Reduction (why no suffix ARRAY is needed): a shared run of length
    * M >= L yields exactly M-L+1 consecutive matching positional
    * L-grams at one fixed alignment (p1 - p2 constant), and conversely.
    * So the single-machine suffix sort + adjacent-common-prefix scan
    * becomes, Spark-shaped:
    *   1. positional depth-L suffix keys per doc (map-side: the L-gram
    *      starting at every token position, xxhash64'd so the exchange
    *      carries 8-byte longs, the q56 convention);
    *   2. ONE equi-join on the key — the shuffle's hash-sort IS the
    *      suffix sort, restricted to depth L;
    *   3. gaps-and-islands along each (d1, d2, diagonal): consecutive
    *      p1 merge into maximal runs, len = islandSize + L - 1. Window
    *      groups are bounded by doc length — no skew.
    *
    * The same df cap as the shingle index guards the join against
    * boilerplate grams (a gram in 10^6 docs is a task-killing key and a
    * span any doc shares with MOST of the corpus — cap, report, move
    * on); capped grams can split a maximal span, the documented
    * deviation the oracle mirrors exactly.
    */
  def exactSubstringSpans(df: DataFrame,
      minRun: Int = ExactSubstringMinRun,
      maxDf: Int = DefaultMaxShingleDf): DataFrame =
    exactSubstringSpans0(df, minRun, maxDf)
      .orderBy(col("d1"), col("d2"), col("p1"), col("p2"))

  private def exactSubstringSpans0(df: DataFrame, minRun: Int,
      maxDf: Int): DataFrame = {
    val grams = positionalGrams(df, minRun)
    // df cap: one exchange on g that both the count pass and the probe
    // read (ReuseExchange). The hot set is NOT forced broadcast: at
    // L=8 on a web corpus every common 8-word phrase is hot, so the
    // over-cap gram list grows with the corpus — the anti-join stays
    // on the g exchange both sides already share (zero extra shuffle),
    // and AQE may still broadcast it when stats say it is tiny.
    val sh = grams.repartition(col("g"))
    val hot = sh.groupBy(col("g")).agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") > maxDf)
      .select(col("g"))
    val idx = sh.join(hot, Seq("g"), "left_anti")
    val m = idx.select(col("doc_id").as("d1"), col("p").as("p1"), col("g"))
      .join(idx.select(col("doc_id").as("d2"), col("p").as("p2"), col("g")),
        Seq("g"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("p1"), col("p2"))
    diagonalIslands(m, minRun)
  }

  /** Positional depth-L suffix keys: (doc_id, p, g) with 1-based token
    * offset p and g = xxhash64 of the L-gram starting at p. Map-side
    * only (ts is a materialized attribute so the element_at chain in
    * the lambda never re-runs the tokenizer — the shingleArrayFromTokens
    * lesson); the 8-byte hash is what every downstream exchange carries.
    * Shared by the batch span operators and the streaming gram-index
    * probe ([[graft.streaming.StreamingDedup.startSpans]]).
    *
    * `wide` (default true, r21) pins the spread's partition count so
    * AQE cannot fold the gram stage onto few cores (the [[spreadWide]]
    * note) — the batch operators measured 17–39 % faster; streaming
    * passes false so its per-MICRO-BATCH frames keep the coalescible
    * exchange (32 scheduled tasks per small batch is pure overhead
    * there; the per-batch plan is the rehearsal-measured optimum).
    */
  private[graft] def positionalGrams(df: DataFrame, minRun: Int,
      wide: Boolean = true): DataFrame = {
    val tok = (if (wide) spreadWide(df) else spread(df))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= minRun)
    tok
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("ts")) - (minRun - 1)),
          i => xxhash64(concat_ws(" ",
            (0 until minRun).map(k => element_at(col("ts"), i + k)): _*))))
          .as(Seq("off", "g")))
      .select(col("doc_id"), (col("off") + 1).cast("long").as("p"), col("g"))
  }

  /** Gaps-and-islands maximal-run reduction over matched positional-gram
    * hits `m` = (d1, d2, p1, p2): consecutive p1 at one fixed alignment
    * (diag = p1 - p2) merge into maximal runs, len = islandSize + L - 1.
    * Window groups are bounded by doc length — no skew.
    */
  private[graft] def diagonalIslands(m: DataFrame, minRun: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("d1"), col("d2"), col("diag"))
      .orderBy(col("p1"))
    m.withColumn("diag", col("p1") - col("p2"))
      .withColumn("grp", col("p1") - row_number().over(w))
      .groupBy(col("d1"), col("d2"), col("diag"), col("grp"))
      .agg(min(col("p1")).as("p1"), min(col("p2")).as("p2"),
        (count(lit(1)) + minRun - 1).cast("long").as("len"))
      .select(col("d1"), col("d2"), col("p1"), col("p2"), col("len"))
  }

  /** Union per-key token intervals [s, e] into disjoint merged runs
    * (key, mn, mx) — classic running-max island detection. Window
    * groups are bounded by intervals-per-key (≤ doc length / minRun).
    */
  private def mergeIntervals(sp: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col(key)).orderBy(col("s"), col("e"))
    sp
      .withColumn("pmax",
        max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp",
        sum(when(col("pmax").isNull || col("s") > col("pmax"), 1).otherwise(0))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(key), col("grp"))
      .agg(min(col("s")).as("mn"), max(col("e")).as("mx"))
      .select(col(key), col("mn"), col("mx"))
  }

  /** The SAME span answer as [[exactSubstringSpans]] through
    * exact-payload precollapse — the q86/q134 scale fix, for substrings:
    * on a clone-heavy corpus the direct form pays Σ(clone-group size)²
    * join rows PER GRAM POSITION (every gram of every clone matches
    * every other clone — the worst case the 10×-replica rehearsal
    * corpus IS by construction). Collapse exact clones
    * ([[graft.plans.Clones]]) BEFORE the gram join, run the reduction
    * over unique texts only, then reconstruct members afterwards:
    *  - cross-group rep spans expand to every member combination with
    *    the rep offsets (identical texts ⇒ identical positions),
    *    orientation re-canonicalized to d1 < d2;
    *  - intra-group pairs share their WHOLE doc: one (1, 1, n_tokens)
    *    span per member pair when the text reaches minRun.
    * Output == direct output row for row (DedupSpec pins it; the
    * registry runs q139 under q137's oracle VERBATIM). The expansion is
    * output-sized — inherent to the span contract — while the JOIN cost
    * drops from Σg² to unique-text work.
    */
  def exactSubstringSpansPrecollapsed(df: DataFrame,
      minRun: Int = ExactSubstringMinRun,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val c = Clones.collapse(df, "text")
    // intra-group: identical texts share everything — one whole-doc
    // span per member pair when the text reaches minRun
    val whole = c.reps.select(col("doc_id").as("rep"), lit(1L).as("p1"),
        lit(1L).as("p2"), size(TextOps.tokens(col("text"))).cast("long").as("len"))
      .filter(col("len") >= minRun)
    c.pairs(exactSubstringSpans0(c.reps, minRun, maxDf), whole, Seq("p1" -> "p2"))
      .orderBy(col("d1"), col("d2"), col("p1"), col("p2"))
  }

  /** Per-document duplicated-token coverage — the corpus-level "how much
    * of my data is verbatim duplication" report the span operator
    * exists to drive (the Lee et al. headline statistic): union the
    * [[exactSubstringSpans]] intervals per doc (classic interval merge:
    * running-max island detection), count covered positions, ratio
    * against token length.
    *
    * Computed the PRECOLLAPSED way, which for coverage is fully LINEAR —
    * not even output-sized pair expansion: a member of a clone group of
    * size >= 2 (and length >= minRun) is whole-doc covered by its clone
    * pair, full stop; a singleton's intervals are exactly its rep's
    * cross-group span intervals (identical texts ⇒ identical offsets,
    * every partner contributes the same rep-level interval). So the
    * merge runs over UNIQUE-text spans only and members are labeled by
    * one shuffle join on doc_id against the clone groups
    * ([[graft.plans.Clones]]). Value-identical to deriving from the direct
    * span list — the q139 == q137 equality transfers interval-for-
    * interval (DedupSpec pins the values; the oracle derives from the
    * direct reduction). At the 30x clone rehearsal the direct derivation
    * paid 3.6 GB shuffle + 11 GB spill; this form does the same report
    * at unique-corpus cost.
    */
  def exactSubstringCoverage(df: DataFrame,
      minRun: Int = ExactSubstringMinRun,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val c = Clones.collapse(df, "text")
    val repSpans = exactSubstringSpans0(c.reps, minRun, maxDf)
    val sp = repSpans
      .select(col("d1").as("rep"), col("p1").as("s"),
        (col("p1") + col("len") - 1).as("e"))
      .unionByName(repSpans.select(col("d2").as("rep"), col("p2").as("s"),
        (col("p2") + col("len") - 1).as("e")))
    val repCov = mergeIntervals(sp, "rep")
      .groupBy(col("rep"))
      .agg(sum(col("mx") - col("mn") + 1).as("cross_dup"))
    spreadWide(df)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(c.members, Seq("doc_id"))
      .join(repCov, Seq("rep"), "left")
      .select(col("doc_id"), col("n_tokens"),
        when(col("sz") >= 2 && col("n_tokens") >= minRun, col("n_tokens"))
          .otherwise(coalesce(col("cross_dup"), lit(0L)))
          .cast("long").as("dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens"), 4)
          .as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Span-REMOVAL rewriter — the output half of Lee et al. 2022's
    * exact-substring dedup (the reference deduplicate-text-datasets tool
    * emits a CLEANED corpus, not just the span report): cut every
    * duplicated run from all but its first occurrence and reassemble
    * the surviving tokens.
    *
    * Keep-first contract (deterministic, oracle-replayable): in every
    * [[exactSubstringSpans]] pair (d1 < d2) the d1 copy is kept and the
    * d2-side interval [p2, p2+len-1] is removed; a doc's removed set is
    * the union of its d2-side intervals. Output per doc: n_tokens,
    * removed_tokens, clean_text (the kept tokens of the standard
    * tokenization, space-joined — token-level reassembly is the
    * contract, matching the tokenizer both engines share).
    *
    * Scale shape — fully LINEAR, like [[exactSubstringCoverage]] and
    * unlike the pair-expanded span list: the d2-side union of a doc
    * depends only on its clone group,
    *  - a non-rep member of a clone group (sz >= 2, n_tokens >= minRun)
    *    is whole-doc covered by its intra-group pair with the rep
    *    (min doc_id keeps the text) → clean_text = "";
    *  - a rep's d2-side intervals are exactly its rep-level spans with
    *    d2 = rep (a member of the partner group precedes it iff that
    *    group's rep — its min — does, which is the span's
    *    canonicalization);
    * so the interval merge runs over UNIQUE-text spans only, members
    * are labeled by one shuffle join on doc_id against the clone groups
    * ([[graft.plans.Clones]]), and the per-doc cut is a
    * map-side COMPILED two-pointer pass (the native IntervalCut
    * expression — O(tokens + intervals) per doc, replacing the
    * interpreted filter/exists HOF pair) against the doc's own (merged,
    * ≤ n_tokens/minRun) interval array — no token-level shuffle. The
    * equality with the direct d2-side derivation is the q139 == q137
    * equality transferred interval-for-interval (DedupSpec pins it; the
    * oracle replays the direct form).
    */
  def exactSubstringRemove(df: DataFrame,
      minRun: Int = ExactSubstringMinRun,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val c = Clones.collapse(df, "text")
    val repSpans = exactSubstringSpans0(c.reps, minRun, maxDf)
    val cut = repSpans.select(col("d2").as("rep"), col("p2").as("s"),
      (col("p2") + col("len") - 1).as("e"))
    val ivs = mergeIntervals(cut, "rep")
      .groupBy(col("rep"))
      .agg(sort_array(collect_list(struct(col("mn").cast("long").as("mn"),
        col("mx").cast("long").as("mx")))).as("ivs"))
    spreadWide(df)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .join(c.members, Seq("doc_id"))
      .join(ivs, Seq("rep"), "left")
      .select(col("doc_id"), col("rep"), col("sz"), col("ts"), col("ivs"),
        size(col("ts")).cast("long").as("n_tokens"))
      .withColumn("kept",
        when(col("doc_id") =!= col("rep") && col("sz") >= 2
            && col("n_tokens") >= minRun,
          slice(col("ts"), 1, 0))
          .when(col("ivs").isNull, col("ts"))
          // native two-pointer cut (r12 verdict #2): the filter/exists
          // HOF pair runs interpreted, O(tokens × intervals) lambda
          // dispatches per doc; DedupSpec pins bit-equality vs the HOF
          .otherwise(graft.functions.Fns.intervalCut(
            col("ts"), col("ivs"))))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long")
          .as("removed_tokens"),
        concat_ws(" ", col("kept")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Cut token intervals out of documents: given per-doc [s, e] token
    * intervals `cov` (doc_id, s, e — 1-based, possibly overlapping),
    * merge them and reassemble each doc's surviving tokens. Docs with
    * no interval pass through unchanged. Output matches
    * [[exactSubstringRemove]]'s shape: (doc_id, n_tokens,
    * removed_tokens, clean_text). The per-doc cut is a map-side
    * compiled two-pointer pass (native IntervalCut) against the merged
    * (≤ n_tokens-bounded) interval array — one shuffle join on doc_id,
    * no token-level shuffle. Shared by the batch rewriter's streaming
    * form ([[graft.streaming.StreamingDedup.startSpans]]).
    */
  private[graft] def cutIntervals(docs: DataFrame, cov: DataFrame): DataFrame = {
    val ivs = mergeIntervals(cov, "doc_id")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("mn").cast("long").as("mn"),
        col("mx").cast("long").as("mx")))).as("ivs"))
    spread(docs)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ts"), col("ivs"),
        size(col("ts")).cast("long").as("n_tokens"))
      .withColumn("kept",
        when(col("ivs").isNull, col("ts"))
          .otherwise(graft.functions.Fns.intervalCut(
            col("ts"), col("ivs"))))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long")
          .as("removed_tokens"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Directed containment pairs over the capped inverted index:
    * cont_fwd = |shingles(d1) ∩ shingles(d2)| / |shingles(d1)| (and
    * cont_rev for d2). High containment at LOW Jaccard is the
    * sub-document duplication signal symmetric measures miss — a short
    * doc quoted or boilerplate-wrapped inside a long one (the
    * RefinedWeb-style containment dedup decision). Same index and
    * intersection join as [[hashJaccardPairs]] — only the final
    * normalization differs, so the 100 TB shape (df-capped index, slim
    * s-keyed self-join, SMJ spill safety) carries over unchanged.
    */
  def containmentPairs(df: DataFrame, minContainment: Double,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val idx = invertedShingleIndex(df, maxDf)
    val inter = idx.as("a")
      .join(idx.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
    val cFwd = col("inter").cast("double") / col("na")
    val cRev = col("inter").cast("double") / col("nb")
    inter
      .filter(cFwd >= minContainment || cRev >= minContainment)
      .select(col("d1"), col("d2"),
        round(cFwd, 4).as("cont_fwd"), round(cRev, 4).as("cont_rev"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Winnowed document fingerprints (Schleimer et al. 2003, the MOSS
    * local-fingerprinting algorithm): hash every POSITIONAL k-gram, then
    * keep the minimum hash of each sliding window of `w` consecutive
    * k-gram hashes. Guarantees: any shared run of >= k + w - 1 tokens
    * between two docs shares at least one selected fingerprint, while
    * only ~2/(w+1) of all k-grams are kept — a density-bounded sketch
    * with a matching guarantee, unlike MinHash's probabilistic recall.
    *
    * Hashes are the MD5-derived 32-bit front end (native Md5Hash32Array
    * — `conv(substring(md5(s),1,8),16,10)` per element) so DuckDB
    * reproduces identical fingerprints in exact arithmetic (the
    * q59/q65 convention). Entirely map-side per-row HOFs: the only
    * shuffle is whatever the caller joins next. Returns (doc_id, fp)
    * with per-doc distinct fingerprints.
    */
  def winnowedFingerprints(df: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val minToks = k + w - 1
    val grams = transform(
      sequence(lit(1), size(col("ts")) - (k - 1)),
      i => concat_ws(" ",
        (0 until k).map(o => element_at(col("ts"), i + lit(o))): _*))
    df.select(col("doc_id"), graft.llm.TextOps.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= minToks)
      .select(col("doc_id"), graft.functions.Fns.md5Hash32(grams).as("hs"))
      .select(col("doc_id"), explode(
        graft.functions.Fns.winnowedMinima(col("hs"), w)).as("fp"))
  }

  /** Reference HOF formulation of the winnowing selection (pinned
    * bit-identical to the native WinnowedMinima in FnsSpec) — the
    * spelling the DuckDB oracle mirrors with list functions.
    */
  private[graft] def winnowedMinimaHof(hs: Column, w: Int): Column =
    array_distinct(transform(
      sequence(lit(1), size(hs) - (w - 1)),
      j => array_min(slice(hs, j, lit(w)))))

  /** Candidate pairs sharing >= `minShared` winnowed fingerprints — the
    * fingerprint-index join shape (same slim self-join as the inverted
    * shingle index, over a ~2/(w+1)-density sketch instead of every
    * k-gram, so the exchange carries a fraction of q32's rows).
    *
    * `maxFpDf` is the q32 hot-key cap, and the 10×/30× clone rehearsal
    * is why it is NOT optional: without it an exact-clone group of size
    * g contributes F·g²/2 join rows per fingerprint (88 GB of spill at
    * 30× — SCALE.md), the Ω(Σ df²) law of any equality-join candidate
    * generator. Fingerprints above the cap are boilerplate/clone mass;
    * exact dedup BEFORE winnowing (q86's pre-collapse ordering) is the
    * production pipeline's first line.
    */
  def winnowingPairs(df: DataFrame, minShared: Long = 2L,
      k: Int = 3, w: Int = 4,
      maxFpDf: Int = DefaultMaxShingleDf): DataFrame = {
    // one explicit exchange on fp read by BOTH the df pass and the
    // anti-join probe side (ReuseExchange — the invertedShingleIndex
    // shape), so the fingerprint scan runs once
    val fps = winnowedFingerprints(df, k, w).repartition(col("fp"))
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxFpDf)
      .select(col("fp"))
    val kept = fps.join(hot, Seq("fp"), "left_anti")
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("d1"), col("d2"))
  }

  /** Verify LSH candidate pairs with their true (uncapped) shingle-hash
    * Jaccard: the signature arrays are fetched by two equi-joins on the
    * doc ids — per-pair cost, never per-pair-of-corpus — and the
    * intersection is computed map-side from the two arrays. This is the
    * scale-safe route to EXACT near-dup decisions: LSH prunes the pair
    * space, this operator certifies the survivors.
    */
  def jaccardOnCandidates(df: DataFrame, candidates: DataFrame): DataFrame = {
    val sh = withShingleHashes(df)
    candidates.select(col("d1"), col("d2"))
      .join(sh.select(col("doc_id").as("d1"), col("hs").as("h1")), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("hs").as("h2")), Seq("d2"))
      .withColumn("i", size(array_intersect(col("h1"), col("h2"))))
      .select(col("d1"), col("d2"),
        round(col("i").cast("double") /
          (size(col("h1")) + size(col("h2")) - col("i")), 4).as("jaccard"))
  }

  /** LSH BANDING calibration: recall/precision of each (bands ×
    * rows-per-band) split of the SAME K-slot MD5 minhash signature
    * against the true near-dup pair set — the dedup-family analog of
    * the ANN recall reports (q133 IVF, q197 SQ8), and the number a
    * 100 TB dedup run needs BEFORE picking its banding: each split's
    * S-curve threshold is ~(1/bands)^(1/rows), so more, narrower bands
    * buy recall at the given Jaccard bar and pay for it in candidate
    * volume (precision). This report measures that trade on the actual
    * corpus instead of trusting the asymptotic formula.
    *
    * Ground truth: pairs with true set Jaccard >= `minJaccard` over
    * the md5 shingle-hash sets, enumerated through the df-capped
    * shared-shingle join (the q32 reduction — a pair ALL of whose
    * shared shingles exceed the df cap is invisible to the truth set;
    * the cap is what keeps truth enumeration off the all-pairs cliff,
    * and the banded candidates are graded against the same reachable
    * universe). Cost: one df-capped truth join plus one slim
    * (id, band-key) self-join per config over a shared exchange —
    * never corpus². At 100 TB, calibrate on a representative sample
    * (the operator takes any docs frame) and apply the chosen banding
    * corpus-wide.
    */
  def bandRecallReport(docsDf: DataFrame, minJaccard: Double = 0.5,
      cfgs: Seq[(Int, Int)] = Seq((2, 8), (4, 4), (8, 2))): DataFrame = Pins { pins =>
    require(cfgs.nonEmpty && cfgs.forall { case (b, r) =>
      b * r == Md5MinhashK }, s"each bands*rows must equal $Md5MinhashK")
    require(cfgs.map(_._1).distinct.size == cfgs.size,
      "band counts must be distinct (bands identifies the config)")
    val hv = withShingleArray(docsDf)
      .select(col("doc_id"),
        graft.functions.Fns.md5Hash32(col("sh")).as("hv"))
    // r21: materialize the signature side ONCE — it feeds the truth
    // pass (df + both tp join sides + both certify joins) AND both
    // banded candidate sides, and each lazy replay re-runs the
    // shingle + md5 + minhash lambda chain (DiagJobs: two 0.8 s jobs
    // in a 2.0 s query, each recomputing `side`).
    val side = pins.pin(hv.select(col("doc_id"),
      array_distinct(col("hv")).as("hvd"),
      graft.functions.Fns.md5MinhashSig(col("hv")).as("s")))
    // truth: df-capped shared-shingle pairs certified by true Jaccard
    val ex = side.select(col("doc_id"), explode(col("hvd")).as("h"))
    val keep = ex.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= DefaultMaxShingleDf).select("h")
    val exk = ex.join(keep, Seq("h"))
    val tp = exk.select(col("doc_id").as("d1"), col("h"))
      .join(exk.select(col("doc_id").as("d2"), col("h")), Seq("h"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val inter = size(array_intersect(col("h1"), col("h2")))
    val truth = tp
      .join(side.select(col("doc_id").as("d1"), col("hvd").as("h1")),
        Seq("d1"))
      .join(side.select(col("doc_id").as("d2"), col("hvd").as("h2")),
        Seq("d2"))
      .filter(inter.cast("double") /
        (size(col("h1")) + size(col("h2")) - inter) >= minJaccard)
      .select("d1", "d2")
    // candidates: every config's bands ride ONE exchange — the band
    // index is folded into the key string, so (bands, key) is the
    // complete join identity
    val banded = side.select(col("doc_id"),
      posexplode(array(cfgs.flatMap { case (b, r) =>
        (0 until b).map(bi =>
          struct(lit(b).as("bands"), lit(r).as("rpb"),
            concat_ws(",", lit(bi.toString) +: (0 until r).map(i =>
              element_at(col("s"), bi * r + i + 1).cast("string")): _*)
              .as("key")))
      }: _*)).as(Seq("pos", "bk")))
      .select(col("doc_id"), col("bk.bands").as("bands"),
        col("bk.rpb").as("rpb"), col("bk.key").as("key"))
    val cand = banded
      .select(col("doc_id").as("d1"), col("bands"), col("rpb"), col("key"))
      .join(banded.select(col("doc_id").as("d2"), col("bands"), col("key")),
        Seq("bands", "key"))
      .filter(col("d1") < col("d2"))
      .select("bands", "rpb", "d1", "d2").distinct()
    val truthCount = truth.agg(count(lit(1)).as("n_truth"))
    // |cfgs|-row grid; the ORDER goes on after landing (a checkpoint
    // scan does not promise to preserve a pre-checkpoint sort)
    pins.land(cand
      .join(truth.withColumn("t", lit(1)), Seq("d1", "d2"), "left")
      .groupBy("bands", "rpb")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("t").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      // 1-row aggregate: the repo's broadcast-crossJoin-of-artifact shape
      .crossJoin(broadcast(truthCount))
      .select(col("bands").cast("long").as("bands"),
        col("rpb").cast("long").as("rows_per_band"),
        col("n_truth"), col("n_candidates"), col("n_hits"),
        round(when(col("n_truth") === 0, lit(null))
          .otherwise(col("n_hits").cast("double") / col("n_truth")), 4)
          .as("recall"),
        round(col("n_hits").cast("double") / col("n_candidates"), 4)
          .as("precision")))
  }.orderBy(col("bands"))

  /** Banding choice over [[bandRecallReport]]: the one-row decision a
    * dedup run consumes. Rule: among splits whose measured recall at
    * the Jaccard bar clears `targetRecall`, take the highest-precision
    * one (fewest wasted candidate verifications — candidates are the
    * 100 TB cost), ties broken by fewer candidates then fewer bands;
    * if NO split clears the target, surface the max-recall split so
    * the report's failure is visible in the choice (meets_target =
    * false), not silently hidden. Calibrate on a sample, apply the
    * chosen (bands, rows) corpus-wide — the report is bounded, the
    * choice is free. */
  def chooseBanding(docsDf: DataFrame, minJaccard: Double = 0.5,
      targetRecall: Double = 0.9,
      cfgs: Seq[(Int, Int)] = Seq((2, 8), (4, 4), (8, 2))): DataFrame =
    bandRecallReport(docsDf, minJaccard, cfgs)
      .withColumn("meets_target", col("recall") >= targetRecall)
      .orderBy(col("meets_target").desc,
        when(col("meets_target"), col("precision"))
          .otherwise(col("recall")).desc,
        col("n_candidates").asc, col("bands").asc)
      .limit(1)

  /** The production dedup funnel with the exact-dup PRE-COLLAPSE the
    * 30× scale rehearsal proved necessary (SCALE.md): identical texts
    * are collapsed to one representative (min doc_id per md5(text))
    * BEFORE the near-dup pair graph, so clone groups never reach the
    * banded/inverted-index joins — whose cost is quadratic in
    * clone-group size (Ω(Σ bucket²)). Members are re-attached to their
    * representative's component afterward, so the output labeling
    * (doc_id → min reachable id) matches running the pair graph over
    * the full corpus whenever the df-cap bites equally (exact clones
    * share every shingle, hence every edge, with their rep — the min
    * reachable id is achieved at a rep by construction).
    *
    * Deliberate semantic delta vs q56 on clone-HEAVY corpora: shingle
    * document frequencies (the df-cap) are computed over
    * representatives, so boilerplate detection isn't distorted by
    * exact duplication — at 100 TB this is the more faithful df, and
    * the cheaper one.
    *
    * Scale shape: the collapse ([[graft.plans.Clones]]) is a slim
    * (doc_id, md5) groupBy with map-side combine — text never rides its
    * exchange (reps rejoin by left_semi on doc_id); the expand is one
    * join of per-doc (rep) against the rep-level component labels.
    */
  def dedupGroupsPrecollapsed(df: DataFrame, minJaccard: Double,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val c = Clones.collapse(df, "text")
    val repComp = connectedComponents(hashJaccardPairs(c.reps, minJaccard, maxDf))
      .select(col("node").as("rep"), col("comp"))
    c.members
      .join(repComp, Seq("rep"), "left")
      // exact-dup members cluster with their rep even when the rep has
      // no near-dup edges; unique singletons stay out (q56's contract:
      // only docs with at least one duplicate relation appear)
      .filter(col("sz") > 1 || col("comp").isNotNull)
      .select(col("doc_id"), coalesce(col("comp"), col("rep")).as("comp"))
  }

  val PageRankIters = 10
  val PageRankDamping = 0.85

  /** Per-node triangle counts over a d1<d2 pair table (q177's body).
    *
    * Degree-oriented wedge enumeration (Suri & Vassilvitskii, WWW'11):
    * each edge points from its (degree, id)-smaller endpoint to the
    * larger, so wedges form only among a node's OUT-edges — out-degree
    * is bounded by sqrt(2|E|) even on a hot clique, where id-ordered
    * enumeration would spin g^3/6 wedges at the clique's min-id node.
    * Each triangle materializes exactly once, at its orientation-minimal
    * corner.
    *
    * The pair pipeline behind `pairs` is usually the expensive part
    * (LSH banding + exact Jaccard verify), and this function references
    * it from FIVE subplans (degrees twice, orientation, wedge close) —
    * so it pins the pair table ONCE for the call.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = Pins { pins =>
    pins.land(triangleCountsOn(pins.pin(pairs.select(col("d1"), col("d2")))))
  }

  /** Local clustering coefficient per node: 2T / (deg·(deg−1)) — the
    * q177 triangle counts normalized by the wedge count, i.e. "what
    * fraction of my neighbours' possible pairs actually pair". ~1 on
    * clean near-dup cliques; a low-coefficient HIGH-degree node is the
    * false-positive bridge q177's raw counts only hint at. Same
    * one-materialization + degree-oriented machinery; one extra
    * pair-sized aggregate and a left join.
    */
  def clusteringCoefficients(pairs: DataFrame): DataFrame = Pins { pins =>
    val p = pins.pin(pairs.select(col("d1"), col("d2")))
    val deg = p.select(col("d1").as("doc_id"))
      .unionAll(p.select(col("d2").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    pins.land(deg
      .join(triangleCountsOn(p), Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(when(col("deg") >= 2,
          lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1))).otherwise(0.0), 4).as("coeff")))
  }

  /** Degree-oriented triangle enumeration over an ALREADY-materialized
    * d1<d2 pair table (see [[triangleCounts]] for the algorithm notes).
    */
  private def triangleCountsOn(p: DataFrame): DataFrame = {
    val deg = p.select(col("d1").as("n"))
      .unionAll(p.select(col("d2").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val keyed = p
      .join(deg.select(col("n").as("d1"), col("deg").as("g1")), Seq("d1"))
      .join(deg.select(col("n").as("d2"), col("deg").as("g2")), Seq("d2"))
    // d1 < d2 always holds, so (deg, id) orientation reduces to a
    // degree comparison with the id order as tie-break
    val oriented = keyed.select(
      when(col("g1") <= col("g2"), col("d1")).otherwise(col("d2")).as("src"),
      when(col("g1") <= col("g2"), col("d2")).otherwise(col("d1")).as("dst"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    val tri = wedges
      .join(p.as("cl"),
        least(col("b"), col("c")) === col("cl.d1") &&
          greatest(col("b"), col("c")) === col("cl.d2"))
      .select(col("a"), col("b"), col("c"))
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"))
  }

  /** Degree assortativity of the near-dup pair graph — the Pearson
    * correlation of endpoint degrees over every DIRECTED edge (both
    * orientations of each pair, the Newman 2002 convention). Positive:
    * hubs pair with hubs (boilerplate families referencing each other —
    * transitive-closure dedup will chain them); negative: hubs fan out
    * to leaves (template-plus-instances, safe to collapse onto the
    * hub). One number that says which dedup topology a corpus has
    * before committing to a collapse rule; q177/q181 then localize the
    * offending nodes.
    *
    * Shape: the degree aggregate and both endpoint joins are pair-sized
    * equi-shuffles (degree lookup is never a forced broadcast — the r11
    * rule); the Pearson fold runs [[graft.queries.Frontier.pearsonExact]]
    * — exact DECIMAL(38,0) integer sums, one double sqrt/divide at the
    * end, so the statistic is bit-stable under any aggregation order.
    * Same one-materialization discipline as [[clusteringCoefficients]]:
    * `pairs` is usually an expensive LSH pipeline and is referenced from
    * three subplans.
    */
  def degreeAssortativity(pairs: DataFrame): DataFrame = Pins { pins =>
    val p = pins.pin(pairs.select(col("d1"), col("d2")))
    val e = p.select(col("d1").as("src"), col("d2").as("dst"))
      .unionAll(p.select(col("d2").as("src"), col("d1").as("dst")))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "n")
    val xy = e
      .join(deg.select(col("n").as("src"), col("deg").as("gs")), Seq("src"))
      .join(deg.select(col("n").as("dst"), col("deg").as("gd")), Seq("dst"))
    pins.land(graft.queries.Frontier
      .pearsonExact(xy, col("gs"), col("gd"), "assortativity"))
  }

  /** k-core peel of the pair graph: repeatedly drop nodes with degree
    * < k (and their edges) for at most `maxRounds` rounds, returning
    * the surviving nodes with their in-core degree. The contract is
    * "exactly maxRounds peel rounds" — the loop exits early when a
    * round removes nothing, which leaves the identical result (peeling
    * only shrinks the edge set, so an unchanged edge COUNT is an
    * unchanged edge SET), and near-dup graphs are cliquish enough to
    * fixpoint in 1–3 rounds. The k-core is the cluster-CORE extraction
    * the bridge diagnostics (q177/q181) motivate: everything outside
    * the 2-core is tree-like fringe — chains of weak links that
    * transitive closure would merge but no triangle supports.
    *
    * Shape: each round is two semi-joins + one degree aggregate, all
    * keyed on node id (pair-sized equi-shuffles); the edge set is
    * pinned per round (bounded lineage) and the previous round's
    * blocks are released immediately. Early-exit reads only the edge
    * COUNT per round.
    */
  def kCore(pairs: DataFrame, k: Int, maxRounds: Int): DataFrame = Pins { pins =>
    def degrees(e: DataFrame): DataFrame = e
      .select(col("d1").as("n")).unionAll(e.select(col("d2").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val e0 = pins.pin(pairs.select(col("d1"), col("d2")))
    val core = pins.iterate("kCore", (e0, e0.count()), maxRounds) { (e, _) =>
      val surv = degrees(e).filter(col("deg") >= k).select(col("n"))
      e.join(surv.withColumnRenamed("n", "d1"), Seq("d1"), "left_semi")
        .join(surv.withColumnRenamed("n", "d2"), Seq("d2"), "left_semi")
        .select(col("d1"), col("d2"))
    } { (_, nEdges, e2) =>
      val n2 = e2.count()
      (n2, n2 == nEdges)
    }
    pins.land(degrees(core.frame).select(col("n").as("doc_id"), col("deg")))
  }

  /** Oracle stages for [[kCore]]: `rounds` unrolled peel rounds over a
    * `p0(d1, d2)` CTE — each round recomputes degrees, keeps nodes
    * with deg >= k, and restricts edges to surviving endpoints. Every
    * stage is MATERIALIZED: each p_i is referenced three times by
    * round i+1, so DuckDB's default CTE inlining would re-expand the
    * whole shingle pipeline 3^rounds times (observed as a
    * file-handle explosion, not just slowness).
    */
  private def kCoreOracleStages(k: Int, rounds: Int): String =
    (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
                SELECT n, COUNT(*) AS deg FROM (
                  SELECT d1 AS n FROM p${i - 1}
                  UNION ALL SELECT d2 FROM p${i - 1}) u GROUP BY 1),
              s$i AS MATERIALIZED (SELECT n FROM d$i WHERE deg >= $k),
              p$i AS MATERIALIZED (
                SELECT p.d1, p.d2 FROM p${i - 1} p
                JOIN s$i a ON a.n = p.d1
                JOIN s$i b ON b.n = p.d2)"""
    }.mkString(",\n              ")

  /** Iterations the most recent [[pageRank]] call actually ran —
    * diagnostic only (spec observability for the convergence exit; a
    * driver-side single-threaded convention like the stores' counters).
    */
  @volatile private[graft] var lastPageRankIters: Int = 0

  /** PageRank over the symmetrized pair graph — "which document is the
    * hub of its near-dup neighborhood" (a centrality alternative to
    * q89's most-tokens best-of-cluster rule: the highest-ranked member
    * is the one most others resemble). Each iteration is ONE join + ONE
    * aggregate job: edges carry rank/out-degree to their targets, a
    * map-side-combined sum collects it, and the teleport term is a
    * literal — nothing iterative touches the driver. The edge list with
    * degrees is pinned once and reused by every iteration; ranks are
    * re-pinned every 3 rounds so lineage stays bounded, with an
    * L1-delta convergence exit at each pin (near-dup graphs are
    * cliques that fixpoint in ~1-3 rounds — the iteration budget is a
    * ceiling, not the cost). The final ranks land on a reliable
    * checkpoint. The symmetric graph has no dangling nodes, so mass is
    * conserved without a dangling-sink term. Returns (id, rank) with
    * Σ rank = 1.
    */
  def pageRank(pairs: DataFrame, iters: Int = PageRankIters,
      damping: Double = PageRankDamping,
      tol: Double = 1e-9): DataFrame = Pins { pins =>
    val sym = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("cd"))
    val edges = pins.pin(sym.join(deg, "src"))
    val nodes = pins.pin(edges.select(col("src").as("id")).distinct())
    val n = nodes.count()
    def step(ranks: DataFrame): DataFrame =
      edges.join(ranks, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") / col("cd")).as("acc"))
        .select(col("dst").as("id"),
          (lit((1 - damping) / n) + lit(damping) * col("acc")).as("rank"))
    // a round is up to 3 power steps; the value is the steps run so far
    def stepsAfter(done: Int): Int = (done + 3) min iters
    val start = nodes.select(col("id"), lit(1.0 / n).as("rank"))
    val ranks = pins.iterate("pageRank", (start, 0),
        (iters + 2) / 3) { (r, done) =>
      (done until stepsAfter(done)).foldLeft(r)((r, _) => step(r))
    } { (prev, done, cp) =>
      // convergence exit: near-dup graphs are band-collision cliques
      // where the power iteration reaches its fixpoint in ~1-3 rounds
      // — one small (id,rank)⋈(id,rank) agg per 3-step round (from the
      // second on: the first has no pinned predecessor) bounds work on
      // ANY graph instead of always paying the fixed iteration budget.
      // The exit threshold is tol/n, NOT tol: the
      // query surface reports rank×n rounded to 4 dp, so a per-node
      // residual ε becomes n·ε in the output — an n-independent L1
      // threshold stops being value-identical past n ≈ 8.8e-6/(5.7·tol)
      // nodes (r10 advice). Scaling by 1/n makes the bound scale-free:
      // remaining change after an L1 delta δ is <= δ·d/(1-d) ≈ 5.7δ,
      // so the scaled output error is <= n·5.7·(tol/n) = 5.7·tol —
      // ~5.7e-9 at the default, 4 orders inside the 5e-5 rounding
      // half-ulp at ANY node count. tol <= 0 disables the exit (the
      // fixed-budget path DedupSpec pins equality against).
      (stepsAfter(done), done > 0 &&
        cp.join(prev.select(col("id"), col("rank").as("rank_prev")), "id")
          .agg(sum(abs(col("rank") - col("rank_prev"))).as("l1"))
          .head().getDouble(0) <= tol / n)
    }
    val result = pins.land(ranks.frame)
    lastPageRankIters = ranks.value
    result
  }

  /** Connected components over an undirected near-dup pair list: each
    * doc's component id converges to the MINIMUM doc_id reachable through
    * pairs — the grouping step that turns pairwise candidates into dedup
    * clusters (keep the min doc of each component, drop the rest).
    *
    * Iterative min-label propagation over the edge list: every round is
    * one shuffle join (neighbor minimum) + one outer join (label merge),
    * and rounds needed = graph diameter — tiny for near-dup clusters,
    * which are band-collision cliques, not long chains. Each round is
    * pinned so lineage (and recomputation) doesn't grow with
    * iterations — the standard shape for iterative graph algorithms on
    * Spark; the result lands on a reliable checkpoint.
    */
  def connectedComponents(pairs: DataFrame,
      maxIters: Int = 20): DataFrame = Pins { pins =>
    val edges = pins.pin(pairs // probed every round — materialize once
      .select(col("d1").as("src"), col("d2").as("dst"))
      .unionAll(pairs.select(col("d2").as("src"), col("d1").as("dst"))))
    // each round's frame is (node, new_comp, comp): the labels it read
    // and the labels it made
    def labels(round: DataFrame): DataFrame =
      round.select(col("node"), col("new_comp").as("comp"))
    val start = pins.pin(edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("new_comp")))
    val fixpoint = pins.iterate("connectedComponents", (start, ()),
        maxIters) { (prev, _) =>
      val cur = labels(prev)
      val nbrMin = edges
        .join(cur.select(col("node").as("src"), col("comp")), Seq("src"))
        .groupBy(col("dst")).agg(min(col("comp")).as("nbr_comp"))
        .select(col("dst").as("node"), col("nbr_comp"))
      cur.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp")))
            .as("new_comp"),
          col("comp"))
    } { (_, _, updated) =>
      ((), updated.filter(col("new_comp") =!= col("comp")).isEmpty)
    }
    if (!fixpoint.converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          "(graph diameter exceeds the label-propagation budget — use " +
          "connectedComponentsStar for high-diameter graphs)")
    pins.land(labels(fixpoint.frame))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — O(log n) rounds on ANY graph shape, where min-label
    * propagation above needs diameter rounds (fine for near-dup cliques,
    * quadratic-ish work on long chains such as transitive fuzzy-dup at
    * low thresholds).
    *
    * Each round is two grouped-min + join passes over the edge list:
    *  - large-star: every node attaches its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: every node attaches its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    * At the joint fixpoint the edge set is a star forest rooted at each
    * component's minimum id — the same (node, comp=min reachable id)
    * contract as [[connectedComponents]], so the two are interchangeable
    * (DedupSpec pins equality). Rounds are pinned and released like
    * the propagation loop; raises if maxIters is hit
    * without reaching the fixpoint rather than returning a partially
    * contracted labeling.
    *
    * Fixpoint detection is one bounded driver job per round: a
    * (count, bit_xor(xxhash64(u,v))) signature of the new edge set,
    * compared against the previous round's signature carried forward
    * (r7 measured no wall-clock change vs the count + exceptAll form —
    * the grouped-min shuffles dominate — but the probe stays the
    * simpler single job). A signature match alone could collide between
    * two DIFFERENT consecutive iterates (~2^-64 per round), which would
    * silently mislabel clusters, so the first match is CONFIRMED with
    * one exact exceptAll emptiness check — counts already agree, so
    * one-direction emptiness is set equality. That exact job runs once
    * at the reported fixpoint, not per round: convergence stays exact,
    * the per-round cost stays one scan (DedupSpec pins label equality
    * vs propagation on every fixture, including the 1000-chain).
    */
  def connectedComponentsStar(pairs: DataFrame,
      maxIters: Int = 40): DataFrame = Pins { pins =>
    // directed-down canonical edges (u > v), deduped
    val start = pins.pin(pairs
      .select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    // (count, xor-of-row-hashes) set signature — ONE scan, no join
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val fixpoint = pins.iterate("connectedComponentsStar",
        (start, sig(start)), maxIters) { (edges, _) =>
      // large-star over the symmetric neighbor view: for each node u,
      // m = min(N(u) ∪ {u}); larger neighbors re-point to m
      val sym = edges.unionAll(
        edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the directed-down result: every u re-points its
      // (all smaller) neighbors and itself to its minimum neighbor
      val mins2 = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = large.join(mins2, Seq("u"))
      withM
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .unionAll(withM.select(col("u"), col("m").as("v")))
        .distinct()
    } { (edges, edgeSig, small) =>
      // fixpoint when the edge set is unchanged: compare this round's
      // signature to the previous round's (carried forward — the single
      // bounded driver job per round); a match is confirmed exactly
      // (counts agree, so one-direction exceptAll emptiness is set
      // equality) so an xor collision can't end the loop early
      val smallSig = sig(small)
      (smallSig, smallSig == edgeSig && small.exceptAll(edges).isEmpty)
    }
    if (!fixpoint.converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIters rounds")
    // the fixpoint is a star forest (leaf -> root=component min); labels
    // are the leaf edges plus one self-label per root
    val edges = fixpoint.frame
    val labels = edges.select(col("u").as("node"), col("v").as("comp"))
      .unionAll(edges.select(col("v").as("node"), col("v").as("comp")).distinct())
      .distinct()
    pins.land(labels)
  }

  /** Constants for the oracle-checked MD5 minhash (q65): slot i is the
    * min over shingles of (A(i)*h + B(i)) mod M with h the first 8 hex
    * chars of md5(shingle). A < 2^30 and h < 2^32 keep every product
    * under 2^62 — exact in signed 64-bit on Spark AND DuckDB (no
    * overflow, no wrap-around semantics to emulate).
    */
  val Md5MinhashK: Int = graft.functions.MinHashSigMd5.K
  val Md5MinhashMod: Long = graft.functions.MinHashSigMd5.Mod // 2^31 - 1
  // single source of truth is the native expression's companion (the
  // oracle SQL strings below interpolate these same constants)
  val Md5MinhashMixers: Seq[(Long, Long)] =
    graft.functions.MinHashSigMd5.mixA
      .zip(graft.functions.MinHashSigMd5.mixB).toSeq

  val MinHashK: Int = MinHashSigExpr.K // signature length (32)
  val Bands = 8       // LSH bands
  val RowsPerBand = 4 // MinHashK / Bands

  /** doc_id, sig (array<long> of MinHashK), band (0..Bands-1), band_hash.
    * One row per (doc, band) after the posexplode.
    *
    * The signature is the native MinHashSig expression: ONE xxhash64 per
    * shingle (inside ShingleHashes), then all MinHashK slots in a single
    * compiled pass (slot i sees h*A(i)+B(i), affine mixers from
    * splitmix64 — the difference between 46 s and ~2 s at sf0.1 vs
    * per-slot string hashing, and another ~3x over the interpreted
    * array_min(transform(...)) per-slot fold). Band hashes are xxhash64
    * straight over the band's long slots — no string concat.
    */
  def minhashBands(df: DataFrame): DataFrame = {
    val withSig = withShingleHashes(df)
      .select(col("doc_id"), Fns.minhashSig(col("hs")).as("sig"))
    val bandCols = (0 until Bands).map { b =>
      xxhash64((0 until RowsPerBand).map(r =>
        element_at(col("sig"), b * RowsPerBand + r + 1)): _*)
    }
    withSig.select(col("doc_id"), col("sig"),
      posexplode(array(bandCols: _*)).as(Seq("band", "band_hash")))
  }

  /** Candidate near-dup pairs from LSH banding, with the signature-
    * estimated Jaccard (fraction of agreeing minhashes). Join key is
    * (band, band_hash): only docs colliding in some band ever meet.
    */
  def minhashCandidates(df: DataFrame, minEstJaccard: Double): DataFrame = {
    val b = minhashBands(df)
    val a = b.select(col("doc_id").as("d1"), col("sig").as("sig1"),
      col("band"), col("band_hash"))
    val c = b.select(col("doc_id").as("d2"), col("sig").as("sig2"),
      col("band"), col("band_hash"))
    val est = size(filter(
      zip_with(col("sig1"), col("sig2"), (x, y) => (x === y).cast("int")),
      v => v === 1)).cast("double") / MinHashK
    // est is computed and thresholded MAP-SIDE in the join stage, so the
    // dedup exchange carries (d1, d2, double) — not the two 32-slot long
    // signature arrays (~8x smaller shuffle rows; est is functionally
    // determined by the pair, so distinct-after is equivalent).
    a.join(c, Seq("band", "band_hash"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), round(est, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
      .orderBy(col("d1"), col("d2"))
  }

  /** Near-dup candidates of a NEW document batch against a
    * PRE-COMPUTED corpus band table (persisted output of
    * `minhashBands`). Only the new docs are shingled/signed/banded; the
    * corpus side is read as-is and joined on (band, band_hash).
    *
    * This is the incremental shape a growing training corpus needs: at
    * 100 TB the historical index is bucketed/partitioned by band_hash
    * on storage, each new ingest batch probes it with a co-located
    * join, and the new batch's own bands are appended to the index —
    * nothing is ever re-signed.
    */
  def incrementalCandidates(newDocs: DataFrame, corpusBands: DataFrame,
      minEstJaccard: Double): DataFrame =
    incrementalCandidatesFromBands(minhashBands(newDocs), corpusBands,
      minEstJaccard)

  /** Same probe, but over ALREADY-COMPUTED bands for the new batch —
    * callers that also append the batch to the index (StreamingDedup)
    * sign each batch exactly once.
    */
  def incrementalCandidatesFromBands(newBands: DataFrame,
      corpusBands: DataFrame, minEstJaccard: Double): DataFrame = {
    val nb = newBands.select(col("doc_id").as("d_new"),
      col("sig").as("sig_new"), col("band"), col("band_hash"))
    val cb = corpusBands.select(col("doc_id").as("d_old"),
      col("sig").as("sig_old"), col("band"), col("band_hash"))
    val est = size(filter(
      zip_with(col("sig_new"), col("sig_old"), (x, y) => (x === y).cast("int")),
      v => v === 1)).cast("double") / MinHashK
    // same shuffle-shrink as minhashCandidates: estimate, threshold, THEN
    // dedup on the slim (d_new, d_old, est) rows — sigs never ride the
    // distinct exchange
    nb.join(cb, Seq("band", "band_hash"))
      .filter(col("d_new") =!= col("d_old"))
      .select(col("d_new"), col("d_old"), round(est, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
      .orderBy(col("d_new"), col("d_old"))
  }

  /** 64-bit SimHash from token multiset via the native SimHash64
    * expression: per-row tight loop (hash each token occurrence, per-bit
    * majority vote, bit set on count >= 0) — a pure map-side projection.
    * Replaces an explode + 64-column aggregation whose shuffle carried
    * one row per TOKEN; signatures now never leave the scan stage.
    */
  def simhash(df: DataFrame): DataFrame =
    spread(df).select(col("doc_id"),
      Fns.simhash64(TextOps.tokens(col("text"))).as("sig"))

  /** SimHash near-dup pairs: band the 64-bit signature into 4×16-bit
    * chunks; pairs sharing any chunk are candidates (catches all pairs
    * with hamming distance <= 3 by pigeonhole); verify with bit_count.
    */
  def simhashPairs(df: DataFrame, maxHamming: Int): DataFrame = {
    val sh = simhash(df)
    val banded = sh.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("band", "chunk")))
    val a = banded.select(col("doc_id").as("d1"), col("sig").as("sig1"),
      col("band"), col("chunk"))
    val c = banded.select(col("doc_id").as("d2"), col("sig").as("sig2"),
      col("band"), col("chunk"))
    a.join(c, Seq("band", "chunk"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("sig1").bitwiseXOR(col("sig2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("d1"), col("d2"))
  }

  /** Soft-dedup 1/|cluster| loss weights (q156's body) over ANY (node,
    * comp) cluster labeling — fresh CC (q156, oracle-checked) or the
    * PERSISTED cluster table (`PairStore.storedClusters`, the
    * q127/q128 stored-route convention: repeated weight exports are
    * index reads, nothing re-runs CC). `corpus` is the slim doc_id
    * projection; docs outside the pair graph weight 1.
    */
  def softDedupWeights(labels: DataFrame, corpus: DataFrame): DataFrame = {
    val lab = labels.select(col("node").as("doc_id"), col("comp"))
    val sizes = lab.groupBy(col("comp")).agg(count(lit(1)).as("m"))
    corpus
      .join(lab.join(sizes, Seq("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"),
        coalesce(col("m"), lit(1L)).as("m"),
        round(lit(1.0) / coalesce(col("m"), lit(1L)), 4).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source near-dup leakage report (q127's body) over ANY pair
    * table — fresh (q127 derives the graph in-query for the oracle) or
    * PERSISTED (`PairStore.bucketedPairs`: the d1 join key matches the
    * stored bucket spec, so the stored side reads exchange-free and a
    * repeated report never re-derives the graph — PairStoreSpec pins
    * both). `src` is the slim (doc_id, source) corpus projection; the
    * post-join exchange is pair-sized and the final aggregate carries
    * |sources|² keys.
    */
  def crossSourceReport(pairsDf: DataFrame, src: DataFrame): DataFrame =
    pairsDf
      .join(src.as("sa"), col("d1") === col("sa.doc_id"))
      .join(src.as("sb"), col("d2") === col("sb.doc_id"))
      .filter(col("sa.source") =!= col("sb.source"))
      .select(
        least(col("sa.source"), col("sb.source")).as("src1"),
        greatest(col("sa.source"), col("sb.source")).as("src2"),
        col("jaccard"))
      .groupBy(col("src1"), col("src2"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 4).as("avg_jaccard"))
      .orderBy(col("src1"), col("src2"))

  /** Per-source dedup retention report (q128's body) over ANY (node,
    * comp) cluster labeling — fresh CC (q128, oracle-checked) or the
    * PERSISTED cluster table (`PairStore.storedClusters`: labels come
    * off disk, node-bucketed, so repeated reports are index reads with
    * an exchange-free stored side — PairStoreSpec pins stored == fresh).
    * The labels are pair-graph-sized, so the left join against the slim
    * corpus projection is corpus × small on doc_id.
    */
  def retentionReport(labels: DataFrame, src: DataFrame): DataFrame = {
    val dropped = labels
      .filter(col("node") =!= col("comp"))
      .select(col("node").as("doc_id"), lit(1).as("is_dup"))
    src
      .join(dropped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup").isNull, 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs"), 4)
          .as("retention"))
      .orderBy(col("source"))
  }

  /** EXACT set-similarity self-join via prefix filtering (AllPairs —
    * Bayardo, Ma & Srikant, WWW 2007; the PPJoin candidate rule) —
    * q32's Jaccard-pair semantics WITHOUT the df-cap approximation:
    * every pair whose 3-gram-shingle Jaccard clears the threshold,
    * exactly. The cap (q32) controls inverted-index skew by DROPPING
    * hot shingles, which perturbs Jaccard near the threshold; prefix
    * filtering controls the same skew by indexing only each doc's
    * RAREST shingles, losing nothing:
    *
    *  - one global df pass orders the shingle space rarest-first
    *    (df asc, hash asc — any consistent total order preserves the
    *    guarantee);
    *  - each doc indexes only its first n − ceil(t·n) + 1 shingles in
    *    that order. If J(x,y) ≥ t then |x∩y| ≥ t·|x| (the union is at
    *    least |x|), so the shared shingles cannot all fit in the
    *    ceil(t·n)−1 suffix — some shared shingle sits in BOTH prefixes
    *    and the prefix self-join finds the pair: zero false negatives;
    *  - the size filter bp·max(na,nb) ≤ 10000·min(na,nb) kills
    *    cross-size candidates integer-exactly inside the join;
    *  - verification fans each surviving candidate by d1's posting list
    *    (bounded by document length) and counts the true intersection
    *    over the FULL shingle space.
    *
    * Skew at 100 TB: a boilerplate shingle has huge df, so it enters a
    * doc's prefix only when nearly every other shingle the doc has is
    * even hotter — i.e. only for docs that ARE boilerplate. Hot keys
    * thus have structurally short posting lists in the prefix index,
    * the property q32's cap had to enforce by deletion. Threshold
    * compares are integer basis points throughout; the only division
    * is the reported 4-dp jaccard.
    */
  def prefixFilteredJaccardPairs(docsDf: DataFrame,
      minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bp = math.round(minJaccard * 10000).toInt
    val hs = withShingleHashes(docsDf)
    val sized = hs
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n"))
      .filter(col("n") > 0)
    // one explicit exchange on s shared by the df pass and the ranked
    // probe side (ReuseExchange — the invertedShingleIndex discipline)
    val sh = sized
      .select(col("doc_id"), col("n"), explode(col("hs")).as("s"))
      .repartition(col("s"))
    val dfs = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // ceil(bp·n/10000) in exact integers: (bp·n + 9999) div 10000 — the
    // numerator stays < 2^53 so the double division floors exactly for
    // multiples and is 9 orders from a boundary otherwise
    val need = floor((col("n").cast("long") * bp + lit(9999L)) / lit(10000.0))
      .cast("long")
    val ranked = sh.join(dfs, Seq("s"))
      .select(col("doc_id"), col("n"), col("s"), col("df"),
        row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("s"))).as("rk"))
    // Cut the candidate volume:
    //  - df >= 2: a df-1 shingle matches nothing in the self-join, and
    //    prefixes are BIASED toward df-1 rows (they index each doc's
    //    rarest shingles), so dropping them shrinks the join input
    //    without touching the candidate set;
    //  - the PPJoin positional filter (Xiao et al., WWW 2008): a match
    //    at ranks (rka, rkb) bounds the true overlap by
    //    least(rka, rkb) + least(na - rka, nb - rkb) — shared shingles
    //    before the match at most min(rka, rkb) - 1 (same global order
    //    on both sides), at/after it at most min(na-rka, nb-rkb) + 1.
    //    J >= t needs inter*(10000+bp) >= bp*(na+nb), which the bound
    //    must then also satisfy; a true pair passes at EVERY shared
    //    prefix shingle, so pruning candidates that fail loses nothing.
    val prefix = ranked
      .filter(col("rk") <= col("n") - need + 1 && col("df") >= 2)
      .select(col("doc_id"), col("n"), col("s"), col("rk"))
    val overlapUb =
      least(col("a.rk"), col("b.rk")).cast("long") +
        least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n").cast("long") * bp <= col("b.n").cast("long") * 10000L &&
          col("b.n").cast("long") * bp <= col("a.n").cast("long") * 10000L &&
          overlapUb * (10000L + bp) >=
            lit(bp.toLong) * (col("a.n").cast("long") + col("b.n")))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    // r21: verification as two candidate-sized array joins + one
    // codegen'd array_intersect instead of exploding d1's postings
    // (doc-length fan-out per candidate) through a shuffle join and a
    // pair-keyed count aggregate (guide §2.3: shuffle candidate rows,
    // not candidate x doc-length rows). shingleHashes dedupes, so
    // |array_intersect| IS the exact set intersection.
    val inter = cand
      .join(sized.select(col("doc_id").as("d1"), col("hs").as("h1")),
        Seq("d1"))
      .join(sized.select(col("doc_id").as("d2"), col("hs").as("h2")),
        Seq("d2"))
      .select(col("d1"), col("d2"), col("na"), col("nb"),
        size(array_intersect(col("h1"), col("h2"))).cast("long")
          .as("inter"))
    val j = col("inter").cast("double") /
      (col("na") + col("nb") - col("inter"))
    inter
      .filter(col("inter") * 10000L >=
        lit(bp.toLong) * (col("na").cast("long") + col("nb") - col("inter")))
      .select(col("d1"), col("d2"), round(j, 4).as("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** [[prefixFilteredJaccardPairs]] with exact-clone precollapse — the
    * scale path (q86/q134/q139's law, reproduced on cue here: at the
    * 10× clone rehearsal the direct form pays Σ(clone-group size)² BOTH
    * in the prefix self-join (every prefix shingle is shared by the
    * whole clone group) AND in the verification fan-out — measured
    * 297 s vs q32's 13 s). md5-collapse identical texts first, run the
    * AllPairs reduction over UNIQUE texts only, then expand members
    * after: a cross-group rep pair holds for every member pair at the
    * SAME jaccard (identical shingle sets), and an intra-group pair is
    * jaccard 1.0 whenever the clone text has any shingle at all
    * ([[graft.plans.Clones.pairs]]).
    */
  def prefixFilteredJaccardPairsPrecollapsed(docsDf: DataFrame,
      minJaccard: Double): DataFrame = {
    val c = Clones.collapse(docsDf, "text")
    // intra-group: every member pair of a clone group whose text has at
    // least one shingle (docs under 3 tokens have no shingle set and are
    // outside the contract in both engines)
    val shingled = c.reps
      .filter(size(TextOps.tokens(col("text"))) >= 3)
      .select(col("doc_id").as("rep"), lit(1.0).as("jaccard"))
    c.pairs(prefixFilteredJaccardPairs(c.reps, minJaccard), shingled)
      .orderBy(col("d1"), col("d2"))
  }

  /** q143's oracle, shared verbatim by the precollapsed form (q147):
    * the precollapse only reorders the computation over identical
    * shingle sets — it can never change the answer, so both entries
    * must hash-match the same SQL (the q74-reuses-q56 pattern).
    */
  private val PrefixFilterOracle =
    """WITH tok AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                FROM documents),
              sh AS (
                SELECT DISTINCT doc_id, s FROM (
                  SELECT doc_id,
                         UNNEST([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                 for i in generate_series(1, LEN(ts)-2)]) AS s
                  FROM tok WHERE LEN(ts) >= 3) u),
              sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              pr AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT d1, d2,
                     ROUND(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter), 4) AS jaccard
              FROM pr
              JOIN sz sa ON sa.doc_id = d1
              JOIN sz sb ON sb.doc_id = d2
              WHERE inter * 10000 >= 6000 * (sa.n + sb.n - inter)
              ORDER BY d1, d2"""

  def defs: Seq[Q] = Seq(
    // Exact dedup via content hash (the 100 TB shape: groupBy on md5,
    // never a string-compare join).
    Q("q27_dedup_exact",
      (s, d) =>
        docs(s, d).agg(
          countDistinct(md5(col("text"))).as("n_unique"),
          count(lit(1)).as("n_total")),
      Some("""SELECT CAST(COUNT(DISTINCT MD5(text)) AS BIGINT) AS n_unique,
                     COUNT(*) AS n_total FROM documents""")),

    // Exact n-gram Jaccard near-dup pairs via inverted shingle index:
    // join on shingle (not doc x doc), intersection counts from the
    // grouped join, sizes joined back. jaccard is a ratio of exact ints
    // -> bit-identical across engines.
    // The inverted index carries the 8-byte shingle HASH (native
    // ShingleHashes), not the string: identical intersection counts
    // (64-bit collisions negligible — hash-based, not literally exact;
    // see hashJaccardPairs), ~3x smaller shuffle rows. The index is
    // df-capped (DefaultMaxShingleDf) so a boilerplate shingle can't
    // blow up one reducer; the oracle applies the identical cap on
    // shingle STRINGS (df is collision-insensitive at these scales).
    Q("q32_ngram_jaccard",
      (s, d) => hashJaccardPairs(docs(s, d), minJaccard = 0.6)
        .orderBy(col("d1"), col("d2")),
      Some(s"""WITH tok AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
                FROM documents),
              sh0 AS (
                SELECT DISTINCT doc_id, s FROM (
                  SELECT doc_id,
                         UNNEST([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                 for i in generate_series(1, LEN(ts)-2)]) AS s
                  FROM tok WHERE LEN(ts) >= 3) u),
              keep AS (SELECT s FROM sh0 GROUP BY s
                       HAVING COUNT(*) <= ${DefaultMaxShingleDf}),
              sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
              sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              pr AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT d1, d2,
                     ROUND(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter), 4) AS jaccard
              FROM pr
              JOIN sz sa ON sa.doc_id = d1
              JOIN sz sb ON sb.doc_id = d2
              WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.6
              ORDER BY d1, d2""")),

    // Directed containment pairs (q32's index and intersection; the
    // asymmetric normalization catches a short doc contained in a long
    // one that Jaccard's union denominator dilutes below threshold).
    Q("q100_containment",
      (s, d) => containmentPairs(docs(s, d), minContainment = 0.5),
      Some(s"""WITH tok AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
                FROM documents),
              sh0 AS (
                SELECT DISTINCT doc_id, s FROM (
                  SELECT doc_id,
                         UNNEST([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                 for i in generate_series(1, LEN(ts)-2)]) AS s
                  FROM tok WHERE LEN(ts) >= 3) u),
              keep AS (SELECT s FROM sh0 GROUP BY s
                       HAVING COUNT(*) <= ${DefaultMaxShingleDf}),
              sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
              sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              pr AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT d1, d2,
                     ROUND(CAST(inter AS DOUBLE) / sa.n, 4) AS cont_fwd,
                     ROUND(CAST(inter AS DOUBLE) / sb.n, 4) AS cont_rev
              FROM pr
              JOIN sz sa ON sa.doc_id = d1
              JOIN sz sb ON sb.doc_id = d2
              WHERE CAST(inter AS DOUBLE) / sa.n >= 0.5
                 OR CAST(inter AS DOUBLE) / sb.n >= 0.5
              ORDER BY d1, d2""")),

    // EXACT Jaccard pairs via AllPairs prefix filtering (Bayardo et al.
    // 2007) — no df cap anywhere: the oracle is the UNCAPPED q32 CTE.
    // Threshold compares in integer basis points (engine-exact edges).
    // The direct form is the semantics contract/canary (the q132/q137
    // convention): on clone-heavy corpora it pays Σ group² — q147's
    // precollapse is the scale default under the SAME oracle.
    Q("q143_prefix_filter_pairs",
      (s, d) => prefixFilteredJaccardPairs(docs(s, d), minJaccard = 0.6),
      Some(PrefixFilterOracle)),

    // Exact-clone precollapse of q143 — SAME oracle VERBATIM (the
    // q74/q86/q134/q139 one-contract-two-plans convention); the 10x
    // clone rehearsal measures the direct form at 297 s vs 13 s here.
    Q("q147_prefix_filter_precollapse",
      (s, d) => prefixFilteredJaccardPairsPrecollapsed(docs(s, d),
        minJaccard = 0.6),
      Some(PrefixFilterOracle)),

    // Winnowing (MOSS) fingerprint pairs: docs sharing >= 2 selected
    // fingerprints. k=3, w=4: any shared 6-token run is guaranteed a
    // shared fingerprint; ~2/(w+1) of k-grams are kept. MD5-derived
    // hashes make the selected minima identical in both engines; the
    // q32 df-cap (mirrored in the HAVING) bounds hot fingerprints.
    Q("q101_winnowing",
      (s, d) => winnowingPairs(docs(s, d), minShared = 2L),
      Some(s"""WITH tok AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
                FROM documents),
              g AS (
                SELECT doc_id,
                       list_transform(generate_series(1, LEN(ts) - 2),
                         i -> CAST('0x' || SUBSTR(MD5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 8) AS BIGINT)) AS hs
                FROM tok WHERE LEN(ts) >= 6),
              f0 AS (
                SELECT DISTINCT doc_id, fp FROM (
                  SELECT doc_id,
                         UNNEST(list_transform(generate_series(1, LEN(hs) - 3),
                           j -> list_min(hs[j:j+3]))) AS fp
                  FROM g) u),
              keep AS (SELECT fp FROM f0 GROUP BY fp
                       HAVING COUNT(*) <= ${DefaultMaxShingleDf}),
              f AS (SELECT f0.doc_id, f0.fp FROM f0 JOIN keep USING (fp)),
              pr AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
                FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT d1, d2, shared FROM pr WHERE shared >= 2
              ORDER BY d1, d2""")),

    // MinHash+LSH banded near-dup candidates (no SQL oracle: xxhash64 is
    // engine-specific; verified behaviorally against q32's exact pairs in
    // DedupSpec + rows-only check here).
    Q("q33_minhash_lsh",
      (s, d) => minhashCandidates(docs(s, d), 0.5),
      None),

    // SimHash banded near-dup pairs (rows-only; hamming <= 6). The
    // xxhash64-based signature is engine-specific, so the PAIRS stay
    // rows-only — the ALGORITHM is hash-checked via q55 below.
    Q("q34_simhash",
      (s, d) => simhashPairs(docs(s, d), 6),
      None),

    // Oracle-checked SimHash: identical majority-vote algorithm, but the
    // per-token hash is the first 8 bytes of MD5 — a hash both engines
    // share — so DuckDB reproduces every signature bit-for-bit. Rendered
    // as a 64-char bit string (lpad(bin(..)) vs STRING_AGG) to sidestep
    // signed-64 overflow in SQL. This pins the simhash semantics with a
    // value-hash check; q34 keeps the fast xxhash64 path.
    Q("q55_simhash_md5",
      (s, d) =>
        spread(docs(s, d)).select(col("doc_id"),
          lpad(bin(Fns.simhashMd5(TextOps.tokens(col("text")))), 64, "0")
            .as("sig"))
          .orderBy(col("doc_id")),
      Some("""WITH tok AS (
                SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS t
                FROM documents),
              h AS (
                SELECT doc_id,
                       CAST('0x' || SUBSTR(MD5(t), 1, 8) AS BIGINT) AS hi,
                       CAST('0x' || SUBSTR(MD5(t), 9, 8) AS BIGINT) AS lo
                FROM tok),
              votes AS (
                SELECT doc_id, b,
                       SUM(CASE WHEN (CASE WHEN b < 32 THEN (lo >> b)
                                      ELSE (hi >> (b - 32)) END & 1) = 1
                           THEN 1 ELSE -1 END) AS v
                FROM h, (SELECT UNNEST(generate_series(0, 63)) AS b)
                GROUP BY doc_id, b)
              SELECT doc_id,
                     STRING_AGG(CASE WHEN v >= 0 THEN '1' ELSE '0' END, ''
                                ORDER BY b DESC) AS sig
              FROM votes GROUP BY doc_id ORDER BY doc_id""")),

    // Oracle-checked MinHash: the identical min-over-affine-mixers
    // algorithm as q33's signature, but the per-shingle hash is the
    // first 8 hex chars of MD5 — a hash both engines share — so DuckDB
    // reproduces every slot bit-for-bit (the q55 treatment applied to
    // minhash). Every operand is bounded (A < 2^30, h < 2^32, product
    // < 2^62) so the integer arithmetic stays in signed-64 range on
    // both engines. q33 keeps the fast xxhash64 path; this entry pins
    // the ALGORITHM under the value-hash oracle.
    Q("q65_minhash_md5",
      (s, d) => {
        val hv = withShingleArray(docs(s, d))
          .select(col("doc_id"),
            // native digest-direct hash (== conv(substring(md5(sh),1,8),
            // 16,10) — FnsSpec pins equality)
            graft.functions.Fns.md5Hash32(col("sh")).as("hv"))
        // native MinHashSigMd5 (one compiled pass for all slots; the K
        // interpreted array_min(transform) HOF layers it replaces are
        // pinned bit-equal in FnsSpec)
        val sig = hv.select(col("doc_id"),
          graft.functions.Fns.md5MinhashSig(col("hv")).as("s"))
        val slots = (1 to Md5MinhashK).map(i =>
          element_at(col("s"), i).cast("string"))
        sig.select(col("doc_id"), concat_ws("-", slots: _*).as("sig"))
          .orderBy(col("doc_id"))
      },
      Some {
        val slotSql = Md5MinhashMixers.map { case (a, b) =>
          s"CAST(list_min(list_transform(hv, h -> ($a * h + $b) % $Md5MinhashMod)) AS VARCHAR)"
        }.mkString(" || '-' || ")
        s"""WITH tok AS (
             SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
             FROM documents),
           sh AS (
             SELECT doc_id,
                    list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                   for i in generate_series(1, LEN(ts)-2)]) AS sh
             FROM tok WHERE LEN(ts) >= 3),
           hv AS (
             SELECT doc_id,
                    list_transform(sh, s -> CAST('0x' || SUBSTR(MD5(s), 1, 8) AS BIGINT)) AS hv
             FROM sh)
           SELECT doc_id, $slotSql AS sig
           FROM hv ORDER BY doc_id"""
      }),

    // Oracle-checked MinHash+LSH CANDIDATE GENERATION: the full banding
    // pipeline — sign (q65's MD5 slots), band 4x4, equi-join colliding
    // bands, estimate jaccard as the agreeing-slot fraction — with every
    // step reproducible in DuckDB, so the PAIRS themselves value-hash
    // match (q33 keeps the fast xxhash64 form; q65 pinned the signature,
    // this pins the banded join semantics end to end). Same shuffle
    // shape as q33: join key is (band, band key), est is computed
    // map-side before the distinct so signatures never ride the dedup
    // exchange.
    Q("q71_minhash_lsh_md5",
      (s, d) => {
        val hv = withShingleArray(docs(s, d))
          .select(col("doc_id"),
            // native digest-direct hash (== conv(substring(md5(sh),1,8),
            // 16,10) — FnsSpec pins equality)
            graft.functions.Fns.md5Hash32(col("sh")).as("hv"))
        // native MinHashSigMd5 — same slots as the HOF form, one pass
        val slots = hv.select(col("doc_id"),
          graft.functions.Fns.md5MinhashSig(col("hv")).as("s"))
        val banded = slots.select(col("doc_id"), col("s"),
          posexplode(array((0 until 4).map(b =>
            concat_ws(",", (0 until 4).map(i =>
              element_at(col("s"), b * 4 + i + 1).cast("string")): _*)): _*))
            .as(Seq("b", "key")))
        val a = banded.select(col("doc_id").as("d1"), col("s").as("sa"),
          col("b"), col("key"))
        val c = banded.select(col("doc_id").as("d2"), col("s").as("sb"),
          col("b"), col("key"))
        val est = size(filter(
          zip_with(col("sa"), col("sb"), (x, y) => (x === y).cast("int")),
          v => v === 1)).cast("double") / Md5MinhashK
        a.join(c, Seq("b", "key"))
          .filter(col("d1") < col("d2"))
          .select(col("d1"), col("d2"), round(est, 4).as("est_jaccard"))
          .distinct()
          .orderBy(col("d1"), col("d2"))
      },
      Some {
        val slotList = Md5MinhashMixers.map { case (a, b) =>
          s"list_min(list_transform(hv, h -> ($a * h + $b) % $Md5MinhashMod))"
        }.mkString("[", ", ", "]")
        s"""WITH tok AS (
             SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
             FROM documents),
           sh AS (
             SELECT doc_id,
                    list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                   for i in generate_series(1, LEN(ts)-2)]) AS sh
             FROM tok WHERE LEN(ts) >= 3),
           hv AS (
             SELECT doc_id,
                    list_transform(sh, s -> CAST('0x' || SUBSTR(MD5(s), 1, 8) AS BIGINT)) AS hv
             FROM sh),
           slots AS (SELECT doc_id, $slotList AS s FROM hv),
           banded AS (
             SELECT doc_id, b,
                    CAST(s[4*b+1] AS VARCHAR) || ',' || CAST(s[4*b+2] AS VARCHAR) || ',' ||
                    CAST(s[4*b+3] AS VARCHAR) || ',' || CAST(s[4*b+4] AS VARCHAR) AS key
             FROM slots, (SELECT UNNEST([0, 1, 2, 3]) AS b)),
           pairs AS (
             SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
             FROM banded a JOIN banded c
               ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id)
           SELECT p.d1, p.d2,
                  ROUND(CAST(LEN(list_filter(generate_series(1, ${Md5MinhashK}),
                        i -> sa.s[i] = sb.s[i])) AS DOUBLE) / ${Md5MinhashK}, 4) AS est_jaccard
           FROM pairs p
           JOIN slots sa ON sa.doc_id = p.d1
           JOIN slots sb ON sb.doc_id = p.d2
           ORDER BY d1, d2"""
      }),

    // MinHash CALIBRATION report: over q71's banded candidate pairs,
    // compare the signature-agreement ESTIMATE against the TRUE set
    // Jaccard of the same md5 shingle-hash sets and aggregate the error
    // — the "how much can I trust my LSH threshold" number a dedup run
    // at scale needs before picking minJaccard (est within avg_abs_err
    // of truth justifies certifying candidates by signature alone;
    // a large max_abs_err says candidates must be re-verified with
    // true Jaccard, which is exactly what q83/PairStore.append do).
    // Same machinery, same exchanges as q71 plus one slim pair join
    // back to the per-doc hash sets; output is one aggregate row.
    Q("q107_minhash_calibration",
      (s, d) => {
        val hv = withShingleArray(docs(s, d))
          .select(col("doc_id"),
            graft.functions.Fns.md5Hash32(col("sh")).as("hv"))
        val side = hv.select(col("doc_id"),
          array_distinct(col("hv")).as("hvd"),
          graft.functions.Fns.md5MinhashSig(col("hv")).as("s"))
        val banded = side.select(col("doc_id"),
          posexplode(array((0 until 4).map(b =>
            concat_ws(",", (0 until 4).map(i =>
              element_at(col("s"), b * 4 + i + 1).cast("string")): _*)): _*))
            .as(Seq("b", "key")))
        val pairs = banded.select(col("doc_id").as("d1"), col("b"), col("key"))
          .join(banded.select(col("doc_id").as("d2"), col("b"), col("key")),
            Seq("b", "key"))
          .filter(col("d1") < col("d2"))
          .select(col("d1"), col("d2"))
          .distinct()
        val j = pairs
          .join(side.select(col("doc_id").as("d1"), col("hvd").as("h1"),
            col("s").as("sa")), Seq("d1"))
          .join(side.select(col("doc_id").as("d2"), col("hvd").as("h2"),
            col("s").as("sb")), Seq("d2"))
        val est = size(filter(
          zip_with(col("sa"), col("sb"), (x, y) => (x === y).cast("int")),
          v => v === 1)).cast("double") / Md5MinhashK
        val inter = size(array_intersect(col("h1"), col("h2")))
        val tj = inter.cast("double") /
          (size(col("h1")) + size(col("h2")) - inter)
        val err = abs(est - tj)
        j.agg(count(lit(1)).as("n_pairs"),
          round(avg(est), 4).as("avg_est"),
          round(avg(tj), 4).as("avg_true"),
          round(avg(err), 4).as("avg_abs_err"),
          round(max(err), 4).as("max_abs_err"))
      },
      Some {
        val slotList = Md5MinhashMixers.map { case (a, b) =>
          s"list_min(list_transform(hv, h -> ($a * h + $b) % $Md5MinhashMod))"
        }.mkString("[", ", ", "]")
        s"""WITH tok AS (
             SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
             FROM documents),
           sh AS (
             SELECT doc_id,
                    list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                   for i in generate_series(1, LEN(ts)-2)]) AS sh
             FROM tok WHERE LEN(ts) >= 3),
           hv AS (
             SELECT doc_id,
                    list_transform(sh, s -> CAST('0x' || SUBSTR(MD5(s), 1, 8) AS BIGINT)) AS hv
             FROM sh),
           side AS (
             SELECT doc_id, list_distinct(hv) AS hvd, $slotList AS s FROM hv),
           banded AS (
             SELECT doc_id, b,
                    CAST(s[4*b+1] AS VARCHAR) || ',' || CAST(s[4*b+2] AS VARCHAR) || ',' ||
                    CAST(s[4*b+3] AS VARCHAR) || ',' || CAST(s[4*b+4] AS VARCHAR) AS key
             FROM side, (SELECT UNNEST([0, 1, 2, 3]) AS b)),
           pairs AS (
             SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
             FROM banded a JOIN banded c
               ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id),
           j AS (
             SELECT
               CAST(LEN(list_filter(generate_series(1, ${Md5MinhashK}),
                     i -> sa.s[i] = sb.s[i])) AS DOUBLE) / ${Md5MinhashK} AS est,
               CAST(LEN(list_intersect(sa.hvd, sb.hvd)) AS DOUBLE)
                 / (LEN(sa.hvd) + LEN(sb.hvd)
                    - LEN(list_intersect(sa.hvd, sb.hvd))) AS tj
             FROM pairs p
             JOIN side sa ON sa.doc_id = p.d1
             JOIN side sb ON sb.doc_id = p.d2)
           SELECT COUNT(*) AS n_pairs,
                  ROUND(AVG(est), 4) AS avg_est,
                  ROUND(AVG(tj), 4) AS avg_true,
                  ROUND(AVG(ABS(est - tj)), 4) AS avg_abs_err,
                  ROUND(MAX(ABS(est - tj)), 4) AS max_abs_err
           FROM j"""
      }),

    // Dedup clusters: connected components over the capped exact-Jaccard
    // pair graph (>= 0.6). The oracle rebuilds the same pairs (q32's SQL)
    // and computes reachability minima with a recursive CTE — the CTE's
    // UNION dedups (node, label) rows, so it terminates and MIN(label)
    // per node is exactly the component representative.
    Q("q56_dedup_groups",
      (s, d) =>
        connectedComponents(hashJaccardPairs(docs(s, d), minJaccard = 0.6))
          .select(col("node").as("doc_id"), col("comp"))
          .orderBy(col("doc_id")),
      Some(dedupGroupsOracle)),

    // The same clusters through the large-star/small-star contraction —
    // the high-diameter-safe CC (O(log n) rounds) under the SAME
    // recursive-CTE oracle as q56: both algorithms must land the
    // identical (doc_id, comp=min reachable id) labeling, so the new
    // operator is value-hash-checked, not just spec-tested.
    Q("q74_dedup_groups_star",
      (s, d) =>
        connectedComponentsStar(hashJaccardPairs(docs(s, d), minJaccard = 0.6))
          .select(col("node").as("doc_id"), col("comp"))
          .orderBy(col("doc_id")),
      Some(dedupGroupsOracle)),

    // PageRank centrality over the SAME pair graph as q56/q74 — damped
    // power iteration (10-round ceiling, L1 convergence exit), each
    // round one join + one aggregate job, against a recursive-CTE
    // oracle that aggregates in its recursive term (fixed 10 rounds —
    // the exit tolerance is orders under the 4-dp hash rounding, so the
    // two agree; DedupSpec pins early-exit == fixed-budget). Reported ×N (relative to uniform) so the 4-decimal hash
    // keeps resolution at any graph size; within a clique all members
    // tie at the same rank, so the hash pins the cross-cluster
    // differences (cluster size drives rank mass).
    Q("q121_pagerank",
      (s, d) => {
        // ranks come back checkpointed, so the count and the projection
        // below read the materialized result, not a re-run of the loop
        val ranks = pageRank(hashJaccardPairs(docs(s, d), minJaccard = 0.6))
        ranks
          .crossJoin(broadcast(ranks.agg(count(lit(1)).as("n_nodes"))))
          .select(col("id").as("doc_id"),
            round(col("rank") * col("n_nodes"), 4).as("rank_x"))
          .orderBy(col("doc_id"))
      },
      Some(pageRankOracle)),

    // BEST-OF-CLUSTER representative selection: q56 keeps a component's
    // MIN doc_id; a curation pipeline usually keeps its BEST member
    // (here: most tokens, doc_id tie-break — integer ordering both
    // engines share). One tokenize pass feeds both the pair graph and
    // the token counts over the same explicit doc_id exchange (the q61
    // ReuseExchange shape). The argmax is a SINGLE-expression filtered
    // row_number, so it plans through TopKPerKey (<= 1 candidate per
    // (partition, comp) reaches the exchange — a boilerplate mega-
    // cluster with millions of members never funnels through one sort);
    // n_members comes from a map-side-combined count, NOT a window over
    // the same sort (two window expressions would block the rewrite),
    // and joins back one-row-per-comp against one-row-per-comp.
    Q("q89_best_of_cluster",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tok = docs(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
          .repartition(col("doc_id"))
        val nt = tok.select(col("doc_id"), size(col("ts")).as("nt"))
        val comps = connectedComponents(
          hashJaccardPairsFromTokens(tok, minJaccard = 0.6))
        val labeled = comps.select(col("node").as("doc_id"), col("comp"))
          .join(nt, Seq("doc_id"))
        // count from comps alone — every node IS a doc_id, so routing the
        // count through `labeled` would add a doc_id-only corpus scan
        // just to re-prove existence (plan-audited: 2 scans -> 1)
        val sizes = comps.groupBy(col("comp"))
          .agg(count(lit(1)).cast("int").as("n_members"))
        val w = Window.partitionBy(col("comp"))
          .orderBy(col("nt").desc, col("doc_id"))
        labeled
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .join(sizes, Seq("comp"))
          .select(col("comp"), col("doc_id").as("rep_doc_id"),
            col("nt").cast("int").as("rep_tokens"), col("n_members"))
          .orderBy(col("comp"))
      },
      Some(dedupGroupsOraclePrefix +
        """,
              comp AS (
                SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS comp
                FROM reach GROUP BY node),
              nt AS (
                SELECT doc_id,
                       CAST(LEN(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS INT) AS nt
                FROM documents),
              j AS (SELECT c.comp, c.doc_id, nt.nt FROM comp c JOIN nt USING (doc_id)),
              r AS (
                SELECT comp, doc_id, nt,
                       ROW_NUMBER() OVER (PARTITION BY comp ORDER BY nt DESC, doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY comp) AS n_members
                FROM j)
              SELECT comp, doc_id AS rep_doc_id, CAST(nt AS INT) AS rep_tokens,
                     CAST(n_members AS INT) AS n_members
              FROM r WHERE rn = 1 ORDER BY comp""")),
  ) ++ moreDefs

  /** Recursive-CTE reachability oracle shared by q56 (label propagation)
    * and q74 (star contraction): rebuild the capped exact-Jaccard pair
    * graph (q32's SQL), then MIN reachable label per node. The CTE
    * prefix (through `reach`) is shared with q89's best-of-cluster
    * oracle, which appends a different final selection.
    */
  private lazy val dedupGroupsOracle: String =
    dedupGroupsOraclePrefix +
      """
              SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS comp
              FROM reach GROUP BY node ORDER BY doc_id"""

  /** The pair-graph machinery shared by every graph oracle: shingles →
    * df-cap → Jaccard ≥ 0.6 pairs → symmetrized `edges`.
    */
  private lazy val pairGraphOraclePrefix: String =
    s"""WITH RECURSIVE tok AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
                FROM documents),
              sh0 AS (
                SELECT DISTINCT doc_id, s FROM (
                  SELECT doc_id,
                         UNNEST([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                 for i in generate_series(1, LEN(ts)-2)]) AS s
                  FROM tok WHERE LEN(ts) >= 3) u),
              keep AS (SELECT s FROM sh0 GROUP BY s
                       HAVING COUNT(*) <= ${DefaultMaxShingleDf}),
              sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
              sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              pr AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              pairs AS (
                SELECT d1, d2 FROM pr
                JOIN sz sa ON sa.doc_id = d1
                JOIN sz sb ON sb.doc_id = d2
                WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.6),
              edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                        UNION ALL SELECT d2, d1 FROM pairs)"""

  private lazy val dedupGroupsOraclePrefix: String =
    pairGraphOraclePrefix + """,
              reach AS (
                SELECT src AS node, src AS label FROM edges
                UNION
                SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)"""

  /** q121's oracle: PageRank as a recursive CTE with aggregation in the
    * recursive term (rank flows along edges scaled by 1/out-degree; the
    * symmetrized pair graph has no dangling nodes, so every node
    * receives mass every iteration). The final rank is reported ×N
    * (relative to uniform) so the 4-decimal hash keeps resolution at
    * any graph size.
    */
  private lazy val pageRankOracle: String =
    pairGraphOraclePrefix + s""",
              deg AS (SELECT src, COUNT(*) AS cd FROM edges GROUP BY 1),
              nodes AS (SELECT DISTINCT src AS id FROM edges),
              nn AS (SELECT COUNT(*) AS n FROM nodes),
              prk(iter, id, rank) AS (
                SELECT 0, id, 1.0 / (SELECT n FROM nn) FROM nodes
                UNION ALL
                SELECT p.iter + 1, e.dst,
                       ${1 - PageRankDamping} / (SELECT n FROM nn)
                         + $PageRankDamping * SUM(p.rank / deg.cd)
                FROM prk p
                JOIN edges e ON e.src = p.id
                JOIN deg ON deg.src = p.id
                WHERE p.iter < $PageRankIters
                GROUP BY p.iter + 1, e.dst)
              SELECT id AS doc_id,
                     ROUND(rank * (SELECT n FROM nn), 4) AS rank_x
              FROM prk WHERE iter = $PageRankIters
              ORDER BY doc_id"""

  private def moreDefs: Seq[Q] = Seq(
    // End-to-end corpus curation — the whole training-data funnel in one
    // pass: total docs, docs passing quality gates (English, >= 30
    // tokens, stopword ratio >= 5%), and of those, docs surviving
    // near-dup dedup (only a component's min doc_id is kept). The
    // stopword gate is spelled 20*n_stop >= n_tokens — integer
    // arithmetic, no float division for either engine to disagree on.
    Q("q61_corpus_curation",
      (s, d) => {
        // ONE scan+tokenize pass for both branches: the quality gates and
        // the pair graph read the same (doc_id, lang, ts) projection above
        // the same explicit doc_id exchange (ReuseExchange) — tokenizing
        // per branch doubled the expensive pass (round-4 verdict). The
        // exchange is the one `spread` would insert anyway, so the pair
        // branch's plan is unchanged.
        val tok = docs(s, d)
          .select(col("doc_id"), col("lang"),
            TextOps.tokens(col("text")).as("ts"))
          .repartition(col("doc_id"))
        val annotated = tok.select(
          col("doc_id"), col("lang"),
          size(col("ts")).as("nt"),
          TextOps.stopHits(col("ts"), TextOps.EnglishStop).as("ns"))
        val nonCanonical = connectedComponents(
          hashJaccardPairsFromTokens(tok, minJaccard = 0.6))
          .filter(col("node") =!= col("comp"))
          .select(col("node").as("doc_id"), lit(1).as("dup"))
        val isQuality = col("lang") === "en" && col("nt") >= 30 &&
          col("ns") * 20 >= col("nt")
        annotated.join(nonCanonical, Seq("doc_id"), "left")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(isQuality, 1).otherwise(0)).as("n_quality"),
            sum(when(isQuality && col("dup").isNull, 1).otherwise(0))
              .as("n_curated"))
      },
      Some(s"""WITH RECURSIVE tok AS (
                SELECT doc_id, lang,
                       regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
                FROM documents),
              sh0 AS (
                SELECT DISTINCT doc_id, s FROM (
                  SELECT doc_id,
                         UNNEST([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                 for i in generate_series(1, LEN(ts)-2)]) AS s
                  FROM tok WHERE LEN(ts) >= 3) u),
              keep AS (SELECT s FROM sh0 GROUP BY s
                       HAVING COUNT(*) <= ${DefaultMaxShingleDf}),
              sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
              sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              pr AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              pairs AS (
                SELECT d1, d2 FROM pr
                JOIN sz sa ON sa.doc_id = d1
                JOIN sz sb ON sb.doc_id = d2
                WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.6),
              edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                        UNION ALL SELECT d2, d1 FROM pairs),
              reach AS (
                SELECT src AS node, src AS label FROM edges
                UNION
                SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
              comp AS (SELECT node, MIN(label) AS comp
                       FROM reach GROUP BY node),
              noncanon AS (SELECT node AS doc_id FROM comp WHERE node <> comp),
              ann AS (
                SELECT t.doc_id, t.lang,
                       LEN(t.ts) AS nt,
                       LEN(list_filter(t.ts,
                         x -> list_contains(['the','a','and','of','to','in','is'], x))) AS ns,
                       (n.doc_id IS NOT NULL) AS dup
                FROM tok t LEFT JOIN noncanon n USING (doc_id))
              SELECT COUNT(*) AS n_docs,
                     CAST(SUM(CASE WHEN lang = 'en' AND nt >= 30
                                    AND ns * 20 >= nt THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_quality,
                     CAST(SUM(CASE WHEN lang = 'en' AND nt >= 30
                                    AND ns * 20 >= nt AND NOT dup THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_curated
              FROM ann""")),

    // The PRODUCTION near-dup decision pipeline end to end under the
    // value hash: LSH candidate generation (q71's MD5 banding) followed
    // by the exact-Jaccard VERIFY over each doc's distinct shingle-hash
    // set, keeping only certified pairs (>= 0.6) — the
    // [[jaccardOnCandidates]] composition with every step reproducible
    // in DuckDB. q33+DedupSpec cover the fast xxhash64 form; this pins
    // the candidates->verify SEMANTICS (banding recall feeding exact
    // precision) with a hash check.
    //
    // Scale shape: candidates come from the banded equi-join on
    // (band, key) over SLIM (doc_id, b, key) rows — never all-pairs, and
    // the signature/hash arrays don't ride the banding exchange. The
    // verify then fetches the two hash arrays by doc-id equi-joins —
    // per-CANDIDATE cost — and intersects them map-side. Verify Jaccard
    // is the true UNCAPPED set Jaccard (jaccardOnCandidates' semantics),
    // deliberately not q32's df-capped index ratio: the cap exists to
    // bound the inverted index's reducers, a pressure the per-candidate
    // array intersect doesn't have.
    Q("q83_lsh_verified",
      (s, d) => {
        // hv is computed BELOW the one explicit doc_id exchange so the
        // tokenize+shingle+MD5 pass runs ONCE and all four consumers
        // (both banded-join sides, both verify array fetches) read the
        // reused exchange. The withShingleArray form (repartition first,
        // project above) would re-run the MD5 chain per consumer on
        // shuffle read — 4 corpus-scale compute passes at 100 TB. The
        // verify joins key on the exchange's own column (aliased), so
        // alias-aware output partitioning feeds them shuffle-free.
        val hv = docs(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
          .filter(size(col("ts")) >= 3)
          .select(col("doc_id"),
            array_distinct(graft.functions.Fns.md5Hash32(
              shingleArrayFromTokens(col("ts")))).as("hv"))
          .repartition(col("doc_id"))
        val banded = hv
          .select(col("doc_id"),
            graft.functions.Fns.md5MinhashSig(col("hv")).as("s"))
          .select(col("doc_id"),
            posexplode(array((0 until 4).map(bnd =>
              concat_ws(",", (0 until 4).map(i =>
                element_at(col("s"), bnd * 4 + i + 1).cast("string")): _*)): _*))
              .as(Seq("b", "key")))
        val cand = banded.select(col("doc_id").as("d1"), col("b"), col("key"))
          .join(banded.select(col("doc_id").as("d2"), col("b"), col("key")),
            Seq("b", "key"))
          .filter(col("d1") < col("d2"))
          .select(col("d1"), col("d2"))
          .distinct()
        val j = col("i").cast("double") /
          (size(col("h1")) + size(col("h2")) - col("i"))
        cand
          .join(hv.select(col("doc_id").as("d1"), col("hv").as("h1")), Seq("d1"))
          .join(hv.select(col("doc_id").as("d2"), col("hv").as("h2")), Seq("d2"))
          .withColumn("i", size(array_intersect(col("h1"), col("h2"))))
          .filter(j >= 0.6)
          .select(col("d1"), col("d2"), round(j, 4).as("jaccard"))
          .orderBy(col("d1"), col("d2"))
      },
      Some {
        val slotList = Md5MinhashMixers.map { case (a, b) =>
          s"list_min(list_transform(hv, h -> ($a * h + $b) % $Md5MinhashMod))"
        }.mkString("[", ", ", "]")
        s"""WITH tok AS (
             SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
             FROM documents),
           sh AS (
             SELECT doc_id,
                    list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                   for i in generate_series(1, LEN(ts)-2)]) AS sh
             FROM tok WHERE LEN(ts) >= 3),
           hvt AS (
             SELECT doc_id,
                    list_distinct(list_transform(sh,
                      s -> CAST('0x' || SUBSTR(MD5(s), 1, 8) AS BIGINT))) AS hv
             FROM sh),
           slots AS (SELECT doc_id, $slotList AS s FROM hvt),
           banded AS (
             SELECT doc_id, b,
                    CAST(s[4*b+1] AS VARCHAR) || ',' || CAST(s[4*b+2] AS VARCHAR) || ',' ||
                    CAST(s[4*b+3] AS VARCHAR) || ',' || CAST(s[4*b+4] AS VARCHAR) AS key
             FROM slots, (SELECT UNNEST([0, 1, 2, 3]) AS b)),
           pairs AS (
             SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
             FROM banded a JOIN banded c
               ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id),
           scored AS (
             SELECT p.d1, p.d2,
                    CAST(LEN(list_intersect(ha.hv, hb.hv)) AS DOUBLE)
                      / (LEN(ha.hv) + LEN(hb.hv)
                         - LEN(list_intersect(ha.hv, hb.hv))) AS j
             FROM pairs p
             JOIN hvt ha ON ha.doc_id = p.d1
             JOIN hvt hb ON hb.doc_id = p.d2)
           SELECT d1, d2, ROUND(j, 4) AS jaccard
           FROM scored WHERE j >= 0.6 ORDER BY d1, d2"""
      }),

    // The dedup funnel with exact-dup pre-collapse ([[dedupGroupsPrecollapsed]]):
    // clone groups collapse to their min-doc_id representative before
    // the near-dup pair graph (the SCALE.md knee fix), and members
    // re-attach to the rep's component after. The oracle mirrors every
    // stage: MD5(text) grouping, q32's pair pipeline restricted to
    // representatives (df-cap over reps), recursive-CTE reachability,
    // then the member expand with COALESCE(comp, rep).
    Q("q86_dedup_groups_precollapse",
      (s, d) =>
        dedupGroupsPrecollapsed(docs(s, d), minJaccard = 0.6)
          .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE keyed AS (
                SELECT doc_id, text, MD5(text) AS ek FROM documents),
              grp AS (SELECT ek, MIN(doc_id) AS rep, COUNT(*) AS cnt
                      FROM keyed GROUP BY ek),
              reps AS (
                SELECT k.doc_id, k.text FROM keyed k
                JOIN grp g ON k.ek = g.ek AND k.doc_id = g.rep),
              tok AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
                FROM reps),
              sh0 AS (
                SELECT DISTINCT doc_id, s FROM (
                  SELECT doc_id,
                         UNNEST([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                 for i in generate_series(1, LEN(ts)-2)]) AS s
                  FROM tok WHERE LEN(ts) >= 3) u),
              keep AS (SELECT s FROM sh0 GROUP BY s
                       HAVING COUNT(*) <= ${DefaultMaxShingleDf}),
              sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
              sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              pr AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              pairs AS (
                SELECT d1, d2 FROM pr
                JOIN sz sa ON sa.doc_id = d1
                JOIN sz sb ON sb.doc_id = d2
                WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.6),
              edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                        UNION ALL SELECT d2, d1 FROM pairs),
              reach AS (
                SELECT src AS node, src AS label FROM edges
                UNION
                SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
              comp AS (SELECT node, MIN(label) AS comp
                       FROM reach GROUP BY node)
              SELECT k.doc_id, CAST(COALESCE(c.comp, g.rep) AS BIGINT) AS comp
              FROM keyed k
              JOIN grp g ON k.ek = g.ek
              LEFT JOIN comp c ON c.node = g.rep
              WHERE g.cnt > 1 OR c.comp IS NOT NULL
              ORDER BY k.doc_id"""))
  ) ++ reportDefs

  private def reportDefs: Seq[Q] = Seq(
    // Cross-source near-dup leakage: q32's exact-Jaccard pairs whose
    // endpoints come from DIFFERENT sources, aggregated per unordered
    // source pair — the provenance report that tells a curation run
    // which feeds are republishing each other (mirror sites, scraped
    // aggregators) before dedup silently biases the mix toward whichever
    // source survives the keep rule.
    //
    // Scale shape: the pair graph is built once (df-capped inverted
    // index, q32's shape); the source lookup joins the SLIM pair list
    // against a (doc_id, source) projection on the doc_id key — the
    // pair side is orders of magnitude smaller than the corpus, so the
    // exchange is pair-sized, and the final aggregate carries
    // |sources|^2 keys.
    Q("q127_cross_source_neardup",
      (s, d) => {
        val doc = docs(s, d)
        crossSourceReport(hashJaccardPairs(doc, minJaccard = 0.6),
          doc.select(col("doc_id"), col("source")))
      },
      Some(s"""WITH tok AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
                FROM documents),
              sh0 AS (
                SELECT DISTINCT doc_id, s FROM (
                  SELECT doc_id,
                         UNNEST([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                 for i in generate_series(1, LEN(ts)-2)]) AS s
                  FROM tok WHERE LEN(ts) >= 3) u),
              keep AS (SELECT s FROM sh0 GROUP BY s
                       HAVING COUNT(*) <= ${DefaultMaxShingleDf}),
              sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
              sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              pr AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              pj AS (
                SELECT d1, d2,
                       ROUND(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter), 4) AS jaccard
                FROM pr
                JOIN sz sa ON sa.doc_id = d1
                JOIN sz sb ON sb.doc_id = d2
                WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.6),
              x AS (
                SELECT LEAST(da.source, db.source) AS src1,
                       GREATEST(da.source, db.source) AS src2, jaccard
                FROM pj
                JOIN documents da ON da.doc_id = pj.d1
                JOIN documents db ON db.doc_id = pj.d2
                WHERE da.source <> db.source)
              SELECT src1, src2, COUNT(*) AS n_pairs,
                     ROUND(AVG(jaccard), 4) AS avg_jaccard
              FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Per-source dedup retention: after the q56 near-dup collapse
    // (keep = a component's min doc_id, plus every unclustered doc),
    // what fraction of each source survives — the report a mixture
    // designer reads BEFORE reweighting (q67/q104), because dedup
    // shifts the realized mix away from the raw counts whenever
    // duplication is source-skewed.
    //
    // Scale shape: the CC labels are pair-graph-sized, so the left join
    // against the (doc_id, source) projection is corpus x small on the
    // doc_id key; the aggregate carries |sources| keys with map-side
    // combine.
    Q("q128_dedup_retention",
      (s, d) => {
        val doc = docs(s, d)
        retentionReport(
          connectedComponents(hashJaccardPairs(doc, minJaccard = 0.6)),
          doc.select(col("doc_id"), col("source")))
      },
      Some(dedupGroupsOraclePrefix + """,
              comp AS (
                SELECT node AS doc_id, MIN(label) AS comp
                FROM reach GROUP BY node),
              k AS (
                SELECT d.source,
                       CASE WHEN c.comp IS NULL OR c.comp = d.doc_id
                            THEN 1 ELSE 0 END AS kept
                FROM documents d LEFT JOIN comp c USING (doc_id))
              SELECT source, COUNT(*) AS n_docs,
                     CAST(SUM(kept) AS BIGINT) AS n_kept,
                     ROUND(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 4) AS retention
              FROM k GROUP BY source ORDER BY source""")),

    // Exact-duplicate cluster-size histogram: group docs by content
    // hash, then count clusters at each multiplicity — the "how
    // duplicated is this crawl" readout (a heavy k >= 2 tail is the
    // signal that near-dup dedup will pay for itself; q27 reports the
    // one-number summary, this shows the distribution).
    //
    // Scale shape: two chained map-side-combined aggregates — first on
    // the 16-byte content hash (exact clones deepen counts), then on
    // the tiny multiplicity key space; no joins, no windows.
    Q("q129_dup_size_histogram",
      (s, d) =>
        docs(s, d)
          .groupBy(md5(col("text")).as("h"))
          .agg(count(lit(1)).as("sz"))
          .groupBy(col("sz"))
          .agg(count(lit(1)).as("n_clusters"))
          .select(col("sz").as("cluster_size"), col("n_clusters"),
            (col("sz") * col("n_clusters")).as("n_docs"))
          .orderBy(col("cluster_size")),
      Some("""WITH c AS (
                SELECT MD5(text) AS h, COUNT(*) AS sz
                FROM documents GROUP BY 1)
              SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
                     CAST(sz * COUNT(*) AS BIGINT) AS n_docs
              FROM c GROUP BY sz ORDER BY sz""")),

    // Dedup threshold sweep (see [[thresholdSweep]]): the oracle contract
    // builds the pair graph ONCE at the loosest threshold and sweeps it;
    // at scale the same sweep runs over the persisted PairStore instead
    // ([[PairStore.thresholdSweepBucketed]], CLI `pairs sweep` —
    // PairStoreSpec pins stored == fresh and a SortMergeJoin-free
    // stored-side plan).
    Q("q135_dedup_threshold_sweep",
      (s, d) => thresholdSweep(hashJaccardPairs(docs(s, d), minJaccard = 0.5)),
      Some(s"""WITH tok AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
                FROM documents),
              sh0 AS (
                SELECT DISTINCT doc_id, s FROM (
                  SELECT doc_id,
                         UNNEST([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                 for i in generate_series(1, LEN(ts)-2)]) AS s
                  FROM tok WHERE LEN(ts) >= 3) u),
              keep AS (SELECT s FROM sh0 GROUP BY s
                       HAVING COUNT(*) <= ${DefaultMaxShingleDf}),
              sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
              sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              pr AS (
                SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
              pj AS (
                SELECT d1, d2,
                       ROUND(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter), 4) AS jaccard
                FROM pr
                JOIN sz sa ON sa.doc_id = d1
                JOIN sz sb ON sb.doc_id = d2
                WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5),
              bp AS (SELECT d1, d2,
                            CAST(ROUND(jaccard * 10000) AS INT) AS bp FROM pj),
              thr AS (SELECT UNNEST([5000, 6000, 7000, 8000, 9000]) AS thr_bp),
              j AS (SELECT t.thr_bp, b.d1, b.d2
                    FROM thr t JOIN bp b ON b.bp >= t.thr_bp),
              np AS (SELECT thr_bp, COUNT(*) AS n_pairs FROM j GROUP BY 1),
              nd AS (SELECT thr_bp, COUNT(DISTINCT doc) AS n_docs FROM (
                       SELECT thr_bp, UNNEST([d1, d2]) AS doc FROM j) u
                     GROUP BY 1)
              SELECT CAST(t.thr_bp AS DOUBLE) / 10000 AS threshold,
                     CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
                     CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs
              FROM thr t LEFT JOIN np USING (thr_bp) LEFT JOIN nd USING (thr_bp)
              ORDER BY threshold""")),

    // Exact-substring dedup (see [[exactSubstringSpans]]): maximal
    // verbatim cross-doc token runs >= L, the suffix-array primitive as
    // positional-L-gram join + diagonal gaps-and-islands. The oracle
    // replays the identical reduction over gram STRINGS (engine joins
    // their xxhash64 — the q56 hash-vs-string convention), recursion-free.
    Q("q137_exact_substrings",
      (s, d) => exactSubstringSpans(docs(s, d)),
      Some(exactSubstringSpansOracle)),

    // The SAME span answer through exact-clone precollapse (see
    // [[exactSubstringSpansPrecollapsed]]) — q86/q134's fix for the
    // substring operator: the direct form pays Σ(clone-group)² join rows
    // per gram position on clone-heavy corpora. One contract, two plans,
    // both under the IDENTICAL oracle (the q74/q134 convention).
    Q("q139_exact_substrings_precollapse",
      (s, d) => exactSubstringSpansPrecollapsed(docs(s, d)),
      Some(exactSubstringSpansOracle)),

    // Duplicated-token coverage per doc (see [[exactSubstringCoverage]]):
    // union the span intervals per doc (running-max interval merge) and
    // report covered-token counts + ratio — "how much of my corpus is
    // verbatim duplication", the statistic that decides whether
    // substring-level scrubbing is worth a pipeline stage at all.
    Q("q138_dup_coverage",
      (s, d) => exactSubstringCoverage(docs(s, d)),
      Some(exactSubstringOracleCte +
        """,
        spans AS (
          SELECT d1, d2, MIN(p1) AS p1, MIN(p2) AS p2,
                 COUNT(*) + """ + (ExactSubstringMinRun - 1) + """ AS len
          FROM isl GROUP BY d1, d2, diag, grp),
        sp AS (SELECT d1 AS doc_id, p1 AS s, p1 + len - 1 AS e FROM spans
               UNION ALL
               SELECT d2 AS doc_id, p2 AS s, p2 + len - 1 AS e FROM spans),
        ord_ AS (SELECT doc_id, s, e,
          MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          FROM sp),
        isl2 AS (SELECT doc_id, s, e,
          SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
          FROM ord_),
        cov AS (SELECT doc_id, SUM(mx - mn + 1) AS dup FROM
                  (SELECT doc_id, grp, MIN(s) AS mn, MAX(e) AS mx
                   FROM isl2 GROUP BY 1, 2)
                GROUP BY 1)
        SELECT t.doc_id, CAST(LEN(ts) AS BIGINT) AS n_tokens,
               CAST(COALESCE(dup, 0) AS BIGINT) AS dup_tokens,
               ROUND(CAST(COALESCE(dup, 0) AS DOUBLE) / LEN(ts), 4) AS dup_ratio
        FROM tok t LEFT JOIN cov USING (doc_id)
        ORDER BY doc_id""")),

    // Span-REMOVAL rewriter (see [[exactSubstringRemove]]): the cleaned
    // corpus Lee et al.'s tool actually emits — keep-first (the d1 copy
    // stays, d2-side intervals are cut), token-level reassembly. The
    // oracle replays the DIRECT form (spans → d2-side interval union →
    // complement reassembly); the engine runs the linear precollapsed
    // rule — the q139 == q137 equality, transferred.
    Q("q165_exact_substring_remove",
      (s, d) => exactSubstringRemove(docs(s, d)),
      Some(exactSubstringOracleCte + """,
        spans AS (
          SELECT d1, d2, MIN(p1) AS p1, MIN(p2) AS p2,
                 COUNT(*) + """ + (ExactSubstringMinRun - 1) + """ AS len
          FROM isl GROUP BY d1, d2, diag, grp),
        cut AS (SELECT d2 AS doc_id, p2 AS s, p2 + len - 1 AS e FROM spans),
        ord_ AS (SELECT doc_id, s, e,
          MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          FROM cut),
        isl2 AS (SELECT doc_id, s, e,
          SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
          FROM ord_),
        merged AS (SELECT doc_id, grp, MIN(s) AS mn, MAX(e) AS mx
                   FROM isl2 GROUP BY 1, 2),
        toks AS (SELECT doc_id, i AS p, ts[i] AS tkn
                 FROM tok, UNNEST(generate_series(1, LEN(ts))) AS u(i)),
        kept AS (SELECT tk.doc_id, tk.p, tk.tkn FROM toks tk
                 WHERE NOT EXISTS (SELECT 1 FROM merged m
                   WHERE m.doc_id = tk.doc_id AND tk.p BETWEEN m.mn AND m.mx))
        SELECT t.doc_id, CAST(LEN(t.ts) AS BIGINT) AS n_tokens,
               CAST(LEN(t.ts) - COUNT(k.p) AS BIGINT) AS removed_tokens,
               COALESCE(STRING_AGG(k.tkn, ' ' ORDER BY k.p), '') AS clean_text
        FROM tok t LEFT JOIN kept k USING (doc_id)
        GROUP BY t.doc_id, LEN(t.ts)
        ORDER BY doc_id""")),

    // SOFT dedup: keep every document, weight it 1/|cluster| — the
    // published alternative to hard dropping (total loss mass per
    // near-dup cluster stays 1, so boilerplate can't dominate training
    // while unique phrasing inside a cluster still contributes). Rides
    // the SAME q56 clusters + recursive-CTE oracle; singletons weight
    // 1. Cluster sizes are a pair-graph-sized aggregate; the corpus
    // join is a left join on doc_id.
    Q("q156_softdedup_weights",
      (s, d) => softDedupWeights(
        connectedComponents(hashJaccardPairs(docs(s, d), minJaccard = 0.6)),
        docs(s, d).select(col("doc_id"))),
      Some(dedupGroupsOraclePrefix + """,
              lab AS (
                SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS comp
                FROM reach GROUP BY node),
              szs AS (SELECT comp, COUNT(*) AS m FROM lab GROUP BY 1)
              SELECT d.doc_id,
                     COALESCE(lab.comp, d.doc_id) AS comp,
                     CAST(COALESCE(m, 1) AS BIGINT) AS m,
                     ROUND(CAST(1 AS DOUBLE) / COALESCE(m, 1), 4) AS weight
              FROM documents d
              LEFT JOIN lab USING (doc_id)
              LEFT JOIN szs ON szs.comp = lab.comp
              ORDER BY doc_id""")),

    // PER-NODE TRIANGLE COUNTS over the q56 near-dup pair graph — the
    // dedup-graph QA signal: true near-dup clusters are cliquish (every
    // member pairs with every other, so triangles abound), while a
    // false-positive BRIDGE between unrelated clusters sits in few or
    // no triangles. Low triangle count on a high-degree node = the
    // chaining smell worth auditing before a transitive-closure dedup
    // drops half a corpus.
    //
    // Shape: DEGREE-ORIENTED wedge join (Suri & Vassilvitskii, WWW'11;
    // the MapReduce standard) — edges orient from the (degree, id)-
    // smaller endpoint to the larger, wedges form only at a node's
    // OUT-edges, and each triangle materializes exactly once at its
    // orientation-minimal corner. Without orientation a hot near-dup
    // clique of size g spins g^3/6 wedges at its id-min member (801 MB
    // peak task memory at 10x clones, measured); oriented, out-degree
    // is bounded by sqrt(2|E|) regardless of cliques, which is the
    // difference between a skew knee and a flat plan on boilerplate-
    // heavy corpora. All steps are equi-joins on the LSH-bounded pair
    // table; degree lookup is a pair-sized shuffle join (never a forced
    // broadcast — the r11 rule).
    Q("q177_triangle_counts",
      (s, d) => triangleCounts(
        hashJaccardPairs(docs(s, d), minJaccard = 0.6))
        .orderBy(col("doc_id")),
      Some(pairGraphOraclePrefix + """,
              tri AS (
                SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
                FROM pairs ab
                JOIN pairs bc ON ab.d2 = bc.d1
                JOIN pairs ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2),
              pn AS (
                SELECT a AS doc_id FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri)
              SELECT doc_id, COUNT(*) AS n_tri
              FROM pn GROUP BY 1 ORDER BY doc_id""")),

    // Local clustering coefficient — q177's counts normalized by the
    // possible-wedge count per node: ~1.0 marks a clean clique member,
    // a LOW coefficient on a HIGH degree marks the false-positive
    // bridge. The actionable dedup-QA number (q177 gives the raw
    // evidence); one extra pair-sized degree aggregate + a left join
    // over the same materialized pair table.
    Q("q181_clustering_coeff",
      (s, d) => clusteringCoefficients(
        hashJaccardPairs(docs(s, d), minJaccard = 0.6))
        .orderBy(col("doc_id")),
      Some(pairGraphOraclePrefix + """,
              tri AS (
                SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
                FROM pairs ab
                JOIN pairs bc ON ab.d2 = bc.d1
                JOIN pairs ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2),
              pn AS (
                SELECT a AS doc_id FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri),
              tc AS (SELECT doc_id, COUNT(*) AS n_tri FROM pn GROUP BY 1),
              dg AS (SELECT src AS doc_id, COUNT(*) AS deg
                     FROM edges GROUP BY 1)
              SELECT dg.doc_id AS doc_id, CAST(dg.deg AS BIGINT) AS deg,
                     CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_tri,
                     ROUND(CASE WHEN dg.deg >= 2 THEN
                         2.0 * COALESCE(tc.n_tri, 0) / (dg.deg * (dg.deg - 1))
                       ELSE 0 END, 4) AS coeff
              FROM dg LEFT JOIN tc ON tc.doc_id = dg.doc_id
              ORDER BY doc_id""")),

    // Degree assortativity over the same pair graph (see
    // [[degreeAssortativity]]): one row — directed edge count and the
    // endpoint-degree Pearson — the clique-vs-hub topology signal read
    // BEFORE choosing a collapse rule.
    Q("q220_assortativity",
      (s, d) => degreeAssortativity(
        hashJaccardPairs(docs(s, d), minJaccard = 0.6)),
      Some(pairGraphOraclePrefix + """,
              dg AS (SELECT src AS n, COUNT(*) AS deg
                     FROM edges GROUP BY 1),
              xy AS (
                SELECT CAST(a.deg AS HUGEINT) AS x,
                       CAST(b.deg AS HUGEINT) AS y
                FROM edges e
                JOIN dg a ON a.n = e.src
                JOIN dg b ON b.n = e.dst),
              s AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
                       SUM(x*x) AS sxx, SUM(y*y) AS syy
                FROM xy)
              SELECT CAST(n AS BIGINT) AS n_edges,
                     CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0
                       THEN NULL
                       ELSE ROUND(CAST(n*sxy - sx*sy AS DOUBLE) /
                         SQRT(CAST(n*sxx - sx*sx AS DOUBLE) *
                              CAST(n*syy - sy*sy AS DOUBLE)), 6)
                     END AS assortativity
              FROM s""")),

    // 2-core of the pair graph (see [[kCore]]): surviving nodes with
    // their in-core degree after 6 peel rounds (fixpoint comes much
    // sooner on cliquish near-dup graphs; the round budget is the
    // contract both engines execute). The fringe this drops is exactly
    // the bridge population q177/q181 flag.
    Q("q222_kcore",
      (s, d) => kCore(hashJaccardPairs(docs(s, d), minJaccard = 0.6),
          k = 2, maxRounds = 6)
        .orderBy(col("doc_id")),
      Some(pairGraphOraclePrefix + s""",
              p0 AS MATERIALIZED (SELECT d1, d2 FROM pairs),
              ${kCoreOracleStages(k = 2, rounds = 6)},
              fin AS (
                SELECT n, COUNT(*) AS deg FROM (
                  SELECT d1 AS n FROM p6
                  UNION ALL SELECT d2 FROM p6) u GROUP BY 1)
              SELECT n AS doc_id, CAST(deg AS BIGINT) AS deg
              FROM fin ORDER BY doc_id""")),

    // Degree histogram of the pair graph — node count per degree
    // value, the one-glance shape check (clean near-dup corpora are
    // flat-low-degree; a heavy tail says boilerplate hubs) read before
    // the per-node diagnostics (q177/q181/q220/q222). Output bounded
    // by |distinct degrees|; two map-side-combined aggregates over the
    // pair table.
    Q("q230_degree_histogram",
      (s, d) => {
        val p = hashJaccardPairs(docs(s, d), minJaccard = 0.6)
        p.select(col("d1").as("n")).unionAll(p.select(col("d2").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
          .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
          .orderBy(col("deg"))
      },
      Some(pairGraphOraclePrefix + """,
              dg AS (SELECT src, COUNT(*) AS deg
                     FROM edges GROUP BY 1)
              SELECT deg, COUNT(*) AS n_nodes
              FROM dg GROUP BY deg ORDER BY deg""")),

    // LSH banding calibration report (see [[bandRecallReport]]): recall
    // and precision of the (2x8)/(4x4)/(8x2) splits of the one 16-slot
    // MD5 signature against the true Jaccard >= 0.5 pair set. Every
    // step — shingles, MD5 slot hashes, banding, df-capped truth join —
    // is reproducible in DuckDB, so the whole report value-hash
    // matches (the q65/q71 convention applied to the calibration).
    // Calibration runs on the deterministic 1/4 md5-bucket SAMPLE
    // (the operator Scaladoc's own 100 TB prescription — the truth
    // join's pair space is quadratic in the input, so sampling is what
    // bounds the report's cost at any corpus size; the bucket is a
    // pure function of doc_id, so the oracle replays the same sample).
    Q("q199_lsh_band_recall",
      (s, d) => bandRecallReport(calSample(docs(s, d)), minJaccard = 0.5),
      Some(bandRecallOracleSql)),

    // Banding CHOICE over the q199 report (see [[chooseBanding]]): the
    // one-row decision a 100 TB dedup run actually consumes — cheapest
    // banding that clears the recall target, or the max-recall split
    // if none does. Oracle = q199's report CTE + the selection rule;
    // same 1/4 calibration sample as q199.
    Q("q200_band_choice",
      (s, d) => chooseBanding(calSample(docs(s, d)), minJaccard = 0.5,
        targetRecall = 0.9),
      Some(s"""WITH report AS ($bandRecallOracleSql)
              SELECT bands, rows_per_band, n_truth, n_candidates,
                     n_hits, recall, precision,
                     recall >= 0.9 AS meets_target
              FROM report
              ORDER BY (recall >= 0.9) DESC,
                       CASE WHEN recall >= 0.9 THEN precision
                            ELSE recall END DESC,
                       n_candidates ASC, bands ASC
              LIMIT 1"""))
  )

  /** q199's full oracle — the whole calibration (shingles → MD5 slot
    * hashes → banding → df-capped truth join) replayed in DuckDB;
    * q200 wraps it VERBATIM as its report CTE (the q66/q80 sharing
    * convention). */
  private def bandRecallOracleSql: String = {
    val slotList = Md5MinhashMixers.map { case (a, b) =>
      s"list_min(list_transform(hv, h -> ($a * h + $b) % $Md5MinhashMod))"
    }.mkString("[", ", ", "]")
    s"""WITH tok AS (
             SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
             FROM documents
             WHERE CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                   || ':cal'), 1, 8) AS BIGINT) % 4 = 0),
           sh AS (
             SELECT doc_id,
                    list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                   for i in generate_series(1, LEN(ts)-2)]) AS sh
             FROM tok WHERE LEN(ts) >= 3),
           hv AS (
             SELECT doc_id,
                    list_transform(sh, s -> CAST('0x' || SUBSTR(MD5(s), 1, 8) AS BIGINT)) AS hv
             FROM sh),
           side AS (SELECT doc_id, list_distinct(hv) AS hvd, $slotList AS s FROM hv),
           ex AS (SELECT doc_id, UNNEST(hvd) AS h FROM side),
           keep AS (SELECT h FROM ex GROUP BY h
                    HAVING COUNT(*) <= $DefaultMaxShingleDf),
           exk AS (SELECT ex.doc_id, ex.h FROM ex JOIN keep USING (h)),
           tp AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM exk a JOIN exk b ON a.h = b.h AND a.doc_id < b.doc_id),
           truth AS (
             SELECT d1, d2 FROM tp
             JOIN side sa ON sa.doc_id = tp.d1
             JOIN side sb ON sb.doc_id = tp.d2
             WHERE CAST(LEN(list_intersect(sa.hvd, sb.hvd)) AS DOUBLE)
                   / (LEN(sa.hvd) + LEN(sb.hvd)
                      - LEN(list_intersect(sa.hvd, sb.hvd))) >= 0.5),
           cfgs AS (SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2)) AS t(bands, rpb)),
           banded AS (
             SELECT c.bands, c.rpb, s.doc_id,
                    CAST(bs.b AS VARCHAR) || ',' ||
                    array_to_string(list_transform(generate_series(1, c.rpb),
                      i -> CAST(s.s[c.rpb * bs.b + i] AS VARCHAR)), ',') AS key
             FROM side s, cfgs c,
                  (SELECT UNNEST(generate_series(0, 7)) AS b) bs
             WHERE bs.b < c.bands),
           cand AS (
             SELECT DISTINCT a.bands, a.rpb, a.doc_id AS d1, b2.doc_id AS d2
             FROM banded a JOIN banded b2
               ON a.bands = b2.bands AND a.key = b2.key
              AND a.doc_id < b2.doc_id),
           nt AS (SELECT COUNT(*) AS n_truth FROM truth)
           SELECT CAST(c.bands AS BIGINT) AS bands,
                  CAST(c.rpb AS BIGINT) AS rows_per_band,
                  nt.n_truth AS n_truth,
                  COUNT(*) AS n_candidates,
                  CAST(SUM(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
                  ROUND(CASE WHEN nt.n_truth = 0 THEN NULL
                        ELSE SUM(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                             / nt.n_truth END, 4) AS recall,
                  ROUND(SUM(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                        / COUNT(*), 4) AS precision
           FROM cand c
           LEFT JOIN truth t ON t.d1 = c.d1 AND t.d2 = c.d2
           CROSS JOIN nt
           GROUP BY c.bands, c.rpb, nt.n_truth
           ORDER BY bands"""
  }

  /** Shared oracle front end for q137/q138: positional L-grams over the
    * standard tokenization, df-capped, self-joined, islands per
    * (pair, diagonal) — the exact [[exactSubstringSpans0]] reduction in
    * recursion-free SQL.
    */
  /** q137's full oracle — q139 runs under it VERBATIM. */
  private def exactSubstringSpansOracle: String =
    exactSubstringOracleCte +
      """
      SELECT d1, d2, CAST(MIN(p1) AS BIGINT) AS p1,
             CAST(MIN(p2) AS BIGINT) AS p2,
             CAST(COUNT(*) + """ + (ExactSubstringMinRun - 1) + """ AS BIGINT) AS len
      FROM isl GROUP BY d1, d2, diag, grp
      ORDER BY d1, d2, p1, p2"""

  private def exactSubstringOracleCte: String = {
    val l = ExactSubstringMinRun
    s"""WITH tok AS (
        SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
        FROM documents),
      g0 AS (
        SELECT doc_id, i AS p, array_to_string(ts[i:i+${l - 1}], ' ') AS g
        FROM tok, UNNEST(generate_series(1, LEN(ts)-${l - 1})) AS u(i)
        WHERE LEN(ts) >= $l),
      keep AS (SELECT g FROM g0 GROUP BY g HAVING COUNT(*) <= $DefaultMaxShingleDf),
      idx AS (SELECT g0.doc_id, g0.p, g0.g FROM g0 JOIN keep USING (g)),
      m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.p AS p1, b.p AS p2
            FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id),
      isl AS (SELECT d1, d2, p1, p2, p1 - p2 AS diag,
                     p1 - ROW_NUMBER() OVER (PARTITION BY d1, d2, p1 - p2 ORDER BY p1) AS grp
              FROM m)"""
  }
}
