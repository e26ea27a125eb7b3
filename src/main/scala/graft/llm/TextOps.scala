package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Pins, Tables}
import graft.plans.Cumulative
import graft.queries.Q

/** Text-analysis operators for LLM training-data pipelines, over the
  * `documents` table: token counting, quality scoring, n-gram-heuristic
  * language ID, and document fingerprinting.
  *
  * All of these are pure column expressions (split/filter/transform/
  * regexp_* — codegen'd, no UDFs), so they scan-parallelize trivially:
  * at 100 TB each is a single embarrassingly-parallel projection with no
  * shuffle except the final small aggregate where one exists.
  */
object TextOps {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** Whitespace tokens of lowercased text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Count of tokens that appear in `stop` — native StopHits expression
    * (one hash-set probe per token; the HOF
    * `size(filter(toks, array_contains(...)))` reference formulation is
    * pinned equal in FnsSpec).
    */
  def stopHits(toks: Column, stop: Seq[String]): Column =
    graft.functions.Fns.stopHits(toks, stop)

  val EnglishStop: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Per-doc BM25 scores for a fixed term set (q84's body, factored so
    * the hybrid-retrieval fusion q221 reuses the identical sparse leg).
    * Returns (doc_id, score_raw) UNROUNDED and unordered — callers rank.
    * See q84's entry for the scale shape (term filter above the
    * tokenize, |terms|-row df broadcast, 1-row stats broadcast).
    */
  def bm25Scores(docsDf: DataFrame, terms: Seq[String],
      k1: Double = 1.2, bp: Double = 0.75): DataFrame = {
    val tok = docsDf
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).as("dl"), col("ts"))
    val stats = tok.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = tok
      .select(col("doc_id"), col("dl"), explode(col("ts")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) /
      (col("df") + 0.5) + 1.0)
    val termScore = idf * (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - bp) +
        lit(bp) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(sum(termScore).as("score_raw"))
  }

  /** Reciprocal-rank fusion of two ranked lists (q221's combiner,
    * exposed for planted-list specs): full-outer on doc_id, fused
    * score = Σ 1/(kR + rank) over the legs that retrieved the doc,
    * absent legs reported as rank 0. Inputs are (doc_id, rank_s) and
    * (doc_id, rank_d) with 1-based ranks.
    */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, kR: Int = 60): DataFrame = {
    val rrf = coalesce(lit(1.0) / (lit(kR) + col("rank_s")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(kR) + col("rank_d")), lit(0.0))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_s"), lit(0)).as("rank_s"),
        coalesce(col("rank_d"), lit(0)).as("rank_d"),
        round(rrf, 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** Normalized-text fingerprint: md5 of whitespace-collapsed lowercase
    * text, first 8 hex chars (the reference-style rolling-hash use case —
    * stable identity for exact-dup detection and sharding).
    */
  def fingerprint(text: Column): Column =
    substring(md5(regexp_replace(lower(text), "\\s+", " ")), 1, 8)

  /** Token-budget sequence packing, skew-safe two-phase form: assign each
    * doc (per language, in doc_id order) to training chunk
    * floor(tokens_before_this_doc / budget).
    *
    * A single cumsum window keyed on `lang` alone puts an ENTIRE
    * language's rows in one task — `lang` has ~5 distinct values, so at
    * 100 TB that's a multi-TB single-task sort (and AQE's skew splitting
    * does not apply to Window). The exclusive running token count is a
    * [[Cumulative]] per language on doc_id-range blocks of `blockSize`
    * (non-decreasing in doc_id). Token counts are longs, so the regrouped
    * addition is exact — bit-identical to the single-window form (pinned
    * in SkewSpec).
    */
  def packChunks(docsDf: DataFrame, budget: Long,
      blockSize: Long = 1024L): DataFrame = {
    val base = docsDf.select(
      col("doc_id"), col("lang"),
      when(trim(col("text")) === "", 0)
        .otherwise(size(tokens(col("text")))).cast("long").as("nt"),
      floor(col("doc_id") / blockSize).as("__blk"))
    Cumulative.running(base, Seq("lang"), "__blk", Seq(col("doc_id")),
      col("nt"), Cumulative.Sum, inclusive = false, "before")
      .select(col("doc_id"), col("lang"), col("nt"),
        floor(col("before") / budget).as("chunk"))
  }

  /** Fixed-width overlapping character chunks (RAG / long-context
    * pretraining prep): chunk i of a doc covers character offsets
    * [i*stride, i*stride + width). Pure map-side posexplode of a per-row
    * offset sequence — chunking 100 TB is scan-bandwidth-bound; the only
    * shuffle is whatever the caller does next.
    */
  def chunkDocs(docsDf: DataFrame, width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      s"need 0 < stride <= width, got width=$width stride=$stride")
    docsDf
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), length(col("text")) - 1, lit(stride)),
          st => col("text").substr(st + lit(1), lit(width)))))
      .toDF("doc_id", "chunk_id", "chunk")
  }

  /** Adjacent-token-pair counts over the corpus — the inner counting
    * step of BPE tokenizer training (and a bigram surface for LM-style
    * scoring). The pair explode is map-side; counts partially combine
    * before the single distinct-pair exchange, so the shuffle carries
    * one row per DISTINCT pair, not per token position.
    */
  def adjacentPairCounts(docsDf: DataFrame): DataFrame =
    docsDf
      .select(tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => concat_ws(" ", element_at(col("ts"), i),
          element_at(col("ts"), i + 1)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))

  /** BPE tokenizer training (Sennrich-style): every word is a symbol
    * sequence (its characters plus a terminal `</w>`), and each merge
    * step fuses the globally most frequent adjacent symbol pair.
    * Returns the ordered merge table `(step, "a b")`.
    *
    * Scale shape: the corpus is tokenized ONCE into a distinct-WORD
    * frequency table (vocab-sized — ~10^7 rows at 100 TB, not
    * corpus-sized); all `numMerges` iterations run over that table,
    * weighted by word count. Each iteration is one slim (pair, weight)
    * aggregate + a 1-row argmax collect + one map-side fold fusing the
    * winning pair left-to-right. Ties break lexicographically so the
    * merge table is deterministic across runs and partitionings.
    */
  def bpeTrain(docsDf: DataFrame,
      numMerges: Int): Seq[(Int, String)] = Pins { pins =>
    val words = docsDf
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      // chars of the word, then the terminal symbol
      .select(
        concat(
          transform(sequence(lit(1), length(col("w"))),
            i => col("w").substr(i, lit(1))),
          array(lit("</w>"))).as("sym"),
        col("cnt"))
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String)]
    pins.iterate("bpeTrain", (pins.pin(words), ()), numMerges) { (cur, _) =>
      val top = cur
        .filter(size(col("sym")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("sym")) - 1),
          i => concat_ws(" ", element_at(col("sym"), i),
            element_at(col("sym"), i + 1)))).as("pair"), col("cnt"))
        .groupBy(col("pair"))
        .agg(sum(col("cnt")).as("weight"))
        .orderBy(col("weight").desc, col("pair"))
        .limit(1)
        .collect()
      top.headOption.fold(cur) { row =>
        val pair = row.getString(0)
        val Array(a, b) = pair.split(" ", 2)
        merges += ((merges.size + 1, pair))
        // fuse adjacent (a, b) left-to-right, non-overlapping: fold the
        // symbols, replacing a trailing `a` when the next symbol is `b`
        cur.select(
          aggregate(col("sym"),
            array().cast("array<string>"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(a) &&
                x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(x)))).as("sym"),
          col("cnt"))
      }
    } { (_, _, _) => ((), false) } // ends when no pair is left to merge
    merges.toList
  }

  /** Persist a [[bpeTrain]] merge table as parquet `(step, pair)` so
    * encode jobs load it instead of retraining (`bpe` CLI). */
  def saveBpeMerges(spark: SparkSession, merges: Seq[(Int, String)],
      dir: String): Unit = {
    import spark.implicits._
    merges.toDF("step", "pair").coalesce(1)
      .write.mode("overwrite").parquet(dir)
  }

  /** Load a persisted merge table in rank order. */
  def loadBpeMerges(spark: SparkSession, dir: String): Seq[String] =
    spark.read.parquet(dir).orderBy(col("step"))
      .collect().map(_.getString(1)).toSeq

  /** Subword tokens of each whitespace token under a trained BPE merge
    * table (see [[bpeTrain]]) — the encode half of the tokenizer. The
    * merge table rides the plan as a literal (vocab-sized merge lists
    * are a few hundred KB; broadcast-register them like the Bloom
    * registry if they ever grow past that); encoding is a map-side
    * flatten, so tokenizing 100 TB is scan-bandwidth-bound.
    */
  def bpeEncodeTokens(docsDf: DataFrame, merges: Seq[String]): DataFrame =
    docsDf.select(col("doc_id"),
      flatten(transform(tokens(col("text")),
        w => graft.functions.Fns.bpeEncode(w, merges))).as("subwords"))

  /** Per-document character-level Shannon entropy (nats, 4 dp) — the
    * low-entropy tail is boilerplate/repetition, the quality signal
    * CCNet-class filters threshold on. Native one-pass expression
    * (graft.functions.CharEntropy), so the pass is map-side with no
    * shuffle and O(len) per row; the O(distinct × len) HOF reference
    * form below is pinned bit-identical in FnsSpec.
    */
  def charEntropy(text: Column): Column =
    round(graft.functions.Fns.charEntropy(text), 4)

  /** Reference HOF formulation of [[charEntropy]] (pre-round): distinct
    * chars in first-occurrence order, fold of `acc - (cnt/n) ln(cnt/n)`
    * — the spelling the DuckDB oracle mirrors with list functions.
    */
  private[graft] def charEntropyHof(text: Column): Column = {
    val chars = transform(sequence(lit(1), length(text)),
      i => text.substr(i, lit(1)))
    val n = size(chars).cast("double")
    aggregate(
      array_distinct(chars), lit(0.0d),
      (acc, c) => {
        val cnt = size(filter(chars, x => x === c)).cast("double")
        acc - (cnt / n) * log(cnt / n)
      })
  }

  /** Per-document mean bigram log-probability under an add-k-smoothed
    * bigram model trained on the corpus itself — the perplexity-filter
    * proxy (CCNet-class pipelines score with a KenLM; the statistical
    * shape is identical, with the corpus standing in for the external
    * LM). Low scores flag gibberish/boilerplate.
    *
    * Scale shape: the unigram/bigram count tables are VOCAB-sized, not
    * corpus-sized; the doc-bigram stream joins them on token keys — two
    * shuffles whose skew (stopword heads) AQE's skew-join splits. The
    * count tables are reused across both joins from one tokenize pass.
    */
  def bigramLogProb(docsDf: DataFrame, k: Double = 0.5): DataFrame = {
    // explicit exchange below the tokenize so all four consumers
    // (doc bigrams, bigram counts, unigram counts, vocab size) read ONE
    // scan+tokenize pass through ReuseExchange — the q61 shape; without
    // it each subtree re-scans and re-tokenizes the corpus
    val toks = docsDf
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .repartition(col("doc_id"))
    val docBigrams = toks.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("a"),
          element_at(col("ts"), i + 1).as("b")))).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
    val unigrams = toks
      .select(explode(col("ts")).as("a"))
      .groupBy(col("a")).agg(count(lit(1)).as("ca"))
    val vocab = unigrams.agg(count(lit(1)).as("v"))
    val bigrams = docBigrams.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cb"))
    docBigrams
      .join(bigrams, Seq("a", "b"))
      .join(unigrams, Seq("a"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(avg(log((col("cb") + k) / (col("ca") + lit(k) * col("v"))))
        .as("logprob_raw"))
      .select(col("doc_id"), round(col("logprob_raw"), 4).as("logprob"))
  }

  /** Interpolated Kneser-Ney bigram log-probability per doc (Kneser &
    * Ney 1995; Chen & Goodman 1999's benchmark smoothing — the standard
    * LM the add-k model of [[bigramLogProb]] approximates):
    *
    *   P(b|a) = max(c(a,b) − D, 0)/c(a·)
    *          + D·N1+(a,·)/c(a·) · N1+(·,b)/|bigram types|
    *
    * with absolute discount D, history mass c(a·) = Σ_b c(a,b), and the
    * continuation probability counting DISTINCT histories — the KN
    * insight that "Francisco" is frequent but follows only "San".
    *
    * Scale shape mirrors q98: one tokenize pass behind an explicit
    * doc_id exchange feeds the doc-bigram stream; all model tables
    * (bigram counts, history mass + distinct continuations, distinct
    * histories, type count) are vocabulary-sized aggregates of it; the
    * scoring join is bigram-keyed, partial-aggregated per doc.
    */
  def knBigramLogProb(docsDf: DataFrame, discount: Double = 0.75): DataFrame = {
    val toks = docsDf
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .repartition(col("doc_id"))
    val docBigrams = toks.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("a"),
          element_at(col("ts"), i + 1).as("b")))).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
    val bigrams = docBigrams.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cb"))
    val hist = bigrams.groupBy(col("a"))
      .agg(sum(col("cb")).as("ca"), count(lit(1)).as("n1f"))
    val cont = bigrams.groupBy(col("b")).agg(count(lit(1)).as("n1r"))
    val types = bigrams.agg(count(lit(1)).as("nbt"))
    docBigrams
      .join(bigrams, Seq("a", "b"))
      .join(hist, Seq("a"))
      .join(cont, Seq("b"))
      .crossJoin(broadcast(types))
      .groupBy(col("doc_id"))
      .agg(avg(log(
        greatest(col("cb") - discount, lit(0.0)) / col("ca")
          + lit(discount) * col("n1f") / col("ca")
          * (col("n1r").cast("double") / col("nbt"))))
        .as("raw"))
      .select(col("doc_id"), round(col("raw"), 4).as("kn_logprob"))
  }

  /** Count-Min sketch heavy-hitter report (Cormode & Muthukrishnan
    * 2005) — the streaming-sketch counterpart to q112's Misra-Gries
    * route: d=4 hash rows × w buckets of integer counters, built in ONE
    * pass with 4096 keys of map-side-mergeable state (no vocab-sized
    * aggregation anywhere in the sketch path — the property that
    * matters when the vocabulary itself doesn't fit), point-queried as
    * est(t) = min over rows of the t's bucket counter. Hashes are
    * md5-derived (the q59 rule, salt ":r") so both engines address
    * identical buckets and every number in the output is an exact
    * integer. The report joins the estimate against the exact top-k
    * counts — est ≥ exact always (counters only over-count on
    * collision), and the gap IS the measured collision error at this
    * (d, w).
    */
  /** The d=4 md5-derived bucket addresses of one token — shared by the
    * sketch build, the point-query probe, and the streaming form (all
    * three must address identical counters).
    */
  def cmsBuckets(tok: Column, w: Int): Column =
    array((0 until 4).map(r =>
      pmod(conv(substring(md5(concat(tok, lit(s":$r"))), 1, 8), 16, 10)
        .cast("long"), lit(w))): _*)

  /** One corpus pass → the (r, bucket, c) counter table (4·w rows).
    * MERGEABLE: sketches of disjoint corpus slices sum counter-wise to
    * the whole-corpus sketch — the property the streaming form
    * ([[graft.streaming.StreamingSketch]]) relies on.
    */
  def cmsSketch(docsDf: DataFrame, w: Int = 1024): DataFrame =
    docsDf
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(posexplode(cmsBuckets(col("tok"), w)).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("c"))

  def cmsHeavyHitters(docsDf: DataFrame, k: Int = 20,
      w: Int = 1024): DataFrame = {
    val toks = docsDf
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val sketch = cmsSketch(docsDf, w)
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("tok")).limit(k)
    exact
      .select(col("tok"), col("exact"),
        posexplode(cmsBuckets(col("tok"), w)).as(Seq("r", "bucket")))
      .join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(col("tok"), col("exact"))
      .agg(min(col("c")).as("cms_est"))
      .orderBy(col("exact").desc, col("tok"))
  }

  /** Segment-level language-consistency (code-switching) report — the
    * diagnostic behind CCNet/mC4's per-paragraph LID: a document whose
    * SEGMENTS classify to different languages is mixed-language (or has
    * embedded boilerplate in another language) and needs segment-level
    * handling, which doc-level langid (q30) cannot see. Segments here
    * are the token halves (the corpus has no paragraph breaks — the
    * q88 "line" deviation, same rationale); each half classifies by
    * q30's stopword rule with q30's deterministic tie-break, and the
    * per-language report counts docs whose halves disagree. Fully
    * map-side (one tokenize, two bounded array folds per row); the only
    * shuffle is the |langs|-key aggregate.
    */
  def codeSwitchReport(docsDf: DataFrame): DataFrame = {
    def pred(ts: Column): Column = {
      val en = stopHits(ts, Seq("the", "and", "of"))
      val es = stopHits(ts, Seq("el", "la", "de"))
      val de = stopHits(ts, Seq("der", "die", "und"))
      when(en >= es && en >= de, "en").when(es >= de, "es").otherwise("de")
    }
    docsDf
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("lang"),
        pred(expr("slice(ts, 1, size(ts) div 2)")).as("p1"),
        pred(expr("slice(ts, size(ts) div 2 + 1, size(ts) - size(ts) div 2)"))
          .as("p2"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("p1") =!= col("p2"), 1L).otherwise(0L)).as("n_switched"),
        round(sum(when(col("p1") =!= col("p2"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 4).as("pct_switched"))
      .orderBy(col("lang"))
  }

  /** CCNet-style per-language perplexity terciles (Wenzek et al. 2020:
    * each language's documents split into head/middle/tail thirds by LM
    * score; pipelines then keep head+middle or reweight by bucket). The
    * LM is [[bigramLogProb]]'s corpus-trained add-k model — the same
    * proxy q98 scores with — and the tercile cutoffs are VALUE-PINNED,
    * never interpolated (the q102 rule): t1 is the smallest 4-dp score
    * whose per-language cumulative doc count reaches floor(n/3), t2
    * likewise at floor(2n/3); a doc is tail if score ≤ t1, middle if
    * ≤ t2, else head. Ties at a cutoff land in the lower bucket in both
    * engines — no doc_id tie-break, no percentile arithmetic.
    *
    * Scale shape: no global sort anywhere. The cumulative pass runs on
    * the per-(lang, 4-dp-value) GRID — bounded by the value grid, not
    * the corpus — and the |langs|-row threshold table broadcasts back
    * for a map-side bucket assignment; the final aggregate carries
    * ≤ 3·|langs| keys.
    */
  def ccnetBuckets(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = bigramLogProb(docsDf)
      .join(docsDf.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val grid = scored.groupBy(col("lang"), col("logprob"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("logprob"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
    val cum = grid.select(col("lang"), col("logprob"),
      sum(col("cnt")).over(wCum).as("cum"),
      sum(col("cnt")).over(wAll).as("n"))
    val thr = cum.groupBy(col("lang")).agg(
      min(when(col("cum") >= expr("n div 3"), col("logprob"))).as("t1"),
      min(when(col("cum") >= expr("(2 * n) div 3"), col("logprob"))).as("t2"))
    scored.join(broadcast(thr), Seq("lang"))
      .select(col("lang"), col("logprob"),
        when(col("logprob") <= col("t1"), lit("tail"))
          .when(col("logprob") <= col("t2"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        // avg over the 4-dp scores in integer BASIS POINTS: a float sum
        // is summation-order-dependent and one bucket's mean WILL land
        // on a rounding boundary somewhere (measured: ±1 ulp flipped
        // es/tail at sf0.01); the integer sum is order-free and the
        // single division of identical integers is bit-identical in
        // both engines
        round(sum(round(col("logprob") * 10000).cast("long")).cast("double")
          / (count(lit(1)).cast("double") * 10000.0), 4).as("avg_logprob"),
        min(col("logprob")).as("min_logprob"),
        max(col("logprob")).as("max_logprob"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** One-command pretraining-shape pipeline (the shaping counterpart to
    * `Curation.curateCorpus`'s cleaning funnel): overlapping character
    * chunks → per-chunk token counts → deterministic shuffled-shard
    * export. Chunk ids are `doc_id * maxChunks + chunk_id` (maxChunks
    * from one bounded 1-row aggregate), so chunk identity — and
    * therefore the export's pseudorandom order — is a pure function of
    * the input, reproducible on any cluster layout. Every stage is
    * map-side except the single shard exchange `shuffledShards` already
    * pays.
    */
  final case class PrepReport(nDocs: Long, nChunks: Long, nTokens: Long,
      shardsDir: String)

  def prepCorpus(docsDf: DataFrame, outDir: String, width: Int = 2000,
      stride: Int = 1800, shards: Int = 16): PrepReport = {
    val spark = docsDf.sparkSession
    val nDocs = docsDf.count()
    val chunks = chunkDocs(docsDf, width, stride)
    val maxChunks = chunks.agg(max(col("chunk_id")).cast("long"))
      .head.getLong(0) + 1L
    val shaped = chunks.select(
      (col("doc_id") * maxChunks + col("chunk_id")).as("chunk_uid"),
      col("doc_id"), col("chunk_id"), col("chunk"),
      when(trim(col("chunk")) === "", 0L)
        .otherwise(size(tokens(col("chunk"))).cast("long")).as("n_tokens"))
    val shardsDir = s"$outDir/shards"
    graft.etl.Writers.shuffledShards(shaped, "chunk_uid", shardsDir, shards)
    val out = spark.read.parquet(shardsDir)
    val (nChunks, nTokens) = {
      val r = out.agg(count(lit(1)), sum(col("n_tokens"))).head
      (r.getLong(0), r.getLong(1))
    }
    PrepReport(nDocs, nChunks, nTokens, shardsDir)
  }

  /** Train the q98 bigram LM ONCE and persist its three artifacts
    * (unigram counts, bigram counts, vocab size) as parquet — at 100 TB
    * the model tables are built in one corpus pass and every later
    * scoring job joins against the stored vocab-sized tables instead of
    * re-aggregating the corpus (the PairStore/IvfStore convention).
    */
  def saveBigramLm(docsDf: DataFrame, dir: String): Unit = {
    val toks = docsDf
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .repartition(col("doc_id"))
    val unigrams = toks
      .select(explode(col("ts")).as("a"))
      .groupBy(col("a")).agg(count(lit(1)).as("ca"))
    val bigrams = toks.select(
      explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("a"),
          element_at(col("ts"), i + 1).as("b")))).as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cb"))
    unigrams.write.mode("overwrite").parquet(s"$dir/unigrams")
    bigrams.write.mode("overwrite").parquet(s"$dir/bigrams")
    unigrams.agg(count(lit(1)).as("v"))
      .write.mode("overwrite").parquet(s"$dir/vocab")
  }

  /** [[bigramLogProb]] against a persisted model (see [[saveBigramLm]]):
    * scoring scans ONLY the docs being scored plus the stored
    * vocab-sized tables. Out-of-vocabulary bigrams (docs unseen at
    * train time) back off to zero counts — the add-k floor — via left
    * joins, so scoring new corpora is total.
    */
  def bigramLogProbStored(docsDf: DataFrame, dir: String,
      k: Double = 0.5): DataFrame = {
    val spark = docsDf.sparkSession
    val toks = docsDf
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
    val docBigrams = toks.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("a"),
          element_at(col("ts"), i + 1).as("b")))).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
    val unigrams = spark.read.parquet(s"$dir/unigrams")
    val bigrams = spark.read.parquet(s"$dir/bigrams")
    val vocab = spark.read.parquet(s"$dir/vocab")
    docBigrams
      .join(bigrams, Seq("a", "b"), "left")
      .join(unigrams, Seq("a"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        log((coalesce(col("cb"), lit(0L)) + k) /
          (coalesce(col("ca"), lit(0L)) + lit(k) * col("v"))).as("lp"))
      .groupBy(col("doc_id"))
      .agg(avg(col("lp")).as("logprob_raw"))
      .select(col("doc_id"), round(col("logprob_raw"), 4).as("logprob"))
  }

  /** Each doc's (doc_id, shard, n_tokens): its md5 ":pack" shard among
    * `shards` and its token count (0 for a null or blank text). The one
    * sizing of [[packSequences]] and `StreamingPack.sized`, so the batch
    * and the stream agree on every count and shard. */
  private[graft] def packSized(docs: DataFrame, shards: Int): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      pmod(graft.queries.Stats.h32(col("doc_id"), ":pack"), lit(shards))
        .cast("int").as("shard"),
      when(col("text").isNull || trim(col("text")) === "", 0L)
        .otherwise(size(tokens(col("text"))).cast("long")).as("n_tokens"))

  /** Next-fit sequence packing — the training-export step that
    * concatenates documents into fixed-capacity token sequences (every
    * pretraining pipeline packs; unpacked batches waste the tail of
    * each sequence as padding). Docs hash into `shards` (md5 ":pack"
    * addressing), and within each shard, in doc_id order, next-fit
    * assigns bins: a doc that would overflow the current bin's
    * `capacity` opens a new bin (a doc longer than `capacity` sits
    * alone in its own oversized bin). The assignment is a pure
    * function of (shard, doc_id order) — reproducible on any cluster
    * layout or executor count.
    *
    * Scale shape: token counts are map-side; the ONE exchange is the
    * shard repartition (the same exchange a shard export already
    * pays); the capacity-reset fold is inherently sequential per
    * shard, not window-expressible (the bin index depends on every
    * predecessor through a non-associative reset), so it runs as a
    * sort-within-partition + streaming mapPartitions with O(1) state —
    * the sanctioned per-partition-imperative case, never a collect or
    * a per-shard materialized list. Shard count bounds the sequential
    * chain length exactly as it bounds export file sizes.
    */
  def packSequences(docsDf: DataFrame, shards: Int,
      capacity: Long): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    packSized(docsDf, shards).repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Long, Int, Long)]
      .mapPartitions { it =>
        var curShard = -1
        var fill = 0L
        var bin = 0L
        it.map { case (id, sh, n) =>
          if (sh != curShard) { curShard = sh; bin = 0L; fill = n }
          else if (fill + n > capacity) { bin += 1L; fill = n }
          else fill += n
          (id, sh, n, bin)
        }
      }.toDF("doc_id", "shard", "n_tokens", "bin")
  }

  def defs: Seq[Q] = Seq(
    // SEQUENCE PACKING — per-doc (shard, bin) assignment under
    // next-fit at capacity 512 whitespace tokens, 8 shards. The
    // oracle replays the sequential fold as a per-shard recursive
    // CTE, so every bin boundary is hash-checked.
    Q("q260_sequence_packing",
      (s, d) => packSequences(docs(s, d), 8, 512)
        .orderBy(col("shard"), col("doc_id")),
      Some("""WITH RECURSIVE toks AS (
                SELECT doc_id,
                       CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                         || ':pack'), 1, 8) AS BIGINT) % 8 AS shard,
                       CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
                            ELSE LEN(regexp_split_to_array(
                              TRIM(LOWER(text)), '\s+')) END AS n_tokens
                FROM documents),
              ord AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY shard
                  ORDER BY doc_id) AS rn
                FROM toks),
              pack AS (
                SELECT doc_id, shard, n_tokens, rn,
                       CAST(0 AS BIGINT) AS bin, n_tokens AS fill
                FROM ord WHERE rn = 1
                UNION ALL
                SELECT o.doc_id, o.shard, o.n_tokens, o.rn,
                       CASE WHEN p.fill + o.n_tokens > 512
                            THEN p.bin + 1 ELSE p.bin END,
                       CASE WHEN p.fill + o.n_tokens > 512
                            THEN o.n_tokens ELSE p.fill + o.n_tokens END
                FROM pack p JOIN ord o
                  ON o.shard = p.shard AND o.rn = p.rn + 1)
              SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
                     bin
              FROM pack ORDER BY shard, doc_id""")),

    // PACKING DATA CARD — per-shard bins/docs/tokens and the fill
    // rate of the q260 export: the waste number a training run reads
    // before deciding capacity. Fill is ONE double over exact integer
    // sums (tokens / (bins * capacity)).
    Q("q267_packing_stats",
      (s, d) => packSequences(docs(s, d), 8, 512)
        .groupBy(col("shard"))
        .agg(countDistinct(col("bin")).as("n_bins"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .select(col("shard"), col("n_bins"), col("n_docs"),
          col("n_tokens"),
          round(col("n_tokens").cast("double")
            / (col("n_bins").cast("double") * 512.0), 4).as("fill"))
        .orderBy(col("shard")),
      Some("""WITH RECURSIVE toks AS (
                SELECT doc_id,
                       CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                         || ':pack'), 1, 8) AS BIGINT) % 8 AS shard,
                       CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
                            ELSE LEN(regexp_split_to_array(
                              TRIM(LOWER(text)), '\s+')) END AS n_tokens
                FROM documents),
              ord AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY shard
                  ORDER BY doc_id) AS rn
                FROM toks),
              pack AS (
                SELECT doc_id, shard, n_tokens, rn,
                       CAST(0 AS BIGINT) AS bin, n_tokens AS fill
                FROM ord WHERE rn = 1
                UNION ALL
                SELECT o.doc_id, o.shard, o.n_tokens, o.rn,
                       CASE WHEN p.fill + o.n_tokens > 512
                            THEN p.bin + 1 ELSE p.bin END,
                       CASE WHEN p.fill + o.n_tokens > 512
                            THEN o.n_tokens ELSE p.fill + o.n_tokens END
                FROM pack p JOIN ord o
                  ON o.shard = p.shard AND o.rn = p.rn + 1)
              SELECT shard, CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins,
                     CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(CAST(n_tokens AS HUGEINT)) AS BIGINT)
                       AS n_tokens,
                     ROUND(CAST(SUM(CAST(n_tokens AS HUGEINT)) AS DOUBLE)
                       / (CAST(COUNT(DISTINCT bin) AS DOUBLE) * 512.0), 4)
                       AS fill
              FROM pack GROUP BY shard ORDER BY shard""")),

    // Q25 [E] per-language corpus stats (SURVEY §2B).
    Q("q25_text_stats",
      (s, d) =>
        docs(s, d)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("docs"),
            round(avg(col("n_chars")), 0).cast("long").as("avg_chars"),
            sum(when(lower(col("text")).like("%data%"), 1).otherwise(0)).as("hits"))
          .orderBy(col("lang")),
      Some("""SELECT lang, COUNT(*) AS docs,
                     CAST(ROUND(AVG(n_chars), 0) AS BIGINT) AS avg_chars,
                     CAST(SUM(CASE WHEN LOWER(text) LIKE '%data%' THEN 1 ELSE 0 END) AS BIGINT) AS hits
              FROM documents GROUP BY lang ORDER BY lang""")),

    // Token counting (whitespace tokenizer; BPE-ish regex variant in
    // `q29_quality`'s punct split). Empty text counts 0.
    Q("q28_token_count",
      (s, d) =>
        docs(s, d)
          .select(
            col("doc_id"),
            when(trim(col("text")) === "", 0)
              .otherwise(size(tokens(col("text")))).as("n_tokens"))
          .orderBy(col("doc_id"))
          .limit(200),
      Some("""SELECT doc_id,
                     CASE WHEN TRIM(text) = '' THEN 0
                          ELSE CAST(LEN(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS INT)
                     END AS n_tokens
              FROM documents ORDER BY doc_id LIMIT 200""")),

    // Quality scoring: length / punctuation / stopword-ratio features.
    Q("q29_quality",
      (s, d) => {
        val toks = tokens(col("text"))
        docs(s, d)
          .select(
            col("doc_id"),
            size(toks).as("n_tokens"),
            stopHits(toks, EnglishStop).as("n_stop"),
            length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")).as("n_punct"),
            round(stopHits(toks, EnglishStop).cast("double") / size(toks), 4)
              .as("stop_ratio"))
          .orderBy(col("doc_id"))
          .limit(200)
      },
      Some("""WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS toks,
                       text
                FROM documents)
              SELECT doc_id,
                     CAST(LEN(toks) AS INT) AS n_tokens,
                     CAST(LEN(list_filter(toks,
                       x -> list_contains(['the','a','and','of','to','in','is'], x))) AS INT) AS n_stop,
                     CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS INT) AS n_punct,
                     ROUND(CAST(LEN(list_filter(toks,
                       x -> list_contains(['the','a','and','of','to','in','is'], x))) AS DOUBLE)
                           / LEN(toks), 4) AS stop_ratio
              FROM t ORDER BY doc_id LIMIT 200""")),

    // Language-ID n-gram/stopword heuristic -> confusion matrix against
    // the labeled `lang` column. Deterministic tie-break: en >= es >= de.
    Q("q30_langid",
      (s, d) => {
        val toks = tokens(col("text"))
        val en = stopHits(toks, Seq("the", "and", "of"))
        val es = stopHits(toks, Seq("el", "la", "de"))
        val de = stopHits(toks, Seq("der", "die", "und"))
        docs(s, d)
          .select(
            col("lang"),
            when(en >= es && en >= de, "en")
              .when(es >= de, "es")
              .otherwise("de").as("pred"))
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred"))
      },
      Some("""WITH t AS (
                SELECT lang,
                       regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS toks
                FROM documents),
              p AS (
                SELECT lang,
                       LEN(list_filter(toks, x -> list_contains(['the','and','of'], x))) AS en,
                       LEN(list_filter(toks, x -> list_contains(['el','la','de'], x))) AS es,
                       LEN(list_filter(toks, x -> list_contains(['der','die','und'], x))) AS de
                FROM t)
              SELECT lang,
                     CASE WHEN en >= es AND en >= de THEN 'en'
                          WHEN es >= de THEN 'es'
                          ELSE 'de' END AS pred,
                     COUNT(*) AS n
              FROM p GROUP BY 1, 2 ORDER BY 1, 2""")),

    // TF-IDF: highest-scoring term per document. Term frequencies and
    // document frequencies are two hash aggregations over the exploded
    // token stream (map-side partials shrink the shuffle to the distinct
    // (doc,term) / term keys); the corpus size joins in as a broadcast
    // 1-row aggregate. Scale shape: nothing is per-document state — at
    // 100 TB this is three shuffles, all on short keys.
    Q("q49_tfidf",
      (s, d) => {
        val docsDf = docs(s, d)
        val tok = docsDf
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .filter(col("term") =!= "")
        // ONE tokenize pass: df rides a window count over term on top of
        // the tf aggregate instead of a tf⋈dfreq self-join. The join form
        // tokenizes the corpus twice — column pruning strips `tf` from the
        // dfreq branch (its aggregate ends up functions=[]), so the two
        // subtrees never canonicalize equal and ReuseExchange can't merge
        // them (verified in the executed plan: 2 full scans, 0 reuse).
        val tf = tok.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val wTerm = org.apache.spark.sql.expressions.Window
          .partitionBy(col("term"))
        val withDf = tf.withColumn("df", count(lit(1)).over(wTerm))
        val n = docsDf.agg(count(lit(1)).as("n_docs"))
        val score = col("tf") * log((col("n_docs") + 1).cast("double") /
          (col("df") + 1))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(score.desc, col("term"))
        withDf
          .crossJoin(broadcast(n))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("term"), round(score, 4).as("score"))
          .orderBy(col("doc_id"))
          .limit(200)
      },
      Some("""WITH tok AS (
                SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS term
                FROM documents),
              tf AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM tok
                WHERE term <> '' GROUP BY 1, 2),
              dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT COUNT(*) AS n_docs FROM documents),
              scored AS (
                SELECT doc_id, term,
                       tf * LN(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS score
                FROM tf JOIN dfreq USING (term) CROSS JOIN n)
              SELECT doc_id, term, ROUND(score, 4) AS score
              FROM (SELECT *, ROW_NUMBER() OVER
                      (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
                    FROM scored) x
              WHERE rn = 1 ORDER BY doc_id LIMIT 200""")),

    // Document fingerprinting: stable 8-hex-char id from normalized text.
    Q("q31_fingerprint",
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"), fingerprint(col("text")).as("fp"))
          .orderBy(col("doc_id"))
          .limit(200),
      Some("""SELECT doc_id,
                     SUBSTR(MD5(regexp_replace(LOWER(text), '\s+', ' ', 'g')), 1, 8) AS fp
              FROM documents ORDER BY doc_id LIMIT 200""")),

    // Token-budget sequence packing: assign docs (per language, in
    // doc_id order) to training chunks by cumulative token offset —
    // chunk = floor(tokens_before_this_doc / budget). The offset-based
    // rule is the streaming-friendly form of greedy bin packing (a
    // chunk can overrun by at most one document, never undershoot),
    // fully deterministic, and a pure cumsum — no per-bin state.
    // Computed via the two-phase packChunks so no task ever sorts a
    // whole language (the oracle keeps the single-window SQL: integer
    // sums make the regrouped form bit-identical).
    Q("q62_token_packing",
      (s, d) =>
        packChunks(docs(s, d), budget = 2000L)
          .groupBy(col("lang"), col("chunk"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
          .orderBy(col("lang"), col("chunk")),
      Some("""WITH t AS (
                SELECT doc_id, lang,
                       CASE WHEN TRIM(text) = '' THEN 0
                            ELSE LEN(regexp_split_to_array(TRIM(LOWER(text)), '\s+'))
                       END AS nt
                FROM documents),
              c AS (
                SELECT lang, nt,
                       CAST(FLOOR(COALESCE(SUM(nt) OVER (PARTITION BY lang
                              ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            / 2000.0) AS BIGINT) AS chunk
                FROM t)
              SELECT lang, chunk, COUNT(*) AS n_docs,
                     CAST(SUM(nt) AS BIGINT) AS n_tokens
              FROM c GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Deterministic train/val/test split: bucket = md5(doc_id) % 100 →
    // 90/5/5. Hash-based membership (not RNG sampling) is how training
    // pipelines get REPRODUCIBLE splits: any engine, any run, any subset
    // of the corpus assigns each doc identically — which is exactly what
    // the oracle verifies. Map-side only; the only shuffle is the final
    // 3-row aggregate.
    Q("q59_hash_split",
      (s, d) => {
        val bucket = pmod(
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long"), lit(100))
        docs(s, d)
          .select(when(bucket < 90, "train")
            .when(bucket < 95, "val")
            .otherwise("test").as("split"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("split"))
      },
      Some("""SELECT CASE
                       WHEN CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'train'
                       WHEN CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 95 THEN 'val'
                       ELSE 'test'
                     END AS split,
                     COUNT(*) AS n
              FROM documents GROUP BY 1 ORDER BY 1""")),

    // SHUFFLED-EXPORT order: the deterministic pseudorandom (shard,
    // within-shard rank) every training run replays — the rule
    // Writers.shuffledShards writes to disk, pinned here value-for-value
    // (first 25 rows per shard keep the oracle result bounded). The
    // filtered row_number plans through TopKPerKey, so only <= 25
    // candidates per (partition, shard) reach the exchange — auditing
    // the export order never globally sorts the corpus.
    Q("q90_shuffle_export",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("h"), col("doc_id"))
        docs(s, d)
          .select(col("doc_id"),
            graft.etl.Writers.shuffleKey(col("doc_id")).as("h"))
          .withColumn("shard", pmod(col("h"), lit(8)).cast("int"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 25)
          .select(col("shard"), col("rn"), col("doc_id"))
          .orderBy(col("shard"), col("rn"))
      },
      Some("""WITH t AS (
                SELECT doc_id,
                       CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':shuf'), 1, 15) AS BIGINT) AS h
                FROM documents),
              s AS (SELECT doc_id, h, CAST(h % 8 AS INT) AS shard FROM t),
              r AS (
                SELECT shard, doc_id,
                       CAST(ROW_NUMBER() OVER (PARTITION BY shard
                            ORDER BY h, doc_id) AS INT) AS rn
                FROM s)
              SELECT shard, rn, doc_id
              FROM r WHERE rn <= 25 ORDER BY shard, rn""")),

    // BM25 keyword retrieval (Robertson/Sparck Jones; the Lucene
    // +1-inside-the-log idf so scores stay positive): top-10 docs for a
    // fixed 3-term query. Extends the q49 tf-idf surface from per-doc
    // term ranking to corpus-level SEARCH — the retrieval primitive a
    // curation pipeline uses to mine topical subsets.
    //
    // Scale shape: the term filter lands right above the tokenize (only
    // matching-term rows — a few per doc — reach the tf aggregate's
    // exchange; the corpus-wide token stream never shuffles). df is a
    // |terms|-row aggregate broadcast back onto tf — NOT q49's
    // window-over-term trick, which is right when terms are the whole
    // vocabulary but here would drain every tf row through <= 3
    // reducers (a skew wall at corpus scale); the tf subtree feeds both
    // consumers through one reusable exchange keyed on (doc_id, dl,
    // term). The (n_docs, avgdl) corpus stats join in as a broadcast
    // 1-row aggregate. Final top-10 is a global TakeOrdered, not a
    // sort. Per-doc score sums 3 doubles — same cross-engine rounding
    // exposure as q49's LN scoring, absorbed by round(4).
    Q("q84_bm25_search",
      (s, d) =>
        bm25Scores(docs(s, d), Seq("spark", "join", "window"))
          .orderBy(col("score_raw").desc, col("doc_id"))
          .limit(10)
          .select(col("doc_id"), round(col("score_raw"), 4).as("score")),
      Some("""WITH tok AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                FROM documents),
              dl AS (SELECT doc_id, LEN(ts) AS dl, ts FROM tok),
              stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
              tf AS (
                SELECT doc_id, dl, term, COUNT(*) AS tf
                FROM (SELECT doc_id, dl, UNNEST(ts) AS term FROM dl) u
                WHERE term IN ('spark', 'join', 'window')
                GROUP BY 1, 2, 3),
              withdf AS (
                SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
              scored AS (
                SELECT doc_id,
                       SUM(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                           * (tf * (1.2 + 1.0))
                           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score_raw
                FROM withdf CROSS JOIN stats
                GROUP BY doc_id)
              SELECT doc_id, ROUND(score_raw, 4) AS score
              FROM scored
              ORDER BY score_raw DESC, doc_id LIMIT 10""")),

    // Hybrid retrieval — reciprocal-rank fusion (Cormack et al., SIGIR
    // 2009) of the BM25 sparse leg (q84's scorer, top-20) and the
    // exact-cosine dense leg (q36's brute-force baseline against query
    // doc 0, top-20): score = Σ 1/(60 + rank) over the legs that
    // retrieved the doc, rank 0 in the output marking "not retrieved
    // by this leg". The RAG-stack default fusion — rank-based, so the
    // legs' incomparable score scales never mix, and the fused value
    // depends ONLY on integer ranks (zero data-dependent float
    // precision in the fusion itself).
    //
    // Scale shape: each leg ends in a TakeOrdered top-k (the corpus
    // never globally sorts); the rank windows and the full-outer fusion
    // join run over two 20-row artifacts — bounded, where an
    // unpartitioned window is correct by contract. The dense leg is
    // brute-force by design (the oracle-checkable contract); at scale
    // the same fusion composes unchanged with the IVF/SQ8/PQ legs
    // (q50/q168/q91) — anything that emits (doc_id, rank).
    Q("q221_hybrid_rrf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val sparse = bm25Scores(docs(s, d), Seq("spark", "join", "window"))
          .orderBy(col("score_raw").desc, col("doc_id")).limit(20)
          .withColumn("rank_s", row_number().over(
            Window.orderBy(col("score_raw").desc, col("doc_id"))))
          .select(col("doc_id"), col("rank_s"))
        val v = Tables.load(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("a"))
        val qv = v.filter(col("vec_id") === 0).select(col("a").as("qa"))
        val sim = Similarity.dot(col("a"), col("qa")) /
          (Similarity.norm(col("a")) * Similarity.norm(col("qa")))
        val dense = v.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id").as("doc_id"), sim.as("sim_raw"))
          .orderBy(col("sim_raw").desc, col("doc_id")).limit(20)
          .withColumn("rank_d", row_number().over(
            Window.orderBy(col("sim_raw").desc, col("doc_id"))))
          .select(col("doc_id"), col("rank_d"))
        rrfFuse(sparse, dense).limit(10)
      },
      Some("""WITH tok AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                FROM documents),
              dl AS (SELECT doc_id, LEN(ts) AS dl, ts FROM tok),
              stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
              tf AS (
                SELECT doc_id, dl, term, COUNT(*) AS tf
                FROM (SELECT doc_id, dl, UNNEST(ts) AS term FROM dl) u
                WHERE term IN ('spark', 'join', 'window')
                GROUP BY 1, 2, 3),
              withdf AS (
                SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
              scored AS (
                SELECT doc_id,
                       SUM(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                           * (tf * (1.2 + 1.0))
                           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score_raw
                FROM withdf CROSS JOIN stats
                GROUP BY doc_id),
              stop AS (
                SELECT doc_id, score_raw FROM scored
                ORDER BY score_raw DESC, doc_id LIMIT 20),
              sparse AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY score_raw DESC, doc_id)
                         AS rank_s
                FROM stop),
              v AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                FROM embeddings),
              q AS (SELECT a AS qa FROM v WHERE vec_id = 0),
              dtop AS (
                SELECT v.vec_id AS doc_id,
                       list_sum(list_transform(generate_series(1, LEN(v.a)),
                         i -> v.a[i] * q.qa[i]))
                       / (SQRT(list_sum(list_transform(v.a, x -> x*x)))
                        * SQRT(list_sum(list_transform(q.qa, x -> x*x))))
                         AS sim_raw
                FROM v, q WHERE v.vec_id <> 0
                ORDER BY sim_raw DESC, doc_id LIMIT 20),
              dense AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY sim_raw DESC, doc_id)
                         AS rank_d
                FROM dtop),
              f AS (
                SELECT COALESCE(s.doc_id, de.doc_id) AS doc_id,
                       rank_s, rank_d,
                       COALESCE(CAST(1 AS DOUBLE)/(60 + rank_s), 0)
                       + COALESCE(CAST(1 AS DOUBLE)/(60 + rank_d), 0)
                         AS rrf_raw
                FROM sparse s FULL OUTER JOIN dense de
                  ON s.doc_id = de.doc_id)
              SELECT doc_id,
                     CAST(COALESCE(rank_s, 0) AS INT) AS rank_s,
                     CAST(COALESCE(rank_d, 0) AS INT) AS rank_d,
                     ROUND(rrf_raw, 6) AS rrf
              FROM f
              ORDER BY ROUND(rrf_raw, 6) DESC, doc_id LIMIT 10""")),

    // Overlapping character chunking (width 80, stride 60) — the
    // RAG/long-context prep pass. chunk_id is the 0-based window index;
    // value-level hash pins both the window boundaries and the overlap
    // bytes across engines. Map-side posexplode; the ORDER BY exists for
    // the oracle only.
    Q("q94_doc_chunks",
      (s, d) =>
        chunkDocs(docs(s, d), width = 80, stride = 60)
          .orderBy(col("doc_id"), col("chunk_id"))
          .limit(300),
      Some("""SELECT doc_id, CAST(i AS INT) AS chunk_id,
                     SUBSTR(text, CAST(i * 60 AS INT) + 1, 80) AS chunk
              FROM documents,
                   UNNEST(GENERATE_SERIES(0,
                     CAST((LENGTH(text) - 1) // 60 AS BIGINT))) AS g(i)
              WHERE LENGTH(text) > 0
              ORDER BY doc_id, chunk_id LIMIT 300""")),

    // Adjacent-token-pair counts, top 30 — the argmax surface of one BPE
    // merge step (the full iterative trainer is TextOps.bpeTrain,
    // merge-sequence-pinned in TextOpsSpec). Deterministic tie-break:
    // count desc, then pair.
    Q("q95_bpe_pairs",
      (s, d) =>
        adjacentPairCounts(docs(s, d))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(30),
      Some("""WITH t AS (
                SELECT regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                FROM documents WHERE TRIM(text) <> ''),
              p AS (
                SELECT UNNEST(list_transform(generate_series(1, LEN(ts) - 1),
                         i -> ts[i] || ' ' || ts[i + 1])) AS pair
                FROM t WHERE LEN(ts) >= 2)
              SELECT pair, COUNT(*) AS cnt FROM p
              GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""")),

    // Character-entropy quality score (nats, 4 dp). Both engines sum
    // -(p ln p) over the distinct-char set; the summation-order rounding
    // exposure is absorbed by round(4), the q49/q84 convention.
    Q("q97_char_entropy",
      (s, d) =>
        docs(s, d)
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), charEntropy(col("text")).as("entropy"))
          .orderBy(col("doc_id"))
          .limit(200),
      Some("""WITH c AS (
                SELECT doc_id,
                       list_transform(generate_series(1, CAST(LENGTH(text) AS INT)),
                         i -> text[i]) AS chars
                FROM documents WHERE LENGTH(text) > 0)
              SELECT doc_id,
                     ROUND(list_sum(list_transform(list_distinct(chars),
                       ch -> -(CAST(LEN(list_filter(chars, x -> x = ch)) AS DOUBLE)
                               / LEN(chars))
                             * LN(CAST(LEN(list_filter(chars, x -> x = ch)) AS DOUBLE)
                                  / LEN(chars)))), 4) AS entropy
              FROM c ORDER BY doc_id LIMIT 200""")),

    // Mean bigram log-probability per doc (add-0.5-smoothed, corpus-
    // trained) — the perplexity-filter proxy. Docs with < 2 tokens have
    // no bigrams and drop out in both engines. avg-of-logs summation
    // order is absorbed by round(4), the q49/q84 convention.
    Q("q98_bigram_logprob",
      (s, d) =>
        bigramLogProb(docs(s, d))
          .orderBy(col("doc_id"))
          .limit(200),
      Some("""WITH toks AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                FROM documents
                WHERE LEN(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) >= 2),
              db AS (
                SELECT doc_id, ts[i] AS a, ts[i + 1] AS b
                FROM toks, UNNEST(generate_series(1, LEN(ts) - 1)) AS g(i)),
              uni AS (
                SELECT a, COUNT(*) AS ca
                FROM (SELECT UNNEST(ts) AS a FROM toks) u GROUP BY a),
              vc AS (SELECT COUNT(*) AS v FROM uni),
              bi AS (SELECT a, b, COUNT(*) AS cb FROM db GROUP BY a, b)
              SELECT doc_id,
                     ROUND(AVG(LN((cb + 0.5) / (ca + 0.5 * v))), 4) AS logprob
              FROM db JOIN bi USING (a, b) JOIN uni USING (a) CROSS JOIN vc
              GROUP BY doc_id ORDER BY doc_id LIMIT 200""")),

    // Interpolated Kneser-Ney bigram log-probability (see
    // [[knBigramLogProb]]) — the benchmark smoothing next to q98's
    // add-k proxy; same corpus-trained shape, same round(4) convention.
    Q("q169_kneser_ney",
      (s, d) =>
        knBigramLogProb(docs(s, d))
          .orderBy(col("doc_id"))
          .limit(200),
      Some("""WITH toks AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                FROM documents
                WHERE LEN(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) >= 2),
              db AS (
                SELECT doc_id, ts[i] AS a, ts[i + 1] AS b
                FROM toks, UNNEST(generate_series(1, LEN(ts) - 1)) AS g(i)),
              bi AS (SELECT a, b, COUNT(*) AS cb FROM db GROUP BY a, b),
              hist AS (SELECT a, SUM(cb) AS ca, COUNT(*) AS n1f FROM bi GROUP BY a),
              cont AS (SELECT b, COUNT(*) AS n1r FROM bi GROUP BY b),
              ty AS (SELECT COUNT(*) AS nbt FROM bi)
              SELECT doc_id,
                     ROUND(AVG(LN(
                       GREATEST(cb - 0.75, 0) / ca
                       + 0.75 * n1f / ca * (n1r / CAST(nbt AS DOUBLE)))), 4)
                       AS kn_logprob
              FROM db JOIN bi USING (a, b) JOIN hist USING (a)
                   JOIN cont USING (b) CROSS JOIN ty
              GROUP BY doc_id ORDER BY doc_id LIMIT 200""")),

    // Code-switching: docs whose token-half segments classify to
    // different languages under q30's stopword rule — the segment-level
    // LID consistency check.
    Q("q149_code_switching",
      (s, d) => codeSwitchReport(docs(s, d)),
      Some("""WITH t AS (
                SELECT lang,
                       regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                FROM documents
                WHERE LEN(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) >= 2),
              h AS (
                SELECT lang,
                       ts[1 : LEN(ts) // 2] AS h1,
                       ts[LEN(ts) // 2 + 1 : LEN(ts)] AS h2
                FROM t),
              p AS (
                SELECT lang,
                       CASE WHEN LEN(list_filter(h1, x -> list_contains(['the','and','of'], x))) >= LEN(list_filter(h1, x -> list_contains(['el','la','de'], x)))
                             AND LEN(list_filter(h1, x -> list_contains(['the','and','of'], x))) >= LEN(list_filter(h1, x -> list_contains(['der','die','und'], x)))
                            THEN 'en'
                            WHEN LEN(list_filter(h1, x -> list_contains(['el','la','de'], x))) >= LEN(list_filter(h1, x -> list_contains(['der','die','und'], x)))
                            THEN 'es' ELSE 'de' END AS p1,
                       CASE WHEN LEN(list_filter(h2, x -> list_contains(['the','and','of'], x))) >= LEN(list_filter(h2, x -> list_contains(['el','la','de'], x)))
                             AND LEN(list_filter(h2, x -> list_contains(['the','and','of'], x))) >= LEN(list_filter(h2, x -> list_contains(['der','die','und'], x)))
                            THEN 'en'
                            WHEN LEN(list_filter(h2, x -> list_contains(['el','la','de'], x))) >= LEN(list_filter(h2, x -> list_contains(['der','die','und'], x)))
                            THEN 'es' ELSE 'de' END AS p2
                FROM h)
              SELECT lang, COUNT(*) AS n_docs,
                     CAST(SUM(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_switched,
                     ROUND(SUM(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 4) AS pct_switched
              FROM p GROUP BY lang ORDER BY lang""")),

    // CCNet head/middle/tail terciles per language over the q98 LM
    // score, with value-pinned cutoffs (the q102 integer rule — no
    // percentile interpolation anywhere).
    Q("q144_ccnet_buckets",
      (s, d) => ccnetBuckets(docs(s, d)),
      Some("""WITH toks AS (
                SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                FROM documents
                WHERE LEN(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) >= 2),
              db AS (
                SELECT doc_id, ts[i] AS a, ts[i + 1] AS b
                FROM toks, UNNEST(generate_series(1, LEN(ts) - 1)) AS g(i)),
              uni AS (
                SELECT a, COUNT(*) AS ca
                FROM (SELECT UNNEST(ts) AS a FROM toks) u GROUP BY a),
              vc AS (SELECT COUNT(*) AS v FROM uni),
              bi AS (SELECT a, b, COUNT(*) AS cb FROM db GROUP BY a, b),
              lp AS (
                SELECT doc_id,
                       ROUND(AVG(LN((cb + 0.5) / (ca + 0.5 * v))), 4) AS logprob
                FROM db JOIN bi USING (a, b) JOIN uni USING (a) CROSS JOIN vc
                GROUP BY doc_id),
              sc AS (
                SELECT l.doc_id, d.lang, l.logprob
                FROM lp l JOIN documents d USING (doc_id)),
              grid AS (
                SELECT lang, logprob, COUNT(*) AS cnt FROM sc GROUP BY 1, 2),
              cum AS (
                SELECT lang, logprob,
                       SUM(cnt) OVER (PARTITION BY lang ORDER BY logprob
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                       SUM(cnt) OVER (PARTITION BY lang) AS n
                FROM grid),
              thr AS (
                SELECT lang,
                       MIN(CASE WHEN cum >= n // 3 THEN logprob END) AS t1,
                       MIN(CASE WHEN cum >= (2 * n) // 3 THEN logprob END) AS t2
                FROM cum GROUP BY lang),
              bk AS (
                SELECT sc.lang,
                       CASE WHEN logprob <= t1 THEN 'tail'
                            WHEN logprob <= t2 THEN 'middle'
                            ELSE 'head' END AS bucket,
                       logprob
                FROM sc JOIN thr USING (lang))
              SELECT lang, bucket, COUNT(*) AS n_docs,
                     ROUND(SUM(CAST(ROUND(logprob * 10000) AS BIGINT))
                           / (COUNT(*) * 10000.0), 4) AS avg_logprob,
                     MIN(logprob) AS min_logprob,
                     MAX(logprob) AS max_logprob
              FROM bk GROUP BY 1, 2 ORDER BY lang, bucket""")),

    // Dynamic quality gate: drop the lowest-decile char-entropy docs,
    // where the threshold adapts to the corpus itself (not a fixed
    // constant). The threshold is RANK-PINNED, never interpolated
    // (r9 verdict: interpolating between tied 4-dp values is ±1-ulp
    // arithmetic that differs between Spark's percentile and DuckDB's
    // quantile_cont and flips boundary compares): it is the smallest
    // 4-dp entropy value whose cumulative doc count reaches
    // k = floor(0.1·n). Pure integer-count semantics over values both
    // engines compute identically, so it hash-pins trivially. The gate
    // is value-based (entropy < thr), so ties at the threshold need no
    // doc_id tie-break and land identically in both engines.
    Q("q102_entropy_gate",
      (s, d) => {
        // two scans by design: the threshold branch prunes `lang`, so
        // its subtree can never canonically match the gate branch and
        // ReuseExchange cannot apply (verified in the executed plan —
        // forcing a shared exchange just adds a shuffle). The scored
        // projection is one native-CharEntropy pass per scan (0.17 s at
        // sf0.1); at 100 TB you'd persist the scored projection once
        // and gate from it, the saveBigramLm train-once shape.
        val ent = docs(s, d)
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), col("lang"),
            charEntropy(col("text")).as("entropy"))
        // per-value counts: map-side-combined agg onto a table bounded
        // by the 4-dp value grid (entropy <= ln(charset) < 15 → at most
        // ~150k distinct values at ANY corpus size); its cumulative runs
        // on tenth-of-a-nat blocks, <= ~150 of them
        val vc = ent.groupBy(col("entropy")).agg(count(lit(1)).as("c"))
        val total = ent.agg(count(lit(1)).as("n_total"))
        val cum = Cumulative.running(vc.crossJoin(broadcast(total))
            .withColumn("blk", floor(col("entropy") * 10)), Nil, "blk",
          Seq(col("entropy")), col("c"), Cumulative.Sum, inclusive = true,
          "cum")
        val thr = cum
          .filter(col("cum") >= floor(lit(0.1) * col("n_total")))
          .agg(min(col("entropy")).as("thr"))
        ent.crossJoin(broadcast(thr))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("entropy") < col("thr"), 1L).otherwise(0L))
              .as("n_dropped"))
          .orderBy(col("lang"))
      },
      Some("""WITH e AS (
                SELECT doc_id, lang,
                       ROUND(list_sum(list_transform(list_distinct(list_transform(generate_series(1, CAST(LENGTH(text) AS INT)), i -> text[i])),
                         ch -> -(CAST(LEN(list_filter(list_transform(generate_series(1, CAST(LENGTH(text) AS INT)), i -> text[i]), x -> x = ch)) AS DOUBLE)
                                 / LENGTH(text))
                               * LN(CAST(LEN(list_filter(list_transform(generate_series(1, CAST(LENGTH(text) AS INT)), i -> text[i]), x -> x = ch)) AS DOUBLE)
                                    / LENGTH(text)))), 4) AS entropy
                FROM documents WHERE LENGTH(text) > 0),
              n AS (SELECT COUNT(*) AS n_total FROM e),
              vc AS (SELECT entropy, COUNT(*) AS c FROM e GROUP BY entropy),
              cc AS (SELECT entropy,
                            SUM(c) OVER (ORDER BY entropy
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                     FROM vc),
              t AS (SELECT MIN(entropy) AS thr
                    FROM cc CROSS JOIN n WHERE cum >= FLOOR(0.1 * n_total))
              SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN entropy < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
              FROM e CROSS JOIN t
              GROUP BY lang ORDER BY lang""")),

    // Max same-token run length per doc — the degenerate-repetition
    // filter ("the the the ..."), computed as textbook gaps-and-islands:
    // break flags via lag, running-sum island ids, max island size.
    // Window partitions are single documents, so group size is bounded
    // by doc length — no skew at any corpus size.
    Q("q103_repeat_runs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tk = docs(s, d)
          .filter(trim(col("text")) =!= "")
          .select(col("doc_id"),
            posexplode(tokens(col("text"))).as(Seq("i", "t")))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
        tk.withColumn("brk",
            when(lag(col("t"), 1).over(w) === col("t"), 0).otherwise(1))
          .withColumn("grp", sum(col("brk")).over(w))
          .groupBy(col("doc_id"), col("grp"))
          .agg(count(lit(1)).as("run"))
          .groupBy(col("doc_id"))
          .agg(max(col("run")).cast("int").as("max_run"))
          .orderBy(col("doc_id"))
          .limit(200)
      },
      Some("""WITH tk AS (
                SELECT doc_id, i, ts[i] AS t
                FROM (SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                      FROM documents WHERE TRIM(text) <> '') s,
                     UNNEST(generate_series(1, LEN(ts))) AS g(i)),
              b AS (
                SELECT doc_id, i,
                       CASE WHEN LAG(t) OVER (PARTITION BY doc_id ORDER BY i) = t
                            THEN 0 ELSE 1 END AS brk
                FROM tk),
              isl AS (
                SELECT doc_id,
                       SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
                FROM b),
              runs AS (SELECT doc_id, grp, COUNT(*) AS run FROM isl GROUP BY 1, 2)
              SELECT doc_id, CAST(MAX(run) AS INT) AS max_run
              FROM runs GROUP BY doc_id ORDER BY doc_id LIMIT 200""")),

    // Heavy-hitter tokens, sketch-prefiltered: a one-pass Misra-Gries
    // candidate sweep (`freqItems`, support 1%) produces a bounded
    // candidate set with NO false negatives above its support, then an
    // exact count confirms only those candidates at the stricter 2%
    // threshold — so the output equals the naive full-vocabulary
    // GROUP BY ... HAVING, but the corpus-scale shuffle carries only
    // candidate rows. At 100 TB with a web-scale vocabulary (billions of
    // distinct tokens) the naive form shuffles the whole long tail to
    // discover it is irrelevant; the sketch form's first pass is
    // map-side-mergeable driver-bounded state (≤ 1/support entries per
    // partition) and its second pass filters to ≤ 100 literal tokens
    // before the aggregate.
    Q("q112_heavy_hitters",
      (s, d) => heavyHitterTokens(docs(s, d)),
      Some("""WITH tok AS (
                SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS term
                FROM documents),
              t2 AS (SELECT term FROM tok WHERE term <> ''),
              n AS (SELECT COUNT(*) AS n_tok FROM t2),
              c AS (SELECT term, COUNT(*) AS cnt FROM t2 GROUP BY term)
              SELECT c.term, c.cnt,
                     ROUND(CAST(c.cnt AS DOUBLE) / n.n_tok, 4) AS ratio
              FROM c, n
              WHERE c.cnt >= n.n_tok * 0.02
              ORDER BY c.cnt DESC, c.term""")),

    // Count-Min sketch heavy hitters: md5-addressed d=4 x w=1024
    // integer counters, est = min over rows; report vs exact top-20.
    Q("q152_cms_heavy_hitters",
      (s, d) => cmsHeavyHitters(docs(s, d)),
      Some("""WITH toks AS (
                SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS tok
                FROM documents),
              t AS (SELECT tok FROM toks WHERE tok <> ''),
              e AS (
                SELECT tok, r,
                       CAST('0x' || SUBSTR(MD5(tok || ':' || r), 1, 8) AS BIGINT) % 1024 AS bucket
                FROM t CROSS JOIN (VALUES (0), (1), (2), (3)) AS rs(r)),
              sk AS (SELECT r, bucket, COUNT(*) AS c FROM e GROUP BY 1, 2),
              ex AS (
                SELECT tok, COUNT(*) AS exact FROM t
                GROUP BY 1 ORDER BY exact DESC, tok LIMIT 20),
              pr AS (
                SELECT ex.tok, ex.exact, r,
                       CAST('0x' || SUBSTR(MD5(ex.tok || ':' || r), 1, 8) AS BIGINT) % 1024 AS bucket
                FROM ex CROSS JOIN (VALUES (0), (1), (2), (3)) AS rs(r))
              SELECT pr.tok AS tok, pr.exact AS exact,
                     CAST(MIN(c) AS BIGINT) AS cms_est
              FROM pr JOIN sk USING (r, bucket)
              GROUP BY 1, 2 ORDER BY exact DESC, tok""")),

    // Bigram PMI collocations — pointwise mutual information of adjacent
    // token pairs vs their unigram probabilities, the classic
    // collocation-mining signal (q95's raw pair counts rank "frequent";
    // PMI ranks "glued together"). Bigram and unigram counts are two
    // map-side-combined aggregates over short string keys; both count
    // tables join back as broadcasts (vocab-sized), so the corpus-scale
    // work is the two exploding scans and nothing else. Ordering is by
    // the exact PMI expression (output rounds to 4) with a (w1, w2)
    // tie-break, the q36 convention.
    Q("q113_pmi_collocations",
      (s, d) => pmiCollocations(docs(s, d), minCount = 30, topK = 50),
      Some("""WITH t AS (
                SELECT regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                FROM documents WHERE TRIM(text) <> ''),
              bg AS (
                SELECT ts[i] AS w1, ts[i + 1] AS w2
                FROM t, UNNEST(generate_series(1, LEN(ts) - 1)) AS g(i)
                WHERE LEN(ts) >= 2),
              ug AS (
                SELECT UNNEST(ts) AS w FROM t),
              uc AS (SELECT w, COUNT(*) AS c1 FROM ug GROUP BY w),
              n1 AS (SELECT COUNT(*) AS n_uni FROM ug),
              bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
              n2 AS (SELECT COUNT(*) AS n_bi FROM bg),
              scored AS (
                SELECT bc.w1, bc.w2, bc.c12,
                       LN((CAST(bc.c12 AS DOUBLE) / n2.n_bi) /
                          ((CAST(a.c1 AS DOUBLE) / n1.n_uni) *
                           (CAST(b.c1 AS DOUBLE) / n1.n_uni))) AS pmi
                FROM bc
                JOIN uc a ON bc.w1 = a.w
                JOIN uc b ON bc.w2 = b.w
                CROSS JOIN n1 CROSS JOIN n2
                WHERE bc.c12 >= 30)
              SELECT w1, w2, c12, ROUND(pmi, 4) AS pmi
              FROM scored
              ORDER BY scored.pmi DESC, w1, w2 LIMIT 50""")),

    // Zipf's-law fit per source: least-squares slope of log(count) on
    // log(rank) over each source's top-100 vocabulary. Natural text sits
    // near slope -1; templated/boilerplate-heavy sources flatten (head
    // tokens over-represented) and synthetic/randomized text steepens —
    // a one-number per-source "does this look like language" diagnostic
    // that complements q30's n-gram langid and q102's entropy gate.
    //
    // Scale shape: the vocab count is a map-side-combined (source, term)
    // aggregate; the rank window is `row_number <= 100` which
    // TopKRewrite plans as two-phase TopKPerKey, so only <= 100 rows per
    // (partition, source) reach the exchange — the web-scale long tail
    // never shuffles. The fit itself is covar_pop/var_pop over <= 100
    // points per source.
    Q("q122_zipf_fit",
      (s, d) => zipfFit(docs(s, d), topV = 100),
      Some("""WITH tok AS (
                SELECT source,
                       UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS term
                FROM documents),
              t2 AS (SELECT source, term FROM tok WHERE term <> ''),
              c AS (SELECT source, term, COUNT(*) AS cnt FROM t2 GROUP BY 1, 2),
              r AS (SELECT source, cnt,
                           ROW_NUMBER() OVER (PARTITION BY source
                             ORDER BY cnt DESC, term) AS rank
                    FROM c),
              l AS (SELECT source, LN(CAST(rank AS DOUBLE)) AS lr,
                           LN(CAST(cnt AS DOUBLE)) AS lc
                    FROM r WHERE rank <= 100)
              SELECT source, COUNT(*) AS n_terms,
                     ROUND(COVAR_POP(lr, lc) / VAR_POP(lr), 4) AS zipf_slope
              FROM l GROUP BY source ORDER BY source""")),

    // Distinct-n diversity per source: unique n-grams / total n-grams
    // for n = 1, 2, 3 — the standard corpus-diversity metric (low
    // distinct-2/3 flags template spam and self-repetitive generations
    // corpus-WIDE, where q68/q76/q103 score repetition per document).
    //
    // Scale shape: three exploding scans whose aggregates carry
    // vocab-sized keys with map-side combine (the q113 argument: exact
    // clones deepen counts, never widen key spaces). The exact
    // count-distinct is a two-level agg keyed on the gram; at web scale
    // swap it for approx_count_distinct per source (HLL) without
    // touching the plan shape — the oracle pins the exact form.
    Q("q123_ngram_diversity",
      (s, d) => ngramDiversity(docs(s, d), maxN = 3),
      Some("""WITH t AS (
                SELECT source,
                       regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                FROM documents WHERE TRIM(text) <> ''),
              g AS (
                SELECT source, n, array_to_string(ts[i:i+n-1], ' ') AS gram
                FROM t,
                     UNNEST(generate_series(1, 3)) AS nn(n),
                     UNNEST(generate_series(1, LEN(ts))) AS gg(i)
                WHERE i + n - 1 <= LEN(ts))
              SELECT source, CAST(n AS INT) AS n,
                     COUNT(*) AS n_grams,
                     COUNT(DISTINCT gram) AS n_distinct,
                     ROUND(CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*), 4)
                       AS distinct_ratio
              FROM g GROUP BY source, n ORDER BY source, n""")),

    // FLESCH-KINCAID grade level — the classic readability feature
    // (Kincaid et al. 1975) quality classifiers consume next to the
    // q29/q97 signals: 0.39·(words/sentences) + 11.8·(syllables/word)
    // − 15.59. Syllables by the standard vowel-group heuristic
    // (contiguous [aeiou] runs, min 1 per word), sentences by
    // terminator runs ([.!?]+, min 1) — BOTH pure integer counts via
    // regexp_extract_all, so the one float expression at the end is
    // engine-identical (the q183 discipline). One tokenize explode +
    // doc_id aggregate; everything map-side before it.
    Q("q186_readability",
      (s, d) => {
        val docsDf = docs(s, d)
        val syl = docsDf
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(greatest(lit(1),
              size(regexp_extract_all(col("w"), lit("[aeiou]+"), lit(0)))))
              .as("n_syll"))
        docsDf
          .select(col("doc_id"),
            greatest(lit(1),
              size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))))
              .cast("long").as("n_sent"))
          .join(syl, Seq("doc_id"))
          .select(col("doc_id"), col("n_sent"), col("n_words"),
            col("n_syll"),
            round(lit(0.39) * col("n_words").cast("double") / col("n_sent")
              + lit(11.8) * col("n_syll").cast("double") / col("n_words")
              - lit(15.59), 4).as("fk"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
                SELECT doc_id, text,
                       regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS ts
                FROM documents),
              syl AS (
                SELECT doc_id, COUNT(*) AS n_words,
                       SUM(GREATEST(1,
                         LEN(regexp_extract_all(w, '[aeiou]+')))) AS n_syll
                FROM (SELECT doc_id, UNNEST(ts) AS w FROM tok) u
                GROUP BY 1),
              sent AS (
                SELECT doc_id,
                       CAST(GREATEST(1,
                         LEN(regexp_extract_all(text, '[.!?]+'))) AS BIGINT)
                         AS n_sent
                FROM tok)
              SELECT doc_id, n_sent, n_words,
                     CAST(n_syll AS BIGINT) AS n_syll,
                     ROUND(0.39 * CAST(n_words AS DOUBLE) / n_sent
                       + 11.8 * CAST(n_syll AS DOUBLE) / n_words
                       - 15.59, 4) AS fk
              FROM syl JOIN sent USING (doc_id)
              ORDER BY doc_id"""))
  )

  /** Exact heavy-hitter tokens above `minRatio` of the token stream,
    * discovered through a Misra-Gries sketch prefilter at the looser
    * `support` (no false negatives above support, so `minRatio` >
    * `support` guarantees completeness) and confirmed by exact counts
    * over candidate rows only. The candidate list is driver-bounded at
    * ≤ 1/support entries and ships as an `isin` literal filter.
    */
  def heavyHitterTokens(docsDf: DataFrame, support: Double = 0.01,
      minRatio: Double = 0.02): DataFrame = {
    val tok = docsDf
      .select(explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val cands: Seq[String] =
      tok.stat.freqItems(Seq("term"), support).head().getSeq[String](0)
    val tot = tok.agg(count(lit(1)).as("n_tok"))
    tok.filter(col("term").isin(cands: _*))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") >= col("n_tok") * lit(minRatio))
      .select(col("term"), col("cnt"),
        round(col("cnt") / col("n_tok"), 4).as("ratio"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** Bigram PMI: log((c12/n_bi) / ((c1/n_uni)(c2/n_uni))) over adjacent
    * pairs with `c12 >= minCount`, top `topK` by PMI. Both count tables
    * broadcast back onto the bigram aggregate.
    */
  def pmiCollocations(docsDf: DataFrame, minCount: Int, topK: Int)
      : DataFrame = {
    val t = docsDf.filter(trim(col("text")) =!= "")
      .select(tokens(col("text")).as("ts"))
    val bg = t.filter(size(col("ts")) >= 2)
      .select(explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val ug = t.select(explode(col("ts")).as("w"))
    val uc = ug.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val n1 = ug.agg(count(lit(1)).as("n_uni"))
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val n2 = bg.agg(count(lit(1)).as("n_bi"))
    val pmi = log((col("c12").cast("double") / col("n_bi")) /
      ((col("a.c1").cast("double") / col("n_uni")) *
        (col("b.c1").cast("double") / col("n_uni"))))
    bc.filter(col("c12") >= minCount)
      .join(broadcast(uc.as("a")), col("w1") === col("a.w"))
      .join(broadcast(uc.as("b")), col("w2") === col("b.w"))
      .crossJoin(broadcast(n1))
      .crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c12"), pmi.as("pmi_raw"))
      .orderBy(col("pmi_raw").desc, col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("c12"),
        round(col("pmi_raw"), 4).as("pmi"))
  }

  /** Per-source Zipf slope: least-squares fit of ln(count) on ln(rank)
    * over the top `topV` terms (rank = row_number by count desc, term
    * asc — a total order, so both engines rank identically). The
    * filtered row_number plans through TopKPerKey: <= topV rows per
    * (partition, source) reach the exchange regardless of vocabulary
    * size. Slope = covar_pop(lr, lc) / var_pop(lr).
    */
  def zipfFit(docsDf: DataFrame, topV: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docsDf
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("term"))
    tok.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topV)
      .select(col("source"), log(col("rank").cast("double")).as("lr"),
        log(col("cnt").cast("double")).as("lc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        round(covar_pop(col("lr"), col("lc")) / var_pop(col("lr")), 4)
          .as("zipf_slope"))
      .orderBy(col("source"))
  }

  /** Distinct-n diversity per (source, n) for n = 1..`maxN`: total
    * n-grams, distinct n-grams, and their ratio. One exploding scan
    * per row emits all n sizes (the n-explode is a 3-row multiplier,
    * not a corpus re-scan); the guard `size(ts) >= n` is applied BEFORE
    * the position sequence so short docs contribute no descending
    * ranges. Aggregates are map-side combined on (source, n, gram).
    */
  def ngramDiversity(docsDf: DataFrame, maxN: Int): DataFrame = {
    // r21: spread the corpus across the shuffle-partition count BEFORE
    // the per-row gram lambdas (the Dedup.spread rule): the documents
    // parquet arrives as few row groups, and DiagJobs showed the whole
    // tokenize + 3-way gram explode + partial count-distinct running
    // as ONE 1.6 s task while 31 cores idled. The EXPLICIT partition
    // count matters: a bare repartition(col) is an AQE-coalescible
    // exchange, and the text payload is so small next to the per-row
    // gram compute that AQE's byte-sized coalescing folded it straight
    // back to one task; the count comes from the session's
    // shuffle-partition conf (cluster-tuned), never a local constant.
    // keyed on (source, text), not doc_id: the operator's contract is
    // any (source, text) frame (TextOpsSpec feeds one), and hashing the
    // text spreads rows deterministically at any doc-id scheme
    val t = docsDf
      .repartition(docsDf.sparkSession.sessionState.conf.numShufflePartitions,
        col("source"), col("text"))
      .filter(trim(col("text")) =!= "")
      .select(col("source"), tokens(col("text")).as("ts"))
    val g = t
      .select(col("source"), explode(sequence(lit(1), lit(maxN))).as("n"),
        col("ts"))
      .filter(size(col("ts")) >= col("n"))
      .select(col("source"), col("n"),
        explode(transform(
          sequence(lit(1), size(col("ts")) - col("n") + 1),
          i => concat_ws(" ", slice(col("ts"), i, col("n"))))).as("gram"))
    g.groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("n_grams"),
        count_distinct(col("gram")).as("n_distinct"))
      .select(col("source"), col("n"), col("n_grams"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_grams"), 4)
          .as("distinct_ratio"))
      .orderBy(col("source"), col("n"))
  }
}
