package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.plans.Cumulative
import graft.queries.Q

/** Character-level (edit-distance) fuzzy matching over the corpus
  * vocabulary — the string-similarity family the token/gram/hash dedup
  * operators don't cover: typo variants ("recieve" / "receive"),
  * OCR noise, and spelling drift are 1–2 character edits apart, which
  * shingle Jaccard scores near zero (every 3-gram containing the edited
  * character differs) and exact/MinHash dedup misses entirely.
  *
  * The scale design is the symmetric-deletion scheme (SymSpell; same
  * pigeonhole idea as PassJoin, Li et al., VLDB 2012): if
  * edit_distance(s, t) <= k, then deleting <= k characters from each can
  * reach a COMMON string (delete from s the characters it substitutes or
  * deletes in an optimal alignment; from t those it substitutes or
  * inserts). So generating every <= k-deletion variant of every
  * vocabulary term and equi-joining on the variant yields a candidate
  * superset with NO false negatives; a final `levenshtein() <= k` filter
  * makes the semantics exact. The join is a plain equi-join on the
  * variant string — never an all-pairs product — and every stage is
  * vocabulary-sized, not corpus-sized (Heaps' law: |vocab| ~ sqrt of
  * corpus tokens, and the variant fan-out is 1 + n + n(n-1)/2 ~ 37 rows
  * per average 8-char term at k=2).
  *
  * Reference anchor: the reference corpus pipeline normalizes and
  * deduplicates text but has no character-level near-match operator
  * (notebooks/preprocessing_with_polars.ipynb covers exact/dictionary
  * normalization only) — this extends the dedup family per the
  * LLM-pipeline mandate, alongside q32 (gram Jaccard) and q56 (groups).
  *
  * 100 TB notes:
  *  - Variant generation is map-side (posexplode over codegen'd
  *    substring/concat — no HOF lambdas, no UDF).
  *  - The candidate join shuffles on the variant string; group sizes are
  *    the number of vocabulary terms within deletion distance of one
  *    variant. Hubs concentrate at SHORT variants (length minLen-k);
  *    minLen = 4 bounds the worst hub to terms sharing a 2-char
  *    subsequence. If a real vocabulary makes those groups quadratic,
  *    the standard refinement is per-length k (k=1 below 6 chars) —
  *    documented, not applied, so the oracle contract stays one rule.
  *  - Count lookup joins are vocabulary-sized shuffle joins, NOT
  *    broadcasts (r11 verdict #1: never force corpus-derived tables
  *    into a broadcast).
  */
object Fuzzy {

  /** Minimum term length admitted to the vocabulary (SymSpell practice:
    * very short tokens are all within distance k of each other and carry
    * no typo signal). */
  val MinLen = 4

  /** Maximum edit distance for a fuzzy pair. */
  val MaxDist = 2

  /** Per-length refinement threshold ([[fuzzyTokenPairsRefined]]):
    * tokens shorter than this get k = 1 — at 4–5 characters, 2 edits
    * rewrite half the token, so distance-2 "pairs" there are mostly
    * unrelated words (and the short deletion variants are exactly where
    * candidate hubs concentrate: every variant of a 4-char token is a
    * 2-char subsequence shared by a huge slice of the vocabulary). */
  val ShortLen = 6

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** (tok, c) — corpus vocabulary with term frequencies, terms of
    * length >= MinLen. One tokenize + one vocabulary-sized aggregate. */
  def vocab(docsDf: DataFrame): DataFrame =
    docsDf
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= MinLen)
      .groupBy("tok").agg(count(lit(1)).as("c"))

  /** One row per (tok, variant) for every deletion of 0, 1, or 2
    * characters. Rows, not arrays: posexplode of an index sequence keeps
    * the string slicing inside whole-stage codegen (the q97/q145 law —
    * a `transform()` lambda here would run interpreted), and `distinct`
    * collapses equal variants from different deletion positions.
    */
  def deletionVariants(vocabDf: DataFrame): DataFrame =
    deletionVariants(vocabDf, d2MinLen = 0)

  /** [[deletionVariants]] with 2-deletion variants generated only for
    * tokens of length >= `d2MinLen` — the per-length-k refinement's
    * candidate side: short tokens' 2-deletion variants are the hub
    * population (a 4-char token's 2-deletion variant is a 2-char
    * subsequence), and under the per-length rule short pairs only need
    * distance 1, for which 1-deletion variants are pigeonhole-complete.
    */
  def deletionVariants(vocabDf: DataFrame, d2MinLen: Int): DataFrame = {
    val toks = vocabDf.select(col("tok"))
    val d0 = toks.select(col("tok"), col("tok").as("variant"))
    val d1 = toks
      .select(col("tok"), explode(sequence(lit(1), length(col("tok")))).as("i"))
      .select(col("tok"),
        concat(col("tok").substr(lit(1), col("i") - 1),
          col("tok").substr(col("i") + 1, length(col("tok")))).as("variant"))
    // delete positions i < j: slice around both (j is the position in the
    // ORIGINAL string, so the middle run is (i+1 .. j-1))
    val d2 = toks
      .filter(length(col("tok")) >= d2MinLen)
      .select(col("tok"), explode(sequence(lit(1), length(col("tok")) - 1)).as("i"))
      .select(col("tok"), col("i"),
        explode(sequence(col("i") + 1, length(col("tok")))).as("j"))
      .select(col("tok"),
        concat(
          col("tok").substr(lit(1), col("i") - 1),
          col("tok").substr(col("i") + 1, col("j") - col("i") - 1),
          col("tok").substr(col("j") + 1, length(col("tok")))).as("variant"))
    d0.unionByName(d1).unionByName(d2).distinct()
  }

  /** Exact edit-distance pairs over the vocabulary: (tok_a, tok_b,
    * dist, c_a, c_b) with tok_a < tok_b and dist <= MaxDist. Candidates
    * from the deletion-variant equi-join (lossless by the pigeonhole
    * argument above), verified by the codegen'd `levenshtein`.
    */
  def fuzzyTokenPairs(docsDf: DataFrame): DataFrame =
    fuzzyPairsBy(docsDf,
      (a, b) => levenshtein(a, b).cast("long"))

  /** q174 under TRUE Damerau-Levenshtein (adjacent transposition = ONE
    * edit, the dominant real-world typo class — Damerau 1964: >80% of
    * spelling errors are a single sub/del/ins/swap). "recieve" sits at
    * distance 1 from "receive" here, 2 under plain levenshtein, so the
    * same threshold recalls the swap-typos q174 ranks at its edge. The
    * metric is the native graft_damerau expression (Spark ships none);
    * the deletion-neighborhood candidates are LOSSLESS for this metric
    * too — a transposition is reachable by one deletion on each side,
    * so DL(s,t) <= k still implies a shared <= k-deletion variant.
    */
  def fuzzyTokenPairsDamerau(docsDf: DataFrame): DataFrame =
    fuzzyPairsBy(docsDf,
      (a, b) => graft.functions.Fns.damerau(a, b).cast("long"))

  /** Candidate pairs from a deletion-variant table: equi-join on the
    * variant string, oriented tok_a < tok_b, deduped before the
    * verify (shared variants re-derive a pair). */
  private def candidatePairs(variants: DataFrame): DataFrame =
    variants.as("a")
      .join(variants.as("b"), col("a.variant") === col("b.variant"))
      .filter(col("a.tok") < col("b.tok"))
      .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .distinct()

  private def withCounts(pairs: DataFrame, v: DataFrame): DataFrame =
    pairs
      .join(v.select(col("tok").as("tok_a"), col("c").as("c_a")), Seq("tok_a"))
      .join(v.select(col("tok").as("tok_b"), col("c").as("c_b")), Seq("tok_b"))
      .select(col("tok_a"), col("tok_b"), col("dist"), col("c_a"), col("c_b"))

  private def fuzzyPairsBy(docsDf: DataFrame,
      dist: (Column, Column) => Column): DataFrame = {
    val v = vocab(docsDf)
    val cands = candidatePairs(deletionVariants(v))
    withCounts(
      cands
        .withColumn("dist", dist(col("tok_a"), col("tok_b")))
        .filter(col("dist") <= MaxDist),
      v)
  }

  /** q174 under the PER-LENGTH threshold (the r12 "documented, not
    * applied" refinement, now applied as its own operator so the q174
    * oracle contract stays one rule): a pair's allowed distance is 1
    * when its shorter token is under [[ShortLen]] chars, else
    * [[MaxDist]]. Semantics: at 4–5 chars two edits rewrite half the
    * token, so the k=2 short pairs are noise, and dropping them also
    * removes the candidate-hub population — 2-deletion variants are
    * generated only for length >= ShortLen tokens (lossless by the
    * pigeonhole: a distance-1 pair needs only 1-deletion variants,
    * and a distance-2 pair under the rule has BOTH sides >=
    * ShortLen; FuzzySpec property-checks it on a dense random
    * vocabulary). The worst candidate hub shrinks from "terms sharing
    * a 2-char subsequence" to "terms sharing a 3-char one" at the
    * short end — SCALE.md's r14 vocab-regime rehearsal (synthetic
    * ~200k-term vocabulary, one query per JVM) measures the
    * refined-vs-fixed-k delta.
    */
  def fuzzyTokenPairsRefined(docsDf: DataFrame): DataFrame = {
    val v = vocab(docsDf)
    val cands = candidatePairs(deletionVariants(v, d2MinLen = ShortLen))
    withCounts(
      cands
        .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")).cast("long"))
        .filter(col("dist") <=
          when(least(length(col("tok_a")), length(col("tok_b"))) < ShortLen,
            lit(1L)).otherwise(lit(MaxDist.toLong))),
      v)
  }

  /** Rank every vocabulary token in lexicographic order WITHOUT a global
    * single-task sort (r12 verdict #1): a [[Cumulative]] rank whose
    * block is the token's 2-char prefix — a prefix of the sort key, so
    * block order is token order and the block summaries are bounded by
    * the alphabet squared, never by the vocabulary. FuzzySpec pins the
    * plan: no unpartitioned WindowExec over vocabulary-sized input.
    */
  private[graft] def blockRankIds(v: DataFrame): DataFrame =
    Cumulative.running(
        v.select(col("tok"), substring(col("tok"), 1, 2).as("blk")), Nil,
        "blk", Seq(col("tok")), lit(1L), Cumulative.Sum, inclusive = true,
        "id")
      .select(col("tok"), col("id"))

  /** Typo-cluster canonicalization: connected components over the fuzzy
    * pair graph, every vocabulary term labeled with its component's
    * lexicographically smallest term (`rep`); singletons map to
    * themselves. The id trick keeps the CC machinery on longs while the
    * CONTRACT stays on strings: ids are exact ranks in token sort order
    * (via [[blockRankIds]] — block-partitioned, never a single-task
    * global sort), so min-id == min-token and the DuckDB oracle can
    * propagate string labels directly.
    */
  def fuzzyGroups(docsDf: DataFrame): DataFrame = {
    val v = vocab(docsDf)
    val ids = blockRankIds(v)
    val pairs = fuzzyTokenPairs(docsDf)
      .join(ids.select(col("tok").as("tok_a"), col("id").as("d1")), Seq("tok_a"))
      .join(ids.select(col("tok").as("tok_b"), col("id").as("d2")), Seq("tok_b"))
      .select(col("d1"), col("d2"))
    val comp = Dedup.connectedComponents(pairs) // (node, comp = min id)
    val rep = comp
      .join(ids.select(col("id").as("node"), col("tok")), Seq("node"))
      .join(ids.select(col("id").as("comp"), col("tok").as("rep")), Seq("comp"))
      .select(col("tok"), col("rep"))
    v.join(rep, Seq("tok"), "left")
      .select(col("tok"), coalesce(col("rep"), col("tok")).as("rep"), col("c"))
  }

  // RECURSIVE on the prologue: q175/q180's `reach` term needs it (DuckDB
  // requires the keyword on the top-level WITH); harmless for q174.
  // doc_id rides along unused until q180's per-doc reassembly.
  private val vocabOracle: String =
    s"""WITH RECURSIVE tok AS (
                SELECT doc_id,
                       regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS ts
                FROM documents),
              t2 AS (SELECT UNNEST(ts) AS tok FROM tok),
              v AS (SELECT tok, COUNT(*) AS c FROM t2
                    WHERE LENGTH(tok) >= $MinLen GROUP BY 1)"""

  // the oracle verifies the SEMANTICS (all pairs within edit distance
  // MaxDist) with the naive length-banded quadratic — correct because
  // |len_a - len_b| <= dist always holds, and affordable because the
  // oracle runs on the bounded sf0.01 vocabulary
  /** Vocabulary-normalization REWRITE: map every token to its typo
    * cluster's highest-count member (ties: lexicographic) and reassemble
    * each document — the apply step that turns the q174/q175 reports
    * into a cleaned corpus, the same report→rewrite progression as
    * q137→q165 for substrings.
    *
    * Merge direction is count-weighted, not lexicographic: the cluster
    * canon is the spelling the corpus itself votes for ("receive" over
    * "recieve"), which is the standard typo-merge policy.
    *
    * Scale: the substitution map is vocabulary-sized and joins the
    * exploded corpus as a plain shuffle join on the token (NOT a forced
    * broadcast — vocab is corpus-sublinear but unbounded); reassembly
    * is the q165 sort_array(collect_list(struct)) idiom keyed by
    * doc_id, so per-group state is one document's tokens.
    */
  def normalizeRewrite(docsDf: DataFrame): DataFrame = {
    val groups = fuzzyGroups(docsDf) // (tok, rep, c)
    val canon = groups
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("rep")).orderBy(col("c").desc, col("tok"))))
      .filter(col("rn") === 1)
      .select(col("rep"), col("tok").as("canon"))
    val subst = groups.join(canon, Seq("rep"))
      .filter(col("tok") =!= col("canon"))
      .select(col("tok"), col("canon"))
    val toks = docsDf
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
      .toDF("doc_id", "p", "tok")
    toks.join(subst, Seq("tok"), "left")
      .select(col("doc_id"), col("p"),
        coalesce(col("canon"), col("tok")).as("out"),
        col("canon").isNotNull.cast("long").as("fixed"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("fixed")).as("n_fixed"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("p"), col("out")))),
          s => s.getField("out"))).as("norm_text"))
  }

  private val pairsOracle: String =
    vocabOracle + s"""
              SELECT a.tok AS tok_a, b.tok AS tok_b,
                     CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist,
                     a.c AS c_a, b.c AS c_b
              FROM v a JOIN v b
                ON a.tok < b.tok
               AND ABS(LENGTH(a.tok) - LENGTH(b.tok)) <= $MaxDist
              WHERE levenshtein(a.tok, b.tok) <= $MaxDist
              ORDER BY tok_a, tok_b"""

  /** vocab + fuzzy pair graph + CC labels: (tok, rep, c) as `lab` —
    * shared by q175 (report) and q180 (rewrite). */
  private val labOracle: String =
    vocabOracle + s""",
              pairs AS (
                SELECT a.tok AS t1, b.tok AS t2
                FROM v a JOIN v b
                  ON a.tok < b.tok
                 AND ABS(LENGTH(a.tok) - LENGTH(b.tok)) <= $MaxDist
                 AND levenshtein(a.tok, b.tok) <= $MaxDist),
              edges AS (SELECT t1 AS src, t2 AS dst FROM pairs
                        UNION ALL SELECT t2, t1 FROM pairs),
              reach AS (
                SELECT src AS node, src AS label FROM edges
                UNION
                SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
              comp AS (SELECT node, MIN(label) AS rep FROM reach GROUP BY 1),
              lab AS (
                SELECT v.tok, COALESCE(comp.rep, v.tok) AS rep, v.c
                FROM v LEFT JOIN comp ON comp.node = v.tok)"""

  private val groupsOracle: String =
    labOracle + """
              SELECT tok, rep, c FROM lab ORDER BY tok"""

  private val rewriteOracle: String =
    labOracle + """,
              canon AS (
                SELECT rep, tok AS canon FROM (
                  SELECT rep, tok,
                         ROW_NUMBER() OVER (PARTITION BY rep
                           ORDER BY c DESC, tok) AS rn
                  FROM lab) WHERE rn = 1),
              subst AS (
                SELECT l.tok, cn.canon FROM lab l
                JOIN canon cn USING (rep)
                WHERE l.tok <> cn.canon),
              toks AS (
                SELECT doc_id, i AS p, ts[i] AS tk
                FROM tok, UNNEST(generate_series(1, LEN(ts))) AS u(i)),
              o AS (
                SELECT doc_id, p, COALESCE(s.canon, toks.tk) AS out,
                       CASE WHEN s.canon IS NOT NULL THEN 1 ELSE 0 END AS fixed
                FROM toks LEFT JOIN subst s ON s.tok = toks.tk)
              SELECT doc_id, COUNT(*) AS n_tokens,
                     CAST(SUM(fixed) AS BIGINT) AS n_fixed,
                     STRING_AGG(out, ' ' ORDER BY p) AS norm_text
              FROM o GROUP BY 1 ORDER BY doc_id"""

  def defs: Seq[Q] = Seq(
    // Exact edit-distance pairs (typo/OCR-variant report): every
    // vocabulary pair within levenshtein distance 2, with term
    // frequencies so a caller can orient the merge (low-count variant ->
    // high-count canonical). Candidates via symmetric deletions — an
    // equi-join, never all-pairs.
    Q("q174_fuzzy_token_pairs",
      (s, d) => fuzzyTokenPairs(docs(s, d))
        .orderBy(col("tok_a"), col("tok_b")),
      Some(pairsOracle)),

    // Typo clusters: CC over the q174 graph, canonical spelling = the
    // component's lexicographically smallest term. Under a RECURSIVE-CTE
    // oracle that propagates string labels (min-token == min-id by the
    // rank construction), so the whole compose — variants -> verify ->
    // CC -> rep -- is value-hash-checked.
    Q("q175_fuzzy_groups",
      (s, d) => fuzzyGroups(docs(s, d))
        .orderBy(col("tok")),
      Some(groupsOracle)),

    // q174's metric swapped for TRUE Damerau-Levenshtein via the native
    // graft_damerau expression — swap typos ("recieve") land at
    // distance 1. Hash-checked against DuckDB's damerau_levenshtein
    // (verified true-DL, not OSA: 'ca'->'abc' = 2 in both).
    Q("q190_fuzzy_pairs_damerau",
      (s, d) => fuzzyTokenPairsDamerau(docs(s, d))
        .orderBy(col("tok_a"), col("tok_b")),
      Some(vocabOracle + s"""
              SELECT a.tok AS tok_a, b.tok AS tok_b,
                     CAST(damerau_levenshtein(a.tok, b.tok) AS BIGINT) AS dist,
                     a.c AS c_a, b.c AS c_b
              FROM v a JOIN v b
                ON a.tok < b.tok
               AND ABS(LENGTH(a.tok) - LENGTH(b.tok)) <= $MaxDist
              WHERE damerau_levenshtein(a.tok, b.tok) <= $MaxDist
              ORDER BY tok_a, tok_b""")),

    // q174 under the per-length threshold: short pairs (min length <
    // ShortLen) must sit at distance 1, longer pairs at <= 2 — the
    // hub-bounding refinement, hash-checked under its own CASE-rule
    // oracle (q174's fixed-k contract is untouched).
    Q("q198_fuzzy_pairs_refined",
      (s, d) => fuzzyTokenPairsRefined(docs(s, d))
        .orderBy(col("tok_a"), col("tok_b")),
      Some(vocabOracle + s"""
              SELECT a.tok AS tok_a, b.tok AS tok_b,
                     CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist,
                     a.c AS c_a, b.c AS c_b
              FROM v a JOIN v b
                ON a.tok < b.tok
               AND ABS(LENGTH(a.tok) - LENGTH(b.tok)) <= $MaxDist
              WHERE levenshtein(a.tok, b.tok) <=
                    CASE WHEN LEAST(LENGTH(a.tok), LENGTH(b.tok)) < $ShortLen
                         THEN 1 ELSE $MaxDist END
              ORDER BY tok_a, tok_b""")),

    // The apply step: count-weighted canonical spelling per cluster,
    // substituted through the corpus and reassembled per document.
    // Hash-checks the FULL rewritten text, so tokenize -> pairs -> CC
    // -> canon vote -> substitute -> reassemble must all agree with
    // DuckDB's replay.
    Q("q180_vocab_normalize",
      (s, d) => normalizeRewrite(docs(s, d))
        .orderBy(col("doc_id")),
      Some(rewriteOracle))
  )
}
