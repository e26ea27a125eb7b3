package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Fuzzy

/** Edit-distance fuzzy matching (SymSpell deletion-neighborhood):
  * exactness of the candidate scheme against a brute-force oracle,
  * planted-typo recovery, component canonicalization, and the
  * no-all-pairs plan guarantee.
  */
class FuzzySpec extends AnyFunSuite with TestSpark {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Corpus with planted typo families:
    *  - receive / recieve (transpose = 2 edits) / receeve (1 sub)
    *  - spark / spork (1 sub) / sparkk (1 ins)
    *  - window (isolated singleton)
    *  - distant words that must NOT pair (distance > 2)
    */
  private lazy val docs = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(1L, "receive receive recieve window"),
      Row(2L, "receeve spark spork distant"),
      Row(3L, "sparkk spark receive elephant"),
      Row(4L, "window spark receive zzzz")), 2),
    schema)

  private def bruteForcePairs(toks: Seq[String]): Set[(String, String, Int)] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(
          math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (for {
      a <- toks; b <- toks
      if a < b
      dist = lev(a, b)
      if dist <= Fuzzy.MaxDist
    } yield (a, b, dist)).toSet
  }

  test("pairs == brute-force edit-distance ground truth (no false negatives)") {
    val got = Fuzzy.fuzzyTokenPairs(docs)
      .select("tok_a", "tok_b", "dist").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2).toInt)).toSet
    val vocabToks = Fuzzy.vocab(docs).select("tok").collect()
      .map(_.getString(0)).toSeq
    assert(got == bruteForcePairs(vocabToks))
    // the planted families are found with their exact distances
    assert(got.contains(("receive", "recieve", 2)))
    assert(got.contains(("receeve", "receive", 1)))
    assert(got.contains(("spark", "spork", 1)))
    assert(got.contains(("spark", "sparkk", 1)))
  }

  test("counts carried per side (merge-orientation signal)") {
    val rows = Fuzzy.fuzzyTokenPairs(docs)
      .filter(col("tok_a") === "receive" && col("tok_b") === "recieve")
      .collect()
    assert(rows.length == 1)
    // 'receive' appears 4x in the corpus, 'recieve' once
    assert(rows.head.getAs[Long]("c_a") == 4L)
    assert(rows.head.getAs[Long]("c_b") == 1L)
  }

  test("groups: planted typo families collapse to one canonical rep each") {
    val reps = Fuzzy.fuzzyGroups(docs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // receive-family: receeve < recieve is false ('receeve' < 'receive' —
    // lexicographic min of {receive, recieve, receeve} is 'receeve')
    val recFamily = Set("receive", "recieve", "receeve")
    assert(recFamily.map(reps) == Set(recFamily.min))
    val sparkFamily = Set("spark", "spork", "sparkk")
    assert(sparkFamily.map(reps) == Set(sparkFamily.min))
    // singletons self-represent
    assert(reps("window") == "window")
    assert(reps("elephant") == "elephant")
    // distant words never cross families
    assert(reps("distant") == "distant")
  }

  test("plan: candidate generation is an equi-join on variant, no cartesian") {
    val pairs = Fuzzy.fuzzyTokenPairs(docs)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$plan")
  }

  test("damerau pairs: swap typo at distance 1, levenshtein charges 2") {
    val lev = Fuzzy.fuzzyTokenPairs(docs)
      .filter(col("tok_a") === "receive" && col("tok_b") === "recieve")
      .head.getLong(2)
    val dl = Fuzzy.fuzzyTokenPairsDamerau(docs)
      .filter(col("tok_a") === "receive" && col("tok_b") === "recieve")
      .head.getLong(2)
    assert(lev == 2L && dl == 1L, s"lev=$lev dl=$dl")
  }

  test("normalize rewrite: count-weighted canon substituted, text reassembled") {
    val out = Fuzzy.normalizeRewrite(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getLong(2))).toMap
    // canon by corpus vote: receive (4x) beats recieve/receeve (1x each);
    // spark (3x) beats spork/sparkk
    assert(out(1L) == (("receive receive receive window", 1L)))
    assert(out(2L) == (("receive spark spark distant", 2L)))
    assert(out(3L) == (("spark spark receive elephant", 1L)))
    assert(out(4L) == (("window spark receive zzzz", 0L)))
  }

  test("plan: vocabulary id rank is block-partitioned, never a global sort") {
    // r12 verdict #1: the id assignment must run the two-phase block
    // shape — a row_number over an unpartitioned vocabulary window
    // sorts the ENTIRE vocabulary (1e8–1e9 terms on a web corpus) in
    // one task. The only unpartitioned window allowed is the
    // block-summary offset pass, distinguished by its input: a
    // vocabulary-cardinality window would carry `tok`, the summary
    // window only (blk, bs).
    val ids = Fuzzy.blockRankIds(Fuzzy.vocab(docs))
    ids.collect()
    val windows = windowExecs(ids.queryExecution)
    assert(windows.nonEmpty, "no WindowExec seen")
    val bad = windows.filter(w => w.partitionSpec.isEmpty &&
      w.child.output.exists(_.name == "tok"))
    assert(bad.isEmpty, s"vocabulary-sized unpartitioned window: $bad")
    // substring scale paths carry no forced-broadcast join hints on
    // corpus-derived sides; the offs broadcast here is bounded by the
    // alphabet squared, not the vocabulary — and the ranks must be the
    // EXACT global lexicographic ranks (min-id == min-token is what the
    // q175/q180 string-label oracles stand on)
    val got = ids.orderBy(col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.map(_._1).toSeq.sorted == got.map(_._1).toSeq,
      "id order must equal token sort order")
    assert(got.map(_._2).toSeq == (1L to got.length.toLong).toSeq,
      "ranks must be exact and dense from 1")
  }

  test("deletion variants: counts and losslessness on a known token") {
    val v = spark.range(1).select(lit("abcd").as("tok"), lit(1L).as("c"))
    val variants = Fuzzy.deletionVariants(v)
      .select("variant").collect().map(_.getString(0)).toSet
    // 0-del: abcd; 1-del: bcd acd abd abc; 2-del: C(4,2)=6 -> cd bd bc ad ac ab
    assert(variants == Set("abcd", "bcd", "acd", "abd", "abc",
      "cd", "bd", "bc", "ad", "ac", "ab"))
  }

  /** The per-length rule q198 registers: a pair is admitted iff its
    * distance is <= 1 when the shorter token is under ShortLen chars,
    * else <= MaxDist. */
  private def refinedBruteForce(toks: Seq[String]): Set[(String, String, Int)] =
    bruteForcePairs(toks).filter { case (a, b, d) =>
      d <= (if (math.min(a.length, b.length) < Fuzzy.ShortLen) 1
            else Fuzzy.MaxDist)
    }

  test("refined pairs: short d=2 dropped, short d=1 kept, long d=2 kept") {
    val vocabToks = Fuzzy.vocab(docs).select("tok").collect()
      .map(_.getString(0)).toSeq
    val fixed = bruteForcePairs(vocabToks)
    val expected = refinedBruteForce(vocabToks)
    // the fixture plants all three behaviors — the rule must actually
    // fire here, not pass vacuously (the r13 q198 finding):
    // (i) a SHORT distance-2 pair the fixed-k q174 keeps but the rule
    //     drops (sparkk/spork: min length 5 < ShortLen, lev = 2)
    assert(fixed.contains(("sparkk", "spork", 2)))
    assert(!expected.contains(("sparkk", "spork", 2)))
    // (ii) a SHORT distance-1 pair the rule keeps (spark/spork)
    assert(expected.contains(("spark", "spork", 1)))
    // (iii) a LONG (>= ShortLen) distance-2 pair the rule keeps
    assert(expected.contains(("receive", "recieve", 2)))
    val got = Fuzzy.fuzzyTokenPairsRefined(docs)
      .select("tok_a", "tok_b", "dist").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2).toInt)).toSet
    assert(got == expected,
      s"extra=${got -- expected} missing=${expected -- got}")
  }

  test("pigeonhole completeness: d2MinLen-narrowed variants yield every " +
      "rule-admitted pair") {
    // the Fuzzy.scala:89-95 claim, checked property-style on a dense
    // pseudo-random vocabulary: a distance-1 pair needs only 1-deletion
    // variants, and a rule-admitted distance-2 pair has BOTH sides >=
    // ShortLen, so skipping 2-deletion variants for short tokens loses
    // no admitted candidate. Alphabet {a,b,c}, lengths 4..9: hundreds
    // of admitted pairs, both regimes (short d=1, long d<=2) populated.
    val rng = new scala.util.Random(7)
    val toks = Iterator.continually {
      val n = 4 + rng.nextInt(6)
      (0 until n).map(_ => ('a' + rng.nextInt(3)).toChar).mkString
    }.distinct.take(120).toSeq
    val v = spark.createDataFrame(
      spark.sparkContext.parallelize(toks.map(t => Row(t, 1L)), 2),
      StructType(Seq(StructField("tok", StringType),
        StructField("c", LongType))))
    val byTok = Fuzzy.deletionVariants(v, d2MinLen = Fuzzy.ShortLen)
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).toSet }
    val admitted = refinedBruteForce(toks)
    // non-vacuity: both regimes of the rule must occur in the sample
    assert(admitted.exists { case (a, b, d) =>
      d == 1 && math.min(a.length, b.length) < Fuzzy.ShortLen })
    assert(admitted.exists { case (a, b, d) =>
      d == 2 && math.min(a.length, b.length) >= Fuzzy.ShortLen })
    for ((a, b, d) <- admitted)
      assert(byTok(a).intersect(byTok(b)).nonEmpty,
        s"admitted pair ($a, $b, d=$d) shares no generated variant")
  }
}
