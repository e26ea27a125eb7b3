package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's per-row hot paths.
  *
  * The higher-order-function formulations (`aggregate(zip_with(...))`,
  * `array_min(transform(...))`, explode + 64-column aggregation) these
  * replace are evaluated by the Catalyst interpreter one lambda call per
  * element, allocating an intermediate array per HOF per row. At 100 TB
  * that interpreter overhead dominates the actual arithmetic. Each
  * expression here is a single tight Java/Scala loop over the underlying
  * `ArrayData` — no per-element boxing, no intermediate arrays — and
  * participates in whole-stage codegen (either with an inline generated
  * loop, or through a compiled call into this class, which keeps the
  * surrounding codegen stage intact).
  *
  * Numeric parity: folds accumulate left-to-right in element order, the
  * same order as the HOF `aggregate` they replace and as the DuckDB
  * oracle's `list_sum(list_transform(...))` — results are bit-identical,
  * which the oracle's value-hash compare requires.
  *
  * Hash parity: string hashing is Spark's own xxhash64 (seed 42), so
  * signatures match what `functions.xxhash64` would produce on the same
  * input. Reference for the operator semantics: near-dup/minhash per
  * SURVEY.md §2 (LLM-pipeline extensions).
  */
object Exprs {

  /** splitmix64 — deterministic per-slot mixing constants (same scheme
    * across MinHash slots and LSH hyperplanes; no RNG state to ship).
    */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Sequential-fold dot product of two array<double> columns (shorter
  * length wins, matching `zip_with`'s non-null overlap after a size
  * guard). Inline codegen: one fused loop inside the enclosing
  * whole-stage-codegen function.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must already be array<double>: the Fns wrappers cast (a plain
  // Cast, codegen'd) — AbstractDataType/ExpectsInputTypes are private[sql]
  // in Spark 4, so implicit input coercion isn't available to extensions.
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One-pass cosine similarity of two array<double> columns:
  * dot/(sqrt(dot_aa)*sqrt(dot_bb)) with all three sums accumulated
  * left-to-right in one loop — bit-identical to computing the three
  * folds separately (the accumulators are independent).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sxy = 0.0; var sxx = 0.0; var syy = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      sxy += xv * yv; sxx += xv * xv; syy += yv * yv
      i += 1
    }
    sxy / (math.sqrt(sxx) * math.sqrt(syy))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sxy = ctx.freshName("sxy")
      val sxx = ctx.freshName("sxx")
      val syy = ctx.freshName("syy")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sxy = 0.0; double $sxx = 0.0; double $syy = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
         |  $sxy += $xv * $yv; $sxx += $xv * $xv; $syy += $yv * $yv;
         |}
         |${ev.value} = $sxy / (java.lang.Math.sqrt($sxx) * java.lang.Math.sqrt($syy));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance of two array<double> columns, sequential fold:
  * sum over i of (a_i - b_i)^2, accumulated left-to-right. Bit-identical
  * to the HOF form it replaces — `dot(zip_with(a, b, (x, y) => x - y),
  * same)` — because each term is the same two IEEE ops ((x-y) then
  * square-and-add) in the same element order (FnsSpec pins the
  * equality); it just skips the interpreted lambda dispatch and the
  * materialized difference array (the q97/q145 law, r13 verdict #8).
  * Inline codegen: one fused loop in the enclosing stage.
  */
case class L2SqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Distinct xxhash64 values (seed 42 — Spark's `xxhash64` on strings) of
  * the n-gram word shingles of a token array: tokenize → shingle →
  * hash → dedupe in ONE pass per row, never materializing shingle
  * strings into an output array. Downstream joins/minhash operate on the
  * 8-byte hash instead of a ~20+-byte string, shrinking the shuffle.
  * Codegen calls into `compute` (a compiled method) so the enclosing
  * whole-stage-codegen stage is preserved.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingle_hashes"

  private val sep = UTF8String.fromString(" ")

  def compute(a: ArrayData): ArrayData = {
    // registered as a public SQL function, so the input array may carry
    // NULL elements — skip them (a null token neither forms nor breaks a
    // shingle) instead of NPE-ing in the hash
    val len0 = a.numElements()
    val toks = new Array[UTF8String](len0)
    var m = 0
    var p = 0
    while (p < len0) {
      if (!a.isNullAt(p)) { toks(m) = a.getUTF8String(p); m += 1 }
      p += 1
    }
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks(i + j); j += 1 }
      val sh = UTF8String.concatWs(sep, parts: _*)
      seen.add(XxHash64Function.hash(sh, StringType, 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHashes", this, classOf[ShingleHashes].getName)
    val ad = classOf[ArrayData].getName
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ($ad) $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  val K = 32
  // Per-slot affine mixers over the ONE xxhash64 of each shingle: slot i
  // sees h*A(i)+B(i). One string hash per shingle + 2 integer ops per
  // slot, instead of K string hashes.
  val mixA: Array[Long] = Array.tabulate(K)(i => Exprs.splitmix64(2L * i) | 1L)
  val mixB: Array[Long] = Array.tabulate(K)(i => Exprs.splitmix64(2L * i + 1))
}

/** MinHash signature (K=32 slots) over pre-hashed shingles, all slots in
  * one pass over the hash array. Empty input yields a
  * Long.MaxValue-filled signature (callers filter empty docs upstream).
  */
case class MinHashSig(child: Expression)
    extends UnaryExpression {
  import MinHashSig._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  def compute(a: ArrayData): ArrayData = {
    val sig = Array.fill(K)(Long.MaxValue)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val h = a.getLong(i)
      var s = 0
      while (s < K) {
        val v = h * mixA(s) + mixB(s)
        if (v < sig(s)) sig(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this, classOf[MinHashSig].getName)
    val ad = classOf[ArrayData].getName
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ($ad) $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash from a token array: hash each token (xxhash64, seed
  * 42), per-bit majority vote over the token MULTISET (each occurrence
  * votes), bit set on count >= 0. Replaces an explode + 64-column
  * aggregation — the signature becomes a map-side projection and the
  * only shuffle left in near-dup detection is the band join itself.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash64"

  def compute(a: ArrayData): Long = {
    val cnt = new Array[Int](64)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      // null tokens cast no vote (public SQL function — no NPE)
      if (!a.isNullAt(i)) {
        val h = XxHash64Function.hash(a.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (cnt(b) >= 0) sig |= (1L << b); b += 1 }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash64", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash whose per-token hash is the first 8 bytes of MD5
  * (big-endian) instead of xxhash64. Same majority-vote rule as
  * [[SimHash64]]; the point of this variant is that MD5 is shared by
  * every engine, so the signature is ORACLE-CHECKABLE: DuckDB reproduces
  * it bit-for-bit from SUBSTR(MD5(t),1,8)/(9,8) (q55's oracle), where
  * xxhash64 seeds/implementations are Spark-specific.
  */
case class SimHashMd5(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash_md5"

  def compute(a: ArrayData): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val cnt = new Array[Int](64)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        md.reset()
        val digest = md.digest(a.getUTF8String(i).getBytes)
        // first 8 digest bytes, big-endian: bits 63..32 are the first 4
        // bytes (= first 8 hex chars), bits 31..0 the next 4 — exactly
        // DuckDB's SUBSTR(MD5(t),1,8) / SUBSTR(MD5(t),9,8) halves
        var h = 0L
        var k = 0
        while (k < 8) { h = (h << 8) | (digest(k) & 0xFFL); k += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (cnt(b) >= 0) sig |= (1L << b); b += 1 }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashMd5", this, classOf[SimHashMd5].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of tokens that appear in a fixed word set (stopword-ratio
  * quality scoring, language-ID heuristics): one hash-set probe per
  * token instead of an interpreted `filter(toks, array_contains(...))`
  * lambda that rescans the word array per element.
  */
case class StopHits(child: Expression, words: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_stop_hits"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  def compute(a: ArrayData): Int = {
    val n = a.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      // null tokens are never stopword hits (public SQL function — no NPE)
      if (!a.isNullAt(i) && set.contains(a.getUTF8String(i))) hits += 1
      i += 1
    }
    hits
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopHits", this, classOf[StopHits].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Character-level Shannon entropy (nats) of a string in one compiled
  * pass: code-point counts in first-occurrence order, then a
  * left-to-right fold of `acc - (cnt/n) * ln(cnt/n)`.
  *
  * Bit-identical to the HOF reference formulation
  * (`aggregate(array_distinct(chars), ...)` over `substr(i, 1)` chars,
  * pinned in FnsSpec): array_distinct preserves first occurrence, and
  * the fold's operand order/types match exactly — which the oracle's
  * value-hash compare requires. The HOF form costs O(distinct × len)
  * interpreted lambda calls per row (q97 measured 140 s at sf0.1); this
  * is one O(len) loop.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_char_entropy"

  def compute(s: UTF8String): Double = {
    val str = s.toString
    val counts = new java.util.LinkedHashMap[Integer, Integer]()
    var total = 0
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val prev = counts.get(cp)
      counts.put(cp, if (prev == null) 1 else prev + 1)
      total += 1
      i += Character.charCount(cp)
    }
    val n = total.toDouble
    var ent = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val cnt = it.next().toDouble
      // StrictMath, not Math: Spark's LOG expression evaluates
      // StrictMath.log, and the JIT's Math.log intrinsic can differ by
      // 1 ULP — enough to break the bit-identity the oracle hash needs
      ent = ent - (cnt / n) * StrictMath.log(cnt / n)
    }
    ent
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charEntropy", this,
      classOf[CharEntropy].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.compute($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unicode NFC normalization (canonical composition) — the missing
  * Spark half of the standard text-canonicalization step before exact
  * or fingerprint dedup: a decomposed "é" (e + U+0301) and the
  * composed U+00E9 are byte-different, hash-different strings that
  * READ identically, so un-normalized corpora under-deduplicate and
  * fingerprints drift across sources that compose differently.
  * Matches DuckDB's `nfc_normalize` (both are Unicode NFC). ONLY the
  * NFC step lives here: casefolding and whitespace collapse stay in
  * Spark's own `lower`/`regexp_replace` codegen so Catalyst can fold,
  * prune, and push them independently. Fast path: `isNormalized`
  * (the UAX#15 quick check) returns the input UTF8String untouched —
  * ASCII and already-composed text (the overwhelming majority) pays
  * one scan and zero allocation.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nfc"

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str,
        java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str,
      java.text.Normalizer.Form.NFC))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nfcNormalize", this,
      classOf[NfcNormalize].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.compute($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** TRUE Damerau-Levenshtein distance (unrestricted transpositions —
  * the Lowrance-Wagner 1975 algorithm with a last-occurrence table),
  * the edit metric where swapped adjacent characters cost ONE edit:
  * "recieve"→"receive" is 1, not the 2 plain levenshtein charges. The
  * dominant typo class in real text IS the transposition (Damerau's
  * original finding: >80% of spelling errors are one sub/del/ins/swap),
  * so the fuzzy family's distances under this metric match how typos
  * actually happen. Spark ships only plain `levenshtein`; this fills
  * the gap as a native expression — one tight int-matrix loop, no
  * regex, no allocation beyond the DP table — and matches DuckDB's
  * `damerau_levenshtein` (verified true-DL, not the restricted OSA:
  * "ca"→"abc" = 2). Comparison is over UTF-16 code units — identical
  * to DuckDB on ASCII/BMP text, which is the vocabulary contract
  * (TextOps.tokens lowercases).
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_damerau"

  def compute(ls: UTF8String, rs: UTF8String): Int = {
    val a = ls.toString
    val b = rs.toString
    val la = a.length
    val lb = b.length
    if (la == 0) return lb
    if (lb == 0) return la
    val inf = la + lb
    // d is (la+2) x (lb+2), offset by 2 (Lowrance-Wagner framing row)
    val w = lb + 2
    val d = new Array[Int]((la + 2) * w)
    d(0) = inf
    var i = 0
    while (i <= la) { d((i + 1) * w) = inf; d((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(j + 1) = inf; d(w + j + 1) = j; j += 1 }
    // last row in which each character appeared in `a`
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val k0 = da.get(b.charAt(j - 1))
        val k = if (k0 == null) 0 else k0.intValue()
        val l = db
        var cost = 1
        if (a.charAt(i - 1) == b.charAt(j - 1)) { cost = 0; db = j }
        val sub = d(i * w + j) + cost
        val ins = d((i + 1) * w + j) + 1
        val del = d(i * w + j + 1) + 1
        val trans = d(k * w + l) + (i - k - 1) + 1 + (j - l - 1)
        var m = sub
        if (ins < m) m = ins
        if (del < m) m = del
        if (trans < m) m = trans
        d((i + 1) * w + j + 1) = m
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    d((la + 1) * w + lb + 1)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("damerau", this,
      classOf[DamerauLevenshtein].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Remove the 1-based positions covered by any [mn, mx] interval from a
  * token array in ONE compiled two-pointer pass — the native form of
  * the span-cut `filter(ts, (t,i) => !exists(ivs, …))` HOF, which
  * Catalyst evaluates interpreted (two lambda dispatches per token ×
  * interval: O(n·k) interpreter overhead in the q165/q167/streaming
  * span-cut hot path — the q97/q145 law, where the HOF form measured
  * 139.9 s vs 0.30 s native at sf0.1 for CharEntropy's predecessor).
  *
  * Contract: `ivs` is an array<struct<mn:long, mx:long>> sorted
  * ascending by mn (the `sort_array(collect_list(struct(mn, mx)))` the
  * callers already apply). Overlapping intervals are tolerated: the
  * cursor only discards an interval once its mx falls behind the
  * current position, and with mn-sorted input no later interval can
  * start earlier — so a discarded interval can never cover a later
  * position. O(n + k), allocation = the output array only. Token
  * positions are 1-based, matching the positional-gram convention.
  */
case class IntervalCut(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = left.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_interval_cut"

  // compute() reads the interval fields with getLong; an un-cast
  // struct<mn:int,mx:int> (which the replaced HOF form happily took)
  // would hit a runtime ClassCastException or representation-dependent
  // garbage — fail at ANALYSIS time instead
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(_, _), ArrayType(StructType(fs), _))
          if fs.length == 2 && fs.forall(_.dataType == LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"$prettyName expects (array<T>, " +
            "array<struct<BIGINT, BIGINT>>) — cast the interval bounds " +
            s"to BIGINT — got (${l.sql}, ${r.sql})")
    }

  private lazy val elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  def compute(ts: ArrayData, ivs: ArrayData): ArrayData = {
    val n = ts.numElements()
    val k = ivs.numElements()
    val out = new Array[Any](n)
    var m = 0
    var j = 0
    var i = 0
    while (i < n) {
      val pos = i + 1L
      while (j < k && ivs.getStruct(j, 2).getLong(1) < pos) j += 1
      if (!(j < k && ivs.getStruct(j, 2).getLong(0) <= pos)) {
        out(m) = ts.get(i, elemType)
        m += 1
      }
      i += 1
    }
    if (m == n) new GenericArrayData(out)
    else {
      val trimmed = new Array[Any](m)
      System.arraycopy(out, 0, trimmed, 0, m)
      new GenericArrayData(trimmed)
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("intervalCut", this,
      classOf[IntervalCut].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bucket gradient perceptual hash of an opaque media payload — the
  * 1-D analog of image dHash (resample to a fixed grid, hash the
  * gradient signs): the byte stream is resampled into 64 equal-width
  * buckets (bucket of byte i = i·64/len, integer floor), and bit j
  * (j = 0..62) is set iff bucket j's mean byte value is strictly below
  * bucket j+1's. Mean compares are integer cross-multiplies
  * (sumA·cntB < sumB·cntA) — zero floating point, so ANY engine
  * reproduces the hash bit-for-bit (the q131 oracle rebuilds it in SQL
  * from hex(blob)). With the default 64-bucket grid the 63 bits keep
  * the value positive in signed-64 engines; payloads shorter than the
  * grid hash to 0. The grid is a literal parameter (2..64) so FRAME
  * segments — short byte ranges of a clip payload — hash on a coarser
  * grid (q132 uses 16 buckets → 15 bits per frame).
  *
  * Robustness contract (and its limit, measured on the test corpus):
  * position-preserving value perturbations — the re-encode/noise/
  * brightness class a real image aHash absorbs — move planted pairs to
  * Hamming 0-1 while unrelated pairs sit near 31; content SHIFTS
  * (insert/delete) scramble the grid, exactly as with pixel aHash,
  * which is why text near-dup uses MinHash (q33/q71) instead.
  */
case class MediaPHash64(child: Expression, buckets: Int = 64)
    extends UnaryExpression {

  require(buckets >= 2 && buckets <= 64,
    s"graft_media_phash bucket grid must be in [2, 64], got $buckets")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_media_phash"

  def compute(bytes: Array[Byte]): Long = {
    val len = bytes.length
    val g = buckets
    if (len < g) return 0L
    val sum = new Array[Long](g)
    val cnt = new Array[Long](g)
    var i = 0
    while (i < len) {
      val j = ((i.toLong * g) / len).toInt
      sum(j) += (bytes(i) & 0xFF)
      cnt(j) += 1
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < g - 1) {
      if (sum(j) * cnt(j + 1) < sum(j + 1) * cnt(j)) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mediaPhash", this,
      classOf[MediaPHash64].getName)
    nullSafeCodeGen(ctx, ev, b => s"${ev.value} = $ref.compute($b);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** BPE encode of one word against a trained merge table (see
  * graft.llm.TextOps.bpeTrain): start from code points + `</w>`, then
  * greedily fuse the adjacent pair with the LOWEST merge rank until no
  * adjacent pair is mergeable — the standard encode rule, which replays
  * training's segmentation for in-vocabulary words. One tight loop per
  * word; the merge table rides the expression as a shared reference
  * object (the PqAssignCodes codebook pattern), hashed once per task.
  */
case class BpeEncode(child: Expression, merges: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bpe_encode"

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case (p, r) => m.put(p, r) }
    m
  }

  def compute(word: UTF8String): ArrayData = {
    val w = word.toString
    val syms = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      syms += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    syms += "</w>"
    var done = false
    while (!done && syms.length >= 2) {
      var best = Int.MaxValue
      var bestIdx = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get(syms(j) + " " + syms(j + 1))
        if (r != null && r < best) { best = r; bestIdx = j }
        j += 1
      }
      if (bestIdx < 0) done = true
      else {
        syms(bestIdx) = syms(bestIdx) + syms(bestIdx + 1)
        syms.remove(bestIdx + 1)
      }
    }
    new GenericArrayData(syms.map(UTF8String.fromString).toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncode", this,
      classOf[BpeEncode].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.compute($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct sliding-window minima of an array<long> — the winnowing
  * selection step (Dedup.winnowedFingerprints): minimum of each window
  * of `w` consecutive hashes, first-occurrence order. One compiled
  * O(n·w) pass (w is small — 4 by default) replacing an interpreted
  * `array_distinct(transform(sequence, j -> array_min(slice(hs, j, w))))`
  * that allocates a w-element array per window per row. Long compares
  * are exact, so values are identical to the HOF form (pinned in
  * FnsSpec).
  */
case class WinnowedMinima(child: Expression, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_winnow_min"

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j + w <= n) {
      var m = a.getLong(j)
      var t = 1
      while (t < w) {
        val v = a.getLong(j + t)
        if (v < m) m = v
        t += 1
      }
      seen.add(m)
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnowMin", this,
      classOf[WinnowedMinima].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBuckets {
  val Tables = 8
  val BitsPerTable = 8
  val MaxDim = 512
  // Deterministic pseudo-random hyperplane components in [-1, 1):
  // splitmix64 of (plane, dim), computed once per JVM. plane p =
  // table*BitsPerTable + bit. Same constants as the HOF formulation this
  // replaces, so LSH bucket assignments (and measured recall) carry over.
  lazy val planes: Array[Array[Double]] =
    Array.tabulate(Tables * BitsPerTable) { p =>
      Array.tabulate(MaxDim) { i =>
        (math.floorMod(Exprs.splitmix64(p.toLong * MaxDim + i), 2000L).toDouble / 1000.0) - 1.0
      }
    }
}

/** All `Tables` random-hyperplane LSH bucket ids of an array<double>
  * vector in one pass: 64 projections (8 tables x 8 bits) share one
  * loop nest over the vector instead of 64 interpreted zip_with folds.
  * Vectors shorter than MaxDim use each plane's prefix.
  */
case class HyperplaneBuckets(child: Expression)
    extends UnaryExpression {
  import HyperplaneBuckets._

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_lsh_buckets"

  def compute(a: ArrayData): ArrayData = {
    val dim = math.min(a.numElements(), MaxDim)
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = a.getDouble(i); i += 1 }
    val buckets = new Array[Int](Tables)
    var t = 0
    while (t < Tables) {
      var bucket = 0
      var b = 0
      while (b < BitsPerTable) {
        val plane = planes(t * BitsPerTable + b)
        var proj = 0.0
        var d = 0
        while (d < dim) { proj += v(d) * plane(d); d += 1 }
        if (proj >= 0) bucket |= (1 << b)
        b += 1
      }
      buckets(t) = bucket
      t += 1
    }
    new GenericArrayData(buckets)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBuckets", this, classOf[HyperplaneBuckets].getName)
    val ad = classOf[ArrayData].getName
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ($ad) $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5HyperplaneBuckets {
  val Tables = 4
  val BitsPerTable = 8
  val MaxDim = 64
  // Engine-agnostic hyperplane components: comp(t,b,i) = (unsigned value
  // of the first 8 hex chars of MD5("t:b:i")) - 2^31, as a double. Any
  // engine with an MD5 function reproduces these planes exactly — DuckDB
  // spells the same component as
  //   CAST('0x'||SUBSTR(MD5(t||':'||b||':'||i),1,8) AS BIGINT) - 2147483648
  // — so the projection sign bits (and hence the LSH candidate sets) are
  // identical across engines, which is what puts the ANN family under
  // the value-hash oracle. The fast splitmix64 path (HyperplaneBuckets)
  // remains the production default; this variant costs nothing extra at
  // runtime (planes are computed once per JVM, the per-row loop is the
  // same shape) and exists for cross-engine verifiability.
  lazy val planes: Array[Array[Double]] =
    Array.tabulate(Tables * BitsPerTable) { p =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val t = p / BitsPerTable
      val b = p % BitsPerTable
      Array.tabulate(MaxDim) { i =>
        val hex = md.digest(s"$t:$b:$i".getBytes("UTF-8"))
          .take(4).map(x => f"$x%02x").mkString
        (java.lang.Long.parseLong(hex, 16) - 2147483648L).toDouble
      }
    }
}

/** MD5-derived random-hyperplane LSH bucket ids — same loop shape as
  * HyperplaneBuckets (all Tables*BitsPerTable projections share one
  * compiled loop nest per row), different (engine-agnostic) plane
  * constants. See Md5HyperplaneBuckets for the cross-engine contract.
  */
case class Md5HyperplaneBuckets(child: Expression)
    extends UnaryExpression {
  import Md5HyperplaneBuckets._

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_lsh_buckets_md5"

  def compute(a: ArrayData): ArrayData = {
    val dim = math.min(a.numElements(), MaxDim)
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = a.getDouble(i); i += 1 }
    val buckets = new Array[Int](Tables)
    var t = 0
    while (t < Tables) {
      var bucket = 0
      var b = 0
      while (b < BitsPerTable) {
        val plane = planes(t * BitsPerTable + b)
        var proj = 0.0
        var d = 0
        while (d < dim) { proj += v(d) * plane(d); d += 1 }
        if (proj >= 0) bucket |= (1 << b)
        b += 1
      }
      buckets(t) = bucket
      t += 1
    }
    new GenericArrayData(buckets)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("md5LshBuckets", this,
      classOf[Md5HyperplaneBuckets].getName)
    val ad = classOf[ArrayData].getName
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ($ad) $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Membership probe of a string column against a serialized Bloom filter
  * carried as a foldable binary literal — the executor side of a
  * broadcast-Bloom pre-join filter. The filter is built once from the
  * SMALL relation (e.g. the eval/test fingerprint set), serialized into
  * the plan, and probed row-by-row on the HUGE side before any exchange:
  * only probable hits reach the shuffle, so at 100 TB the big side's
  * exchange carries ~|small| + fpp·|big| rows instead of |big|. False
  * positives must be killed downstream by an exact join (the operator
  * using this keeps results exact; see Curation.bloomDecontamination).
  *
  * Probes `mightContainBinary(utf8Bytes)`, matching a filter built with
  * `putString` (which hashes the UTF-8 bytes) — no String allocation per
  * row. Deserialized once per executor via the transient lazy val.
  */
case class BloomMightContain(filterBytes: Expression, value: Expression)
    extends BinaryExpression {

  override def left: Expression = filterBytes
  override def right: Expression = value
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bloom_contains"

  @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      filterBytes.eval().asInstanceOf[Array[Byte]])

  def probe(v: UTF8String): Boolean = bloom.mightContainBinary(v.getBytes)

  override def nullSafeEval(b: Any, v: Any): Any =
    probe(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbe", this,
      classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, (_, v) => s"${ev.value} = $ref.probe($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(filterBytes = newLeft, value = newRight)
}

/** Broadcast-backed variant of [[BloomMightContain]] — the 100 TB form.
  * A literal-carried filter rides the PLAN: serialized with every task
  * binary and rendered into every plan string, which at a realistic
  * eval-set size (10⁷–10⁸ fingerprints → 12–120 MB of filter) is a
  * per-task tax. Here the expression holds a `Broadcast[Array[Byte]]`
  * handle instead: tasks carry only the handle, executors fetch the
  * blocks once via the torrent protocol, and the filter is deserialized
  * once per executor (transient lazy val).
  *
  * Column construction crosses the Spark-4 Column↔Expression wall the
  * same way every graft expression does (`call_function` over a
  * registered name), with one twist: a Broadcast can't travel through a
  * Column, so [[Fns.bloomContainsBroadcast]] parks the handle in the
  * driver-side [[BloomBroadcasts]] registry and passes a short token
  * literal; the function builder (analysis runs on the driver) swaps the
  * token for the handle, so the built expression never keeps the token
  * as a child. SQL-side callers keep the literal form
  * (`graft_bloom_contains`); this one is API-only by design.
  */
case class BloomMightContainBc(filter: Broadcast[Array[Byte]],
    value: Expression) extends UnaryExpression {

  override def child: Expression = value
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bloom_contains_bc"

  @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(filter.value)

  def probe(v: UTF8String): Boolean = bloom.mightContainBinary(v.getBytes)

  override def nullSafeEval(v: Any): Any =
    probe(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbeBc", this,
      classOf[BloomMightContainBc].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.probe($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(value = newChild)
}

/** Driver-side handoff for [[BloomMightContainBc]]: broadcast handles
  * keyed by a token small enough to ride a string literal through
  * `call_function`. Keyed by broadcast id, so re-registration is
  * idempotent and re-analysis of a cached plan resolves to the same
  * handle.
  *
  * The registry is only needed between Column construction and the
  * plan's analysis (the builder swaps the token for the handle), so it
  * is a BOUNDED FIFO of [[MaxEntries]]: a strong reference held forever
  * would pin every filter's blocks against the ContextCleaner in a
  * long-lived driver. Eviction drops only the registry's reference —
  * built expressions hold the handle directly — letting the cleaner
  * reclaim the blocks once the last plan using the filter is gone. A
  * plan first analyzed after MaxEntries LATER filter builds fails
  * loudly in [[resolve]] rather than probing a missing filter.
  */
object BloomBroadcasts {
  val MaxEntries = 64

  private val reg =
    new java.util.LinkedHashMap[String, Broadcast[Array[Byte]]](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Broadcast[Array[Byte]]]): Boolean =
        size() > MaxEntries
    }

  def register(bc: Broadcast[Array[Byte]]): String = reg.synchronized {
    val token = s"bloom_bc_${bc.id}"
    reg.put(token, bc)
    token
  }

  def resolve(token: String): Broadcast[Array[Byte]] = reg.synchronized {
    val bc = reg.get(token)
    require(bc != null,
      s"no broadcast Bloom filter registered under '$token' — build the " +
        "column via Fns.bloomContainsBroadcast on this driver (tokens are " +
        s"evicted FIFO after $MaxEntries newer registrations)")
    bc
  }
}

/** Registers the native expressions into every session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` — the public
  * extension point (Column↔Expression converters are private[sql] in
  * Spark 4, so `call_function` over registered names is the supported
  * way to place a custom Expression in a DataFrame plan). Registration
  * also makes them first-class SQL functions: `SELECT graft_cosine(a,b)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    // Whole-operator extension (graft.plans.TopK): rewrite filtered
    // row_number windows into the two-phase top-k-per-key operator and
    // teach the planner its physical form.
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {
  private def d(name: String, clazz: Class[_],
      builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    d("graft_dot", classOf[DotProduct], es => DotProduct(es(0), es(1))),
    d("graft_cosine", classOf[CosineSim], es => CosineSim(es(0), es(1))),
    d("graft_l2sq", classOf[L2SqDist], es => L2SqDist(es(0), es(1))),
    d("graft_shingle_hashes", classOf[ShingleHashes],
      es => ShingleHashes(es.head, 3)),
    d("graft_minhash_sig", classOf[MinHashSig], es => MinHashSig(es.head)),
    d("graft_simhash64", classOf[SimHash64], es => SimHash64(es.head)),
    d("graft_simhash_md5", classOf[SimHashMd5], es => SimHashMd5(es.head)),
    d("graft_char_entropy", classOf[CharEntropy],
      es => CharEntropy(es.head)),
    d("graft_damerau", classOf[DamerauLevenshtein],
      es => DamerauLevenshtein(es(0), es(1))),
    d("graft_nfc", classOf[NfcNormalize], es => NfcNormalize(es.head)),
    d("graft_interval_cut", classOf[IntervalCut],
      es => IntervalCut(es(0), es(1))),
    d("graft_ewma", classOf[EwmaFold], { es =>
      // second arg must be a literal alpha (part of the expression)
      require(es(1).foldable, "graft_ewma expects a literal alpha")
      val a = es(1).eval() match {
        case d: java.lang.Double => d.doubleValue()
        case d: java.math.BigDecimal => d.doubleValue()
        case d: Decimal => d.toDouble
        case other => throw new IllegalArgumentException(
          s"graft_ewma: alpha must be numeric, got $other")
      }
      require(a > 0.0 && a <= 1.0, s"graft_ewma: alpha in (0,1], got $a")
      EwmaFold(es.head, a)
    }),
    d("graft_holt", classOf[HoltFold], { es =>
      // alpha and beta must be literals (part of the expression)
      def p(e: Expression, name: String): Double = {
        require(e.foldable, s"graft_holt expects a literal $name")
        val v = e.eval() match {
          case d: java.lang.Double => d.doubleValue()
          case d: java.math.BigDecimal => d.doubleValue()
          case d: Decimal => d.toDouble
          case other => throw new IllegalArgumentException(
            s"graft_holt: $name must be numeric, got $other")
        }
        require(v > 0.0 && v <= 1.0, s"graft_holt: $name in (0,1], got $v")
        v
      }
      HoltFold(es.head, p(es(1), "alpha"), p(es(2), "beta"))
    }),
    d("graft_holt_backtest", classOf[HoltBacktest], { es =>
      def p(e: Expression, name: String): Double = {
        require(e.foldable, s"graft_holt_backtest expects a literal $name")
        val v = e.eval() match {
          case d: java.lang.Double => d.doubleValue()
          case d: java.math.BigDecimal => d.doubleValue()
          case d: Decimal => d.toDouble
          case other => throw new IllegalArgumentException(
            s"graft_holt_backtest: $name must be numeric, got $other")
        }
        require(v > 0.0 && v <= 1.0,
          s"graft_holt_backtest: $name in (0,1], got $v")
        v
      }
      HoltBacktest(es.head, p(es(1), "alpha"), p(es(2), "beta"))
    }),
    d("graft_media_phash", classOf[MediaPHash64], { es =>
      // optional second arg: a literal bucket-grid size (part of the
      // expression, like graft_winnow_min's window)
      if (es.length < 2) MediaPHash64(es.head)
      else {
        require(es(1).foldable,
          "graft_media_phash expects a literal bucket count")
        MediaPHash64(es.head, es(1).eval().asInstanceOf[Int])
      }
    }),
    d("graft_winnow_min", classOf[WinnowedMinima], { es =>
      // second arg must be a foldable int literal (the window size is
      // part of the expression)
      require(es(1).foldable,
        "graft_winnow_min expects a literal window size")
      WinnowedMinima(es.head, es(1).eval().asInstanceOf[Int])
    }),
    d("graft_bpe_encode", classOf[BpeEncode], { es =>
      // second arg must be a literal array<string> of "a b" merge pairs
      // in rank order (the merge table is part of the expression)
      val pairs = es(1) match {
        case e if e.foldable =>
          e.eval().asInstanceOf[ArrayData].toArray[UTF8String](StringType)
            .map(_.toString).toSeq
        case other => throw new IllegalArgumentException(
          s"graft_bpe_encode expects a literal merge array, got $other")
      }
      BpeEncode(es.head, pairs)
    }),
    d("graft_stop_hits", classOf[StopHits], { es =>
      // second arg must be a foldable array<string> literal (the word set
      // is part of the expression, not per-row data)
      val words = es(1) match {
        case e if e.foldable =>
          e.eval().asInstanceOf[ArrayData].toArray[UTF8String](StringType)
            .map(_.toString).toSeq
        case other => throw new IllegalArgumentException(
          s"graft_stop_hits expects a literal word array, got $other")
      }
      StopHits(es.head, words)
    }),
    d("graft_lsh_buckets", classOf[HyperplaneBuckets],
      es => HyperplaneBuckets(es.head)),
    d("graft_lsh_buckets_md5", classOf[Md5HyperplaneBuckets],
      es => Md5HyperplaneBuckets(es.head)),
    d("graft_bloom_contains", classOf[BloomMightContain], { es =>
      // first arg must be a foldable binary literal (the serialized
      // filter rides the plan, not per-row data)
      require(es(0).foldable,
        "graft_bloom_contains expects a literal serialized Bloom filter")
      BloomMightContain(es(0), es(1))
    }),
    d("graft_minhash_sig_md5", classOf[MinHashSigMd5],
      es => MinHashSigMd5(es.head)),
    d("graft_md5_hash32", classOf[Md5Hash32Array],
      es => Md5Hash32Array(es.head)),
    d("graft_pq_assign", classOf[PqAssignCodes], { es =>
      // second arg must be a foldable array<array<array<double>>>
      // literal — the codebook is part of the expression, not row data
      require(es(1).foldable,
        "graft_pq_assign expects a literal codebook array")
      val outer = es(1).eval().asInstanceOf[ArrayData]
      val books = Array.tabulate(outer.numElements()) { s =>
        val mid = outer.getArray(s)
        Array.tabulate(mid.numElements())(c => mid.getArray(c).toDoubleArray())
      }
      PqAssignCodes(es(0), books)
    }),
    d("graft_pq_adc", classOf[PqAdcDist], { es =>
      require(es(1).foldable,
        "graft_pq_adc expects a literal lookup table array")
      val outer = es(1).eval().asInstanceOf[ArrayData]
      val table = Array.tabulate(outer.numElements())(s =>
        outer.getArray(s).toDoubleArray())
      PqAdcDist(es(0), table)
    }),
    d("graft_mat_project", classOf[MatProject], { es =>
      // second arg must be a foldable array<array<double>> literal —
      // the projection matrix is part of the expression, not row data
      require(es(1).foldable,
        "graft_mat_project expects a literal projection matrix")
      val outer = es(1).eval().asInstanceOf[ArrayData]
      val mat = Array.tabulate(outer.numElements())(r =>
        outer.getArray(r).toDoubleArray())
      MatProject(es(0), mat)
    }),
    d("graft_bloom_contains_bc", classOf[BloomMightContainBc], { es =>
      // first arg is a registry token literal, resolved ON THE DRIVER
      // (analysis runs there) and replaced by the broadcast handle —
      // the token never survives into the built expression
      require(es(0).foldable,
        "graft_bloom_contains_bc expects a literal registry token " +
          "(build via Fns.bloomContainsBroadcast)")
      val token = es(0).eval().asInstanceOf[UTF8String].toString
      BloomMightContainBc(BloomBroadcasts.resolve(token), es(1))
    }))
}

object MinHashSigMd5 {
  val K = 16
  val Mod = 2147483647L // 2^31 - 1
  // the q65/q71 mixer schedule: operands bounded so a*h+b stays in
  // signed-64 on any engine (A < 2^30, h < 2^32 -> product < 2^62)
  val mixA: Array[Long] =
    Array.tabulate(K)(i => ((i + 1).toLong * 2654435761L) % 1073741789L)
  val mixB: Array[Long] =
    Array.tabulate(K)(i => ((i + 1).toLong * 2246822519L) % Mod)
}

/** MD5-variant MinHash signature (see graft.llm.Dedup q65/q71): slot s =
  * min over the MD5-derived shingle hashes of (h*A(s)+B(s)) % Mod — all
  * K slots in one compiled pass instead of K interpreted
  * `array_min(transform(...))` HOF layers per row. Exact same Long
  * arithmetic (Java multiply/add/rem), same slot order, so signatures
  * are bit-identical to the HOF form and to the DuckDB oracle's
  * list_min(list_transform(...)). Input must be non-empty (callers
  * filter docs to >= n tokens before shingling; the HOF form returns
  * null slots on empty input, this one must not be reached with it).
  */
case class MinHashSigMd5(child: Expression)
    extends UnaryExpression {
  import MinHashSigMd5._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash_sig_md5"

  def compute(a: ArrayData): ArrayData = {
    val sig = Array.fill(K)(Long.MaxValue)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val h = a.getLong(i)
      var s = 0
      while (s < K) {
        val v = (h * mixA(s) + mixB(s)) % Mod
        if (v < sig(s)) sig(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSigMd5", this, classOf[MinHashSigMd5].getName)
    val ad = classOf[ArrayData].getName
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ($ad) $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-element MD5-derived 32-bit hash of a string array: element i →
  * the first 4 MD5 digest bytes as an unsigned 32-bit value in a long —
  * exactly `conv(substring(md5(s), 1, 8), 16, 10)` (first 8 hex chars
  * == first 4 digest bytes), computed digest-direct instead of
  * hex-string round-tripping inside an interpreted `transform` lambda.
  * The q65/q71/q83 shingle-hash front end; DuckDB reproduces it as
  * CAST('0x' || SUBSTR(MD5(s), 1, 8) AS BIGINT). Null elements hash to
  * null (matching md5(null)); empty input yields an empty array.
  */
case class Md5Hash32Array(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_md5_hash32"

  // one digest per executor thread, not per row: MessageDigest is
  // stateful/non-thread-safe and the expression instance is shared
  // across a stage's tasks. @transient — rebuilt after task serialization
  @transient private lazy val md =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    val m = md.get()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) out(i) = null
      else {
        m.reset()
        val d = m.digest(a.getUTF8String(i).getBytes)
        out(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("md5Hash32", this, classOf[Md5Hash32Array].getName)
    val ad = classOf[ArrayData].getName
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ($ad) $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ code assignment (see graft.llm.Pq): codes(s) = argmin-L2² cell of
  * subspace s over a driver-built codebook (m × k × dsub doubles). One
  * compiled triple loop per row instead of the HOF reference form —
  * `transform(sequence, s -> argmin(transform(cb, aggregate(zip_with))))`
  * — whose every layer is a CodegenFallback lambda interpreter call.
  * Bit-identical to that form: the L2 fold accumulates in ascending
  * dim order, cells scan ascending, and ties keep the FIRST minimum
  * (strict `<`), matching array_position(array_min). Assumes
  * vector length == m * dsub (the trainer enforces it).
  */
case class PqAssignCodes(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_assign"

  @transient private lazy val m = books.length
  @transient private lazy val dsub = books(0)(0).length

  def compute(a: ArrayData): ArrayData = {
    val v = a.toDoubleArray()
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cells = books(s)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cells.length) {
        val cv = cells(c)
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val d = v(s * dsub + i) - cv(i)
          acc += d * d
          i += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAssign", this, classOf[PqAssignCodes].getName)
    val ad = classOf[ArrayData].getName
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ($ad) $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ asymmetric distance: sum over subspaces of the query's
  * precomputed lookup table at each code — table(s)(codes(s)), folded
  * in ascending subspace order (same order as the HOF
  * `aggregate(zip_with(codes, table, element_at))` reference and the
  * oracle's per-(sub,cell) join + SUM).
  */
case class PqAdcDist(child: Expression, table: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_adc"

  def compute(a: ArrayData): Double = {
    var acc = 0.0
    var s = 0
    val n = math.min(a.numElements(), table.length)
    while (s < n) {
      acc += table(s)(a.getInt(s))
      s += 1
    }
    acc
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdcDist].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Dense k × d projection of a vector: out[r] = Σ_i mat(r)(i) · v(i),
  * the inner sum folded in ascending i (bit-identical to the oracle's
  * `list_sum(list_transform(...))` replay and to k DotProduct calls,
  * without re-reading the input array k times through k separate
  * expressions). The matrix rides the plan as a reference object (the
  * PqAssignCodes codebook pattern) — projection matrices are k·d
  * doubles (16 × 64 here), never row data. Used for the
  * Johnson-Lindenstrauss Rademacher projection (see
  * `Similarity.jlMatrix`); any dense linear map (PCA components,
  * learned projections) fits the same expression.
  */
case class MatProject(child: Expression, mat: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_mat_project"

  @transient private lazy val k = mat.length
  @transient private lazy val d = mat(0).length

  def compute(a: ArrayData): ArrayData = {
    val v = a.toDoubleArray()
    require(v.length == d,
      s"graft_mat_project: vector dim ${v.length} != matrix dim $d")
    val out = new Array[Double](k)
    var r = 0
    while (r < k) {
      val row = mat(r)
      var acc = 0.0
      var i = 0
      while (i < d) {
        acc += row(i) * v(i)
        i += 1
      }
      out(r) = acc
      r += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matProject", this, classOf[MatProject].getName)
    val ad = classOf[ArrayData].getName
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ($ad) $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exponentially-weighted moving average over an ORDERED array of
  * doubles: the left fold E_1 = x_1, E_t = alpha * x_t + (1-alpha) *
  * E_{t-1}, returning the final E_n — the linear-recurrence scan
  * (trend/monitoring feature) that plain windows can't express
  * without a per-row self-join. One codegen'd O(n) pass; the fold
  * order is the ARRAY order, and DuckDB's `list_reduce` over the same
  * list with the same lambda performs the bit-identical operation
  * sequence, so q208's oracle matches exactly — no rounding slack
  * needed (the q97/q190 native-parity convention).
  *
  * Contract: input has ≥1 non-null element (a groupBy never emits an
  * empty group); null elements contribute nothing, like the rest of
  * the SQL surface (a null neither moves the average nor resets it);
  * per-key arrays are the bounded-user-stream shape (q43/q150). For
  * unbounded per-key streams the recurrence decomposes per block with
  * an affine carry (E is the 1-value seed of the next block's fold),
  * which `streaming/StreamingTrend` implements: per-user state IS the
  * carry, and because the fold never reassociates, its cross-batch
  * levels are BIT-equal to this expression on the union
  * (StreamingTrendSpec pins the equality).
  */
case class EwmaFold(child: Expression, alpha: Double)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_ewma"

  // compute() reads elements with getDouble; an un-cast array<int>
  // would read garbage bytes — fail at ANALYSIS time instead (the
  // IntervalCut convention; the Fns wrapper casts)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"$prettyName expects array<DOUBLE> — " +
            s"cast the values — got ${t.sql}")
    }

  def compute(a: ArrayData): Double = {
    val n = a.numElements()
    var e = 0.0
    var seen = false
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = a.getDouble(i)
        e = if (seen) alpha * x + (1.0 - alpha) * e else x
        seen = true
      }
      i += 1
    }
    require(seen, "graft_ewma: no non-null elements")
    e
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ewmaFold", this, classOf[EwmaFold].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Holt double-exponential smoothing over an ORDERED array of doubles
  * — EwmaFold's two-state sibling for trending series: the left fold
  *
  *   l_1 = x_1, b_1 = 0;
  *   l_t = alpha·x_t + (1-alpha)·(l_{t-1} + b_{t-1});
  *   b_t = beta·(l_t - l_{t-1}) + (1-beta)·b_{t-1}
  *
  * returning struct<level, trend> after the last element — EWMA lags a
  * trending series by design, Holt's trend state closes the gap, and
  * the h-step forecast is level + h·trend. One codegen'd O(n) pass;
  * (1-alpha)/(1-beta) are computed AT FOLD TIME exactly as a SQL
  * oracle spelling `(1.0 - 0.3)` computes them (NOT pre-folded
  * literals — `1.0-0.3` and the literal `0.7` are different doubles),
  * so a recursive-CTE replay is bit-identical, the q208 convention.
  * Same contract as EwmaFold: ≥1 non-null element, nulls contribute
  * nothing, per-key arrays are the bounded-stream shape; the
  * (level, trend) pair is the affine carry for an unbounded-stream
  * block decomposition.
  */
case class HoltFold(child: Expression, alpha: Double, beta: Double)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("level", DoubleType, nullable = false),
    StructField("trend", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_holt"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"$prettyName expects array<DOUBLE> — " +
            s"cast the values — got ${t.sql}")
    }

  def compute(a: ArrayData): InternalRow = {
    val n = a.numElements()
    var l = 0.0
    var b = 0.0
    var seen = false
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = a.getDouble(i)
        if (!seen) { l = x; b = 0.0; seen = true }
        else {
          val l0 = l
          l = alpha * x + (1.0 - alpha) * (l + b)
          b = beta * (l - l0) + (1.0 - beta) * b
        }
      }
      i += 1
    }
    require(seen, "graft_holt: no non-null elements")
    InternalRow.fromSeq(Seq(l, b))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("holtFold", this, classOf[HoltFold].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Walk-forward one-step Holt backtest over an ordered value array —
  * the EVALUATION half of the trend family (HoltFold forecasts;
  * nothing previously measured whether those forecasts beat the
  * trivial "tomorrow equals today" rule). One pass, same recurrence
  * and `(1.0 - alpha)` spelling as HoltFold so a replayed oracle is
  * bit-identical: BEFORE applying element i (i ≥ 2) it scores the
  * standing one-step forecast l+b against x_i (absolute error) and the
  * naive carry-forward x_{i−1} against x_i, then updates. Returns
  * struct(n_forecasts, sum_abs_err, naive_abs_err) — exact fold sums,
  * division and skill ratios left to the caller (one float block at
  * the end, the q210/q243 discipline). Nulls skip: they neither score
  * nor update, matching HoltFold.
  */
case class HoltBacktest(child: Expression, alpha: Double, beta: Double)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_forecasts", LongType, nullable = false),
    StructField("sum_abs_err", DoubleType, nullable = false),
    StructField("naive_abs_err", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_holt_backtest"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"$prettyName expects array<DOUBLE> — " +
            s"cast the values — got ${t.sql}")
    }

  def compute(a: ArrayData): InternalRow = {
    val n = a.numElements()
    var l = 0.0
    var b = 0.0
    var prev = 0.0
    var seen = false
    var nf = 0L
    var sumErr = 0.0
    var naiveErr = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = a.getDouble(i)
        if (!seen) { l = x; b = 0.0; seen = true }
        else {
          sumErr += math.abs(x - (l + b))
          naiveErr += math.abs(x - prev)
          nf += 1L
          val l0 = l
          l = alpha * x + (1.0 - alpha) * (l + b)
          b = beta * (l - l0) + (1.0 - beta) * b
        }
        prev = x
      }
      i += 1
    }
    require(seen, s"$prettyName: no non-null elements")
    // Seq[Any], NOT Seq(...): mixed Long/Double literals unify to
    // Seq[Double] by numeric widening, silently boxing nf as a Double
    InternalRow.fromSeq(Seq[Any](nf, sumErr, naiveErr))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("holtBacktest", this,
      classOf[HoltBacktest].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level API over the native expressions (requires a session built
  * with GraftExtensions — `graft.core.Session.builder` wires it in).
  */
object Fns {
  private def dbl(a: Column): Column = a.cast("array<double>")

  /** Sequential-fold dot product of two vector columns (cast to
    * array<double> first, so array<float> embeddings widen once). */
  def dotProduct(a: Column, b: Column): Column =
    call_function("graft_dot", dbl(a), dbl(b))

  /** One-pass cosine similarity; bit-identical to
    * dot/(sqrt(dot_aa)*sqrt(dot_bb)) computed as separate folds. */
  def cosineSim(a: Column, b: Column): Column =
    call_function("graft_cosine", dbl(a), dbl(b))

  /** Squared L2 distance, sequential fold — bit-identical to
    * dotProduct(zip_with(a,b,(x,y)=>x-y), same) without the interpreted
    * lambda or the difference array. */
  def l2sqDist(a: Column, b: Column): Column =
    call_function("graft_l2sq", dbl(a), dbl(b))

  /** True Damerau-Levenshtein distance (adjacent transposition = one
    * edit, Lowrance-Wagner) — matches DuckDB's damerau_levenshtein. */
  def damerau(a: Column, b: Column): Column =
    call_function("graft_damerau", a, b)

  /** Unicode NFC normalization (see NfcNormalize) — matches DuckDB's
    * nfc_normalize; compose with lower/regexp_replace for the full
    * canonicalization ladder. */
  def nfc(text: Column): Column = call_function("graft_nfc", text)

  /** Cut 1-based token positions covered by any [mn, mx] interval out of
    * a token array (see IntervalCut): `ivs` must be
    * array<struct<mn:long, mx:long>> sorted ascending by mn. */
  def intervalCut(ts: Column, ivs: Column): Column =
    call_function("graft_interval_cut", ts, ivs)

  /** Final EWMA of an ordered array of values (see EwmaFold):
    * left fold E_t = alpha*x_t + (1-alpha)*E_{t-1}, E_1 = x_1 —
    * bit-identical to DuckDB's list_reduce with the same lambda. */
  def ewma(values: Column, alpha: Double): Column =
    call_function("graft_ewma", dbl(values),
      org.apache.spark.sql.functions.lit(alpha))

  /** Final Holt (level, trend) struct of an ordered array of values
    * (see HoltFold): the double-exponential fold, bit-identical to a
    * recursive-CTE replay with the same `(1.0 - alpha)` spelling. */
  def holt(values: Column, alpha: Double, beta: Double): Column =
    call_function("graft_holt", dbl(values),
      org.apache.spark.sql.functions.lit(alpha),
      org.apache.spark.sql.functions.lit(beta))

  /** Walk-forward one-step Holt backtest (see HoltBacktest): exact
    * error sums struct(n_forecasts, sum_abs_err, naive_abs_err). */
  def holtBacktest(values: Column, alpha: Double, beta: Double): Column =
    call_function("graft_holt_backtest", dbl(values),
      org.apache.spark.sql.functions.lit(alpha),
      org.apache.spark.sql.functions.lit(beta))

  /** Distinct xxhash64 values of 3-gram word shingles of a token array. */
  def shingleHashes(tokens: Column): Column =
    call_function("graft_shingle_hashes", tokens)

  /** MinHash signature (array<long> of MinHashSig.K) over shingle hashes. */
  def minhashSig(hashes: Column): Column =
    call_function("graft_minhash_sig", hashes)

  /** 64-bit SimHash of a token array (multiset-weighted majority vote). */
  def simhash64(tokens: Column): Column =
    call_function("graft_simhash64", tokens)

  /** MD5-variant MinHash signature (array<long> of MinHashSigMd5.K) over
    * MD5-derived shingle hashes — the oracle-checkable q65/q71 slots. */
  def md5MinhashSig(hashes: Column): Column =
    call_function("graft_minhash_sig_md5", hashes)

  /** Per-element first-4-MD5-bytes hash of a string array —
    * conv(substring(md5(s),1,8),16,10) without the hex round trip. */
  def md5Hash32(strings: Column): Column =
    call_function("graft_md5_hash32", strings)

  /** 64-bit SimHash from MD5-derived token hashes (oracle-checkable). */
  def simhashMd5(tokens: Column): Column =
    call_function("graft_simhash_md5", tokens)

  /** Character-level Shannon entropy (nats) of a string column. */
  def charEntropy(text: Column): Column =
    call_function("graft_char_entropy", text)

  /** 64-bucket gradient perceptual hash of a binary media column. */
  def mediaPhash(media: Column): Column =
    call_function("graft_media_phash", media)

  /** Gradient perceptual hash on an explicit bucket grid (2..64) —
    * coarser grids for short payloads such as frame segments. */
  def mediaPhash(media: Column, buckets: Int): Column =
    call_function("graft_media_phash", media,
      org.apache.spark.sql.functions.lit(buckets))

  /** Distinct sliding-window minima of an array<long> (winnowing). */
  def winnowedMinima(hashes: Column, w: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_winnow_min", hashes, lit(w))
  }

  /** BPE-encode a word column against a rank-ordered merge table. */
  def bpeEncode(word: Column, merges: Seq[String]): Column = {
    import org.apache.spark.sql.functions.{array, lit}
    call_function("graft_bpe_encode", word, array(merges.map(lit): _*))
  }

  /** Count of tokens present in the fixed `words` set. */
  def stopHits(tokens: Column, words: Seq[String]): Column = {
    import org.apache.spark.sql.functions.{array, lit}
    call_function("graft_stop_hits", tokens, array(words.map(lit): _*))
  }

  /** PQ code assignment over a driver-built codebook (m × k × dsub). */
  def pqAssign(vec: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    import org.apache.spark.sql.functions.typedlit
    call_function("graft_pq_assign", dbl(vec), typedlit(books))
  }

  /** PQ asymmetric distance of a code array against a query's m × k
    * lookup table. */
  def pqAdcDist(codes: Column, table: Seq[Seq[Double]]): Column = {
    import org.apache.spark.sql.functions.typedlit
    call_function("graft_pq_adc", codes, typedlit(table))
  }

  /** Dense k × d matrix projection of a vector column (one pass over
    * the input array for all k outputs; inner sums fold ascending). */
  def matProject(vec: Column, mat: Seq[Seq[Double]]): Column = {
    import org.apache.spark.sql.functions.typedlit
    call_function("graft_mat_project", dbl(vec), typedlit(mat))
  }

  /** All HyperplaneBuckets.Tables LSH bucket ids for an embedding. */
  def lshBuckets(vec: Column): Column =
    call_function("graft_lsh_buckets", dbl(vec))

  /** MD5-derived LSH bucket ids (engine-agnostic planes — see
    * Md5HyperplaneBuckets; oracle-checkable counterpart of lshBuckets). */
  def md5LshBuckets(vec: Column): Column =
    call_function("graft_lsh_buckets_md5", dbl(vec))

  /** Probe a string column against a BROADCAST serialized Bloom filter
    * (see BloomMightContainBc): tasks carry the handle, not the bytes —
    * the form that scales to a 10⁸-item filter. */
  def bloomContainsBroadcast(filter: Broadcast[Array[Byte]],
      value: Column): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_bloom_contains_bc",
      lit(BloomBroadcasts.register(filter)), value)
  }
}
