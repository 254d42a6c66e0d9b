package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's portable hash family.
  *
  * Why custom expressions (SURVEY §7.3 said "none required" — this is the
  * one measured exception): the polynomial hashes are *expressible* with
  * builtin higher-order functions, but HOFs are CodegenFallback — every
  * per-character lambda invocation walks an interpreted expression tree.
  * Profiling the sf0.1 bench showed the shingle/fingerprint pipelines
  * spending their time in interpreted `UnaryExpression.eval`. These
  * expressions compute the same values in a tight JVM loop with
  * whole-stage-codegen glue (`doGenCode` emits a static call), which is
  * preference order (b) of the builder brief: a native Expression before
  * any UDF.
  *
  * Semantics (shared with the DuckDB oracle and the HOF forms they
  * replace): fold `acc*31 + codepoint mod 1e9+7` over the string's
  * codepoints.
  */
object HashUtil {
  val P = 1000000007L

  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** Trained-classifier weight sum over hashed features (x72):
    * Σᵢ weights[hᵢ mod dim] with dim = weights.length — the scoring
    * inner loop of a hashed linear model whose weight table rides along
    * as a plan literal (the Spark equivalent of broadcasting the model).
    * Hashes are non-negative (31-bit Lehmer range), so % is a true mod.
    * Empty feature array → 0. */
  def hashedWeightSum(arr: ArrayData, w: ArrayData): Long = {
    val dim = w.numElements()
    var acc = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      acc += w.getLong((arr.getLong(i) % dim).toInt)
      i += 1
    }
    acc
  }

  /** Distinct Lehmer-mixed hashes of word bigrams ("w1_w2"), matching
    * split(t, " ") semantics (-1 limit) with unigram fallback for
    * single-word input. One native pass; ≡ the HOF pipeline
    * bigramTokens → polyHash·48271 mod 2³¹−1. */
  def bigramTokenHashes(s: UTF8String): ArrayData = {
    val ws = s.toString.split(" ", -1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    def mixed(tok: String): java.lang.Long = {
      var acc = 0L
      var i = 0
      while (i < tok.length) {
        val cp = tok.codePointAt(i)
        acc = (acc * 31 + cp) % P
        i += Character.charCount(cp)
      }
      acc * 48271L % 2147483647L
    }
    if (ws.length >= 2) {
      var i = 0
      while (i < ws.length - 1) { seen.add(mixed(ws(i) + "_" + ws(i + 1))); i += 1 }
    } else ws.foreach(w => seen.add(mixed(w)))
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var x = 0
    while (it.hasNext) { out(x) = it.next(); x += 1 }
    new GenericArrayData(out)
  }

  /** 16-bit SimHash from an array of token hashes: bit i of the result is
    * set when bit i is set in at least half the hashes. */
  def simhash16(hs: ArrayData): Long = {
    val n = hs.numElements()
    val sums = new Array[Int](16)
    var idx = 0
    while (idx < n) {
      val h = hs.getLong(idx)
      var i = 0
      while (i < 16) {
        sums(i) += (if (((h >> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      idx += 1
    }
    var fp = 0L
    var i = 0
    while (i < 16) { if (sums(i) >= 0) fp |= (1L << i); i += 1 }
    fp
  }

  /** Lehmer multipliers deriving the four 16-bit bands of the 64-bit
    * SimHash (band 0 reuses the already-mixed token hash; the others are
    * classic MINSTD/L'Ecuyer constants). Public-domain constants. */
  val simhashBandMults: Array[Long] = Array(1L, 16807L, 69621L, 40692L)

  /** 64-bit SimHash as 4 × 16-bit bands (Manku-style Hamming-LSH): band
    * b's per-token hash is h·mult_b mod 2³¹−1; bit i of band b is set
    * when the majority of those derived hashes have bit i set. Emitting
    * the bands (not one packed long) keeps every value positive —
    * portable to engines whose BIGINT shifts differ on the sign bit —
    * and makes the band the direct LSH join key. */
  def simhash64Bands(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    val sums = new Array[Int](64)
    var idx = 0
    while (idx < n) {
      val h = hs.getLong(idx)
      var b = 0
      while (b < 4) {
        val hb = h * simhashBandMults(b) % 2147483647L
        var i = 0
        while (i < 16) {
          sums(b * 16 + i) += (if (((hb >> i) & 1L) == 1L) 1 else -1)
          i += 1
        }
        b += 1
      }
      idx += 1
    }
    val out = new Array[Long](4)
    var b = 0
    while (b < 4) {
      var v = 0L
      var i = 0
      while (i < 16) { if (sums(b * 16 + i) >= 0) v |= (1L << i); i += 1 }
      out(b) = v
      b += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass MinHash signature over shingle hashes via the affine
    * family g_h(x) = (x·A_h + 12345·h) mod P with A_h = 48271^(h+1)
    * mod P (Lehmer powers) — the h-th output is min over the input of
    * g_h. The multipliers MUST be large and well-mixed: the earlier
    * (2h+1) family was magnitude-preserving, so one COMMON shingle
    * whose base hash happened to be tiny won the min for EVERY h,
    * collapsing whole signatures onto one value and turning each LSH
    * band into a quadratic hot bucket (found by the sf1 tier: one
    * replica's candidate pairs read 87× another's on identically
    * distributed text). A single tight loop touches each input element
    * once for all hashes (the HOF form walks an interpreted expression
    * tree per element PER HASH — nHashes× the work, ~100× the per-step
    * cost). */
  def minhashSig(hs: ArrayData, nHashes: Int): ArrayData = {
    val n = hs.numElements()
    val as = new Array[Long](nHashes)
    var a = 1L
    var k = 0
    while (k < nHashes) { a = a * 48271L % P; as(k) = a; k += 1 }
    val out = Array.fill(nHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = hs.getLong(i)
      var h = 0
      while (h < nHashes) {
        val v = (x * as(h) + 12345L * h) % P
        if (v < out(h)) out(h) = v
        h += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Non-overlapping left-to-right occurrence count of a literal marker
    * — ≡ (len(s) − len(replace_all(s, marker, ''))) / len(marker), the
    * portable SQL formulation the oracle uses, without materializing the
    * replaced string or involving the regex engine. */
  def countOccurrences(s: UTF8String, marker: UTF8String): Long = {
    val mLen = marker.numChars()
    if (mLen == 0) return 0L
    var count = 0L
    var idx = s.indexOf(marker, 0)
    while (idx >= 0) { count += 1; idx = s.indexOf(marker, idx + mLen) }
    count
  }

  /** Winnowing fingerprint selection (Schleimer/MOSS local algorithm):
    * positional k-shingle hashes (NOT deduped — positions matter), then
    * the minimum of every w-hash sliding window; the fingerprint is the
    * distinct selected values, returned sorted ascending. Guarantees any
    * shared substring of ≥ w+k−1 chars contributes a common selected
    * hash — the partial-overlap detector whole-document MinHash lacks.
    * Only selected VALUES are emitted (no positions), so min-tie
    * handling cannot affect the result and any engine reproduces it.
    * Empty input yields an EMPTY fingerprint (no text shares nothing) —
    * the one case where the sub-k clamp would otherwise manufacture a
    * hash-of-nothing that engines disagree on (an acc-stays-0 value
    * here vs a fold over ord('') = -1 in the SQL formulation). */
  def winnowHashes(s: UTF8String, k: Int, w: Int): ArrayData = {
    val cps = s.toString.codePoints.toArray
    if (cps.length == 0) return new GenericArrayData(Array.emptyLongArray)
    val n = math.max(cps.length - k + 1, 1)
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      var acc = 0L
      var j = i
      val end = math.min(i + k, cps.length)
      while (j < end) { acc = (acc * 31 + cps(j)) % P; j += 1 }
      hs(i) = acc
      i += 1
    }
    val nw = math.max(n - w + 1, 1)
    val sel = new java.util.TreeSet[java.lang.Long]()
    var t = 0
    while (t < nw) {
      var m = Long.MaxValue
      var u = t
      val end = math.min(t + w, n)
      while (u < end) { if (hs(u) < m) m = hs(u); u += 1 }
      sel.add(m)
      t += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var x = 0
    while (it.hasNext) { out(x) = it.next(); x += 1 }
    new GenericArrayData(out)
  }

  /** Distinct rolling k-shingle hashes over codepoints; one whole-string
    * hash when shorter than k. First-occurrence order (= array_distinct). */
  def shingleHashes(s: UTF8String, k: Int): ArrayData = {
    val cps = s.toString.codePoints.toArray
    val n = math.max(cps.length - k + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < n) {
      var acc = 0L
      var j = i
      val end = math.min(i + k, cps.length)
      while (j < end) { acc = (acc * 31 + cps(j)) % P; j += 1 }
      seen.add(acc)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var x = 0
    while (it.hasNext) { out(x) = it.next(); x += 1 }
    new GenericArrayData(out)
  }

  /** Exact per-codepoint histogram → (count, distinct, Shannon entropy)
    * in one pass per row. The entropy terms −p·ln p are folded in
    * CODE-POINT order (TreeMap iteration), left-associative from 0.0 —
    * bit-identical to the oracle's `list_reduce(list(t ORDER BY ch))`,
    * whose seed-with-first-element fold agrees because 0.0 + t1 ≡ t1.
    * Replaces a per-character explode + two shuffles with zero
    * shuffles: at corpus scale the exploded (doc, char) stream is a
    * ~mean-doc-length× row amplification through an exchange. */
  def charEntropyStats(s: UTF8String): InternalRow = {
    val str = s.toString
    val m = new java.util.TreeMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val slot = m.get(cp)
      if (slot == null) m.put(cp, Array(1L)) else slot(0) += 1L
      n += 1
      i += Character.charCount(cp)
    }
    var h = 0.0
    val it2 = m.values().iterator()
    while (it2.hasNext) {
      val c = it2.next()(0)
      val p = c.toDouble / n.toDouble
      h += -(p * java.lang.Math.log(p))
    }
    new GenericInternalRow(Array[Any](n, m.size.toLong, h))
  }

  /** LZ78 incremental-parse phrase count (Lempel–Ziv complexity at the
    * LZ78 grain): scan left to right, growing the current phrase while
    * (phrase + next char) is already in the dictionary; on a miss, add
    * it, count a phrase, reset. A trailing in-dictionary remainder
    * counts as one final phrase. Empty string → 0. Codepoint grain
    * (≡ the oracle's per-character substr fold). Purely integer/set
    * state — any engine replays the parse identically. */
  def lz78Phrases(s: UTF8String): Long = {
    val str = s.toString
    val dict = new java.util.HashSet[String]()
    val sb = new java.lang.StringBuilder
    var count = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      sb.appendCodePoint(cp)
      val cand = sb.toString
      if (!dict.contains(cand)) {
        dict.add(cand)
        count += 1
        sb.setLength(0)
      }
      i += Character.charCount(cp)
    }
    if (sb.length > 0) count += 1
    count
  }
}

/** lz78_phrases(str): LONG — LZ78 incremental-parse phrase count (the
  * Lempel–Ziv complexity signal: degenerate repetition parses into few
  * long phrases → low count per char; incompressible gibberish parses
  * into many short ones → count near the n/log n ceiling. A
  * dictionary-compressibility quality signal the entropy (x42) and
  * dup-n-gram (x29) proxies don't subsume: entropy is blind to ORDER —
  * "abababab" and a random shuffle of the same chars have identical
  * entropy but very different parse counts). One native pass per row,
  * zero shuffles. */
case class Lz78Phrases(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"lz78_phrases requires STRING, got ${child.dataType.catalogString}")
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.lz78Phrases(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HashUtil.lz78Phrases($c);")
  override protected def withNewChildInternal(newChild: Expression): Lz78Phrases =
    copy(child = newChild)
  override def prettyName: String = "lz78_phrases"
}

/** poly_hash(str): LONG — codegen'd rolling polynomial string hash. */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"poly_hash requires STRING, got ${child.dataType.catalogString}")
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.polyHash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.plans.HashUtil.polyHash($c);")
  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
  override def prettyName: String = "poly_hash"
}

/** bigram_token_hashes(str): ARRAY<LONG> — distinct Lehmer-mixed word
  * bigram hashes in one native loop per row. */
case class BigramTokenHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bigram_token_hashes requires STRING, got ${child.dataType.catalogString}")
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.bigramTokenHashes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HashUtil.bigramTokenHashes($c);")
  override protected def withNewChildInternal(newChild: Expression): BigramTokenHashes =
    copy(child = newChild)
  override def prettyName: String = "bigram_token_hashes"
}

/** simhash16(array<long>): LONG — 16-bit SimHash of token hashes. */
case class SimHash16(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash16 requires ARRAY<BIGINT>, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.simhash16(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.plans.HashUtil.simhash16($c);")
  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
  override def prettyName: String = "simhash16"
}

/** simhash64_bands(array<long>): ARRAY<LONG>[4] — 64-bit SimHash as four
  * 16-bit band values (the Hamming-LSH join keys). */
case class SimHash64Bands(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash64_bands requires ARRAY<BIGINT>, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.simhash64Bands(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.plans.HashUtil.simhash64Bands($c);")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Bands =
    copy(child = newChild)
  override def prettyName: String = "simhash64_bands"
}

/** minhash_sig(array<long>, nHashes): ARRAY<LONG> — affine-family
  * MinHash signature in one native pass over the shingle hashes. Input
  * must be non-empty (shingle_hashes always emits ≥ 1 element); an empty
  * input yields a null signature. */
case class MinHashSig(child: Expression, nHashes: Int) extends UnaryExpression {
  require(nHashes > 0, "signature length must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires ARRAY<BIGINT>, got ${other.catalogString}")
  }
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() == 0) null else HashUtil.minhashSig(a, nHashes)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numElements() == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.plans.HashUtil.minhashSig($c, $nHashes); }
         |""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** count_occurrences(str, marker): LONG — non-overlapping literal
  * occurrence count in one native scan (no regex, no rebuilt string). */
case class CountOccurrences(child: Expression, marker: String) extends UnaryExpression {
  require(marker.nonEmpty, "marker must be non-empty")
  private val m = UTF8String.fromString(marker)
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"count_occurrences requires STRING, got ${child.dataType.catalogString}")
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.countOccurrences(input.asInstanceOf[UTF8String], m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("marker", m)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HashUtil.countOccurrences($c, $mRef);")
  }
  override protected def withNewChildInternal(newChild: Expression): CountOccurrences =
    copy(child = newChild)
  override def prettyName: String = "count_occurrences"
}

/** winnow_hashes(str, k, w): ARRAY<LONG> — winnowing fingerprint
  * (distinct sliding-window minima of positional k-shingle hashes,
  * sorted ascending) in one native pass per row. */
case class WinnowHashes(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k > 0 && w > 0, "shingle length and window must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"winnow_hashes requires STRING, got ${child.dataType.catalogString}")
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.winnowHashes(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HashUtil.winnowHashes($c, $k, $w);")
  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
  override def prettyName: String = "winnow_hashes"
}

/** shingle_hashes(str, k): ARRAY<LONG> — distinct rolling k-shingle
  * hashes computed in one native loop per row. */
/** hashed_weight_sum(feats array<bigint>, weights array<bigint>): BIGINT
  * — trained hashed-linear-classifier margin, Σᵢ weights[hᵢ mod
  * len(weights)], in one native loop. The weights argument is the MODEL
  * (a dense bucket→weight table, normally a plan Literal built from a
  * trained artifact — model-sized, never corpus-sized); passing it as an
  * expression keeps the scoring projection inside whole-stage codegen,
  * where the `aggregate` HOF form would be CodegenFallback. Empty
  * feature array → 0; feature hashes must be non-negative (the 31-bit
  * Lehmer range [[BigramTokenHashes]] emits). */
case class HashedWeightSum(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private def isLongArray(t: DataType) = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hashed_weight_sum requires (ARRAY<BIGINT>, ARRAY<BIGINT>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override protected def nullSafeEval(feats: Any, weights: Any): Any =
    HashUtil.hashedWeightSum(feats.asInstanceOf[ArrayData],
      weights.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (f, w) =>
      s"${ev.value} = graft.plans.HashUtil.hashedWeightSum($f, $w);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HashedWeightSum =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "hashed_weight_sum"
}

case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, "shingle length must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires STRING, got ${child.dataType.catalogString}")
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.shingleHashes(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HashUtil.shingleHashes($c, $k);")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
  override def prettyName: String = "shingle_hashes"
}

/** char_entropy_stats(str): STRUCT<n_chars_norm, n_distinct_chars,
  * entropy> — exact codepoint histogram + code-point-ordered entropy
  * fold in one native pass, zero shuffles (vs the explode + two hash
  * aggregations it replaced). */
case class CharEntropyStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = CharEntropyStats.schema
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"char_entropy_stats requires STRING, got ${child.dataType.catalogString}")
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.charEntropyStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HashUtil.charEntropyStats($c);")
  override protected def withNewChildInternal(newChild: Expression): CharEntropyStats =
    copy(child = newChild)
  override def prettyName: String = "char_entropy_stats"
}

object CharEntropyStats {
  val schema: StructType = StructType(Seq(
    StructField("n_chars_norm", LongType, nullable = false),
    StructField("n_distinct_chars", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))
}
