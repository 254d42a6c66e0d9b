package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers every native expression
  * as a SQL function so `spark.sql("SELECT poly_hash(text)")` works.
  * Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`, or
  * on an already-built session via `GraftBridge.registerFunctions`.
  * The DataFrame API does not need this — graft wraps the expressions
  * directly (see graft.plans.functions). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.sqlFunctions.foreach(ext.injectFunction)
}

object GraftExtensions {
  import org.apache.spark.sql.AnalysisException

  /** Analysis-time rejection of a non-foldable parameter: the builders
    * below eval() their constant arguments during resolution, so a
    * column reference here would otherwise surface as an unbound-
    * attribute internal error instead of a named, user-facing one. */
  private def requireFoldable(fnName: String, param: String, tpe: String,
                              e: Expression): Unit =
    if (!e.foldable)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> s"`$fnName`", "paramName" -> s"`$param`",
        "paramType" -> s""""$tpe""""))

  private def badArg(fnName: String, param: String, want: String): Nothing =
    throw new AnalysisException("USER_RAISED_EXCEPTION", Map(
      "errorMessage" -> s"$fnName: parameter '$param' must be $want"))

  /** Fold a constant argument (bits/seed/k parameters) to an Int. */
  private def intArg(fnName: String, param: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other =>
      requireFoldable(fnName, param, "INT", other)
      other.eval() match {
        case n: Number => n.intValue()
        case _ => badArg(fnName, param, "a non-null integer literal")
      }
  }

  /** Fold a constant argument to a Boolean (the book_side_stats side
    * flag). */
  private def boolArg(fnName: String, param: String, e: Expression): Boolean = {
    requireFoldable(fnName, param, "BOOLEAN", e)
    e.eval() match {
      case b: java.lang.Boolean => b.booleanValue()
      case _ => badArg(fnName, param, "a non-null boolean literal")
    }
  }

  /** Fold a constant argument (lambda/threshold parameters) to a Double.
    * A bare SQL literal like `0.5` arrives as Decimal (not a
    * java.lang.Number), so both shapes are accepted. */
  private def doubleArg(fnName: String, param: String, e: Expression): Double = {
    requireFoldable(fnName, param, "DOUBLE", e)
    e.eval() match {
      case n: Number => n.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case _ => badArg(fnName, param, "a non-null numeric literal")
    }
  }

  /** Fold a constant argument to a non-empty String (analysis-time
    * AnalysisException on column refs, nulls, non-strings, and empty
    * markers — not a raw runtime require/ClassCastException). */
  private def stringArg(fnName: String, param: String, e: Expression): String = {
    requireFoldable(fnName, param, "STRING", e)
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String if s.numChars() > 0 =>
        s.toString
      case _ => badArg(fnName, param, "a non-empty string literal")
    }
  }

  /** Fold a constant argument to a sequence of non-null strings (the
    * blocklist parameter shape: the automaton is built at plan time, so
    * the pattern set must be a literal). */
  private def stringSeqArg(fnName: String, param: String,
                           e: Expression): Seq[String] = {
    requireFoldable(fnName, param, "ARRAY<STRING>", e)
    e.eval() match {
      case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until arr.numElements()).map { i =>
          if (arr.isNullAt(i))
            badArg(fnName, param, "an array of non-null string literals")
          arr.getUTF8String(i).toString
        }
      case _ => badArg(fnName, param, "a string-array literal")
    }
  }

  /** Fold a constant argument to a byte array (the serialized-sketch
    * parameter shape — e.g. a Bloom filter riding the plan). */
  private def binaryArg(fnName: String, param: String,
                        e: Expression): Array[Byte] = {
    requireFoldable(fnName, param, "BINARY", e)
    e.eval() match {
      case b: Array[Byte] if b.nonEmpty => b
      case _ => badArg(fnName, param, "a non-empty binary literal")
    }
  }

  private def fn(name: String, cls: Class[_], arity: Int, usage: String)(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity, usage)
        build(args)
      })

  /** The full SQL-function surface (one row per native expression). */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("poly_hash", classOf[PolyHash], 1, "poly_hash(str)")(
      a => PolyHash(a.head)),
    fn("shingle_hashes", classOf[ShingleHashes], 2, "shingle_hashes(str, k)")(
      a => ShingleHashes(a.head, intArg("shingle_hashes", "k", a(1)))),
    fn("count_occurrences", classOf[CountOccurrences], 2, "count_occurrences(str, marker)")(
      a => CountOccurrences(a.head,
        stringArg("count_occurrences", "marker", a(1)))),
    fn("winnow_hashes", classOf[WinnowHashes], 3, "winnow_hashes(str, k, w)")(
      a => WinnowHashes(a.head, intArg("winnow_hashes", "k", a(1)),
        intArg("winnow_hashes", "w", a(2)))),
    fn("minhash_sig", classOf[MinHashSig], 2, "minhash_sig(array<bigint>, nHashes)")(
      a => MinHashSig(a.head, intArg("minhash_sig", "nHashes", a(1)))),
    fn("bigram_token_hashes", classOf[BigramTokenHashes], 1, "bigram_token_hashes(str)")(
      a => BigramTokenHashes(a.head)),
    fn("hashed_weight_sum", classOf[HashedWeightSum], 2, "hashed_weight_sum(array<bigint>, array<bigint>)")(
      a => HashedWeightSum(a.head, a(1))),
    fn("simhash16", classOf[SimHash16], 1, "simhash16(array<bigint>)")(
      a => SimHash16(a.head)),
    fn("simhash64_bands", classOf[SimHash64Bands], 1, "simhash64_bands(array<bigint>)")(
      a => SimHash64Bands(a.head)),
    fn("dot_fold", classOf[DotFold], 2, "dot_fold(array<float>, array<float>)")(
      a => DotFold(a(0), a(1))),
    fn("sqnorm_fold", classOf[SqNormFold], 1, "sqnorm_fold(array<float>)")(
      a => SqNormFold(a.head)),
    fn("sign_bucket_rh", classOf[SignBucketRH], 3, "sign_bucket_rh(array<float>, bits, seed)")(
      a => SignBucketRH(a.head, intArg("sign_bucket_rh", "bits", a(1)),
        intArg("sign_bucket_rh", "seed", a(2)))),
    fn("char_entropy_stats", classOf[CharEntropyStats], 1, "char_entropy_stats(str)")(
      a => CharEntropyStats(a.head)),
    fn("book_side_stats", classOf[BookSideStats], 2,
      "book_side_stats(array<struct<price_c,size_c>>, is_bid)")(
      a => BookSideStats(a.head, boolArg("book_side_stats", "is_bid", a(1)))),
    fn("nfc_normalize", classOf[NfcNormalize], 1, "nfc_normalize(str)")(
      a => NfcNormalize(a.head)),
    fn("mmr_select", classOf[MmrSelect], 3, "mmr_select(array<struct>, k, lam)")(
      a => MmrSelect(a.head, intArg("mmr_select", "k", a(1)),
        doubleArg("mmr_select", "lam", a(2)))),
    fn("misra_gries", classOf[MisraGriesAgg], 2, "misra_gries(item, k)")(
      a => MisraGriesAgg(a.head, intArg("misra_gries", "k", a(1)))),
    fn("lz78_phrases", classOf[Lz78Phrases], 1, "lz78_phrases(str)")(
      a => Lz78Phrases(a.head)),
    fn("kmv_sketch", classOf[KmvSketchAgg], 2, "kmv_sketch(hash, k)")(
      a => KmvSketchAgg(a.head, intArg("kmv_sketch", "k", a(1)))),
    fn("cms_sketch", classOf[CmsSketchAgg], 3, "cms_sketch(hash, depth, width)")(
      a => CmsSketchAgg(a.head, intArg("cms_sketch", "depth", a(1)),
        intArg("cms_sketch", "width", a(2)))),
    fn("gram_matrix", classOf[GramMatrixAgg], 2, "gram_matrix(array<bigint>, dim)")(
      a => GramMatrixAgg(a.head, intArg("gram_matrix", "dim", a(1)))),
    fn("ac_match_counts", classOf[AcMatchCounts], 2, "ac_match_counts(str, array<string>)")(
      a => AcMatchCounts(a.head, stringSeqArg("ac_match_counts", "patterns", a(1)))),
    fn("bloom_might_contain", classOf[BloomMightContain], 2, "bloom_might_contain(bigint, binary)")(
      a => BloomMightContain(a.head, binaryArg("bloom_might_contain", "bloom", a(1)))),
    // each array element is ONE benchmark document's pre-normalized text
    // (space-separated tokens) — tokenized here, automaton built at
    // resolution time like the DataFrame surface
    fn("sam_longest_match", classOf[SamLongestMatch], 2,
      "sam_longest_match(str, array<string> bench_docs)")(
      a => SamLongestMatch(a.head,
        stringSeqArg("sam_longest_match", "bench_docs", a(1))
          .map(_.split(" ").toSeq.filter(_.nonEmpty)))))
}

/** DataFrame-API wrappers for the native expressions. */
object functions {
  import org.apache.spark.sql.{Column, GraftBridge}

  def poly_hash(c: Column): Column =
    GraftBridge.column(PolyHash(GraftBridge.expression(c)))

  def shingle_hashes(c: Column, k: Int): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(c), k))

  def count_occurrences(c: Column, marker: String): Column =
    GraftBridge.column(CountOccurrences(GraftBridge.expression(c), marker))

  def winnow_hashes(c: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowHashes(GraftBridge.expression(c), k, w))

  def minhash_sig(c: Column, nHashes: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(c), nHashes))

  def bigram_token_hashes(c: Column): Column =
    GraftBridge.column(BigramTokenHashes(GraftBridge.expression(c)))

  def hashed_weight_sum(feats: Column, weights: Column): Column =
    GraftBridge.column(HashedWeightSum(GraftBridge.expression(feats),
      GraftBridge.expression(weights)))

  def simhash16(c: Column): Column =
    GraftBridge.column(SimHash16(GraftBridge.expression(c)))

  def simhash64_bands(c: Column): Column =
    GraftBridge.column(SimHash64Bands(GraftBridge.expression(c)))

  def sign_bucket_rh(c: Column, bits: Int, seed: Int): Column =
    GraftBridge.column(SignBucketRH(GraftBridge.expression(c), bits, seed))

  def dot_fold(a: Column, b: Column): Column =
    GraftBridge.column(DotFold(GraftBridge.expression(a), GraftBridge.expression(b)))

  def sqnorm_fold(a: Column): Column =
    GraftBridge.column(SqNormFold(GraftBridge.expression(a)))

  def char_entropy_stats(c: Column): Column =
    GraftBridge.column(CharEntropyStats(GraftBridge.expression(c)))

  def book_side_stats(c: Column, isBid: Boolean): Column =
    GraftBridge.column(BookSideStats(GraftBridge.expression(c), isBid))

  def nfc_normalize(c: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(c)))

  def mmr_select(c: Column, k: Int, lam: Double): Column =
    GraftBridge.column(MmrSelect(GraftBridge.expression(c), k, lam))

  def misra_gries(item: Column, k: Int): Column =
    GraftBridge.column(
      MisraGriesAgg(GraftBridge.expression(item), k).toAggregateExpression())

  /** collect_list with a hard buffer bound — see
    * [[graft.plans.CappedCollectList]]. Not on the SQL surface: the
    * bucket-cap idiom (limit = cap + 1, over-cap groups dropped by a
    * size filter) is internal to the dedup pair generators. */
  def capped_collect(c: Column, limit: Int): Column =
    GraftBridge.column(
      CappedCollectList(GraftBridge.expression(c), limit).toAggregateExpression())

  def lz78_phrases(c: Column): Column =
    GraftBridge.column(Lz78Phrases(GraftBridge.expression(c)))

  def kmv_sketch(hash: Column, k: Int): Column =
    GraftBridge.column(
      KmvSketchAgg(GraftBridge.expression(hash), k).toAggregateExpression())

  def cms_sketch(hash: Column, depth: Int, width: Int): Column =
    GraftBridge.column(
      CmsSketchAgg(GraftBridge.expression(hash), depth, width)
        .toAggregateExpression())

  def gram_matrix(qvec: Column, dim: Int): Column =
    GraftBridge.column(
      GramMatrixAgg(GraftBridge.expression(qvec), dim).toAggregateExpression())

  def ac_match_counts(text: Column, patterns: Seq[String]): Column =
    GraftBridge.column(AcMatchCounts(GraftBridge.expression(text), patterns))

  def sam_longest_match(text: Column, benchTokenSeqs: Seq[Seq[String]]): Column =
    GraftBridge.column(
      SamLongestMatch(GraftBridge.expression(text), benchTokenSeqs))

  def bloom_might_contain(key: Column,
                          bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    GraftBridge.column(
      BloomMightContain(GraftBridge.expression(key), bos.toByteArray))
  }
}
