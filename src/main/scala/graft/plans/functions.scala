package graft.plans

/** DataFrame-API wrappers for the native expressions: the one way a
  * query reaches them. Constant parameters are typed Scala values, so
  * each is fixed when the plan is built. */
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
    * [[graft.plans.CappedCollectList]]. The bucket-cap idiom (limit =
    * cap + 1, over-cap groups dropped by a size filter) is internal to
    * the dedup pair generators. */
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
