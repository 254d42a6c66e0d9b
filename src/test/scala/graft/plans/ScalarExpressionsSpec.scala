package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Edge values of five scalar native expressions, driven through the
  * Column API (the one entry to them): mmr_select's greedy picks,
  * nfc_normalize's composition and type check, char_entropy_stats
  * against its explode+fold formulation, sam_longest_match's runs and
  * misses, and winnow_hashes on empty and sub-k text. */
class ScalarExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("mmr_select picks the most relevant first, then scores the orthogonal one") {
    val cands = array(
      struct(lit(1L), lit(0.9), array(lit(1.0f), lit(0.0f))),
      struct(lit(2L), lit(0.8), array(lit(0.0f), lit(1.0f))))
    val got = spark.range(1)
      .select(functions.mmr_select(cands, 2, 0.5))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(got.map(_.getLong(0)) === Seq(1L, 2L))
    // orthogonal second pick: score = .5*.8 - .5*0
    assert(got(1).getDouble(1) === 0.4)
  }

  test("nfc_normalize composes, keeps nulls, is identity on NFC text and rejects non-strings") {
    val r = Seq(("cafe\u0301", "plain ascii")).toDF("dec", "asc")
      .select(functions.nfc_normalize(col("dec")),
        functions.nfc_normalize(col("asc")),
        functions.nfc_normalize(lit(null).cast("string")))
      .head()
    assert(r.getString(0) === "caf\u00e9", "e + combining acute composes")
    assert(r.getString(1) === "plain ascii")
    assert(r.isNullAt(2))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(functions.nfc_normalize(lit(42))).head())
    assert(e.getMessage.contains("nfc_normalize"))
  }

  test("char_entropy_stats matches the explode+fold formulation, counts codepoints not UTF-16 units") {
    val docs = Seq((1L, "aabbbb"), (2L, "abcdef"), (3L, "zzzzzz"),
      (4L, "naïve café"), (5L, "emoji 😀 pair"))
      .toDF("doc_id", "t")
    // reference formulation: one row per codepoint (substring is
    // codepoint-based), two aggregations, code-point-ordered fold —
    // exactly the plan the native expression replaced
    val chars = docs
      .select(col("doc_id"), explode(sequence(lit(1), length(col("t")))).as("_i"),
        col("t"))
      .select(col("doc_id"), substring(col("t"), col("_i"), lit(1)).as("ch"))
    val counts = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("_c"))
    val totals = counts.groupBy("doc_id")
      .agg(sum(col("_c")).as("n"), count(lit(1)).as("d"))
    val p = col("_c").cast("double") / col("n").cast("double")
    val ref = counts.join(totals, "doc_id")
      .select(col("doc_id"), col("n"), col("d"), col("ch"), (-(p * log(p))).as("_t"))
      .groupBy("doc_id", "n", "d")
      .agg(aggregate(transform(array_sort(collect_list(struct(col("ch"), col("_t")))),
        _.getField("_t")), lit(0.0), (a, x) => a + x).as("h"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val got = docs.select(col("doc_id"),
        functions.char_entropy_stats(col("t")).as("s"))
      .select(col("doc_id"), col("s.n_chars_norm"), col("s.n_distinct_chars"),
        col("s.entropy"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === ref)
    assert(got(3L) === ((6L, 1L, 0.0)))       // one repeated char: H = 0
    // the emoji doc: length() counts the surrogate PAIR as one codepoint
    // and so must the native histogram
    assert(got(5L)._1 === 12L)
    assert(spark.range(1)
      .select(functions.char_entropy_stats(lit("")).getField("n_chars_norm"))
      .head().getLong(0) === 0L)
  }

  test("sam_longest_match: longest shared token run, zero on no overlap, null on null text") {
    val bench = Seq(Seq("q", "a", "b", "c", "d"), Seq("z", "z"))
    val got = Seq(Some("x a b c y"), Some("u v"), None).toDF("t")
      .select(functions.sam_longest_match(col("t"), bench))
      .collect()
    assert(got(0).getLong(0) === 3L)
    assert(got(1).getLong(0) === 0L)
    assert(got(2).isNullAt(0))
  }

  test("winnow_hashes on empty input yields an empty fingerprint (engine-agreed)") {
    val rows = Seq("", "ab").toDF("t")
      .select(functions.winnow_hashes(col("t"), 20, 8))
      .collect()
    // empty text shares nothing — no manufactured hash-of-nothing that
    // SQL engines would fold differently (ord('') divergence)
    assert(rows(0).getSeq[Long](0) === Seq.empty[Long])
    // sub-k but non-empty text still emits its single clamped shingle
    assert(rows(1).getSeq[Long](0).length === 1)
  }
}
