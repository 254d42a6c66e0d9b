package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** The SQL surface of every native expression: runtime registration via
  * GraftBridge.registerFunctions (what GraftExtensions does at session
  * build), then each function through spark.sql, cross-checked against
  * the Column API on the same inputs. */
class SqlFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("mmr_select is callable from SQL; analysis-time errors on bad k/lam") {
    GraftBridge.registerFunctions(spark)
    val sql = spark.sql(
      """SELECT mmr_select(array(
        |  struct(CAST(1 AS BIGINT), CAST(0.9 AS DOUBLE), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))),
        |  struct(CAST(2 AS BIGINT), CAST(0.8 AS DOUBLE), array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)))),
        |  2, 0.5) AS s""".stripMargin).head().getSeq[org.apache.spark.sql.Row](0)
    assert(sql.map(_.getLong(0)) === Seq(1L, 2L))
    // orthogonal second pick: score = .5*.8 - .5*0
    assert(sql(1).getDouble(1) === 0.4)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT mmr_select(array(), CAST(NULL AS INT), 0.5)").head())
    assert(e.getMessage.contains("mmr_select"))
  }

  test("nfc_normalize composes from SQL, matches the Column API, and is identity on NFC text") {
    GraftBridge.registerFunctions(spark)
    Seq(("cafe\u0301", "plain ascii")).toDF("dec", "asc")
      .createOrReplaceTempView("nfcfix")
    val r = spark.sql(
      "SELECT nfc_normalize(dec), nfc_normalize(asc), nfc_normalize(CAST(NULL AS STRING)) FROM nfcfix"
    ).head()
    assert(r.getString(0) === "caf\u00e9", "e + combining acute composes")
    assert(r.getString(1) === "plain ascii")
    assert(r.isNullAt(2))
    val api = spark.table("nfcfix")
      .select(functions.nfc_normalize(col("dec"))).head().getString(0)
    assert(api === r.getString(0))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT nfc_normalize(42)").head())
    assert(e.getMessage.contains("nfc_normalize"))
  }

  test("all 9 native expressions are callable from SQL and match the Column API") {
    GraftBridge.registerFunctions(spark)
    Seq(("hello world of spark", Seq(0.5f, -0.25f, 0.125f, 1.0f)))
      .toDF("t", "v").createOrReplaceTempView("sqlfns")
    val sql = spark.sql(
      """SELECT poly_hash(t), shingle_hashes(t, 7), bigram_token_hashes(t),
        |       simhash16(bigram_token_hashes(t)),
        |       simhash64_bands(bigram_token_hashes(t)),
        |       dot_fold(v, v), sqnorm_fold(v), sign_bucket_rh(v, 4, 0),
        |       char_entropy_stats(t)
        |FROM sqlfns""".stripMargin).head()
    val api = spark.table("sqlfns").select(
      functions.poly_hash(col("t")),
      functions.shingle_hashes(col("t"), 7),
      functions.bigram_token_hashes(col("t")),
      functions.simhash16(functions.bigram_token_hashes(col("t"))),
      functions.simhash64_bands(functions.bigram_token_hashes(col("t"))),
      functions.dot_fold(col("v"), col("v")),
      functions.sqnorm_fold(col("v")),
      functions.sign_bucket_rh(col("v"), 4, 0),
      functions.char_entropy_stats(col("t"))).head()
    assert(sql.toSeq === api.toSeq)
    assert(sql.getLong(0) > 0L)                    // poly_hash computed
    assert(sql.getDouble(5) === sql.getDouble(6))  // dot(v,v) == sqnorm(v)
  }

  test("char_entropy_stats matches the explode+fold formulation, counts codepoints not UTF-16 units") {
    GraftBridge.registerFunctions(spark)
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
    assert(spark.sql("SELECT char_entropy_stats('').n_chars_norm").head().getLong(0) === 0L)
  }

  test("constant-parameter misuse fails at ANALYSIS time with a named error") {
    GraftBridge.registerFunctions(spark)
    Seq(("abc", 3)).toDF("t", "n").createOrReplaceTempView("sqlargs")
    def analysisError(q: String): String =
      intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(q).head()).getMessage
    // non-foldable marker (a column): named NON_FOLDABLE_ARGUMENT, not an
    // unbound-attribute internal error
    val e1 = analysisError("SELECT count_occurrences(t, t) FROM sqlargs")
    assert(e1.contains("count_occurrences") && e1.contains("foldable"))
    // null / non-string / empty markers: clean user-facing message, not a
    // ClassCastException/NPE or a raw require failure
    val e2 = analysisError("SELECT count_occurrences(t, CAST(NULL AS STRING)) FROM sqlargs")
    assert(e2.contains("non-empty string literal"))
    val e3 = analysisError("SELECT count_occurrences(t, 7) FROM sqlargs")
    assert(e3.contains("non-empty string literal"))
    val e4 = analysisError("SELECT count_occurrences(t, '') FROM sqlargs")
    assert(e4.contains("non-empty string literal"))
    // the int-parameter family gets the same guard (column as k)
    val e5 = analysisError("SELECT shingle_hashes(t, n) FROM sqlargs")
    assert(e5.contains("shingle_hashes") && e5.contains("foldable"))
    // sanity: a valid literal still folds fine after the guards
    assert(spark.sql("SELECT count_occurrences('aXbXc', 'X')").head().getLong(0) === 2L)
  }

  test("sam_longest_match callable from SQL and matches the Column API") {
    GraftBridge.registerFunctions(spark)
    val got = spark.sql(
      """SELECT sam_longest_match('x a b c y', array('q a b c d', 'z z')),
        |       sam_longest_match('u v', array('a b c')),
        |       sam_longest_match(CAST(NULL AS STRING), array('a b'))"""
        .stripMargin).head()
    assert(got.getLong(0) === 3L)
    assert(got.getLong(1) === 0L)
    assert(got.isNullAt(2))
    val api = Seq(Tuple1("x a b c y")).toDF("t")
      .select(functions.sam_longest_match(col("t"),
        Seq(Seq("q", "a", "b", "c", "d"), Seq("z", "z"))))
      .head().getLong(0)
    assert(api === 3L)
    // non-literal benchmark rejected at analysis time, named error
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT sam_longest_match('a', array(CAST(rand() AS STRING)))").head())
    assert(e.getMessage.contains("sam_longest_match"))
  }

  test("winnow_hashes on empty input yields an empty fingerprint (engine-agreed)") {
    GraftBridge.registerFunctions(spark)
    val rows = spark.sql(
      "SELECT winnow_hashes('', 20, 8), winnow_hashes('ab', 20, 8)").head()
    // empty text shares nothing — no manufactured hash-of-nothing that
    // SQL engines would fold differently (ord('') divergence)
    assert(rows.getSeq[Long](0) === Seq.empty[Long])
    // sub-k but non-empty text still emits its single clamped shingle
    assert(rows.getSeq[Long](1).length === 1)
  }
}
