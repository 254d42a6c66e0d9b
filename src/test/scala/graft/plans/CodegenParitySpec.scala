package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => SF}
import graft.plans.{functions => F}

/** Codegen/interpreted parity for the native expression library (r17
  * verdict task 1). Every scalar expression here implements BOTH
  * `nullSafeEval` and `doGenCode`; the DuckDB oracle only ever exercises
  * the codegen path, while Catalyst's ConstantFolding and codegen
  * fallback run `eval` — a divergence between the two is a SILENT wrong
  * answer in any plan with literal-foldable inputs (e.g. a decontam set
  * riding the plan as a literal).
  *
  * Per expression, the same inputs are evaluated through two arms:
  *   - folded arm: every argument is a literal → ConstantFolding calls
  *     `eval` during optimization (asserted: no graft expression
  *     survives into the optimized plan);
  *   - codegen arm: the primary data argument is wrapped in a
  *     non-foldable `when(id >= 0, …)` → the expression executes at
  *     runtime, under `factoryMode=CODEGEN_ONLY` +
  *     `spark.sql.codegen.fallback=false` so a compile failure throws
  *     instead of silently comparing eval against eval.
  * The arms must render identically (exact bits — both paths call the
  * same kernels, so no tolerance is licensed).
  *
  * Aggregates (misra_gries, kmv_sketch, cms_sketch, gram_matrix,
  * capped_collect) are TypedImperativeAggregates with a single execution
  * path and are covered by the suite-wide sweep in CodegenSuiteParitySpec
  * instead. */
class CodegenParitySpec extends SparkSpec {

  /** Canonical, exact rendering (same discipline as the suite sweep):
    * Double/Float via java.lang toString so -0.0, NaN and every bit
    * pattern render distinctly. */
  private def render(v: Any): String = v match {
    case null => "␀"
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k) + "->" + render(x) }
        .toSeq.sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(render).mkString("(", ",", ")")
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case f: Float => java.lang.Float.toString(f)
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Non-foldable identity wrapper: `id` comes from range(1), so the
    * value is always the argument itself, but the reference defeats
    * ConstantFolding and forces runtime (codegen) evaluation. */
  private def unfold(c: Column): Column = when(col("id") >= 0, c)

  private def floats(xs: Float*): Column = array(xs.map(lit(_)): _*)
  private def longs(xs: Long*): Column = array(xs.map(lit(_)): _*)

  // a bloom filter for bloom_might_contain (same construction the
  // decontam queries use — serialized bytes ride the plan as a literal)
  private lazy val bloom = {
    val b = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    Seq(42L, 7L, 1234567L).foreach(b.putLong)
    b
  }

  /** One case per scalar native expression: name → builder taking the
    * wrapper applied to the primary data argument. Inputs deliberately
    * include non-ASCII text (NFC-relevant), negative floats, and empty
    * slots where the kernel allows them. */
  private val cases: Seq[(String, (Column => Column) => Column)] = Seq(
    "poly_hash" -> (w => F.poly_hash(w(lit("Hello, wörld! ﬁÅ")))),
    "shingle_hashes" -> (w =>
      F.shingle_hashes(w(lit("the quick brown fox jumps")), 7)),
    "count_occurrences" -> (w =>
      F.count_occurrences(w(lit("a<p>b<p>c<p>")), "<p>")),
    "winnow_hashes" -> (w =>
      F.winnow_hashes(w(lit("abcdefghijklmnopqrstuvwxyz abcdef")), 20, 8)),
    "minhash_sig" -> (w =>
      F.minhash_sig(w(longs(977L, -12345L, 0L, 88L, 42L)), 12)),
    "bigram_token_hashes" -> (w =>
      F.bigram_token_hashes(w(lit("one two three two one")))),
    "hashed_weight_sum" -> (w =>
      F.hashed_weight_sum(w(longs(11L, 22L, 33L)), longs(5L, -3L, 7L))),
    "simhash16" -> (w => F.simhash16(w(longs(977L, -12345L, 0x7fffffffffffL)))),
    "simhash64_bands" -> (w =>
      F.simhash64_bands(w(longs(977L, -12345L, 31337L, 0L)))),
    "dot_fold" -> (w =>
      F.dot_fold(w(floats(1.5f, -2.25f, 0.0f, 3.75f)),
        floats(0.5f, 4.0f, -1.0f, 2.0f))),
    "sqnorm_fold" -> (w => F.sqnorm_fold(w(floats(1.5f, -2.25f, 0.125f)))),
    "sign_bucket_rh" -> (w =>
      F.sign_bucket_rh(w(floats(0.3f, -0.7f, 0.1f, 0.9f)), 10, 0)),
    "char_entropy_stats" -> (w =>
      F.char_entropy_stats(w(lit("aaabbbccc!!! 111 wörld\n\t")))),
    "nfc_normalize" -> (w => F.nfc_normalize(w(lit("Ångström ﬁn")))),
    "mmr_select" -> (w => F.mmr_select(
      w(array(
        struct(lit(1L), lit(0.9), floats(1.0f, 0.0f)),
        struct(lit(2L), lit(0.8), floats(0.9f, 0.1f)),
        struct(lit(3L), lit(0.7), floats(0.0f, 1.0f)))), 2, 0.5)),
    "lz78_phrases" -> (w => F.lz78_phrases(w(lit("abababcabcabcd")))),
    "ac_match_counts" -> (w =>
      F.ac_match_counts(w(lit("he said hers is where the herd is")),
        Seq("he", "she", "hers", "herd"))),
    "sam_longest_match" -> (w =>
      F.sam_longest_match(w(lit("alpha beta gamma delta epsilon")),
        Seq(Seq("beta", "gamma", "delta"), Seq("zeta", "eta")))),
    "bloom_might_contain" -> (w =>
      F.bloom_might_contain(w(lit(42L)), bloom)),
    "book_side_stats" -> (w => F.book_side_stats(
      w(array(
        struct(lit(500L).as("price_c"), lit(3L).as("size_c")),
        struct(lit(650L).as("price_c"), lit(2L).as("size_c")),
        struct(lit(500L).as("price_c"), lit(7L).as("size_c")))),
      isBid = true))
  )

  private def run(c: Column): (String, Boolean) = {
    val df = spark.range(1).select(c.as("v"))
    val foldedAway = df.queryExecution.optimizedPlan.expressions.forall(e =>
      e.collectFirst {
        case x if x.getClass.getName.startsWith("graft.plans.") => x
      }.isEmpty)
    (render(df.collect()(0).get(0)), foldedAway)
  }

  test("every scalar expression: ConstantFolding eval == forced-codegen result") {
    val diffs = cases.flatMap { case (name, mk) =>
      // folded arm — literals all the way down; ConstantFolding must
      // have replaced the expression with its eval()'d literal
      val (foldedOut, didFold) = run(mk(identity))
      assert(didFold,
        s"$name: literal-input expression did NOT constant-fold — the " +
          "folded arm would compare codegen against codegen (vacuous); " +
          "if the expression is deliberately non-foldable, exempt it here " +
          "with a comment")
      // codegen arm — compile failures must throw, not fall back to eval
      var cgOut: String = null
      var didNotFold = false
      withConf(
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false") {
        val (out, folded) = run(mk(unfold))
        cgOut = out; didNotFold = !folded
      }
      assert(didNotFold,
        s"$name: the when(id>=0, …) wrapper no longer defeats constant " +
          "folding — the codegen arm is not exercising runtime execution")
      if (foldedOut == cgOut) None
      else Some(s"$name:\n  eval    = $foldedOut\n  codegen = $cgOut")
    }
    assert(diffs.isEmpty,
      s"interpreted/codegen divergence (SILENT wrong answers under " +
        s"constant folding):\n${diffs.mkString("\n")}")
  }

  test("battery covers every registered scalar SQL function (no rot)") {
    // every non-aggregate Column wrapper in graft.plans.functions must
    // have a parity case, so a newly added expression cannot silently
    // skip the gate
    val aggregates = Set("misra_gries", "kmv_sketch", "cms_sketch",
      "gram_matrix", "capped_collect")
    val wrapped = F.getClass.getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        m.getReturnType == classOf[Column])
      .map(_.getName).toSet -- aggregates
    assert(wrapped.contains("poly_hash"), s"reflection found $wrapped")
    val covered = cases.map(_._1).toSet
    val missing = wrapped -- covered
    assert(missing.isEmpty,
      s"scalar expressions wrapped but missing a parity case: $missing")
    val stale = covered -- wrapped
    assert(stale.isEmpty, s"parity cases for unwrapped functions: $stale")
  }
}
