package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.functions._

/** Benchmark decontamination with a Bloom-filter pre-gate — the
  * scale-path form of the x24 sweep (reference surface: the pipeline's
  * keyword filtering at `producers/market_discovery.py:35-48` is the
  * closest analog of corpus gating; decontamination itself is
  * LLM-pipeline tier).
  *
  * Shape: the benchmark (eval-set) side is small by definition; the
  * corpus side at 100 TB produces ~10¹² shingle rows. A broadcast join
  * alone would still hash-probe EVERY corpus shingle against the exact
  * set; the Bloom gate (Spark's own `BloomFilterMightContain` sketch
  * expression, codegen'd, the same machinery InjectRuntimeFilter uses
  * for runtime row-level filtering) discards the overwhelmingly-clean
  * majority with a few cache-resident bit probes BEFORE the join, and —
  * unlike the exact set — its size is fixed by (items, fpp), not by
  * benchmark bytes, so it ships to executors as a task-binary constant
  * even when the exact set would be broadcast-heavy. False positives
  * are removed by the exact join after the gate, so the RESULT is
  * exact — the bloom only prunes work.
  */
object Decontam {

  /** `might_contain(bloomBytes, value)`: Spark's sketch-probe predicate
    * over a driver-built `org.apache.spark.util.sketch.BloomFilter` —
    * constant binary on the bloom side (required by the expression's
    * contract), LongType on the value side. */
  def mightContain(bloomBytes: Array[Byte], value: Column): Column =
    GraftBridge.column(BloomFilterMightContain(
      GraftBridge.expression(lit(bloomBytes)),
      GraftBridge.expression(value)))

  /** Emit the CLEAN corpus: every document whose k-char-shingle overlap
    * with the benchmark set stays below `maxOverlap`, with its exact
    * overlap count and token count (the "what survives, with budget"
    * output a curation pipeline feeds downstream).
    *
    * The bloom is a bounded sketch built with one distributed
    * aggregation (`stat.bloomFilter`) — the only driver-side data is the
    * filter's fixed-size bit array, mirroring the count-only discipline
    * of `Dedup.connectedComponents`. The benchmark shingle set is
    * persisted only WITHIN this call (the sizing count and the bloom
    * build are both eager) and unpersisted before returning — no cache
    * handle leaks to the caller; the returned plan's one remaining read
    * (the broadcast exact join) recomputes the small bench-side shingle
    * pipeline once at execution, which is cheaper than holding executor
    * memory hostage across repeated invocations.
    */
  /** Fuzzy decontamination: per-document word-n-gram overlap FRACTION
    * against a benchmark set, plus the longest CONSECUTIVE matched run —
    * the published contamination tests (a document is dirty when a large
    * share of its n-grams collide with the eval set, or when a single
    * verbatim span of many consecutive n-grams does) that the exact
    * count-threshold sweeps (x24/x28) cannot express: ten scattered
    * stopword collisions and a ten-gram verbatim quote both count 10
    * there, but only the latter is contamination.
    *
    * Output per doc (>= n words): n_ngrams, n_hit, hit_frac, max_run,
    * contaminated = hit_frac >= fracThreshold OR max_run >= runThreshold.
    *
    * Scale shape: the corpus side is one narrow explode (position +
    * per-row codegen'd poly_hash — same staging as dupNgramStats) joined
    * against the broadcast benchmark-gram set (bounded by eval-set
    * bytes, like x24's). max_run is gaps-and-islands: matched positions
    * only, island id = pos - row_number, then two hash aggregations —
    * the ONLY window partitions by doc_id over MATCHED grams, bounded by
    * document length (and in practice by the contaminated subset), never
    * by corpus size. The gram relation is persist()ed because both the
    * totals aggregation and the islands branch read it; CACHE LIFETIME
    * CONTRACT as on graft.dedup.Dedup — callers clear after consuming. */
  def fuzzyOverlap(corpus: DataFrame, id: Column, text: Column,
                   bench: DataFrame, benchId: Column, benchText: Column,
                   n: Int = 8, fracThreshold: Double = 0.7,
                   runThreshold: Long = 20L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, "need n >= 2")
    def grams(df: DataFrame, gid: Column, gtext: Column): DataFrame = df
      .select(gid.as("doc_id"), split(TextOps.norm(gtext), " ").as("_ws"))
      .filter(size(col("_ws")) >= n)
      .select(col("doc_id"), col("_ws"),
        explode(sequence(lit(1), size(col("_ws")) - (n - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        TextOps.fingerprint(array_join(slice(col("_ws"), col("pos"), lit(n)), " "))
          .as("h"))
    val bset = grams(bench, benchId, benchText)
      .select("h").distinct().withColumn("_b", lit(true))
    // keyed spread over the corpus scan (guide §2.5, r21): the n-gram
    // fingerprint pass is heavy narrow compute directly above the scan
    // and ran on ONE task off a single-row-group file (the x108
    // pathology); hash-partitioning by doc id parallelizes it and is
    // the distribution the doc-keyed totals/runs aggregations want.
    val g = grams(graft.ops.Spread.byKeys(
        corpus.select(id.as("_sid"), text.as("_stext")), Seq(col("_sid"))),
        col("_sid"), col("_stext"))
      .join(broadcast(bset), Seq("h"), "left")
      .persist()
    val totals = g.groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("_b"), 1L).otherwise(0L)).as("n_hit"))
    // islands: consecutive matched positions share (pos - row_number)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = g.filter(col("_b"))
      .select(col("doc_id"), (col("pos") - row_number().over(w)).as("_isl"))
      .groupBy("doc_id", "_isl").agg(count(lit(1)).as("_run"))
      .groupBy("doc_id").agg(max(col("_run")).as("max_run"))
    val frac = col("n_hit").cast("double") / col("n_ngrams").cast("double")
    totals.join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"), col("n_hit"),
        round(frac, 6).as("hit_frac"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        (frac >= fracThreshold ||
          coalesce(col("max_run"), lit(0L)) >= runThreshold).as("contaminated"))
  }

  /** x108 — span-level decontamination REMEDIATION: where
    * [[fuzzyOverlap]] detects and drops, this masks — every word
    * covered by a benchmark-matched word-n-gram is replaced in place
    * by `sentinel`, and the document is kept. Dropping whole documents
    * for one quoted benchmark passage throws away the surrounding
    * (clean) text; production pipelines scrub the span and keep the
    * page. Output: (doc_id, n_words, n_scrubbed, scrubbed_text) — the
    * text is rebuilt in word order, so an exact string compare
    * certifies the remediation, not just the counts.
    *
    * Scale shape: the benchmark gram set is a broadcast (eval-set
    * bounded, the x24/x38 convention); matched starts expand to
    * covered positions by pure sequence arithmetic; the word-position
    * mask is one (doc, pos)-keyed left join against the covered set
    * (bounded by matched volume, not corpus volume) and the rebuild is
    * ONE doc-keyed ordered reassembly — the x36/x48 pattern. Text
    * crosses the wire once. */
  def scrubSpans(corpus: DataFrame, id: Column, text: Column,
                 bench: DataFrame, benchId: Column, benchText: Column,
                 n: Int = 8, sentinel: String = "[scrubbed]"): DataFrame = {
    import TextOps.{fingerprint, norm}
    require(n >= 2, "need n >= 2")
    def starts(df: DataFrame, gid: Column, gtext: Column): DataFrame = df
      .select(gid.as("doc_id"), split(norm(gtext), " ").as("_ws"))
      .filter(size(col("_ws")) >= n)
      .select(col("doc_id"), col("_ws"),
        explode(sequence(lit(1), size(col("_ws")) - (n - 1))).as("q"))
      .select(col("doc_id"), col("q"),
        fingerprint(array_join(slice(col("_ws"), col("q"), lit(n)), " ")).as("h"))
    // keyed spread over the corpus scan (guide §2.5, r21): the n-gram
    // fingerprint pass and the word explode are heavy narrow compute
    // directly above the scan, and a single-row-group file ran BOTH on
    // one task (measured: x108 Σ run ≈ Σ stage wall — zero parallelism).
    // Hash-partitioning by doc id keeps the downstream (doc, pos) join
    // and doc-keyed reassembly on the same exchange.
    val c = graft.ops.Spread.byKeys(
      corpus.select(id.as("_sid"), text.as("_stext")), Seq(col("_sid")))
    val bset = starts(bench, benchId, benchText).select("h").distinct()
    val matched = starts(c, col("_sid"), col("_stext"))
      .join(broadcast(bset), Seq("h")).select("doc_id", "q")
    val covered = matched
      .select(col("doc_id"), explode(sequence(col("q"), col("q") + (n - 1))).as("p"))
      .distinct().withColumn("_c", lit(true))
    val words = c
      .select(col("_sid").as("doc_id"),
        posexplode(split(norm(col("_stext")), " ")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("w"))
    words.join(covered, Seq("doc_id", "p"), "left")
      .select(col("doc_id"), col("p"), col("_c"),
        when(col("_c"), lit(sentinel)).otherwise(col("w")).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("_c"), 1L).otherwise(0L)).as("n_scrubbed"),
        array_join(transform(array_sort(collect_list(struct(col("p"), col("w")))),
          _.getField("w")), " ").as("scrubbed_text"))
  }

  def cleanCorpus(corpus: DataFrame, id: Column, text: Column,
                  bench: DataFrame, benchId: Column, benchText: Column,
                  k: Int = 20, maxOverlap: Long = 10,
                  fpp: Double = 0.01): DataFrame = {
    // explode_outer + null filter (not plain explode): see the corpus-side
    // note below — avoids the inferred size>0 filter re-running the
    // shingle pass
    val bsh = Dedup.stagedShingles(bench, benchId, benchText, k)
      .select(explode_outer(col("_sh")).as("h"))
      .filter(col("h").isNotNull).distinct()
      .persist()
    val nBench = bsh.count()
    val bloom = bsh.stat.bloomFilter("h", math.max(nBench, 1L), fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    // both eager readers (count + bloom) are done; release the cache now
    // rather than leaking it to the caller — the broadcast join below
    // recomputes the small bench-side shingles once when the returned
    // plan executes
    bsh.unpersist()
    // shingle lists are distinct per doc, so the post-gate join count IS
    // the per-document intersection size (same contract as x24).
    // explode_OUTER on purpose: a plain explode lets the optimizer infer
    // `size(child) > 0` and push it below the staging repartition, which
    // re-runs the whole shingle pass inside the filter — doubling the
    // query's dominant narrow cost (observed in the physical plan). The
    // outer form infers nothing; a shingle-less doc yields h = null,
    // which the bloom gate / inner join drop, and the final left join
    // restores it with n_overlap = 0 — identical semantics.
    val overlap = Dedup.stagedShingles(corpus, id, text, k)
      .select(col("_id").as("doc_id"), explode_outer(col("_sh")).as("h"))
      .filter(mightContain(bytes, col("h")))
      .join(broadcast(bsh), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    corpus.select(id.as("doc_id"), TextOps.wsTokenCount(text).as("n_tokens"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"), col("n_tokens"))
      .filter(col("n_overlap") < maxOverlap)
  }

  /** Exact longest-substring decontamination (x119) — the Lee et al.
    * exact-substring unit at token grain, via a generalized suffix
    * automaton over the benchmark
    * ([[graft.plans.SamLongestMatch]]). Fixed n-gram coverage (x24/x28/
    * x38/x108) dilutes at paraphrase boundaries: a 50-token verbatim
    * quote and one shared 8-gram score alike on membership; the LONGEST
    * shared token run is the statistic an auditor ranks by, and the
    * automaton computes it exactly in one pass per document.
    *
    * Output per corpus doc: (doc_id, longest_match, contaminated =
    * longest_match >= minRun).
    *
    * Scale shape: the benchmark is collected ONCE (bounded — an eval
    * set, the x38/x55 convention), compiled on the driver, and rides
    * the plan as a reference object; scoring is a ZERO-SHUFFLE
    * codegen'd projection over the corpus scan — the cheapest possible
    * 100-TB shape, same as x72/x114. */
  def exactSubstringDecontam(corpus: DataFrame, id: Column, text: Column,
                             bench: DataFrame, benchText: Column,
                             minRun: Long = 8L): DataFrame = {
    import graft.text.TextOps
    val benchSeqs: Seq[Seq[String]] = bench
      .select(TextOps.norm(benchText).as("t")).collect()
      .map(_.getString(0).split(" ").toSeq.filter(_.nonEmpty)).toSeq
    val longest = graft.plans.functions.sam_longest_match(
      TextOps.norm(text), benchSeqs)
    corpus.select(id.as("doc_id"), longest.as("longest_match"))
      .withColumn("contaminated", col("longest_match") >= minRun)
  }
}
