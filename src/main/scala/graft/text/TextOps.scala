package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for the LLM-data-pipeline tier: normalization,
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * The reference pipeline's text surface is keyword filtering over market
  * questions (`producers/market_discovery.py:35-48`); a training-data
  * pipeline at 100 TB needs the full per-document feature family. Every
  * op here is a pure narrow projection (codegen'd builtins + higher-order
  * functions, zero UDFs, zero shuffles) — scales linearly with input
  * splits and keeps whole-stage codegen intact.
  */
object TextOps {

  /** Canonical normalization: collapse runs of whitespace, trim, lowercase.
    * Shared by dedup/minhash/simhash so near-dup keys are whitespace- and
    * case-insensitive. */
  def norm(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Space-padded form so word-boundary markers like " the " match at
    * string edges too. */
  def padded(text: Column): Column = concat(lit(" "), text, lit(" "))

  /** Number of non-overlapping occurrences of literal `marker` — same
    * count as the oracle's (len − len(remove(marker))) / len(marker)
    * formulation, computed by a native indexOf scan
    * (graft.plans.CountOccurrences) instead of a regex replace that
    * rebuilds the string per marker per row. */
  def countOccurrences(s: Column, marker: String): Column =
    graft.plans.functions.count_occurrences(s, marker)

  /** Language-ID heuristic: count a marker token per candidate language
    * over the padded normalized text, pick the first language (in `markers`
    * order) whose count ties the maximum — deterministic argmax. */
  def langId(pad: Column, markers: Seq[(String, String)]): Column = {
    val counts = markers.map { case (lang, m) => lang -> countOccurrences(pad, m) }
    val maxCnt = greatest(counts.map(_._2): _*)
    counts.init.foldLeft(null.asInstanceOf[Column]) { case (acc, (lang, c)) =>
      val w = c >= maxCnt
      if (acc == null) when(w, lang) else acc.when(w, lang)
    }.otherwise(markers.last._1)
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast(LongType)

  /** BPE-ish token count: alpha runs, digit runs, and single symbols —
    * the pre-tokenizer regex family used by byte-pair encoders. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
      .cast(LongType)

  /** Count of characters matching a regex character class. */
  def charClassCount(text: Column, clazz: String): Column =
    (length(text) - length(regexp_replace(text, clazz, ""))).cast(LongType)

  /** Rolling polynomial document fingerprint: fold (acc*31 + codepoint)
    * mod 1e9+7 over the characters — a content hash computable identically
    * by any engine (no engine-specific hash function), usable as an exact
    * dedup key. No shuffle; a native codegen'd Catalyst expression
    * (graft.plans.PolyHash) — the HOF formulation of the same fold is
    * CodegenFallback and ~100× slower per row. */
  def fingerprint(text: Column): Column =
    graft.plans.functions.poly_hash(text)

  /** The per-epoch Lehmer multiplier 48271^(epoch+1) mod P. Any NONZERO
    * multiplier makes hk ↦ hk·sₑ mod P a bijection of [1, P) because P
    * is prime; distinct epochs get distinct seeds because 48271 has a
    * large multiplicative order mod P = 1 000 000 007 (it is a
    * primitive root of 2³¹−1, the classic MINSTD modulus, but NOT
    * necessarily of this P — the bijection never needed that). */
  def epochSeed(epoch: Long): Long =
    BigInt(48271L).modPow(BigInt(epoch + 1), BigInt(graft.plans.HashUtil.P)).toLong

  /** The x86 ordering key: the document fingerprint re-permuted by the
    * epoch's Lehmer multiplier. Factored out so TextOpsSpec can pin the
    * RUNTIME dispersion of exactly the key [[epochOrder]] buckets on —
    * a salted domain could in principle concentrate where the raw one
    * disperses, and the silent-bucket-degeneration class of bug is
    * invisible to plan audits. */
  private[text] def epochKey(text: Column, epoch: Long): Column =
    (fingerprint(norm(text)) * epochSeed(epoch)) % graft.plans.HashUtil.P

  /** Order-preserving range bucket over the poly-hash domain [0, P):
    * _bkt = hk DIV ceil(P/nBuckets), so bucket id is a NON-DECREASING
    * function of hk and a bucketed two-phase prefix sum reconstructs
    * the exact global (hk, id) order. The domain matters: poly-hash
    * values are mod P ≈ 2³⁰, so the previous top-bits bucketing
    * (`shiftright(hk, 64−log₂ n)`) always returned 0 — every row in
    * ONE bucket, silently degrading the phase-2 window to a single
    * task (the exact hazard the two-phase exists to avoid; plan-shape
    * audits could not see it because the exchange on _bkt was still
    * planned). Null hashes get a dedicated bucket below the range
    * (non-null, so equi-joins keep them; nulls sort first like the
    * oracle's NULLS FIRST). Spec-pinned: TextOpsSpec asserts real
    * multi-bucket dispersion on a small corpus. */
  private[text] def rangeBucket(hk: Column, nBuckets: Int): Column = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val divisor = (graft.plans.HashUtil.P + nBuckets - 1) / nBuckets
    // floor(double-div) is monotone in hk (division correctly rounded,
    // floor monotone), which is all order reconstruction needs; hk < 2³⁰
    // and the divisor are both exactly representable
    coalesce(floor(hk.cast(DoubleType) / lit(divisor.toDouble)).cast(LongType),
      lit(-nBuckets.toLong))
  }

  /** PII-ish patterns kept deliberately dialect-neutral (identical
    * semantics in Java regex and RE2, so oracle engines agree):
    * email-shaped tokens and http(s) URLs. */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val UrlPattern = "https?://[^ ]+"

  /** Count of non-overlapping matches of `pattern`. */
  def patternCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast(LongType)

  /** C4-style scrub: replace every match of `pattern` with `token`
    * (e.g. emails → "<EMAIL>") — narrow per-row projection; the
    * downstream dedup/fingerprint pipeline runs on the scrubbed text. */
  def scrub(text: Column, pattern: String, token: String): Column =
    regexp_replace(text, pattern, token)

  /** Context-window chunking: split each document into overlapping
    * fixed-token windows (`size` tokens every `stride` — overlap =
    * size − stride), the packing step before LLM training. Narrow
    * per-row work: one staged tokenization, one `sequence` explode of
    * window starts, array slices on the staged tokens (no per-element
    * lambdas → no interpreted-HOF re-evaluation). Output one row per
    * chunk: (doc_id, chunk_id, n_tokens, chunk text). */
  def chunk(docs: DataFrame, id: Column, text: Column,
            chunkTokens: Int = 50, stride: Int = 40): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      "need 0 < stride <= chunkTokens")
    val staged = docs.select(id.as("doc_id"), split(norm(text), " ").as("_ws"))
    staged
      .select(col("doc_id"), col("_ws"),
        explode(sequence(lit(0), greatest(size(col("_ws")) - 1, lit(0)),
          lit(stride))).as("_st"))
      .select(col("doc_id"), (col("_st") / stride).cast(LongType).as("chunk_id"),
        slice(col("_ws"), col("_st") + 1, lit(chunkTokens)).as("_chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("_chunk")).cast(LongType).as("n_tokens"),
        array_join(col("_chunk"), " ").as("chunk_text"))
  }

  /** GPT-style sequence packing: concatenate documents in a deterministic
    * order and cut the token stream into fixed `seqLen`-token training
    * sequences — the step that turns a curated corpus into model input.
    * A document occupying token interval [start, end) of the stream
    * contributes to sequences floor(start/L) .. floor((end-1)/L), with
    * exact per-sequence token counts at the cut points.
    *
    * Scale design: the running offset is a window sum WITHIN a hash
    * shard (`doc_id mod nShards`), never a global one — one shuffle on
    * shard, per-partition sorted cumsum, and each shard packs its own
    * independent sequence stream exactly like a sharded pretraining
    * dataset. A single global ordering would serialize the cumsum into
    * one partition at 100 TB; shards keep every partition bounded.
    * Output: (doc_id, shard, seq_id, n_tok_in_seq) — one row per
    * (document, sequence) span; documents may straddle a cut. */
  def pack(docs: DataFrame, id: Column, text: Column,
           seqLen: Int = 128, nShards: Int = 8): DataFrame =
    packWithOffsets(docs, id, text, seqLen, nShards).drop("tok_off")

  /** x82 — [[pack]] plus `tok_off`, each span's starting token position
    * inside its sequence: exactly what a trainer needs to build the
    * per-sequence document-boundary attention mask (segment i spans
    * [tok_off, tok_off + n_tok_in_seq) of the packed sequence; the loss
    * mask at a boundary starts where tok_off does). A span covering
    * stream interval [max(start, seq·L), min(end, (seq+1)·L)) starts
    * inside its sequence at max(start, seq·L) − seq·L — pure span
    * arithmetic off the boundaries pack already computes, so the offset
    * column costs no window and no exchange beyond pack's own shard
    * cumsum, and it equals the prefix sum of span lengths in doc_id
    * order within each (shard, seq_id) (TextOpsSpec pins the tiling).
    * [[pack]] drops the column, and the optimizer prunes its
    * expression. */
  def packWithOffsets(docs: DataFrame, id: Column, text: Column,
                      seqLen: Int = 128, nShards: Int = 8): DataFrame = {
    require(seqLen > 0 && nShards > 0, "need positive seqLen / nShards")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    val lo = greatest(col("_start"), col("seq_id") * seqLen)
    docs.select(id.as("doc_id"), wsTokenCount(norm(text)).as("n_tok"))
      .withColumn("shard", pmod(col("doc_id"), lit(nShards)).cast(LongType))
      .withColumn("_end", sum(col("n_tok")).over(w))
      .withColumn("_start", col("_end") - col("n_tok"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("shard"), col("_start"), col("_end"),
        explode(sequence(floor(col("_start") / seqLen).cast(LongType),
          floor((col("_end") - 1) / seqLen).cast(LongType))).as("seq_id"))
      .select(col("doc_id"), col("shard"), col("seq_id"),
        (least(col("_end"), (col("seq_id") + 1) * seqLen) - lo).as("n_tok_in_seq"),
        (lo - col("seq_id") * seqLen).as("tok_off"))
  }

  /** x77 — fragmentation report over a [[pack]] output: the numbers a
    * training-data engineer checks before pointing a trainer at the
    * packed artifact. Per shard: sequence/span counts, the worst and
    * multi-segment sequence counts (how many training sequences mix
    * ≥2 documents — the cross-document attention-contamination
    * surface), total tokens, and the stream utilization
    * tokens/(n_seqs·seqLen) (loss is only the final partial sequence
    * of each shard — packing pads nothing in between).
    *
    * Scale shape: two hash aggregations, (shard, seq_id) then shard —
    * both map-side combinable, output bounded by nShards rows. Exact
    * integer counts; the one division is fixed-shape IEEE over exact
    * integers, so the report hash-matches the oracle. */
  def packStats(packed: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    packed.groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("_segs"), sum(col("n_tok_in_seq")).as("_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("_segs")).as("n_spans"),
        max(col("_segs")).as("max_segs"),
        sum(when(col("_segs") >= 2, 1L).otherwise(0L)).as("multi_seqs"),
        sum(col("_tok")).as("n_tokens"))
      .withColumn("util_r", round(col("n_tokens").cast(DoubleType) /
        (col("n_seqs") * seqLen).cast(DoubleType), 6))
  }

  /** Bigram-LM quality score (CCNet-style perplexity proxy): train
    * bigram/context counts on the corpus itself, then score each
    * document by the mean log-probability ln(c(w1 w2) / c(w1 ·)) of its
    * word bigrams — low scores flag text the corpus LM finds surprising
    * (gibberish, OCR noise); single-word documents are out of scope.
    *
    * Determinism: counts are exact integers; each bigram's log-prob is
    * one fixed-shape double expression; the per-document sum is a
    * position-ordered LEFT FOLD (sort_array on unique positions +
    * `aggregate`), so the result is partition-order independent and
    * DuckDB's `list_reduce` over `list(lp ORDER BY pos)` reproduces it.
    *
    * Scale: the model is two corpus-keyed aggregations (map-side
    * combinable); scoring is equi-joins on bigram/context keys; the
    * fold's collect_list is per document, bounded by document length.
    * Output: (doc_id, n_bigrams, lm_score). */
  def lmScore(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // Shared via EXCHANGE, not cache (r20): the bigram relation is read
    // three times (two model aggregations + the scoring join); the old
    // persist() was raced by the three sibling AQE stages — profiled as
    // three sequential one-task stages, two of them pure lock-wait —
    // while a repartition is a plain shuffle whose identical subtree is
    // computed ONCE and re-read per consumer (ReuseExchange), at any
    // scale, with no executor cache. The Spread below parallelizes the
    // norm/split/explode off a single-row-group scan (guide §2.5).
    val bg = graft.ops.Spread
      .toCores(docs.select(id.as("doc_id"), text.as("_t")))
      .select(col("doc_id"), split(norm(col("_t")), " ").as("_ws"))
      .filter(size(col("_ws")) >= 2)
      .select(col("doc_id"), posexplode(
        zip_with(slice(col("_ws"), lit(1), size(col("_ws")) - 1),
          slice(col("_ws"), lit(2), size(col("_ws")) - 1),
          (a, b) => struct(a.as("w1"), concat(a, lit("_"), b).as("bg"))))
        .as(Seq("pos", "p")))
      .select(col("doc_id"), col("pos"), col("p.w1"), col("p.bg"))
      // AQE-coalescible on purpose (measured both ways): the model
      // aggregations above this exchange are cheap per byte, so the
      // coalesced read beats a full-parallelism fan-out — unlike x84's
      // corpus exchange, where the explicit count is required
      .repartition(col("doc_id"))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("_c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("_c1"))
    bg.join(c2, "bg").join(c1, "w1")
      .select(col("doc_id"), col("pos"),
        log(col("_c2").cast(DoubleType) / col("_c1").cast(DoubleType)).as("_lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(transform(array_sort(collect_list(struct(col("pos"), col("_lp")))),
          _.getField("_lp")), lit(0.0), (acc, x) => acc + x).as("_s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("_s") / col("n_bigrams"), 6).as("lm_score"))
  }

  /** CCNet head/middle/tail bucketing (x116 — Wenzek et al. 2020): rank
    * every document WITHIN ITS SOURCE by LM score and cut into exact
    * population terciles — head = the source's best-scoring third. This
    * is the construction CCNet actually ships (per-language perplexity
    * terciles, with "head+middle kept, tail dropped or downsampled" the
    * standard recipe); it differs from a global quality cut because each
    * source is judged against itself — a weak source's head is still
    * its head.
    *
    * Determinism: ranks order by (micro-unit score band, doc_id) — the
    * x109 banding discipline, row-order immune; bucket = (rn−1)·3 div n
    * (exact integer division), so tercile boundaries are exact
    * population splits, not approximate quantiles. Docs under 2 bigrams
    * have no LM score and are excluded (the [[lmScore]] domain).
    *
    * Scale shape: [[lmScore]]'s two model aggregations + scoring join,
    * then ONE source-keyed window (rank + count share the partition).
    * Sources are the natural partition unit of a crawl corpus; a
    * pathologically hot source degrades to a big per-partition sort,
    * not OOM (zero state). */
  def ccnetBuckets(docs: DataFrame, id: Column, text: Column,
                   source: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = lmScore(docs, id, text)
    val src = docs.select(id.as("doc_id"), source.as("source"))
    val byScore = Window.partitionBy(col("source"))
      .orderBy(col("band"), col("doc_id"))
    val whole = Window.partitionBy(col("source"))
    scored.join(src, "doc_id")
      .withColumn("band",
        -round(col("lm_score") * lit(1000000.0), 0).cast(LongType))
      .withColumn("rn", row_number().over(byScore))
      .withColumn("n", count(lit(1)).over(whole))
      .select(col("doc_id"), col("source"), col("lm_score"),
        element_at(lit(Array("head", "middle", "tail")),
          expr("((rn - 1) * 3 div n) + 1").cast(IntegerType)).as("bucket"))
  }

  /** Zipf spectrum fit (x117): OLS of ln(freq) on ln(rank) over the
    * top-V corpus tokens — the Zipf exponent (slope ≈ −1 for natural
    * text) and fit quality (R²) are a standard corpus-health readout:
    * a duplicated or boilerplate-saturated corpus bulges its head
    * (slope flattens, R² drops at the top), template floods fatten the
    * tail. Complements the pointwise signals (x20 repetition, x29
    * dup-n-grams, x104 LZ) with a corpus-LEVEL shape statistic.
    *
    * Determinism: the distributed part is ONE word-count aggregation +
    * a TakeOrdered of the constant-V head ((cnt desc, word) total
    * order); the OLS runs on the driver over the V collected rows in
    * rank order, every sum a left fold — the exact IEEE sequence the
    * oracle's `list_reduce(... ORDER BY rank)` replays; the output is
    * the model-sized result re-emitted (the x113 collect convention).
    * Degenerate spectra: the den==0 guard fires only at v==1 (a single
    * rank — the xs = ln(rank) are distinct otherwise, so the OLS
    * denominator never vanishes past one point); all-EQUAL frequencies
    * zero the NUMERATOR instead and give slope ~0 through the ordinary
    * arithmetic. Both paths match the oracle's guard.
    *
    * Output: one row per fitted rank (rank, word, cnt, fitted_log) +
    * constant (slope, intercept, r2, n_fit). */
  def zipfFit(docs: DataFrame, text: Column, topV: Int = 100): DataFrame = {
    require(topV >= 2, s"zipfFit: need at least 2 ranks, got $topV")
    val spark = docs.sparkSession
    val top = docs
      .select(explode(split(norm(text), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(topV)
      .collect().map(r => (r.getString(0), r.getLong(1))) // V rows, bounded
    val v = top.length
    val xs = Array.tabulate(v)(i => math.log((i + 1).toDouble))
    val ys = Array.tabulate(v)(i => math.log(top(i)._2.toDouble))
    def fold(a: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i); i += 1 }
      acc
    }
    val vd = v.toDouble
    val sx = fold(xs)
    val sy = fold(ys)
    val sxx = fold(xs.map(x => x * x))
    val sxy = fold(Array.tabulate(v)(i => xs(i) * ys(i)))
    val den = vd * sxx - sx * sx
    val slope = if (den == 0.0) 0.0 else (vd * sxy - sx * sy) / den
    val intercept = (sy - slope * sx) / vd
    val yb = sy / vd
    val sst = fold(ys.map(y => (y - yb) * (y - yb)))
    val sse = fold(Array.tabulate(v)(i => (ys(i) - (slope * xs(i) + intercept))
      * (ys(i) - (slope * xs(i) + intercept))))
    val r2 = if (sst == 0.0) 0.0 else 1.0 - sse / sst
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    top.zipWithIndex.map { case ((w, cnt), i) =>
      (i + 1L, w, cnt, r6(slope * xs(i) + intercept),
        r6(slope), r6(intercept), r6(r2), v.toLong)
    }.toSeq
      .toDF("rank", "word", "cnt", "fitted_log", "slope", "intercept",
        "r2", "n_fit")
  }

  /** Deterministic global training order: a dense permutation
    * seq ∈ [1, N] of the corpus in (content-hash, doc_id) order — the
    * "shuffle the training set reproducibly" step (hash order is
    * row-order immune, engine-portable, and free of RNG state; any
    * engine derives the same epoch order). Computed WITHOUT a global
    * sort: [[rangeBucket]] buckets the corpus order-monotonically over
    * the poly-hash domain (same trick as tokenBudgetSample), per-bucket
    * counts become cumulative offsets through a window over ≤ nBuckets
    * rows, and each document's rank is offset + its row_number within
    * its bucket only — a global row_number()'s one-task sort never
    * appears. Null-normalized texts hash to a dedicated first bucket
    * (Spark's nulls-first asc ≡ the oracle's NULLS FIRST). */
  def trainOrder(docs: DataFrame, id: Column, text: Column,
                 nBuckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = docs.select(id.as("doc_id"), fingerprint(norm(text)).as("_hk"))
      .withColumn("_bkt", rangeBucket(col("_hk"), nBuckets))
    // pmod(_bkt, 1): always-zero partition key the optimizer cannot
    // fold away (a bare lit(0) IS folded out of the partition spec,
    // leaving a warning-generating global window); the frame is the
    // per-bucket totals — nBuckets rows — so one partition is the plan
    // we want, just explicitly
    val wOff = Window.partitionBy(pmod(col("_bkt"), lit(1L))).orderBy(col("_bkt"))
    val offsets = h.groupBy("_bkt").agg(count(lit(1)).as("_n"))
      .withColumn("_off", sum(col("_n")).over(wOff) - col("_n"))
      .select("_bkt", "_off")
    val wIn = Window.partitionBy(col("_bkt")).orderBy(col("_hk"), col("doc_id"))
    h.join(offsets, Seq("_bkt"))
      .select(col("doc_id"),
        (col("_off") + row_number().over(wIn)).as("seq"))
  }

  /** x109 — data-pruning frontier: the corpus ranked best-first by the
    * trained classifier score and cut into `nDeciles` equal-population
    * bands; per band, docs / tokens / mean score — the curve a
    * curation owner reads to pick a keep-rate ("keeping the top 30%
    * costs this many tokens at this quality"), the DataComp-style
    * quality-vs-quantity trade made into one report. Rank order is
    * (score desc, content-hash, id) via [[curriculumOrder]] with
    * band = −score·10⁶ — scores are 6-dp-rounded so the micro-units
    * band is EXACT integer arithmetic, and the rank never plans a
    * global one-task sort (the x44 bucketed two-phase underneath).
    * Mean score aggregates exact integer micro-units with one final
    * double division — engine-portable without ordered folds.
    *
    * Scale shape: scoring is x72's zero-shuffle codegen'd projection;
    * the rank is the bucketed two-phase; the rollup is one
    * nDeciles-row aggregation. One sizing count (the x15/x32
    * convention). */
  def pruningFrontier(docs: DataFrame, id: Column, text: Column,
                      weights: Array[Long], nDeciles: Int = 10): DataFrame = {
    require(nDeciles > 0, s"need positive deciles, got $nDeciles")
    val scored = classifierScore(docs, id, text, weights)
      .select(col("doc_id"), col("score"))
    val joined = docs.select(id.as("doc_id"), text.as("_text"),
        wsTokenCount(norm(text)).as("n_tokens"))
      .join(scored, "doc_id")
      .withColumn("_micro", round(col("score") * 1000000.0, 0).cast(LongType))
    val n = joined.count()
    val ord = curriculumOrder(joined, col("doc_id"), col("_text"),
      -col("_micro"))
    joined.select("doc_id", "n_tokens", "_micro")
      .join(ord.select("doc_id", "seq"), "doc_id")
      .select(col("n_tokens"), col("_micro"),
        expr(s"((seq - 1) * ${nDeciles}L) div ${n}L").as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("_micro")).as("_sm"))
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        round(col("_sm").cast(DoubleType) / col("n_docs") / 1000000.0, 6)
          .as("mean_score"))
  }

  /** x104 — Lempel–Ziv (LZ78) complexity signal: phrases-per-char of
    * the incremental parse — the dictionary-compressibility quality
    * gate (low ratio = machine-generated repetition / template spam
    * that compresses away; ratio near 1 = incompressible gibberish;
    * prose sits in between). Complements x42's entropy — entropy is
    * blind to ORDER ("abababab" and a shuffle of the same chars score
    * identically; their parse counts differ 2×) — and x29's dup-n-gram
    * fraction, which only sees fixed-width repeats. One native
    * codegen'd pass per row (graft.plans.Lz78Phrases), zero shuffles;
    * the oracle replays the same parse as a per-char fold with the
    * dictionary state encoded in the accumulator (the BPE-oracle
    * string-state discipline). */
  def lzComplexity(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val t = norm(text)
    docs.select(id.as("doc_id"),
        length(t).cast(LongType).as("n_chars"),
        graft.plans.functions.lz78_phrases(t).as("phrases"))
      .withColumn("lz_ratio", when(col("n_chars") === 0, 0.0)
        .otherwise(round(col("phrases").cast(DoubleType) / col("n_chars"), 6)))
  }

  /** x99 — curriculum training order: [[trainOrder]] generalized with a
    * caller-supplied BAND as the major sort key — a dense permutation
    * seq ∈ [1, N] in (band, content-hash, doc_id) order, so training
    * visits band 0 first, band 1 next, …, with a reproducible hash
    * shuffle WITHIN each band (curriculum learning's "easy examples
    * first" schedule, with any banded difficulty/quality signal as the
    * ramp — length bands, classifier-score deciles, Gopher pass
    * counts). Null bands are coalesced to Long.MinValue — they sort
    * first AND survive the offsets equi-join (a null key would drop its
    * rows, the [[rangeBucket]] null-bucket discipline).
    *
    * Scale shape: identical to [[trainOrder]] — per-(band, bucket)
    * counts become cumulative offsets through ONE window over
    * ≤ nBands·nBuckets rows, each document's rank is offset +
    * row_number within its (band, bucket) only; no global one-task
    * sort, no RNG state, row-order immune. */
  def curriculumOrder(docs: DataFrame, id: Column, text: Column,
                      band: Column, nBuckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = docs.select(id.as("doc_id"),
        coalesce(band.cast(LongType), lit(Long.MinValue)).as("band"),
        fingerprint(norm(text)).as("_hk"))
      .withColumn("_bkt", rangeBucket(col("_hk"), nBuckets))
    val wOff = Window.partitionBy(pmod(col("_bkt"), lit(1L)))
      .orderBy(col("band"), col("_bkt"))
    val offsets = h.groupBy("band", "_bkt").agg(count(lit(1)).as("_n"))
      .withColumn("_off", sum(col("_n")).over(wOff) - col("_n"))
      .select("band", "_bkt", "_off")
    val wIn = Window.partitionBy(col("band"), col("_bkt"))
      .orderBy(col("_hk"), col("doc_id"))
    h.join(offsets, Seq("band", "_bkt"))
      .select(col("doc_id"), col("band"),
        (col("_off") + row_number().over(wIn)).as("seq"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much more likely its hashed-n-gram bag is under a
    * TARGET corpus's feature distribution than under the raw corpus's
    * own — log w(x) = Σ_positions [ln p̂(f) − ln q̂(f)] with Laplace
    * smoothing over m hash buckets. Features are unigram and bigram
    * content hashes bucketed mod m (the paper's hashed n-gram model);
    * the deterministic selection rule emitted here is mean log-ratio
    * ≥ 0 ("more target-like than raw-like", length-normalized).
    *
    * Scale shape: both bag-of-words models are ONE hash aggregation
    * each over the exploded feature stream, bounded at m rows; the
    * log-ratio table (≤ m rows, m a compile-time-ish constant) is
    * broadcast into the scoring join, and the totals row is a
    * singleton cross join — the same bounded-side discipline as
    * x18/x33. The per-doc sum is the position-ordered left fold (x27's
    * engine-portable double-sum pattern), so Spark and the oracle agree
    * bit-for-bit. Raw features are persist()ed (scoring join + q model
    * + totals read them); CACHE LIFETIME CONTRACT as on
    * graft.dedup.Dedup — callers clear after consuming. */
  def dsirWeights(raw: DataFrame, id: Column, text: Column,
                  target: DataFrame, targetText: Column,
                  m: Int = 1024): DataFrame = {
    require(m > 0, s"need m > 0 hash buckets, got $m")
    // (doc_id, pos, f): unigrams at their word position, bigrams after
    // them — pos only orders the fold, so any fixed order both engines
    // can reproduce works
    def feats(df: DataFrame, fid: Column, ftext: Column): DataFrame = {
      val toks = df.select(fid.as("doc_id"), split(norm(ftext), " ").as("_ws"))
      val uni = toks
        .select(col("doc_id"), posexplode(col("_ws")).as(Seq("pos", "w")))
        .select(col("doc_id"), col("pos"),
          pmod(fingerprint(col("w")), lit(m.toLong)).as("f"))
      val big = toks.filter(size(col("_ws")) >= 2)
        .select(col("doc_id"), size(col("_ws")).as("_L"), posexplode(
          zip_with(slice(col("_ws"), lit(1), size(col("_ws")) - 1),
            slice(col("_ws"), lit(2), size(col("_ws")) - 1),
            (a, b) => concat(a, lit("_"), b))).as(Seq("pos", "bg")))
        .select(col("doc_id"), (col("_L") + col("pos")).as("pos"),
          pmod(fingerprint(col("bg")), lit(m.toLong)).as("f"))
      uni.unionByName(big)
    }
    // shared via exchange, not cache (r20): three consumers (bucket
    // counts, totals, the scoring join) read the raw features; the old
    // persist() raced its sibling AQE stages into triple computation —
    // one reused shuffle is computed once at any scale. The keyed
    // Spread under feats (r21, guide §2.5) moves the heavy norm/split/
    // explode/fingerprint pass above a cheap exchange of the raw text:
    // off a single-row-group scan it previously ran on ONE task below
    // the shared exchange (measured: x39's feature stage wall ≈ its
    // single task). uni+big both read the spread exchange (reused, one
    // shuffle), so the pass runs at full parallelism on both branches.
    val rawF = feats(graft.ops.Spread.byKeys(
        raw.select(id.as("_rid"), text.as("_rtxt")), Seq(col("_rid"))),
        col("_rid"), col("_rtxt"))
      .repartition(col("doc_id"))
    val tgtF = feats(target, id, targetText)
    val qc = rawF.groupBy("f").agg(count(lit(1)).as("_qc"))
    val pc = tgtF.groupBy("f").agg(count(lit(1)).as("_pc"))
    // count() aggregations (not sum over the bucket tables): an EMPTY
    // target must yield ptot = 0, not null
    val totals = rawF.agg(count(lit(1)).as("_qtot"))
      .crossJoin(tgtF.agg(count(lit(1)).as("_ptot")))
    // ln((c+1)/(tot+m)) kept as ONE division and ONE ln per side so the
    // oracle's identical expression produces the identical double
    val lrTab = qc.join(pc, Seq("f"), "left")
      .crossJoin(broadcast(totals))
      .select(col("f"),
        (log((coalesce(col("_pc"), lit(0L)) + 1).cast(DoubleType) /
            (col("_ptot") + m)) -
          log((col("_qc") + 1).cast(DoubleType) /
            (col("_qtot") + m))).as("_lr"))
    val s = rawF.join(broadcast(lrTab), "f")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        aggregate(transform(array_sort(collect_list(struct(col("pos"), col("_lr")))),
          _.getField("_lr")), lit(0.0), (acc, x) => acc + x).as("_s"))
    s.select(col("doc_id"), col("n_feats"),
      round(col("_s"), 6).as("log_w"),
      round(col("_s") / col("n_feats"), 6).as("dsir_score"),
      (col("_s") / col("n_feats") >= 0.0).as("selected"))
  }

  /** Per-document character-entropy quality signal: Shannon entropy of
    * the normalized text's character distribution, H = −Σ p·ln p — the
    * standard gibberish/degenerate-repetition detector (a doc of one
    * repeated char has H = 0; natural language sits around 4 bits ≈
    * 2.8 nats). Exact counts; the entropy sum is an ordered fold over
    * characters sorted by code point, so any engine folds the same
    * doubles in the same order (DuckDB's `list_reduce(list(t ORDER BY
    * ch))` seeds with the first element, and 0.0 + t1 ≡ t1).
    *
    * Shape: ZERO shuffles — the codepoint histogram, distinct count,
    * and ordered entropy fold all happen inside one native codegen'd
    * expression per row (graft.plans.CharEntropyStats). The first
    * version exploded one row per CHARACTER and hash-aggregated twice:
    * a ~mean-doc-length× row amplification through an exchange, the
    * heaviest constant in the tier (2.6 s of the sf0.1 bench; at
    * 100 TB the exploded stream is ~30 PB of shuffle input). Docs
    * whose normalized text is empty are out of scope (no output row),
    * matching the other per-char ops. */
  def charEntropy(docs: DataFrame, id: Column, text: Column,
                  lowBar: Double = 2.0): DataFrame = {
    val stats = graft.plans.functions.char_entropy_stats(norm(text))
    docs.select(id.as("doc_id"), norm(text).as("_t"), stats.as("_s"))
      .filter(length(col("_t")) >= 1)
      .select(col("doc_id"),
        col("_s").getField("n_chars_norm").as("n_chars_norm"),
        col("_s").getField("n_distinct_chars").as("n_distinct_chars"),
        round(col("_s").getField("entropy"), 6).as("entropy"),
        (col("_s").getField("entropy") < lowBar).as("low_entropy"))
  }

  /** RefinedWeb/Gopher duplicate-n-gram signal: for each document, the
    * fraction of its word n-gram positions whose n-gram occurs ≥ 2 times
    * CORPUS-WIDE (within- or cross-document) — the "fraction of
    * characters in duplicate n-grams" family of repetition filters,
    * computed exactly.
    *
    * Scale design: each n-gram is reduced to its polynomial content hash
    * BEFORE any shuffle, so the three exchanges (count-by-hash with
    * map-side combine, the hash-keyed count join, the per-doc rollup)
    * move only longs — document text never shuffles. Hash collisions are
    * deterministic and engine-portable (the oracle hashes identically),
    * so both engines agree bit-for-bit. Documents shorter than n words
    * have no n-gram positions and are out of scope (no output row).
    * Output: (doc_id, n_ngrams, dup_ngrams, dup_frac). */
  def dupNgramStats(docs: DataFrame, id: Column, text: Column,
                    n: Int = 8): DataFrame = {
    require(n >= 2, "need n >= 2")
    val grams = docs
      .select(id.as("doc_id"), split(norm(text), " ").as("_ws"))
      .filter(size(col("_ws")) >= n)
      // explode positions first, hash per ROW after: the per-row
      // fingerprint is a codegen'd native expression, where a
      // transform() lambda over the same slices would be interpreted
      .select(col("doc_id"), col("_ws"),
        explode(sequence(lit(1), size(col("_ws")) - (n - 1))).as("_i"))
      .select(col("doc_id"),
        fingerprint(array_join(slice(col("_ws"), col("_i"), lit(n)), " ")).as("h"))
      // read twice (global counts + the count join) — cache contract as
      // on graft.dedup.Dedup; measured (r20) against exchange-sharing
      // and plain recompute, the cache wins: the slice/join/fingerprint
      // per gram is the dominant cost and the cached rows are two longs
      .persist()
    val counts = grams.groupBy("h").agg(count(lit(1)).as("_ch"))
    grams.join(counts, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("_ch") >= 2, 1L).otherwise(0L)).as("dup_ngrams"))
      .select(col("doc_id"), col("n_ngrams"), col("dup_ngrams"),
        round(col("dup_ngrams").cast(DoubleType) / col("n_ngrams").cast(DoubleType), 6)
          .as("dup_frac"))
  }

  /** x95 — padding-efficiency curve: for each candidate training
    * sequence length L, the cost of the NAIVE one-doc-per-sequence
    * layout — each document occupies ⌈tokens/L⌉ sequences, everything
    * past its tokens is padding. Emits per L: sequence count, real
    * tokens, padding tokens, and efficiency = tokens/(seqs·L). This is
    * the curve that picks L before packing (short-doc corpora waste
    * most of a long context) and the baseline the x26/x77 packed
    * layout's utilization is judged against.
    *
    * Scale shape: one narrow token-count projection, a bounded
    * |seqLens|-way explode, one seq_len-keyed aggregation (map-side
    * combinable). Integer ceil-div — exact, engine-portable. */
  def paddingEfficiency(docs: DataFrame, id: Column, text: Column,
                        seqLens: Seq[Int] = Seq(128, 512, 2048, 8192)): DataFrame = {
    require(seqLens.nonEmpty && seqLens.forall(_ > 0),
      s"seqLens must be positive, got $seqLens")
    docs.select(id.as("doc_id"), wsTokenCount(text).as("t"))
      .filter(col("t") > 0)
      .select(col("t"), explode(typedLit(seqLens)).as("seq_len"))
      .select(col("seq_len").cast(LongType).as("seq_len"), col("t"),
        expr("(t + seq_len - 1) div seq_len").as("chunks"))
      .groupBy("seq_len")
      .agg(sum(col("chunks")).as("n_seqs"), sum(col("t")).as("n_tokens"))
      .select(col("seq_len"), col("n_seqs"), col("n_tokens"),
        (col("n_seqs") * col("seq_len") - col("n_tokens")).as("n_padding"),
        round(col("n_tokens").cast(DoubleType)
          / (col("n_seqs") * col("seq_len")).cast(DoubleType), 6).as("efficiency"))
  }

  /** x93 — per-source distribution drift: Jensen–Shannon divergence of
    * each source's token distribution against the corpus-wide
    * distribution, over the global top-V vocabulary — the "did this
    * crawl slice change register/topic/language mix?" monitor a
    * continuously-fed pipeline alarms on (JS, not KL: bounded by ln 2,
    * symmetric, and finite when a source misses vocab terms).
    *
    * Determinism: p = c_st/tot_s and q = tf_t/tot_g are single exact
    * divisions of exact longs; the per-source sum of double
    * contributions is an ORDERED fold by term (the x27 idiom), and the
    * absent-term mass is folded in arithmetically —
    * 0.5·ln2·(1 − Σ_present q) — rather than materializing zero rows,
    * so no source×vocab grid is ever built. Sources with zero in-vocab
    * tokens drop out (no distribution to compare).
    *
    * Scale shape: one term-keyed aggregation (map-side combinable) +
    * TakeOrdered(V) for the vocab, a broadcast vocab join on the token
    * stream, then source-keyed aggregations over (sources × V)-bounded
    * rows. Output: (source, n_vocab_tokens, js_divergence). */
  def sourceDrift(docs: DataFrame, source: Column, text: Column,
                  vocabSize: Int = 64): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val tok = docs.select(source.as("source"),
      explode(split(norm(text), " ")).as("term"))
    val voc = tok.groupBy("term").agg(count(lit(1)).as("gtf"))
      .orderBy(col("gtf").desc, col("term")).limit(vocabSize)
    val tg = voc.agg(sum(col("gtf")).as("tot_g"))
    val st = tok.join(broadcast(voc), "term")
      .groupBy("source", "term").agg(count(lit(1)).as("c"), first(col("gtf")).as("gtf"))
    val ts = st.groupBy("source").agg(sum(col("c")).as("tot_s"))
    val ctr = st.join(ts, "source").crossJoin(broadcast(tg))
      .select(col("source"), col("term"), col("gtf"), col("tot_g"),
        (col("c").cast(DoubleType) / col("tot_s")).as("p"),
        (col("gtf").cast(DoubleType) / col("tot_g")).as("q"))
      .select(col("source"), col("term"), col("gtf"), col("tot_g"),
        (col("p") * log(lit(2) * col("p") / (col("p") + col("q")))
          + col("q") * log(lit(2) * col("q") / (col("p") + col("q")))).as("ctrb"))
    ctr.groupBy("source")
      .agg(
        aggregate(transform(array_sort(collect_list(struct(col("term"), col("ctrb")))),
          _.getField("ctrb")), lit(0.0), (a, x) => a + x).as("_s1"),
        sum(col("gtf")).as("_tfp"),
        first(col("tot_g")).as("_tg"))
      .join(ts, "source")
      .select(col("source"), col("tot_s").cast(LongType).as("n_vocab_tokens"),
        round(lit(0.5) * col("_s1")
          + lit(0.5) * log(lit(2.0))
            * (lit(1.0) - col("_tfp").cast(DoubleType) / col("_tg")), 6)
          .as("js_divergence"))
  }

  /** x90 — corpus novelty curve: how much NEW content each slice of an
    * ingestion-ordered corpus contributes. A shingle's first owner is
    * the minimum doc_id carrying it; a document's novel-gram count is
    * the number of its distinct shingles it owns first; documents are
    * bucketed into `nBuckets` equal doc_id ranges and each bucket
    * reports (grams, novel, novelty_rate). This is the
    * diminishing-returns diagnostic every crawl pipeline wants — "does
    * the Nth slice of this source still add content, or is it
    * re-crawling what we hold?" — and the curve's tail is what decides
    * when to stop paying for a source.
    *
    * Scale shape: one narrow shingle explode, a gram-keyed min
    * aggregation (map-side combinable — the shuffle carries one row
    * per distinct gram per mapper), two doc-keyed counts, and a
    * broadcast of the 1-row max-id frame for the arithmetic range
    * bucket (no ntile — a global rank window would be the scale-killer
    * here). Nothing corpus-sized reaches the driver. */
  def noveltyCurve(docs: DataFrame, id: Column, text: Column,
                   k: Int = 7, nBuckets: Int = 10): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    import graft.dedup.Dedup
    // deliberately NOT shared (measured r20): the exploded relation
    // feeds two aggregations, but re-running the native shingle pass in
    // both parallel branches is cheaper than shuffling the exploded
    // rows through a shared exchange
    val g = docs
      .select(id.as("doc_id"),
        explode(array_distinct(Dedup.shingleHashes(norm(text), k))).as("g"))
    val firstOwner = g.groupBy("g").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    val perDoc = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val mx = docs.agg(max(id).as("_mx"))
    perDoc.join(firstOwner, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_novel"))
      .crossJoin(broadcast(mx))
      // integer `div`, not `/`: double division is inexact past 2^53,
      // and the oracle's `//` is integer — keep bucket edges bit-equal
      .withColumn("bucket",
        least(expr(s"doc_id * $nBuckets div (_mx + 1)"), lit(nBuckets - 1))
          .cast(LongType))
      .groupBy("bucket")
      .agg(sum(col("n_grams")).as("grams"), sum(col("n_novel")).as("novel"))
      .withColumn("novelty_rate",
        round(col("novel").cast(DoubleType) / col("grams").cast(DoubleType), 6))
  }

  /** Gopher-style document quality rules, computed exactly per document:
    * word-count bounds, mean word length in [3, 10], symbol-to-word
    * ratio (`#` and `...`), fraction of words containing an alphabetic
    * character, and a ≥ 2-distinct-stopwords requirement — plus the
    * conjunction (`passes`). Pure narrow projection over the normalized
    * text: no shuffle, scales with input splits. */
  def gopherFlags(docs: DataFrame, id: Column, text: Column,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val stops = Seq(" the ", " a ", " of ", " and ", " to ", " in ")
    val staged = docs
      .select(id.as("doc_id"), norm(text).as("_t"))
      .select(col("doc_id"), col("_t"), split(col("_t"), " ").as("_ws"))
    staged
      .select(col("doc_id"),
        size(col("_ws")).cast(LongType).as("n_words"),
        // normalized text is single-spaced: non-space chars = len − (words − 1)
        ((length(col("_t")) - size(col("_ws")) + 1).cast(DoubleType)
          / size(col("_ws")).cast(DoubleType)).as("_mwl"),
        size(filter(col("_ws"), w => w.rlike("[a-z]"))).cast(LongType)
          .as("alpha_words"),
        (charClassCount(col("_t"), "#") + countOccurrences(col("_t"), "..."))
          .as("_sym"),
        stops.map(m => when(padded(col("_t")).contains(m), 1L).otherwise(0L))
          .reduce(_ + _).as("stop_hits"))
      .select(col("doc_id"), col("n_words"),
        round(col("_mwl"), 6).as("mean_word_len"),
        col("alpha_words"), col("stop_hits"),
        col("n_words").between(minWords, maxWords).as("words_ok"),
        col("_mwl").between(3.0, 10.0).as("mwl_ok"),
        (col("_sym").cast(DoubleType) / col("n_words").cast(DoubleType) < 0.1)
          .as("sym_ok"),
        (col("alpha_words").cast(DoubleType) / col("n_words").cast(DoubleType) > 0.8)
          .as("alpha_ok"),
        (col("stop_hits") >= 2).as("stops_ok"))
      .withColumn("passes",
        col("words_ok") && col("mwl_ok") && col("sym_ok") &&
          col("alpha_ok") && col("stops_ok"))
  }

  /** x84 — cross-signal calibration table: bucket the classifier score
    * ([[classifierScore]], ∈ [−1, 1] by construction) into 10 fixed-
    * width bins and report the [[gopherFlags]] pass rate per bin — the
    * agreement diagnostic a curation engineer reads before trusting a
    * model-based filter with a keep/drop threshold (a monotone table
    * says the two signals rank quality consistently; a flat one says
    * the classifier adds nothing over the rules). Fixed-width bins
    * (floor(score·5 + 5), clamped) instead of ntile: identical
    * arithmetic in every engine and NO global window — decile ranks
    * would need a corpus-wide sort. Inputs: (doc_id, score) and
    * (doc_id, passes). Two narrow projections feeding one doc-keyed
    * equi-join + a 10-row map-side-combinable aggregation. */
  def signalAgreement(scores: DataFrame, gates: DataFrame): DataFrame =
    scores.join(gates, "doc_id")
      .select(expr("least(CAST(9 AS BIGINT), greatest(CAST(0 AS BIGINT)," +
        " CAST(floor(score * 5 + 5) AS BIGINT)))").as("score_bin"), col("passes"))
      .groupBy("score_bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("passes"), 1L).otherwise(0L)).as("n_gopher_pass"))
      .withColumn("pass_rate_r", round(col("n_gopher_pass").cast(DoubleType)
        / col("n_docs").cast(DoubleType), 6))

  /** x110 — filter-ablation cube: every 2^5 combination of the five
    * [[gopherFlags]] sub-gates (plus every marginal — CUBE, not GROUP
    * BY) with document and token mass per cell — the DataComp-style
    * ablation matrix a curation engineer reads to decide which gates
    * to keep: a gate whose failing cell carries 0.1% of tokens is
    * dead weight; two gates whose failure sets coincide are one gate.
    * `gid` is the grouping bitmask (first gate = MSB — Spark and
    * DuckDB agree on this convention) disambiguating "aggregated
    * over" from a genuine NULL gate value.
    *
    * Scale shape: the cube plans as Expand(×2^5 = 32) over a SIX
    * column projection (5 booleans + the token count) — the text
    * itself is dropped before the expand, so the blow-up multiplies
    * ~40 bytes/row, not documents. Partial aggregation collapses each
    * map task to ≤ 3^5 = 243 cells before the exchange; the shuffle
    * moves kilobytes at any corpus size. The cheapest shape an
    * ensemble-ablation report can have — no joins, no windows, one
    * pass over the corpus. */
  def filterAblation(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val gates = Seq("words_ok", "mwl_ok", "sym_ok", "alpha_ok", "stops_ok")
    gopherFlags(docs, id, text)
      .cube(gates.map(col): _*)
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"))
  }

  /** Deterministic train/val/test assignment + per-(split, lang) corpus
    * budget: the content fingerprint mod 100 buckets each document
    * (< 80 train, < 90 val, else test) — the hash-based split every
    * engine and every run reproduces identically, immune to row order
    * and engine RNG (the same idea as x21's quota sampling). One
    * map-side-combinable aggregation; output is the split manifest
    * (split, lang, n_docs, total_tokens) a training job consumes. */
  def splitAssign(docs: DataFrame, id: Column, text: Column,
                  lang: Column): DataFrame = {
    val bucket = pmod(fingerprint(norm(text)), lit(100L))
    docs
      .select(lang.as("lang"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"),
        wsTokenCount(text).as("_tok"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("_tok")).as("total_tokens"))
  }

  /** Source-mixture reweighting manifest: per-source token share of the
    * corpus plus the sampling weight that would equalize the mixture
    * (uniform target share / actual share — sources above their target
    * get weight < 1, under-represented ones > 1). The DoReMi-style
    * domain-mixture step reduced to exact arithmetic: one
    * map-side-combinable aggregation + a broadcast 1-row total. Output:
    * (source, n_docs, total_tokens, actual_share, weight). */
  def mixtureWeights(docs: DataFrame, source: Column, text: Column): DataFrame = {
    // persisted: the totals branch AND the crossJoin branch both read
    // this aggregate, and without the persist the full corpus scan +
    // token counting runs twice (no cross-plan CSE) — cache contract as
    // on graft.dedup.Dedup
    val per = docs.select(source.as("source"), wsTokenCount(text).as("_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("_tok")).as("total_tokens"))
      .persist()
    val tot = per.agg(sum(col("total_tokens")).as("_total"),
      count(lit(1)).as("_nsrc"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round(col("total_tokens").cast(DoubleType) / col("_total"), 6)
          .as("actual_share"),
        round((lit(1.0) / col("_nsrc"))
          / (col("total_tokens").cast(DoubleType) / col("_total")), 6).as("weight"))
  }

  /** Repetition/epoch planning table (x73) — the data-constrained
    * budgeting step of Muennighoff et al. 2023 ("Scaling
    * Data-Constrained Language Models"), run after the mixture is
    * chosen: given a total training-token budget split uniformly
    * across sources (swap in any tuned share model — x33's weights —
    * without changing the plan shape), how many EPOCHS of each
    * source's unique tokens does the plan imply? Epochs are capped at
    * `maxEpochs` (the paper's ~4-epoch knee, past which repeated data
    * adds ~zero value), and the table reports how many target tokens
    * the cap leaves unfilled — the signal to re-balance the mixture or
    * find more data. Sources with zero tokens are all-deficit. Output:
    * (source, total_tokens, target_tokens, epochs_raw, epochs,
    * fill_tokens, deficit_tokens, capped).
    *
    * Scale shape: one per-source map-side-combinable aggregation + one
    * broadcast 1-row source count; the corpus is read once and
    * everything after is constant-size arithmetic. All divisions are
    * IEEE doubles over exact integers in a fixed order, so the oracle
    * reproduces every value bit-for-bit before the final round. */
  def epochPlan(docs: DataFrame, source: Column, text: Column,
                budgetTokens: Long, maxEpochs: Double = 4.0): DataFrame = {
    val per = docs.select(source.as("source"), wsTokenCount(text).as("_tok"))
      .groupBy("source")
      .agg(sum(col("_tok")).as("total_tokens"))
      .persist()
    val tot = per.agg(count(lit(1)).as("_nsrc"))
    val target = lit(budgetTokens.toDouble) / col("_nsrc")
    val epochsRaw = when(col("total_tokens") === 0, lit(0.0))
      .otherwise(target / col("total_tokens").cast(DoubleType))
    val fill = least(target, lit(maxEpochs) * col("total_tokens").cast(DoubleType))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("total_tokens"),
        round(target, 6).as("target_tokens"),
        round(epochsRaw, 6).as("epochs_raw"),
        round(least(epochsRaw, lit(maxEpochs)), 6).as("epochs"),
        round(fill, 6).as("fill_tokens"),
        round(target - fill, 6).as("deficit_tokens"),
        (epochsRaw > maxEpochs).as("capped"))
  }

  /** Gopher/C4-style repetition signal: the share of all word-bigram
    * occurrences taken by the single most frequent bigram — high values
    * flag boilerplate/template text. Exact integer counts via a
    * (doc, bigram) aggregation: map-side combinable, scales to any doc
    * length (a per-row nested-HOF count would be O(distinct·n)
    * INTERPRETED per row — the CodegenFallback trap). One final double
    * division. */
  def repetition(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // STAGE the token array before any HOF touches it: an index lambda
    // like `get(ws, i+1)` re-evaluates the split(norm(regex)) leaf PER
    // ELEMENT when ws is an unprojected expression (interpreted HOFs do
    // no CSE — measured 5.4 s vs 0.9 s at sf0.1). zip_with of the two
    // staged slices touches only its element arguments.
    val staged = docs.select(id.as("doc_id"), split(norm(text), " ").as("_ws"))
    val ws = col("_ws")
    // word bigrams in order, WITH duplicates (counts matter here —
    // BigramTokenHashes dedupes so it can't be reused); unigram
    // fallback for single-word docs mirrors the SimHash tokenizer
    val bigrams = when(size(ws) >= 2,
      zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat(a, lit("_"), b))).otherwise(ws)
    staged.select(col("doc_id"), explode(bigrams).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_c"), sum(col("c")).as("total_c"))
      .select(col("doc_id"), col("top_c"), col("total_c"),
        round(col("top_c").cast(DoubleType) / col("total_c").cast(DoubleType), 6)
          .as("rep_share"))
  }

  /** CCNet-style line-level boilerplate removal: a line whose normalized
    * hash appears in >= `minDocs` DISTINCT documents is boilerplate
    * (nav bars, cookie banners, copyright footers — the cross-document
    * repeated furniture whole-document dedup can't touch) and is struck
    * from every document; survivors are reassembled in original line
    * order. Output: (doc_id, n_lines, n_kept, cleaned, cleaned_fp) —
    * a doc whose every line is boilerplate survives with cleaned = "".
    *
    * Scale shape: the document-frequency count shuffles (line_hash,
    * doc_id) pairs — longs, never line text — with a distinct pass that
    * map-side combines; the boilerplate set joins back onto the line
    * stream with NO forced broadcast hint: its cardinality (distinct
    * line hashes with df >= minDocs) grows with the corpus — every
    * site's nav/footer furniture is distinct boilerplate — so at
    * 100 TB it is plausibly billions of longs and a forced broadcast
    * would OOM executors. AQE picks broadcast when the set is
    * genuinely small (it is at test scale) and falls back to a
    * shuffled hash join on the long key otherwise; reassembly is one
    * doc_id-keyed aggregation whose
    * collect_list carries only surviving lines. Nothing is quadratic
    * and raw text crosses the wire exactly once (the reassembly
    * shuffle), same discipline as dupNgramStats. The exploded+hashed
    * line relation is persist()ed because BOTH branches (the df count
    * and the join's probe side) read it — without the cache the
    * dominant narrow cost (scan + split + per-line poly_hash) runs
    * twice. CACHE LIFETIME CONTRACT as on graft.dedup.Dedup: the
    * returned plan reads the cache, so callers clear it after
    * consuming results (Verify/Bench do, per query). */
  def removeBoilerplateLines(docs: DataFrame, id: Column, text: Column,
                             minDocs: Long = 5L): DataFrame = {
    val lines = docs.select(id.as("doc_id"),
        posexplode(split(text, "\n")).as(Seq("pos", "line")))
      .withColumn("lh", fingerprint(norm(col("line"))))
      .persist()
    val boiler = lines.select("lh", "doc_id").distinct()
      .groupBy("lh").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocs).select(col("lh"), lit(true).as("_b"))
    // left join marks boilerplate lines; nulls in when() are skipped by
    // collect_list, so the kept-line array falls out of one aggregation
    lines.join(boiler, Seq("lh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("_b").isNull, 1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("_b").isNull,
            struct(col("pos"), col("line"))))),
          _.getField("line")), "\n").as("cleaned"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("cleaned"),
        fingerprint(col("cleaned")).as("cleaned_fp"))
  }

  /** Deterministic token-budget sampling: within each stratum (source,
    * language, ...) admit documents in content-hash order until the
    * running token total crosses `budget` — the "give me ~N tokens per
    * domain" selection step of mixture building, made reproducible by
    * hashing (row-order immune, engine-portable) instead of RNG state.
    * Output: (doc_id, stratum, n_tokens, cum_tokens), cum_tokens <=
    * budget.
    *
    * Scale shape: a distributed two-phase prefix sum, NOT a
    * per-stratum window. `Window.partitionBy(stratum)` puts an entire
    * stratum into ONE task's sort — with realistic strata (tens of
    * sources) that is a one-task sort of corpus/strata rows, the
    * classic window scale-killer. Instead the ordering key `_hk` is
    * range-bucketed (arithmetic shift keeps bucket order monotone in
    * the signed hash, and equal hashes — the tie-broken-by-doc_id
    * case — land in one bucket, so cross-bucket order equals the
    * global (_hk, doc_id) order): phase 1 aggregates per-(stratum,
    * bucket) token subtotals (tiny: strata x nBuckets rows); phase 2
    * turns them into cumulative bucket offsets with a window whose
    * partitions are <= nBuckets rows each; offsets already past the
    * budget are dropped BEFORE the join back, so buckets that cannot
    * admit a document are never sorted at all — the per-bucket running
    * sum only ever touches ~budget worth of documents per stratum.
    * The offsets frame is joined back without a forced hint (AQE
    * broadcasts it; it is bounded by strata x nBuckets, not corpus
    * size). Per-task work is corpus/(strata x nBuckets), deterministic
    * and skew-free regardless of stratum size distribution. */
  def tokenBudgetSample(docs: DataFrame, id: Column, text: Column,
                        strata: Column, budget: Long,
                        nBuckets: Int = 1024): DataFrame =
    budgetSample(docs, id, text, strata, nBuckets, None, lit(budget))

  /** The two-phase bucketed prefix sum behind [[tokenBudgetSample]]
    * (`budget` a literal) and [[tokenBudgetSampleWeighted]] (`budget` =
    * the `budget` column of the joined per-stratum `budgets` frame,
    * which the output then carries). */
  private def budgetSample(docs: DataFrame, id: Column, text: Column,
                           strata: Column, nBuckets: Int,
                           budgets: Option[DataFrame],
                           budget: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val carry = budgets.map(_ => "budget").toSeq
    val h = docs.select(id.as("doc_id"), strata.as("stratum"),
        wsTokenCount(text).as("n_tokens"),
        fingerprint(norm(text)).as("_hk"))
      // null hashes (null text) sort first under the window version's
      // nulls-first ordering; rangeBucket gives them a dedicated bucket
      // below the hash range (non-null, so the equi-join back keeps them)
      .withColumn("_bkt", rangeBucket(col("_hk"), nBuckets))
    // phase 1: per-bucket subtotals (strata x nBuckets rows, longs only)
    val wOff = Window.partitionBy(col("stratum")).orderBy(col("_bkt"))
    val subtotals = h.groupBy("stratum", "_bkt")
      .agg(sum(col("n_tokens")).as("_sub"))
      // exclusive prefix: tokens in all strictly-earlier buckets
      .withColumn("_off", sum(col("_sub")).over(wOff) - col("_sub"))
    // a bucket whose offset exceeds the budget cannot admit any doc
    // (every cum_tokens in it is >= _off); drop it before the join
    // so its documents are never shuffled into a sort
    val offsets = budgets.fold(subtotals)(subtotals.join(_, "stratum"))
      .filter(col("_off") <= budget)
      .select((Seq("stratum", "_bkt", "_off") ++ carry).map(col): _*)
    // phase 2: running sum within (stratum, bucket) only — each window
    // partition holds corpus/(strata x nBuckets) rows, not a stratum
    val wIn = Window.partitionBy(col("stratum"), col("_bkt"))
      .orderBy(col("_hk"), col("doc_id"))
    h.join(offsets, Seq("stratum", "_bkt"))
      .withColumn("cum_tokens", col("_off") + sum(col("n_tokens")).over(wIn))
      .filter(col("cum_tokens") <= budget)
      .select((Seq("doc_id", "stratum", "n_tokens", "cum_tokens") ++ carry)
        .map(col): _*)
  }

  /** x103 — length-bucketed inference batch plan: assign every document
    * to a batch of ≤ maxTokensPerBatch tokens WITHIN its length bucket
    * (n_tokens div lenBucket) — the batching step a production
    * inference/embedding fleet runs before dispatch: same-length docs
    * batch together so per-batch padding stays ~one lenBucket wide (the
    * x95 curve picks the bucket width; this op materializes the plan),
    * and the token budget bounds activation memory per batch. Docs fill
    * batches greedily in deterministic (content-hash, doc_id) order:
    * batch_id = exclusive-prefix-tokens div B, so a batch's total can
    * overshoot B by at most (max doc tokens − 1) — the standard
    * approximate-budget semantics, exact integer arithmetic throughout.
    *
    * Scale shape: the x37 two-phase prefix sum — per-(bucket,
    * hash-range-bucket) token subtotals become cumulative offsets
    * through windows over bounded frames, the running sum window
    * partitions corpus/(lenBuckets·nBuckets) rows; no per-length-bucket
    * corpus-sized sort anywhere. Output: (doc_id, bucket, n_tokens,
    * batch_id), batch ids dense per bucket. */
  def inferenceBatchPlan(docs: DataFrame, id: Column, text: Column,
                         maxTokensPerBatch: Long, lenBucket: Int = 32,
                         nBuckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxTokensPerBatch > 0, s"need a positive budget, got $maxTokensPerBatch")
    require(lenBucket > 0, s"need a positive bucket width, got $lenBucket")
    val h = docs.select(id.as("doc_id"),
        wsTokenCount(text).as("n_tokens"),
        fingerprint(norm(text)).as("_hk"))
      // `div`, not floor(double /): exact at any magnitude (a double
      // quotient can round up across the floor boundary near 2^53)
      .withColumn("bucket", expr(s"n_tokens div ${lenBucket}L"))
      .withColumn("_bkt", rangeBucket(col("_hk"), nBuckets))
    val wOff = Window.partitionBy(col("bucket")).orderBy(col("_bkt"))
    val offsets = h.groupBy("bucket", "_bkt")
      .agg(sum(col("n_tokens")).as("_sub"))
      .withColumn("_off", sum(col("_sub")).over(wOff) - col("_sub"))
      .select("bucket", "_bkt", "_off")
    val wIn = Window.partitionBy(col("bucket"), col("_bkt"))
      .orderBy(col("_hk"), col("doc_id"))
    h.join(offsets, Seq("bucket", "_bkt"))
      .withColumn("_prefix",
        col("_off") + sum(col("n_tokens")).over(wIn) - col("n_tokens"))
      .select(col("doc_id"), col("bucket"), col("n_tokens"),
        expr(s"_prefix div ${maxTokensPerBatch}L").as("batch_id"))
  }

  /** x86 — epoch-seeded training order: [[trainOrder]]'s reproducible
    * global permutation, independently reshuffled per epoch — the
    * between-epochs re-permutation every multi-epoch training run
    * applies (same data, different order each pass; see x73's epoch
    * budgets for WHICH data repeats). The salt must change the
    * MULTIPLIER, not add an offset: (hk + c) mod P preserves almost
    * every pairwise order (only the ~c/P fraction of pairs straddling
    * the wrap reorder — measured ZERO changed ranks on the sf0.01
    * corpus), so ek = hk·sₑ mod P with sₑ = 48271^(epoch+1) mod P —
    * a different full-period Lehmer bijection per epoch, thoroughly
    * order-scrambling. Exact integer arithmetic (products < 2⁶⁰,
    * inside BIGINT range), identical in any engine — epoch 0, 1, 2…
    * are distinct deterministic permutations reproducible with no RNG
    * state, and a resumed run re-derives the exact order of any
    * epoch. Same scale shape as trainOrder: [[rangeBucket]] over the
    * salted-hash domain, bucketed two-phase rank, no global sort.
    * Output: (doc_id, seq). */
  def epochOrder(docs: DataFrame, id: Column, text: Column, epoch: Long,
                 nBuckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(epoch >= 0, s"epoch must be non-negative, got $epoch")
    val h = docs.select(id.as("doc_id"), epochKey(text, epoch).as("_hk"))
      .withColumn("_bkt", rangeBucket(col("_hk"), nBuckets))
    val wOff = Window.partitionBy(pmod(col("_bkt"), lit(1L))).orderBy(col("_bkt"))
    val offsets = h.groupBy("_bkt").agg(count(lit(1)).as("_n"))
      .withColumn("_off", sum(col("_n")).over(wOff) - col("_n"))
      .select("_bkt", "_off")
    val wIn = Window.partitionBy(col("_bkt")).orderBy(col("_hk"), col("doc_id"))
    h.join(offsets, Seq("_bkt"))
      .select(col("doc_id"),
        (col("_off") + row_number().over(wIn)).as("seq"))
  }

  /** x85 (budgets half) — the data-recipe head: per-source token
    * budgets from temperature-smoothed corpus shares, budget_s =
    * ⌊(√share_s / Σ√share) · total⌋ (α = 0.5, the x54 smoothing — low-
    * resource sources get more than their raw share, dominant ones
    * less). Share ratios are exact-long divisions; the one cross-source
    * double sum (the normalizer Σ√share) is an ORDERED left fold over
    * the bounded source set (the x27 idiom), so budgets are
    * engine-reproducible. Output: (stratum, budget) — source-count
    * rows. */
  def recipeBudgets(docs: DataFrame, source: Column, text: Column,
                    totalBudget: Long): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    val st = docs.select(source.as("stratum"), wsTokenCount(text).as("_tok"))
      .groupBy("stratum").agg(sum(col("_tok")).as("_st"))
    val tt = st.agg(sum(col("_st")).as("_tt"))
    val w = st.crossJoin(broadcast(tt))
      .withColumn("w", sqrt(col("_st").cast(DoubleType) / col("_tt")))
    val z = w.agg(aggregate(array_sort(collect_list(struct(col("stratum"), col("w")))),
      lit(0.0), (a, x) => a + x.getField("w")).as("z"))
    w.crossJoin(broadcast(z))
      .select(col("stratum"),
        floor(col("w") / col("z") * lit(totalBudget.toDouble))
          .cast(LongType).as("budget"))
  }

  /** x85 (selection half) — [[tokenBudgetSample]] generalized to a
    * PER-STRATUM budget table: the same two-phase bucketed prefix sums
    * — per-bucket subtotals, exclusive offsets, then a running sum only WITHIN
    * (stratum, bucket) — with the budget joined per stratum (a
    * source-count-bounded frame; strategy left to AQE, the x36
    * discipline). Buckets whose offset already exceeds their stratum's
    * budget are dropped before the join so their documents never
    * shuffle into a sort. Composed with [[recipeBudgets]] this is the
    * recipe MATERIALIZER: the deterministic, RNG-free document
    * selection that realizes a target mixture at a token budget —
    * the last selection step before export. */
  def tokenBudgetSampleWeighted(docs: DataFrame, id: Column, text: Column,
                                strata: Column, budgets: DataFrame,
                                nBuckets: Int = 1024): DataFrame =
    budgetSample(docs, id, text, strata, nBuckets, Some(budgets),
      col("budget"))

  /** Per-stratum quota cap: keep at most `k` documents per stratum
    * (source domain, language, ...) ranked by quality descending with
    * doc_id as the deterministic tie-break — the "no single domain
    * dominates the corpus" cap every crawl-curation pipeline applies
    * after scoring. Output: (doc_id, stratum, quality, rank), rank in
    * [1, k].
    *
    * Scale shape: the `row_number <= k` predicate plans as a
    * WindowGroupLimit with a PARTIAL stage (pinned in PlanAuditSpec):
    * each map task pre-prunes to k rows per stratum BEFORE the
    * exchange, so the final per-stratum sort sees at most tasks × k
    * rows no matter how hot the domain — unlike a plain window rank,
    * which would sort an entire stratum in one task (the x37 ledger's
    * scale-killer class). Only (doc_id, stratum, quality) cross the
    * wire. */
  def capPerStratum(docs: DataFrame, id: Column, strata: Column,
                    quality: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("quality").desc, col("doc_id"))
    docs.select(id.as("doc_id"), strata.as("stratum"), quality.as("quality"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }

  /** Word-level vocabulary manifest: the `vocabSize` most frequent
    * terms with global term and document frequencies and contiguous
    * ids in (frequency desc, term) order — the truncated-vocab
    * construction step of tokenizer training (the word-level analog of
    * a BPE vocab pass), and the input contract for [[oovStats]].
    * Output: (token_id, term, tf, df), token_id 1-based dense.
    *
    * Scale shape: one (term)-keyed hash aggregation computes tf and df
    * together (map-side combinable — the shuffle carries one row per
    * distinct term per mapper, not per token); the top-V cut is a
    * TakeOrderedAndProject, and only THEN does the id-assigning global
    * window run — over a set bounded by the user constant V (one task
    * sorting ≤V rows, the same bounded-sequential-tail discipline as
    * x52's greedy). Nothing corpus-sized is ever globally sorted. */
  def buildVocab(docs: DataFrame, id: Column, text: Column,
                 vocabSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val tf = docs.select(id.as("doc_id"), explode(split(norm(text), " ")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term")).limit(vocabSize)
    tf.withColumn("token_id",
        // pmod(tf, 1): always-zero, non-foldable partition key (lit(0)
        // is constant-folded out, degrading to a warned global window);
        // the frame is the post-limit top-V set, so single-partition is
        // intended — this just makes it explicit in the plan
        row_number().over(Window.partitionBy(pmod(col("tf"), lit(1L)))
            .orderBy(col("tf").desc, col("term")))
          .cast(LongType))
      .select(col("token_id"), col("term"), col("tf"), col("df"))
  }

  /** Vocabulary-coverage stats: per document, the token count, how many
    * tokens fall outside `vocab`, and the out-of-vocabulary fraction —
    * the coverage eval every tokenizer/vocab choice is scored by
    * (high OOV = the vocab can't represent the corpus). `vocab` is one
    * `term` column, e.g. [[buildVocab]]'s output. Output:
    * (doc_id, n_tokens, oov_tokens, oov_frac).
    *
    * Scale shape: the token stream joins the vocab with a FORCED
    * broadcast — justified because a vocabulary is bounded by the user
    * constant V (32–100 K terms, a few MB), not by the corpus: the
    * bounded-side rule that x36's corpus-derived set failed. The only
    * shuffle is the doc-keyed count aggregation, map-side combinable,
    * carrying three longs per doc. The vocab is deduplicated before
    * the join — a duplicate term would fan the token stream out and
    * silently inflate every count. */
  def oovStats(docs: DataFrame, id: Column, text: Column,
               vocab: DataFrame): DataFrame =
    docs.select(id.as("doc_id"), explode(split(norm(text), " ")).as("term"))
      .join(broadcast(vocab.select(col("term")).dropDuplicates("term")
          .withColumn("_v", lit(true))),
        Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("_v").isNull, 1)).as("oov_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("oov_tokens"),
        round(col("oov_tokens").cast(DoubleType)
          / col("n_tokens").cast(DoubleType), 6).as("oov_frac"))

  /** The one BPE merge step both [[bpeMerges]] rounds and its spec
    * share: greedy leftmost non-overlapping replacement of the adjacent
    * symbol pair (l, r) by `m` — a LEFT FOLD over the symbol array
    * (acc starts as the first symbol; each next symbol either fuses
    * with acc's last element or appends), so "aaaa" under (a,a)→aa
    * becomes [aa, aa], never [aa, a, a]. Arrays of < 2 symbols pass
    * through untouched.
    *
    * The fold is O(n²) in array copies, and each training round runs it
    * over the WHOLE inventory — but in any one round the vast majority
    * of words don't contain the round's pair at all. A codegen'd
    * string-containment pre-gate skips the fold for those rows: a space
    * cannot occur inside a symbol (the inventory's words come from
    * splitting on spaces; `</w>` and merged concatenations are
    * space-free too), so the pair (l, r) is adjacent in `syms` iff
    * " l r " occurs in " " + join(syms, " ") + " ". Rows that fail the
    * gate pass through untouched — identical
    * semantics, measured 2.3×/1.6× faster x61/x63 medians at sf0.1. */
  private[text] def bpeMergeStep(syms: Column, l: String, r: String,
                                 m: String): Column = {
    val sep = " "
    val hasPair = concat(lit(sep), array_join(syms, sep), lit(sep))
      .contains(lit(sep + l + sep + r + sep))
    when(size(syms) < 2 || !hasPair, syms)
      .otherwise(aggregate(
        slice(syms, lit(2), size(syms) - 1),
        slice(syms, lit(1), lit(1)),
        (acc, x) => when(element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
          .otherwise(concat(acc, array(x)))))
  }

  /** Byte-pair-encoding merge-pair vocabulary (x61): the iterative
    * tokenizer-training pass [[buildVocab]] stops short of. Each word
    * starts as its character sequence plus a `</w>` end-of-word marker;
    * each round counts adjacent symbol pairs across the word inventory
    * (weighted by word frequency), merges the globally most frequent
    * pair (ties → lexicographic on the pair), and repeats — the merge
    * list IS the tokenizer artifact (apply merges in rank order to
    * encode any text; character fallback makes OOV structurally zero,
    * vs the word-level vocab's truncation OOV). Output: one row per
    * merge, (merge_rank, lft, rgt, merged, pair_count).
    *
    * Scale shape: the corpus is read ONCE, into a distinct-word
    * inventory (vocabulary-bounded — ~1e6 rows regardless of corpus
    * size, Heaps' law); all `nMerges` rounds run on that inventory. A
    * count over it picks the training form (see [[bpeTrain]]): at or
    * under [[BpeLocalInventory]] words every round runs on the driver,
    * ~2 Spark jobs in total instead of 2 per round; past it the rounds
    * stay distributed and the inventory never leaves the executors. */
  def bpeMerges(docs: DataFrame, id: Column, text: Column,
                nMerges: Int = 12): DataFrame =
    bpeMergesAt(docs, text, nMerges, BpeLocalInventory)

  /** [[bpeMerges]] with an explicit local-dispatch threshold —
    * package-private so the spec can force the distributed rounds on a
    * small corpus and assert both sides agree. */
  private[graft] def bpeMergesAt(docs: DataFrame, text: Column, nMerges: Int,
                                 localThreshold: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, words) = bpeTrain(docs, text, nMerges, localThreshold)
    words.unpersist()
    merges.toDF("merge_rank", "lft", "rgt", "merged", "pair_count")
  }

  /** Inventory size (distinct words) up to which BPE training runs its
    * merge rounds on the driver — the
    * [[graft.dedup.Dedup.CcLocalEdgeThreshold]] discipline. Heaps' law
    * puts web-scale vocabularies in the millions, and 2M words with
    * their symbol arrays is a bounded driver footprint. */
  val BpeLocalInventory: Long = 2000000L

  /** The (w, wc) distinct-word inventory — the single corpus read BPE
    * training starts from (vocabulary-bounded by Heaps' law). */
  private def wordInventory(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(norm(text), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wc"))

  // Spark's string orderBy is UTF-8 binary order; String.compareTo is
  // UTF-16 — they disagree on supplementary characters, so compare
  // raw UTF-8 bytes to replay the distributed argmax exactly
  private def u8lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-side BPE merge rounds over a collected (w, wc) inventory.
    * Returns (merge list, final symbol arrays aligned 1:1 with the
    * input order); bit-for-bit the distributed rounds' results
    * (TextOpsSpec pins both the merges and the encode route). */
  private def localMergeRounds(inv0: Array[(String, Long)], nMerges: Int)
      : (Seq[(Long, String, String, String, Long)], Array[Array[String]]) = {
    var syms: Array[Array[String]] =
      inv0.map(_._1.split("").filter(_.nonEmpty) :+ "</w>")
    val wcs: Array[Long] = inv0.map(_._2)
    def step(ss: Array[String], l: String, r: String, m: String): Array[String] = {
      if (ss.length < 2) return ss
      val buf = scala.collection.mutable.ArrayBuffer(ss(0))
      var i = 1
      while (i < ss.length) {
        if (buf.last == l && ss(i) == r) buf(buf.length - 1) = m
        else buf += ss(i)
        i += 1
      }
      buf.toArray
    }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      var wi = 0
      while (wi < syms.length) {
        val ss = syms(wi)
        val wc = wcs(wi)
        var i = 0
        while (i + 1 < ss.length) {
          val k = (ss(i), ss(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + wc
          i += 1
        }
        wi += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, rt), c) = counts.reduceLeft { (a, b) =>
          if (b._2 > a._2) b
          else if (b._2 < a._2) a
          else if (u8lt(b._1._1, a._1._1)) b
          else if (u8lt(a._1._1, b._1._1)) a
          else if (u8lt(b._1._2, a._1._2)) b
          else a
        }
        merges += ((r.toLong, l, rt, l + rt, c))
        syms = syms.map(ss => step(ss, l, rt, l + rt))
        r += 1
      }
    }
    (merges.toSeq, syms)
  }

  /** The BPE trainer both [[bpeMerges]] (which keeps the merge list)
    * and [[bpeEncode]] (which keeps the segmented inventory) run. ONE
    * distributed pass builds the (w, wc) inventory and a count over it
    * picks the form: at or under `localThreshold` words the inventory is
    * collected and every round runs on the driver (bit-for-bit equal to
    * the distributed rounds — same UTF-8-binary tie order as Spark's
    * orderBy, same leftmost-fold merge step), and the segmented
    * inventory is parallelized back (vocab-bounded — the
    * model-sized-broadcast license); past it the distributed rounds run.
    * Returns (merges, segmented (w, syms) inventory); a distributed
    * inventory is PERSISTED — the caller owns releasing it. */
  private def bpeTrain(docs: DataFrame, text: Column, nMerges: Int,
                       localThreshold: Long)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val inv0 = wordInventory(docs, text).persist()
    val trained =
      if (inv0.count() <= localThreshold) {
        val inv = inv0.collect().map(r => (r.getString(0), r.getLong(1)))
        val (merges, fin) = localMergeRounds(inv, nMerges)
        (merges, inv.zip(fin).toSeq
          .map { case ((w, _), ss) => (w, ss.toSeq) }
          .toDF("w", "syms"))
      } else bpeRounds(inv0.withColumn("syms",
        concat(split(col("w"), ""), array(lit("</w>")))).persist(), nMerges)
    inv0.unpersist()
    trained
  }

  /** The distributed merge-round loop over a persisted (w, wc, syms)
    * inventory — [[bpeTrain]]'s large-vocabulary branch. */
  private def bpeRounds(words0: DataFrame, nMerges: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    // the parent round's cache is released one round LATE: the argmax
    // collect below reads the current round through its cache (orderBy
    // scans every partition), so by the time round r's collect returns,
    // round r's inventory is fully materialized and round r−1 is safe
    // to drop — no extra count() job per round just to pin the cache
    var release: Option[DataFrame] = None
    while (r <= nMerges && !exhausted) {
      val best = words.filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("lft"), b.as("rgt")))).as("p"))
        .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
        .agg(sum(col("wc")).as("c"))
        .orderBy(col("c").desc, col("lft"), col("rgt"))
        .limit(1).collect()
      release.foreach(_.unpersist())
      release = None
      if (best.isEmpty) exhausted = true
      else {
        val (l, rt, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, l, rt, l + rt, c))
        val prev = words
        words = prev.withColumn("syms", bpeMergeStep(col("syms"), l, rt, l + rt))
          .persist()
        release = Some(prev)
        r += 1
      }
    }
    release.foreach(_.unpersist())
    (merges.toSeq, words)
  }

  /** Corpus BPE tokenization (x63) — APPLYING the tokenizer [[bpeMerges]]
    * trains: every document's words are segmented by the learned merge
    * sequence and the per-document BPE statistics come back:
    * (doc_id, n_words, n_bpe_tokens, sym_sum) where `sym_sum` is the
    * mod-P sum over word occurrences of the poly-fingerprint of the
    * word's space-joined segmentation — any word segmented differently
    * anywhere changes the sum, so the oracle's agreement certifies
    * every segmentation, not just the counts.
    *
    * Scale shape: segmentation happens ON THE INVENTORY (vocab-bounded,
    * the same rounds [[bpeMerges]] already runs — never per token), and
    * the corpus is tokenized by ONE equi-join of the word stream
    * against the segmented inventory (strategy left to AQE: a ~1e6-row
    * inventory broadcasts, a larger one shuffle-joins on the word key)
    * followed by one doc-keyed aggregation, map-side combinable. Per
    * token only (doc_id, word) cross the wire — the classic
    * dictionary-encode join shape. */
  def bpeEncode(docs: DataFrame, id: Column, text: Column,
                nMerges: Int = 12): DataFrame =
    bpeEncodeAt(docs, id, text, nMerges, BpeLocalInventory)

  /** [[bpeEncode]] with an explicit local-dispatch threshold (see
    * [[bpeMergesAt]]). */
  private[graft] def bpeEncodeAt(docs: DataFrame, id: Column, text: Column,
                                 nMerges: Int,
                                 localThreshold: Long): DataFrame = {
    val p = 1000000007L
    val segmented = bpeTrain(docs, text, nMerges, localThreshold)._2
      .select(col("w"), size(col("syms")).cast(LongType).as("_n"),
        fingerprint(array_join(col("syms"), " ")).as("_fp"))
    docs.select(id.as("doc_id"), explode(split(norm(text), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(segmented, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("_n")).as("n_bpe_tokens"),
        (sum(col("_fp")) % p).as("sym_sum"))
  }

  /** x97 — tokenizer economics per language: the "tokenizer parity"
    * report (a BPE trained on a mixed corpus segments some languages
    * into far more tokens per word than others — those languages pay
    * more compute per character of content and see less context per
    * window; measuring fertility per language is standard tokenizer QA,
    * cf. the multilingual-fertility analyses around mBERT/XGLM). Per
    * language: docs, whitespace words, BPE tokens (via the trained
    * [[bpeEncode]] rounds), normalized chars, and two ratios —
    * fertility = BPE tokens per word and chars_per_tok = normalized
    * chars per BPE token. All counts are exact integer sums; each ratio
    * is ONE IEEE division on the aggregated totals, so the oracle
    * agrees bit-for-bit. Documents whose normalized text is empty carry
    * no tokens and are excluded (nothing to tokenize — the
    * [[bpeEncode]] contract).
    *
    * Scale shape: [[bpeEncode]]'s inventory-bounded training + one
    * dictionary join, then ONE doc-keyed join against (lang, chars) and
    * ONE language-keyed aggregation — both map-side combinable; output
    * is one row per language. */
  def tokenizerEconomics(docs: DataFrame, id: Column, text: Column,
                         lang: Column, nMerges: Int = 12): DataFrame = {
    val perDoc = bpeEncode(docs, id, text, nMerges)
    val meta = docs.select(id.as("doc_id"), lang.as("lang"),
      length(norm(text)).cast(LongType).as("_chars"))
    perDoc.join(meta, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        sum(col("_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"),
        round(col("n_bpe_tokens").cast(DoubleType) / col("n_words"), 6)
          .as("fertility"),
        round(col("n_chars").cast(DoubleType) / col("n_bpe_tokens"), 6)
          .as("chars_per_tok"))
  }

  /** URL-domain manifest + blocklist gate: extract the host of each
    * document's FIRST http(s) URL (www-stripped), and aggregate the
    * per-domain document count with its blocklist verdict — the URL
    * filtering step every crawl-curation pipeline runs before content
    * heuristics (C4 §2.2's blocklist, RefinedWeb's URL scoring).
    * Documents without a URL are excluded (no host to attribute).
    * Output: (host, n_docs, blocked).
    *
    * Scale shape: host extraction is a codegen'd regexp projection; the
    * blocklist is a LITERAL `isin` predicate — compiled into the row
    * filter, not even a broadcast join, the cheapest possible form for
    * the list sizes real blocklists have (thousands of literals; past
    * ~100 K entries a broadcast join would take over). The only shuffle
    * is the host-keyed count, map-side combinable. The regex is
    * dialect-neutral (no lookarounds), so DuckDB's RE2 and Java's
    * engine agree on every capture. */
  def domainManifest(docs: DataFrame, id: Column, text: Column,
                     blocklist: Seq[String]): DataFrame = {
    val host = regexp_replace(
      regexp_extract(text, "https?://([^/\\s]+)", 1), "^www\\.", "")
    docs.select(id.as("doc_id"), host.as("host"))
      .filter(col("host") =!= "")
      .withColumn("blocked",
        if (blocklist.isEmpty) lit(false) else col("host").isin(blocklist: _*))
      .groupBy("host", "blocked")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("host"), col("n_docs"), col("blocked"))
  }

  /** Per-stratum quality percentile (SQL `percent_rank` semantics:
    * (rank − 1)/(n − 1), ties share a rank, a 1-row stratum scores
    * 0.0) — the per-source calibration step behind "keep the top 30%
    * of each source": absolute quality thresholds mean different
    * things per domain, percentiles don't. Output:
    * (doc_id, stratum, quality, pct_rank).
    *
    * Scale shape: NOT a per-stratum window over documents (the x37
    * one-task-sort killer). rank − 1 = the count of strictly-smaller
    * quality values, so: aggregate per-(stratum, quality) counts
    * (map-side combinable), turn them into exclusive running counts
    * with a window whose partitions hold one stratum's DISTINCT
    * quality values — corpus-INDEPENDENT for integer-valued signals
    * (token counts, rule hits; quantize real-valued scores first, as
    * any percentile calibration does anyway) — then join the small
    * rank table back on (stratum, quality) with no forced hint. The
    * per-stratum totals are a second tiny aggregate. Documents are
    * never sorted; only counted. */
  def qualityPercentiles(docs: DataFrame, id: Column, strata: Column,
                         quality: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = docs.select(id.as("doc_id"), strata.as("stratum"),
      quality.as("quality"))
    val counts = q.groupBy("stratum", "quality").agg(count(lit(1)).as("_c"))
    val below = counts.withColumn("_below",
      sum(col("_c")).over(
        Window.partitionBy(col("stratum")).orderBy(col("quality"))) - col("_c"))
    val totals = q.groupBy("stratum").agg(count(lit(1)).as("_n"))
    q.join(below.select("stratum", "quality", "_below"), Seq("stratum", "quality"))
      .join(totals, Seq("stratum"))
      .select(col("doc_id"), col("stratum"), col("quality"),
        round(when(col("_n") === 1, 0.0)
          .otherwise(col("_below").cast(DoubleType) / (col("_n") - 1)), 6)
          .as("pct_rank"))
  }

  /** Corpus-global first-wins line dedup (the exact-substring-dedup
    * policy of Lee et al. 2022 at line granularity): every normalized
    * line is kept ONLY at its globally first occurrence — lowest
    * (doc_id, pos) lexicographically — and struck everywhere else,
    * including later repeats inside the same document. Complements
    * [[removeBoilerplateLines]]: that removes high-document-frequency
    * furniture from ALL docs; this keeps exactly one copy of every
    * repeated line, the policy that preserves content while killing
    * cross-crawl duplication. Normalization maps whitespace-only lines
    * to one key, so only the corpus's first blank line survives —
    * deliberate: repeated structural blanks are duplication too. A
    * corollary: the op is idempotent on docs that keep at least one
    * line, but docs cleaned to "" re-enter a second pass as one shared
    * empty line (only the lowest-id one keeps it) — filter out
    * fully-emptied docs between passes, as any real pipeline does.
    * Output: (doc_id, n_lines, n_kept, cleaned, cleaned_fp), same shape
    * as [[removeBoilerplateLines]].
    *
    * Scale shape: the first-occurrence pick is ONE line-hash-keyed hash
    * aggregation carrying a (doc_id, pos) struct min — map-side
    * combinable, never a per-hash window sort — joined back on the long
    * hash with no forced hint (the first-occurrence table has one row
    * per DISTINCT line, corpus-proportional; AQE picks the strategy).
    * Reassembly is the same single doc_id-keyed aggregation as
    * removeBoilerplateLines; raw text crosses the wire exactly once.
    * Same persist + CACHE LIFETIME CONTRACT as removeBoilerplateLines:
    * both the min-pass and the probe side read the exploded+hashed line
    * relation, and callers clear the cache after consuming results. */
  def dedupLinesFirstWins(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val lines = docs.select(id.as("doc_id"),
        posexplode(split(text, "\n")).as(Seq("pos", "line")))
      .withColumn("lh", fingerprint(norm(col("line"))))
      .persist()
    val first = lines.groupBy("lh")
      .agg(min(struct(col("doc_id"), col("pos"))).as("_f"))
      .select(col("lh"), col("_f").getField("doc_id").as("_fd"),
        col("_f").getField("pos").as("_fp"))
    val isFirst = col("doc_id") === col("_fd") && col("pos") === col("_fp")
    lines.join(first, Seq("lh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        count(when(isFirst, 1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(isFirst,
            struct(col("pos"), col("line"))))),
          _.getField("line")), "\n").as("cleaned"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("cleaned"),
        fingerprint(col("cleaned")).as("cleaned_fp"))
  }

  /** Cross-document repeated-span removal — token-granular exact-substring
    * deduplication in the style of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr
    * variant): any k-token window whose exact text occurs in more than
    * one document is a duplicated span; its FIRST occurrence (lowest
    * (doc_id, start)) survives and every other occurrence's tokens are
    * cut from their documents. Complements [[dedupLinesFirstWins]]
    * (line-granular — misses spans that cross or sit inside lines) and
    * the x29 dup-n-gram gate (within-doc, score-only): this is the op
    * that removes verbatim boilerplate/licence blocks REPEATED ACROSS
    * the corpus while keeping each document's unique remainder, where
    * doc-level dedup would either keep both copies or drop whole
    * documents. Output: (doc_id, n_tokens, n_dup_tokens, kept_text).
    *
    * Scale shape: windows are a row-local explode (k tokens of overlap
    * per row — no self-join, no suffix array; the classic distributed
    * reformulation of the paper's suffix-array pass); the duplicated-
    * window test is one window-text-keyed hash aggregation (map-side
    * combinable min/count-distinct pair), coverage is an equi-join back
    * on that key followed by a doc-keyed position-set aggregation, and
    * the rebuild is a narrow per-row filter. Nothing is ever windowed
    * or sorted corpus-wide. `keyByHash` (the default, and what x65
    * verifies against the oracle) keys the dup aggregation and the
    * coverage join on xxhash64 of the window instead of the k-token
    * string — same plan shapes, ~k× fewer wire bytes per window row,
    * at the 2⁻⁶⁴-per-pair collision odds the MinHash tier already
    * lives with (the oracle cannot mirror xxhash64, but the hash never
    * reaches the output, so the compare certifies the end result;
    * SpanDedupSpec pins hash-key ≡ string-key on the test corpus).
    * `keyByHash = false` keeps the string key for a collision-free
    * audit run. */
  def spanDedup(docs: DataFrame, id: Column, text: Column, k: Int = 8,
                keyByHash: Boolean = true): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    // spread: the window explode + hash below is heavy narrow compute
    // and a single-row-group scan would run it on one task (guide §2.5);
    // eager persist: BOTH the window branch and the final coverage join
    // read this staging, and lazily-cached siblings race the cold cache
    val n = graft.ops.Spread.toCores(
        docs.select(id.as("doc_id"), split(norm(text), " ").as("ws")))
      .persist()
    n.count()
    // windows [s, s+k) as (start, text) structs; the greatest() guard
    // keeps sequence() non-decreasing for docs shorter than k, and the
    // filter drops the one spurious window those docs would emit
    val winArr = filter(
      transform(sequence(lit(0), greatest(size(col("ws")) - k, lit(0))),
        i => struct(i.as("s"), concat_ws(" ", slice(col("ws"), i + 1, lit(k))).as("w"))),
      x => x.getField("s") <= size(col("ws")) - k)
    val win = n.select(col("doc_id"), explode(winArr).as("x"))
      .select(col("doc_id"), col("x.s").as("s"),
        (if (keyByHash) xxhash64(col("x.w")) else col("x.w")).as("w"))
      // occurrence key: doc lengths stay far under 2^20, so this packs
      // (doc_id, start) into one orderable long for the first-wins argmin
      .withColumn("ok", col("doc_id") * lit(1048576L) + col("s"))
      .persist() // read twice: dup-window agg + coverage join
    win.count() // eager: the two sibling readers must scan, not race, it
    val dup = win.groupBy("w")
      .agg(countDistinct(col("doc_id")).as("_nd"), min(col("ok")).as("fk"))
      .filter(col("_nd") > 1)
      .select("w", "fk")
    val cov = win.join(dup, "w").filter(col("ok") =!= col("fk"))
      .select(col("doc_id"), explode(sequence(col("s"), col("s") + (k - 1))).as("p"))
      .groupBy("doc_id").agg(collect_set(col("p")).as("cps"))
    n.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ws")).cast(LongType).as("n_tokens"),
        coalesce(size(col("cps")), lit(0)).cast(LongType).as("n_dup_tokens"),
        concat_ws(" ", filter(col("ws"),
          (t, i) => !coalesce(array_contains(col("cps"), i), lit(false))))
          .as("kept_text"))
  }

  /** Encoding-quality gate + fixer (the ftfy/utf8-hygiene step every
    * web-scraped corpus runs before tokenization): per document,
    *  - `nfc_changed` — Unicode NFC composition alters the text
    *    (decomposed combining sequences; fixable, so it never rejects),
    *  - `n_repl` — U+FFFD replacement characters (an upstream decoder
    *    already destroyed bytes; unfixable),
    *  - `n_ctrl` — C0 control characters other than tab/newline/CR,
    *    plus DEL (binary junk in a text field),
    *  - `n_moji` — U+00C3/U+00C2 occurrences, the signature of UTF-8
    *    bytes re-decoded as Latin-1 ("Ã©" for "é"); repairable in
    *    principle but flagged for rejection like the rest,
    *  - `keep` — no replacement, control, or mojibake characters,
    *  - `nfc_text` — the NFC-composed text (the fix applied).
    * NFC runs through the native [[graft.plans.NfcNormalize]] expression
    * (Spark has no builtin normalizer; a UDF would break codegen); the
    * counters are builtin length/translate/regexp arithmetic. Output:
    * (doc_id, nfc_changed, n_repl, n_ctrl, n_moji, keep, nfc_text).
    *
    * Scale shape: one narrow codegen'd projection — zero shuffles,
    * zero corpus-derived state; scales with input splits like every
    * other per-document gate. */
  def unicodeGate(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val nRepl = (length(text) - length(replace(text, lit("\uFFFD"), lit(""))))
      .cast(LongType)
    val nCtrl = size(regexp_extract_all(text,
      lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"), lit(0))).cast(LongType)
    val nMoji = (length(text) - length(translate(text, "\u00c3\u00c2", "")))
      .cast(LongType)
    docs.select(id.as("doc_id"),
      (graft.plans.functions.nfc_normalize(text) =!= text).as("nfc_changed"),
      nRepl.as("n_repl"), nCtrl.as("n_ctrl"), nMoji.as("n_moji"),
      (nRepl === 0L && nCtrl === 0L && nMoji === 0L).as("keep"),
      graft.plans.functions.nfc_normalize(text).as("nfc_text"))
  }

  /** Hashed linear quality classifier (x72) — the fasttext-shaped
    * model-based filter of CCNet / LLaMA-style curation ("score every
    * document with a small linear classifier, keep above threshold"):
    * distinct word-bigram features through the native Lehmer feature
    * hasher, shared-weight buckets via mod `weights.length` (the
    * feature-hashing trick — collisions share a weight, the model never
    * materializes a vocabulary), one weight lookup + sum per document,
    * a normalized margin and a sign gate.
    *
    * `weights` is a TRAINED dense bucket→weight table (see
    * [[graft.text.Classifier]] — NB log-count-ratio init + integer
    * batch-perceptron polish on a rules-labeled fixture, persisted as a
    * parquet artifact both engines read). It rides into the plan as a
    * Literal — the Spark equivalent of broadcasting the model — so
    * scoring stays ONE codegen'd projection. Integer weights make the
    * per-document sum ORDER-INDEPENDENT and exact (no float-summation-
    * order divergence between engines); the single double division
    * happens once at the end, and the keep gate compares the exact
    * integer sum against zero (the trained decision boundary). Output:
    * (doc_id, n_feats, wsum, score, keep).
    *
    * Scale shape: one codegen'd projection (native feature hasher +
    * integer fold over a model-sized literal) — zero shuffles, zero
    * joins, no corpus-derived state; the classifier stage of a 100-TB
    * funnel runs at scan speed, which is why production pipelines can
    * afford to score everything. */
  /** The x72 feature set: distinct word-bigram hashes (the lexical
    * channel) PLUS three structural bucket tokens (length, stopword
    * hits, alpha-word ratio). Structural features exist because a bag
    * of bigram presences is structure-blind — it cannot express "this
    * document has ≥ 50 words" or "contains ≥ 2 stopwords", the two
    * signals that actually discriminate quality on real text — while a
    * shared bucket token (≤ 28 distinct values, hit by every document
    * in that band) is learnable by a linear model AND generalizes by
    * construction. Same trick fasttext quality filters use for
    * structural priors.
    *
    * The returned features are PRE-BUCKETED into a namespaced layout
    * (vowpal-wabbit-style): lexical hashes land in buckets
    * [0, dim−[[Classifier.StructDim]]) via pmod, structural tokens get
    * RESERVED direct bucket ids in the top [[Classifier.StructDim]]
    * slots. Without the reservation a lexical hash can collide with a
    * discriminatively-trained structural bucket and inherit its (large)
    * weight — on a small shared vocabulary one such collision corrupts
    * every document containing that bigram (observed: ~2% held-out
    * error from exactly this). All ids are < dim, so the serving-path
    * `pmod(h, dim)` in [[graft.plans.HashedWeightSum]] is a no-op on
    * them. */
  def classifierFeatures(text: Column, dim: Int = Classifier.Dim): Column = {
    require(dim > Classifier.StructDim,
      s"dim must exceed the reserved structural namespace (${Classifier.StructDim})")
    val lex = (dim - Classifier.StructDim).toLong
    val t = norm(text)
    val ws = split(t, " ")
    val nWords = size(ws)
    val lexF = transform(graft.plans.functions.bigram_token_hashes(t),
      h => pmod(h, lit(lex)))
    val fLen = lit(lex) +
      least(floor(nWords / lit(10)).cast(LongType), lit(12L))
    val stopHits = Seq(" the ", " a ", " of ", " and ", " to ", " in ")
      .map(m => when(padded(t).contains(m), 1L).otherwise(0L)).reduce(_ + _)
    val fStop = lit(lex + 13L) + least(stopHits, lit(3L))
    val alphaWords = size(filter(ws, w => w.rlike("[a-z]")))
    val fAlpha = lit(lex + 17L) +
      least(floor(alphaWords * lit(10) / nWords).cast(LongType), lit(10L))
    concat(lexF, array(fLen, fStop, fAlpha))
  }

  def classifierScore(docs: DataFrame, id: Column, text: Column,
                      weights: Array[Long]): DataFrame = {
    require(weights.nonEmpty, "weights must be a non-empty dense table")
    val feats = classifierFeatures(text, weights.length)
    // native weight-sum expression (graft.plans.HashedWeightSum): the
    // `aggregate` HOF form is CodegenFallback and would split the
    // scan projection's whole-stage-codegen span; empty array → 0
    val wsum = graft.plans.functions.hashed_weight_sum(feats,
      lit(weights))
    docs.select(id.as("doc_id"),
        size(feats).cast(LongType).as("n_feats"), wsum.as("wsum"))
      .withColumn("score", round(when(col("n_feats") === 0, lit(0.0))
        .otherwise(col("wsum").cast(DoubleType) / (col("n_feats") * 1000.0)), 6))
      .withColumn("keep", col("wsum") >= 0)
  }

  /** HTML→text extraction gate (x70) — the markup-mechanics core of the
    * trafilatura/jusText stage a crawl pipeline runs before any text
    * heuristic: strip `<script>`/`<style>` blocks (non-greedy, dotall)
    * and comments; convert BLOCK-LEVEL boundaries (`<br>`, closing
    * p/div/li/tr/h1–h6) to newlines so the extracted text keeps the
    * line structure the downstream line-grain gates (C4, boilerplate
    * strike) operate on; strip all remaining tags to spaces (tag
    * boundaries never fuse words); decode the six ubiquitous entities
    * with `&amp;` LAST (single-pass semantics: "&amp;lt;" decodes to
    * "&lt;", never "<"); collapse horizontal whitespace, collapse
    * newline runs, trim. The gate keeps a document iff
    * extracted-to-raw length ratio ≥ `minRatio` — a page that is
    * mostly markup/script carries no training text (jusText's
    * low-text-density rejection, reduced to its scale-relevant core).
    * Output: (doc_id, was_html, extracted, ratio, keep).
    *
    * Scale shape: ONE codegen'd projection over the scan — zero
    * shuffles, zero joins, zero corpus-derived state; at 100 TB this
    * runs at scan speed, which is exactly what the FIRST funnel stage
    * must do (cheapest per byte, biggest volume reduction). Every
    * pattern is dialect-exact between Java regex and RE2 (no
    * backreferences — script/style are two passes, not one with \\1 —
    * no lookarounds, explicit whitespace classes), so the DuckDB
    * oracle runs the SAME patterns verbatim. */
  def htmlExtract(docs: DataFrame, id: Column, text: Column,
                  minRatio: Double = 0.05): DataFrame = {
    val s1 = regexp_replace(text,
      "(?is)<script[^>]*>.*?</script[ \\t\\n\\r\\f]*>", " ")
    val s2 = regexp_replace(s1,
      "(?is)<style[^>]*>.*?</style[ \\t\\n\\r\\f]*>", " ")
    val s3 = regexp_replace(s2, "(?s)<!--.*?-->", " ")
    val s4 = regexp_replace(s3,
      "(?i)<(br|/p|/div|/li|/tr|/h[1-6])[^>]*>", "\n")
    val s5 = regexp_replace(s4, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(s5) { case (c, (k, v)) => replace(c, lit(k), lit(v)) }
    val h1 = regexp_replace(ent, "[ \\t\\r\\f]+", " ")
    val h2 = regexp_replace(h1, "[ ]*\\n[ \\n]*", "\n")
    // \z (end of TEXT) not $ — Java's $ also matches before a final
    // newline, RE2's does not; \z means the same thing in both
    val extracted = regexp_replace(h2, "^[\\n ]+|[\\n ]+\\z", "")
    val ratio = round(length(extracted).cast(DoubleType)
      / greatest(length(text), lit(1)).cast(DoubleType), 6)
    docs.select(id.as("doc_id"),
      text.rlike("<[^>]*>").as("was_html"),
      extracted.as("extracted"), ratio.as("ratio"))
      .withColumn("keep", col("ratio") >= minRatio)
  }

  /** URL canonicalization + canonical-URL dedup — the crawl-frontier /
    * post-fetch dedup step of web-corpus curation (the same page is
    * reachable under tracking-tagged, fragment-suffixed, case-varied,
    * default-ported, www-prefixed and trailing-slashed aliases; fetching
    * or keeping each alias multiplies the corpus for zero content).
    * Rules, applied in order and identically in the DuckDB oracle:
    * strip the #fragment; lowercase scheme://host:port; drop default
    * ports :80/:443; drop a leading "www."; strip one trailing slash
    * from a non-root path; drop utm_*, fbclid and gclid query params
    * (and the '?' when nothing survives). First doc_id per canonical
    * URL is the keeper. Output: (doc_id, url, canon_url, kept).
    *
    * Scale shape: canonicalization is a narrow codegen'd projection
    * (regex/string builtins only — RE2-compatible patterns, no
    * lookarounds, so the oracle runs them verbatim); the keeper pick is
    * one canon-keyed min aggregation (map-side combinable) joined back
    * on the same key — the exact-dedup shape with URL instead of
    * content digest. */
  def urlCanonicalize(docs: DataFrame, id: Column, url: Column): DataFrame = {
    val u = regexp_replace(url, "#.*$", "")
    val pre = regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    val rest = u.substr(length(pre) + 1, length(u))
    val cpre = regexp_replace(
      regexp_replace(lower(pre), ":(443|80)$", ""),
      "^(https?://)www\\.", "$1")
    val qpos = instr(rest, "?")
    val path = when(qpos > 0, rest.substr(lit(1), qpos - 1)).otherwise(rest)
    val q = when(qpos > 0, rest.substr(qpos + 1, length(rest))).otherwise(lit(""))
    val cpath = when(path =!= "/" && path.endsWith("/"),
      path.substr(lit(1), length(path) - 1)).otherwise(path)
    val cq = array_join(filter(split(q, "&"),
      x => length(x) > 0 && !x.rlike("^(utm_|fbclid=|gclid=)")), "&")
    val canon = concat(cpre, cpath,
      when(cq === "", "").otherwise(concat(lit("?"), cq)))
    // one exchange total (r20): hash-partitioning by the canonical URL
    // computes the regex canonicalization ONCE below a shuffle that BOTH
    // consumers reuse (ReuseExchange), and that same partitioning
    // satisfies the keeper aggregation AND the keeper join — neither
    // adds an exchange of its own
    val c = docs.select(id.as("doc_id"), url.as("url"), canon.as("canon_url"))
      .repartition(col("canon_url"))
    val keepers = c.groupBy("canon_url").agg(min(col("doc_id")).as("_keep"))
    c.join(keepers, "canon_url")
      .select(col("doc_id"), col("url"), col("canon_url"),
        (col("doc_id") === col("_keep")).as("kept"))
  }

  /** Temperature-balanced corpus sampling (the multilingual-pretraining
    * smoothing of Devlin et al. 2019 / Conneau & Lample 2019: sample
    * sources with probability ∝ share^α, α < 1, so low-resource
    * sources are up-weighted), made deterministic with the
    * Efraimidis–Spirakis weighted-reservoir key: each document draws a
    * content-hash uniform u ∈ (0, 1] and competes with key
    * u^(1/w) where w = share^(α−1) is its source's per-document
    * weight; the global top-n keys are the sample. α is fixed at 0.5 so
    * the weight is exactly 1/√share and the key ln-transform is
    * ln(u)·√share — `sqrt` and `ln` only, both correctly-rounded in
    * every engine (a general `pow` is the one libm call with
    * cross-engine ulp risk). The ln transform keeps the E–S order
    * (u^(1/w) is monotone in ln(u)/w = ln(u)·√share), so top-n by the
    * transformed key IS the E–S sample without replacement. Output:
    * (doc_id, source, n_tokens, samp_key), the n highest keys, ties →
    * lowest doc_id.
    *
    * Scale shape: one map-side-combinable per-source aggregation (rows
    * = #sources), a single-row total broadcast onto it, a join back on
    * source with NO forced hint (source cardinality is corpus-derived;
    * AQE broadcasts the realistic tens-of-sources case and degrades to
    * a shuffled join if someone feeds per-URL strata), and a global
    * top-n that plans as TakeOrderedAndProject — no global sort, no
    * windows, nothing corpus-sized on the driver. */
  def temperatureSample(docs: DataFrame, id: Column, text: Column,
                        source: Column, n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val p = 1000000007L
    val base = docs.select(id.as("doc_id"), source.as("source"),
      wsTokenCount(text).as("n_tokens"),
      fingerprint(norm(text)).as("_hk"))
    // per-source token mass; the totals row is genuinely 1 row → broadcast
    val src = base.groupBy("source")
      .agg(sum(col("n_tokens")).as("_src_tok"))
    val tot = src.agg(sum(col("_src_tok")).as("_tot"))
    val share = src.crossJoin(broadcast(tot))
      .select(col("source"),
        (col("_src_tok").cast(DoubleType) / col("_tot")).as("_share"))
    // u ∈ (0,1]: Lehmer-mixed content hash + doc_id, exact integer mod
    val u = (pmod(col("_hk") * 48271L + col("doc_id"), lit(p)) + 1L)
      .cast(DoubleType) / lit(1000000008.0)
    base.join(share, Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(log(u) * sqrt(col("_share")), 6).as("samp_key"))
      .orderBy(col("samp_key").desc, col("doc_id"))
      .limit(n)
  }

  /** C4-style line-and-page cleaning (Raffel et al. 2020 §2.2 — the
    * rules behind the C4 corpus, the line-grain companion to the
    * doc-grain [[gopherFlags]] gate): a line survives only if
    * its trimmed form ends in terminal punctuation ('.', '!', '?', '"'),
    * carries at least `minWords` whitespace tokens, and does not mention
    * "javascript"; a page passes only if it contains no "lorem ipsum",
    * no '{', and keeps at least `minKeptLines` lines. Survivor lines are
    * reassembled in original order. Output: (doc_id, n_lines, n_kept,
    * has_lorem, has_curly, page_pass, cleaned, cleaned_fp) — rejected
    * pages keep their cleaned text so callers can audit what the gate
    * dropped, and `page_pass` is the filter they apply.
    *
    * Scale shape: the page-level flags are computed on the un-exploded
    * text (one narrow scan), every line-level predicate is a pure
    * codegen'd projection on the exploded stream, and the only shuffle
    * is the doc_id-keyed reassembly aggregation — text crosses the wire
    * exactly once, no joins, no windows, nothing corpus-dependent to
    * broadcast. The cheapest shape a line-grain rule can have. */
  def c4LineClean(docs: DataFrame, id: Column, text: Column,
                  minWords: Int = 5, minKeptLines: Long = 3L): DataFrame = {
    val lines = docs.select(id.as("doc_id"),
        lower(text).contains("lorem ipsum").as("has_lorem"),
        text.contains("{").as("has_curly"),
        posexplode(split(text, "\n")).as(Seq("pos", "line")))
      .withColumn("_t", trim(col("line")))
      // split("") yields [""], so guard the empty line to 0 words
      .withColumn("_w", when(col("_t") === "", lit(0L))
        .otherwise(size(split(col("_t"), "\\s+")).cast(LongType)))
      .withColumn("_keep", col("_t").rlike("[.!?\"]$") &&
        col("_w") >= minWords && !lower(col("_t")).contains("javascript"))
    lines.groupBy("doc_id", "has_lorem", "has_curly")
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("_keep"), 1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("_keep"),
            struct(col("pos"), col("line"))))),
          _.getField("line")), "\n").as("cleaned"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("has_lorem"), col("has_curly"),
        (!col("has_lorem") && !col("has_curly") &&
          col("n_kept") >= minKeptLines).as("page_pass"),
        col("cleaned"), fingerprint(col("cleaned")).as("cleaned_fp"))
  }

  /** Blocklist scan (x114): per-pattern corpus totals for a fixed term
    * list — the C4-style badword gate's audit table (how often does each
    * blocked term fire, and over how many documents), generalizing the
    * reference's keyword filter (`producers/market_discovery.py:35-48`)
    * from 4 ad-hoc `contains` to an arbitrary-size pattern set.
    *
    * One Aho–Corasick pass per document ([[graft.plans.AcMatchCounts]]):
    * O(text + matches) REGARDLESS of pattern count, vs P `contains`
    * predicates scanning the text P times — at 100 TB with a realistic
    * multi-hundred-term blocklist that's the difference between a
    * scan-speed funnel stage and a P-pass one. Counts are all-occurrence
    * (overlapping included) and substring-grain, the automaton's natural
    * semantics; nested patterns each count at every end position.
    *
    * Scale shape: narrow codegen'd scan → posexplode to (pattern-index,
    * hits) → ONE partial-aggregated exchange of P rows per map
    * partition; the pattern strings themselves join back from a plan
    * literal (element_at on the constant array — no second input).
    * Output: (pattern, n_docs, n_hits). */
  def blocklistScan(docs: DataFrame, text: Column,
                    patterns: Seq[String]): DataFrame = {
    require(patterns.nonEmpty, "blocklistScan: empty pattern set")
    docs
      .select(posexplode(
        graft.plans.functions.ac_match_counts(text, patterns))
        .as(Seq("pidx", "hits")))
      .groupBy(col("pidx"))
      .agg(count(when(col("hits") > 0, 1)).as("n_docs"),
        sum(col("hits")).as("n_hits"))
      .select(
        element_at(lit(patterns.toArray), col("pidx").cast(IntegerType) + 1)
          .as("pattern"),
        col("n_docs"), col("n_hits"))
  }
}
