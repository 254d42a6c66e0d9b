package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Chunking semantics: window/stride arithmetic, overlap content, tail
  * handling — plus the repetition signal on a known boilerplate doc. */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("chunk: overlapping windows cover every token; overlap is chunkTokens - stride") {
    // 12 tokens a..l; 5-token windows every 3 → starts 0,3,6,9
    val doc = Seq((1L, ('a' to 'l').map(_.toString).mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.chunk(doc, col("doc_id"), col("text"),
        chunkTokens = 5, stride = 3)
      .orderBy("chunk_id")
      .select("chunk_id", "n_tokens", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(out.map(_._2).toSeq === Seq(5L, 5L, 5L, 3L)) // short tail kept
    assert(out(0)._3 === "a b c d e")
    assert(out(1)._3 === "d e f g h") // 2-token overlap with previous
    assert(out(3)._3 === "j k l")
    // every token appears in at least one chunk
    val covered = out.flatMap(_._3.split(" ")).toSet
    assert(covered === ('a' to 'l').map(_.toString).toSet)
  }

  test("chunk: a doc shorter than one window yields exactly one chunk") {
    val doc = Seq((1L, "only three tokens")).toDF("doc_id", "text")
    val out = TextOps.chunk(doc, col("doc_id"), col("text")).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_tokens") === 3L)
  }

  test("pack: spans tile each shard's token stream exactly; straddling docs split at the cut") {
    // one shard (nShards=1): docs of 3+4+6=13 tokens, seqLen 5 →
    // sequences 0..2; doc 2 (tokens [3,7)) straddles the 5-token cut
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "h i j k l m")).toDF("doc_id", "text")
    val out = TextOps.pack(docs, col("doc_id"), col("text"), seqLen = 5, nShards = 1)
      .orderBy("doc_id", "seq_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 0L, 3L),            // [0,3) in seq 0
      (2L, 0L, 2L), (2L, 1L, 2L), // [3,7) splits 2+2 at the cut
      (3L, 1L, 3L), (3L, 2L, 3L))) // [7,13) splits 3+3
    // per-sequence totals tile the stream: 5, 5, then the 3-token tail
    val bySeq = out.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._3).sum }
    assert(bySeq === Map(0L -> 5L, 1L -> 5L, 2L -> 3L))
  }

  test("packWithOffsets: segments tile each sequence contiguously from 0, never crossing seqLen") {
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "h i j k l m")).toDF("doc_id", "text")
    val out = TextOps.packWithOffsets(docs, col("doc_id"), col("text"),
      seqLen = 5, nShards = 1)
      .collect().map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("tok_off"), r.getAs[Long]("n_tok_in_seq")))
    out.groupBy(_._1).foreach { case (seq, spans) =>
      val sorted = spans.sortBy(_._2)
      // first segment starts at 0; each next starts where the previous ended
      val expected = sorted.map(_._4).scanLeft(0L)(_ + _).dropRight(1)
      assert(sorted.map(_._3).toSeq === expected.toSeq,
        s"seq $seq offsets not contiguous: ${sorted.toSeq}")
      assert(sorted.last._3 + sorted.last._4 <= 5L,
        s"seq $seq segment crosses seqLen: ${sorted.toSeq}")
    }
    // the straddling doc 2 starts seq 1 at offset 0, doc 3 follows at 2
    val seq1 = out.filter(_._1 == 1L).sortBy(_._2).map(s => (s._2, s._3)).toSeq
    assert(seq1 === Seq((2L, 0L), (3L, 2L)))
  }

  test("epochOrder: each epoch a complete permutation; different epochs genuinely reshuffle") {
    val docs = (1 to 120).map(i => (i.toLong, s"document number $i body"))
      .toDF("doc_id", "text")
    def order(e: Long) = TextOps.epochOrder(docs, col("doc_id"), col("text"), e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (e0, e1, e0again) = (order(0), order(1), order(0))
    // complete dense permutations
    assert(e0.values.toSeq.sorted === (1L to 120L), s"epoch 0 not a permutation")
    assert(e1.values.toSeq.sorted === (1L to 120L), s"epoch 1 not a permutation")
    // reproducible within an epoch, genuinely reshuffled across epochs
    assert(e0 === e0again, "epoch order not reproducible")
    val moved = e0.count { case (d, s) => e1(d) != s }
    // the additive-salt bug this pins: moved was ~0 of 120 (only
    // wrap-around pairs reorder); a per-epoch multiplier moves nearly all
    assert(moved > 100, s"epochs barely reshuffle: $moved/120 ranks moved")
  }

  test("rangeBucket: real multi-bucket dispersion over the poly-hash domain, order-monotone") {
    // the regression this pins: top-bits bucketing of a mod-2^30 hash
    // put EVERY row in bucket 0 (shiftright by 54 of a value < 2^54),
    // silently making the phase-2 window a single task
    val docs = (1 to 200).map(i => (i.toLong, s"document number $i text"))
      .toDF("doc_id", "text")
    val b = docs.select(TextOps.fingerprint(TextOps.norm(col("text"))).as("_hk"))
      .select(col("_hk"), TextOps.rangeBucket(col("_hk"), 1024).as("_bkt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val distinct = b.map(_._2).distinct
    assert(distinct.length > 50, s"bucketing degenerate: ${distinct.length} buckets for 200 docs")
    // order-monotone: sorting by bucket then hash equals sorting by hash
    val byHash = b.sortBy(_._1).toSeq
    val byBkt = b.sortBy(x => (x._2, x._1)).toSeq
    assert(byBkt === byHash, "bucket id is not a monotone function of the hash")
    assert(b.forall { case (_, bk) => bk >= 0 && bk < 1024 }, s"bucket out of range")
  }

  test("epochKey: every epoch's SALTED hash domain disperses across buckets (x86 runtime keys)") {
    // the x86-specific hazard the generic rangeBucket test can't see:
    // epochOrder buckets hk·sₑ mod P, not the raw fingerprint — a bad
    // seed (0, or one concentrating products into a narrow range) would
    // silently degrade the phase-2 rank window to few tasks while the
    // permutation stays CORRECT (one bucket is semantically the global
    // sort). Pin real dispersion of the exact runtime key, per epoch.
    val docs = (1 to 200).map(i => (i.toLong, s"document number $i text"))
      .toDF("doc_id", "text")
    (0L to 3L).foreach { e =>
      val b = docs
        .select(TextOps.rangeBucket(TextOps.epochKey(col("text"), e), 1024).as("_bkt"))
        .collect().map(_.getLong(0))
      assert(b.distinct.length > 50,
        s"epoch $e salted keys degenerate: ${b.distinct.length} buckets for 200 docs")
      assert(b.forall(bk => bk >= 0 && bk < 1024), s"epoch $e bucket out of range")
    }
  }

  test("tokenBudgetSampleWeighted: per-stratum bucket dispersion + order reconstruction (x85 runtime keys)") {
    // x85's phase-2 window partitions on (stratum, _bkt): assert each
    // stratum's admitted documents actually span many buckets (no
    // single-task sort hiding behind a planned exchange), and that the
    // reconstructed cum_tokens order within a stratum IS the global
    // (fingerprint, doc_id) order — the end-to-end property bucket
    // degeneration would mask.
    val docs = (1 to 200).map(i =>
        (i.toLong, s"src${i % 4}", s"document number $i body " + ("w " * (i % 5)).trim))
      .toDF("doc_id", "source", "text")
    val budgets = TextOps.recipeBudgets(docs, col("source"), col("text"),
      totalBudget = 100000L) // admits everything: dispersion over the full set
    val out = TextOps.tokenBudgetSampleWeighted(docs, col("doc_id"), col("text"),
        col("source"), budgets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(out.length === 200, s"budget should admit all: ${out.length}")
    // runtime key dispersion, per stratum (50 docs each → ~50 buckets)
    val keyed = docs
      .select(col("source"),
        TextOps.rangeBucket(TextOps.fingerprint(TextOps.norm(col("text"))), 1024).as("_bkt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    keyed.groupBy(_._1).foreach { case (src, rows) =>
      val nb = rows.map(_._2).distinct.length
      assert(nb > 40, s"stratum $src degenerate: $nb buckets for ${rows.length} docs")
    }
    // cum_tokens order within each stratum equals the global hash order
    val hashOf = docs
      .select(col("doc_id"), TextOps.fingerprint(TextOps.norm(col("text"))).as("hk"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.groupBy(_._2).foreach { case (src, rows) =>
      val byCum = rows.sortBy(_._3).map(_._1).toSeq
      val byHash = rows.map(_._1).sortBy(d => (hashOf(d), d)).toSeq
      assert(byCum === byHash, s"stratum $src: bucketed order != global hash order")
    }
  }

  test("sourceDrift: a source matching the corpus scores 0; disjoint vocab approaches ln2/2; bounded") {
    // one source = the whole corpus -> p == q exactly -> JS 0
    val solo = Seq((1L, "a", "x x y z"), (2L, "a", "x y y z"))
      .toDF("doc_id", "source", "text")
    val js0 = TextOps.sourceDrift(solo, col("source"), col("text"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(js0("a") === 0.0)
    // identical sources drift identically; an overlapping-but-reshaped
    // source sits between; a disjoint-vocab source diverges most
    // (expected values hand-computed: a=b 0.16684, d 0.175302, c 0.274358)
    val mixed = Seq(
      (1L, "a", "x x y z w"), (2L, "b", "x x y z w"),
      (3L, "d", "x y y z w"),
      (4L, "c", "qq rr ss tt qq rr ss tt uu vv")
    ).toDF("doc_id", "source", "text")
    val js = TextOps.sourceDrift(mixed, col("source"), col("text"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(js("a") === js("b"), "identical sources must drift identically")
    assert(js("a")._2 === 0.16684 && js("d")._2 === 0.175302
      && js("c")._2 === 0.274358, s"drift values off: $js")
    assert(js("c")._2 > js("d")._2 && js("d")._2 > js("a")._2)
    // JS over ln is bounded by ln 2
    assert(js.values.forall(v => v._2 >= 0.0 && v._2 <= math.log(2.0) + 1e-9))
    assert(js("a")._1 === 5L && js("c")._1 === 10L) // in-vocab token counts
  }

  test("paddingEfficiency: exact ceil-div layout; a full-length doc wastes nothing at its L") {
    // tokens: 3, 4, 10
    val docs = Seq((1L, "a b c"), (2L, "a b c d"),
      (3L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"))
      .toDF("doc_id", "text")
    val out = TextOps.paddingEfficiency(docs, col("doc_id"), col("text"),
        seqLens = Seq(4, 10))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // L=4: chunks 1+1+3 = 5 seqs, 17 tokens, 20-17=3 padding
    assert(out(4L) === ((5L, 17L, 3L, 0.85)), s"L=4 row off: ${out(4L)}")
    // L=10: chunks 1+1+1 = 3 seqs, 30 capacity, 13 padding
    assert(out(10L) === ((3L, 17L, 13L, math.rint(17.0 / 30 * 1e6) / 1e6)),
      s"L=10 row off: ${out(10L)}")
  }

  test("noveltyCurve: an exact copy adds zero novelty; disjoint content is fully novel") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"), // exact copy
      (2L, "zx qv wk jm completely disjoint sentence body")
    ).toDF("doc_id", "text")
    val out = TextOps.noveltyCurve(docs, col("doc_id"), col("text"), nBuckets = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // mx=2, bucket = doc_id * 3 div 3 = doc_id
    val (g0, n0, r0) = out(0L)
    assert(g0 === n0 && r0 === 1.0, s"first slice must be fully novel: ${out(0L)}")
    assert(out(1L) === ((g0, 0L, 0.0)), s"exact copy must add nothing: ${out(1L)}")
    val (g2, n2, r2) = out(2L)
    assert(g2 === n2 && r2 === 1.0, s"disjoint slice must be fully novel: ${out(2L)}")
    // curve totals: every distinct gram is owned exactly once
    assert(out.values.map(_._2).sum === g0 + g2)
  }

  test("recipeBudgets: sums within total, smoothing up-weights the low-resource source") {
    // src a: 9x the tokens of src b (one-word docs vs nine-word docs)
    val docs = Seq(
      (1L, "a", "w w w w w w w w w"), (2L, "a", "w w w w w w w w w"),
      (3L, "b", "w"), (4L, "b", "w")).toDF("doc_id", "source", "text")
    val b = TextOps.recipeBudgets(docs, col("source"), col("text"), totalBudget = 1000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(b.values.sum <= 1000L, s"budgets exceed total: $b")
    // raw shares: a = 0.9, b = 0.1 -> smoothed sqrt: 0.75 / 0.25 — b's
    // budget share must exceed its raw token share
    assert(b("b").toDouble / 1000 > 0.1, s"low-resource source not up-weighted: $b")
    assert(b("a") > b("b"), s"dominant source must still get more: $b")
  }

  test("tokenBudgetSampleWeighted with a constant budget table equals the scalar sampler") {
    val docs = (1 to 40).map(i =>
      (i.toLong, s"src${i % 4}", ("tok " * (i % 7 + 1)).trim))
      .toDF("doc_id", "source", "text")
    val scalar = TextOps.tokenBudgetSample(docs, col("doc_id"), col("text"),
      col("source"), budget = 15L)
      .select("doc_id", "stratum", "n_tokens", "cum_tokens")
      .collect().map(_.toSeq).toSet
    val budgets = docs.select(col("source").as("stratum")).distinct()
      .withColumn("budget", lit(15L))
    val weighted = TextOps.tokenBudgetSampleWeighted(docs, col("doc_id"),
      col("text"), col("source"), budgets)
      .select("doc_id", "stratum", "n_tokens", "cum_tokens")
      .collect().map(_.toSeq).toSet
    assert(weighted === scalar, s"forms disagree:\n$weighted\nvs\n$scalar")
  }

  test("signalAgreement: bin edges clamp (+1 -> 9, -1 -> 0), rates exact, unjoined docs drop") {
    val scores = Seq(
      (1L, 1.0), (2L, -1.0), (3L, 0.0), (4L, 0.0), (5L, 0.19), (6L, 0.21),
      (9L, 0.5) // no gate row: must not appear
    ).toDF("doc_id", "score")
    val gates = Seq(
      (1L, true), (2L, false), (3L, true), (4L, false), (5L, true), (6L, true)
    ).toDF("doc_id", "passes")
    val out = TextOps.signalAgreement(scores, gates)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(9L) === ((1L, 1L, 1.0)), s"score 1.0 must clamp to bin 9: $out")
    assert(out(0L) === ((1L, 0L, 0.0)), s"score -1.0 must clamp to bin 0: $out")
    // 0.0 and 0.19 land in bin 5 ([0, 0.2)); 0.21 in bin 6
    assert(out(5L) === ((3L, 2L, 0.666667)), s"bin 5 wrong: $out")
    assert(out(6L) === ((1L, 1L, 1.0)), s"bin 6 wrong: $out")
    assert(out.values.map(_._1).sum === 6L, s"unjoined doc leaked: $out")
  }

  test("pack: shards carry independent offsets") {
    // nShards=2: doc 1,3 → shard 1; doc 2,4 → shard 0 — each shard's
    // first doc starts at offset 0 (seq_id 0)
    val docs = Seq((1L, "a b"), (2L, "c d"), (3L, "e f"), (4L, "g h"))
      .toDF("doc_id", "text")
    val out = TextOps.pack(docs, col("doc_id"), col("text"), seqLen = 100, nShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 4)
    assert(out.forall(_._3 == 0L)) // everything fits in each shard's seq 0
    assert(out.map(r => r._1 -> r._2).toMap === Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("lmScore: repeated-context docs score higher than one with a unique continuation") {
    // "a b" appears in both docs; "a z" only once — doc 2's mean
    // log-prob must be lower (the LM finds "a z" surprising)
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "a b a z")).toDF("doc_id", "text")
    val out = TextOps.lmScore(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 === 5L) // 5 bigrams in a 6-token doc
    assert(out(2L)._1 === 3L)
    assert(out(1L)._2 > out(2L)._2)
    // single-word docs are out of scope (no bigram context)
    val single = TextOps.lmScore(Seq((9L, "word")).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    assert(single.count() === 0L)
  }

  test("ccnetBuckets: per-source exact terciles; a weak source still has a head") {
    // source A: 6 scoreable docs -> 2/2/2; source B: 2 docs -> terciles
    // (rn-1)*3 div 2 = 0,1 -> head, middle (never tail at n=2).
    // Repetition count of "a b" drives the LM score: more repeats of the
    // common bigram = higher mean log-prob = better rank.
    def doc(rep: Int, tail: String) = (("a b " * rep) + tail).trim
    val docs = Seq(
      (1L, doc(6, ""), "A"), (2L, doc(5, "a z"), "A"), (3L, doc(4, "a y"), "A"),
      (4L, doc(3, "a x"), "A"), (5L, doc(2, "a w"), "A"), (6L, doc(1, "a v"), "A"),
      (10L, doc(4, ""), "B"), (11L, doc(1, "a u"), "B"),
      (20L, "solo", "B") // unscoreable (no bigram): excluded
    ).toDF("doc_id", "text", "source")
    val got = TextOps.ccnetBuckets(docs, col("doc_id"), col("text"), col("source"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(3)))).toMap
    assert(got.size === 8) // doc 20 excluded
    assert(got(1L) === (("A", "head")) && got(2L) === (("A", "head")))
    assert(got(3L) === (("A", "middle")) && got(4L) === (("A", "middle")))
    assert(got(5L) === (("A", "tail")) && got(6L) === (("A", "tail")))
    // the weak source's best doc is ITS head, judged against itself
    assert(got(10L) === (("B", "head")) && got(11L) === (("B", "middle")))
  }

  test("zipfFit: a planted power law fits slope ~ -1 with high R2; flat spectrum guards") {
    // counts floor(60/rank) for 8 distinct words = a near-exact power law
    val words = ('a' to 'h').map(_.toString)
    val text = words.zipWithIndex
      .flatMap { case (w, i) => Seq.fill(60 / (i + 1))(w) }.mkString(" ")
    val got = TextOps.zipfFit(Seq(Tuple1(text)).toDF("text"), col("text"))
      .orderBy("rank").collect()
    assert(got.length === 8)
    val (slope, r2, nFit) = (got.head.getDouble(4), got.head.getDouble(6),
      got.head.getLong(7))
    assert(nFit === 8L)
    assert(slope < -0.9 && slope > -1.1, s"Zipf exponent ~ -1, got $slope")
    assert(r2 > 0.99, s"near-exact power law, got $r2")
    assert(got.head.getString(1) === "a" && got.head.getLong(2) === 60L)
    // flat spectrum: equal counts -> slope exactly 0, R2 guard 0
    val flat = TextOps.zipfFit(
      Seq(Tuple1("x y z x y z")).toDF("text"), col("text"))
      .collect().head
    assert(flat.getDouble(4) === 0.0 && flat.getDouble(6) === 0.0)
  }

  test("repetition: a constant-bigram doc scores 1.0, diverse text scores lower") {
    val docs = Seq(
      (1L, "spam spam spam spam spam"),          // one bigram repeated
      (2L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val out = TextOps.repetition(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) === 1.0)
    assert(out(2L) < 0.5)
  }

  test("removeBoilerplateLines strikes cross-doc repeated lines, keeps order, survives all-boilerplate docs") {
    // 6 docs share a header and footer (df = 6 >= 5); unique bodies stay.
    // doc 100 is ONLY boilerplate; doc 200 shares nothing (df = 1).
    val docs = ((0L until 6L).map { i =>
      (i, s"SHARED HEADER\nbody text number $i\nshared footer line")
    } :+ (100L, "SHARED  header\nshared FOOTER line") // normalization collides
      :+ (200L, "one of a kind line")).toDF("doc_id", "text")
    val out = TextOps.removeBoilerplateLines(docs, col("doc_id"), col("text"),
        minDocs = 5L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    (0L until 6L).foreach { i =>
      assert(out(i) === ((3L, 1L, s"body text number $i")))
    }
    // whitespace/case variants hash to the same normalized line
    assert(out(100L) === ((2L, 0L, "")))
    assert(out(200L) === ((1L, 1L, "one of a kind line")))
    spark.catalog.clearCache() // the op persists its line relation
  }

  test("removeBoilerplateLines keeps multi-line survivor order intact") {
    val boiler = (0L until 5L).map(i => (i, "ad banner"))
    val docs = (boiler :+ (9L, "first\nad banner\nsecond\nthird"))
      .toDF("doc_id", "text")
    val cleaned = TextOps.removeBoilerplateLines(docs, col("doc_id"), col("text"),
        minDocs = 5L)
      .filter(col("doc_id") === 9L).head().getString(3)
    assert(cleaned === "first\nsecond\nthird")
    spark.catalog.clearCache()
  }

  test("removeBoilerplateLines is idempotent: cleaning cleaned output removes nothing") {
    // after the strike, surviving lines kept their document frequency
    // (unique bodies stay unique), so a second pass is the identity
    val docs = ((0L until 6L).map { i =>
      (i, s"SHARED HEADER\nbody text number $i\nshared footer line")
    } :+ (200L, "one of a kind line")).toDF("doc_id", "text")
    val once = TextOps.removeBoilerplateLines(docs, col("doc_id"), col("text"),
      minDocs = 5L).select(col("doc_id"), col("cleaned").as("text"))
    val twice = TextOps.removeBoilerplateLines(once, col("doc_id"), col("text"),
        minDocs = 5L)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val first = once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(twice === first)
    spark.catalog.clearCache()
  }

  test("dedupLinesFirstWins keeps each line only at its first (doc_id, pos), including within-doc repeats") {
    val docs = Seq(
      (1L, "alpha\nbeta\nalpha"), // within-doc repeat: second alpha dies
      (2L, "beta\ngamma"),        // beta first seen in doc 1
      (3L, "beta"),               // whole doc already seen -> cleaned ""
      (4L, "")).toDF("doc_id", "text") // corpus's first empty line survives
    val out = TextOps.dedupLinesFirstWins(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((3L, 2L, "alpha\nbeta")))
    assert(out(2L) === ((2L, 1L, "gamma")))
    assert(out(3L) === ((1L, 0L, "")))
    assert(out(4L) === ((1L, 1L, "")))
    spark.catalog.clearCache()
  }

  test("dedupLinesFirstWins is idempotent and order-normalization-insensitive") {
    val docs = Seq(
      (1L, "alpha\nbeta"),
      (2L, "ALPHA  \ngamma")). // normalizes to doc 1's alpha -> struck
      toDF("doc_id", "text")
    val once = TextOps.dedupLinesFirstWins(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("cleaned").as("text"))
    val first = once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first === Map(1L -> "alpha\nbeta", 2L -> "gamma"))
    val twice = TextOps.dedupLinesFirstWins(once, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(twice === first)
    spark.catalog.clearCache()
  }

  test("spanDedup cuts a repeated 8-token span everywhere but its first (doc_id, start) occurrence") {
    val span = ('a' to 'h').map(_.toString).mkString(" ") // 8 tokens
    val docs = Seq(
      (1L, s"u1 u2 $span u3"),        // first occurrence (start 2) — keeps
      (2L, s"v1 $span v2 v3"),        // later occurrence — loses the span
      (3L, s"$span $span"),           // twice, both later — loses all 16
      (4L, "short doc")               // < k tokens: untouched
    ).toDF("doc_id", "text")
    val out = TextOps.spanDedup(docs, col("doc_id"), col("text"), k = 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out(1L) === ((11L, 0L, s"u1 u2 $span u3")))
    assert(out(2L) === ((11L, 8L, "v1 v2 v3")))
    assert(out(3L) === ((16L, 16L, "")), "fully-duplicated doc reduces to empty")
    assert(out(4L) === ((2L, 0L, "short doc")))
    spark.catalog.clearCache()
  }

  test("spanDedup hash-keyed shuffle (the 100-TB form) equals the string-keyed result") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // inject certain cross-doc spans (the x65 corpus shape) so the
    // equivalence is exercised on real removals, not just pass-through
    val injected = d.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 10000).as("doc_id"),
      concat_ws(" ", concat(lit("zq"), col("doc_id")),
        concat_ws(" ", slice(split(TextOps.norm(col("text")), " "), 1, 16)))
        .as("text"))
    val corpus = d.unionAll(injected)
    def run(hash: Boolean) =
      TextOps.spanDedup(corpus, col("doc_id"), col("text"), k = 8, keyByHash = hash)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq
    val hashed = run(true)
    val strings = run(false)
    assert(hashed === strings)
    assert(hashed.exists(_._3 > 0L), "fixture must remove something")
    spark.catalog.clearCache()
  }

  test("spanDedup is idempotent: a second pass over kept_text removes nothing") {
    val span = ('a' to 'h').map(_.toString).mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 $span u3"), (2L, s"v1 $span v2 v3"),
      (3L, s"$span $span"), (4L, s"w1 w2 w3 w4 w5 w6 w7 w8 w9")
    ).toDF("doc_id", "text")
    val first = TextOps.spanDedup(docs, col("doc_id"), col("text"), k = 8)
    val second = TextOps.spanDedup(first, col("doc_id"), col("kept_text"), k = 8)
      .collect()
    assert(second.forall(_.getAs[Long]("n_dup_tokens") == 0L),
      "surviving spans are unique by construction — nothing left to cut")
    spark.catalog.clearCache()
  }

  test("urlCanonicalize collapses every alias class to one canonical form, keeps the lowest doc_id") {
    val docs = Seq(
      (1L, "https://WWW.Example.com:443/page/3/?utm_source=feed&ref=1#top"),
      (2L, "https://example.com/page/3?ref=1"),      // alias of doc 1
      (3L, "http://Site.org:80/a"),
      (4L, "http://site.org/a/?utm_campaign=x&gclid=1"), // alias of doc 3
      (5L, "https://example.com/page/3?ref=2"),      // different param VALUE — distinct
      (6L, "https://example.com/"),                  // root slash is kept
      (7L, "https://example.com/?utm_source=x")      // all params tracked away
    ).toDF("doc_id", "url")
    val out = TextOps.urlCanonicalize(docs, col("doc_id"), col("url"))
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    assert(out(1L)._1 === "https://example.com/page/3?ref=1")
    assert(out(2L)._1 === out(1L)._1)
    assert(out(1L)._2 && !out(2L)._2, "lowest doc_id keeps")
    assert(out(3L)._1 === "http://site.org/a")
    assert(out(4L)._1 === out(3L)._1 && !out(4L)._2)
    assert(out(5L)._2, "a different query value is a different page")
    assert(out(6L)._1 === "https://example.com/", "root path keeps its slash")
    assert(out(7L)._1 === "https://example.com/" && !out(7L)._2,
      "tracking-only query collapses onto the bare root")
    spark.catalog.clearCache()
  }

  test("unicodeGate: each artifact class counted; NFC change alone never rejects; fix applied") {
    val docs = Seq(
      (1L, "clean ascii text"),
      (2L, "accent cafe\u0301 here"),   // decomposed combining sequence
      (3L, "broken \uFFFD decode"),     // replacement char
      (4L, "moji \u00c3\u00a9 here"),   // UTF-8-as-Latin-1 signature
      (5L, "ctrlchar"),           // C0 control
      (6L, "tabs\tand\nnewlines fine")
    ).toDF("doc_id", "text")
    val out = TextOps.unicodeGate(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out(1L).getBoolean(1) && out(1L).getBoolean(5))
    assert(out(2L).getBoolean(1) && out(2L).getBoolean(5),
      "NFC-changed is fixable — gate keeps the doc")
    assert(out(2L).getString(6) === "accent caf\u00e9 here", "fix applied")
    assert(out(3L).getLong(2) === 1L && !out(3L).getBoolean(5))
    assert(out(4L).getLong(4) === 1L && !out(4L).getBoolean(5))
    assert(out(5L).getLong(3) === 1L && !out(5L).getBoolean(5))
    assert(out(6L).getBoolean(5), "tab/newline/CR are not control junk")
    spark.catalog.clearCache()
  }

  test("tokenBudgetSample admits docs in hash order until the stratum budget, deterministically") {
    val docs = Seq(
      (1L, "a", "one two three"),        // 3 tokens each, stratum a
      (2L, "a", "four five six"),
      (3L, "a", "seven eight nine"),
      (4L, "b", "ten eleven")            // stratum b alone, 2 tokens
    ).toDF("doc_id", "source", "text")
    def run() = TextOps.tokenBudgetSample(docs, col("doc_id"), col("text"),
        col("source"), budget = 6L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    val out = run()
    // stratum a: exactly two of the three 3-token docs fit in budget 6 —
    // WHICH two is fixed by content hash, not input order
    assert(out.count(_._2 == "a") === 2)
    assert(out.filter(_._2 == "a").map(_._3).toSeq.sorted === Seq(3L, 6L))
    // stratum b: its one doc fits
    assert(out.exists(p => p._1 == 4L && p._3 == 2L))
    // deterministic across runs and input orders
    assert(run() === out)
    val shuffled = TextOps.tokenBudgetSample(docs.orderBy(rand(42)),
        col("doc_id"), col("text"), col("source"), budget = 6L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    assert(shuffled === out)
  }

  test("tokenBudgetSample bucketed prefix sum equals a single-window running sum") {
    // 300 docs over 3 skewed strata, random-ish lengths; tiny bucket
    // count (4) forces many stratum-spanning bucket boundaries so the
    // offset phase is genuinely exercised, not a one-bucket degenerate
    import org.apache.spark.sql.expressions.Window
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0L until 300L).map { i =>
      val n = 1 + ((i * 2654435761L) % 7L).toInt.abs
      val text = (0 until n).map(j => words(((i + j * 13) % 6).toInt)).mkString(" ")
      val stratum = if (i % 10 < 7) "big" else if (i % 10 < 9) "mid" else "small"
      (i, stratum, text)
    }.toDF("doc_id", "source", "text")
    val budget = 120L
    def collected(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val bucketed = collected(TextOps.tokenBudgetSample(docs, col("doc_id"),
      col("text"), col("source"), budget, nBuckets = 4))
    // the pre-rewrite formulation: one window over the whole stratum
    val h = docs.select(col("doc_id"), col("source").as("stratum"),
      TextOps.wsTokenCount(col("text")).as("n_tokens"),
      TextOps.fingerprint(TextOps.norm(col("text"))).as("_hk"))
    val w = Window.partitionBy(col("stratum")).orderBy(col("_hk"), col("doc_id"))
    val reference = collected(h
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select("doc_id", "stratum", "n_tokens", "cum_tokens"))
    assert(bucketed === reference)
    assert(bucketed.nonEmpty)
    // every stratum stopped within budget
    assert(bucketed.forall(_._4 <= budget))
  }

  test("tokenBudgetSample degenerate cases: zero budget, one stratum, empty input") {
    val docs = Seq((1L, "only", "a b c"), (2L, "only", "d e"))
      .toDF("doc_id", "source", "text")
    assert(TextOps.tokenBudgetSample(docs, col("doc_id"), col("text"),
      col("source"), budget = 0L).count() === 0L)
    // a single stratum still splits across hash buckets without loss
    val all = TextOps.tokenBudgetSample(docs, col("doc_id"), col("text"),
        col("source"), budget = 100L)
      .collect().map(_.getLong(3)).sorted.toSeq
    assert(all.last === 5L && all.length === 2)
    assert(TextOps.tokenBudgetSample(docs.filter(col("doc_id") < 0),
      col("doc_id"), col("text"), col("source"), budget = 10L).count() === 0L)
  }

  test("c4LineClean: each line rule and each page rule fires exactly where it should") {
    val docs = Seq(
      (1L, "this line has five good words.\nshort one.\n" +
        "no punctuation here at all\nplease enable JavaScript for this site.\n" +
        "another line with many proper words!\n" +
        "he said \"it ends with a quote\""),
      (2L, "lorem ipsum is in this document line.\n" +
        "a perfectly fine sentence with words."),
      (3L, "code { x }\na perfectly fine sentence with words.\n" +
        "second fine sentence with enough words.\n" +
        "third fine sentence with enough words."),
      (4L, "")).toDF("doc_id", "text")
    val out = TextOps.c4LineClean(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getString(6)))).toMap
    // doc 1: 6 lines; drops = 2-word line, unpunctuated line, javascript
    // line (case-insensitive); keeps = terminal . ! and " lines
    assert(out(1L) === ((6L, 3L, false, false, true,
      "this line has five good words.\nanother line with many proper words!\n" +
        "he said \"it ends with a quote\"")))
    // doc 2: the lorem line PASSES line rules but fails the page
    assert(out(2L)._2 === 2L && out(2L)._3 && !out(2L)._5)
    // doc 3: three kept lines, but the curly-brace page rule fails it
    assert(out(3L) === ((4L, 3L, false, true, false,
      "a perfectly fine sentence with words.\n" +
        "second fine sentence with enough words.\n" +
        "third fine sentence with enough words.")))
    // doc 4: one empty line, nothing kept
    assert(out(4L)._1 === 1L && out(4L)._2 === 0L && !out(4L)._5)
  }

  test("capPerStratum keeps exactly top-k per stratum, quality desc, id tie-break") {
    // stratum A: 5 docs, quality = doc_id; stratum B: 2 docs equal quality
    val docs = ((1L to 5L).map(i => (i, "A", i * 10L)) ++
      Seq((10L, "B", 7L), (11L, "B", 7L))).toDF("doc_id", "src", "q")
    val out = TextOps.capPerStratum(docs, col("doc_id"), col("src"), col("q"), k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    // A keeps ids 5,4,3 (highest quality); B keeps both, tie -> lower id first
    assert(out === Set((5L, "A", 1L), (4L, "A", 2L), (3L, "A", 3L),
      (10L, "B", 1L), (11L, "B", 2L)))
  }

  test("c4LineClean is idempotent on cleaned text: every kept line still passes") {
    // the keep predicate is intrinsic to a line, so re-cleaning cleaned
    // output keeps exactly the same lines
    val docs = Seq(
      (1L, "this line has five good words.\nshort one.\n" +
        "another line with many proper words!"),
      (2L, "no punctuation here at all\ndrop me.\n" +
        "a perfectly fine sentence with words.")).toDF("doc_id", "text")
    val once = TextOps.c4LineClean(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("cleaned").as("text"))
    val twice = TextOps.c4LineClean(once, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(6)))).toMap
    val first = once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    first.foreach { case (id, cleaned) =>
      assert(twice(id)._2 === cleaned)
      assert(twice(id)._1 === (if (cleaned.isEmpty) 0L
        else cleaned.split("\n", -1).length.toLong))
    }
  }

  test("buildVocab with vocabSize above the distinct-term count returns every term, ids dense") {
    // adversarial: the top-V cut must not pad, and the id window must
    // stay dense 1..n over the short set
    val docs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma")).toDF("doc_id", "text")
    val v = TextOps.buildVocab(docs, col("doc_id"), col("text"), vocabSize = 10000)
      .orderBy("token_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(v.map(_._2).toSet === Set("alpha", "beta", "gamma"))
    assert(v.map(_._1).toSeq === Seq(1L, 2L, 3L), "token ids dense from 1")
    assert(v.head._2 === "alpha" && v.head._3 === 2L, "freq desc, term tie-break")
    // and a vocab that covers everything yields zero OOV
    val oov = TextOps.oovStats(docs, col("doc_id"), col("text"),
      TextOps.buildVocab(docs, col("doc_id"), col("text"), 10000).select("term"))
      .agg(sum("oov_tokens")).head().getLong(0)
    assert(oov === 0L)
  }

  test("bpeMergeStep is greedy leftmost non-overlapping: aaaa -> [aa, aa]") {
    val df = Seq(Tuple1(Seq("a", "a", "a", "a")), Tuple1(Seq("a", "a", "a")),
      Tuple1(Seq("b", "a", "a")), Tuple1(Seq("a")), Tuple1(Seq.empty[String]))
      .toDF("syms")
    val out = df.select(TextOps.bpeMergeStep(col("syms"), "a", "a", "aa").as("m"))
      .collect().map(_.getSeq[String](0).toList)
    assert(out.toList === List(List("aa", "aa"), List("aa", "a"),
      List("b", "aa"), List("a"), Nil))
  }

  test("bpeMerges learns the dominant pair first, frequency-weighted, ties lexicographic") {
    // "ab" appears in 3 distinct words with total weight 5; end-marker
    // pairs are each <= 3 -> (a,b) must be merge 1 with count 5
    val docs = Seq((1L, "abc abd ab abc abc"), (2L, "xy xy xz"))
      .toDF("doc_id", "text")
    val m = TextOps.bpeMerges(docs, col("doc_id"), col("text"), nMerges = 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(m.head === ((1L, "a", "b", "ab", 5L)))
    // the merged symbol participates in later rounds as a unit
    assert(m.map(_._4).distinct.length === 3)
  }

  // tie-heavy corpus: equal pair counts force the lexicographic
  // tie-break path; mixed words exercise the merged-symbol rounds. The
  // early-stop corpus runs out of pairs before nMerges.
  private def bpeCorpora = Seq(
    Seq((1L, "abc abd ab abc abc ba ba cab"),
      (2L, "xy xy xz zz zz"), (3L, "q qq qqq")).toDF("doc_id", "text") -> 8,
    Seq((1L, "aa aa aa")).toDF("doc_id", "text") -> 10)

  test("bpeMerges: the driver rounds and the distributed rounds agree (ties, early stop)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("merge_rank").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    bpeCorpora.foreach { case (docs, n) =>
      val local = rows(TextOps.bpeMerges(docs, col("doc_id"), col("text"), nMerges = n))
      // threshold 0: every inventory overflows it, so the rounds stay distributed
      val dist = rows(TextOps.bpeMergesAt(docs, col("text"), n, localThreshold = 0L))
      assert(local.nonEmpty && local === dist, s"dispatch sides diverged:\n$local\nvs\n$dist")
    }
  }

  test("bpeEncode: the driver rounds and the distributed rounds agree (ties, early stop)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    bpeCorpora.foreach { case (docs, n) =>
      val local = rows(TextOps.bpeEncode(docs, col("doc_id"), col("text"), nMerges = n))
      val dist = rows(TextOps.bpeEncodeAt(docs, col("doc_id"), col("text"), n,
        localThreshold = 0L))
      spark.catalog.clearCache()
      assert(local.nonEmpty && local === dist, s"dispatch sides diverged:\n$local\nvs\n$dist")
    }
  }

  test("bpeMerges stops early when the inventory is fully merged") {
    val docs = Seq((1L, "aa aa aa")).toDF("doc_id", "text")
    // word "aa" = [a, a, </w>]: 2 merges collapse it to one symbol;
    // requesting 10 must return exactly the feasible merges
    val m = TextOps.bpeMerges(docs, col("doc_id"), col("text"), nMerges = 10)
    assert(m.count() === 2L)
  }

  test("bpeEncode: fully-merged words collapse to one token; counts bounded by chars+1") {
    // "aa" collapses to a single symbol after its 2 feasible merges
    val tiny = Seq((1L, "aa aa aa"), (2L, "aa")).toDF("doc_id", "text")
    val enc = TextOps.bpeEncode(tiny, col("doc_id"), col("text"), nMerges = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(enc(1L) === ((3L, 3L)), "3 words, 1 BPE token each")
    assert(enc(2L) === ((1L, 1L)))
    spark.catalog.clearCache()
    // on a mixed corpus: per-word token count stays within [1, chars+1]
    val docs = Seq((1L, "alpha beta alpha gamma"), (2L, "beta beta delta"))
      .toDF("doc_id", "text")
    val out = TextOps.bpeEncode(docs, col("doc_id"), col("text"), nMerges = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (_, nWords, nBpe) =>
      assert(nBpe >= nWords, "every word is at least one token")
    }
    assert(out.map(_._2).sum === 7L, "every word occurrence encoded")
    spark.catalog.clearCache()
  }

  test("BPE vocab reading: char fallback drops OOV to zero where the word vocab truncates; merges compress") {
    // fixture: skewed word frequencies so a small word vocab truncates
    val docs = (1L to 40L).map { i =>
      (i, if (i % 2 == 0) "the cat sat on the mat" else s"rare${i}word unique${i}term")
    }.toDF("doc_id", "text")
    // word-level vocab of 6 terms: every odd doc is fully OOV
    val wordVocab = TextOps.buildVocab(docs, col("doc_id"), col("text"), vocabSize = 6)
    val wordOov = TextOps.oovStats(docs, col("doc_id"), col("text"), wordVocab)
      .agg(sum("oov_tokens").cast("double") / sum("n_tokens")).head().getDouble(0)
    assert(wordOov > 0.2, s"fixture should truncate hard, got $wordOov")
    // BPE: apply the learned merges in rank order to the word inventory;
    // every surviving symbol is in (merges ∪ single chars ∪ </w>) -> OOV 0.
    // Encoding runs driver-side on the COLLECTED inventory: 12 chained
    // bpeMergeStep columns would nest aggregate() HOFs 12 deep, and each
    // level references syms several times — an exponentially-expanding
    // expression tree the optimizer chokes on (the operator itself
    // persists between rounds, so Catalyst only ever sees one level).
    val merges = TextOps.bpeMerges(docs, col("doc_id"), col("text"), nMerges = 12)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    def mergeOnce(syms: List[String], l: String, r: String, m: String): List[String] =
      syms.drop(1).foldLeft(List(syms.head)) { (acc, x) =>
        if (acc.last == l && x == r) acc.init :+ m else acc :+ x
      }
    val inventory = docs.select(explode(split(TextOps.norm(col("text")), " ")).as("w"))
      .filter(col("w") =!= "").distinct().collect().map(_.getString(0))
    val encoded = inventory.map { w =>
      w -> merges.foldLeft(w.split("").toList :+ "</w>") { case (syms, (l, r, m)) =>
        if (syms.length < 2) syms else mergeOnce(syms, l, r, m)
      }
    }
    val known = merges.map(_._3).toSet + "</w>"
    val oov = encoded.flatMap(_._2).filter(s => s.length > 1 && !known.contains(s))
    assert(oov.isEmpty, s"multi-char symbols outside the merge vocab: ${oov.take(5).toList}")
    // compression: total symbols/word after merges < chars+1 baseline
    val before = encoded.map(_._1.length + 1).sum.toDouble
    val after = encoded.map(_._2.length).sum.toDouble
    assert(after < before * 0.8,
      s"12 merges should compress the inventory >20%: $after vs $before")
  }

  test("epochPlan: cap binds on small sources, deficit reported, zero-token source all-deficit") {
    // budget 800, 4 sources -> 200 tokens target each.
    // big: 400 tokens -> 0.5 epochs, uncapped, no deficit
    // small: 20 tokens -> 10 epochs raw -> capped at 4, fill 80, deficit 120
    // empty: whitespace-only normalizes to 1 "token"? no — build from word counts
    val docs = Seq(
      (1L, "big", ("w " * 400).trim),
      (2L, "small", ("w " * 20).trim),
      (3L, "exact", ("w " * 50).trim) // 200/50 = 4.0 epochs — NOT capped (strict >)
    ).toDF("doc_id", "source", "text")
    val out = TextOps.epochPlan(docs, col("source"), col("text"), budgetTokens = 600L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(4), r.getDouble(6), r.getBoolean(7))).toMap
    // 3 sources, 600 budget -> 200 target each
    assert(out("big") === ((400L, 200.0, 0.5, 0.0, false)))
    assert(out("small") === ((20L, 200.0, 4.0, 120.0, true)))
    // exactly at the knee: 4.0 epochs fills the whole target, not capped
    assert(out("exact") === ((50L, 200.0, 4.0, 0.0, false)))
    spark.catalog.clearCache()
  }

  test("classifierScore: deterministic, word-order-sensitive features, case/space-insensitive, empty-doc guard") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "THE  Quick   BROWN fox"), // normalizes to doc 1's features
      (3L, "fox brown quick the"),    // same words, different bigrams
      (4L, "   "),                    // whitespace-only
      (5L, "single")                  // unigram fallback
    ).toDF("doc_id", "text")
    // small fixed weight table — the asserted properties (feature
    // identity under normalization, order sensitivity, margin/gate
    // arithmetic) hold for ANY dense weights; must be wider than the
    // reserved structural namespace (Classifier.StructDim = 64)
    val w = Array.tabulate(256)(b => (b % 7).toLong * 311 - 900)
    val out = TextOps.classifierScore(docs, col("doc_id"), col("text"), w)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    // normalization: docs 1 and 2 share features exactly
    assert(out(0)._2 === out(1)._2 && out(0)._3 === out(1)._3 && out(0)._4 === out(1)._4)
    // bigram features: reversed word order is a different document
    assert(out(2)._3 !== out(0)._3)
    // 3 distinct bigrams from 4 words + 3 structural tokens
    assert(out(0)._2 === 6L)
    // score is the normalized margin; keep is the exact integer sign
    out.foreach { case (_, n, w, s, k) =>
      if (n > 0) assert(math.abs(s - w.toDouble / (n * 1000.0)) < 1e-6)
      assert(k === (w >= 0L))
    }
    // degenerate docs still score (unigram fallback + structural tokens)
    assert(out(4)._2 === 4L)
  }

  test("htmlExtract: strips script/style/comments/tags, decodes entities amp-last, gates on ratio") {
    val docs = Seq(
      (1L, "<html><head><style>p{c}</style></head><body><h1>T</h1><p>hello world</p><script>if(x<2){y}</script><!-- c --></body></html>"),
      (2L, "plain text no markup"),
      (3L, "&amp;amp; &amp;lt; &lt;b&gt;"),
      (4L, "<script>" + "var v = 0; " * 40 + "</script><p>ok</p>"),
      (5L, "a<br>b\t c\n\nd")
    ).toDF("doc_id", "text")
    val out = TextOps.htmlExtract(docs, col("doc_id"), col("text"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4)))
    // script body with a '<' inside survives the non-greedy strip intact;
    // </h1> and </p> are block boundaries -> newlines survive extraction
    assert(out(0)._3 === "T\nhello world")
    assert(out(0)._2 && out(0)._5) // was_html, kept (ratio ~0.106)
    // no markup: identity, ratio 1.0
    assert(out(1) === ((2L, false, "plain text no markup", 1.0, true)))
    // single-pass entity decode: &amp;amp; -> &amp;, NEVER &
    assert(out(2)._3 === "&amp; &lt; <b>")
    assert(!out(2)._2) // entity-only text is not markup
    // mostly-script page fails the ratio gate
    assert(out(3)._3 === "ok")
    assert(!out(3)._5 && out(3)._4 < 0.05)
    // <br> becomes a line break; horizontal whitespace collapses to one
    // space; the \n\n run collapses to a single newline
    assert(out(4)._3 === "a\nb c\nd")
  }

  test("tokenizerEconomics: per-language exact counts and ratios; empty docs excluded") {
    // one merge: all pairs have count 1, the lexicographic tie-break
    // picks (a,b) -> "ab", so: ab = [ab </w>] (2 tokens), c = [c </w>]
    // (2), de = [d e </w>] (3) — hand-computable economics
    val docs = Seq(
      (1L, "ab c", "en"),  // words 2, bpe 2+2 = 4, chars 4
      (2L, "de", "fr"),    // words 1, bpe 3, chars 2
      (3L, "   ", "en")    // normalizes to "" -> no tokens -> excluded
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.tokenizerEconomics(docs, col("doc_id"), col("text"),
        col("lang"), nMerges = 1)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(out("en") === ((1L, 2L, 4L, 4L, 2.0, 1.0)), s"got ${out("en")}")
    assert(out("fr") === ((1L, 1L, 3L, 2L, 3.0, 0.666667)), s"got ${out("fr")}")
    assert(out.size === 2, "the empty doc must not create rows")
  }

  test("curriculumOrder: bands gate the permutation; dense seq; null band sorts first") {
    val docs = Seq(
      (1L, "late band doc", Some(1L)),
      (2L, "some early doc", Some(0L)),
      (3L, "another early doc", Some(0L)),
      (4L, "bandless doc", None: Option[Long])
    ).toDF("doc_id", "text", "band")
    val out = TextOps.curriculumOrder(docs, col("doc_id"), col("text"),
        col("band"), nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val seqOf = out.map(r => r._1 -> r._3).toMap
    assert(out.map(_._3).sorted.toSeq === Seq(1L, 2L, 3L, 4L), "seq is dense 1..N")
    assert(seqOf(4L) === 1L, "null band coalesces to Long.MinValue and leads")
    assert(seqOf(1L) === 4L, "highest band trains last")
    assert(Set(seqOf(2L), seqOf(3L)) === Set(2L, 3L))
    // within a band the order is the content-hash order, not doc order
    val hk = docs.filter(col("band") === 0L)
      .select(col("doc_id"), graft.plans.functions.poly_hash(
        TextOps.norm(col("text"))).as("hk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    assert(seqOf(hk(0)._1) === 2L && seqOf(hk(1)._1) === 3L)
    // row-order immunity: a repartitioned input derives the same permutation
    val reshuffled = TextOps.curriculumOrder(docs.repartition(7), col("doc_id"),
        col("text"), col("band"), nBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(reshuffled === seqOf, "permutation must be row-order immune")
  }

  test("inferenceBatchPlan: greedy fill per length bucket; bounded overshoot; row-order immune") {
    // bucket 0 (g = 8): three 5-token docs; bucket 1: one 10-token doc
    def words(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, words(5, "a")), (2L, words(5, "b")), (3L, words(5, "c")),
      (4L, words(10, "d"))
    ).toDF("doc_id", "text")
    val out = TextOps.inferenceBatchPlan(docs, col("doc_id"), col("text"),
        maxTokensPerBatch = 8L, lenBucket = 8, nBuckets = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(4L) === ((1L, 10L, 0L)), "long doc batches alone in its bucket")
    // bucket 0 in hash order: prefixes 0, 5, 10 -> batches 0, 0, 1
    val b0 = Seq(1L, 2L, 3L).map(out(_))
    assert(b0.forall(_._1 === 0L))
    assert(b0.map(_._3).sorted === Seq(0L, 0L, 1L),
      s"greedy fill must cut after two 5-token docs at budget 8: $b0")
    // batch totals never exceed budget + (max doc tokens - 1)
    val totals = out.values.groupBy(v => (v._1, v._3)).map(_._2.map(_._2).sum)
    assert(totals.forall(_ <= 8 + 10 - 1), s"overshoot bound violated: $totals")
    // row-order immunity
    val re = TextOps.inferenceBatchPlan(docs.repartition(5), col("doc_id"),
        col("text"), maxTokensPerBatch = 8L, lenBucket = 8, nBuckets = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(re === out)
  }

  test("pruningFrontier: equal-population deciles, non-increasing quality, conserved totals") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w = graft.text.Classifier.loadWeights(spark)
    val out = TextOps.pruningFrontier(docs, col("doc_id"), col("text"), w)
      .orderBy("decile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq === (0L until 10L), "all ten deciles populated")
    val pops = out.map(_._2)
    assert(pops.max - pops.min <= 1, s"equal population bands: ${pops.toSeq}")
    assert(pops.sum === docs.count(), "every document lands in exactly one band")
    // best-first ranking: mean score never increases along the curve
    out.map(_._4).sliding(2).foreach { case Array(a, b) =>
      assert(a >= b, s"frontier must be non-increasing: ${out.map(_._4).toSeq}")
    }
    // row-order immunity of the whole report
    val re = TextOps.pruningFrontier(docs.repartition(7), col("doc_id"),
        col("text"), w)
      .orderBy("decile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(re.toSeq === out.toSeq)
  }

  test("lzComplexity: hand-computed LZ78 parses; order-aware where entropy is blind") {
    val docs = Seq(
      (1L, "abababab"),  // a|b|ab|aba + trailing b  -> 5 phrases
      (2L, "aaaaaaaa"),  // a|aa|aaa + trailing aa   -> 4
      (3L, "qwertyui"),  // all distinct chars       -> 8
      (4L, "   ")        // normalizes empty         -> 0, ratio 0.0
    ).toDF("doc_id", "text")
    val out = TextOps.lzComplexity(docs, col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) === ((8L, 5L, 0.625)), s"got ${out(1L)}")
    assert(out(2L) === ((8L, 4L, 0.5)), s"got ${out(2L)}")
    assert(out(3L) === ((8L, 8L, 1.0)), s"got ${out(3L)}")
    assert(out(4L) === ((0L, 0L, 0.0)), s"got ${out(4L)}")
    // order-awareness: same char composition (32 a's, 32 b's), but the
    // tighter period parses into fewer phrases — entropy scores both
    // identically, the parse count separates them (15 vs 19)
    val periodic = TextOps.lzComplexity(
      Seq((8L, "ab" * 32), (9L, "abbabaab" * 8)).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(periodic(8L) === 15L && periodic(9L) === 19L, s"got $periodic")
  }

  test("filterAblation: cube algebra — grand total, fully-grouped cells partition, marginals consistent") {
    val good = "the quick brown fox jumps over a lazy dog and runs to the hills in spring " * 10
    val docs = Seq(
      (1L, good),                    // passes everything
      (2L, good),                    // passes everything
      (3L, "short text."),           // fails words_ok (and stops)
      (4L, ("#### " * 40) + good)    // symbol-heavy: fails sym_ok
    ).toDF("doc_id", "text")
    val out = TextOps.filterAblation(docs, col("doc_id"), col("text")).collect()
    val gates = Seq("words_ok", "mwl_ok", "sym_ok", "alpha_ok", "stops_ok")
    def cell(r: org.apache.spark.sql.Row) =
      (gates.map(g => Option(r.getAs[Boolean](g))), r.getAs[Long]("gid"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))
    val cells = out.map(cell)
    // grand total: gid = 2^5 - 1, all gates NULL, counts everything
    val grand = cells.filter(_._2 === 31L)
    assert(grand.length === 1 && grand.head._3 === 4L)
    // fully-grouped cells (gid=0) partition the corpus exactly
    val leaves = cells.filter(_._2 === 0L)
    assert(leaves.map(_._3).sum === 4L)
    assert(leaves.map(_._4).sum === grand.head._4)
    // the all-pass leaf holds exactly docs 1, 2
    val allPass = leaves.filter(_._1.forall(_.contains(true)))
    assert(allPass.length === 1 && allPass.head._3 === 2L)
    // every marginal over one gate sums its two leaves + aggregated rest:
    // the words_ok=true marginal (only stops_ok... keep simple: the
    // words_ok marginal row with all others aggregated, gid = 01111)
    val wMarg = cells.filter(c => c._2 === 15L && c._1.head.contains(true))
    assert(wMarg.length === 1 && wMarg.head._3 === 3L, s"got ${wMarg.toSeq}")
    // cube emits every populated combination at every grouping level:
    // 4 distinct docs patterns -> bounded cell count, never exceeds 3^5
    assert(cells.length <= 243)
  }
}
