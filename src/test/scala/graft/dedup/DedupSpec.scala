package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup tier invariants: normalization-equal docs collapse, identical
  * docs share signatures, Jaccard bounds, SimHash Hamming-0 on equals. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup collapses whitespace/case variants to one survivor") {
    val docs = Seq((1L, "Hello  World"), (2L, " hello world "), (3L, "other doc"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(1L -> 2L, 3L -> 1L))
  }

  test("identical texts share the full MinHash signature; different texts differ") {
    val df = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"),
        (3L, "a completely different sentence here"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Dedup.minhashSignature(Dedup.shingleHashes(graft.text.TextOps.norm(col("text")))).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("native minhash_sig equals the HOF affine-family formulation") {
    val docs = (0 until 40).map(i => (i.toLong, s"text body number $i with words ${i * 7} and ${i % 9}"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Dedup.shingleHashes(graft.text.TextOps.norm(col("text"))).as("hs"))
    val nHashes = 12
    // Lehmer-power multipliers — mirrors HashUtil.minhashSig exactly
    val as = (1 to nHashes).scanLeft(1L)((a, _) => a * 48271L % 1000000007L).drop(1)
    val hof = array((0 until nHashes).map { h =>
      array_min(transform(col("hs"), x => (x * as(h) + 12345L * h) % 1000000007L))
    }: _*)
    val both = docs.select(col("doc_id"),
      Dedup.minhashSignature(col("hs"), nHashes).as("native"), hof.as("hof"))
      .collect()
    both.foreach(r => assert(r.getSeq[Long](1) === r.getSeq[Long](2)))
  }

  test("LSH candidates find planted near-dups and never pair a doc with itself") {
    val base = (0 until 30).map(i => (i.toLong, s"document number $i talks about topic ${i % 5} in detail"))
    val dups = Seq((100L, base(3)._2 + " tail"), (101L, base(7)._2))
    val docs = (base ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.contains((7L, 101L))) // exact copy always collides
  }

  test("Jaccard is 1.0 for identical docs and within (0,1) for overlapping ones") {
    val docs = Seq((1L, "aaaa bbbb cccc dddd"), (2L, "aaaa bbbb cccc dddd"),
      (3L, "aaaa bbbb cccc eeee")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.jaccardVerify(pairs, docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) === 1.0)
    assert(out((1L, 3L)) > 0.0 && out((1L, 3L)) < 1.0)
  }

  test("incrementalNearDup: batch near-dups pair with their originals only, never batch-internal") {
    // disjoint per-doc vocabularies — cross-doc Jaccard is ~0 by design
    def body(i: Long) = (1 to 12).map(j => s"w${i}q$j").mkString(" ")
    val base = (1L to 30L).map(i => (i, body(i))).toDF("doc_id", "text")
    // batch: tail-mangled copies of docs 1-3 (true near-dups) + one novel doc
    val batch = (Seq(1L, 2L, 3L).map(i => (100L + i, body(i) + " zz")) :+
      (104L, (1 to 12).map(j => s"novelv$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(base, col("doc_id"), col("text"),
        batch, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // each mangled copy pairs with exactly its original, above threshold
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs === Set((101L, 1L), (102L, 2L), (103L, 3L)), s"got $out")
    out.foreach(t => assert(t._3 >= 0.5 && t._3 < 1.0))
    // asymmetry: output ids come from batch x corpus only (no 10x-10y,
    // no 1-2) — the corpus self-join never ran
    assert(out.forall(t => t._1 >= 101L && t._2 <= 30L))
    spark.catalog.clearCache()
  }

  test("incrementalNearDup: a batch fully disjoint from the corpus emits nothing") {
    // adversarial: no shingle overlap anywhere — the band join must
    // find zero candidates and the verify stage must not run on air
    def body(p: String, i: Long) = (1 to 12).map(j => s"$p${i}x$j").mkString(" ")
    val base = (1L to 20L).map(i => (i, body("corp", i))).toDF("doc_id", "text")
    val batch = (1L to 5L).map(i => (100L + i, body("newz", i))).toDF("doc_id", "text")
    assert(Dedup.incrementalNearDup(base, col("doc_id"), col("text"),
      batch, col("doc_id"), col("text")).count() === 0L)
    spark.catalog.clearCache()
  }

  test("splitLeakage reports only eval docs with a train near-dup, oriented train → eval") {
    // corpus: sf0.001 documents + tail-appended near-dups (Jaccard ~0.9).
    // Split assignment is content-hash-driven, so expectations are
    // derived from the same rule rather than hand-picked texts.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.unionAll(docs.select((col("doc_id") + 10000L).as("doc_id"),
      concat(col("text"), lit(" zz qq xx yy")).as("text")))
    val splits = corpus.select(col("doc_id"),
        pmod(graft.text.TextOps.fingerprint(graft.text.TextOps.norm(col("text"))), lit(100L)).as("hb"))
      .collect().map(r => r.getLong(0) ->
        (if (r.getLong(1) < 80) "train" else if (r.getLong(1) < 90) "val" else "test"))
      .toMap
    val pairs = Dedup.verifiedCandidates(corpus, col("doc_id"), col("text"))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs.flatMap { case (a, b) =>
      (splits(a), splits(b)) match {
        case ("train", sb) if sb != "train" => Some(b)
        case (sa, "train") if sa != "train" => Some(a)
        case _ => None
      }
    }.toSet
    assert(expected.nonEmpty, "fixture must produce at least one cross-split pair")
    val out = Dedup.splitLeakage(corpus, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList
    assert(out.map(_._1).toSet === expected)
    // every reported doc is on the eval side and its split matches the rule
    out.foreach { case (d, sp, n) =>
      assert(sp === splits(d) && sp != "train", s"doc $d reported as $sp")
      assert(n >= 1L)
    }
    spark.catalog.clearCache()
  }

  test("SimHash: identical docs have Hamming distance 0, fingerprint fits 16 bits") {
    val df = Dedup.simhashFingerprints(
      Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
        (3L, "totally unrelated words entirely")).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    val hs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) === hs(2L))
    hs.values.foreach(h => assert(h >= 0L && h < 65536L))
  }

  test("winnowing: shared >= w+k-1 char span guarantees common fingerprints; disjoint docs share none") {
    val span = "this exact shared passage is long enough to guarantee selection"
    val docs = Seq(
      (1L, s"unique leading material before $span and unique trailing words"),
      (2L, s"totally different start then $span plus another distinct ending"),
      (3L, "no overlap with anything else here at all in this document body"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(docs, col("doc_id"), col("text"),
        k = 20, w = 8, minShared = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), "shared span must be detected")
    assert(pairs((1L, 2L)) >= 3L)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // the guarantee: a shared span of s chars contributes at least
    // floor((s - (k-1)) / w) shared window minima (one per full window)
    val s = span.length
    assert(pairs((1L, 2L)) >= (s - 19) / 8)
    spark.catalog.clearCache()
  }

  test("winnowing fingerprint: identical texts select identical sets, selection is sorted distinct") {
    val t = graft.text.TextOps.norm(col("text"))
    val out = Seq((1L, "The Quick   Brown Fox Jumps Over The Lazy Dog Again"),
        (2L, "the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.winnowFingerprints(t, 20, 8).as("sel"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) === out(2L)) // normalization-equal → identical selection
    assert(out(1L) === out(1L).sorted)
    assert(out(1L).distinct === out(1L))
  }

  test("winnowing guarantee holds on sampled random corpora with planted spans") {
    // random word soup; every doc pair (2i, 2i+1) shares one random span
    // of >= w+k-1 chars at random positions — the guarantee must detect
    // every planted pair regardless of surrounding content
    val rng = new scala.util.Random(8)
    val words = org.scalacheck.Gen.listOfN(6,
      org.scalacheck.Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
        "zeta", "eta", "theta", "iota", "kappa"))
    def soup() = words.sample.get.mkString(" ") + " " + rng.nextInt(1 << 20)
    val docs = (0 until 10).flatMap { i =>
      val span = s"planted shared span number $i with enough characters to select ${i * 31}"
      Seq((2L * i, s"${soup()} $span ${soup()}"),
        (2L * i + 1, s"${soup()} $span ${soup()}"))
    }.toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(docs, col("doc_id"), col("text"),
        k = 20, w = 8, minShared = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 10).foreach { i =>
      assert(pairs.contains((2L * i, 2L * i + 1)), s"planted pair $i missed")
    }
    spark.catalog.clearCache()
  }

  test("connectedComponents: chains merge, min id wins, singleton edges isolate") {
    // components: {1,2,3,4} (a chain), {10,11}, {20,21} — plus a long
    // chain 30..36 exercising multi-round propagation
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L)) ++
      (30L until 36L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert((1L to 4L).forall(d => out(d)._1 == 1L))
    assert(out(11L)._1 === 10L && out(21L)._1 === 20L)
    assert((30L to 36L).forall(d => out(d)._1 == 30L))
    // exactly one survivor per component, and it is the min id
    val survivors = out.collect { case (d, (_, true)) => d }.toSet
    assert(survivors === Set(1L, 10L, 20L, 30L))
  }

  test("shared candidate pairs: one banding pass feeds CC, keepBest, and jaccardVerify consistently") {
    // the composition contract on keepBest: compute minhashCandidates
    // ONCE, persist, and derive every ending from the SAME pairs frame
    val docs = (1L to 20L).map(i =>
        (i, (1 to 12).map(j => s"w${i}q$j").mkString(" ")))
      .toDF("doc_id", "text")
    val dup = docs.filter(col("doc_id") <= 4L)
      .select((col("doc_id") + 100L).as("doc_id"),
        concat(col("text"), lit(" zz qq")).as("text"))
    val corpus = docs.unionAll(dup)
    val pairs = Dedup.minhashCandidates(corpus, col("doc_id"), col("text"))
      .persist() // ONE banding pass, three consumers
    try {
      val cc = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kb = Dedup.keepBest(
        corpus.select(col("doc_id"),
          graft.text.TextOps.wsTokenCount(col("text")).as("quality")),
        col("doc_id"), col("quality"), pairs)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
      val verified = Dedup.jaccardVerify(pairs, corpus, col("doc_id"), col("text"))
        .collect()
      // the two iterative endings agree: keepBest's cluster ids ARE the
      // CC labels over the shared pairs (unpaired docs self-label)
      kb.foreach { case (d, (cluster, _)) =>
        assert(cluster === cc.getOrElse(d, d), s"doc $d cluster mismatch")
      }
      // the duplicates clustered with their originals, keeper = the
      // longer (tail-appended) copy by token-count quality
      (1L to 4L).foreach { i =>
        assert(kb(i + 100L)._1 === kb(i)._1)
        assert(kb(i + 100L)._2 && !kb(i)._2, s"copy of $i should win on quality")
      }
      // verify stage scored exactly the shared candidate pairs
      assert(verified.length > 0)
    } finally { pairs.unpersist(); spark.catalog.clearCache(); () }
  }

  test("keepBest keeps the highest-quality cluster member (ties -> lowest id), singletons always kept") {
    // cluster {1,2,3}: qualities 5, 9, 9 -> doc 2 wins the tie with 3;
    // cluster {10,11}: 11 strictly better; doc 20 is unpaired
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 7L), (20L, 1L))
      .toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.keepBest(docs, col("doc_id"), col("quality"), pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 10L, 11L, 20L)) // every doc labeled
    assert(out(1L) === ((1L, false)) && out(2L) === ((1L, true)) &&
      out(3L) === ((1L, false)))
    assert(out(10L) === ((10L, false)) && out(11L) === ((10L, true)))
    assert(out(20L) === ((20L, true))) // own cluster, kept
    // exactly one keeper per cluster
    val perCluster = out.values.groupBy(_._1).map { case (c, vs) =>
      c -> vs.count(_._2) }
    assert(perCluster.values.forall(_ == 1))
  }

  test("connectedComponents fails loudly when the diameter exceeds maxIter") {
    // threshold -1 forces the DISTRIBUTED loop (the small-graph local
    // union-find has no rounds to exhaust)
    val chain = (1L to 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsAt(chain, maxIter = 2, starRounds = 5,
        localThreshold = -1L)
    }
    assert(e.getMessage.contains("did not converge"))
    // and converges fine with enough rounds
    val ok = Dedup.connectedComponentsAt(chain, maxIter = 10, starRounds = 5,
        localThreshold = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 9L).forall(d => ok(d) == 1L))
  }

  test("adversarial 100-node chain converges via the pointer-jump fallback") {
    // diameter 100 ≫ starRounds: plain min-label propagation alone would
    // need ~100 rounds; the pointer-jump phase must close it in O(log n).
    // threshold -1 forces the distributed loop — the local union-find
    // would short-circuit the phase this test exists to exercise
    val chain = (1L to 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponentsAt(chain, maxIter = 60, starRounds = 5,
        localThreshold = -1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size === 101)
    assert(out.values.forall(_._1 == 1L)) // one component, min id 1
    assert(out.collect { case (d, (_, true)) => d }.toSet === Set(1L))
  }

  test("SimHash64: identical docs share all 4 bands; bands fit 16 bits; banded pairs found") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally unrelated words entirely different content here now")).toDF("doc_id", "text")
    val fp = Dedup.simhash64Fingerprints(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fp(1L) === fp(2L))
    fp.values.foreach { bands =>
      assert(bands.size === 4)
      bands.foreach(b => assert(b >= 0L && b < 65536L))
    }
    // identical docs: Hamming 0 → must surface as a pair; the unrelated
    // doc must not pair with them at Hamming <= 3
    val pairs = Dedup.simhashPairs(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) === 0L)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("bandedHammingPairs maxBucket drops only over-hot buckets; discriminating bands still pair") {
    // docs 1/2 share all four bands (true near-dups); docs 10..15 share
    // ONE degenerate band value (0 on band 0: the all-silence class) but
    // differ everywhere else — a population^2 false-candidate bucket
    val fp = (Seq(
      (1L, Seq(7L, 8L, 9L, 10L)), (2L, Seq(7L, 8L, 9L, 10L))) ++
      (10L to 15L).map(d => (d, Seq(0L, d * 100, d * 100 + 1, d * 100 + 2)))
    ).toDF("doc_id", "bands")
    val uncapped = Dedup.bandedHammingPairs(fp, maxHamming = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // without the cap the hot bucket pairs all 15 combinations
    assert(uncapped.count { case (a, _) => a >= 10L } === 15)
    val capped = Dedup.bandedHammingPairs(fp, maxHamming = 64, maxBucket = Some(4L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 6-strong bucket is dropped; the true near-dup pair survives on
    // its (population-2) buckets
    assert(capped === Set((1L, 2L)), s"got $capped")
    intercept[IllegalArgumentException] {
      Dedup.bandedHammingPairs(fp, maxBucket = Some(1L))
    }
  }

  test("bucket cap boundary: exactly cap members pair in full, cap + 1 pairs nothing, cap <= 1 is rejected") {
    // one planted bucket of exactly `cap` identical members (ids 1..cap)
    // and one of cap + 1 (ids 101..): every key of the first holds cap
    // members, every key of the second cap + 1
    val cap = 3L
    val inCap = 1L to cap
    val overCap = 101L to 101L + cap
    val tIn = "the committee approved the harbour dredging budget after a long " +
      "debate about silt and tides in the northern estuary"
    val tOver = "a violinist rehearsed the sonata seven times before dawn while " +
      "the neighbours complained about the noise from upstairs"
    val docs = (inCap.map(_ -> tIn) ++ overCap.map(_ -> tOver)).toDF("doc_id", "text")
    val fp = (inCap.map(_ -> Seq(7L, 8L, 9L, 10L)) ++
      overCap.map(_ -> Seq(1L, 2L, 3L, 4L))).toDF("doc_id", "bands")
    val callers: Seq[(String, Long => org.apache.spark.sql.DataFrame)] = Seq(
      "minhashCandidates maxBucket" -> (c =>
        Dedup.minhashCandidates(docs, col("doc_id"), col("text"), maxBucket = Some(c))),
      "bandedHammingPairs maxBucket" -> (c =>
        Dedup.bandedHammingPairs(fp, maxBucket = Some(c))),
      "winnowOverlapPairs maxDf" -> (c =>
        Dedup.winnowOverlapPairs(docs, col("doc_id"), col("text"), maxDf = c)))
    val full = for (a <- inCap; b <- inCap if a < b) yield (a, b)
    callers.foreach { case (name, run) =>
      val got = run(cap).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === full.toSet, s"$name at cap $cap")
      // one past the boundary the in-cap bucket is over the cap too
      val tighter = run(cap - 1).select("doc_a", "doc_b").collect()
      assert(tighter.isEmpty, s"$name at cap ${cap - 1}: ${tighter.toSeq}")
      Seq(1L, 0L).foreach { bad =>
        intercept[IllegalArgumentException](run(bad))
      }
    }
    spark.catalog.clearCache()
  }

  test("clusterSizeSpectrum: planted cliques land in their size rows; n_docs sums to the corpus") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), (2L, base), (3L, base),                       // size-3 clique
      (10L, "completely different second clique text about boats sailing the winter sea"),
      (11L, "completely different second clique text about boats sailing the winter sea"),
      (20L, "a completely unrelated short doc qq ww ee rr tt yy uu ii oo pp"),
      (21L, "another unrelated doc zz xx cc vv bb nn mm kk ll jj hh gg")
    ).toDF("doc_id", "text")
    val out = Dedup.clusterSizeSpectrum(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(3L -> ((1L, 3L)), 2L -> ((1L, 2L)), 1L -> ((2L, 2L))),
      s"unexpected spectrum: $out")
    assert(out.values.map(_._2).sum === 7L, "n_docs must sum to the corpus")
  }

  test("clusterSafeSplits: near-dup cliques never straddle a split; assignment is content-keyed") {
    // three dup cliques (long shared texts -> LSH pairs them) + singletons
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = (
      (0 until 4).map(i => (i.toLong, base + " tail" + (i % 2))) ++       // clique A
      (10 until 13).map(i => (i.toLong, base.replace("fox", "wolf") + " x")) ++ // B
      Seq((20L, "a completely unrelated short doc qq ww ee rr tt yy uu ii oo pp"),
          (21L, "another unrelated doc zz xx cc vv bb nn mm kk ll jj hh gg"))
    ).toDF("doc_id", "text")
    val out = Dedup.clusterSafeSplits(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.keySet === (0L to 3L).toSet ++ (10L to 12L).toSet + 20L + 21L)
    // every pair the candidate stage finds shares a cluster key AND a split
    val cand = Dedup.minhashCandidates(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.nonEmpty, "test corpus must actually produce candidate pairs")
    cand.foreach { case (a, b) =>
      assert(out(a) === out(b), s"pair ($a,$b) straddles: ${out(a)} vs ${out(b)}")
    }
    // singletons key by their own id
    assert(out(20L)._1 === 20L && out(21L)._1 === 21L)
    // deterministic under input order: shuffled input, same assignment
    val out2 = Dedup.clusterSafeSplits(docs.orderBy(rand(7)).repartition(3),
        col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out2 === out, "assignment must be content-keyed, not order-dependent")
    // custom weights cover the full range; bad weights refused
    val w = Dedup.clusterSafeSplits(docs, col("doc_id"), col("text"),
        weights = Seq(("a", 1L), ("b", 1L)))
      .select("split").distinct().collect().map(_.getString(0)).toSet
    assert(w.subsetOf(Set("a", "b")) && w.nonEmpty)
    intercept[IllegalArgumentException] {
      Dedup.clusterSafeSplits(docs, col("doc_id"), col("text"),
        weights = Seq(("a", 0L)))
    }
  }

  test("containmentVerify: whole inclusion reads 1.0 where jaccard dilutes; smaller side marked; empty side dropped") {
    import spark.implicits._
    val host = ('a' to 'z').map(c => s"${c}word").mkString(" ") // 26 words
    val sub = host.split(" ").slice(8, 14).mkString(" ")        // 6-word slice
    val docs = Seq((1L, host), (2L, sub),
      (3L, "completely different content with no overlap at all"),
      (4L, "   ")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.containmentVerify(pairs, docs, col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getString(3))))
      .toMap
    spark.catalog.clearCache()
    assert(out((1L, 2L)) === ((1.0, "b")), s"got ${out.get((1L, 2L))}")
    // the same pair under resemblance: diluted far below 1.0
    val jac = Dedup.jaccardVerify(pairs.limit(1), docs, col("doc_id"),
        col("text")).head().getDouble(2)
    spark.catalog.clearCache()
    assert(jac < 0.5, s"jaccard should dilute the quoted slice, got $jac")
    assert(out((1L, 3L))._1 < 0.2, s"disjoint pair: ${out((1L, 3L))}")
    // a whitespace-only doc carries the single degenerate empty-window
    // shingle (the ShingleHashes convention) — it contains nothing
    assert(out((1L, 4L)) === ((0.0, "b")), s"got ${out.get((1L, 4L))}")
  }

  test("lshBucketAudit: boilerplate skew stays clique-bounded for minhash; exact pair-mass identity") {
    // 40 docs sharing one boilerplate phrase among otherwise-unique
    // words (the r16 magnitude-preserving-family failure shape), 40
    // fully unique docs, plus 4 exact copies of doc 0 (a real clique).
    val rnd = new scala.util.Random(29)
    def body(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(200)}term").mkString(" ")
    val boiler = "subscribe to our newsletter for exclusive member offers"
    val docs = ((0 until 40).map(i => (i.toLong, body(12) + " " + boiler + " " + body(12))) ++
      (40 until 80).map(i => (i.toLong, body(25) + s" uniq$i")) ++
      (100 until 104).map(i => (i.toLong, "an exact copy clique document body")))
      .toDF("doc_id", "text")
    val emb = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Dedup.lshBucketAudit(docs, col("doc_id"), col("text"), emb)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet === Set(
      "minhash", "simhash64", "winnow", "winnow_capped", "sign_lsh"))
    // at this corpus the hottest winnow bucket (40 sharers) sits under
    // the df <= 64 cap, so the defense row must EQUAL the detector row
    // (the hotskew sweep asserts the 200-sharer case where they differ)
    assert(out("winnow_capped") === out("winnow"),
      s"capped ${out("winnow_capped")} vs raw ${out("winnow")}")
    val (mhEntries, _, mhMax, _) = out("minhash")
    // 84 docs × 3 bands; a healthy family keeps the hottest minhash
    // bucket at the planted clique (4 copies, possibly +noise), never
    // the 40 boilerplate-sharers
    assert(mhEntries === 84L * 3)
    assert(mhMax >= 4 && mhMax <= 8, s"minhash max_pop $mhMax")
    // winnow DOES bucket the sharers together (shared-substring
    // semantics): its hottest bucket is the sharer count exactly
    assert(out("winnow")._3 === 40L, s"winnow ${out("winnow")}")
    // pair-mass identity on a closed form: the 4-clique contributes
    // C(4,2)=6 pairs per band where it is the whole bucket
    val (_, _, _, mhPairs) = out("minhash")
    assert(mhPairs >= 3 * 6, s"minhash gen_pairs $mhPairs")
    // sign_lsh: corpus-scaled buckets (scaledBits(32) = 1 bit → 2
    // buckets) over 32 vectors — all entries present, table small
    assert(out("sign_lsh")._1 === 32L)
    assert(out("sign_lsh")._2 <= 2L, s"sign_lsh ${out("sign_lsh")}")
  }

  test("winnowOverlapPairs maxDf drops boilerplate-grade fingerprints, keeps quotation pairs") {
    // docs 1/2 share a genuine low-df span; docs 10..17 all end in the
    // SAME constant tail (the x34 planted-corpus shape that went
    // quadratic at sf10: one 37-char suffix shared by 50k docs)
    val span = "this exact shared passage is long enough to guarantee selection"
    val tail = "identical boilerplate footer shared by every template document here"
    val docs = (Seq(
      (1L, s"unique leading material before $span and unique trailing words"),
      (2L, s"totally different start then $span plus another distinct ending")) ++
      (10L to 17L).map(d => (d, s"document body number $d stands alone $tail")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.winnowOverlapPairs(docs, col("doc_id"), col("text"),
        maxDf = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // without an effective cap the 8 tail-sharers pair quadratically
    assert(uncapped.count { case (a, _) => a >= 10L } === 28, s"got $uncapped")
    val capped = Dedup.winnowOverlapPairs(docs, col("doc_id"), col("text"),
        maxDf = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // df-8 tail fingerprints dropped; the df-2 quotation pair survives
    assert(capped === Set((1L, 2L)), s"got $capped")
    intercept[IllegalArgumentException] {
      Dedup.winnowOverlapPairs(docs, col("doc_id"), col("text"), maxDf = 1L)
    }
    spark.catalog.clearCache()
  }

  test("manku6Blocks: block extraction equals bit-slicing the packed 64-bit fingerprint") {
    // adversarial band values: all-ones, alternating, high-bit-set, and
    // a few arbitrary patterns — block i must equal bits
    // [off_i, off_i + w_i) of (b0 | b1<<16 | b2<<32 | b3<<48)
    val cases = Seq(
      Seq(0xFFFFL, 0xFFFFL, 0xFFFFL, 0xFFFFL),
      Seq(0xAAAAL, 0x5555L, 0xAAAAL, 0x5555L),
      Seq(0x8001L, 0x8001L, 0x8001L, 0x8001L),
      Seq(12345L, 54321L, 65535L, 1L),
      Seq(0L, 0L, 0L, 0x8000L))
    val df = cases.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("doc_id", "bands")
    val blk = Dedup.manku6Blocks(col("bands"))
    val out = df.select(col("doc_id"), array(blk: _*).as("blk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val offs = Seq(0, 11, 22, 33, 44, 54)
    val widths = Seq(11, 11, 11, 11, 10, 10)
    cases.zipWithIndex.foreach { case (b, i) =>
      val fp = b(0) | (b(1) << 16) | (b(2) << 32) | (b(3) << 48)
      val expect = offs.zip(widths).map { case (o, w) =>
        (fp >>> o) & ((1L << w) - 1)
      }
      assert(out(i.toLong) === expect, s"case $i bands $b")
    }
  }

  test("6-block combo scheme returns the identical pair set as 4-band keys") {
    // a mixed corpus: exact dups (Hamming 0), a near-dup pair (few
    // token swaps), and unrelated docs — both candidate schemes must
    // produce the SAME final Hamming<=3 pair set (pigeonhole
    // completeness both ways + the exact filter)
    val docs = (Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "totally unrelated words entirely different content here now"),
      (5L, "another independent document with its own vocabulary choices")) ++
      (6L to 40L).map(d => (d, s"filler document $d with words ${d * 7} and ${d * 13} mixed in")))
      .toDF("doc_id", "text")
    def pairs(blocks: Int) =
      Dedup.simhashPairs(docs, col("doc_id"), col("text"), blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val p4 = pairs(4)
    spark.catalog.clearCache()
    val p6 = pairs(6)
    spark.catalog.clearCache()
    assert(p4 === p6, s"4-band $p4 vs 6-block $p6")
    assert(p4.contains((1L, 2L)) && p4((1L, 2L)) === 0L)
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, col("doc_id"), col("text"), blocks = 5)
    }
  }

  test("scaledBlocks: 4 bands to 2^18 docs, 6 blocks past (linear-class random-collision bound)") {
    assert(Dedup.scaledBlocks(1L) === 4)
    assert(Dedup.scaledBlocks(1L << 18) === 4)
    assert(Dedup.scaledBlocks((1L << 18) + 1) === 6)
    assert(Dedup.scaledBlocks(500000L) === 6)
    // the bound the rule encodes: expected random candidate mass <= 8n
    // at the switch point for 4x16 keys (4 * n^2 / 2^17 = 8n at n=2^18)
    val n = (1L << 18).toDouble
    assert(math.abs(4 * n * n / math.pow(2, 17) - 8 * n) < 1e-6)
  }
}
