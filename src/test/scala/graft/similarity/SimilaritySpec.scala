package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Embedding-similarity invariants: self-cosine 1, bounds, zero-vector
  * guard, top-k shape, sign-bucket determinism. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (2L, Seq(1.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),
    (4L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")

  test("cosine: self=1, orthogonal=0, opposite=-1, zero vector guarded to 0") {
    val q = corpus.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val out = corpus.crossJoin(q)
      .select(col("vec_id"), Similarity.cosine(col("q_emb"), col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(0L) === 1.0)
    assert(out(1L) === 0.0)
    assert(out(3L) === -1.0)
    assert(out(4L) === 0.0)
    assert(math.abs(out(2L) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("bruteForceTopK returns k rows per query, self first") {
    val q = corpus.filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val out = Similarity.bruteForceTopK(corpus, q, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.count(_._1 == 0L) === 2)
    assert(out.count(_._1 == 1L) === 2)
    val best = out.groupBy(_._1).map { case (q, rs) => q -> rs.maxBy(_._3)._2 }
    assert(best === Map(0L -> 0L, 1L -> 1L))
  }

  test("hardNegatives: self/same-label/near-dup excluded BEFORE ranking, next-best fills the slot") {
    // label 0: the query (id 0) and its positives; label 1: negatives,
    // one of which (id 10) is a near-exact copy of the query (cos > 0.98)
    // and must be excluded WITHOUT eating a top-k slot.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),   // query
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0),   // positive (same label)
      (10L, Seq(1.0f, 0.01f, 0.0f, 0.0f), 1), // near-dup of query, wrong label
      (11L, Seq(0.8f, 0.6f, 0.0f, 0.0f), 1),  // the true hardest negative
      (12L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1),  // easy negative
      (13L, Seq(-1.0f, 0.0f, 0.0f, 0.0f), 1)  // trivial negative
    ).toDF("vec_id", "embedding", "label")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val out = Similarity.hardNegatives(emb, q, k = 2)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(4)))
    // exactly k rows, all wrong-label, near-dup 10 absent, 11 ranked first
    assert(out.toSeq === Seq((1L, 11L, 1), (2L, 12L, 1)))
  }

  test("triplets: hardest same-label positive, margins = pcos - cos, anchor without a positive drops out") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),   // anchor
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0),   // positive (hardest: closest)
      (2L, Seq(0.0f, 0.9f, 0.1f, 0.0f), 0),   // positive (farther)
      (11L, Seq(0.8f, 0.6f, 0.0f, 0.0f), 1),  // hardest negative
      (12L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1),  // easy negative
      (20L, Seq(0.0f, 0.0f, 1.0f, 0.0f), 2)   // lone-label anchor: no positive
    ).toDF("vec_id", "embedding", "label")
    val q = emb.filter(col("vec_id").isin(0L, 20L))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val out = Similarity.triplets(emb, q, k = 2).collect()
    // anchor 20 has no same-label candidate -> contributes no triplets
    assert(out.forall(_.getAs[Long]("q_id") == 0L), s"lone anchor leaked: ${out.toSeq}")
    val rows = out.sortBy(_.getAs[Long]("rnk"))
      .map(r => (r.getAs[Long]("pos_id"), r.getAs[Long]("neg_id"),
        r.getAs[Double]("margin")))
    assert(rows.map(_._1).toSeq === Seq(1L, 1L), s"positive not the hardest: ${rows.toSeq}")
    assert(rows.map(_._2).toSeq === Seq(11L, 12L), s"negative order wrong: ${rows.toSeq}")
    // margins: pcos constant per anchor, decreasing cos -> increasing margin
    assert(rows(0)._3 < rows(1)._3, s"margins not increasing with rank: ${rows.toSeq}")
    // the hardest negative (cos .8) sits closer than the positive gap
    // allows a comfortable margin; both margins still positive here
    assert(rows.forall(_._3 > 0.0), s"expected satisfied triplets: ${rows.toSeq}")
  }

  test("sign bucket: deterministic, bounded, equal vectors collide, seeds independent") {
    val twice = corpus.unionAll(corpus)
    val out = twice.select(col("vec_id"),
        Similarity.signBucket(col("embedding"), 4).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // deterministic: both copies of each vector land in the same bucket
    assert(out.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1))
    assert(out.forall { case (_, b) => b >= 0L && b < 16L })
    // a different seed is a different hash table (some bucket differs)
    val s0 = corpus.select(Similarity.signBucket(col("embedding"), 8, 0).as("b"))
      .collect().map(_.getLong(0)).toSeq
    val s1 = corpus.select(Similarity.signBucket(col("embedding"), 8, 1).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(s0 !== s1)
  }

  test("scaledBits grows with corpus so bucket population stays ~targetBucket") {
    assert(Similarity.scaledBits(64, 32) === 1)
    assert(Similarity.scaledBits(550, 32) === 5)
    assert(Similarity.scaledBits(2200, 32) === 7)
    assert(Similarity.scaledBits(1L << 40, 32) === 35)
    // monotone non-decreasing in n
    val bs = Seq(10L, 100L, 1000L, 10000L, 100000L).map(Similarity.scaledBits(_, 32))
    assert(bs === bs.sorted)
  }

  test("scaledCells = ceil(sqrt(n)) floored at minCells — balances assignment vs cell join") {
    assert(Similarity.scaledCells(10) === 8)      // floor kicks in
    assert(Similarity.scaledCells(64) === 8)      // exact square
    assert(Similarity.scaledCells(550) === 24)    // x32 sf0.01 corpus
    assert(Similarity.scaledCells(2000) === 45)   // x15 sf0.1 corpus
    assert(Similarity.scaledCells(1000000) === 1000)
    // monotone non-decreasing, and cell POPULATION n/cells also grows only
    // ~sqrt(n) — neither side of the n*cells vs n^2/cells trade blows up
    val cs = Seq(100L, 1000L, 10000L, 100000L, 1000000L).map(Similarity.scaledCells(_))
    assert(cs === cs.sorted)
    cs.zip(Seq(100L, 1000L, 10000L, 100000L, 1000000L)).foreach { case (c, n) =>
      assert(c.toLong * c >= n, s"cells^2 must cover n: c=$c n=$n")
    }
  }

  test("ivfPqTopK: seed queries self-reconstruct through residual codes; deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val nCells = Similarity.scaledCells(emb.count())
    // queries from the residual SEED range (ranks nCells..nCells+4 —
    // the first nCells vectors are coarse centroids with zero
    // residuals, deliberately excluded from the codebook): seed
    // residuals ARE codebook centroids, so ADC reconstructs them
    // exactly and the re-rank must surface each query itself at rank 1
    val queries = emb
      .filter(col("vec_id") >= nCells && col("vec_id") < nCells + 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def run() = Similarity.ivfPqTopK(emb, queries, 3, dim = 64,
        nCells = nCells, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2))
    val out = run()
    assert(out.groupBy(_._1).forall(_._2.size === 3))
    (nCells.toLong until nCells + 5L).foreach { q =>
      val top = out.filter(_._1 == q).maxBy(_._3)
      assert(top._2 === q && math.abs(top._3 - 1.0) < 1e-9,
        s"seed query $q did not self-reconstruct: $top")
    }
    assert(run() === out)
    def rsx(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = rsx(Similarity.bruteForceTopK(emb, queries, 3))
    val recall = (exact intersect out.map(t => (t._1, t._2)).toSet).size.toDouble / exact.size
    info(f"ivfPqTopK(cells=scaled, nprobe=2, 4x16, rerank=10) recall@3 = $recall%.3f")
    assert(recall >= 0.4, s"ivfpq recall collapsed: $recall")
    spark.catalog.clearCache()
  }

  test("semanticDedup drops exactly the planted copies, keeps one representative") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val copies = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val corpus = emb.unionAll(copies)
    val out = Similarity.semanticDedup(corpus, nCells = 4, minCos = 0.999)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size === corpus.count())
    // every planted copy is dropped; its original (lower id) is kept
    val copyIds = out.keySet.filter(_ >= 10000L)
    assert(copyIds.nonEmpty)
    copyIds.foreach { c =>
      assert(!out(c)._2, s"copy $c should be dropped")
      assert(out(c - 10000L)._2, s"original ${c - 10000L} should be kept")
      // identical vectors land in the same cell — the pruning premise
      assert(out(c)._1 === out(c - 10000L)._1)
    }
    // nothing else gets dropped on this corpus (no organic pair >= 0.999)
    assert(out.count(!_._2._2) === copyIds.size)
    spark.catalog.clearCache()
  }

  test("semanticDedup refuses past maxCorpus and names the banded scale path") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(emb, nCells = 4, maxCorpus = n - 1)
    }
    assert(e.getMessage.contains("semanticDedupBanded"))
    assert(e.getMessage.contains("O(n^1.5)"))
    // the explicit opt-in admits the same corpus the default would refuse
    val out = Similarity.semanticDedup(emb, nCells = 4, maxCorpus = n)
    assert(out.count() === n)
    spark.catalog.clearCache()
  }

  test("semanticDedupBanded agrees with the cell route on planted exact copies") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val copies = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val corpus = emb.unionAll(copies)
    val n = corpus.count()
    val out = Similarity.semanticDedupBanded(corpus, n, minCos = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.size === n)
    // exact copies share every sign bucket — structural recall 1.0:
    // every planted copy dropped, its lower-id original kept
    val copyIds = out.keySet.filter(_ >= 10000L)
    assert(copyIds.nonEmpty)
    copyIds.foreach { c =>
      assert(!out(c), s"copy $c should be dropped")
      assert(out(c - 10000L), s"original ${c - 10000L} should be kept")
    }
    // no organic pair reaches 0.999 on this corpus, so the two routes
    // agree exactly here (they may differ on near-boundary pairs by
    // construction — that is the documented recall trade)
    val cells = Similarity.semanticDedup(corpus,
        nCells = Similarity.scaledCells(n), minCos = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out === cells)
    spark.catalog.clearCache()
  }

  test("cellBalancedSample cuts dense cells to the quota, keeps sparse cells whole, deterministically") {
    // centroids = first 2 by id: vec 0 ~ e1-region, vec 1 ~ e2-region.
    // e1-region has 5 members (0,2,3,4,5), e2-region only vec 1.
    val e1 = Array(1f, 0f, 0f)
    val near = (i: Float) => Array(1f, i * 0.01f, 0f)
    val rows = Seq(
      (0L, e1), (1L, Array(0f, 1f, 0f)),
      (2L, near(1)), (3L, near(2)), (4L, near(3)), (5L, near(4)))
    val corpus = rows.toDF("vec_id", "embedding")
    val out = Similarity.cellBalancedSample(corpus, perCell = 2, nCells = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val byCell = out.groupBy(_._2).map { case (c, m) => c -> m.map(_._1).toSet }
    assert(byCell(0L).size === 2, "dense cell cut to its quota")
    assert(byCell(0L).subsetOf(Set(0L, 2L, 3L, 4L, 5L)))
    assert(byCell(1L) === Set(1L), "sparse cell kept whole")
    // deterministic: a second run returns the identical selection
    val again = Similarity.cellBalancedSample(corpus, perCell = 2, nCells = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(again.toSeq === out.toSeq)
  }

  test("neardupPairs finds planted exact duplicates (recall 1.0 on true copies)") {
    val planted = corpus.filter(col("vec_id") < 2)
      .select((col("vec_id") + 100L).as("vec_id"), col("embedding"))
    val all = corpus.unionAll(planted)
    val pairs = Similarity.neardupPairs(all, n = 7L, minCos = 0.999)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 100L)))
    assert(pairs.contains((1L, 101L)))
    // orthogonal vectors never pass the cosine gate
    assert(!pairs.contains((0L, 1L)))
  }

  test("mmrRerank skips a redundant near-duplicate in favor of a diverse candidate") {
    // q = (1,0); v1 rel .8 (pick 1); v2 rel .78 but near-parallel to v1
    // (penalty ~.999 -> score ~-0.11); v3 rel .6, orthogonal to v1
    // (score .3) — MMR picks the diverse v3 second, the redundant v2 last
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.8f, 0.6f)),
      (2L, Seq(0.78f, 0.625f)),
      (3L, Seq(0.6f, -0.8f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(vecs, queryId = 0L, topN = 10, k = 3)
      .orderBy("step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._2).toSeq === Seq(1L, 3L, 2L))
    assert(out(0)._3 > out(1)._3 && out(1)._3 > 0.0 && out(2)._3 < 0.0)
    // k > candidates: picks everything once, never repeats
    val all = Similarity.mmrRerank(vecs, queryId = 0L, topN = 10, k = 99)
      .collect().map(_.getLong(1))
    assert(all.sorted.toSeq === Seq(1L, 2L, 3L))
    // missing query id: no candidates, empty result, no crash
    assert(Similarity.mmrRerank(vecs, queryId = 777L).count() === 0L)
  }

  test("mmrRerank with fewer NON-NULL candidates than k emits each exactly once") {
    // 5 candidate rows but only 2 usable: nulls must neither crash the
    // native greedy nor ride a NULL relevance into the top-N boundary
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, null.asInstanceOf[Seq[Float]]),
      (3L, Seq(0.1f, 0.9f)),
      (4L, null.asInstanceOf[Seq[Float]]),
      (5L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(vecs, queryId = 0L, topN = 32, k = 8)
      .orderBy("step").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.map(_._2).sorted.toSeq === Seq(1L, 3L), s"got ${out.toList}")
    assert(out.map(_._1).toSeq === Seq(1L, 2L), "steps stay dense")
  }

  test("embeddingDrift: unchanged mix drifts zero per cell; a shifted mix shows the TVD") {
    // two orthogonal regions; cells pinned to the old snapshot's first 2
    def v(region: Int): Seq[Float] =
      if (region == 0) Seq(1f, 0f, 0f, 0f) else Seq(0f, 1f, 0f, 0f)
    def snap(ids: Seq[Long], regions: Seq[Int]) =
      ids.zip(regions.map(v)).toDF("vec_id", "embedding")
    val old = snap(Seq(0L, 1L, 2L, 3L), Seq(0, 1, 0, 1)) // 50/50
    // same mix -> every share_delta 0
    val same = Similarity.embeddingDrift(old,
        snap(Seq(10L, 11L, 12L, 13L), Seq(0, 1, 0, 1)), nCells = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(5)))
    assert(same.toMap === Map(0L -> 0.0, 1L -> 0.0), s"got ${same.toSeq}")
    // new snapshot 75/25 -> each cell's |delta| = 0.25, TVD = 0.25
    val shifted = Similarity.embeddingDrift(old,
        snap(Seq(10L, 11L, 12L, 13L), Seq(0, 0, 0, 1)), nCells = 2)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getDouble(5)))).toMap
    assert(shifted(0L) === ((2L, 3L, 0.25)) && shifted(1L) === ((2L, 1L, 0.25)),
      s"got $shifted")
    assert(shifted.values.map(_._3).sum / 2 === 0.25) // total-variation distance
    // a region absent from the new snapshot still reports (share_new 0)
    val gone = Similarity.embeddingDrift(old,
        snap(Seq(10L, 11L), Seq(0, 0)), nCells = 2)
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getDouble(4)))).toMap
    assert(gone(1L) === ((0L, 0.0)), s"vanished region must report: $gone")
  }

  test("prototypicality: per-cell centroid-cosine ranks; ceil quota flags the most prototypical") {
    // cells pinned to vec 0 = (1,0,0,0) and vec 1 = (0,1,0,0)
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),    // cell 0, cos 1.0      -> rank 1
      (1L, Seq(0f, 1f, 0f, 0f)),    // cell 1, cos 1.0      -> rank 1
      (2L, Seq(1f, 1f, 0f, 0f)),    // tie cos both cells -> cell 0 (lower cid)
      (3L, Seq(0f, 1f, 1f, 0f)),    // cell 1, cos ~.707    -> rank 2
      (4L, Seq(1f, .5f, 0f, 0f))    // cell 0, cos ~.894    -> rank 2
    ).toDF("vec_id", "embedding")
    val out = Similarity.prototypicality(corpus, nCells = 2, prunePct = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4),
        r.getBoolean(5)))).toMap
    // cell 0: {0, 4, 2} by cos desc; cell 1: {1, 3}
    assert(out(0L) === ((0L, 1L, 3L, true)))   // quota ceil(3*10/100) = 1
    assert(out(4L) === ((0L, 2L, 3L, false)))
    assert(out(2L) === ((0L, 3L, 3L, false)), "cos tie goes to the lower cid cell")
    assert(out(1L) === ((1L, 1L, 2L, true)))   // quota ceil(2*10/100) = 1
    assert(out(3L) === ((1L, 2L, 2L, false)))
    // wider quota: ceil(3*50/100) = 2 in cell 0 — rank 2 now pruned too
    val wide = Similarity.prototypicality(corpus, nCells = 2, prunePct = 50)
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(wide === Map(0L -> true, 4L -> true, 2L -> false,
      1L -> true, 3L -> false), s"got $wide")
  }
}
