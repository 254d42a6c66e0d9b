package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** KMV sketch semantics: exact bottom-k-distinct determinism under any
  * partitioning, the estimator's exact-below-k / formula-at-k split,
  * and the set-operation estimates on planted disjoint/identical
  * groups. */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  // duplicates included on purpose: the sketch must be a DISTINCT set
  private def rows: Seq[(String, Long)] =
    (1L to 10L).map(("A", _)) ++ (1L to 10L).map(("A", _)) ++
      (6L to 15L).map(("B", _)) ++ (100L to 101L).map(("C", _)) ++
      (100L to 101L).map(("D", _))

  private def truthBottomK(ids: Seq[Long], k: Int): Seq[Long] =
    ids.distinct.map(_.toString).toDF("s")
      .select(graft.plans.functions.poly_hash(col("s")))
      .collect().map(_.getLong(0)).distinct.sorted.take(k)

  test("kmvDistinct: sketch = exact bottom-k distinct hashes, any partitioning; estimator split") {
    val p = graft.plans.HashUtil.P
    val wantA = truthBottomK(1L to 10L, 4)
    for (parts <- Seq(1, 7)) {
      val out = Sketches.kmvDistinct(rows.toDF("g", "k").repartition(parts),
          col("g"), col("k"), k = 4)
        .collect().map(r => r.getString(0) ->
          ((r.getSeq[Long](1), r.getLong(2), r.getDouble(3)))).toMap
      assert(out("A")._1 === wantA, s"parts=$parts: ${out("A")}")
      assert(out("A")._2 === 4L)
      // full sketch -> the (k-1)P/h_k formula on the known 4th value
      val expectEst = BigDecimal(3.0 * p / wantA(3))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out("A")._3 === expectEst, s"got ${out("A")._3}")
      // below k -> the sketch IS the distinct set, estimate exact
      assert(out("C") === ((truthBottomK(Seq(100L, 101L), 4), 2L, 2.0)))
    }
  }

  test("kmvOverlap: disjoint pairs estimate zero; identical pairs the union; below-k overlaps exact") {
    // k = 16 exceeds every group's distinct count, so all sketches are
    // the exact sets and every estimate must be the exact answer
    val sk = Sketches.kmvDistinct(rows.toDF("g", "k"), col("g"), col("k"), k = 16)
    val out = Sketches.kmvOverlap(sk, k = 16)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(4), r.getDouble(5)))).toMap
    // A(1..10) vs C(100,101): disjoint -> est_inter 0, union exact 12
    assert(out(("A", "C")) === ((12.0, 0.0)), s"got ${out(("A", "C"))}")
    // C and D hold identical keys -> est_inter == est_union == 2
    assert(out(("C", "D")) === ((2.0, 2.0)), s"got ${out(("C", "D"))}")
    // A(1..10) vs B(6..15): |union| 15, |inter| 5 -> exact both
    assert(out(("A", "B")) === ((15.0, 5.0)), s"got ${out(("A", "B"))}")
  }

  test("mergeability: per-batch sketches fold to exactly the whole-corpus sketch") {
    val whole = Sketches.kmvDistinct(rows.toDF("g", "k"), col("g"), col("k"),
        k = 4).collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // three arbitrary batch cuts; merge rule = bottom-k of merged values
    val batches = rows.grouped(rows.size / 3 + 1).toSeq.map(b =>
      Sketches.kmvDistinct(b.toDF("g", "k"), col("g"), col("k"), k = 4)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap)
    val merged = batches.flatMap(_.toSeq).groupBy(_._1).view
      .mapValues(_.flatMap(_._2).distinct.sorted.take(4)).toMap
    assert(merged === whole, "sketch-of-union must equal union-of-sketches")
  }

  test("kmvDistinct plans a PARTIAL ObjectHashAggregate (map-side k-summaries before the exchange)") {
    val plan = Sketches.kmvDistinct(rows.toDF("g", "k"), col("g"), col("k"),
      k = 4).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
    assert(plan.contains("partial_kmv_sketch"),
      "the k*partitions-shuffle claim requires a partial mode: " + plan.take(500))
  }

  test("kmv_sketch keeps the bottom-k distinct hashes and skips nulls") {
    val got = Seq(Some(5L), Some(3L), None, Some(3L), Some(9L)).toDF("h")
      .agg(graft.plans.functions.kmv_sketch(col("h"), 2))
      .head().getSeq[Long](0)
    assert(got === Seq(3L, 5L), s"got $got")
  }

  // ---- Count-Min sketch (x111) ----

  test("cms_sketch: hand-computed cells (depth 2, width 8), nulls skipped") {
    // h=5 twice, h=12 once. Row 0 (mul 48271): 5*48271 % P = 241355,
    // % 8 = 3; 12*48271 = 579252, % 8 = 4. Row 1 (mul 48271^2 % P =
    // 182605794, +1 offset): 5 -> 913028971 % 8 = 3; 12 -> 43785882
    // % 8 = 2.
    val got = Seq(Some(5L), Some(12L), None, Some(5L)).toDF("h")
      .agg(graft.plans.functions.cms_sketch(col("h"), 2, 8))
      .head().getSeq[Long](0)
    val want = Array.fill(16)(0L)
    want(3) = 2L; want(4) = 1L          // row 0
    want(8 + 3) = 2L; want(8 + 2) = 1L  // row 1
    assert(got === want.toSeq, s"got $got")
  }

  test("cms_sketch: deterministic under any partitioning; per-batch sketches sum to the whole") {
    val hs = (1L to 500L).map(i => i * i % 997L)
    def sketchOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(graft.plans.functions.cms_sketch(col("h"), 4, 64))
        .head().getSeq[Long](0)
    val whole = sketchOf(hs.toDF("h"))
    for (parts <- Seq(1, 7, 32))
      assert(sketchOf(hs.toDF("h").repartition(parts)) === whole,
        s"parts=$parts: counters are pure sums, must be order-free")
    // mergeability is EXACT for CMS: elementwise sum of batch sketches
    val batches = hs.grouped(137).toSeq.map(b => sketchOf(b.toDF("h")))
    val summed = batches.transpose.map(_.sum)
    assert(summed === whole, "sum-of-sketches must equal sketch-of-union")
  }

  test("cms_sketch: negative hashes fold by true mod (pmod)") {
    val p = graft.plans.CmsSketchAgg.P
    val neg = sketch1(Seq(-3L))
    val pos = sketch1(Seq(p - 3L))
    assert(neg === pos, "(-3) mod P must hit the same cells as P-3")
  }

  private def sketch1(hs: Seq[Long]): Seq[Long] =
    hs.toDF("h").agg(graft.plans.functions.cms_sketch(col("h"), 2, 16))
      .head().getSeq[Long](0)

  test("cmsWordFreq: overcount-only guarantee, exact where no collision, top-n probes") {
    // 40 distinct words with distinct frequencies 1..40 over width 512:
    // few enough occupied cells that the top word is collision-free
    val docs = (1 to 40).map(f => s"w$f " * f).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = Sketches.cmsWordFreq(docs, col("doc_id"), col("text"),
      depth = 4, width = 512, nProbes = 5).collect()
    assert(out.length === 5)
    // probes are the exact top-5 by (count desc, word)
    assert(out.map(_.getString(0)).toSet === Set("w40", "w39", "w38", "w37", "w36"))
    out.foreach { r =>
      assert(r.getLong(3) >= 0L, s"overcount must be one-sided: $r")
      assert(r.getLong(2) >= r.getLong(1), s"est >= exact: $r")
    }
    // 40 keys into 4 rows of 512 cells: every row has a collision-free
    // cell for SOME probe with overwhelming margin — the min across
    // rows must then be exact for at least one probe
    assert(out.exists(r => r.getLong(3) === 0L),
      "expected at least one collision-free point estimate")
  }

  test("cmsWordFreq plans a PARTIAL ObjectHashAggregate and a broadcast probe join") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = Sketches.cmsWordFreq(docs, col("doc_id"), col("text"),
      depth = 2, width = 8, nProbes = 3).queryExecution.executedPlan.toString
    assert(plan.contains("partial_cms_sketch"),
      "map-side sketch before the exchange: " + plan.take(500))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "one-row sketch must broadcast: " + plan.take(500))
  }
}
