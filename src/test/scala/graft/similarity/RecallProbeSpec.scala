package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** sf0.1 recall report for the approximate-similarity family, gated
  * against the brute-force baseline (all numbers deterministic: the
  * hyperplane family and centroid seeding are seeded, so the gates are
  * exact reproductions, not flaky statistical bounds). Measured values
  * and the tuning story live in PLANS.md ("ANN recall at sf0.1"). */
class RecallProbeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.1"

  private def rs(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("sf0.1 ivfTopK recall sweep at corpus-scaled cells: nprobe 1/2/4 (the x15 config)") {
    assume(new java.io.File(sfDir).isDirectory)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").persist()
    try {
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val exact = rs(Similarity.bruteForceTopK(emb, queries, 3))
      // exactly the production x15 sizing: cells = scaledCells(n) = 45 at
      // sf0.1, untrained deterministic centroids — the sweep measures how
      // recall buys back with nprobe when cells grow with the corpus
      val nCells = Similarity.scaledCells(emb.count())
      val recalls = Seq(1, 2, 4).map { np =>
        val ivf = rs(Similarity.ivfTopK(emb, queries, 3, nCells = nCells, nprobe = np))
        val r = (exact intersect ivf).size.toDouble / exact.size
        info(f"ivfTopK(cells=$nCells, nprobe=$np, untrained) recall@3 = $r%.3f")
        np -> r
      }.toMap
      // more probes may never lose candidates (cells are disjoint and the
      // probed set only grows), so recall is monotone in nprobe
      assert(recalls(1) <= recalls(2) && recalls(2) <= recalls(4),
        s"recall not monotone in nprobe: $recalls")
      // measured (PLANS.md "ANN recall at sf0.1"): 0.983 / 1.000 / 1.000
      // — scaled cells keep populations small, but cosine assignment puts
      // true neighbors in the same cell, so even nprobe=1 is near-exact;
      // gates one notch below the measurement (everything is seeded, so
      // only a real regression can trip them)
      assert(recalls(1) >= 0.90, s"nprobe=1 recall regressed: ${recalls(1)}")
      assert(recalls(2) >= 0.95, s"x15-config (nprobe=2) recall regressed: ${recalls(2)}")
      assert(recalls(4) >= 0.95, s"nprobe=4 recall regressed: ${recalls(4)}")
    } finally { emb.unpersist(); () }
  }

  test("sf0.1 neardupPairs recall: 1.0 on true copies, >= 0.9 at cos 0.95 with default tables") {
    assume(new java.io.File(sfDir).isDirectory)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    // x16-style planted corpus: exact copies (cos = 1) plus jittered
    // copies (first dimension scaled 8x -> cos ~ 0.90-0.97) so the
    // 0.95 threshold is NON-trivial, unlike the raw table (which has
    // no organic pair above cos 0.9)
    val exactCopies = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val jittered = emb.filter(col("vec_id") % 10 === 1)
      .select((col("vec_id") + 20000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * 8.0f).otherwise(x)).as("embedding"))
    val corpus = emb.unionAll(exactCopies).unionAll(jittered).persist()
    try {
      val n = corpus.count()
      val truthAll = corpus.as("a").join(corpus.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
        .filter(col("cos") >= 0.95).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      def found(minCos: Double, tables: Int) =
        Similarity.neardupPairs(corpus, n, minCos, targetBucket = 32, tables = tables)
          .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // production threshold (x16): exact copies collide in EVERY
      // bucket, so recall is structurally 1.0 at the default 2 tables
      val truthCopies = truthAll.filter(_._3 >= 0.999).map(p => (p._1, p._2)).toSet
      val foundCopies = found(0.999, 2)
      assert(truthCopies.nonEmpty && (truthCopies diff foundCopies).isEmpty,
        s"missed true copies: ${(truthCopies diff foundCopies).take(5)}")
      // moderate threshold: measured 0.929 at tables=2, 0.981 at 4
      val truth95 = truthAll.map(p => (p._1, p._2)).toSet
      val r2 = (found(0.95, 2) intersect truth95).size.toDouble / truth95.size
      val r4 = (found(0.95, 4) intersect truth95).size.toDouble / truth95.size
      info(f"neardupPairs(minCos=0.95) recall: tables=2 $r2%.3f, tables=4 $r4%.3f")
      assert(r2 >= 0.9, s"default-tables recall regressed: $r2")
      assert(r4 >= 0.95, s"4-table recall regressed: $r4")
    } finally { corpus.unpersist(); () }
  }
}
