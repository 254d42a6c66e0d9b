package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training + artifact plumbing for the x72 hashed linear quality
  * classifier — the model behind [[TextOps.classifierScore]].
  *
  * The reference pipeline has no model-based filter (its curation is
  * rule-only); this is the fasttext-shaped bootstrap every LLM curation
  * stack runs (CCNet §4.4, LLaMA's "quality classifier"): label a seed
  * corpus with the RULES you already trust (here: [[TextOps.gopherFlags]]
  * on the real documents, plus planted boilerplate / symbol-spam /
  * number-spam negatives from [[junkCorpus]]), train a small linear model
  * over hashed n-gram features, then score EVERYTHING at scan speed with
  * the trained weights.
  *
  * Training algorithm — chosen for exact cross-run reproducibility, not
  * just convergence:
  *  1. '''NB log-count-ratio init''': one map-side-combinable aggregation
  *     of per-bucket (pos, neg) presence counts (exact integers, any
  *     partitioning), then w_b = round(scale · ln(((pos_b+1)/(posTot+D)) /
  *     ((neg_b+1)/(negTot+D)))) on the driver — the NB-SVM log-count-ratio
  *     feature weighting (Wang & Manning 2012), deterministic double math
  *     on exact integer inputs.
  *  2. '''Integer batch-perceptron polish''': per epoch, margin every doc
  *     with the current weights (the same native [[graft.plans
  *     .HashedWeightSum]] scoring the serving path uses), and apply
  *     Δw_b = lr · Σ_misclassified y_d · x_d[b] — an ORDER-FREE integer
  *     sum, unlike the classic sequential perceptron, so the trained
  *     artifact is bit-identical under any partitioning / task order.
  *     Stops early when an epoch misclassifies nothing.
  *
  * Scale shape: the corpus is touched once per epoch with a narrow
  * codegen'd projection + one map-side-combinable aggregation; the ONLY
  * driver-side state is the model itself (`dim` longs — 32 KB at the
  * default 4096) and the ≤`dim`-row update collect per epoch, the same
  * bounded-collect discipline as the BPE merge loop and the CC round
  * count. Nothing corpus-sized ever reaches the driver.
  *
  * The trained weights are persisted DENSE (`bucket` 0..dim−1, `weight`)
  * as a parquet artifact BOTH engines read — Spark densifies it into a
  * plan literal; the DuckDB oracle `list(weight ORDER BY bucket)`s the
  * same file — which keeps x72/x84 hash-compared end to end, weights
  * included. */
object Classifier {

  /** Weight-table width. 2¹² buckets ≈ 5 hashed bigrams per bucket at the
    * fixture's ~20k distinct bigrams — collisions share weights by design
    * (the feature-hashing trick); raising dim only lowers collision rate. */
  val Dim = 4096

  /** Reserved structural namespace: the top `StructDim` buckets hold the
    * direct-indexed structural tokens (13 length + 4 stop-hit + 11
    * alpha-ratio ids = 28 used, the rest headroom); lexical hashes are
    * bucketed mod (dim − StructDim) so they can NEVER collide with a
    * structural bucket. Collisions between the generatively-weighted
    * lexical channel are harmless averaging; a collision INTO a
    * discriminatively-trained structural bucket hands a random bigram a
    * rule-sized weight — on a small shared vocabulary that one bigram
    * sits in hundreds of documents and flips them all. */
  val StructDim = 64

  /** The committed trained artifact (see scripts in README / TrainClassifier),
    * resolved against the JVM's working directory (the checkout root) —
    * absolute, because the oracle SQL embeds it for DuckDB to read. */
  val DefaultWeightsPath: String =
    new java.io.File("fixtures/classifier_weights.parquet").getAbsolutePath

  /** Planted-junk doc_id offsets — shared by [[junkCorpus]], the x84
    * oracle SQL, and the fixture stamp below. */
  val JunkBoilerplateOffset = 20000000L
  val JunkSymbolOffset = 30000000L
  val JunkNumberOffset = 40000000L

  /** Generator constants the committed artifact was trained under, as a
    * stamp on the classifier weights: if any of these change at HEAD,
    * the committed parquet silently stops matching the features/oracles
    * that read it, so the stamp (a `.meta` sidecar — the artifact itself
    * is a single parquet FILE) must be regenerated WITH the artifact
    * (TrainClassifier), and FixtureStampSpec fails until it is. */
  def stampText: String =
    s"dim=$Dim;structDim=$StructDim;" +
      s"junk=$JunkBoilerplateOffset,$JunkSymbolOffset,$JunkNumberOffset;gen=1"

  private def stampPath(path: String) = path + ".meta"

  /** Does the artifact's stamp sidecar match HEAD's generator
    * constants? Missing sidecar → false (an unstamped artifact cannot
    * vouch for its own constants). */
  def stampOk(spark: SparkSession, path: String = DefaultWeightsPath): Boolean = {
    import org.apache.hadoop.fs.Path
    val sp = new Path(stampPath(path))
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(sp) && {
      val in = fs.open(sp)
      val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      got == stampText
    }
  }

  /** Planted junk — three deterministic negative generators per document,
    * each failing a DIFFERENT Gopher rule, each expressible verbatim in
    * the x84 oracle SQL (constants + repeat + doc_id cast only):
    *  - `+20000000` boilerplate: a stopword-free marketing line repeated
    *    (fails the ≥2-stopwords rule; the n-gram shape of SEO spam),
    *  - `+30000000` symbol spam: `### $$$ ... 000` repeated (fails the
    *    alpha-word and symbol-ratio rules),
    *  - `+40000000` number spam: doc_id-salted numeric runs (fails the
    *    alpha-word rule; the doc_id salt spreads negative mass over the
    *    hash space instead of concentrating it in a handful of buckets). */
  def junkCorpus(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("text"))
    val j1 = base.select((col("doc_id") + JunkBoilerplateOffset).as("doc_id"),
      repeat(lit("click here subscribe now free offer limited deal best price order today "),
        12).as("text"))
    val j2 = base.select((col("doc_id") + JunkSymbolOffset).as("doc_id"),
      repeat(lit("### $$$ ... 000 "), 40).as("text"))
    val j3 = base.select((col("doc_id") + JunkNumberOffset).as("doc_id"),
      repeat(concat(col("doc_id").cast(StringType), lit(" 404 503 12345 99 ")),
        20).as("text"))
    j1.unionByName(j2).unionByName(j3)
  }

  /** Rules-labeled training fixture: real documents labeled by the
    * Gopher gate (pass → 1, fail → 0) ∪ planted junk (→ 0). Output:
    * (doc_id, text, label). */
  def labeledFixture(docs: DataFrame): DataFrame = {
    val real = docs.select(col("doc_id"), col("text"))
      .join(TextOps.gopherFlags(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("passes")), "doc_id")
      .select(col("doc_id"), col("text"),
        when(col("passes"), 1).otherwise(0).as("label"))
    real.unionByName(
      junkCorpus(docs, col("doc_id"), col("text")).withColumn("label", lit(0)))
  }

  /** Train on (text, label∈{0,1}) rows; returns the dense weight table.
    * Deterministic under any partitioning (see object doc).
    *
    * Two-channel design (the r13 post-mortem fix): the LEXICAL channel
    * (hashed bigrams) is weighted GENERATIVELY only — NB log-count-ratio
    * at a small scale — while the perceptron polish updates ONLY the
    * three STRUCTURAL tokens. Discriminative updates on hashed lexical
    * buckets memorize the seen vocabulary and destroy held-out
    * calibration (r13: biased-negative artifact, empty upper bins); the
    * structural tokens are the generalizing channel by construction
    * (≤ 28 shared ids, every held-out doc hits the same ones). `gamma`
    * is a margin target: polish keeps pushing until every training doc
    * clears ±gamma, so the structural signal ends up DOMINATING the
    * bounded lexical noise instead of merely edging it — that dominance
    * is what transfers to held-out text. */
  def train(labeled: DataFrame, dim: Int = Dim, maxEpochs: Int = 100,
            lr: Long = 25L, nbScale: Double = 100.0,
            gamma: Long = 5000L): Array[Long] = {
    require(dim > 0 && maxEpochs >= 0 && lr > 0 && gamma >= 0)
    val feats = labeled.select(col("label"),
        TextOps.classifierFeatures(col("text"), dim).as("feats"))
      .persist()
    try {
      // --- NB log-count-ratio init (one agg, ≤dim rows collected)
      val counts = feats.select(col("label"), explode(col("feats")).as("h"))
        .select(col("label"), pmod(col("h"), lit(dim.toLong)).as("b"))
        .groupBy("b").agg(
          sum(when(col("label") === 1, 1L).otherwise(0L)).as("pos"),
          sum(when(col("label") === 0, 1L).otherwise(0L)).as("neg"))
        .collect()
      val pos = new Array[Long](dim)
      val neg = new Array[Long](dim)
      counts.foreach { r =>
        val b = r.getLong(0).toInt
        pos(b) = r.getLong(1); neg(b) = r.getLong(2)
      }
      val posTot = pos.sum.toDouble
      val negTot = neg.sum.toDouble
      val w = new Array[Long](dim)
      var b = 0
      while (b < dim) {
        if (pos(b) + neg(b) > 0)
          w(b) = math.round(nbScale * math.log(
            ((pos(b) + 1.0) / (posTot + dim)) / ((neg(b) + 1.0) / (negTot + dim))))
        b += 1
      }
      // --- integer margin-perceptron polish, STRUCTURAL buckets only:
      // a doc below the ±gamma margin contributes ±lr to its three
      // structural tokens (the trailing slice of the feature array) —
      // an order-free integer sum, bit-identical under any partitioning
      var epoch = 0
      var converged = false
      while (epoch < maxEpochs && !converged) {
        val margined = feats.withColumn("margin",
          graft.plans.functions.hashed_weight_sum(col("feats"), lit(w)))
        val bad = margined.filter(
          (col("label") === 1 && col("margin") < gamma) ||
            (col("label") === 0 && col("margin") >= -gamma))
        val updates = bad
          .select(col("label"), explode(slice(col("feats"), -3, 3)).as("h"))
          .select(pmod(col("h"), lit(dim.toLong)).as("b"),
            when(col("label") === 1, lr).otherwise(-lr).as("d"))
          .groupBy("b").agg(sum(col("d")).as("d"))
          .collect()
        if (updates.isEmpty) converged = true
        else updates.foreach { r => w(r.getLong(0).toInt) += r.getLong(1) }
        epoch += 1
      }
      w
    } finally feats.unpersist()
  }

  /** Persist the dense weight table (bucket 0..dim−1, weight) as ONE
    * flat parquet FILE (not a Spark part-file directory) — the artifact
    * is committed to the repo and read by plain `read_parquet(path)` in
    * the DuckDB oracle, so the Spark write is staged to a temp dir and
    * the single part file renamed into place. */
  def saveWeights(spark: SparkSession, w: Array[Long], path: String): Unit = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val tmp = path + ".staging"
    w.zipWithIndex.map { case (wt, b) => (b, wt) }.toSeq
      .toDF("bucket", "weight")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = Option(fs.globStatus(new Path(tmp, "part-*.parquet")))
      .map(_.toSeq).getOrElse(Seq.empty)
    require(part.size == 1, s"expected exactly one part file under $tmp")
    fs.delete(new Path(path), true)
    require(fs.rename(part.head.getPath, new Path(path)),
      s"rename ${part.head.getPath} -> $path failed")
    fs.delete(new Path(tmp), true)
    // stamp AFTER the artifact commit: a crash between the two leaves
    // an unstamped artifact that FixtureStampSpec rejects, never a
    // stamped stale one
    val sp = new Path(stampPath(path))
    val out = fs.create(sp, true)
    try out.write(stampText.getBytes("UTF-8")) finally out.close()
    cache.synchronized { cache.remove(path) }
  }

  /** Load a dense weight table back into the driver-side model array
    * (model-sized collect — `dim` rows). Memoized per path: the bench
    * harness re-invokes each query several times and the artifact is
    * immutable within a run. */
  def loadWeights(spark: SparkSession, path: String = DefaultWeightsPath): Array[Long] =
    cache.synchronized {
      cache.getOrElseUpdate(path, {
        // gate at LOAD time, not only in FixtureStampSpec: a weights
        // artifact regenerated under older constants (or with a stale
        // sidecar) must fail the run that would silently score with it
        require(stampOk(spark, path),
          s"classifier weights at $path carry no stamp matching HEAD's " +
            s"generator constants ('$stampText') — regenerate with " +
            "TrainClassifier so the artifact and code agree")
        val rows = spark.read.parquet(path).select("bucket", "weight").collect()
        require(rows.nonEmpty, s"empty classifier weight table at $path")
        val dim = rows.iterator.map(_.getInt(0)).max + 1
        val w = new Array[Long](dim)
        rows.foreach(r => w(r.getInt(0)) = r.getLong(1))
        w
      })
    }

  private val cache = scala.collection.mutable.Map.empty[String, Array[Long]]
}
