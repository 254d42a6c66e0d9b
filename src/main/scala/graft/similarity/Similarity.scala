package graft.similarity

import graft.ops.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (Array[Float]) for the
  * LLM-data-pipeline tier. Top-k by cosine has three routes: the exact
  * brute-force scan ([[bruteForceTopK]]), which every recall check uses as
  * its reference, and two candidate → exact-verify routes, IVF cells
  * ([[ivfTopK]]) and IVF-PQ codes ([[ivfPqTopK]]).
  *
  * Numeric discipline: dot products and norms are LEFT FOLDS in double
  * precision over the array order (`aggregate` HOF). float×float promoted
  * to double is exact (24-bit mantissas), so the only rounding is the
  * sequential sum — identical for any engine that folds left-to-right,
  * which makes results hash-comparable against the DuckDB oracle's
  * `list_reduce`. Order-dependent parallel reductions (SUM over exploded
  * rows) would NOT be reproducible; never used here.
  *
  * Scale design: the query side is small and broadcast — the corpus scan
  * stays shuffle-free narrow work; top-k uses the two-phase salted TopK
  * (graft.ops.TopK) so no single task sorts a whole query's scores. The
  * IVF routes turn the cross product into an equi-join on cell id.
  *
  * CACHE LIFETIME CONTRACT: neardupPairs / semanticDedup / ivfPqTopK
  * persist() staging (bucketed vectors, cell assignments) that the
  * returned lazy plan reads more than once, so they cannot unpersist
  * internally. Long-lived sessions should `spark.catalog.clearCache()`
  * after consuming results (Verify/Bench do, per query); see the same
  * note on graft.dedup.Dedup.
  */
object Similarity {

  /** Refusal threshold for [[semanticDedup]]'s ⌈√n⌉-cell route — see
    * its scaladoc for the sizing argument. */
  val DefaultSemanticDedupMaxCorpus: Long = 2000000L

  /** Left-fold dot product of two float arrays in double precision —
    * native codegen'd expression (graft.plans.DotFold); the HOF form of
    * the same fold is CodegenFallback and ~10× slower. */
  def dot(a: Column, b: Column): Column =
    graft.plans.functions.dot_fold(a, b)

  /** Left-fold squared L2 norm — native (graft.plans.SqNormFold). */
  def sqNorm(a: Column): Column =
    graft.plans.functions.sqnorm_fold(a)

  /** Guarded cosine similarity (0.0 when either vector is all-zero). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = sqNorm(a) * sqNorm(b)
    when(n === 0.0, 0.0).otherwise(d / sqrt(n))
  }

  /** Brute-force cosine top-k: every query vector against the whole
    * corpus. `queries` must be small (it is broadcast). Output:
    * (q_id, vec_id, cos) with k rows per query. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(scored(corpus.crossJoin(broadcast(queries))), k)

  /** (q_id, vec_id, cos): exact cosine of every joined (query, corpus)
    * row — the verify step every ANN route ends in. */
  private def scored(joined: DataFrame): DataFrame =
    joined.select(col("q_id"), col("vec_id"),
      cosine(col("q_emb"), col("embedding")).as("cos"))

  /** Per-query top-k by (cos desc, vec_id) over scored candidates. */
  private def topK(scoredRows: DataFrame, k: Int): DataFrame =
    TopK.perGroup(scoredRows, Seq(col("q_id")), Seq(col("cos").desc, col("vec_id")), k)

  /** Exact-cosine rerank of candidate (q_id, vec_id) pairs: join the
    * corpus vectors and the broadcast query batch, score, top-k. The
    * candidate pool is |q|·pool rows, so the join is scan-independent. */
  private def rerankTopK(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                         k: Int): DataFrame =
    topK(scored(cand.select("q_id", "vec_id")
      .join(corpus, "vec_id")
      .join(broadcast(queries), "q_id")), k)

  /** Hard-negative mining for contrastive training (x71) — the DPR
    * (Karpukhin et al. 2020) / SimCSE negative-selection step: for each
    * query vector, the k most similar corpus vectors that are NOT
    * positives. Excluded before ranking (an excluded row must never
    * occupy a top-k slot): the query row itself, every vector sharing
    * the query's label (supervised positives), and near-identical
    * vectors (cos ≥ `dupCos` — undetected duplicates of the positive,
    * the classic false-negative hazard of similarity-mined negatives).
    * What remains is exactly the high-similarity / wrong-label set a
    * contrastive objective learns most from. Output:
    * (q_id, rnk, vec_id, cos, label), k rows per query.
    *
    * Scale shape: the query side is a training batch — small, broadcast;
    * the corpus scan stays narrow and shuffle-free; ranking is
    * row_number-filtered so InferWindowGroupLimit pre-truncates each
    * split to its local top-k below the exchange (the A7 shape — never
    * a per-query global sort). At corpus scales where the exact scan is
    * too slow, feed the same exclusions ivfTopK's cell-probe candidates
    * with k′ > k headroom — the gate composes unchanged because it
    * filters before ranking. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    dupCos: Double = 0.98): DataFrame = {
    val f = corpus.crossJoin(broadcast(queries))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
      .filter(col("vec_id") =!= col("q_id") &&
        col("label") =!= col("q_label") && col("cos") < dupCos)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    f.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("q_id"), col("_rn").cast(LongType).as("rnk"),
        col("vec_id"), col("cos"), col("label"))
  }

  /** x80: contrastive training-triplet assembly — the hand-off artifact
    * of the mining tier: per anchor, THE hardest positive pick (most
    * similar same-label vector, self excluded) joined against the
    * [[hardNegatives]] top-k, with the per-pair margin cos(a,p) −
    * cos(a,n) a triplet-loss trainer consumes directly (a negative
    * margin = the triplet violates before training — the batch
    * statistic curriculum mining sorts on). Composes the two verified
    * pieces: the positive pick is the same broadcast-query scan with a
    * k=1 WindowGroupLimit rank, and the negative side IS
    * [[hardNegatives]]; the final join is |q| rows against |q|·k.
    * Output: (q_id, pos_id, pcos, neg_id, rnk, cos, margin), k rows
    * per anchor that has at least one same-label candidate. */
  def triplets(corpus: DataFrame, queries: DataFrame, k: Int,
               dupCos: Double = 0.98): DataFrame = {
    val pos = corpus.crossJoin(broadcast(queries))
      .filter(col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("pos_id"),
        cosine(col("q_emb"), col("embedding")).as("pcos"))
    val p1 = TopK.perGroup(pos, Seq(col("q_id")),
      Seq(col("pcos").desc, col("pos_id")), 1)
    p1.join(hardNegatives(corpus, queries, k, dupCos), "q_id")
      .select(col("q_id"), col("pos_id"), col("pcos"),
        col("vec_id").as("neg_id"), col("rnk"), col("cos"),
        (col("pcos") - col("cos")).as("margin"))
  }

  /** Sign-LSH bucket id from `bits` DETERMINISTIC RANDOM HYPERPLANES
    * (Rademacher ±1 entries from a double-Lehmer mix — not axis-aligned,
    * so no dependence on any dimension's marginal distribution): bit i is
    * the sign of the hyperplane-i projection, computed as a sequential
    * left fold in dimension order (oracle-reproducible). Native one-pass
    * codegen'd expression. `seed` selects an independent hash table —
    * union several for recall. */
  def signBucket(emb: Column, bits: Int = 4, seed: Int = 0): Column =
    graft.plans.functions.sign_bucket_rh(emb, bits, seed)

  /** Corpus-scaled hyperplane count: the smallest b with
    * 2^b ≥ n / targetBucket, so expected bucket population stays ≈
    * targetBucket no matter the corpus size — within-bucket work is
    * O(n · targetBucket), linear in the corpus, NOT O(n²/constant).
    * Integer-only (len-of-binary), reproducible in any engine. */
  def scaledBits(n: Long, targetBucket: Int = 32): Int = {
    val m = math.max((n + targetBucket - 1) / targetBucket, 2L)
    math.max(64 - java.lang.Long.numberOfLeadingZeros(m - 1), 1)
  }

  /** Corpus-scaled cell count for the IVF family (ivfTopK /
    * semanticDedup): cells = ⌈√n⌉. A flat coarse quantizer pays twice —
    * assignment is O(n·cells) (every vector scores every centroid) and
    * the within-cell candidate self-join is O(n²/cells) (expected cell
    * population n/cells, squared, times cells) — and the two balance at
    * cells = √n, making BOTH sides O(n^1.5). Any FIXED cell count
    * degenerates the pair join toward O(n²) as the corpus grows (the
    * hyperplane analog is scaledBits, which keeps bucket population
    * constant because hashing costs O(bits), not O(buckets), per row).
    * Reproducible across engines: IEEE-754 sqrt is correctly rounded,
    * so ⌈sqrt⌉ of an exact integer count is deterministic — DuckDB's
    * `ceil(sqrt(count(*)))` lands on the same value.
    *
    * `maxCells` caps the flat quantizer where its OWN costs take over:
    * the centroid table broadcasts to every executor (√n centroids ×
    * ~dim·4 B ≈ 64 MB at n = 10¹⁰, 256-dim floats) and assignment
    * scores all of them per vector. 64 Ki cells holds the broadcast to
    * ~tens of MB and assignment to ~65 K dots/vector; past the cap the
    * pair join grows as n²/65536 — past roughly n ≈ 4·10⁹ (where √n
    * crosses 64 Ki) the right structure is a TWO-LEVEL quantizer
    * (√cells coarse cells, then √cells sub-cells within each: same
    * O(n^1.5) totals with an O(n^0.25)-sized broadcast per level),
    * which is the documented upgrade path, not this flat operator.
    * The cap never binds below 4.3 B vectors, so small-scale results
    * (and the DuckDB oracle, which mirrors the same least/greatest
    * arithmetic) are unchanged. */
  def scaledCells(n: Long, minCells: Int = 8, maxCells: Int = 65536): Int =
    math.min(math.max(math.ceil(math.sqrt(n.toDouble)).toInt, minCells), maxCells)

  /** Embedding near-dup pairs: sign-LSH bucket self-join per hash table
    * (bits scaled to the corpus via scaledBits), candidates unioned
    * across `tables` independent seeds for recall, then the exact cosine
    * gate. Exact duplicates always share every bucket, so recall on true
    * copies is 1.0 regardless of bits. */
  def neardupPairs(corpus: DataFrame, n: Long, minCos: Double,
                   targetBucket: Int = 32, tables: Int = 2): DataFrame = {
    val bits = scaledBits(n, targetBucket)
    val b = corpus.select(col("vec_id"), col("embedding"),
        explode(array((0 until tables).map { s =>
          struct(lit(s).as("seed"),
            signBucket(col("embedding"), bits, s).as("bucket"))
        }: _*)).as("t"))
      .select(col("vec_id"), col("embedding"), col("t.seed"), col("t.bucket"))
      .persist() // self-joined
    b.as("a").join(b.as("k"),
        col("a.seed") === col("k.seed") && col("a.bucket") === col("k.bucket") &&
        col("a.vec_id") < col("k.vec_id"))
      // score BEFORE dedup: cosine is deterministic per pair, so distinct
      // on (ids, cos) equals distinct on ids — and the dedup shuffle then
      // moves 3 scalars per row instead of two embedding arrays
      .select(col("a.vec_id").as("vec_a"), col("k.vec_id").as("vec_b"),
        cosine(col("a.embedding"), col("k.embedding")).as("cos"))
      // row-local gate BEFORE the dedup exchange: only near-duplicates
      // (a tiny fraction of candidates) reach the distinct shuffle
      .filter(col("cos") >= minCos)
      .distinct() // same pair can collide in several tables
  }

  /** Embedding-space decontamination: flag every corpus vector whose
    * cosine to SOME benchmark/eval vector reaches `minCos` — the
    * semantic companion to the exact/Bloom (x24/x28) and fuzzy-n-gram
    * (x38) decontamination ops: paraphrased test-set leakage that
    * shares no n-grams still lands next to its source in embedding
    * space. Candidates come from the same corpus-scaled sign-LSH
    * buckets as [[neardupPairs]] (exact copies share every bucket —
    * recall on true leaks is structurally 1.0; `tables` seeds union
    * for the paraphrase band), but the join is BIPARTITE (corpus ×
    * eval, never corpus × corpus) and the result is an argmax per
    * corpus vector: max cosine, ties → lowest eval_id, via one struct
    * max (cross-table duplicate candidates collapse in the same
    * aggregation — no distinct pass needed). Output:
    * (vec_id, eval_id, max_cos) for contaminated vectors only.
    *
    * Scale shape: corpus rows explode to `tables` bucket rows of
    * (id, embedding, seed, bucket) — linear; the eval side is a
    * benchmark (bounded by construction, thousands of rows) but the
    * join takes NO forced hint: AQE broadcasts it when small and
    * degrades to a hash join on (seed, bucket) if someone passes an
    * eval set that isn't — the x36 lesson applied. The cosine gate is
    * row-local BEFORE the argmax shuffle, so only contaminated
    * candidates (a vanishing fraction) reach the aggregation, which is
    * map-side combinable (struct max). */
  def semanticDecontam(corpus: DataFrame, evalSet: DataFrame, n: Long,
                       minCos: Double, targetBucket: Int = 32,
                       tables: Int = 2): DataFrame = {
    val bits = scaledBits(n, targetBucket)
    def tableBuckets(emb: Column): Column =
      explode(array((0 until tables).map { s =>
        struct(lit(s).as("seed"), signBucket(emb, bits, s).as("bucket"))
      }: _*))
    val cb = corpus.select(col("vec_id"), col("embedding"),
        tableBuckets(col("embedding")).as("t"))
      .select(col("vec_id"), col("embedding"), col("t.seed"), col("t.bucket"))
    val eb = evalSet.select(col("eval_id"), col("e_emb"),
        tableBuckets(col("e_emb")).as("t"))
      .select(col("eval_id"), col("e_emb"), col("t.seed"), col("t.bucket"))
    cb.join(eb, Seq("seed", "bucket"))
      .select(col("vec_id"), col("eval_id"),
        cosine(col("embedding"), col("e_emb")).as("cos"))
      .filter(col("cos") >= minCos)
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("eval_id")).as("_nid"))).as("_m"))
      .select(col("vec_id"), (-col("_m").getField("_nid")).as("eval_id"),
        round(col("_m").getField("cos"), 6).as("max_cos"))
  }

  /** Collect a deterministic, bounded-by-construction tiny relation —
    * centroid / codebook tables, capped at ≤ 65,536 rows by
    * [[scaledCells]]/nCodes — into a driver-LOCAL
    * relation (r21, guide §1.2/§2.4). Every later reader then costs
    * ZERO Spark jobs: a BroadcastExchange over a LocalTableScan builds
    * on the driver without submitting a job, where the distributed form
    * paid one AQE materialization job per reader re-running the
    * TakeOrdered/window that produced the table (measured: x43 at 26
    * driver jobs, most of them ~80 ms one-task stages over exactly
    * these frames). Values are bit-identical — collect preserves floats
    * exactly — so this is plan shape only, never semantics. */
  private def localRel(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The deterministic centroid seed every cell quantizer here starts
    * from: the first `n` vectors by vec_id, as (cid, c_emb). */
  private def firstCells(corpus: DataFrame, n: Int): DataFrame =
    corpus.orderBy(col("vec_id")).limit(n)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))

  /** Assign each row to its `nprobe` nearest centroids by cosine
    * (broadcast centroids + per-row top-nprobe argmax — one narrow pass
    * over the big side, no shuffle of embeddings). With `keepScore` the
    * winning centroid cosine survives as `ccos` (the prototypicality
    * signal x98 ranks on); default drops it — most callers only need
    * the cell id. */
  def assignCells(df: DataFrame, idCol: String, emb: String,
                  centroids: DataFrame, nprobe: Int = 1,
                  keepScore: Boolean = false): DataFrame = {
    val scored = df.crossJoin(broadcast(centroids))
      .withColumn("_ccos", cosine(col(emb), col("c_emb"))).drop("c_emb")
    val ranked = TopK.perGroup(scored, Seq(col(idCol)),
        Seq(col("_ccos").desc, col("cid")), nprobe)
      .withColumnRenamed("cid", "cell")
    if (keepScore) ranked.withColumnRenamed("_ccos", "ccos")
    else ranked.drop("_ccos")
  }

  /** Cluster-balanced diversity sampling (the coreset-selection step of
    * embedding-space curation): assign every vector to its nearest of
    * `nCells` deterministic centroids, then keep at most `perCell`
    * members per cell, chosen in a deterministic multiplicative-hash
    * order of vec_id — an equal quota across embedding-space regions,
    * so over-represented regions are cut to their quota while sparse
    * regions keep everything. The hash (id mod p, affine, mod
    * p = 1e9+7) is a reproducible stand-in for a random draw, the same
    * convention as the x21 stratified sample; all arithmetic stays
    * under 2^63 so every engine computes it exactly. Output:
    * (vec_id, cell, hk) for kept members.
    *
    * Scale shape: assignment is the [[assignCells]] narrow
    * broadcast-argmax pass (size `nCells` with [[scaledCells]] — the
    * √n-broadcast trade of x15, with a two-level quantizer as the
    * past-10⁹ path); the quota rank is a per-CELL window whose
    * partitions hold one cell's members, ~√n rows by construction —
    * sublinear in the corpus, unlike the per-stratum window the x37
    * ledger note rules out (tens of strata → corpus-sized partitions).
    * Even under a degenerate assignment (every vector in one cell) the
    * sort cannot become corpus-sized: Spark plans the row_number ≤ k
    * filter as a WindowGroupLimit with a PARTIAL stage, so each map
    * task pre-prunes to perCell rows per cell before the exchange and
    * the final per-cell sort sees at most tasks × perCell rows
    * (PlanAuditSpec pins the WindowGroupLimit). Only (vec_id, cell,
    * hk) longs reach that shuffle — embeddings are dropped after the
    * assignment pass. */
  def cellBalancedSample(corpus: DataFrame, perCell: Int,
                         nCells: Int): DataFrame = {
    val p = 1000000007L
    val init = firstCells(corpus, nCells)
    assignCells(corpus, "vec_id", "embedding", init, 1)
      .select(col("vec_id"), col("cell"),
        (((col("vec_id") % p) * 1103515245L + 12345L) % p).as("hk"))
      .transform(TopK.perGroup(_, Seq(col("cell")),
        Seq(col("hk"), col("vec_id")), perCell))
      .select("vec_id", "cell", "hk")
  }

  /** IVF ANN: partition the corpus into cells by nearest centroid
    * (coarse quantizer), then search only the query's `nprobe` nearest
    * cells. Centroids are a deterministic sample (the first `nCells`
    * vectors); assignment is a broadcast cross join + per-vector argmax,
    * so corpus assignment is one narrow pass and the search is an
    * equi-join on cell id. Recall/latency trade: candidates shrink
    * ~nCells/nprobe×; raise `nprobe` for recall. Size `nCells` with
    * [[scaledCells]] — a fixed count leaves each cell holding n/nCells
    * vectors and the search join degenerates toward quadratic at scale. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int = 8,
              nprobe: Int = 1): DataFrame = {
    val cents = localRel(firstCells(corpus, nCells))
    val c = assignCells(corpus, "vec_id", "embedding", cents, 1)
    val q = assignCells(queries, "q_id", "q_emb", cents, nprobe)
      .select("q_id", "q_emb", "cell")
    // corpus vectors live in exactly one cell, so probing nprobe disjoint
    // cells never duplicates a (q_id, vec_id) candidate
    topK(scored(c.join(broadcast(q), "cell")), k)
  }

  /** Rank window over a post-`limit` seed frame of ≤ nCells + nCodes
    * rows. pmod(vec_id, 1) is an always-zero partition key that the
    * optimizer CANNOT constant-fold away (a bare lit(0) is folded out of
    * the partition spec, leaving a warn-worthy global window): same
    * single-partition plan, but explicit, so the "No Partition Defined"
    * warning never fires and PlanAuditSpec's no-global-window invariant
    * can assert cleanly. */
  private def seedOrder = org.apache.spark.sql.expressions.Window
    .partitionBy(pmod(col("vec_id"), lit(1L)))
    .orderBy(col("vec_id"))

  /** [[ivfPqTopK]]'s ADC stage: split vectors into nSub subspaces,
    * build the codebook from `seeds` (code, `emb`) subvectors, encode
    * every `toEncode` (vec_id, `emb`) subvector to its nearest code by
    * exact L2 (d² as one fold-built expression, ties to the lowest code,
    * so both engines agree), score queries against the codes through the
    * LUT dot(q_s, centroid), and keep the top `rerank` (q_id, vec_id) per
    * query by approximate cosine (exact per-vector norms). The coarse
    * term comes from `vecCells`, the (vec_id, cell) membership, and
    * `qCells`, the probed (q_id, cell, _qc = dot(q, c_cell)) rows; a
    * candidate's cell term is ADDED to the finished subspace fold (one
    * association both engines share) — using it as the fold's init
    * would associate (((qc+t1)+t2)+…) where DuckDB's list_reduce gives
    * qc+(((t1+t2)+…)), a genuinely different double. */
  private def adcCandidates(corpus: DataFrame, queries: DataFrame,
                            nSub: Int, subDim: Int,
                            seeds: DataFrame, toEncode: DataFrame, emb: String,
                            vecCells: DataFrame, qCells: DataFrame,
                            rerank: Int): DataFrame = {
    def subs(df: DataFrame, idc: String, e: String): DataFrame = df
      .select(col(idc), explode(array((0 until nSub).map { s =>
        struct(lit(s).as("s"),
          slice(col(e), s * subDim + 1, subDim).as("sub"))
      }: _*)).as("t"))
      .select(col(idc), col("t.s"), col("t.sub"))
    // nSub x nCodes rows, read by the encode join AND the query LUT —
    // localized so both broadcast builds cost zero jobs (see localRel)
    val codebook = localRel(subs(seeds, "code", emb)
      .select(col("s"), col("code"), col("sub").as("c_sub")))
    val d2 = sqNorm(col("sub")) + sqNorm(col("c_sub")) -
      lit(2.0) * dot(col("sub"), col("c_sub"))
    val encoded = TopK.perGroup(
      subs(toEncode, "vec_id", emb)
        .join(broadcast(codebook), "s")
        .select(col("vec_id"), col("s"), col("code"), d2.as("_d2")),
      Seq(col("vec_id"), col("s")), Seq(col("_d2"), col("code")), 1)
      .select("vec_id", "s", "code")
    val norms = corpus.select(col("vec_id"),
      sqrt(sqNorm(col("embedding"))).as("_vn"))
    val lut = subs(queries, "q_id", "q_emb")
      .join(broadcast(codebook), "s")
      .select(col("q_id"), col("s"), col("code"),
        dot(col("sub"), col("c_sub")).as("_pd"))
    val qNorms = queries.select(col("q_id"), sqrt(sqNorm(col("q_emb"))).as("_qn"))
    // the subspace terms folded in s order
    val fold = aggregate(transform(array_sort(collect_list(struct(col("s"), col("_pd")))),
      _.getField("_pd")), lit(0.0), (acc, x) => acc + x)
    val adot = encoded.join(vecCells, "vec_id")
      .join(broadcast(qCells), "cell")
      .join(broadcast(lut), Seq("q_id", "s", "code"))
      .groupBy("q_id", "vec_id")
      // _qc is constant within the group (one cell per vec)
      .agg((max(col("_qc")) + fold).as("_adot"))
    val approx = adot.join(norms, "vec_id").join(broadcast(qNorms), "q_id")
      .select(col("q_id"), col("vec_id"),
        when(col("_qn") * col("_vn") === 0.0, 0.0)
          .otherwise(col("_adot") / (col("_qn") * col("_vn"))).as("_acos"))
    TopK.perGroup(approx, Seq(col("q_id")),
      Seq(col("_acos").desc, col("vec_id")), rerank)
  }

  /** IVF-PQ top-k (the FAISS IVFADC composition): coarse cells bound
    * WHERE to look ([[ivfTopK]]'s partition trade), a shared residual
    * codebook bounds WHAT the scan reads (product quantization's
    * compression trade: nSub small codes + one norm per vector instead
    * of the float embedding) — together the standard billion-scale ANN
    * architecture.
    * Each vector stores its cell id, nSub residual codes, and one exact
    * norm; dot(q, x) = dot(q, c_cell) + dot(q, r) is approximated as
    * dot(q, c_cell) + Σ_s LUT[s, code_s], where the LUT holds
    * dot(q_s, residual-centroid) and is SHARED across cells (classic
    * IVFADC: one residual codebook, not per-cell). Queries probe
    * `nprobe` cells, score only those cells' codes, and the top
    * `rerank` candidates per query are re-ranked by exact cosine.
    * Residuals are float subtractions (exact in IEEE, identical in any
    * engine); every argmin ties to the lowest code and the scoring sum
    * folds the cell term first then subspace terms in order, so the
    * result is engine-reproducible. Size `nCells` with [[scaledCells]].
    * `dim` must be the embedding width, divisible by nSub. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                dim: Int, nCells: Int, nprobe: Int = 2,
                nSub: Int = 4, nCodes: Int = 16,
                rerank: Int = 10): DataFrame = {
    require(nSub > 0 && dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    // ≤ nCells rows, read by corpus assignment, the residual join and
    // the query probe — localized (zero-job broadcasts; see localRel)
    val cents = localRel(firstCells(corpus, nCells))
    val asg = assignCells(corpus, "vec_id", "embedding", cents, 1)
      .join(broadcast(cents.withColumnRenamed("cid", "cell")), "cell")
      .select(col("vec_id"), col("cell"), col("embedding"),
        zip_with(col("embedding"), col("c_emb"), (a, b) => a - b).as("_res"))
      .persist() // read by the residual codebook seeds + encoding
    // shared residual codebook: the lowest-id NON-CENTROID vectors'
    // residuals. The first nCells vectors ARE the coarse centroids —
    // their residuals are identically zero, and seeding from them
    // (first draft of this operator) produced an all-zero codebook
    // that silently degenerated ADC to cell-centroid-only scoring
    val seeds = asg.orderBy(col("vec_id")).limit(nCells + nCodes)
      .select(col("_res"), (row_number().over(seedOrder) - 1).as("_rk"))
      .filter(col("_rk") >= nCells)
      .select(col("_res"), (col("_rk") - nCells).as("code"))
    // query side: probed cells with the cell term dot(q, c_cell)
    val qCells = assignCells(queries, "q_id", "q_emb", cents, nprobe)
      .join(broadcast(cents.withColumnRenamed("cid", "cell")), "cell")
      .select(col("q_id"), col("cell"),
        dot(col("q_emb"), col("c_emb")).as("_qc"))
    val cand = adcCandidates(corpus, queries, nSub, dim / nSub, seeds,
      asg.select(col("vec_id"), col("_res")), "_res",
      asg.select("vec_id", "cell"), qCells, rerank)
    rerankTopK(cand, corpus, queries, k)
  }

  /** SemDeDup-style semantic dedup: partition the corpus into cells
    * around deterministic centroids (the first `nCells` vectors),
    * generate candidate pairs only WITHIN a cell, gate on exact cosine
    * ≥ `minCos`, and drop the higher-id member of each surviving pair —
    * one representative per semantic-duplicate group.
    * Output: (vec_id, cell, kept).
    *
    * Scale shape: assignment is one broadcast narrow pass (O(n·nCells));
    * candidates are a cell-keyed equi self-join (O(Σ cell²)). Balancing
    * the two means nCells grows with the corpus — size it with
    * [[scaledCells]] (⌈√n⌉, the classic IVF/SemDeDup trade) — semantic
    * locality then bounds each cell the way x16's hyperplane buckets do,
    * but with data-adaptive boundaries (centroids drawn from the data
    * follow its density; hyperplanes cannot). For a strictly linear
    * candidate bound at the cost of that locality, use
    * [[neardupPairs]]; the two share the exact-cosine gate.
    *
    * `maxCorpus` is an explicit size license that fails loudly, on the
    * one remaining by-design-superlinear route: nothing
    * else STOPS a caller from running the ⌈√n⌉-cell O(n^1.5) pair join
    * at corpus scale, so past `maxCorpus` rows this operator refuses
    * loudly and names [[semanticDedupBanded]] (linear candidate mass by
    * construction) as the scale path. 2 M rows keeps ~n^1.5/2 candidate
    * pairs under ~1.5 × 10⁹ — the edge of single-pass affordability and
    * an order of magnitude above every gate SF (sf10's embeddings tier
    * is 2 × 10⁵ rows, measured 10.5×/decade within the design ceiling).
    * Raise it explicitly to opt in beyond that. Callers that already
    * counted the corpus (every production site does, to size nCells)
    * pass `knownCount` so the guard costs no extra scan. */
  def semanticDedup(corpus: DataFrame, nCells: Int = 8, minCos: Double = 0.999,
                    maxCorpus: Long = DefaultSemanticDedupMaxCorpus,
                    knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(corpus.count())
    require(n <= maxCorpus,
      s"semanticDedup: corpus $n rows exceeds maxCorpus $maxCorpus — the " +
        "cell route's within-cell pair mass is O(n^1.5) BY DESIGN and past " +
        "this size the linear-candidate semanticDedupBanded is the scale " +
        "path (pass a larger maxCorpus to opt in to the superlinear join)")
    val assigned = assignCells(corpus, "vec_id", "embedding",
        firstCells(corpus, nCells), 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .persist() // cell self-join reads both sides; cache contract as on Dedup
    val dropped = assigned.as("a").join(assigned.as("k"),
        col("a.cell") === col("k.cell") && col("a.vec_id") < col("k.vec_id"))
      .select(col("k.vec_id").as("vec_id"),
        cosine(col("a.embedding"), col("k.embedding")).as("_cos"))
      // row-local gate before the distinct exchange — only true
      // near-duplicates (a tiny fraction of candidates) shuffle
      .filter(col("_cos") >= minCos)
      .select("vec_id").distinct()
    assigned.select("vec_id", "cell")
      .join(dropped.withColumn("_d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("_d").isNull.as("kept"))
  }

  /** The strictly-linear scale path for [[semanticDedup]] (the
    * "bit-bucketing route" the x32 32×-probe note prescribes once a
    * corpus outgrows the ⌈√n⌉-cell O(n^1.5) pair bound): candidates
    * come from [[neardupPairs]]'s corpus-scaled sign-LSH buckets
    * (bits grow with n, bucket population stays ~constant, so the
    * within-bucket self-join is O(n · tables) candidate rows), the
    * exact-cosine gate is unchanged, and the higher-id member of each
    * surviving pair is dropped exactly as in [[semanticDedup]].
    * Output: (vec_id, kept).
    *
    * The trade vs the cell route: hyperplane buckets are oblivious to
    * data density (a near-boundary pair can land in different buckets
    * in every table — recall < 1 on MODERATE-similarity pairs, while
    * exact copies share every bucket and are never missed), but the
    * candidate volume is linear by construction instead of relying on
    * semantic locality to bound cell populations. At 100 TB run THIS
    * form; at ≤ n^1.5-affordable scale the cell form catches more
    * near-boundary paraphrases per probe. */
  def semanticDedupBanded(corpus: DataFrame, n: Long, minCos: Double = 0.999,
                          targetBucket: Int = 32, tables: Int = 2): DataFrame = {
    val dropped = neardupPairs(corpus, n, minCos, targetBucket, tables)
      .select(col("vec_b").as("vec_id")).distinct()
    corpus.select("vec_id")
      .join(dropped.withColumn("_d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("_d").isNull.as("kept"))
  }

  /** MMR (maximal marginal relevance) diversity re-rank: from the
    * `topN` most query-relevant vectors, greedily select `k` that
    * maximize `lam·cos(q, v) − (1−lam)·max_{s∈selected} cos(v, s)` —
    * the standard redundancy-penalized selection for retrieval
    * results and demonstration sets. Ties break to the lowest vec_id;
    * cosine is signed (a negatively-correlated candidate can score
    * above pure relevance — faithful to the formula). Output:
    * (step, vec_id, score) in selection order, step 1-based.
    *
    * Scale shape: the corpus-sized work is ONE distributed pass — the
    * relevance scan against a broadcast single-row query, pruned to
    * `topN` by a TakeOrderedAndProject (never a global sort). The
    * greedy itself is inherently sequential (pick i depends on picks
    * 1..i−1), so it runs where sequential work belongs: inside one
    * native expression over the BOUNDED topN array (O(k·topN·d), a
    * user-constant cost). The rejected alternatives both misplace the
    * sequence: k driver-blocking argmax jobs (k scheduler round-trips
    * for microseconds of math), or a self-referencing union lineage
    * whose analyzed plan doubles per step (2^k nodes). collect_list's
    * order-nondeterminism is immaterial — every argmax compares the
    * total order (score DESC, vec_id ASC). */
  def mmrRerank(corpus: DataFrame, queryId: Long, topN: Int = 32,
                k: Int = 8, lam: Double = 0.5): DataFrame = {
    val q = corpus.filter(col("vec_id") === queryId)
      .select(col("embedding").as("_qv"))
    // null embeddings are excluded up front: a null would ride a NULL
    // rel into the top-N boundary (nulls-last keeps it out only when
    // candidates exceed topN) and the native greedy reads raw arrays
    val cand = corpus.filter(col("vec_id") =!= queryId &&
        col("embedding").isNotNull)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        cosine(col("embedding"), col("_qv")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(topN)
    cand
      .agg(collect_list(struct(col("vec_id"), col("rel"), col("embedding")))
        .as("_c"))
      .select(posexplode(graft.plans.functions.mmr_select(col("_c"), k, lam))
        .as(Seq("_p", "_s")))
      .select((col("_p") + 1).cast(LongType).as("step"),
        col("_s").getField("vec_id").as("vec_id"),
        round(col("_s").getField("score"), 6).as("score"))
  }

  /** x96 — embedding-space drift between two corpus snapshots: the
    * vector analog of the x93 token-distribution monitor ("did the new
    * crawl slice shift the SEMANTIC mix, even where the token mix looks
    * stable?"). Both snapshots are assigned to the SAME deterministic
    * cell structure (first `nCells` vectors of the OLD snapshot — the
    * x15 quantizer convention, so the reference frame is pinned to what
    * the pipeline already held), and each cell reports its population
    * share under both snapshots plus the absolute share delta; the
    * total-variation distance is 0.5·Σ share_delta, computable from the
    * output rows. Every share is one exact long-over-long division;
    * deltas are single IEEE ops — engine-portable without ordered
    * folds.
    *
    * Scale shape: two broadcast-argmax assignment passes (narrow, no
    * embedding shuffle — the [[assignCells]] plan), two cell-keyed
    * counts, and joins over the nCells-bounded centroid frame. Output:
    * one row per cell. */
  def embeddingDrift(oldSnap: DataFrame, newSnap: DataFrame,
                     nCells: Int): DataFrame = {
    require(nCells > 0, s"nCells must be positive, got $nCells")
    val cents = firstCells(oldSnap, nCells)
    def cellCounts(snap: DataFrame, as: String): DataFrame =
      assignCells(snap, "vec_id", "embedding", cents, 1)
        .groupBy(col("cell").as("cid")).agg(count(lit(1)).as(as))
    val oldC = cellCounts(oldSnap, "old_n")
    val newC = cellCounts(newSnap, "new_n")
    val joined = cents.select("cid")
      .join(oldC, Seq("cid"), "left").join(newC, Seq("cid"), "left")
      .na.fill(0L, Seq("old_n", "new_n"))
    val tots = joined.agg(sum(col("old_n")).as("old_tot"),
      sum(col("new_n")).as("new_tot"))
    joined.crossJoin(broadcast(tots))
      .select(col("cid"), col("old_n"), col("new_n"),
        round(col("old_n").cast("double") / col("old_tot"), 6).as("share_old"),
        round(col("new_n").cast("double") / col("new_tot"), 6).as("share_new"),
        round(abs(col("old_n").cast("double") / col("old_tot")
          - col("new_n").cast("double") / col("new_tot")), 6).as("share_delta"))
  }

  /** x98 — prototypicality pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws": with abundant data, pruning the EASIEST —
    * most prototypical — examples beats random): every vector is
    * assigned to its nearest deterministic cell (first `nCells` vectors
    * by vec_id, the x15 quantizer convention) and ranked WITHIN its
    * cell by cosine to the cell centroid, rank 1 = most prototypical;
    * the top ⌈cell_n·prunePct/100⌉ per cell are flagged `pruned`. The
    * per-cell quota is exact integer arithmetic (⌈n·p/100⌉ =
    * ⌊(n·p+99)/100⌋ — both operands < 2⁵³ so the double division is
    * exact before the floor); ranks compare IEEE doubles both engines
    * compute identically (left-fold cosine), so the order is
    * engine-portable.
    *
    * Scale shape: assignment is the [[assignCells]] narrow
    * broadcast-argmax pass; embeddings are dropped before the rank
    * shuffle — only (vec_id, cell, ccos) crosses the wire. The rank
    * window partitions one cell's members, ~√n rows under [[scaledCells]]
    * sizing (the x47 argument); it is a FULL per-cell ranking (every
    * vector gets a rank — the pruning report needs it), so no
    * WindowGroupLimit pre-truncation applies, unlike the top-k family. */
  def prototypicality(corpus: DataFrame, nCells: Int,
                      prunePct: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nCells > 0, s"nCells must be positive, got $nCells")
    require(prunePct >= 0 && prunePct <= 100,
      s"prunePct must be in [0, 100], got $prunePct")
    val cents = firstCells(corpus, nCells)
    val assigned = assignCells(corpus, "vec_id", "embedding", cents, 1,
        keepScore = true)
      .select(col("vec_id"), col("cell"), col("ccos"))
    val wRank = Window.partitionBy(col("cell"))
      .orderBy(col("ccos").desc, col("vec_id"))
    val wCell = Window.partitionBy(col("cell"))
    assigned
      .withColumn("rnk", row_number().over(wRank).cast(LongType))
      .withColumn("cell_n", count(lit(1)).over(wCell))
      .select(col("vec_id"), col("cell"), round(col("ccos"), 6).as("cos_r"),
        col("rnk"), col("cell_n"),
        (col("rnk") <= floor((col("cell_n") * prunePct + lit(99))
          / lit(100.0)).cast(LongType)).as("pruned"))
  }

  /** Exact distributed PCA, top component (x113): the corpus's principal
    * embedding axis via the one-pass Gram-matrix aggregate + a
    * deterministic driver-side power iteration. Returns every vector's
    * projection onto the axis (`pc1`) plus the axis's explained-variance
    * share (`ev_ratio` = Rayleigh quotient / trace — constant column).
    * This is the corpus-level structure readout the curation tier uses
    * for "is there one dominant direction" (anisotropy: Mu & Viswanath
    * 2018's all-but-the-top observation) and for principal-axis
    * binning/whitening decisions.
    *
    * Determinism contract (hash-comparable against the DuckDB oracle):
    *  - vectors quantize with a fixed grid
    *    floor(x·2¹⁵ + 0.5) — so the Gram matrix is EXACT integer sums,
    *    order-free under any partitioning ([[graft.plans.GramMatrixAgg]]);
    *  - the power iteration (fixed `iters`, init 1/√dim) runs
    *    single-threaded on the model-sized (dim·(dim+1)/2 longs)
    *    collected triangle, every sum a LEFT FOLD in index order — the
    *    same IEEE sequence `list_reduce` replays;
    *  - the final projection is a left-fold `aggregate` HOF against the
    *    eigenvector as a plan literal (model-as-literal, the x72
    *    convention — no join).
    *
    * Scale shape: ONE pass over the corpus reduced map-side to a 2080-
    * long buffer (dim 64), a 1-row collect, then a scan-speed
    * projection; shuffle volume is O(dim²), independent of corpus size.
    * Overflow-safe to ~2³³ rows at unit-norm scale 2¹⁵ (see
    * GramMatrixAgg). */
  /** Deterministic power iteration (fixed `iters`, init 1/√dim): every
    * sum a LEFT FOLD in index order — the exact IEEE sequence the
    * DuckDB oracle's `list_reduce` replays. Degenerate matrix (zero
    * matvec norm) stays at the fixed point, same guard as the SQL. */
  private def powerIterate(g: Array[Array[Double]], dim: Int,
                           iters: Int): Array[Double] = {
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var t = 0
    while (t < iters) {
      val w = matvec(g, v, dim)
      var acc = 0.0; var r = 0
      while (r < dim) { acc += w(r) * w(r); r += 1 }
      val n = math.sqrt(acc)
      v = if (n == 0.0) w else w.map(_ / n)
      t += 1
    }
    v
  }

  private def matvec(g: Array[Array[Double]], v: Array[Double],
                     dim: Int): Array[Double] =
    Array.tabulate(dim) { r =>
      var acc = 0.0; var c = 0
      while (c < dim) { acc += g(r)(c) * v(c); c += 1 }
      acc
    }

  /** Rayleigh quotient vᵀGv for a unit v (left folds, index order). */
  private def rayleigh(g: Array[Array[Double]], v: Array[Double],
                       dim: Int): Double = {
    val gv = matvec(g, v, dim)
    var lam = 0.0; var i = 0
    while (i < dim) { lam += gv(i) * v(i); i += 1 }
    lam
  }

  def principalComponent(corpus: DataFrame, dim: Int,
                         iters: Int = 30): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    val q = transform(col("embedding"),
      x => floor(x.cast(DoubleType) * lit(32768.0) + lit(0.5)).cast(LongType))
    val quant = corpus.select(col("vec_id"), q.as("q"))
    val tri = quant.agg(graft.plans.functions.gram_matrix(col("q"), dim))
      .head().getSeq[Long](0).toArray // model-sized: dim*(dim+1)/2 longs
    // expand the triangle to a full symmetric matrix, scaled by 2^-30
    // (exact power-of-two rescale of the 2^15-grid products)
    val g = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val x = tri(graft.plans.GramMatrixAgg.triIndex(dim, i, j)).toDouble /
          1073741824.0
        g(i)(j) = x; g(j)(i) = x
        j += 1
      }
      i += 1
    }
    val v = powerIterate(g, dim, iters)
    val lam = rayleigh(g, v, dim)
    var trace = 0.0
    i = 0
    while (i < dim) { trace += g(i)(i); i += 1 }
    val evRatio = if (trace == 0.0) 0.0 else lam / trace
    val proj = aggregate(
      zip_with(col("q"), lit(v), (a, b) => a.cast(DoubleType) * b),
      lit(0.0), (acc, x) => acc + x)
    quant.select(col("vec_id"),
      round(proj / lit(32768.0), 6).as("pc1"),
      round(lit(evRatio), 6).as("ev_ratio"))
  }

  /** All-but-the-top embedding post-processing (x115): center the
    * corpus, find the top principal component of the COVARIANCE (not
    * the raw Gram — x113's readout is uncentered), remove it from every
    * vector, and report the isotropy gain (Mu & Viswanath 2018: common
    * embedding spaces hide their signal under one dominant direction +
    * a non-zero mean; stripping both measurably improves similarity
    * tasks — this is the corrective the x32/x64 SemDeDup family would
    * run first at 100 TB).
    *
    * ONE corpus pass via the homogeneous-coordinate trick: augment each
    * quantized vector with the constant 2¹⁵ and take
    * [[graft.plans.GramMatrixAgg]] at dim+1 — the extra row carries the
    * exact per-dimension sums (cell (i,dim) = 2¹⁵·Σqᵢ) and the exact
    * count (corner = n·2³⁰), so mean AND covariance come out of the same
    * O(dim²) map-side-combinable buffer; no second aggregate. All
    * driver math is fixed-order left folds on exact integers (the x113
    * determinism contract); the deflated second component comes from a
    * second power iteration on C − λ₁v₁v₁ᵀ.
    *
    * Output: per vector `proj1` (component along the top axis, the part
    * removed) and `res_norm` (length after removal), plus the constant
    * columns `ev_before` (λ₁/tr C) and `ev_after` (λ₂/(tr−λ₁) — the top
    * share of what remains). Projection is a scan-speed HOF with μ and
    * v₁ as plan literals. */
  def allButTop(corpus: DataFrame, dim: Int, iters: Int = 30): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    val qx = transform(col("embedding"),
      x => floor(x.cast(DoubleType) * lit(32768.0) + lit(0.5)).cast(LongType))
    val quant = corpus.select(col("vec_id"), qx.as("q"))
    val aug = quant.select(concat(col("q"), array(lit(32768L))).as("a"))
    val adim = dim + 1
    val tri = aug.agg(graft.plans.functions.gram_matrix(col("a"), adim))
      .head().getSeq[Long](0).toArray // model-sized: (dim+1)(dim+2)/2 longs
    def cell(i: Int, j: Int): Long =
      tri(graft.plans.GramMatrixAgg.triIndex(adim, math.min(i, j), math.max(i, j)))
    val n = cell(dim, dim) / 1073741824L     // corner = n * 2^30, exact
    require(n > 0, "allButTop: empty corpus")
    val sw = Array.tabulate(dim)(i => cell(i, dim) / 32768L) // exact sums
    val mu = Array.tabulate(dim)(i => (sw(i).toDouble / 32768.0) / n)
    val c = Array.tabulate(dim, dim) { (i, j) =>
      (cell(i, j).toDouble / 1073741824.0) / n - mu(i) * mu(j)
    }
    val v1 = powerIterate(c, dim, iters)
    val lam1 = rayleigh(c, v1, dim)
    var trace = 0.0
    var i = 0
    while (i < dim) { trace += c(i)(i); i += 1 }
    // deflate and re-iterate for the post-removal top share
    val c2 = Array.tabulate(dim, dim)((r, s) => c(r)(s) - lam1 * v1(r) * v1(s))
    val lam2 = rayleigh(c2, powerIterate(c2, dim, iters), dim)
    val evBefore = if (trace == 0.0) 0.0 else lam1 / trace
    val evAfter = if (trace - lam1 == 0.0) 0.0 else lam2 / (trace - lam1)
    val centered = zip_with(col("q"), lit(mu),
      (a, m) => a.cast(DoubleType) / lit(32768.0) - m)
    quant
      .withColumn("c", centered)
      .withColumn("proj", aggregate(
        zip_with(col("c"), lit(v1), (ci, vi) => ci * vi),
        lit(0.0), (acc, x) => acc + x))
      .select(col("vec_id"),
        round(col("proj"), 6).as("proj1"),
        round(sqrt(aggregate(
          zip_with(col("c"), lit(v1),
            (ci, vi) => (ci - col("proj") * vi) * (ci - col("proj") * vi)),
          lit(0.0), (acc, x) => acc + x)), 6).as("res_norm"),
        round(lit(evBefore), 6).as("ev_before"),
        round(lit(evAfter), 6).as("ev_after"))
  }
}
