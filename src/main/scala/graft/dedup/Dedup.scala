package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for the LLM-data-pipeline tier: exact dedup,
  * MinHash+LSH near-dup, SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup is one hash-aggregate on a digest of the normalized
  *     text — map-side combine reduces each partition to its distinct
  *     keys before the single shuffle; no raw text ever shuffles.
  *   - near-dup NEVER does an all-pairs join. MinHash signatures are
  *     per-row narrow work; the LSH band explode multiplies rows by the
  *     (small, constant) band count; candidate generation groups the
  *     band rows by (band_id, band_key) — one shuffle whose key
  *     cardinality grows with the corpus, so bucket sizes stay bounded
  *     and skew is governed by real duplicate clusters, exactly the rows
  *     we want co-located — and expands each bucket into its pairs
  *     ([[bucketPairs]]). Exact Jaccard runs only on candidate pairs.
  *   - SimHash pairs band a 64-bit fingerprint Manku-style (4×16-bit
  *     bands; Hamming ≤ 3 guarantees an exact match on ≥ 1 band) so
  *     candidate generation is the same bounded-bucket shape as MinHash
  *     banding — never a constant-way partition of the space.
  *
  * CACHE LIFETIME CONTRACT: operators that persist() a staged frame
  * several plan branches read (lshBucketAudit's normalized text) must
  * keep the cache live until the RETURNED (lazy) DataFrame has been
  * consumed, so they cannot unpersist internally; in a long-lived session, call
  * `spark.catalog.clearCache()` (or unpersist the returned frame's
  * cached children) after consuming the result — graft's Verify/Bench
  * mains do exactly that per query.
  */
object Dedup {

  /** Exact dedup: group by md5 of the normalized text, keep the smallest
    * id as survivor plus the duplicate count. */
  def exact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(md5(TextOps.norm(text)).as("norm_key"))
      .agg(min(id).as("doc_id"), count(lit(1)).as("dup_count"))
      .select("doc_id", "dup_count")

  private val P = 1000000007L

  /** Distinct character k-shingles of pre-normalized text, each reduced to
    * a polynomial rolling hash (fold acc*31+codepoint mod 1e9+7) — one
    * cheap integer fold per shingle instead of a cryptographic digest.
    * Engine-portable: any SQL engine reproduces it with ord/list folds.
    *
    * Implemented as a native codegen'd Catalyst expression
    * (graft.plans.ShingleHashes): one tight loop per row. The equivalent
    * nested-HOF formulation is CodegenFallback and re-evaluates leaf
    * children per element access — measured as the sf0.1 bench killer. */
  def shingleHashes(normText: Column, k: Int = 7): Column =
    graft.plans.functions.shingle_hashes(normText, k)

  /** MinHash signature over shingle hashes via an affine hash family:
    * g_h(x) = (x·48271^(h+1) + 12345·h) mod p (Lehmer-power multipliers
    * — magnitude-mixing, so no single tiny-hash common shingle can win
    * every min; see HashUtil.minhashSig). Derived hashes are integer
    * arithmetic on the one shingle hash — nHashes× cheaper than salted
    * digests, same minwise-independence in practice.
    *
    * Native one-pass expression (graft.plans.MinHashSig): the HOF form
    * (`array_min(transform(...))` × nHashes) is CodegenFallback and
    * walks an interpreted tree per element per hash — measured 12×-pass
    * interpreted cost on the x02/x03/x23 shingle arrays. */
  def minhashSignature(hs: Column, nHashes: Int = 12): Column =
    graft.plans.functions.minhash_sig(hs, nHashes)

  /** LSH banding: rows×bands decomposition of the signature. Emits one
    * (band_id, band_key) struct per band; docs agreeing on ANY full band
    * become candidates. */
  def lshBands(sig: Column, bands: Int = 3, rows: Int = 4): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        concat_ws("|", (0 until rows).map(r =>
          get(sig, lit(b * rows + r)).cast(StringType)): _*).as("band_key"))
    }: _*)

  /** The one bucket→pairs primitive every LSH family pairs through:
    * group the keyed rows by their bucket key, collect each bucket's
    * `member` values, and emit every a < b combination (ordered by
    * `idOf(member)`) via two generators, as columns `names`. Buckets of
    * 2..cap members pair; a singleton yields nothing and is dropped
    * before the double explode. Null keys cannot pair (equi-join
    * semantics) and are filtered before grouping. Callers keep only
    * their own tail (minhash: distinct; Hamming: exact-distance filter
    * then distinct; winnow: shared-count gate).
    *
    * ONE PASS (r20): replaces the former persist + equi-self-join
    * shape. The upstream fingerprint pipeline is computed ONCE (the
    * self-join's two AQE-scheduled sides raced on the cold cache and
    * duplicated the whole banding pass — measured as twin multi-second
    * stages plus "Block already exists" churn), and the bucket rows
    * cross the network once instead of twice. The emitted pair mass is
    * exactly the Σ pop·(pop−1)/2 the h01 audit bounds.
    *
    * CAP BEFORE COLLECT (r21): with a cap the collect is
    * [[graft.plans.CappedCollectList]] at limit cap + 1 — the
    * aggregation BUFFER is bounded at cap + 1 elements by construction,
    * so no degenerate bucket can build an oversized array at any scale;
    * buckets of ≤ cap members collect completely (output identical to
    * collect_list) and over-cap buckets arrive truncated at cap + 1,
    * which the size filter drops before their (partition-order-
    * dependent) truncated content can reach the output. Two rejected
    * forms, both measured at sf10 (~10⁷ exploded rows): a count window
    * riding the collect's exchange buffers every bucket group through
    * ExternalAppendOnlyUnsafeRowArray's 4096-row spill threshold (x34
    * 13.1 s → 107 s, x03 14.4 s → 48 s); a pre-count + key semi-join
    * pays a second pass plus a sort-merge join of the full exploded
    * stream (x34 ~74 s). This form keeps the single hash aggregation —
    * no sort, no join, no second pass. Without a cap plain collect_list
    * runs and a degenerate hot bucket still becomes one pop-sized array
    * row, bounded only by the corpus's duplicate structure; h01's
    * max_pop audit row is the standing early-warning for this shape. A
    * cap is a DECLARED semantic: mirror it in the caller's oracle. */
  private def bucketPairs(keyed: DataFrame, keyCols: Seq[String], member: Column,
                          maxBucket: Option[Long],
                          names: (String, String) = ("doc_a", "doc_b"),
                          idOf: Column => Column = identity): DataFrame = {
    maxBucket.foreach(cap => require(cap > 1 && cap < Int.MaxValue,
      s"bucket cap must be in (1, Int.MaxValue), got $cap"))
    val (a, b) = names
    val collected = maxBucket match {
      case Some(cap) => graft.plans.functions.capped_collect(member, (cap + 1).toInt)
      case None => collect_list(member)
    }
    keyed
      .filter(keyCols.map(c => col(c).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*)
      .agg(collected.as("_ids"))
      .filter(maxBucket.fold(size(col("_ids")) > 1)(size(col("_ids")).between(2, _)))
      .select(explode(col("_ids")).as(a), col("_ids"))
      .select(col(a), explode(col("_ids")).as(b))
      .filter(idOf(col(a)) < idOf(col(b)))
  }

  /** The one MinHash band-row stage: shingle hashes `hs` → signature →
    * exploded (band_id, band_key) rows, the `carry` columns (evaluated
    * over `df`, then referenced by name) carried through every step. */
  private[graft] def minhashBandRows(df: DataFrame, hs: Column, carry: Seq[Column],
                                     nHashes: Int = 12, bands: Int = 3,
                                     rows: Int = 4): DataFrame = {
    val sig = df.select(carry :+ minhashSignature(hs, nHashes).as("_sig"): _*)
    val kept = sig.columns.init.toSeq.map(col)
    sig.select(kept :+ explode(lshBands(col("_sig"), bands, rows)).as("b"): _*)
      .select(kept ++ Seq(col("b.band_id"), col("b.band_key")): _*)
  }

  /** Near-dup candidate pairs via banded MinHash-LSH. Input: (id, text).
    * Output: distinct (doc_a, doc_b) with doc_a < doc_b.
    *
    * Staged projections: norm once per row, shingle array once, signature
    * once — each stage reads the previous stage's materialized value; the
    * scan is conditionally repartitioned first because shingle hashing is
    * heavy narrow compute and a byte-sized single-file scan would run it
    * on one task ([[graft.ops.Spread]]). Pairing is the one-pass
    * [[bucketPairs]] aggregation: one shuffle of the thin band rows, no
    * persist, no self-join.
    *
    * `maxBucket` (default None — every bucket pairs, the declared LSH
    * semantics of all current callers): buckets past the cap are dropped
    * before their member list is materialized ([[bucketPairs]]). */
  def minhashCandidates(docs: DataFrame, id: Column, text: Column,
                        k: Int = 7, nHashes: Int = 12,
                        bands: Int = 3, rows: Int = 4,
                        maxBucket: Option[Long] = None): DataFrame =
    minhashPairs(minhashBandRows(
      spread(docs)
        .select(id.as("doc_id"), TextOps.norm(text).as("_t"))
        .select(col("doc_id"), shingleHashes(col("_t"), k).as("_hs")),
      col("_hs"), Seq(col("doc_id")), nHashes, bands, rows), maxBucket)

  /** MinHash's tail on the primitive: distinct (doc_a, doc_b) — a pair
    * agreeing on several bands surfaces once. */
  private def minhashPairs(banded: DataFrame,
                           maxBucket: Option[Long] = None): DataFrame =
    bucketPairs(banded, Seq("band_id", "band_key"), col("doc_id"), maxBucket)
      .distinct()

  /** Shared staging for every shingle consumer: spread for parallelism,
    * norm materialized once, then the native shingle pass. Output:
    * (_id, _sh: array<long>). */
  def stagedShingles(docs: DataFrame, id: Column, text: Column,
                     k: Int = 7): DataFrame =
    spread(docs).select(id.as("_id"), TextOps.norm(text).as("_t"))
      .select(col("_id"), shingleHashes(col("_t"), k).as("_sh"))

  /** Exact shingle-Jaccard for given candidate pairs: |A∩B| / |A∪B| from
    * integer set sizes (one double division at the end). Operates on the
    * hashed shingle sets (long arrays — cheap set ops). `pairs` must have
    * (doc_a, doc_b); `docs` provides (id, text). */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, id: Column, text: Column,
                    k: Int = 7): DataFrame =
    shingleJaccard(pairShingles(pairs, stagedShingles(docs, id, text, k)),
      "doc_a", "doc_b")

  /** persist + materialize NOW: a persisted frame whose multiple readers
    * are sibling AQE stages of one execution is raced — each side's tasks
    * find a cold cache and recompute the full lineage concurrently (the
    * profiled twin-stage duplication). One cheap eager count turns every
    * subsequent reader into a cache scan. Cache-lifetime contract as on
    * the class scaladoc. NOTE (r20, measured): reserve this for frames
    * that are EXPENSIVE to recompute relative to their cached bytes —
    * caching an array<long>-heavy frame costs more in columnar
    * serialize/compress (+ per-reader decompress) than re-running a
    * cheap narrow staging, which is why the shingle-verify family now
    * recomputes its staging per join side instead of caching it. */
  private def eager(df: DataFrame): DataFrame = {
    df.persist()
    df.count()
    df
  }

  /** (doc_b, doc_a, …, sh_a, sh_b): each candidate pair joined to both
    * members' shingle arrays from a staged (_id, _sh) relation. */
  private def pairShingles(pairs: DataFrame, sh: DataFrame): DataFrame =
    pairs
      .join(sh.select(col("_id").as("doc_a"), col("_sh").as("sh_a")), "doc_a")
      .join(sh.select(col("_id").as("doc_b"), col("_sh").as("sh_b")), "doc_b")

  /** The one shingle-set Jaccard: (keyA, keyB, jaccard) from the joined
    * shingle arrays `sh_a`/`sh_b` — |A∩B| / |A∪B| from integer set
    * sizes, the intersect size staged so it is computed once, one
    * double division at the end, rounded to 6 places. */
  private[graft] def shingleJaccard(joined: DataFrame, keyA: String,
                                    keyB: String): DataFrame =
    joined
      .select(col(keyA), col(keyB),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType).as("_i"),
        (size(col("sh_a")) + size(col("sh_b"))).cast(DoubleType).as("_s"))
      .select(col(keyA), col(keyB),
        round(col("_i") / (col("_s") - col("_i")), 6).as("jaccard"))

  /** Exact shingle CONTAINMENT for candidate pairs (Broder's second
    * coefficient): c = |A∩B| / min(|A|,|B|) with the smaller side
    * marked as the contained one. Jaccard dilutes a short document
    * quoted whole inside a long host (|A∩B|/|A∪B| → small as the host
    * grows), so resemblance-gated dedup keeps both copies; containment
    * stays ~1.0 whatever the size ratio — the quoted-inclusion /
    * boilerplate-wrapping detector. Pair CANDIDATES for this grain
    * should come from [[winnowOverlapPairs]] (span-guaranteed
    * fingerprints), NOT MinHash banding — whole-doc resemblance LSH
    * has the same dilution blindness the verify step fixes. An
    * empty-normalized doc carries the single degenerate empty-window
    * shingle (the ShingleHashes convention), so it scores containment
    * 0.0 against everything; the zero-size guard is belt only (such
    * docs produce no winnow fingerprints and thus no candidates).
    *
    * Scale shape: identical to [[jaccardVerify]] — two joins of the
    * candidate set against the staged shingle relation; cost scales
    * with candidate volume, never all-pairs. */
  def containmentVerify(pairs: DataFrame, docs: DataFrame, id: Column,
                        text: Column, k: Int = 7): DataFrame =
    pairShingles(pairs, stagedShingles(docs, id, text, k))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType).as("_i"),
        size(col("sh_a")).cast(DoubleType).as("_sa"),
        size(col("sh_b")).cast(DoubleType).as("_sb"))
      .filter(least(col("_sa"), col("_sb")) > 0)
      .select(col("doc_a"), col("doc_b"),
        round(col("_i") / least(col("_sa"), col("_sb")), 6).as("containment"),
        when(col("_sa") <= col("_sb"), "a").otherwise("b").as("contained"))

  /** Fused candidates + verification: normalize and shingle the corpus
    * ONCE (the dominant narrow cost), derive the MinHash banding from
    * that staged relation, and run the exact-Jaccard joins against the
    * same persisted shingles — composing minhashCandidates and
    * jaccardVerify separately shingles the corpus twice. Output:
    * (doc_a, doc_b, jaccard) for every LSH candidate pair. */
  def verifiedCandidates(docs: DataFrame, id: Column, text: Column,
                         k: Int = 7, nHashes: Int = 12,
                         bands: Int = 3, rows: Int = 4): DataFrame = {
    val sh = stagedShingles(docs, id, text, k)
    shingleJaccard(pairShingles(minhashPairs(minhashBandRows(sh, col("_sh"),
      Seq(col("_id").as("doc_id")), nHashes, bands, rows)), sh), "doc_a", "doc_b")
  }

  /** Incremental near-dup: LSH candidates between a NEW batch and the
    * EXISTING corpus, verified by exact Jaccard — the appending-crawl
    * workflow (daily batch vs accumulated index), where re-running the
    * full self-join (x02) would redo O(corpus) banding work per batch
    * for pairs that cannot involve the batch at all. Both sides band
    * once; the join is ASYMMETRIC (corpus never self-joins), so the
    * corpus-side cost is one linear banding pass — and on a real
    * cluster the corpus bands are the thing to persist/bucket by
    * (band_id, band_key) across batches, turning each day's run into
    * an index probe. Batch-internal duplicates are x02's job; this
    * emits only (batch_id, corpus_id, jaccard ≥ minJaccard) pairs. */
  def incrementalNearDup(corpus: DataFrame, cid: Column, ctext: Column,
                         batch: DataFrame, bid: Column, btext: Column,
                         k: Int = 7, nHashes: Int = 12,
                         bands: Int = 3, rows: Int = 4,
                         minJaccard: Double = 0.5): DataFrame = {
    val csh = stagedShingles(corpus, cid, ctext, k)
    val bsh = stagedShingles(batch, bid, btext, k)
    def bandedOf(sh: DataFrame) = minhashBandRows(sh, col("_sh"),
      Seq(col("_id").as("doc_id")), nHashes, bands, rows)
    val cand = bandedOf(csh).as("c").join(bandedOf(bsh).as("n"),
        col("c.band_id") === col("n.band_id") &&
          col("c.band_key") === col("n.band_key"))
      .select(col("c.doc_id").as("corpus_id"), col("n.doc_id").as("batch_id"))
      .distinct()
    shingleJaccard(cand
      .join(csh.select(col("_id").as("corpus_id"), col("_sh").as("sh_a")), "corpus_id")
      .join(bsh.select(col("_id").as("batch_id"), col("_sh").as("sh_b")), "batch_id"),
      "batch_id", "corpus_id")
      .filter(col("jaccard") >= minJaccard)
  }

  /** Train→eval contamination report — the split-leakage audit every
    * pretraining run publishes (the GPT-3 appendix-C / PaLM overlap
    * analysis): assign every document its deterministic
    * train/val/test split (content-hash mod 100: 80/10/10, the x31
    * rule), find near-duplicate pairs with EXACTLY one member in
    * train, and report each contaminated eval document with how many
    * train near-dups reach it. Train↔train pairs are ordinary corpus
    * dups (x23's job) and val↔test pairs are out of scope — the gate
    * a leak actually breaks is eval-vs-train. Output:
    * (doc_id, split, n_train_dups, max_jaccard) for leaked eval docs.
    *
    * Scale shape: candidates come from [[verifiedCandidates]]'s banded
    * buckets (never all-pairs); split assignment is a narrow
    * projection joined onto the (tiny, verified) pair set; orientation
    * is a row-local filter; the report agg is doc-keyed and map-side
    * combinable. Nothing here adds a corpus-sized shuffle beyond the
    * banding pass the dedup tier already pays. */
  def splitLeakage(docs: DataFrame, id: Column, text: Column,
                   minJaccard: Double = 0.5): DataFrame = {
    val splits = docs
      .select(id.as("doc_id"),
        pmod(TextOps.fingerprint(TextOps.norm(text)), lit(100L)).as("_hb"))
      .select(col("doc_id"),
        when(col("_hb") < 80, "train").when(col("_hb") < 90, "val")
          .otherwise("test").as("split"))
    val pairs = verifiedCandidates(docs, id, text)
      .filter(col("jaccard") >= minJaccard)
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter((col("split_a") === "train") =!= (col("split_b") === "train"))
      .select(
        when(col("split_a") === "train", col("doc_b")).otherwise(col("doc_a")).as("doc_id"),
        when(col("split_a") === "train", col("split_b")).otherwise(col("split_a")).as("split"),
        col("jaccard"))
      .groupBy("doc_id", "split")
      .agg(count(lit(1)).as("n_train_dups"), max(col("jaccard")).as("max_jaccard"))
  }

  /** Winnowing fingerprint (Schleimer/MOSS): distinct sliding-window
    * minima of positional k-shingle hashes — native one-pass expression
    * (graft.plans.WinnowHashes). Any shared substring of ≥ w+k−1 chars
    * is GUARANTEED to contribute a common selected hash, which makes
    * winnowing the partial-overlap detector: a document quoting a chunk
    * of another shares fingerprints even when whole-document Jaccard is
    * diluted below the MinHash-LSH detection threshold. */
  def winnowFingerprints(normText: Column, k: Int = 20, w: Int = 8): Column =
    graft.plans.functions.winnow_hashes(normText, k, w)

  /** Partial-overlap pairs via winnowing: explode each document's
    * selected fingerprints, pair each fingerprint bucket
    * ([[bucketPairs]]), and keep pairs sharing ≥ `minShared`
    * fingerprints (selected sets are distinct per doc, so the pair
    * count IS the intersection size). The bucket key cardinality grows with corpus content diversity — the same
    * bounded-bucket banding contract as minhashCandidates, never an
    * all-pairs scan.
    *
    * `maxDf` drops fingerprints selected by more than that many
    * documents before pairing — MOSS's own over-common-fingerprint
    * rule. A fingerprint shared by B docs emits B·(B−1)/2 pairs; at
    * web scale B is boilerplate (a footer, a license line, a template
    * tail — the sf10 spot tier measured exactly this: one 37-char tail
    * shared by 50k docs drove the join's agg past 10 min before the
    * cap existed), and a quotation/overlap signal lives in LOW-df
    * fingerprints (a chunk shared by two docs has df 2). Because
    * `shared` is counted over the surviving (low-df) fingerprints
    * only, a capped pair passes the gate only if it still shares
    * ≥ `minShared` low-df fingerprints: a pair whose low-df overlap
    * falls below `minShared` is dropped even when boilerplate
    * fingerprints would have carried its total past the threshold —
    * template noise never rescues a weak quotation signal. The cap is a
    * declared semantic: every oracle of a caller mirrors it
    * (`HAVING count(*) <= maxDf` on the exploded fingerprints).
    * Output: (doc_a, doc_b, shared). */
  def winnowOverlapPairs(docs: DataFrame, id: Column, text: Column,
                         k: Int = 20, w: Int = 8,
                         minShared: Long = 3L,
                         maxDf: Long = DefaultWinnowMaxDf): DataFrame = {
    val e = spread(docs)
      .select(id.as("doc_id"), TextOps.norm(text).as("_t"))
      .select(col("doc_id"), explode_outer(winnowFingerprints(col("_t"), k, w)).as("h"))
    // per-doc selected sets are distinct, so each fingerprint's bucket
    // size IS its document frequency: the df cap is the primitive's
    // bucket cap, and the pair count over surviving buckets is the
    // shared low-df fingerprint count. h is null only for the
    // no-fingerprint explode_outer row, which the primitive's null-key
    // filter drops.
    bucketPairs(e, Seq("h"), col("doc_id"), Some(maxDf))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Lehmer-mixed word-bigram token hashes (unigram fallback for
    * single-word docs) — native expression, one pass per row
    * (graft.plans.BigramTokenHashes). */
  def bigramTokenHashes(normText: Column): Column =
    graft.plans.functions.bigram_token_hashes(normText)

  /** 16-bit SimHash over pre-hashed tokens — native expression
    * (graft.plans.SimHash16): bit i set when the majority of token
    * hashes have bit i set. All integer arithmetic, engine-portable. */
  def simhash(tokenHs: Column): Column =
    graft.plans.functions.simhash16(tokenHs)

  /** Match CPU-bound narrow stages to the cluster's parallelism when the
    * input scan would produce fewer splits than cores (tiny files). The
    * decision reads the optimized plan's size ESTIMATE — logical stats
    * only, no physical planning or RDD materialization — divided by the
    * configured split size, mirroring how FilePartition would split it. */
  private def spread(df: DataFrame): DataFrame =
    graft.ops.Spread.toCores(df)

  /** Staged fingerprint pipeline: norm → bigram hashes → simhash. */
  def simhashFingerprints(docs: DataFrame, id: Column, text: Column): DataFrame =
    spread(docs).select(id.as("doc_id"), TextOps.norm(text).as("_t"))
      .select(col("doc_id"), bigramTokenHashes(col("_t")).as("_hx"))
      .select(col("doc_id"), simhash(col("_hx")).as("simhash"))

  /** Near-dup CLUSTERS from candidate pairs: min-label propagation to a
    * fixpoint — each node repeatedly takes the smallest label among
    * itself and its neighbors, one join + one aggregation per round
    * (all shuffles on node id, nothing quadratic). Near-dup graphs have
    * tiny components by construction (duplicate clusters), so most
    * converge within the first `starRounds` plain rounds; if the graph
    * turns out adversarial (long chains — diameter > starRounds), the
    * loop AUTOMATICALLY switches to the alternating form that also
    * pointer-jumps each label to its label's label (the star-contraction
    * idea from large-star/small-star): the distance to the component
    * minimum at least halves per round, so convergence is O(log n)
    * rounds total instead of O(diameter), at the cost of one extra
    * equi-join per round — which is why the cheap form runs first.
    * Invariant both phases preserve: a node's label only decreases and
    * always names a node inside its own component, so the shared
    * fixpoint (every edge label-equal + pointers stable) is exactly
    * component = min doc_id. The driver loop holds only a convergence
    * COUNT per round — no row data ever reaches the driver.
    * Output: (doc_id, component = min doc_id in cluster, is_survivor).
    *
    * Each round is pinned with `localCheckpoint()`: executor-local
    * blocks, no filesystem round-trip. Every session here is
    * `local[cpus]`, so an executor dies only with the driver and a
    * reliable checkpoint would recover nothing. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 60,
                          starRounds: Int = 5): DataFrame =
    connectedComponentsAt(pairs, maxIter, starRounds, CcLocalEdgeThreshold)

  /** [[connectedComponents]] with an explicit local-dispatch threshold —
    * package-private so the equivalence spec can force the distributed
    * loop on a small graph and assert both paths agree. */
  private[graft] def connectedComponentsAt(pairs: DataFrame, maxIter: Int,
                                           starRounds: Int,
                                           localThreshold: Long): DataFrame = {
    // checkpoint, NOT persist: an iterative loop's logical plan
    // embeds the previous iteration's plan twice per round, so without
    // lineage TRUNCATION analysis cost grows ~2^rounds and the driver
    // hangs long before any task runs (persist only short-circuits
    // physical recompute). Checkpointing pins each round's result as a
    // flat scan — every iteration analyzes an O(1)-size plan.
    // fail LOUDLY on a non-integral id type (r20 advice): the Σ label
    // convergence statistic casts labels to DECIMAL(38,0); a non-numeric
    // id would cast to null under non-ANSI, null-sum every round, and
    // silently declare convergence after round 1 with unpropagated
    // labels. The old _moved count was type-agnostic; this pins the
    // narrowed contract at entry instead of at a wrong answer.
    Seq("doc_a", "doc_b").foreach { c =>
      val t = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"connectedComponents requires integral node ids; $c is " +
          s"${t.catalogString} (the exact-decimal label-sum convergence " +
          "proof needs lossless numeric labels)")
    }
    def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)
    // LAZY pin: lineage is truncated immediately, but the
    // materializing job is whatever reads the frame FIRST — used where
    // the next action over the frame is single-reader, so the round's
    // convergence statistic and its checkpoint share ONE job instead of
    // an eager-materialize job followed by a count job (r20: the old
    // two-jobs-per-round loop plus the AQE stage cascade of each put
    // the CC family at ~90 driver jobs per query).
    def pinLazy(df: DataFrame): DataFrame = df.localCheckpoint(false)
    // candidate pairs are pinned FIRST and EAGERLY: und reads them twice
    // (both edge directions), so without this the entire candidate plan
    // (banding + pairing) is inlined — and computed — once per reader
    // (the profiled duplicate-banding stages), and a lazy pin would be
    // raced by the two union branches the same way.
    val cand = pin(pairs.select(col("doc_a"), col("doc_b")))
    // DRIVER-LOCAL DISPATCH (r21, guide §1.2): below the edge threshold
    // the whole loop is replaced by one bounded collect of the pinned
    // edges (a ~free count on the checkpoint decides) + driver
    // union-find + one parallelize — the [[graft.text.TextOps
    // .bpeMerges]] local-trainer discipline applied to the other
    // iterative operator. The distributed loop's cost at this size was
    // never the data: measured x23 at 39 driver jobs with Σ stage wall 1.9 s
    // against 3.9 s query wall — a ~50 ms-per-job AQE/job-dispatch
    // cascade the r20 round could only shave (90 → 40 jobs), not
    // remove. The threshold bounds driver memory exactly like the r20
    // broadcast bound it replaces (2M edges ≈ 32 MB of edge longs; the
    // broadcast label relation it subsumes held the same rows on the
    // driver AND every executor). Output is pinned bit-identical to the
    // distributed loop by CcLocalEquivalenceSpec; past the threshold
    // the loop below runs unchanged at any scale.
    if (cand.count() <= localThreshold)
      return ccLocal(cand)
    def sym = cand.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(cand.select(col("doc_b").as("u"), col("doc_a").as("v")))
    // NOTE (r20, measured): running the rounds with AQE disabled was
    // tried and REVERTED — without AQE the per-round joins stay
    // sort-merge (no runtime broadcast conversion of the shrunken label
    // side) and every stage runs at the static partition count; the CC
    // family read 1.5-3x SLOWER than with AQE's per-stage jobs. AQE's
    // job cascade is the cheaper half of that trade at every scale.
    // seed with min(self, neighbors) — one aggregation over the edges we
    // already have. Duplicate clusters are near-stars around their min
    // id, so most components converge at round 0 and the loop's first
    // iteration usually just proves the fixpoint. Lazy: the prevSum
    // statistic below is the single first reader and materializes it.
    val labels0 = pinLazy(sym.groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("label"))
      .select(col("u").as("node"), col("label")))
    // edges + one self-loop per node: min over neighbor labels through
    // THIS relation already includes the node's own label, so each round
    // is ONE join + ONE aggregation — the old per-round labels⋈neigh
    // left join (and its exchanges) is gone. Static across rounds; built
    // from the pinned cand/labels0, so re-deriving it per round is two
    // cheap checkpoint scans, never a recompute.
    def undSelf = sym.unionAll(
      labels0.select(col("node").as("u"), col("node").as("v")))
    // Convergence statistic: labels only ever DECREASE (each round takes
    // a min that includes the current label), so Σ label — exact in
    // DECIMAL(38,0) at any corpus size — strictly decreases iff any node
    // moved, and one round with an unchanged sum IS the fixpoint proof.
    // Reading it is the action that materializes the round's lazy
    // checkpoint: one job per round, no _moved column, no second pass.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("label").cast(DecimalType(38, 0))).as("s"))
        .collect()(0).getDecimal(0)
      if (v == null) java.math.BigDecimal.ZERO else v
    }
    var labels = labels0
    var prevSum = labelSum(labels0)
    // No broadcast hint on the round joins: this code now runs only
    // ABOVE the local-dispatch threshold (the r20 small-graph broadcast
    // is subsumed by ccLocal — same bound, no rounds at all), where AQE's
    // runtime broadcast conversion decides per round as the label side
    // shrinks.
    def labelSide(df: DataFrame): DataFrame = df
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val grouped = undSelf
        .join(labelSide(labels.select(col("node").as("v"), col("label").as("_nl"))), "v")
        .groupBy(col("u").as("node")).agg(min(col("_nl")).as("label"))
      // past the stall budget, also pointer-jump the fresh label to its
      // label's label (star-contraction): distance to the component min
      // at least halves per round. Every label value IS a node in
      // `labels` (labels start as node ids and only ever copy other
      // labels), so the lookup is a plain equi-join on the pinned
      // relation; coalesce is belt-and-braces for an absent match.
      val stepped =
        if (i < starRounds) grouped
        else grouped.join(
            labelSide(labels.select(col("node").as("_jn"), col("label").as("_jl"))),
            grouped("label") === col("_jn"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("_jl"), col("label")))
              .as("label"))
      val next = pinLazy(stepped)
      val s = labelSum(next) // materializes the round; labels decreased?
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // labels0 stays live: undSelf reads its node set every round (and
      // unpersisting a local checkpoint discards its only data)
      if (!(labels eq labels0)) labels.unpersist()
      labels = next
      i += 1
    }
    // fail LOUDLY on non-convergence: silently returning partially
    // propagated labels would split one real cluster into several
    // "components" each with its own survivor — wrong dedup downstream.
    // With the pointer-jump phase the label distance to the component
    // min at least halves per round, so maxIter = 60 covers any graph
    // that fits in storage — reaching this require means a bug, not a
    // big input
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds " +
        "(labels still moving)")
    labels.select(col("node").as("doc_id"), col("label").as("component"),
      (col("label") === col("node")).as("is_survivor"))
  }

  /** Driver-local union-find ending for graphs at or under
    * [[CcLocalEdgeThreshold]] edges: ONE bounded collect of the pinned
    * edge list, path-compressed union-find linking every union toward
    * the smaller root (so each final root IS its component's minimum id
    * — the distributed fixpoint's exact labeling), one parallelize back.
    * Rows, schema and id dtype match the distributed loop bit-for-bit
    * (CcLocalEquivalenceSpec pins both paths on the same graphs,
    * including chains past starRounds and isolated self-pairs). Fails
    * loudly on a null node id — out of the candidate-pair contract
    * either way (bucketPairs filters null keys; null never equi-joins). */
  private def ccLocal(cand: DataFrame): DataFrame = {
    val spark = cand.sparkSession
    val idType = cand.schema("doc_a").dataType
    val edges = cand
      .select(col("doc_a").cast(LongType), col("doc_b").cast(LongType))
      .collect()
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrElse(p, p)
        parent(x) = gp
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    val seen = new scala.collection.mutable.LongMap[Boolean]()
    edges.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "connectedComponents: null node id in candidate pairs")
      val a = r.getLong(0); val b = r.getLong(1)
      seen(a) = true; seen(b) = true
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val out = new Array[org.apache.spark.sql.Row](seen.size)
    var i = 0
    seen.foreachKey { n =>
      val c = find(n)
      out(i) = org.apache.spark.sql.Row(n, c, n == c)
      i += 1
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("component", LongType),
      StructField("is_survivor", BooleanType)))
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(out.toIndexedSeq, parts), schema)
    if (idType == LongType) df
    else df.select(col("doc_id").cast(idType).as("doc_id"),
      col("component").cast(idType).as("component"), col("is_survivor"))
  }

  /** The fuzzy-dedup ending: given near-dup candidate pairs, keep ONE
    * representative per duplicate cluster — the member with the highest
    * `quality` (ties → lowest id), the "keep the best copy" policy of
    * production dedup, vs [[connectedComponents]]'s min-id survivor
    * which is arbitrary (reference drops dups blindly on its unique
    * market key, `consumers/db_writer.py` upserts). Docs in no pair are
    * their own cluster and always kept. Output: (doc_id, cluster,
    * quality, keep) for every input doc.
    *
    * Scale shape: cluster labels come from the pointer-jumping
    * [[connectedComponents]] (O(log n) rounds, node-keyed shuffles
    * only); the canonical pick is ONE cluster-keyed hash aggregation
    * carrying a (quality, −id) struct max — map-side combinable, never
    * a per-cluster window sort — joined back on the cluster id with no
    * forced hint: the keeper table has one row per cluster
    * (corpus-proportional), so AQE picks the join strategy. Raw text
    * never moves: the caller computes `quality` upstream and only
    * (id, quality, label) longs shuffle.
    *
    * Composition contract — `pairs` is a plain candidate-pair frame,
    * deliberately NOT derived in here: a dedup run computes
    * [[minhashCandidates]] ONCE (the expensive banding pass over the
    * corpus), persists it, and feeds the SAME frame to whatever endings
    * it needs — [[connectedComponents]] for the cluster map (x23),
    * keepBest for the canonical pick (x46), [[jaccardVerify]] for pair
    * audit (x03). The two iterative consumers then agree by
    * construction: keepBest's cluster ids ARE connectedComponents'
    * labels over those pairs (DedupSpec "shared candidate pairs" pins
    * this). At 100 TB the banding pass reads the corpus; everything
    * downstream of `pairs` moves longs only — so share it, never
    * recompute it per ending. */
  def keepBest(docs: DataFrame, id: Column, quality: Column,
               pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
      .select(col("doc_id"), col("component"))
    val labeled = docs.select(id.as("doc_id"), quality.as("quality"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"),
        col("quality"))
    // argmax by (quality, -doc_id): one struct max per cluster — the
    // negated id turns "lowest id wins ties" into a plain max
    val keeper = labeled.groupBy("cluster")
      .agg(max(struct(col("quality"), (-col("doc_id")).as("_nid"))).as("_m"))
      .select(col("cluster"), (-col("_m").getField("_nid")).as("_keep_id"))
    labeled.join(keeper, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("quality"),
        (col("doc_id") === col("_keep_id")).as("keep"))
  }

  /** x92 — cluster-aware split assignment: deterministic train/val/test
    * splitting where near-duplicate documents can NEVER straddle a
    * split boundary. Splitting by a per-document hash (the naive
    * recipe) leaks: a training document's near-copy lands in the eval
    * split with probability (1 − w_train), and the model is then
    * evaluated on (a paraphrase of) its own training data — the exact
    * contamination x67 audits after the fact. Here the split key is the
    * document's near-dup CLUSTER label ([[connectedComponents]] over
    * the banded MinHash-LSH pairs; unpaired docs key by their own id),
    * so a whole dup clique moves as one unit: leakage is zero by
    * construction, not audited away. The key is Lehmer-mixed
    * ((key mod P)·48271 mod P — overflow-safe for any id) and ranged
    * over the cumulative weights, so assignment is reproducible from
    * content alone: re-running on a grown corpus never moves an
    * existing cluster between splits (its label is its min member id).
    * Output: (doc_id, cluster_key, split).
    *
    * Scale shape: candidates + CC are the audited banded/pointer-
    * jumping paths (never all-pairs, O(log n) node-keyed rounds); the
    * assignment itself is a narrow projection. */
  def clusterSafeSplits(docs: DataFrame, id: Column, text: Column,
                        weights: Seq[(String, Long)] =
                          Seq(("train", 8L), ("val", 1L), ("test", 1L))): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"weights must be positive, got $weights")
    val total = weights.map(_._2).sum
    val cand = minhashCandidates(docs, id, text)
    val cc = connectedComponents(cand)
      .select(col("doc_id"), col("component"))
    val keyed = docs.select(id.as("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_key"))
    val p = graft.plans.HashUtil.P
    val r = pmod(pmod(col("cluster_key"), lit(p)) * 48271L, lit(p)) % total
    val split = weights.tail.scanLeft((weights.head._1, weights.head._2)) {
      case ((_, cum), (name, w)) => (name, cum + w)
    }.init.foldRight(lit(weights.last._1): Column) {
      case ((name, cum), rest) => when(r < cum, name).otherwise(rest)
    }
    keyed.select(col("doc_id"), col("cluster_key"), split.as("split"))
  }

  /** x94 — duplicate-cluster size spectrum: the dedup health histogram.
    * For each near-dup cluster size k: how many clusters have exactly k
    * members and how many documents they hold. Unpaired docs are their
    * own size-1 cluster, so n_docs sums to the corpus and the size-1
    * row reads off the unduplicated fraction directly. This is the
    * first diagnostic run after any dedup pass — a fat tail (one
    * size-10⁶ cluster) means a boilerplate-glued LSH bucket or a
    * template farm, and it decides keep-best vs drop-all policy before
    * anything is deleted.
    *
    * Scale shape: candidates + CC are the audited banded/pointer-
    * jumping paths; then two count aggregations (cluster-keyed, then
    * size-keyed — both map-side combinable) over label rows. Output is
    * distinct-sizes-bounded (≤ √(2n) rows). */
  def clusterSizeSpectrum(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val cand = minhashCandidates(docs, id, text)
    val cc = connectedComponents(cand)
      .select(col("doc_id"), col("component"))
    docs.select(id.as("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(coalesce(col("component"), col("doc_id")).as("cluster"))
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
  }

  /** 64-bit SimHash as four 16-bit band values — native one-pass
    * expression (graft.plans.SimHash64Bands). */
  def simhash64Bands(tokenHs: Column): Column =
    graft.plans.functions.simhash64_bands(tokenHs)

  /** Staged 64-bit fingerprint pipeline: norm → bigram hashes → bands. */
  def simhash64Fingerprints(docs: DataFrame, id: Column, text: Column): DataFrame =
    spread(docs).select(id.as("doc_id"), TextOps.norm(text).as("_t"))
      .select(col("doc_id"), bigramTokenHashes(col("_t")).as("_hx"))
      .select(col("doc_id"), simhash64Bands(col("_hx")).as("bands"))

  /** SimHash near-dup pairs, Manku-style banded Hamming-LSH: the 64-bit
    * fingerprint splits into 4 bands of 16 bits; any pair within Hamming
    * ≤ 3 agrees exactly on at least one band (pigeonhole), so candidate
    * generation buckets on (band_id, band_val) — never an all-pairs
    * scan. Unlike a constant bucket split, band-value
    * cardinality (up to 2¹⁶ per band, 2¹⁸ keys total) grows with corpus
    * diversity and duplicate clusters are exactly the rows that should
    * co-locate; exact Hamming over the carried bands then filters the
    * candidates. Mirrors the minhashCandidates banding design. */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
                   maxHamming: Int = 3, blocks: Int = 4): DataFrame =
    bandedHammingPairs(simhash64Fingerprints(docs, id, text), maxHamming,
      blocks = blocks)

  /** Corpus-scaled Manku block count for [[bandedHammingPairs]] at
    * maxHamming = 3. The 4×16-bit split's RANDOM band collisions are
    * ~4·n²/2¹⁷ pairs — linear-class (≤ 8n) only while n ≤ 2¹⁸. Past
    * that the bands saturate (every 16-bit value taken many times
    * over) and candidate mass goes quadratic even on a fully
    * decorrelated corpus — the sf10 spot tier read x05 at 15.8× for a
    * 10× step exactly here. The 6-block scheme joins on 3-block
    * combination keys (~33 bits): random mass ~20·n²/2³⁴, linear-class
    * to n ≈ 2³², far past any single shard a 100-TB run would band in
    * one pass. Same OUTPUT either way — both schemes are
    * pigeonhole-complete for Hamming ≤ 3 and the exact-Hamming filter
    * runs on every candidate — so oracles never depend on the choice. */
  def scaledBlocks(n: Long): Int = if (n <= (1L << 18)) 4 else 6

  /** The 6 Manku blocks (widths 11,11,11,11,10,10 over the 64
    * fingerprint bits) extracted directly from the 4×16-bit `bands`
    * layout with small-integer arithmetic — no packed-64-bit value is
    * ever built, so every intermediate stays positive and the same
    * formulas run on any engine whose BIGINT shifts differ on the sign
    * bit (the [[graft.plans.HashUtil.simhash64Bands]] portability
    * rule). Block i covers fingerprint bits [off_i, off_i + w_i) where
    * band b holds bits [16b, 16b+16). */
  private[graft] def manku6Blocks(bands: Column): Seq[Column] = {
    def b(i: Int) = get(bands, lit(i))
    Seq(
      b(0).bitwiseAND(lit(2047L)),                                        // bits 0-10
      shiftright(b(0), 11).bitwiseOR(b(1).bitwiseAND(lit(63L)) * 32L),    // 11-21
      shiftright(b(1), 6).bitwiseOR(b(2).bitwiseAND(lit(1L)) * 1024L),    // 22-32
      shiftright(b(2), 1).bitwiseAND(lit(2047L)),                         // 33-43
      shiftright(b(2), 12).bitwiseOR(b(3).bitwiseAND(lit(63L)) * 16L),    // 44-53
      shiftright(b(3), 6)                                                 // 54-63
    )
  }

  /** All C(6,3) = 20 three-element subsets of 0..5, fixed order; any
    * pair differing in ≤ 3 blocks agrees on every block of at least
    * one subset (pigeonhole: ≥ 3 blocks are identical). */
  private[graft] val manku6Combos: Seq[(Int, Int, Int)] =
    for (i <- 0 to 3; j <- (i + 1) to 4; k <- (j + 1) to 5) yield (i, j, k)

  /** The candidate-key structs (band_id, band_val) for a `bands`
    * column under either scheme — THE single construction both
    * [[bandedHammingPairs]] (the join) and [[lshBucketAudit]] (the
    * audit) use, so the audit can never drift onto keys the join does
    * not run. */
  private def bandKeys(blocks: Int): Seq[Column] =
    if (blocks == 4)
      (0 until 4).map { b =>
        struct(lit(b).as("band_id"), get(col("bands"), lit(b)).as("band_val"))
      }
    else {
      val blk = manku6Blocks(col("bands"))
      manku6Combos.zipWithIndex.map { case ((i, j, k), cid) =>
        struct(lit(cid).as("band_id"),
          (blk(i) * 4194304L + blk(j) * 2048L + blk(k)).as("band_val"))
      }
    }

  /** The winnow boilerplate document-frequency cap —
    * [[winnowOverlapPairs]]' default AND the bound the audit's
    * `winnow_capped` row measures; mirrored as the literal 64 in the
    * x34/x102/h01 oracle `HAVING`s, scripts/check_sf10_audit.py's
    * 31.5×-entries identity, and scripts/adversarial.py's hotskew
    * max_pop bound — change all of them together. */
  val DefaultWinnowMaxDf: Long = 64L

  /** Edge-count threshold under which [[connectedComponents]] runs the
    * DRIVER-LOCAL union-find path (see connectedComponentsAt/ccLocal)
    * instead of the distributed fixpoint loop: 2M edges is ~32 MB of collected edge
    * longs and at most 4M result rows — the same driver-memory bound
    * the r20 broadcast-label optimization used (that broadcast held the
    * same rows on the driver AND every executor, so the local path is
    * strictly cheaper in memory and removes the per-round job cascade
    * entirely). Above the threshold the distributed loop runs with no
    * hints and AQE chooses join strategies per round. */
  val CcLocalEdgeThreshold: Long = 2000000L

  /** Banded Hamming-LSH pairing over ANY 4×16-bit fingerprint table
    * (doc_id, bands), used by [[simhashPairs]]: explode the candidate
    * keys, pair each (band_id, band_val) bucket through [[bucketPairs]]
    * (members carry their bands), exact-Hamming-filter the candidates.
    * Never an all-pairs scan; `blocks` picks the key scheme (4 = the bands
    * themselves, 6 = Manku 3-block combinations for corpora past 2¹⁸
    * rows — [[scaledBlocks]]); the output pair set is identical either
    * way, both schemes are pigeonhole-complete for Hamming ≤ 3. */
  def bandedHammingPairs(fp0: DataFrame, maxHamming: Int = 3,
                         maxBucket: Option[Long] = None,
                         blocks: Int = 4): DataFrame = {
    require(blocks == 4 || blocks == 6,
      s"blocks must be 4 (bands-as-keys) or 6 (3-block combo keys), got $blocks")
    require(blocks == 4 || maxHamming <= 3,
      s"the 6-block combo scheme is pigeonhole-complete only for maxHamming <= 3, got $maxHamming")
    // candidate keys: at blocks=4 each 16-bit band is a key (complete
    // for Hamming <= 3 by pigeonhole over 4 bands); at blocks=6 the
    // keys are the 20 three-block combinations (~33 bits each) — same
    // guarantee, ~2^17x fewer random collisions (see [[scaledBlocks]])
    val exploded = fp0
      .select(col("doc_id"), col("bands"),
        explode(array(bandKeys(blocks): _*)).as("b"))
      .select(col("doc_id"), col("bands"), col("b.band_id"), col("b.band_val"))
    // the optional hot-bucket cap: a band value shared by a large corpus
    // fraction (boilerplate text → one SimHash) is a population²
    // false-candidate generator, while
    // genuinely near-dup pairs still agree on a discriminating band
    val ham = (0 until 4).map { j =>
      bit_count(get(col("a.bands"), lit(j)).bitwiseXOR(get(col("b.bands"), lit(j))))
    }.reduce(_ + _).cast(LongType)
    bucketPairs(exploded, Seq("band_id", "band_val"),
        struct(col("doc_id"), col("bands")), maxBucket, ("a", "b"),
        _.getField("doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        ham.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair may agree on several bands
  }

  /** h01: per-family LSH bucket-population audit — the standing gate
    * for the r16 MinHash defect class. A magnitude-preserving hash
    * family (or any regression that lets one common shingle/band value
    * capture a corpus fraction) shows up here as a hot bucket BEFORE it
    * shows up as quadratic candidate generation at scale: `max_pop` is
    * the largest single band bucket and `gen_pairs` = Σ pop·(pop−1)/2
    * is exactly the candidate-pair mass the bucket-join would emit.
    * One row per family over the SAME pipelines the dedup queries run
    * (identical expressions — not a re-implementation):
    *   minhash  — 7-shingle → 12-hash Lehmer-power signature → 3×4
    *              bands ([[minhashCandidates]]'s keys),
    *   simhash64 — Manku bands at the corpus-scaled block count
    *              ([[scaledBlocks]]: 4×16-bit bands to 2¹⁸ docs,
    *              3-block combo keys past that — [[simhashPairs]]'
    *              actual join keys at this corpus size),
    *   winnow   — selected fingerprint values ([[winnowOverlapPairs]]'
    *              join keys, PRE-`maxDf`-cap: this family is the
    *              detector for boilerplate-driven quadratic mass, the
    *              cap is the defense — reading raw mass here while
    *              x34 stays flat is the instrument working),
    *   winnow_capped — the same keys POST-cap (df ≤ 64), i.e. the
    *              join keys x34 actually pairs on: gen_pairs here is
    *              bounded by construction (pop ≤ 64 ⇒ ≤ 31.5·entries),
    *              so a cap regression reads as winnow_capped ≈ winnow,
    *   sign_lsh — corpus-scaled random-hyperplane buckets over `emb`
    *              ([[graft.similarity.Similarity.scaledBits]], target
    *              bucket population 32 — the SAME config the sign-LSH
    *              queries run; expected ~32 per bucket BY DESIGN — its
    *              bound is population/2^bits, not clique-sized).
    * All counts are exact integers (DIV 2 on the even product), so the
    * DuckDB oracle agrees bit-for-bit; the adversarial hot-skew sweep
    * asserts `max_pop` bounds on the dumped rows. */
  def lshBucketAudit(docs: DataFrame, id: Column, text: Column,
                     emb: DataFrame): DataFrame = {
    // normed is read by three fingerprint families — eager, so the
    // sibling AQE stages scan the cache instead of each re-running the
    // normalization (class cache contract)
    val normed = eager(
      spread(docs).select(id.as("doc_id"), TextOps.norm(text).as("_t")))
    def popsOf(entries: DataFrame): DataFrame =
      entries.groupBy("family", "bkey").agg(count(lit(1)).as("pop"))
    val mh = popsOf(minhashBandRows(normed, shingleHashes(col("_t"), 7), Nil)
      .select(lit("minhash").as("family"),
        concat(col("band_id").cast(StringType), lit("|"),
          col("band_key")).as("bkey")))
    // corpus-scaled Manku blocks, the SAME config simhashPairs runs at
    // this corpus size ([[scaledBlocks]]): past 2^18 docs the queries
    // join on 3-block combo keys, so auditing the 4x16 bands there
    // would measure a configuration nothing runs — the r17 sign-LSH
    // strawman all over again. One eager count at plan construction,
    // hoisted (the sgBits precedent below).
    val shBlocks = scaledBlocks(docs.count())
    val sh = popsOf(normed
      .select(bigramTokenHashes(col("_t")).as("_hx"))
      .select(simhash64Bands(col("_hx")).as("bands"))
      .select(explode(array(bandKeys(shBlocks): _*)).as("b"))
      .select(lit("simhash64").as("family"),
        concat(col("b.band_id").cast(StringType), lit("|"),
          col("b.band_val").cast(StringType)).as("bkey")))
    // winnow detector + defense rows from ONE pass (r20, was a persisted
    // entry relation read three times — raw family, df table, capped
    // semi-join — racing its own cache): a fingerprint's bucket size IS
    // its df, so the per-bucket pop table is computed once and each
    // bucket emits its "winnow" row plus, when pop is within
    // winnowOverlapPairs' df <= 64 boilerplate cap, the same row again
    // under "winnow_capped" — the capped family's mass stays bounded BY
    // CONSTRUCTION (pop <= 64 ⇒ gen_pairs <= 31.5 × entries), so a cap
    // regression reads as winnow_capped ≈ winnow while the raw row
    // keeps its early-warning role.
    val wn = normed
      .select(explode(winnowFingerprints(col("_t"), 20, 8)).as("h"))
      .groupBy(col("h").cast(StringType).as("bkey"))
      .agg(count(lit(1)).as("pop"))
      .select(explode(
        when(col("pop") <= DefaultWinnowMaxDf,
          array(lit("winnow"), lit("winnow_capped")))
          .otherwise(array(lit("winnow")))).as("family"),
        col("bkey"), col("pop"))
    // corpus-scaled bits, the SAME config the sign-LSH queries run
    // (Similarity.scaledBits, target bucket population 32): a fixed
    // 4-bit table audits a configuration nothing uses past ~500
    // vectors — at sf1 it read 20k vectors in 16 buckets (max_pop
    // 1,970, 13.4M pair mass) while the real queries run 10-bit
    // tables. The count() fires one eager job at plan-construction
    // time — hoisted to a val so a rebuilt audit pays it exactly once
    // per call, never once per column reference.
    val sgBits = graft.similarity.Similarity.scaledBits(emb.count())
    val sg = popsOf(emb
      .select(lit("sign_lsh").as("family"),
        graft.plans.functions.sign_bucket_rh(col("embedding"), sgBits, 0)
          .cast(StringType).as("bkey")))
    // families union as per-bucket POP tables (aggregate before the
    // union's exchange — guide §2.3), then one bounded per-family agg.
    // MEASURED DEAD END (r21): running the four family aggregates as
    // concurrent persist+count jobs from a thread pool (guide §2.6)
    // read h01 at 1.81-1.87 s in steal-clean probe-matched windows vs
    // 1.16 s for this single-plan form — the DAGScheduler already runs
    // the four independent family subtrees' stages concurrently inside
    // the ONE job this plan submits, so the pool bought no overlap and
    // paid four extra cache materializations plus job round-trips. The
    // pooled form only looked competitive under ~4% hypervisor steal,
    // where per-job overhead drowns in contention. Reverted.
    mh.unionAll(sh).unionAll(wn.select("family", "bkey", "pop"))
      .unionAll(sg)
      .groupBy("family")
      .agg(sum(col("pop")).as("n_entries"),
        count(lit(1)).as("n_buckets"),
        max(col("pop")).as("max_pop"),
        sum(expr("pop * (pop - 1) DIV 2")).as("gen_pairs"))
  }
}
