package graft.queries

import graft.{QueryDef, Tables}
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The LLM-data-pipeline tier: dedup (exact, MinHash-LSH, SimHash,
  * Jaccard), similarity search over embeddings (exact, IVF and IVF-PQ
  * top-k), and text analysis — the operations a training-data pipeline
  * needs at 100 TB, expressed over the `documents` and `embeddings`
  * testdata tables.
  *
  * Oracle discipline: every numeric path is either exact integer math,
  * engine-portable digests (md5 hex strings), or LEFT-FOLD double sums
  * (`aggregate` HOF ≡ DuckDB `list_reduce`) — so Spark and DuckDB agree
  * bit-for-bit and the driver's hash compare is meaningful.
  *
  * Dedup queries synthesize known duplicates (testdata has none): a
  * whitespace-mangled copy for exact dedup (exercises normalization), a
  * tail-appended copy for near-dup (Jaccard ≈ 0.9 against its original).
  */
object ExtraQueries {

  /** Normalization fragment shared by the oracle SQL strings (DuckDB
    * needs the explicit 'g' flag; Spark's regexp_replace is global). */
  private val normD = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  private val wsDupCorpusD =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS text
      |  FROM documents)""".stripMargin

  private val tailDupCorpusD =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS doc_id, text || ' zz qq xx yy' AS text FROM documents)""".stripMargin

  /** documents ∪ whitespace-mangled copies (normalizes equal → exact dups). */
  private def wsDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionAll(d.select((col("doc_id") + 10000000).as("doc_id"),
      concat(lit(" "), regexp_replace(col("text"), " ", "  "), lit(" ")).as("text")))
  }

  /** documents ∪ tail-appended copies (near-dups, shingle Jaccard ≈ 0.9). */
  private def tailDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionAll(d.select((col("doc_id") + 10000000).as("doc_id"),
      concat(col("text"), lit(" zz qq xx yy")).as("text")))
  }

  /** k-char shingle fragment (polynomial hashes) for the oracle. The
    * window length is clamped to the remaining text (`least`) exactly
    * like the native ShingleHashes loop — without the clamp a text
    * shorter than k would fold DuckDB's ord('') = −1 for the padding
    * positions and diverge from Spark. */
  private def shinglesKD(k: Int) =
    s"""n AS (SELECT doc_id, $normD AS t FROM corpus),
       |sh AS (SELECT doc_id, list_distinct([
       |    list_reduce([ord(substr(t, i + j, 1)) FOR j IN range(0, greatest(least($k, len(t) - i + 1), 1))]::BIGINT[],
       |                (acc, x) -> (acc * 31 + x) % 1000000007)
       |    FOR i IN range(1, greatest(len(t) - ${k - 1}, 1) + 1)]) AS shingles
       |  FROM n)""".stripMargin

  /** Lehmer-power MinHash multipliers A_k = 48271^(k+1) mod P as a SQL
    * list literal — MUST mirror HashUtil.minhashSig (the (2k+1) family
    * let one tiny-hash common shingle win every min; see the sf1-tier
    * finding in PLANS.md). */
  private val minhashAD: String = {
    val P = 1000000007L
    (1 to 12).scanLeft(1L)((a, _) => a * 48271L % P).drop(1)
      .mkString("[", ", ", "]")
  }

  /** MinHash/LSH fragments for the oracle (7-char shingles reduced to
    * polynomial hashes, affine 12-hash family, 3 bands × 4 rows —
    * mirrors Dedup.scala defaults). */
  private val shinglesD = shinglesKD(7)

  private val candidatesD =
    s"""$shinglesD,
       |sig AS (SELECT doc_id,
       |  [list_min([(h * ${minhashAD}[k+1] + 12345 * k) % 1000000007 FOR h IN shingles])
       |   FOR k IN range(0, 12)] AS sig
       |  FROM sh),
       |bands AS (SELECT doc_id, b AS band_id,
       |  sig[4*b+1] || '|' || sig[4*b+2] || '|' || sig[4*b+3] || '|' || sig[4*b+4] AS band_key
       |  FROM sig, range(0,3) r(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin

  /** Bigram token-hash chain shared by the SimHash oracles. */
  /** Empty-safe per-char polynomial fold, ≡ HashUtil.polyHash (acc
    * starts 0, so the empty string hashes to 0); DuckDB's list_reduce
    * raises on an empty list instead, so the zero-length case must be
    * folded by hand — whitespace-only documents normalize to "". */
  private def charFoldD(src: String) =
    s"""CASE WHEN len($src) = 0 THEN 0
       |     ELSE list_reduce([ord(substr($src, i, 1)) FOR i IN range(1, len($src)+1)]::BIGINT[],
       |                      (acc, x) -> (acc * 31 + x) % 1000000007) END""".stripMargin

  private def tokenHashesD(src: String) =
    s"""n AS (SELECT doc_id, $normD AS t FROM $src),
       |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM n),
       |tok AS (SELECT doc_id,
       |  CASE WHEN len(ws) >= 2
       |       THEN list_distinct([ws[i] || '_' || ws[i+1] FOR i IN range(1, len(ws))])
       |       ELSE ws END AS toks FROM w),
       |th AS (SELECT doc_id, [
       |    (${charFoldD("tk")} * 48271) % 2147483647
       |    FOR tk IN toks] AS hx FROM tok)""".stripMargin

  /** x72/x84 classifier feature fragment: namespaced re-bucketing of the
    * shared `th` bigram hashes (lexical mod dim−StructDim) plus the three
    * direct-indexed structural tokens — mirrors
    * [[graft.text.TextOps.classifierFeatures]] exactly (same floor/least
    * double arithmetic on integer inputs, IEEE-identical in both
    * engines). Expects `n` and `th` from [[tokenHashesD]] in scope;
    * yields `fx(doc_id, hx)`. */
  private def classifierFeatsD: String = {
    val lex = graft.text.Classifier.Dim - graft.text.Classifier.StructDim
    s"""sxw AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM n),
       |sx AS (SELECT doc_id,
       |  $lex + least(CAST(floor(len(ws)/10) AS BIGINT), 12) AS f_len,
       |  ${lex + 13} + least(CAST(
       |    (CASE WHEN contains(' ' || t || ' ', ' the ') THEN 1 ELSE 0 END)
       |    + (CASE WHEN contains(' ' || t || ' ', ' a ') THEN 1 ELSE 0 END)
       |    + (CASE WHEN contains(' ' || t || ' ', ' of ') THEN 1 ELSE 0 END)
       |    + (CASE WHEN contains(' ' || t || ' ', ' and ') THEN 1 ELSE 0 END)
       |    + (CASE WHEN contains(' ' || t || ' ', ' to ') THEN 1 ELSE 0 END)
       |    + (CASE WHEN contains(' ' || t || ' ', ' in ') THEN 1 ELSE 0 END)
       |    AS BIGINT), 3) AS f_stop,
       |  ${lex + 17} + least(CAST(floor(
       |    len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) * 10 / len(ws))
       |    AS BIGINT), 10) AS f_alpha
       |  FROM sxw),
       |fx AS (SELECT th.doc_id,
       |  list_concat([h % $lex FOR h IN th.hx], [sx.f_len, sx.f_stop, sx.f_alpha]) AS hx
       |  FROM th JOIN sx USING (doc_id))""".stripMargin
  }

  /** Bigram-token SimHash fragment (16 bits) for the oracle. */
  private def simhashD(src: String) =
    s"""${tokenHashesD(src)},
       |fp AS (SELECT doc_id, CAST(list_sum([
       |    CASE WHEN list_sum([
       |           CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END FOR h IN hx]) >= 0
       |         THEN (1::BIGINT << i) ELSE 0 END FOR i IN range(0,16)]) AS BIGINT) AS simhash
       |  FROM th)""".stripMargin

  /** 64-bit banded SimHash fragment (4 bands × 16 bits; band b's token
    * hash is h·mult_b mod 2³¹−1) — mirrors graft.plans.SimHash64Bands. */
  private def simhash64D(src: String) =
    s"""${tokenHashesD(src)},
       |fp64 AS (SELECT doc_id, [
       |    CAST(list_sum([CASE WHEN list_sum([
       |        CASE WHEN (((h * m) % 2147483647) >> i) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hx]) >= 0
       |      THEN (1::BIGINT << i) ELSE 0 END FOR i IN range(0, 16)]) AS BIGINT)
       |    FOR m IN [1, 16807, 69621, 40692]] AS bands FROM th),
       |fb AS (SELECT doc_id, bands, b AS band_id, bands[b+1] AS band_val
       |       FROM fp64, range(0,4) r(b))""".stripMargin

  /** Left-fold squared norm ≡ graft.plans.SqNormFold. */
  private def sqNormD(c: String) =
    s"list_reduce(list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)"
  /** Left-fold dot product ≡ graft.plans.DotFold. */
  private def dotD(a: String, b: String) =
    s"""list_reduce(list_transform(list_zip($a, $b),
       |  z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)""".stripMargin

  /** Unrolled power-iteration fragments for the x113 PCA oracle — the
    * same fixed-count iteration [[graft.similarity.Similarity.principalComponent]]
    * runs on the driver, replayed CTE-by-CTE (the bpeRoundsD unrolling
    * technique): expects `grow(i, gr)` (scaled Gram rows as DOUBLE
    * lists) in scope; yields `v$iters(v)`. Every sum is the engines'
    * shared left-fold convention (list_reduce ≡ acc-from-zero, the
    * dotD/DotFold precedent); the zero-norm guard is the same fixed
    * point the Scala side takes. Every step CTE is MATERIALIZED:
    * DuckDB's default inlining re-expands a chained CTE per reference,
    * which is exponential in `iters` for this recurrence (measured:
    * fine at 8 steps, runaway at 30); materialization evaluates each
    * step exactly once, matching the Scala loop. `grow` names the CTE
    * holding the matrix rows; `sfx` disambiguates chained uses (x115
    * runs a second, deflated chain in the same WITH). */
  private def pcaItersD(dim: Int, iters: Int, grow: String = "grow",
                        sfx: String = ""): String = {
    val init =
      s"v0$sfx AS MATERIALIZED (SELECT [1.0/sqrt(CAST($dim AS DOUBLE)) FOR x IN range(0, $dim)] AS v)"
    val steps = (1 to iters).map { t =>
      s"""u$t$sfx AS MATERIALIZED (SELECT list(list_reduce(list_transform(list_zip(g.gr, v.v),
         |    z -> z[1]*z[2]), (a, b) -> a + b) ORDER BY g.i) AS w
         |  FROM $grow g, v${t - 1}$sfx v),
         |v$t$sfx AS MATERIALIZED (SELECT CASE
         |    WHEN sqrt(list_reduce(list_transform(w, y -> y*y), (a, b) -> a + b)) = 0 THEN w
         |    ELSE list_transform(w,
         |      x -> x / sqrt(list_reduce(list_transform(w, y -> y*y), (a, b) -> a + b))) END AS v
         |  FROM u$t$sfx)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  /** Guarded left-fold cosine ≡ Similarity.cosine (0.0 on a zero norm). */
  private def cosD(a: String, b: String) =
    s"""CASE WHEN ${sqNormD(a)} * ${sqNormD(b)} = 0 THEN 0.0
       |     ELSE list_reduce(list_transform(list_zip($a, $b),
       |            z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)
       |          / sqrt(${sqNormD(a)} * ${sqNormD(b)}) END""".stripMargin

  /** Random-hyperplane sign-LSH bucket fragment ≡ graft.plans.SignBucketRH:
    * Rademacher sign = parity of a double-Lehmer mix of (d+1)(2i+1)+7919·seed;
    * per-bit projection is a left fold of ±emb[d] in dimension order.
    * `bits` is a SQL expression so callers can pass a corpus-scaled value. */
  private def rhBucketD(c: String, bits: String, seed: String) =
    s"""CAST(list_sum([CASE WHEN list_reduce(
       |  [CASE WHEN ((((((d+1)*(2*i+1) + 7919*($seed)) % 2147483647) * 48271 % 2147483647) * 69621 % 2147483647) & 1) = 1
       |        THEN CAST($c[d+1] AS DOUBLE) ELSE -CAST($c[d+1] AS DOUBLE) END
       |   FOR d IN range(0, len($c))], (acc, x) -> acc + x) >= 0
       |  THEN (1::BIGINT << i) ELSE 0 END FOR i IN range(0, $bits)]) AS BIGINT)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ----- exact dedup: normalize → digest → hash-aggregate
    QueryDef("x01_exact_dedup",
      "exact dedup on normalized text digest: survivor id + dup count; map-side combine, digests not text shuffle")(
      s"""WITH $wsDupCorpusD,
         |n AS (SELECT doc_id, md5($normD) AS norm_key FROM corpus)
         |SELECT min(doc_id) AS doc_id, count(*) AS dup_count FROM n GROUP BY norm_key
         |""".stripMargin) { (s, dir) =>
      Dedup.exact(wsDupCorpus(s, dir), col("doc_id"), col("text"))
    },

    // ----- MinHash-LSH near-dup candidates (banded; never all-pairs)
    QueryDef("x02_minhash_lsh",
      "banded MinHash-LSH candidate pairs: hashed 7-shingles, affine 12-hash family, 3 bands x 4 rows; equi-join on band key")(
      s"""WITH $tailDupCorpusD,
         |$candidatesD
         |SELECT doc_a, doc_b FROM cand
         |""".stripMargin) { (s, dir) =>
      Dedup.minhashCandidates(tailDupCorpus(s, dir), col("doc_id"), col("text"))
    },

    // ----- exact Jaccard verification on the LSH candidates only
    QueryDef("x03_jaccard_verify",
      "exact shingle-Jaccard on LSH candidate pairs (integer set sizes, one final division)")(
      s"""WITH $tailDupCorpusD,
         |$candidatesD
         |SELECT c.doc_a, c.doc_b,
         |  round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |        / CAST(len(x.shingles) + len(y.shingles)
         |               - len(list_intersect(x.shingles, y.shingles)) AS DOUBLE), 6) AS jaccard
         |FROM cand c
         |JOIN sh x ON x.doc_id = c.doc_a
         |JOIN sh y ON y.doc_id = c.doc_b
         |""".stripMargin) { (s, dir) =>
      // fused form: one staged shingle pass feeds both the LSH banding
      // and the exact-Jaccard joins (same results as composing
      // minhashCandidates + jaccardVerify, which shingles twice)
      Dedup.verifiedCandidates(tailDupCorpus(s, dir), col("doc_id"), col("text"))
    },

    // ----- incremental near-dup: NEW batch probed against the EXISTING corpus
    QueryDef("x45_incremental_neardup",
      "appending-crawl dedup: band the new batch and the existing corpus once each, join bands ASYMMETRICALLY (no corpus self-join), verify with exact Jaccard >= 0.5 — per-batch cost is one linear banding pass + an index probe")(
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |${shinglesKD(7)},
         |bc AS (SELECT doc_id + 10000000 AS doc_id, text || ' zz qq xx yy' AS text
         |       FROM documents WHERE doc_id % 10 = 0),
         |bn AS (SELECT doc_id, $normD AS t FROM bc),
         |bsh AS (SELECT doc_id, list_distinct([
         |    list_reduce([ord(substr(t, i + j, 1)) FOR j IN range(0, greatest(least(7, len(t) - i + 1), 1))]::BIGINT[],
         |                (acc, x) -> (acc * 31 + x) % 1000000007)
         |    FOR i IN range(1, greatest(len(t) - 6, 1) + 1)]) AS shingles
         |  FROM bn),
         |csig AS (SELECT doc_id,
         |  [list_min([(h * ${minhashAD}[q+1] + 12345 * q) % 1000000007 FOR h IN shingles])
         |   FOR q IN range(0, 12)] AS sig FROM sh),
         |bsig AS (SELECT doc_id,
         |  [list_min([(h * ${minhashAD}[q+1] + 12345 * q) % 1000000007 FOR h IN shingles])
         |   FOR q IN range(0, 12)] AS sig FROM bsh),
         |cbands AS (SELECT doc_id, b AS band_id,
         |  sig[4*b+1] || '|' || sig[4*b+2] || '|' || sig[4*b+3] || '|' || sig[4*b+4] AS band_key
         |  FROM csig, range(0,3) r(b)),
         |bbands AS (SELECT doc_id, b AS band_id,
         |  sig[4*b+1] || '|' || sig[4*b+2] || '|' || sig[4*b+3] || '|' || sig[4*b+4] AS band_key
         |  FROM bsig, range(0,3) r(b)),
         |cand AS (SELECT DISTINCT c.doc_id AS corpus_id, nb.doc_id AS batch_id
         |  FROM cbands c JOIN bbands nb
         |    ON c.band_id = nb.band_id AND c.band_key = nb.band_key)
         |SELECT c.batch_id, c.corpus_id,
         |  round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |        / CAST(len(x.shingles) + len(y.shingles)
         |               - len(list_intersect(x.shingles, y.shingles)) AS DOUBLE), 6) AS jaccard
         |FROM cand c
         |JOIN sh x ON x.doc_id = c.corpus_id
         |JOIN bsh y ON y.doc_id = c.batch_id
         |WHERE round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |        / CAST(len(x.shingles) + len(y.shingles)
         |               - len(list_intersect(x.shingles, y.shingles)) AS DOUBLE), 6) >= 0.5
         |""".stripMargin) { (s, dir) =>
      // batch = tail-mangled copies of every 10th doc: each is a
      // near-dup (Jaccard ~0.9) of exactly one corpus doc
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000000).as("doc_id"),
          concat(col("text"), lit(" zz qq xx yy")).as("text"))
      Dedup.incrementalNearDup(docs, col("doc_id"), col("text"),
        batch, col("doc_id"), col("text"))
    },

    // ----- near-dup clusters: LSH pairs → connected components → survivors
    // `und AS MATERIALIZED` (here and in x46/x92/x94): DuckDB inlines
    // plain CTEs, so the recursive `reach` term re-evaluated the ENTIRE
    // shingle→minhash→band→candidate pipeline on every recursion round —
    // >40 min/query at sf1 (the r16 ORACLE_TIMEOUT rows). Materializing
    // the edge list runs that pipeline once; the recursion itself is
    // linear in edges × diameter. Measured at sf1: >2400 s → ~270 s.
    QueryDef("x23_neardup_clusters",
      "dedup clusters from MinHash-LSH pairs via min-label propagation (one survivor per cluster) — O(diameter) rounds of node-keyed joins")(
      s"""WITH RECURSIVE $tailDupCorpusD,
         |$candidatesD,
         |und AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM cand
         |        UNION ALL SELECT doc_b, doc_a FROM cand),
         |nodes AS (SELECT DISTINCT u AS node FROM und),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT und.u, reach.lab FROM und JOIN reach ON reach.node = und.v)
         |SELECT node AS doc_id, min(lab) AS component,
         |       (min(lab) = node) AS is_survivor
         |FROM reach GROUP BY node
         |""".stripMargin) { (s, dir) =>
      val cand = Dedup.minhashCandidates(tailDupCorpus(s, dir), col("doc_id"), col("text"))
      Dedup.connectedComponents(cand)
    },

    // ----- SimHash fingerprints (16-bit, word-bigram tokens)
    QueryDef("x04_simhash",
      "16-bit SimHash over word-bigram tokens — integer-only majority vote per bit")(
      s"""WITH ${simhashD("documents")}
         |SELECT doc_id, simhash FROM fp
         |""".stripMargin) { (s, dir) =>
      Dedup.simhashFingerprints(Tables.documents(s, dir), col("doc_id"), col("text"))
    },

    // ----- SimHash near-dup pairs (64-bit banded Hamming-LSH, Hamming <= 3)
    QueryDef("x05_simhash_pairs",
      "Manku banded Hamming-LSH: 64-bit SimHash in 4x16-bit bands, equi-join on (band_id, band_val), exact Hamming <= 3")(
      s"""WITH $tailDupCorpusD,
         |${simhash64D("corpus")},
         |pr AS (SELECT DISTINCT a.doc_id AS doc_a, k.doc_id AS doc_b,
         |        CAST(bit_count(xor(a.bands[1], k.bands[1])) + bit_count(xor(a.bands[2], k.bands[2]))
         |           + bit_count(xor(a.bands[3], k.bands[3])) + bit_count(xor(a.bands[4], k.bands[4])) AS BIGINT) AS hamming
         |       FROM fb a JOIN fb k
         |         ON a.band_id = k.band_id AND a.band_val = k.band_val AND a.doc_id < k.doc_id)
         |SELECT doc_a, doc_b, hamming FROM pr WHERE hamming <= 3
         |""".stripMargin) { (s, dir) =>
      // corpus-scaled candidate keys (Dedup.scaledBlocks): 4x16-bit
      // bands to 2^18 docs, 3-block combo keys past that. The OUTPUT
      // is the complete Hamming<=3 pair set either way (both schemes
      // pigeonhole-complete + exact-Hamming-filtered), so the oracle's
      // 4-band candidate generation stays valid at every SF — only the
      // candidate MASS changes (sf10 read 15.8x for 10x rows on
      // saturated 16-bit bands; the combo keys return it to linear).
      // One cheap eager count at plan construction (the h01 precedent).
      val corpus = tailDupCorpus(s, dir)
      Dedup.simhashPairs(corpus, col("doc_id"), col("text"),
        blocks = Dedup.scaledBlocks(corpus.count()))
    },

    // ----- brute-force cosine top-k (exact ANN baseline)
    QueryDef("x06_cosine_topk",
      "brute-force cosine top-3 per query vector; left-fold double dot products, broadcast query side")(
      s"""WITH dotn AS (
         |  SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
         |    list_reduce(list_transform(list_zip(q.embedding, v.embedding),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x) AS dot,
         |    ${sqNormD("q.embedding")} AS nq,
         |    ${sqNormD("v.embedding")} AS nv
         |  FROM embeddings q, embeddings v WHERE q.vec_id < 5),
         |cs AS (SELECT q_id, vec_id,
         |         CASE WHEN nq * nv = 0 THEN 0.0 ELSE dot / sqrt(nq * nv) END AS cos
         |       FROM dotn)
         |SELECT q_id, vec_id, round(cos, 6) AS cos_r FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM cs)
         |WHERE rn <= 3
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(emb.select("vec_id", "embedding"), queries, 3)
        .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos_r"))
    },

    // ----- hard-negative mining: top-k similar-but-wrong-label,
    // exclusions applied BEFORE ranking (self, same label, near-dups)
    QueryDef("x71_hard_negatives",
      "contrastive hard-negative mining (DPR-style): per query vector, top-5 most-similar corpus vectors excluding the query row, its label's positives and near-identical vectors (cos >= 0.98) — exclusions filter before ranking, WindowGroupLimit pre-truncates below the exchange")(
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |           FROM embeddings WHERE vec_id < 8),
         |cs AS (
         |  SELECT q.q_id, q.q_label, v.vec_id AS vec_id, v.label AS label,
         |    ${cosD("q.q_emb", "v.embedding")} AS cos
         |  FROM embeddings v, q
         |  WHERE v.vec_id <> q.q_id AND v.label <> q.q_label),
         |f AS (SELECT * FROM cs WHERE cos < 0.98)
         |SELECT q_id, CAST(rn AS BIGINT) AS rnk, vec_id,
         |       round(cos, 6) AS cos_r, label
         |FROM (SELECT *, row_number() OVER
         |        (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |      FROM f)
         |WHERE rn <= 5
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      Similarity.hardNegatives(emb.select("vec_id", "embedding", "label"),
          queries, k = 5, dupCos = 0.98)
        .select(col("q_id"), col("rnk"), col("vec_id"),
          round(col("cos"), 6).as("cos_r"), col("label"))
    },

    // ----- IVF-style ANN: coarse-quantizer cells, nprobe=1
    QueryDef("x15_ann_ivf_cosine",
      "IVF ANN: corpus in corpus-scaled ceil(sqrt(n)) centroid cells (assignment O(n*cells) and cell-join O(n^2/cells) balance at sqrt), queries probe their top-2 cells (nprobe=2), top-3")(
      s"""WITH p AS (SELECT least(greatest(CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), 8), 65536) AS nc
         |           FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS c_emb FROM (
         |           SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS crn
         |           FROM embeddings)
         |         WHERE crn <= (SELECT nc FROM p)),
         |sc AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      CASE WHEN ${sqNormD("e.embedding")} * ${sqNormD("c.c_emb")} = 0 THEN 0.0
         |           ELSE list_reduce(list_transform(list_zip(e.embedding, c.c_emb),
         |                  z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)
         |                / sqrt(${sqNormD("e.embedding")} * ${sqNormD("c.c_emb")}) END DESC,
         |      c.cid) AS rn
         |  FROM embeddings e, cent c),
         |asg AS (SELECT vec_id, embedding, cid AS cell FROM sc WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, cid AS cell
         |      FROM sc WHERE vec_id < 5 AND rn <= 2),
         |dotn AS (
         |  SELECT q.q_id, c.vec_id,
         |    list_reduce(list_transform(list_zip(q.q_emb, c.embedding),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x) AS dot,
         |    ${sqNormD("q.q_emb")} AS nq,
         |    ${sqNormD("c.embedding")} AS nv
         |  FROM q JOIN asg c ON q.cell = c.cell),
         |cs AS (SELECT q_id, vec_id,
         |         CASE WHEN nq * nv = 0 THEN 0.0 ELSE dot / sqrt(nq * nv) END AS cos
         |       FROM dotn)
         |SELECT q_id, vec_id, round(cos, 6) AS cos_r FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM cs)
         |WHERE rn <= 3
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      // one cheap driver-side count sizes the coarse quantizer to the
      // corpus (same pattern as x16's scaledBits): cells = ceil(sqrt(n))
      // keeps assignment and the within-cell search join balanced at
      // O(n^1.5) instead of letting a fixed cell count go quadratic
      val nCells = Similarity.scaledCells(emb.count())
      Similarity.ivfTopK(emb, queries, 3, nCells = nCells, nprobe = 2)
        .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos_r"))
    },

    // ----- IVF-PQ top-k (FAISS IVFADC: cells bound WHERE, codes bound WHAT)
    QueryDef("x43_ivfpq_topk_cosine",
      "IVF-PQ/ADC: scaled coarse cells + shared 4x16 residual codebook; probed-cell candidates scored as dot(q, cell-centroid) + LUT subspace sum over codes, exact-cosine re-rank of the top-10 — the billion-scale ANN composition")(
      s"""WITH sd AS (SELECT unnest(range(0, 4)) AS s),
         |p AS (SELECT least(greatest(CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), 8), 65536) AS nc
         |      FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS c_emb FROM (
         |           SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS crn
         |           FROM embeddings)
         |         WHERE crn <= (SELECT nc FROM p)),
         |sc AS (SELECT e.vec_id, e.embedding, c.cid, c.c_emb,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |           ${cosD("e.embedding", "c.c_emb")} DESC, c.cid) AS rn
         |       FROM embeddings e, cent c),
         |res AS (SELECT vec_id, cid AS cell,
         |          list_transform(list_zip(embedding, c_emb),
         |            z -> CAST(z[1] - z[2] AS FLOAT)) AS r
         |        FROM sc WHERE rn = 1),
         |seeds AS (SELECT r, rk - (SELECT nc FROM p) - 1 AS code FROM (
         |           SELECT r, row_number() OVER (ORDER BY vec_id) AS rk FROM res)
         |          WHERE rk > (SELECT nc FROM p)
         |            AND rk <= (SELECT nc FROM p) + 16),
         |cb AS (SELECT sd.s, seeds.code, seeds.r[sd.s*16+1 : sd.s*16+16] AS c_sub
         |       FROM seeds, sd),
         |rs AS (SELECT res.vec_id, sd.s, res.r[sd.s*16+1 : sd.s*16+16] AS sub
         |       FROM res, sd),
         |enc0 AS (SELECT c.vec_id, c.s, b.code,
         |          row_number() OVER (PARTITION BY c.vec_id, c.s ORDER BY
         |            ${sqNormD("c.sub")} + ${sqNormD("b.c_sub")}
         |              - 2 * ${dotD("c.sub", "b.c_sub")}, b.code) AS rn
         |        FROM rs c JOIN cb b USING (s)),
         |enc AS (SELECT e0.vec_id, e0.s, e0.code, res.cell
         |        FROM enc0 e0 JOIN res USING (vec_id) WHERE e0.rn = 1),
         |vn AS (SELECT vec_id, sqrt(${sqNormD("embedding")}) AS vnorm FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
         |qc AS (SELECT s.vec_id AS q_id, s.cid AS cell,
         |         ${dotD("s.embedding", "s.c_emb")} AS qcd
         |       FROM sc s WHERE s.vec_id < 5 AND s.rn <= 2),
         |qs AS (SELECT q.q_id, sd.s, q.q_emb[sd.s*16+1 : sd.s*16+16] AS sub FROM q, sd),
         |lut AS (SELECT qs.q_id, qs.s, b.code, ${dotD("qs.sub", "b.c_sub")} AS pd
         |        FROM qs JOIN cb b USING (s)),
         |qn AS (SELECT q_id, sqrt(${sqNormD("q_emb")}) AS qnorm FROM q),
         |ad AS (SELECT c.q_id, e.vec_id,
         |         max(c.qcd) + list_reduce(list(l.pd ORDER BY l.s), (a, x) -> a + x) AS adot
         |       FROM enc e JOIN qc c USING (cell)
         |                  JOIN lut l ON l.q_id = c.q_id AND l.s = e.s AND l.code = e.code
         |       GROUP BY 1, 2),
         |ac AS (SELECT ad.q_id, ad.vec_id,
         |         CASE WHEN qn.qnorm * vn.vnorm = 0 THEN 0.0
         |              ELSE ad.adot / (qn.qnorm * vn.vnorm) END AS acos
         |       FROM ad JOIN vn USING (vec_id) JOIN qn USING (q_id)),
         |cand AS (SELECT q_id, vec_id FROM (
         |          SELECT *, row_number() OVER (PARTITION BY q_id
         |            ORDER BY acos DESC, vec_id) AS rn FROM ac)
         |         WHERE rn <= 10),
         |ex AS (SELECT c.q_id, c.vec_id, ${cosD("q.q_emb", "e.embedding")} AS cos
         |       FROM cand c JOIN embeddings e USING (vec_id) JOIN q USING (q_id))
         |SELECT q_id, vec_id, round(cos, 6) AS cos_r FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM ex)
         |WHERE rn <= 3
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.ivfPqTopK(emb, queries, 3, dim = 64,
          nCells = Similarity.scaledCells(emb.count()), nprobe = 2)
        .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos_r"))
    },

    // ----- embedding-cosine near-dup (the vector member of the dedup family)
    QueryDef("x16_embedding_neardup",
      "near-dup pairs by embedding cosine >= 0.999 in corpus-scaled random-hyperplane LSH buckets, 2 hash tables for recall")(
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
         |p AS (SELECT greatest(len(bin(CAST((count(*) + 31) // 32 AS BIGINT) - 1)), 1) AS nbits FROM corpus),
         |b AS (SELECT s.seed, c.vec_id, c.embedding,
         |        ${rhBucketD("c.embedding", "p.nbits", "s.seed")} AS bucket
         |      FROM corpus c CROSS JOIN p CROSS JOIN (SELECT unnest([0, 1]) AS seed) s),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, k.vec_id AS vec_b,
         |           a.embedding AS ea, k.embedding AS eb
         |         FROM b a JOIN b k
         |           ON a.seed = k.seed AND a.bucket = k.bucket AND a.vec_id < k.vec_id),
         |dotn AS (
         |  SELECT vec_a, vec_b,
         |    list_reduce(list_transform(list_zip(ea, eb),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x) AS dot,
         |    ${sqNormD("ea")} AS na, ${sqNormD("eb")} AS nb
         |  FROM cand),
         |cs AS (SELECT vec_a, vec_b,
         |         CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / sqrt(na * nb) END AS cos
         |       FROM dotn)
         |SELECT vec_a, vec_b, round(cos, 6) AS cos_r FROM cs WHERE cos >= 0.999
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val corpus = emb.unionAll(emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000000).as("vec_id"), col("embedding")))
      // one cheap driver-side count sizes the hyperplane family to the
      // corpus (the point of the scale fix: bits grow with n, bucket
      // population stays ~constant)
      val n = corpus.count()
      Similarity.neardupPairs(corpus, n, minCos = 0.999)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_r"))
    },

    // ----- winnowing partial-overlap pairs (MOSS local fingerprints)
    QueryDef("x34_winnow_overlap",
      "partial-overlap pairs via winnowing: sliding-window minima of positional 20-char shingle hashes, equi-join on selected fingerprints, >= 3 shared — catches quoted chunks whole-doc MinHash dilutes away")(
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000 AS doc_id,
         |         substr(text, 1, 120) || ' fresh tail content entirely new here' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |n AS (SELECT doc_id, $normD AS t FROM corpus),
         |hl AS (SELECT doc_id, CASE WHEN len(t) = 0 THEN []::BIGINT[] ELSE [
         |    list_reduce([ord(substr(t, i + j, 1)) FOR j IN range(0, greatest(least(20, len(t) - i + 1), 1))]::BIGINT[],
         |                (acc, x) -> (acc * 31 + x) % 1000000007)
         |    FOR i IN range(1, greatest(len(t) - 19, 1) + 1)] END AS hs FROM n),
         |sel AS (SELECT doc_id, CASE WHEN len(hs) = 0 THEN []::BIGINT[] ELSE list_distinct([
         |    list_min(hs[i:i+7]) FOR i IN range(1, greatest(len(hs) - 7, 1) + 1)]) END AS sel
         |  FROM hl),
         |e AS (SELECT doc_id, unnest(sel) AS h FROM sel),
         |ec AS (SELECT e.doc_id, e.h FROM e
         |       JOIN (SELECT h FROM e GROUP BY h HAVING count(*) <= 64) ok USING (h)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared
         |      FROM ec a JOIN ec b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared FROM p WHERE shared >= 3
         |""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = d.unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000000).as("doc_id"),
          concat(substring(col("text"), 1, 120),
            lit(" fresh tail content entirely new here")).as("text")))
      // maxDf = 64 (the winnowOverlapPairs default, mirrored in the
      // oracle's HAVING): this query's own planted constant tail IS
      // the boilerplate case at bench SFs — 10% of the corpus shares
      // one 37-char suffix, so its selected fingerprints' buckets grow
      // with the corpus and their pair mass quadratically (sf10: 50k
      // docs -> ~1.2B pairs, the join's agg ran past 10 min). The df
      // cap drops exactly those buckets; source<->plant prefix overlap
      // (df 2 per fingerprint) is untouched.
      Dedup.winnowOverlapPairs(corpus, col("doc_id"), col("text"))
    },

    // ----- LSH bucket-population audit (the standing hot-bucket gate:
    // the r16 MinHash multiplier defect was a magnitude-preserving hash
    // family that sent 1,666 docs into ONE band bucket — 1.39 M
    // candidate pairs; this query makes that failure mode a first-class
    // OUTPUT so both the oracle compare and the adversarial hot-skew
    // sweep's max_pop bound catch it at every SF)
    QueryDef("h01_lsh_bucket_audit",
      "per-family LSH bucket-population audit: for minhash bands / simhash64 bands / winnow fingerprints / sign-LSH buckets, the bucket count, max single-bucket population, and the exact candidate-pair mass sum pop*(pop-1)/2 the bucket join would emit — a magnitude-preserving family regression reads as max_pop ~ corpus fraction here before it reads as quadratic wall-clock at scale")(
      s"""WITH keys AS (
         |  SELECT 'minhash' AS family, band_id || '|' || band_key AS bkey
         |  FROM (WITH $tailDupCorpusD,
         |        $candidatesD
         |        SELECT band_id, band_key FROM bands)
         |  UNION ALL
         |  SELECT 'simhash64' AS family, band_id || '|' || band_val AS bkey
         |  FROM (WITH $tailDupCorpusD,
         |        ${simhash64D("corpus")},
         |        -- corpus-scaled Manku keys ≡ Dedup.scaledBlocks: the
         |        -- 4x16-bit bands to 2^18 docs, the 20 three-block
         |        -- combination keys (blocks 11,11,11,11,10,10 wide,
         |        -- extracted band-local so no packed 64-bit value is
         |        -- built) past that — the SAME keys simhashPairs joins
         |        -- on at this corpus size; combo rows generated from
         |        -- Dedup.manku6Combos so the two sides cannot drift
         |        blk AS (SELECT doc_id, [
         |            bands[1] & 2047,
         |            (bands[1] >> 11) | ((bands[2] & 63) * 32),
         |            (bands[2] >> 6) | ((bands[3] & 1) * 1024),
         |            (bands[3] >> 1) & 2047,
         |            (bands[3] >> 12) | ((bands[4] & 63) * 16),
         |            bands[4] >> 6 ] AS bl FROM fp64),
         |        fb6 AS (SELECT c.cid AS band_id,
         |                (bl[c.i + 1] * 4194304) + (bl[c.j + 1] * 2048) + bl[c.k + 1] AS band_val
         |                FROM blk, (VALUES ${Dedup.manku6Combos.zipWithIndex
                            .map { case ((i, j, k), cid) => s"($cid,$i,$j,$k)" }
                            .mkString(",")}) c(cid, i, j, k))
         |        SELECT band_id, band_val FROM fb
         |        WHERE (SELECT count(*) FROM corpus) <= 262144
         |        UNION ALL
         |        SELECT band_id, band_val FROM fb6
         |        WHERE (SELECT count(*) FROM corpus) > 262144)
         |  UNION ALL
         |  SELECT fam2 AS family, CAST(h AS VARCHAR) AS bkey
         |  FROM (WITH $tailDupCorpusD,
         |        wn AS (SELECT doc_id, $normD AS t FROM corpus),
         |        hl AS (SELECT doc_id, CASE WHEN len(t) = 0 THEN []::BIGINT[] ELSE [
         |            list_reduce([ord(substr(t, i + j, 1)) FOR j IN range(0, greatest(least(20, len(t) - i + 1), 1))]::BIGINT[],
         |                        (acc, x) -> (acc * 31 + x) % 1000000007)
         |            FOR i IN range(1, greatest(len(t) - 19, 1) + 1)] END AS hs FROM wn),
         |        sel AS (SELECT doc_id, CASE WHEN len(hs) = 0 THEN []::BIGINT[] ELSE list_distinct([
         |            list_min(hs[i:i+7]) FOR i IN range(1, greatest(len(hs) - 7, 1) + 1)]) END AS sel
         |          FROM hl),
         |        e AS MATERIALIZED (SELECT unnest(sel) AS h FROM sel)
         |        -- detector row (raw keys) + defense row (the df <= 64
         |        -- capped keys x34 actually pairs on) from ONE
         |        -- materialized explode
         |        SELECT 'winnow' AS fam2, h FROM e
         |        UNION ALL
         |        SELECT 'winnow_capped' AS fam2, e.h FROM e
         |        JOIN (SELECT h FROM e GROUP BY h HAVING count(*) <= 64) ok USING (h))
         |  UNION ALL
         |  SELECT 'sign_lsh' AS family,
         |         CAST(${rhBucketD("embedding",
                 // corpus-scaled bits ≡ Similarity.scaledBits(n, 32) =
                 // bitLength(m-1) with m = max(ceil(n/32), 2) — expressed
                 // integer-only via length(bin(m-1)) so parity with the
                 // Scala 64-nlz(m-1) never rests on libm log2 rounding
                 "(SELECT CAST(length(bin(greatest((count(*) + 31) // 32, 2) - 1)) AS BIGINT) FROM embeddings)",
                 "0")} AS VARCHAR) AS bkey
         |  FROM embeddings),
         |pb AS (SELECT family, bkey, CAST(count(*) AS BIGINT) AS pop
         |       FROM keys GROUP BY 1, 2)
         |SELECT family, CAST(sum(pop) AS BIGINT) AS n_entries,
         |       CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(max(pop) AS BIGINT) AS max_pop,
         |       CAST(sum(pop * (pop - 1) // 2) AS BIGINT) AS gen_pairs
         |FROM pb GROUP BY family
         |""".stripMargin) { (s, dir) =>
      Dedup.lshBucketAudit(tailDupCorpus(s, dir), col("doc_id"), col("text"),
        Tables.embeddings(s, dir).select("vec_id", "embedding"))
    },

    // ----- source-mixture reweighting manifest (DoReMi-lite)
    QueryDef("x33_mixture_weights",
      "per-source token share + equalizing sampling weight (uniform target / actual) — the domain-mixture manifest, exact arithmetic")(
      s"""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS toks
         |           FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(toks) AS BIGINT) AS total, count(*) AS n_src FROM s)
         |SELECT source, n_docs, toks AS total_tokens,
         |       round(CAST(toks AS DOUBLE) / total, 6) AS actual_share,
         |       round((1.0 / n_src) / (CAST(toks AS DOUBLE) / total), 6) AS weight
         |FROM s, t
         |""".stripMargin) { (s, dir) =>
      TextOps.mixtureWeights(Tables.documents(s, dir), col("source"), col("text"))
    },

    // ----- SemDeDup: cell-pruned semantic dedup over embeddings
    QueryDef("x32_semantic_dedup",
      "SemDeDup: corpus in corpus-scaled ceil(sqrt(n)) centroid cells, exact-cosine >= 0.999 pairs WITHIN a cell only, higher id of each pair dropped — cluster-pruned candidate generation")(
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
         |p AS (SELECT least(greatest(CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), 8), 65536) AS nc
         |      FROM corpus),
         |cent AS (SELECT vec_id AS cid, embedding AS c_emb FROM (
         |           SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS crn
         |           FROM corpus)
         |         WHERE crn <= (SELECT nc FROM p)),
         |sc AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      CASE WHEN ${sqNormD("e.embedding")} * ${sqNormD("c.c_emb")} = 0 THEN 0.0
         |           ELSE list_reduce(list_transform(list_zip(e.embedding, c.c_emb),
         |                  z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)
         |                / sqrt(${sqNormD("e.embedding")} * ${sqNormD("c.c_emb")}) END DESC,
         |      c.cid) AS rn
         |  FROM corpus e, cent c),
         |asg AS (SELECT vec_id, embedding, cid AS cell FROM sc WHERE rn = 1),
         |pr AS (
         |  SELECT k.vec_id,
         |    list_reduce(list_transform(list_zip(a.embedding, k.embedding),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x) AS dot,
         |    ${sqNormD("a.embedding")} AS na, ${sqNormD("k.embedding")} AS nk
         |  FROM asg a JOIN asg k ON a.cell = k.cell AND a.vec_id < k.vec_id),
         |dr AS (SELECT DISTINCT vec_id FROM pr
         |       WHERE (CASE WHEN na * nk = 0 THEN 0.0 ELSE dot / sqrt(na * nk) END) >= 0.999)
         |SELECT asg.vec_id, asg.cell, dr.vec_id IS NULL AS kept
         |FROM asg LEFT JOIN dr ON asg.vec_id = dr.vec_id
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val corpus = emb.unionAll(emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000000).as("vec_id"), col("embedding")))
      // corpus-scaled quantizer, same rationale as x15/x16: a fixed cell
      // count is the last quadratic-at-scale default in the repo
      val n = corpus.count()
      val nCells = Similarity.scaledCells(n)
      Similarity.semanticDedup(corpus, nCells = nCells, minCos = 0.999,
        knownCount = Some(n))
    },

    // ----- SemDeDup, strictly-linear candidate path (the x32 32x-probe
    // prescription): sign-LSH buckets instead of sqrt(n) centroid cells
    QueryDef("x64_semdedup_banded",
      "SemDeDup via corpus-scaled sign-LSH buckets (2 hash tables): exact-cosine >= 0.999 within-bucket pairs, higher id dropped — linear candidate volume where x32's cell route is O(n^1.5)")(
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
         |p AS (SELECT greatest(len(bin(CAST((count(*) + 31) // 32 AS BIGINT) - 1)), 1) AS nbits FROM corpus),
         |b AS (SELECT s.seed, c.vec_id, c.embedding,
         |        ${rhBucketD("c.embedding", "p.nbits", "s.seed")} AS bucket
         |      FROM corpus c CROSS JOIN p CROSS JOIN (SELECT unnest([0, 1]) AS seed) s),
         |pr AS (SELECT a.vec_id AS va, k.vec_id AS vb,
         |         ${cosD("a.embedding", "k.embedding")} AS cos
         |       FROM b a JOIN b k
         |         ON a.seed = k.seed AND a.bucket = k.bucket AND a.vec_id < k.vec_id),
         |dr AS (SELECT DISTINCT vb AS vec_id FROM pr WHERE cos >= 0.999)
         |SELECT c.vec_id, dr.vec_id IS NULL AS kept
         |FROM corpus c LEFT JOIN dr ON c.vec_id = dr.vec_id
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val corpus = emb.unionAll(emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000000).as("vec_id"), col("embedding")))
      // same one-count sizing as x16: bits grow with n, bucket
      // population stays ~constant, candidate volume stays linear
      val n = corpus.count()
      Similarity.semanticDedupBanded(corpus, n, minCos = 0.999)
    },

    // ----- end-to-end curation pipeline: dedup → quality gate → token count
    QueryDef("x17_curation_pipeline",
      "composed training-data curation: exact-dedup survivors → quality gate → token counting — one declarative plan")(
      s"""WITH $wsDupCorpusD,
         |n AS (SELECT doc_id, text, md5($normD) AS norm_key FROM corpus),
         |surv AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY norm_key),
         |d AS (SELECT n.doc_id, n.text, ' ' || $normD || ' ' AS pad
         |      FROM n JOIN surv ON n.doc_id = surv.doc_id),
         |m AS (SELECT doc_id,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |  CAST((length(pad) - length(replace(pad, ' the ', ''))) / 5
         |     + (length(pad) - length(replace(pad, ' a ', ''))) / 3
         |     + (length(pad) - length(replace(pad, ' of ', ''))) / 4
         |     + (length(pad) - length(replace(pad, ' and ', ''))) / 5 AS BIGINT) AS stop_cnt
         |  FROM d)
         |SELECT doc_id, n_tokens,
         |       round(CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio
         |FROM m
         |WHERE n_tokens BETWEEN 10 AND 1000
         |  AND CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.01
         |""".stripMargin) { (s, dir) =>
      // explicit-count repartition (the x84 pattern): the corpus feeds
      // both the dedup branch and the CPU-heavy metering branch — one
      // reused exchange, full parallelism off the single-split scans
      val corpus = wsDupCorpus(s, dir)
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      val survivors = Dedup.exact(corpus, col("doc_id"), col("text")).select("doc_id")
      val stops = Seq(" the ", " a ", " of ", " and ")
      val pad = TextOps.padded(TextOps.norm(col("text")))
      val metered = corpus.join(survivors, "doc_id")
        .select(col("doc_id"),
          TextOps.wsTokenCount(col("text")).as("n_tokens"),
          stops.map(m => TextOps.countOccurrences(pad, m)).reduce(_ + _).as("stop_cnt"))
      metered
        .select(col("doc_id"), col("n_tokens"),
          (col("stop_cnt").cast(DoubleType) / col("n_tokens").cast(DoubleType))
            .as("_ratio"))
        .filter(col("n_tokens").between(10, 1000) && col("_ratio") >= 0.01)
        .select(col("doc_id"), col("n_tokens"), round(col("_ratio"), 6).as("stop_ratio"))
    },

    // ----- language ID (marker-token argmax heuristic)
    QueryDef("x08_lang_id",
      "n-gram language-ID heuristic: per-language marker counts, deterministic argmax, accuracy flag")(
      s"""WITH n AS (SELECT doc_id, lang, ' ' || $normD || ' ' AS pad FROM documents),
         |c AS (SELECT doc_id, lang,
         |  CAST((length(pad) - length(replace(pad, ' the ', ''))) / 5 AS BIGINT) AS c_en,
         |  CAST((length(pad) - length(replace(pad, ' der ', ''))) / 5 AS BIGINT) AS c_de,
         |  CAST((length(pad) - length(replace(pad, ' le ', ''))) / 4 AS BIGINT) AS c_fr,
         |  CAST((length(pad) - length(replace(pad, ' el ', ''))) / 4 AS BIGINT) AS c_es,
         |  CAST((length(pad) - length(replace(pad, '的', ''))) / 1 AS BIGINT) AS c_zh
         |  FROM n),
         |p AS (SELECT doc_id, lang,
         |  CASE WHEN c_en >= greatest(c_de, c_fr, c_es, c_zh) THEN 'en'
         |       WHEN c_de >= greatest(c_fr, c_es, c_zh) THEN 'de'
         |       WHEN c_fr >= greatest(c_es, c_zh) THEN 'fr'
         |       WHEN c_es >= c_zh THEN 'es'
         |       ELSE 'zh' END AS pred_lang
         |  FROM c)
         |SELECT doc_id, lang, pred_lang, pred_lang = lang AS hit FROM p
         |""".stripMargin) { (s, dir) =>
      val markers = Seq("en" -> " the ", "de" -> " der ", "fr" -> " le ",
        "es" -> " el ", "zh" -> "的")
      val pad = TextOps.padded(TextOps.norm(col("text")))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextOps.langId(pad, markers).as("pred_lang"))
        .withColumn("hit", col("pred_lang") === col("lang"))
    },

    // ----- quality scoring (length / punct / stopword / case metrics)
    QueryDef("x09_quality_score",
      "per-doc quality metrics: token count, punctuation, stopword ratio, uppercase, length gate")(
      s"""WITH n AS (SELECT doc_id, n_chars, text, ' ' || $normD || ' ' AS pad FROM documents),
         |m AS (SELECT doc_id, n_chars,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct_cnt,
         |  CAST((length(pad) - length(replace(pad, ' the ', ''))) / 5
         |     + (length(pad) - length(replace(pad, ' a ', ''))) / 3
         |     + (length(pad) - length(replace(pad, ' of ', ''))) / 4
         |     + (length(pad) - length(replace(pad, ' and ', ''))) / 5 AS BIGINT) AS stop_cnt,
         |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS upper_cnt
         |  FROM n)
         |SELECT doc_id, n_tokens, punct_cnt, stop_cnt, upper_cnt,
         |       round(CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio,
         |       n_chars BETWEEN 100 AND 2000 AS len_ok
         |FROM m
         |""".stripMargin) { (s, dir) =>
      val pad = TextOps.padded(TextOps.norm(col("text")))
      val stops = Seq(" the ", " a ", " of ", " and ")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          TextOps.wsTokenCount(col("text")).as("n_tokens"),
          TextOps.charClassCount(col("text"), "[.,!?;:]").as("punct_cnt"),
          stops.map(m => TextOps.countOccurrences(pad, m)).reduce(_ + _).as("stop_cnt"),
          TextOps.charClassCount(col("text"), "[A-Z]").as("upper_cnt"))
        .select(col("doc_id"), col("n_tokens"), col("punct_cnt"), col("stop_cnt"),
          col("upper_cnt"),
          round(col("stop_cnt").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6)
            .as("stop_ratio"),
          col("n_chars").between(100, 2000).as("len_ok"))
    },

    // ----- tf-idf term statistics (top terms per document)
    QueryDef("x18_tfidf_topterms",
      "tf-idf top-5 terms per doc; rarity score tf*N/df keeps the math a single deterministic double op (no ln)")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |nn AS (SELECT count(*) AS n_docs FROM n),
         |scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |             CAST(tf.tf AS DOUBLE) * nn.n_docs / df.df AS score
         |           FROM tf JOIN df USING (term) CROSS JOIN nn)
         |SELECT doc_id, term, tf, df, round(score, 6) AS score_r FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |                              ORDER BY score DESC, term) AS rn
         |  FROM scored)
         |WHERE rn <= 5
         |""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.norm(col("text")).as("_t"))
        .select(col("doc_id"), explode(split(col("_t"), " ")).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = toks.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, "term").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          (col("tf").cast(DoubleType) * col("n_docs") / col("df")).as("score"))
      graft.ops.TopK.perGroup(scored, Seq(col("doc_id")),
          Seq(col("score").desc, col("term")), 5)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("score"), 6).as("score_r"))
    },

    // ----- token counting (whitespace + BPE-ish regex)
    QueryDef("x10_token_count",
      "whitespace token count + BPE-style pre-tokenizer regex count per document")(
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        |  CAST(length(text) AS BIGINT) AS chars
        |FROM documents
        |""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.wsTokenCount(col("text")).as("ws_tokens"),
          TextOps.regexTokenCount(col("text")).as("bpe_tokens"),
          length(col("text")).cast(LongType).as("chars"))
    },

    // ----- document fingerprint (rolling polynomial hash)
    QueryDef("x11_fingerprint",
      "rolling polynomial content hash (acc*31+cp mod 1e9+7) — engine-portable exact dedup key")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents)
         |SELECT doc_id,
         |  ${charFoldD("t")} AS fp
         |FROM n
         |""".stripMargin) { (s, dir) =>
      // staged: norm materialized once per row, then the per-char fold
      // reads the materialized string (HOFs are interpreted — an inlined
      // norm would re-run its regex per character)
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.norm(col("text")).as("_t"))
        .select(col("doc_id"), TextOps.fingerprint(col("_t")).as("fp"))
    },

    // ----- PII detection + C4-style scrub (emails/URLs → placeholder tokens)
    QueryDef("x19_pii_scrub",
      "count email/URL patterns per doc and fingerprint the scrubbed text — dialect-neutral regexes, planted PII rows")(
      s"""WITH corpus AS (
         |  SELECT doc_id, text ||
         |    CASE doc_id % 5 WHEN 0 THEN ' contact bob.smith@example.com or ann@mail.co'
         |                    WHEN 1 THEN ' see https://example.com/data?x=1 now'
         |                    ELSE '' END AS text
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextOps.EmailPattern}')) AS BIGINT) AS emails,
         |  CAST(len(regexp_extract_all(text, '${TextOps.UrlPattern}')) AS BIGINT) AS urls,
         |  regexp_replace(regexp_replace(text, '${TextOps.UrlPattern}', '<URL>', 'g'),
         |                 '${TextOps.EmailPattern}', '<EMAIL>', 'g') AS scrubbed
         |  FROM corpus)
         |SELECT doc_id, emails, urls,
         |  list_reduce([ord(substr(scrubbed, i, 1)) FOR i IN range(1, len(scrubbed)+1)]::BIGINT[],
         |              (acc, x) -> (acc * 31 + x) % 1000000007) AS scrub_fp
         |FROM m
         |""".stripMargin) { (s, dir) =>
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, " contact bob.smith@example.com or ann@mail.co")
            .when(col("doc_id") % 5 === 1, " see https://example.com/data?x=1 now")
            .otherwise("")).as("text"))
      corpus
        .select(col("doc_id"),
          TextOps.patternCount(col("text"), TextOps.EmailPattern).as("emails"),
          TextOps.patternCount(col("text"), TextOps.UrlPattern).as("urls"),
          TextOps.scrub(TextOps.scrub(col("text"), TextOps.UrlPattern, "<URL>"),
            TextOps.EmailPattern, "<EMAIL>").as("_scrubbed"))
        .select(col("doc_id"), col("emails"), col("urls"),
          TextOps.fingerprint(col("_scrubbed")).as("scrub_fp"))
    },

    // ----- Gopher/C4 repetition signal (top-bigram share of occurrences)
    QueryDef("x20_repetition",
      "boilerplate signal: most-frequent word-bigram's share of all bigram occurrences — exact counts, map-side combinable")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM n),
         |tok AS (SELECT doc_id,
         |  CASE WHEN len(ws) >= 2 THEN [ws[i] || '_' || ws[i+1] FOR i IN range(1, len(ws))]
         |       ELSE ws END AS toks FROM w),
         |e AS (SELECT doc_id, unnest(toks) AS bigram FROM tok),
         |c AS (SELECT doc_id, bigram, count(*) AS c FROM e GROUP BY 1, 2),
         |a AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS total_c
         |      FROM c GROUP BY 1)
         |SELECT doc_id, top_c, total_c,
         |       round(CAST(top_c AS DOUBLE) / CAST(total_c AS DOUBLE), 6) AS rep_share
         |FROM a
         |""".stripMargin) { (s, dir) =>
      TextOps.repetition(Tables.documents(s, dir), col("doc_id"), col("text"))
    },

    // ----- context-window chunking (token windows with overlap)
    QueryDef("x25_chunking",
      "overlapping 50-token windows every 40 tokens per doc — context-window packing; chunk content fingerprinted for the compare")(
      s"""WITH n AS (SELECT doc_id, string_split($normD, ' ') AS ws FROM documents),
         |c AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws), 1), 40)) AS st FROM n),
         |ch AS (SELECT doc_id, st // 40 AS chunk_id, ws[st+1 : st+50] AS chunk FROM c)
         |SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_tokens,
         |  ${charFoldD("t")} AS chunk_fp
         |FROM (SELECT doc_id, chunk_id, array_to_string(chunk, ' ') AS t, chunk FROM ch)
         |""".stripMargin) { (s, dir) =>
      TextOps.chunk(Tables.documents(s, dir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
          TextOps.fingerprint(col("chunk_text")).as("chunk_fp"))
    },

    // ----- GPT-style sequence packing (sharded token stream → fixed cuts)
    QueryDef("x26_packing",
      "pack the corpus token stream into 128-token training sequences within 8 hash shards — sharded window cumsum, exact span arithmetic at the cuts")(
      s"""WITH n AS (SELECT doc_id, doc_id % 8 AS shard,
         |                  len(string_split($normD, ' ')) AS n_tok FROM documents),
         |o AS (SELECT doc_id, shard, n_tok,
         |             sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS e FROM n),
         |s AS (SELECT doc_id, shard, CAST(e - n_tok AS BIGINT) AS st,
         |             CAST(e AS BIGINT) AS e FROM o WHERE n_tok > 0),
         |x AS (SELECT doc_id, shard, st, e,
         |             unnest(range(st // 128, (e - 1) // 128 + 1)) AS seq_id FROM s)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
         |       CAST(least(e, (seq_id + 1) * 128) - greatest(st, seq_id * 128) AS BIGINT)
         |         AS n_tok_in_seq
         |FROM x
         |""".stripMargin) { (s, dir) =>
      TextOps.pack(Tables.documents(s, dir), col("doc_id"), col("text"))
    },

    // ----- bigram-LM quality score (CCNet-style perplexity proxy)
    QueryDef("x27_lm_score",
      "corpus-trained bigram LM, per-doc mean log-prob — exact count model, position-ordered left-fold sum")(
      s"""WITH n AS (SELECT doc_id, string_split($normD, ' ') AS ws FROM documents),
         |w AS (SELECT doc_id, ws FROM n WHERE len(ws) >= 2),
         |ix AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w),
         |b AS (SELECT doc_id, i AS pos, ws[i] AS w1, ws[i] || '_' || ws[i+1] AS bg FROM ix),
         |c2 AS (SELECT bg, count(*) AS c2 FROM b GROUP BY 1),
         |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
         |l AS (SELECT doc_id, pos, ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) AS lp
         |      FROM b JOIN c2 USING (bg) JOIN c1 USING (w1))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       round(list_reduce(list(lp ORDER BY pos), (a, x) -> a + x) / count(*), 6)
         |         AS lm_score
         |FROM l GROUP BY doc_id
         |""".stripMargin) { (s, dir) =>
      TextOps.lmScore(Tables.documents(s, dir), col("doc_id"), col("text"))
    },

    // ----- benchmark decontamination (n-gram overlap vs a benchmark set)
    QueryDef("x24_decontamination",
      "per-doc 20-char-shingle overlap with a broadcast benchmark set + contamination flag — the pre-training decontamination sweep")(
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |${shinglesKD(20)},
         |bs AS (SELECT DISTINCT unnest(shingles) AS h FROM sh WHERE doc_id < 3),
         |d AS (SELECT doc_id, unnest(shingles) AS h FROM sh),
         |o AS (SELECT d.doc_id, count(*) AS n_overlap
         |      FROM d JOIN bs USING (h) GROUP BY 1)
         |SELECT doc_id, n_overlap, n_overlap >= 10 AS contaminated FROM o
         |""".stripMargin) { (s, dir) =>
      // the benchmark side of a decontamination sweep is small (eval-set
      // n-grams) → broadcast; the corpus side stays a narrow explode +
      // one doc-keyed count. Shingle lists are distinct per doc, so the
      // join count IS the intersection size. 20-char shingles ≈ 3-4-word
      // n-grams: at sf0.01, 7-char shingles flag 95% of the corpus
      // (stopword collisions) while k=20/threshold 10 flags exactly the
      // benchmark docs + near-verbatim copies — a discriminating sweep.
      val sh = Dedup.stagedShingles(Tables.documents(s, dir),
          col("doc_id"), col("text"), k = 20)
        .withColumnRenamed("_id", "doc_id")
        .persist() // read twice: benchmark side and corpus side
      val bench = sh.filter(col("doc_id") < 3)
        .select(explode(col("_sh")).as("h")).distinct()
      sh.select(col("doc_id"), explode(col("_sh")).as("h"))
        .join(broadcast(bench), "h")
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        .select(col("doc_id"), col("n_overlap"),
          (col("n_overlap") >= 10).as("contaminated"))
    },

    // ----- bloom-gated decontamination emitting the clean corpus
    QueryDef("x28_bloom_decontam",
      "clean-corpus sweep: Bloom pre-gate (Spark sketch expression) on corpus shingles, exact-join FP removal, docs under the overlap threshold survive with token budget")(
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |${shinglesKD(20)},
         |bs AS (SELECT DISTINCT unnest(shingles) AS h FROM sh WHERE doc_id < 3),
         |d AS (SELECT doc_id, unnest(shingles) AS h FROM sh),
         |o AS (SELECT d.doc_id, count(*) AS n_overlap
         |      FROM d JOIN bs USING (h) GROUP BY 1)
         |SELECT c.doc_id, CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
         |       CAST(len(string_split_regex(trim(c.text), '\\s+')) AS BIGINT) AS n_tokens
         |FROM corpus c LEFT JOIN o ON c.doc_id = o.doc_id
         |WHERE coalesce(o.n_overlap, 0) < 10
         |""".stripMargin) { (s, dir) =>
      // the oracle has no bloom (it joins exactly) — the result is
      // identical BY CONSTRUCTION because the bloom only pre-gates the
      // exact join's input; any false positive is removed by the join
      val docs = Tables.documents(s, dir)
      graft.dedup.Decontam.cleanCorpus(
        docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") < 3), col("doc_id"), col("text"))
    },

    // ----- fuzzy decontamination (overlap fraction + longest matched span)
    QueryDef("x38_fuzzy_decontam",
      "per-doc word-8-gram overlap FRACTION vs a benchmark set + longest consecutive matched run (gaps-and-islands) — the PaLM/Llama-style contamination test; corpus side explodes once, only matched grams reach the per-doc window")(
      s"""WITH $tailDupCorpusD,
         |n AS (SELECT doc_id, string_split($normD, ' ') AS ws FROM corpus),
         |w AS (SELECT doc_id, ws FROM n WHERE len(ws) >= 8),
         |p AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS pos FROM w),
         |sg AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+7], ' ') AS gs FROM p),
         |h AS (SELECT doc_id, pos, ${charFoldD("gs")} AS h FROM sg),
         |bs AS (SELECT DISTINCT h, true AS b FROM h WHERE doc_id < 3),
         |m AS (SELECT h.doc_id, h.pos, coalesce(bs.b, false) AS hit
         |      FROM h LEFT JOIN bs USING (h)),
         |t AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         |             CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |      FROM m GROUP BY 1),
         |r AS (SELECT doc_id,
         |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |      FROM m WHERE hit),
         |c AS (SELECT doc_id, isl, count(*) AS run FROM r GROUP BY 1, 2),
         |mr AS (SELECT doc_id, max(run) AS max_run FROM c GROUP BY 1)
         |SELECT t.doc_id, t.n_ngrams, t.n_hit,
         |       round(CAST(t.n_hit AS DOUBLE) / t.n_ngrams, 6) AS hit_frac,
         |       CAST(coalesce(mr.max_run, 0) AS BIGINT) AS max_run,
         |       (CAST(t.n_hit AS DOUBLE) / t.n_ngrams >= 0.7
         |        OR coalesce(mr.max_run, 0) >= 20) AS contaminated
         |FROM t LEFT JOIN mr USING (doc_id)
         |""".stripMargin) { (s, dir) =>
      // tail-dup corpus: the +10000 copies of the bench docs are the
      // planted near-verbatim contamination (long matched runs, frac
      // just under 1.0) that the exact count-threshold sweep can't
      // distinguish from scattered collisions
      val c = tailDupCorpus(s, dir)
      graft.dedup.Decontam.fuzzyOverlap(
        c, col("doc_id"), col("text"),
        c.filter(col("doc_id") < 3), col("doc_id"), col("text"))
    },

    // ----- duplicate-n-gram fraction (RefinedWeb/Gopher repetition filter)
    QueryDef("x29_dup_ngrams",
      "per-doc fraction of word 8-grams occurring >= 2x corpus-wide — hashes shuffle, text never does")(
      s"""WITH n AS (SELECT doc_id, string_split($normD, ' ') AS ws FROM documents),
         |w AS (SELECT doc_id, ws FROM n WHERE len(ws) >= 8),
         |g AS (SELECT doc_id, unnest([
         |    list_reduce([ord(substr(s, j, 1)) FOR j IN range(1, len(s)+1)]::BIGINT[],
         |                (acc, x) -> (acc * 31 + x) % 1000000007)
         |    FOR s IN [array_to_string(ws[i:i+7], ' ') FOR i IN range(1, len(ws) - 6)]]) AS h
         |  FROM w),
         |c AS (SELECT h, count(*) AS ch FROM g GROUP BY 1),
         |j AS (SELECT doc_id, ch FROM g JOIN c USING (h))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         |       CAST(sum(CASE WHEN ch >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_ngrams,
         |       round(CAST(sum(CASE WHEN ch >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*), 6) AS dup_frac
         |FROM j GROUP BY doc_id
         |""".stripMargin) { (s, dir) =>
      TextOps.dupNgramStats(Tables.documents(s, dir), col("doc_id"), col("text"))
    },

    // ----- DSIR importance weights (target-vs-raw hashed n-gram LLR)
    QueryDef("x39_dsir_weights",
      "DSIR data selection: per-doc log importance weight under hashed unigram+bigram bag models (target = lang 'en' docs vs the raw corpus), Laplace-smoothed, mean-LLR selection — bucket models bounded at m rows, ordered-fold double sum")(
      s"""WITH n AS (SELECT doc_id, lang, string_split($normD, ' ') AS ws FROM documents),
         |u AS (SELECT doc_id, lang, ws, unnest(range(1, len(ws)+1)) AS wp FROM n),
         |uf AS (SELECT doc_id, lang, wp AS pos, ${charFoldD("ws[wp]")} % 1024 AS f FROM u),
         |b AS (SELECT doc_id, lang, ws, len(ws) AS L, unnest(range(1, len(ws))) AS wp
         |      FROM n WHERE len(ws) >= 2),
         |bf AS (SELECT doc_id, lang, L + wp AS pos,
         |       ${charFoldD("ws[wp] || '_' || ws[wp+1]")} % 1024 AS f FROM b),
         |feats AS (SELECT doc_id, lang, pos, f FROM uf
         |          UNION ALL SELECT doc_id, lang, pos, f FROM bf),
         |q AS (SELECT f, count(*) AS qc FROM feats GROUP BY 1),
         |p AS (SELECT f, count(*) AS pc FROM feats WHERE lang = 'en' GROUP BY 1),
         |qt AS (SELECT count(*) AS qtot FROM feats),
         |pt AS (SELECT count(*) AS ptot FROM feats WHERE lang = 'en'),
         |lr AS (SELECT q.f,
         |         ln(CAST(coalesce(p.pc, 0) + 1 AS DOUBLE) / (pt.ptot + 1024))
         |       - ln(CAST(q.qc + 1 AS DOUBLE) / (qt.qtot + 1024)) AS lr
         |       FROM q LEFT JOIN p USING (f), qt, pt),
         |s AS (SELECT doc_id, pos, lr FROM feats JOIN lr USING (f)),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |             list_reduce(list(lr ORDER BY pos), (a, x) -> a + x) AS sm
         |      FROM s GROUP BY doc_id)
         |SELECT doc_id, n_feats, round(sm, 6) AS log_w,
         |       round(sm / n_feats, 6) AS dsir_score,
         |       (sm / n_feats >= 0.0) AS selected
         |FROM a
         |""".stripMargin) { (s, dir) =>
      // target = the English slice of the same corpus: "select docs
      // that look like the target distribution" with a verifiable
      // ground truth (en docs should dominate selected = true)
      val docs = Tables.documents(s, dir)
      TextOps.dsirWeights(docs, col("doc_id"), col("text"),
        docs.filter(col("lang") === "en"), col("text"))
    },

    // ----- character-entropy quality signal (gibberish / degenerate repetition)
    QueryDef("x42_char_entropy",
      "per-doc Shannon entropy of the normalized char distribution (exact counts, code-point-ordered term fold) + low-entropy flag — the gibberish/repetition detector; two hash aggs, no window")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |ix AS (SELECT doc_id, t, unnest(range(1, len(t)+1)) AS i FROM n),
         |ch AS (SELECT doc_id, substr(t, i, 1) AS ch FROM ix),
         |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_norm,
         |             CAST(count(*) AS BIGINT) AS n_distinct_chars
         |      FROM c GROUP BY 1),
         |tm AS (SELECT c.doc_id, c.ch,
         |         -(CAST(c.c AS DOUBLE) / a.n_chars_norm
         |           * ln(CAST(c.c AS DOUBLE) / a.n_chars_norm)) AS t
         |       FROM c JOIN a USING (doc_id)),
         |e AS (SELECT doc_id, list_reduce(list(t ORDER BY ch), (acc, x) -> acc + x) AS h
         |      FROM tm GROUP BY 1)
         |SELECT a.doc_id, a.n_chars_norm, a.n_distinct_chars,
         |       round(e.h, 6) AS entropy, e.h < 2.0 AS low_entropy
         |FROM a JOIN e USING (doc_id)
         |""".stripMargin) { (s, dir) =>
      TextOps.charEntropy(Tables.documents(s, dir), col("doc_id"), col("text"))
    },

    // ----- deterministic global training order (reproducible epoch shuffle)
    QueryDef("x44_train_order",
      "dense global permutation seq in (content-hash, doc_id) order — reproducible epoch shuffle, computed by bucketed two-phase ranking (offsets + within-bucket row_number), never a global one-task sort")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |h AS (SELECT doc_id, ${charFoldD("t")} AS hk FROM n)
         |SELECT doc_id,
         |       CAST(row_number() OVER (ORDER BY hk NULLS FIRST, doc_id) AS BIGINT) AS seq
         |FROM h
         |""".stripMargin) { (s, dir) =>
      TextOps.trainOrder(Tables.documents(s, dir), col("doc_id"), col("text"))
    },

    // ----- Gopher document-quality rules (exact flags + conjunction)
    QueryDef("x30_gopher_rules",
      "Gopher quality rules per doc: word bounds, mean word length, symbol ratio, alpha-word fraction, >=2 stopwords, pass flag — pure narrow projection")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |w AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM n),
         |m AS (SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(length(t) - len(ws) + 1 AS DOUBLE) / len(ws) AS mwl,
         |  CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
         |  CAST(length(t) - length(replace(t, '#', ''))
         |     + (length(t) - length(replace(t, '...', ''))) / 3 AS BIGINT) AS sym,
         |  CAST((CASE WHEN contains(' ' || t || ' ', ' the ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' a ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' of ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' and ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' to ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' in ') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
         |  FROM w),
         |f AS (SELECT doc_id, n_words, mwl, alpha_words, stop_hits,
         |  n_words BETWEEN 50 AND 100000 AS words_ok,
         |  mwl BETWEEN 3.0 AND 10.0 AS mwl_ok,
         |  CAST(sym AS DOUBLE) / n_words < 0.1 AS sym_ok,
         |  CAST(alpha_words AS DOUBLE) / n_words > 0.8 AS alpha_ok,
         |  stop_hits >= 2 AS stops_ok
         |  FROM m)
         |SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len, alpha_words,
         |       stop_hits, words_ok, mwl_ok, sym_ok, alpha_ok, stops_ok,
         |       (words_ok AND mwl_ok AND sym_ok AND alpha_ok AND stops_ok) AS passes
         |FROM f
         |""".stripMargin) { (s, dir) =>
      TextOps.gopherFlags(Tables.documents(s, dir), col("doc_id"), col("text"))
    },

    // ----- curation funnel with per-document rejection attribution:
    // the report a curation run publishes (which gate cost how much).
    // Stage order = the streaming chain's: encoding hygiene → exact
    // dedup (first-wins among hygiene survivors) → Gopher rules.
    // Plants: %11 docs get a U+FFFD (unicode reject), %13 docs are
    // truncated to 10 words (Gopher words_ok reject), %9 docs get a
    // whitespace-mangled copy (exact-dup reject for the copy).
    QueryDef("x69_curation_funnel",
      "per-doc curation funnel attribution: first failed stage of unicode-hygiene -> exact-dedup -> Gopher, or 'kept' — each stage evaluated only on the prior stage's survivors, all narrow projections + one digest agg")(
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 0 THEN text || ' ' || chr(65533)
         |         WHEN doc_id % 13 = 0 THEN array_to_string(string_split($normD, ' ')[1:10], ' ')
         |         ELSE text END AS text
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000 AS doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS text
         |  FROM documents WHERE doc_id % 9 = 0),
         |u AS (SELECT doc_id, text,
         |  (length(text) - length(replace(text, chr(65533), '')))
         |  + len(regexp_extract_all(text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]'))
         |  + (length(text) - length(replace(replace(text, chr(195), ''), chr(194), ''))) = 0 AS uok
         |  FROM corpus),
         |pu AS (SELECT doc_id, text FROM u WHERE uok),
         |sv AS (SELECT min(doc_id) AS doc_id FROM pu
         |       GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))),
         |ps AS (SELECT pu.doc_id, pu.text, sv.doc_id IS NOT NULL AS sok
         |       FROM pu LEFT JOIN sv ON pu.doc_id = sv.doc_id),
         |gn AS (SELECT doc_id, $normD AS t FROM ps WHERE sok),
         |gw AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM gn),
         |gm AS (SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(length(t) - len(ws) + 1 AS DOUBLE) / len(ws) AS mwl,
         |  CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
         |  CAST(length(t) - length(replace(t, '#', ''))
         |     + (length(t) - length(replace(t, '...', ''))) / 3 AS BIGINT) AS sym,
         |  CAST((CASE WHEN contains(' ' || t || ' ', ' the ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' a ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' of ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' and ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' to ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' in ') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
         |  FROM gw),
         |g AS (SELECT doc_id,
         |  (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
         |  AND (CAST(sym AS DOUBLE) / n_words < 0.1)
         |  AND (CAST(alpha_words AS DOUBLE) / n_words > 0.8)
         |  AND (stop_hits >= 2) AS passes
         |  FROM gm)
         |SELECT doc_id, 'unicode' AS stage FROM u WHERE NOT uok
         |UNION ALL
         |SELECT doc_id, 'exact_dup' AS stage FROM ps WHERE NOT sok
         |UNION ALL
         |SELECT doc_id, CASE WHEN passes THEN 'kept' ELSE 'gopher' END AS stage FROM g
         |""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val base = d.select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" \uFFFD")))
          .when(col("doc_id") % 13 === 0,
            concat_ws(" ", slice(split(TextOps.norm(col("text")), " "), 1, 10)))
          .otherwise(col("text")).as("text"))
      val copies = d.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 10000000).as("doc_id"),
          concat(lit(" "), regexp_replace(col("text"), " ", "  "), lit(" ")).as("text"))
      val corpus = base.unionAll(copies)
      val uni = TextOps.unicodeGate(corpus, col("doc_id"), col("text"))
        .select(col("doc_id"), col("keep").as("_uok"))
      val withU = corpus.join(uni, "doc_id")
      val passU = withU.filter(col("_uok")).select("doc_id", "text")
      val surv = Dedup.exact(passU, col("doc_id"), col("text"))
        .select(col("doc_id"), lit(true).as("_surv"))
      val withS = passU.join(surv, Seq("doc_id"), "left")
      val gop = TextOps.gopherFlags(withS.filter(col("_surv")),
          col("doc_id"), col("text"))
        .select(col("doc_id"), col("passes").as("_gok"))
      withU.filter(!col("_uok")).select(col("doc_id"), lit("unicode").as("stage"))
        .unionAll(withS.filter(col("_surv").isNull)
          .select(col("doc_id"), lit("exact_dup").as("stage")))
        .unionAll(gop.select(col("doc_id"),
          when(col("_gok"), "kept").otherwise("gopher").as("stage")))
    },

    // ----- deterministic train/val/test split manifest
    QueryDef("x31_split_assign",
      "hash-based train/val/test assignment (fingerprint mod 100: 80/10/10) + per-(split, lang) doc and token budget — engine-portable, row-order immune")(
      s"""WITH n AS (SELECT doc_id, lang, text, $normD AS t FROM documents),
         |h AS (SELECT lang, text,
         |  ${charFoldD("t")} % 100 AS hb
         |  FROM n),
         |s AS (SELECT lang,
         |  CASE WHEN hb < 80 THEN 'train' WHEN hb < 90 THEN 'val' ELSE 'test' END AS split,
         |  len(string_split_regex(trim(text), '\\s+')) AS tok
         |  FROM h)
         |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(tok) AS BIGINT) AS total_tokens
         |FROM s GROUP BY 1, 2
         |""".stripMargin) { (s, dir) =>
      TextOps.splitAssign(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("lang"))
    },

    // ----- train→eval contamination report: x31's split rule × x03's
    // verified near-dup pairs, oriented train-side → eval-side
    QueryDef("x67_split_leakage",
      "split-leakage audit (the GPT-3/PaLM overlap analysis): near-dup pairs with exactly one member in train; each contaminated val/test doc reported with its train near-dup count and best Jaccard")(
      s"""WITH $tailDupCorpusD,
         |$candidatesD,
         |jac AS (SELECT c.doc_a, c.doc_b,
         |  round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |        / CAST(len(x.shingles) + len(y.shingles)
         |               - len(list_intersect(x.shingles, y.shingles)) AS DOUBLE), 6) AS jaccard
         |  FROM cand c
         |  JOIN sh x ON x.doc_id = c.doc_a
         |  JOIN sh y ON y.doc_id = c.doc_b),
         |sp AS (SELECT doc_id,
         |  CASE WHEN ${charFoldD("t")} % 100 < 80 THEN 'train'
         |       WHEN ${charFoldD("t")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM n),
         |jl AS (SELECT j.doc_a, j.doc_b, j.jaccard, a.split AS split_a, b.split AS split_b
         |       FROM jac j
         |       JOIN sp a ON a.doc_id = j.doc_a
         |       JOIN sp b ON b.doc_id = j.doc_b
         |       WHERE j.jaccard >= 0.5
         |         AND ((a.split = 'train') <> (b.split = 'train')))
         |SELECT CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END AS doc_id,
         |       CASE WHEN split_a = 'train' THEN split_b ELSE split_a END AS split,
         |       CAST(count(*) AS BIGINT) AS n_train_dups,
         |       max(jaccard) AS max_jaccard
         |FROM jl GROUP BY 1, 2
         |""".stripMargin) { (s, dir) =>
      Dedup.splitLeakage(tailDupCorpus(s, dir), col("doc_id"), col("text"),
        minJaccard = 0.5)
    },

    // ----- deterministic stratified sampling (language-balanced quota)
    QueryDef("x21_stratified_sample",
      "language-balanced corpus sample: top-40 docs per lang by content-hash order — deterministic pseudo-random quota sampling, two-phase top-K")(
      s"""WITH n AS (SELECT doc_id, lang, $normD AS t FROM documents),
         |h AS (SELECT doc_id, lang,
         |  ${charFoldD("t")} AS hk
         |  FROM n)
         |SELECT doc_id, lang, hk FROM (
         |  SELECT doc_id, lang, hk,
         |         row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
         |  FROM h)
         |WHERE rn <= 40
         |""".stripMargin) { (s, dir) =>
      // content-hash order is a deterministic stand-in for a random
      // permutation (same idea as hash-based train/test splits): every
      // engine and every run selects the same per-language quota, unlike
      // Bernoulli sampleBy whose RNG stream is engine-specific
      val h = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextOps.norm(col("text")).as("_t"))
        .select(col("doc_id"), col("lang"), TextOps.fingerprint(col("_t")).as("hk"))
      graft.ops.TopK.perGroup(h, Seq(col("lang")), Seq(col("hk"), col("doc_id")), 40)
        .select("doc_id", "lang", "hk")
    },

    // ----- quantile sketch with exactness tolerance gate (t-digest analog of x12)
    QueryDef("x22_quantile_sketch",
      "exact interpolated p50/p95 per event_type (cents) + approx_percentile within-2% gate — the quantile member of the sketch family")(
      s"""SELECT event_type,
         |       round(quantile_cont(vc, 0.5), 4) AS p50,
         |       round(quantile_cont(vc, 0.95), 4) AS p95,
         |       TRUE AS sketch_ok
         |FROM (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events)
         |GROUP BY 1
         |""".stripMargin) { (s, dir) =>
      // Exact interpolated percentile WITHOUT a per-group value buffer:
      // Spark's percentile() is an ObjectHashAggregate holding every
      // group value in memory — the whole corpus in 5 buffers at 100 TB.
      // Instead: counts per DISTINCT value (map-side combinable hash
      // aggregate), then a cumulative-count window over the ordered
      // distinct values — a spillable sort, never an in-memory buffer.
      // The value at 0-based rank i is the unique row whose occupied
      // rank range [_cum - _c, _cum) contains i; quantile_cont's rank
      // r = p·(n-1) interpolates between ranks floor(r) and ceil(r).
      // The sketch side (percentile_approx, bounded GK state) ships at
      // scale and is gated within 2% like x12's HLL.
      import org.apache.spark.sql.expressions.Window
      val vals = Tables.events(s, dir)
        .select(col("event_type"), graft.ops.Norms.cents(col("value")).as("vc"))
      val cnt = vals.groupBy("event_type", "vc").agg(count(lit(1)).as("_c"))
      val ranked = cnt
        .withColumn("_cum", sum(col("_c"))
          .over(Window.partitionBy(col("event_type")).orderBy(col("vc"))))
        .withColumn("_n", sum(col("_c"))
          .over(Window.partitionBy(col("event_type"))))
      def interp(p: Double, out: String): Seq[org.apache.spark.sql.Column] = {
        val r = lit(p) * (col("_n") - 1).cast(DoubleType)
        def at(idx: org.apache.spark.sql.Column) = // the one row whose rank range contains idx
          max(when(col("_cum") - col("_c") <= idx && idx < col("_cum"), col("vc")))
        Seq(at(floor(r)).as(s"_lo$out"), at(ceil(r)).as(s"_hi$out"),
          max(r - floor(r)).as(s"_f$out")) // constant per group
      }
      val approx = vals.groupBy("event_type")
        .agg(percentile_approx(col("vc"), lit(0.5), lit(1000)).as("_a50"))
      val aggs = interp(0.5, "50") ++ interp(0.95, "95")
      ranked.groupBy("event_type")
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("_p50", col("_lo50").cast(DoubleType)
          + col("_f50") * (col("_hi50") - col("_lo50")).cast(DoubleType))
        .withColumn("_p95", col("_lo95").cast(DoubleType)
          + col("_f95") * (col("_hi95") - col("_lo95")).cast(DoubleType))
        .join(broadcast(approx), Seq("event_type"))
        .select(col("event_type"),
          round(col("_p50"), 4).as("p50"),
          round(col("_p95"), 4).as("p95"),
          // abs() on the tolerance side too (a negative median would
          // otherwise make the gate unsatisfiable), PLUS half the
          // lo/hi rank gap: percentile_approx returns an actual data
          // value, so on a coarse small group no data-valued answer can
          // sit closer to the INTERPOLATED quantile than half the
          // spacing between the straddling ranks — without this term
          // the gate flags correct sketches on sparse groups
          (abs(col("_a50") - col("_p50")) <= abs(col("_p50")) * 0.02
            + (col("_hi50") - col("_lo50")).cast(DoubleType) / 2).as("sketch_ok"))
    },

    // ----- distinct-user sketch (HLL) with exactness tolerance gate
    QueryDef("x12_distinct_sketch",
      "approx_count_distinct (HLL, rsd 0.01) vs exact per event_type; emits within-5% flag")(
      """SELECT event_type, count(DISTINCT user_id) AS exact_users, TRUE AS sketch_ok
        |FROM events GROUP BY event_type
        |""".stripMargin) { (s, dir) =>
      // pre-distinct the (event_type, user_id) pairs instead of mixing
      // countDistinct with approx in one agg: the mixed form plans an
      // Expand that DOUBLES every input row before the first partial
      // aggregate; this form is two plain hash aggregates (both
      // map-side combinable) with the same two shuffles and identical
      // results — approx_count_distinct is multiplicity-insensitive.
      // Nulls ride through the distinct (NOT a pre-filter, which would
      // drop an all-null group entirely); count(user_id) then mirrors
      // count(DISTINCT)'s null exclusion while keeping the group row
      val pairs = Tables.events(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
      pairs.groupBy("event_type")
        .agg(count(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users") * 0.05).as("sketch_ok"))
    },

    // ----- CCNet-style line-level boilerplate removal
    QueryDef("x36_boilerplate_lines",
      "line-level boilerplate removal: normalized line hashes in >= 5 distinct docs (planted nav header + copyright footer on every 3rd doc) struck from all docs, survivors reassembled in order — the cross-doc furniture whole-doc dedup can't touch")(
      s"""WITH corpus AS (
         |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
         |    THEN 'nav menu home about contact' || chr(10) || text ||
         |         chr(10) || 'copyright footer all rights reserved'
         |    ELSE text END AS text FROM documents),
         |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus),
         |lp AS (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS pos FROM ls),
         |ln AS (SELECT doc_id, pos, ls[pos] AS line,
         |         lower(trim(regexp_replace(ls[pos], '\\s+', ' ', 'g'))) AS t
         |       FROM lp),
         |h AS (SELECT doc_id, pos, line, ${charFoldD("t")} AS lh FROM ln),
         |bo AS (SELECT lh FROM (SELECT DISTINCT doc_id, lh FROM h)
         |       GROUP BY lh HAVING count(*) >= 5),
         |o AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |        CAST(count(*) FILTER (WHERE lh NOT IN (SELECT lh FROM bo)) AS BIGINT) AS n_kept,
         |        coalesce(array_to_string(
         |          list(line ORDER BY pos) FILTER (WHERE lh NOT IN (SELECT lh FROM bo)),
         |          chr(10)), '') AS cleaned
         |      FROM h GROUP BY doc_id)
         |SELECT doc_id, n_lines, n_kept, cleaned,
         |       ${charFoldD("cleaned")} AS cleaned_fp
         |FROM o
         |""".stripMargin) { (s, dir) =>
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("nav menu home about contact\n"), col("text"),
            lit("\ncopyright footer all rights reserved")))
          .otherwise(col("text")).as("text"))
      TextOps.removeBoilerplateLines(corpus, col("doc_id"), col("text"))
    },

    // ----- deterministic token-budget sampling per source
    QueryDef("x37_token_budget",
      "token-budget sampling: per-source running token sum in content-hash order, docs admitted while the cumulative total stays <= 600 — reproducible 'N tokens per domain' selection, no RNG state")(
      s"""WITH n AS (SELECT doc_id, source, text, $normD AS t FROM documents),
         |h AS (SELECT doc_id, source AS stratum,
         |        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |        ${charFoldD("t")} AS hk
         |      FROM n),
         |c AS (SELECT doc_id, stratum, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY stratum ORDER BY hk, doc_id) AS cum_tokens
         |      FROM h)
         |SELECT doc_id, stratum, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 600
         |""".stripMargin) { (s, dir) =>
      TextOps.tokenBudgetSample(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("source"), budget = 600L)
    },

    // ----- fuzzy-dedup ending: clusters → keep the best-quality member
    QueryDef("x46_keep_best",
      "canonical-representative dedup: LSH near-dup clusters keep their highest-token-count member (ties -> lowest id) — the keep-the-best-copy policy, vs x23's arbitrary min-id survivor")(
      s"""WITH RECURSIVE $tailDupCorpusD,
         |$candidatesD,
         |und AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM cand
         |        UNION ALL SELECT doc_b, doc_a FROM cand),
         |nodes AS (SELECT DISTINCT u AS node FROM und),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT und.u, reach.lab FROM und JOIN reach ON reach.node = und.v),
         |comp AS (SELECT node AS doc_id, min(lab) AS component
         |         FROM reach GROUP BY node),
         |tq AS (SELECT doc_id,
         |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS quality
         |       FROM corpus),
         |lab AS (SELECT tq.doc_id, coalesce(c.component, tq.doc_id) AS cluster,
         |          tq.quality
         |        FROM tq LEFT JOIN comp c ON tq.doc_id = c.doc_id),
         |k AS (SELECT cluster, doc_id AS keep_id FROM (
         |        SELECT cluster, doc_id,
         |          row_number() OVER (PARTITION BY cluster
         |                             ORDER BY quality DESC, doc_id) AS rn
         |        FROM lab) WHERE rn = 1)
         |SELECT l.doc_id, l.cluster, l.quality, l.doc_id = k.keep_id AS keep
         |FROM lab l JOIN k ON l.cluster = k.cluster
         |""".stripMargin) { (s, dir) =>
      // tail-mangled copies carry 4 extra tokens, so "most tokens wins"
      // deterministically picks the copy — the point is the policy is
      // the caller's quality column, not which member it favors here
      val corpus = tailDupCorpus(s, dir)
      val cand = Dedup.minhashCandidates(corpus, col("doc_id"), col("text"))
      Dedup.keepBest(
        corpus.select(col("doc_id"), TextOps.wsTokenCount(col("text")).as("quality")),
        col("doc_id"), col("quality"), cand)
    },

    // ----- cluster-balanced diversity sampling over embeddings
    QueryDef("x47_cell_sample",
      "cluster-balanced diversity sample: corpus-scaled IVF cells, at most 10 members kept per cell in deterministic affine-hash order — equal quota across embedding-space regions")(
      s"""WITH p AS (SELECT least(greatest(CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), 8), 65536) AS nc
         |           FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS c_emb FROM (
         |           SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS crn
         |           FROM embeddings)
         |         WHERE crn <= (SELECT nc FROM p)),
         |sc AS (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      CASE WHEN ${sqNormD("e.embedding")} * ${sqNormD("c.c_emb")} = 0 THEN 0.0
         |           ELSE list_reduce(list_transform(list_zip(e.embedding, c.c_emb),
         |                  z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)
         |                / sqrt(${sqNormD("e.embedding")} * ${sqNormD("c.c_emb")}) END DESC,
         |      c.cid) AS rn
         |  FROM embeddings e, cent c),
         |h AS (SELECT vec_id, cid AS cell,
         |        ((vec_id % 1000000007) * 1103515245 + 12345) % 1000000007 AS hk
         |      FROM sc WHERE rn = 1)
         |SELECT vec_id, cell, hk FROM (
         |  SELECT vec_id, cell, hk,
         |         row_number() OVER (PARTITION BY cell ORDER BY hk, vec_id) AS qr
         |  FROM h)
         |WHERE qr <= 10
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      // same one cheap count as x15 sizes the quantizer to the corpus
      val nCells = Similarity.scaledCells(emb.count())
      Similarity.cellBalancedSample(emb, perCell = 10, nCells = nCells)
    },

    // ----- corpus-global first-wins line dedup
    QueryDef("x48_line_dedup",
      "first-wins line dedup on the planted-furniture corpus: every normalized line survives only at its globally first (doc_id, pos) — one copy of repeated furniture remains, unlike x36 which strikes it everywhere")(
      s"""WITH corpus AS (
         |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
         |    THEN 'nav menu home about contact' || chr(10) || text ||
         |         chr(10) || 'copyright footer all rights reserved'
         |    ELSE text END AS text FROM documents),
         |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus),
         |lp AS (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS pos FROM ls),
         |ln AS (SELECT doc_id, pos, ls[pos] AS line,
         |         lower(trim(regexp_replace(ls[pos], '\\s+', ' ', 'g'))) AS t
         |       FROM lp),
         |h AS (SELECT doc_id, pos, line, ${charFoldD("t")} AS lh FROM ln),
         |k AS (SELECT doc_id, pos, line,
         |        row_number() OVER (PARTITION BY lh ORDER BY doc_id, pos) AS rn
         |      FROM h),
         |o AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |        CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
         |        coalesce(array_to_string(
         |          list(line ORDER BY pos) FILTER (WHERE rn = 1),
         |          chr(10)), '') AS cleaned
         |      FROM k GROUP BY doc_id)
         |SELECT doc_id, n_lines, n_kept, cleaned,
         |       ${charFoldD("cleaned")} AS cleaned_fp
         |FROM o
         |""".stripMargin) { (s, dir) =>
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("nav menu home about contact\n"), col("text"),
            lit("\ncopyright footer all rights reserved")))
          .otherwise(col("text")).as("text"))
      TextOps.dedupLinesFirstWins(corpus, col("doc_id"), col("text"))
    },

    // ----- cross-document repeated-span removal (Lee et al. 2022
    // ExactSubstr, token-granular): first occurrence of a duplicated
    // 8-token window survives, every other occurrence is cut out.
    // Corpus plants certain cross-doc spans (a unique-prefixed copy of
    // every tenth document's first 16 tokens) on top of the corpus's
    // natural repeats.
    QueryDef("x65_span_dedup",
      "exact-substring span dedup: 8-token windows repeated across documents are removed everywhere but their first (doc_id, start) occurrence; documents keep their unique remainder — window explode + window-text-keyed agg, no suffix array, no corpus-wide sort")(
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000 AS doc_id,
         |         'zq' || doc_id || ' wq' || doc_id || ' ' ||
         |         array_to_string(string_split($normD, ' ')[1:16], ' ') AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |n AS (SELECT doc_id, string_split($normD, ' ') AS ws FROM corpus),
         |wl AS (SELECT doc_id, ws,
         |  CASE WHEN len(ws) >= 8
         |       THEN [struct_pack(s := i, w := array_to_string(ws[i+1:i+8], ' '))
         |             FOR i IN range(0, len(ws) - 7)]
         |       ELSE []::STRUCT(s BIGINT, w VARCHAR)[] END AS wins FROM n),
         |win AS (SELECT doc_id, u.s AS s, u.w AS w, doc_id * 1048576 + u.s AS ok
         |        FROM (SELECT doc_id, unnest(wins) AS u FROM wl)),
         |dup AS (SELECT w, min(ok) AS fk FROM win
         |        GROUP BY w HAVING count(DISTINCT doc_id) > 1),
         |cv AS (SELECT DISTINCT doc_id, s + j AS p
         |       FROM win JOIN dup USING (w), range(0, 8) r(j)
         |       WHERE ok <> fk),
         |cov AS (SELECT doc_id, list(p) AS cps FROM cv GROUP BY doc_id)
         |SELECT n.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(len(cps), 0) AS BIGINT) AS n_dup_tokens,
         |       coalesce(array_to_string(list_transform(
         |         list_filter(range(0, len(ws)),
         |           i -> cps IS NULL OR NOT list_contains(cps, i)),
         |         i -> ws[i+1]), ' '), '') AS kept_text
         |FROM n LEFT JOIN cov USING (doc_id)
         |""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val injected = d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 10000000).as("doc_id"),
        concat(lit("zq"), col("doc_id"), lit(" wq"), col("doc_id"), lit(" "),
          concat_ws(" ", slice(split(TextOps.norm(col("text")), " "), 1, 16)))
          .as("text"))
      TextOps.spanDedup(d.unionAll(injected), col("doc_id"), col("text"), k = 8)
    },

    // ----- encoding-hygiene gate + NFC fixer on a corpus with planted
    // decomposed sequences, replacement chars, mojibake, and controls;
    // NFC runs through the native NfcNormalize expression (Spark has no
    // builtin normalizer) and the oracle's nfc_normalize certifies it
    QueryDef("x66_unicode_gate",
      "utf8-hygiene gate: NFC-changed flag (fixable, never rejects), U+FFFD / control-char / mojibake counters (reject), and the NFC-composed text — one narrow codegen'd projection via the native nfc_normalize expression")(
      s"""WITH corpus AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' cafe' || chr(101) || chr(769) ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0 THEN ' ' || chr(65533) ELSE '' END ||
         |    CASE WHEN doc_id % 13 = 0 THEN ' ' || chr(195) || chr(169) ELSE '' END ||
         |    CASE WHEN doc_id % 17 = 0 THEN ' x' || chr(7) || 'x' ELSE '' END AS text
         |  FROM documents),
         |m AS (SELECT doc_id, text,
         |  CAST(length(text) - length(replace(text, chr(65533), '')) AS BIGINT) AS n_repl,
         |  CAST(len(regexp_extract_all(text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]')) AS BIGINT) AS n_ctrl,
         |  CAST(length(text) - length(replace(replace(text, chr(195), ''), chr(194), '')) AS BIGINT) AS n_moji
         |  FROM corpus)
         |SELECT doc_id, nfc_normalize(text) <> text AS nfc_changed,
         |       n_repl, n_ctrl, n_moji,
         |       (n_repl = 0 AND n_ctrl = 0 AND n_moji = 0) AS keep,
         |       nfc_normalize(text) AS nfc_text
         |FROM m
         |""".stripMargin) { (s, dir) =>
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" cafe\u0065\u0301")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" \uFFFD")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit(" \u00c3\u00a9")).otherwise(lit("")),
          when(col("doc_id") % 17 === 0, lit(" x\u0007x")).otherwise(lit("")))
          .as("text"))
      TextOps.unicodeGate(corpus, col("doc_id"), col("text"))
    },

    // ----- data-constrained epoch planning (Muennighoff 2023 ~4-epoch
    // knee): uniform per-source target vs available unique tokens
    QueryDef("x73_epoch_plan",
      "repetition/epoch budget table: per-source unique tokens vs a uniform share of a 100K-token budget, epochs capped at 4 with the unfilled deficit reported — one map-side agg + a broadcast 1-row source count")(
      s"""WITH s AS (SELECT source, CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS toks
         |           FROM documents GROUP BY 1),
         |t AS (SELECT count(*) AS n_src FROM s),
         |e AS (SELECT source, toks,
         |  100000.0 / n_src AS target,
         |  CASE WHEN toks = 0 THEN 0.0 ELSE (100000.0 / n_src) / CAST(toks AS DOUBLE) END AS eraw,
         |  least(100000.0 / n_src, 4.0 * CAST(toks AS DOUBLE)) AS fill
         |  FROM s, t)
         |SELECT source, toks AS total_tokens,
         |  round(target, 6) AS target_tokens,
         |  round(eraw, 6) AS epochs_raw,
         |  round(least(eraw, 4.0), 6) AS epochs,
         |  round(fill, 6) AS fill_tokens,
         |  round(target - fill, 6) AS deficit_tokens,
         |  eraw > 4.0 AS capped
         |FROM e
         |""".stripMargin) { (s, dir) =>
      TextOps.epochPlan(Tables.documents(s, dir), col("source"), col("text"),
        budgetTokens = 100000L)
    },

    // ----- fasttext-shaped hashed linear classifier, TRAINED weights:
    // NB log-count-ratio + integer batch-perceptron on a Gopher-labeled
    // fixture (graft.TrainClassifier), persisted as a dense parquet
    // artifact BOTH engines read — the weight table itself is inside
    // the hash-compare
    QueryDef("x72_classifier_score",
      "hashed linear quality classifier: native word-bigram feature hashing, shared-weight buckets mod 4096, TRAINED integer weights (NB log-count-ratio + batch perceptron, committed parquet artifact) — order-free exact sums, one codegen'd zero-shuffle projection")(
      s"""WITH ${tokenHashesD("documents")},
         |$classifierFeatsD,
         |wt AS (SELECT list(weight ORDER BY bucket) AS wv
         |       FROM read_parquet('${graft.text.Classifier.DefaultWeightsPath}')),
         |sc AS (SELECT doc_id, CAST(len(hx) AS BIGINT) AS n_feats,
         |  CAST(CASE WHEN len(hx) = 0 THEN 0
         |       ELSE list_sum([wv[(h % ${graft.text.Classifier.Dim}) + 1] FOR h IN hx]) END AS BIGINT) AS wsum
         |  FROM fx, wt)
         |SELECT doc_id, n_feats, wsum,
         |  round(CASE WHEN n_feats = 0 THEN 0.0 ELSE CAST(wsum AS DOUBLE) / (n_feats * 1000.0) END, 6) AS score,
         |  wsum >= 0 AS keep
         |FROM sc
         |""".stripMargin) { (s, dir) =>
      TextOps.classifierScore(Tables.documents(s, dir), col("doc_id"), col("text"),
        graft.text.Classifier.loadWeights(s))
    },

    // ----- HTML→text extraction gate (plants: wrapped page, entity
    // tail, mostly-script page, comment injection — each derived
    // deterministically from doc_id in BOTH engines)
    QueryDef("x70_html_extract",
      "HTML→text extraction gate: strip script/style/comments/tags, decode entities (amp last), collapse whitespace, keep on extracted-to-raw length ratio — one codegen'd zero-shuffle projection, RE2-exact patterns")(
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 3 THEN '<script>' || repeat('var v = 0; ', 40) || '</script><p>ok</p>'
         |         WHEN doc_id % 5 = 0 THEN '<html><head><style>p{color:red}</style><title>t</title></head><body><h1>H</h1><p>' || text || '</p><script>var x=1; if(x<2){x=x+1;}</script></body></html>'
         |         ELSE text END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' &amp;amp; &lt;b&gt; &quot;x&quot;&#39;s&nbsp;.' ELSE '' END
         |    || CASE WHEN doc_id % 13 = 0 THEN ' <!-- note ' || CAST(doc_id AS VARCHAR) || ' -->' ELSE '' END AS text
         |  FROM documents),
         |e AS (SELECT doc_id, text,
         |  regexp_replace(regexp_replace(regexp_replace(
         |    replace(replace(replace(replace(replace(replace(
         |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |        '(?is)<script[^>]*>.*?</script[ \\t\\n\\r\\f]*>', ' ', 'g'),
         |        '(?is)<style[^>]*>.*?</style[ \\t\\n\\r\\f]*>', ' ', 'g'),
         |        '(?s)<!--.*?-->', ' ', 'g'),
         |        '(?i)<(br|/p|/div|/li|/tr|/h[1-6])[^>]*>', chr(10), 'g'),
         |        '<[^>]*>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
         |    '[ \\t\\r\\f]+', ' ', 'g'),
         |    '[ ]*\\n[ \\n]*', chr(10), 'g'),
         |    '^[\\n ]+|[\\n ]+\\z', '', 'g') AS extracted
         |  FROM corpus)
         |SELECT doc_id, regexp_matches(text, '<[^>]*>') AS was_html, extracted,
         |       round(CAST(length(extracted) AS DOUBLE) / greatest(length(text), 1), 6) AS ratio,
         |       round(CAST(length(extracted) AS DOUBLE) / greatest(length(text), 1), 6) >= 0.05 AS keep
         |FROM e
         |""".stripMargin) { (s, dir) =>
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 11 === 3,
            concat(lit("<script>"), repeat(lit("var v = 0; "), 40),
              lit("</script><p>ok</p>")))
            .when(col("doc_id") % 5 === 0,
              concat(lit("<html><head><style>p{color:red}</style><title>t</title></head><body><h1>H</h1><p>"),
                col("text"),
                lit("</p><script>var x=1; if(x<2){x=x+1;}</script></body></html>")))
            .otherwise(col("text")),
          when(col("doc_id") % 7 === 0,
            lit(" &amp;amp; &lt;b&gt; &quot;x&quot;&#39;s&nbsp;.")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            concat(lit(" <!-- note "), col("doc_id").cast(StringType), lit(" -->")))
            .otherwise(lit(""))).as("text"))
      TextOps.htmlExtract(corpus, col("doc_id"), col("text"))
    },

    // ----- C4 line-and-page cleaning (Raffel et al. 2020 rules)
    QueryDef("x49_c4_clean",
      "C4 cleaning on a sentence-split corpus with planted violations: lines must end in terminal punctuation, carry >= 5 words, and not mention javascript; pages fail on lorem ipsum / curly braces / < 3 kept lines — the line-grain companion to x30's doc-grain Gopher gate")(
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN 'please enable javascript to view this site.' || chr(10) ELSE '' END
         |    || replace(text, '. ', '.' || chr(10))
         |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'menu home about' ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0
         |         THEN chr(10) || 'lorem ipsum dolor sit amet filler text here.' ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0
         |         THEN chr(10) || 'function f() { return 0; }' ELSE '' END AS text
         |  FROM documents),
         |f AS (SELECT doc_id, contains(lower(text), 'lorem ipsum') AS has_lorem,
         |        contains(text, '{') AS has_curly,
         |        string_split(text, chr(10)) AS ls FROM corpus),
         |lp AS (SELECT doc_id, has_lorem, has_curly, ls,
         |         unnest(range(1, len(ls) + 1)) AS pos FROM f),
         |ln AS (SELECT doc_id, has_lorem, has_curly, pos, ls[pos] AS line,
         |         trim(ls[pos]) AS t FROM lp),
         |k AS (SELECT doc_id, has_lorem, has_curly, pos, line,
         |        regexp_matches(t, '[.!?"]$$')
         |          AND (CASE WHEN t = '' THEN 0
         |               ELSE len(string_split_regex(t, '\\s+')) END) >= 5
         |          AND NOT contains(lower(t), 'javascript') AS keep
         |      FROM ln),
         |o AS (SELECT doc_id, has_lorem, has_curly,
         |        CAST(count(*) AS BIGINT) AS n_lines,
         |        CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
         |        coalesce(array_to_string(
         |          list(line ORDER BY pos) FILTER (WHERE keep), chr(10)), '') AS cleaned
         |      FROM k GROUP BY 1, 2, 3)
         |SELECT doc_id, n_lines, n_kept, has_lorem, has_curly,
         |       (NOT has_lorem AND NOT has_curly AND n_kept >= 3) AS page_pass,
         |       cleaned, ${charFoldD("cleaned")} AS cleaned_fp
         |FROM o
         |""".stripMargin) { (s, dir) =>
      // planted lines exercise each rule: %3 docs get a javascript line
      // (terminal punct + enough words — only the js rule strikes it),
      // %4 a short unpunctuated nav line, %7 a lorem line that PASSES
      // line rules but fails the page, %5 a curly-brace code line
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0,
            lit("please enable javascript to view this site.\n")).otherwise(lit("")),
          regexp_replace(col("text"), "\\. ", ".\n"),
          when(col("doc_id") % 4 === 0, lit("\nmenu home about")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nlorem ipsum dolor sit amet filler text here.")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("\nfunction f() { return 0; }")).otherwise(lit(""))
        ).as("text"))
      TextOps.c4LineClean(corpus, col("doc_id"), col("text"))
    },

    // ----- sharded-export integrity manifest
    QueryDef("x50_shard_manifest",
      "deterministic export manifest: content-hash shard assignment, per-shard doc/token counts + order-independent XOR checksum + id bounds — what a consumer verifies before training on an exported corpus; writeSharded's on-disk layout is spec-tested against this")(
      s"""WITH n AS (SELECT doc_id, text, $normD AS t FROM documents),
         |h AS (SELECT doc_id,
         |        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |        coalesce(${charFoldD("t")}, 0) AS hk FROM n),
         |s AS (SELECT doc_id, n_tokens, hk, (hk + doc_id) % 64 AS shard FROM h)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       bit_xor(hk) AS content_xor,
         |       CAST(min(doc_id) AS BIGINT) AS min_doc,
         |       CAST(max(doc_id) AS BIGINT) AS max_doc
         |FROM s GROUP BY shard
         |""".stripMargin) { (s, dir) =>
      graft.silver.Export.shardManifest(Tables.documents(s, dir),
        col("doc_id"), col("text"))
    },

    // ----- per-domain quota cap (top-k per source by quality)
    QueryDef("x51_domain_cap",
      "per-domain quota: keep the top 25 docs per source by token count (ties -> lowest id) — the no-domain-dominates cap, planned as a partial WindowGroupLimit so a hot domain never becomes a one-task sort")(
      s"""WITH q AS (SELECT doc_id, source AS stratum,
         |        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS quality
         |      FROM documents),
         |r AS (SELECT doc_id, stratum, quality,
         |        row_number() OVER (PARTITION BY stratum
         |                           ORDER BY quality DESC, doc_id) AS rank
         |      FROM q)
         |SELECT doc_id, stratum, quality, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 25
         |""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      TextOps.capPerStratum(docs, col("doc_id"), col("source"),
        TextOps.wsTokenCount(col("text")), k = 25)
    },

    // ----- MMR diversity re-rank (greedy, native expression over topN)
    QueryDef("x52_mmr_rerank",
      "maximal-marginal-relevance re-rank: top-32 by cosine to query vec 0, then greedy k=8 picks maximizing 0.5*rel - 0.5*max-cos-to-selected (ties -> lowest id) — one distributed relevance scan, the sequential greedy inside a native expression; oracle is a recursive CTE carrying the selected set")(
      s"""WITH RECURSIVE
         |qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT vec_id, embedding, ${cosD("embedding", "q_emb")} AS rel
         |  FROM embeddings, qv WHERE vec_id <> 0 AND embedding IS NOT NULL
         |  ORDER BY rel DESC, vec_id LIMIT 32),
         |sel(step, picked, score, ids, vecs) AS (
         |  (SELECT CAST(1 AS BIGINT), vec_id, 0.5 * rel - 0.5 * 0.0,
         |          [vec_id], [embedding]
         |   FROM cand ORDER BY 0.5 * rel DESC, vec_id LIMIT 1)
         |  UNION ALL
         |  SELECT s.step + 1, c.vec_id, c.score,
         |         list_append(s.ids, c.vec_id), list_append(s.vecs, c.embedding)
         |  FROM sel s, LATERAL (
         |    SELECT vec_id, embedding,
         |      0.5 * rel - 0.5 * list_max([${cosD("embedding", "v")} FOR v IN s.vecs]) AS score
         |    FROM cand
         |    WHERE NOT list_contains(s.ids, vec_id)
         |    ORDER BY score DESC, vec_id LIMIT 1) c
         |  WHERE s.step < 8)
         |SELECT step, picked AS vec_id, round(score, 6) AS score FROM sel
         |""".stripMargin) { (s, dir) =>
      Similarity.mmrRerank(Tables.embeddings(s, dir), queryId = 0L)
    },

    // ----- BM25 lexical retrieval (graded keyword relevance, top-k)
    QueryDef("x53_bm25_topk",
      "BM25 top-20 for a 3-term query: postings filtered to query terms pre-shuffle, exact-integer corpus stats, term-ordered score fold — the graded version of the reference's keyword filter")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM n),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(len(ws)) AS BIGINT) AS tot_dl FROM w),
         |p AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS term FROM w),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM p
         |       WHERE term IN ('vector', 'merge', 'spark') GROUP BY doc_id, dl, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |sc AS (SELECT t.doc_id, t.term,
         |         ln((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
         |           * (t.tf * 2.2)
         |           / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / (CAST(st.tot_dl AS DOUBLE) / st.n_docs))) AS s
         |       FROM tf t JOIN df d USING (term) CROSS JOIN st),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |          list_reduce(list(s ORDER BY term), (acc, x) -> acc + x) AS sc
         |        FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_terms, round(sc, 6) AS bm25
         |FROM agg ORDER BY round(sc, 6) DESC, doc_id LIMIT 20
         |""".stripMargin) { (s, dir) =>
      graft.text.Retrieval.bm25TopK(Tables.documents(s, dir),
        col("doc_id"), col("text"), Seq("vector", "merge", "spark"), k = 20)
    },

    // ----- temperature-balanced deterministic corpus sample (α = 0.5)
    QueryDef("x54_temp_sample",
      "Efraimidis-Spirakis weighted sample of 200 docs with source weight share^(alpha-1), alpha=0.5 — low-resource sources up-weighted, content-hash uniforms, ln*sqrt key (no pow)")(
      s"""WITH n AS (SELECT doc_id, source, text, $normD AS t FROM documents),
         |tok AS (SELECT doc_id, source,
         |          CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |          ${charFoldD("t")} AS hk FROM n),
         |src AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS st FROM tok GROUP BY source),
         |tot AS (SELECT CAST(sum(st) AS BIGINT) AS tt FROM src),
         |sh AS (SELECT source, CAST(st AS DOUBLE) / tt AS share FROM src CROSS JOIN tot),
         |k AS (SELECT t.doc_id, t.source, t.n_tokens,
         |        round(ln(CAST((t.hk * 48271 + t.doc_id) % 1000000007 + 1 AS DOUBLE) / 1000000008.0)
         |              * sqrt(s.share), 6) AS samp_key
         |      FROM tok t JOIN sh s USING (source))
         |SELECT doc_id, source, n_tokens, samp_key FROM k
         |ORDER BY samp_key DESC, doc_id LIMIT 200
         |""".stripMargin) { (s, dir) =>
      TextOps.temperatureSample(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("source"), n = 200)
    },

    // ----- embedding-space decontamination (semantic test-set leakage)
    QueryDef("x55_semantic_decontam",
      "flag corpus vectors with cosine >= 0.999 to any benchmark vector (eval = vec_id % 20 = 0; planted exact leaks at +50000) via corpus-scaled sign-LSH buckets, argmax per corpus vector")(
      s"""WITH ev AS (SELECT vec_id AS eval_id, embedding AS e_emb
         |            FROM embeddings WHERE vec_id % 20 = 0),
         |corpus AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0
         |  UNION ALL
         |  SELECT vec_id + 50000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 40 = 0),
         |p AS (SELECT greatest(len(bin(CAST((count(*) + 31) // 32 AS BIGINT) - 1)), 1) AS nbits FROM corpus),
         |cb AS (SELECT s.seed, c.vec_id, c.embedding,
         |         ${rhBucketD("c.embedding", "p.nbits", "s.seed")} AS bucket
         |       FROM corpus c CROSS JOIN p CROSS JOIN (SELECT unnest([0, 1]) AS seed) s),
         |eb AS (SELECT s.seed, e.eval_id, e.e_emb,
         |         ${rhBucketD("e.e_emb", "p.nbits", "s.seed")} AS bucket
         |       FROM ev e CROSS JOIN p CROSS JOIN (SELECT unnest([0, 1]) AS seed) s),
         |cs AS (SELECT c.vec_id, e.eval_id,
         |         ${cosD("c.embedding", "e.e_emb")} AS cos
         |       FROM cb c JOIN eb e ON c.seed = e.seed AND c.bucket = e.bucket),
         |g AS (SELECT vec_id, max(struct_pack(cos := cos, nid := -eval_id)) AS m
         |      FROM cs WHERE cos >= 0.999 GROUP BY vec_id)
         |SELECT vec_id, -(m.nid) AS eval_id, round(m.cos, 6) AS max_cos FROM g
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val eval = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("eval_id"), col("embedding").as("e_emb"))
      val corpus = emb.filter(col("vec_id") % 20 =!= 0)
        .unionAll(emb.filter(col("vec_id") % 40 === 0)
          .select((col("vec_id") + 50000000).as("vec_id"), col("embedding")))
      // one cheap count sizes the hyperplane family to the corpus (same
      // scale discipline as x16)
      val n = corpus.count()
      Similarity.semanticDecontam(corpus, eval, n, minCos = 0.999)
    },

    // ----- truncated vocabulary manifest (tokenizer-training prep)
    QueryDef("x56_vocab_build",
      "top-16 vocabulary by global term frequency with doc frequencies and dense (freq desc, term) token ids — one term-keyed aggregation, TakeOrdered cut, id window only over the bounded top-V")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
         |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf,
         |         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM tok GROUP BY term),
         |top AS (SELECT * FROM tf ORDER BY tf DESC, term LIMIT 16)
         |SELECT CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT) AS token_id,
         |       term, tf, df
         |FROM top
         |""".stripMargin) { (s, dir) =>
      TextOps.buildVocab(Tables.documents(s, dir), col("doc_id"), col("text"),
        vocabSize = 16)
    },

    // ----- out-of-vocabulary coverage stats against the built vocab
    QueryDef("x57_oov_stats",
      "per-doc token count, OOV count, and OOV fraction against the top-16 vocab — broadcast vocab join (bounded by the V constant), one doc-keyed aggregation")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
         |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY term),
         |voc AS (SELECT term FROM tf ORDER BY tf DESC, term LIMIT 16),
         |j AS (SELECT t.doc_id, t.term, v.term IS NOT NULL AS in_v
         |      FROM tok t LEFT JOIN voc v USING (term))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(count(CASE WHEN NOT in_v THEN 1 END) AS BIGINT) AS oov_tokens,
         |       round(CAST(count(CASE WHEN NOT in_v THEN 1 END) AS DOUBLE)
         |             / count(*), 6) AS oov_frac
         |FROM j GROUP BY doc_id
         |""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val vocab = TextOps.buildVocab(docs, col("doc_id"), col("text"),
        vocabSize = 16).select("term")
      TextOps.oovStats(docs, col("doc_id"), col("text"), vocab)
    },

    // ----- URL-domain manifest + blocklist gate (planted URL corpus)
    QueryDef("x58_domain_filter",
      "per-domain doc counts + literal-blocklist verdict over each doc's first URL host (www-stripped) — codegen'd regexp extraction, isin predicate (no join), one host-keyed count")(
      s"""WITH corpus AS (
         |  SELECT doc_id, text ||
         |    CASE doc_id % 7
         |      WHEN 0 THEN ' via https://spam.example/offer?x=1 link'
         |      WHEN 1 THEN ' see https://www.good.org/page for details'
         |      WHEN 2 THEN ' src http://ads.tracker.net/pixel.gif end'
         |      WHEN 3 THEN ' read https://good.org/other article'
         |      ELSE '' END AS text
         |  FROM documents),
         |h AS (SELECT doc_id,
         |        regexp_replace(regexp_extract(text, 'https?://([^/\\s]+)', 1),
         |                       '^www\\.', '') AS host
         |      FROM corpus)
         |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         |       host IN ('spam.example', 'ads.tracker.net') AS blocked
         |FROM h WHERE host <> '' GROUP BY host
         |""".stripMargin) { (s, dir) =>
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, " via https://spam.example/offer?x=1 link")
            .when(col("doc_id") % 7 === 1, " see https://www.good.org/page for details")
            .when(col("doc_id") % 7 === 2, " src http://ads.tracker.net/pixel.gif end")
            .when(col("doc_id") % 7 === 3, " read https://good.org/other article")
            .otherwise("")).as("text"))
      TextOps.domainManifest(corpus, col("doc_id"), col("text"),
        blocklist = Seq("spam.example", "ads.tracker.net"))
    },

    // ----- URL canonicalization + canonical-URL dedup: synthesized
    // aliases (tracking params, #fragment, case, default port, www.,
    // trailing slash) collapse pairwise by construction — variant 1 is
    // variant 0's alias for the NEXT doc_id, variant 3 mirrors variant 2
    QueryDef("x68_url_canon",
      "crawl-frontier URL dedup: strip fragment, lowercase scheme/host, drop :80/:443 and www., strip one trailing slash, drop utm_*/fbclid/gclid params; first doc_id per canonical URL is the keeper — narrow projection + one canon-keyed min agg")(
      s"""WITH urls AS (SELECT doc_id,
         |  CASE doc_id % 4
         |    WHEN 0 THEN 'https://WWW.Example' || (doc_id % 5) || '.com:443/page/' || (doc_id % 50) || '/?utm_source=feed&ref=1#top'
         |    WHEN 1 THEN 'https://example' || ((doc_id - 1) % 5) || '.com/page/' || ((doc_id - 1) % 50) || '?ref=1'
         |    WHEN 2 THEN 'http://site' || (doc_id % 7) || '.org:80/a'
         |    ELSE 'http://site' || ((doc_id - 1) % 7) || '.org/a/?utm_campaign=x&gclid=1'
         |  END AS url FROM documents),
         |u0 AS (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS u FROM urls),
         |p0 AS (SELECT doc_id, url, u,
         |         regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS pre FROM u0),
         |p1 AS (SELECT doc_id, url, substr(u, len(pre) + 1) AS rest,
         |         regexp_replace(regexp_replace(lower(pre), ':(443|80)$$', ''),
         |                        '^(https?://)www\\.', '\\1') AS cpre FROM p0),
         |p2 AS (SELECT doc_id, url, cpre,
         |         CASE WHEN instr(rest, '?') > 0 THEN substr(rest, 1, instr(rest, '?') - 1) ELSE rest END AS path,
         |         CASE WHEN instr(rest, '?') > 0 THEN substr(rest, instr(rest, '?') + 1) ELSE '' END AS q FROM p1),
         |p3 AS (SELECT doc_id, url, cpre,
         |         CASE WHEN path <> '/' AND path LIKE '%/' THEN substr(path, 1, len(path) - 1) ELSE path END AS cpath,
         |         coalesce(array_to_string(list_filter(string_split(q, '&'),
         |           x -> len(x) > 0 AND NOT regexp_matches(x, '^(utm_|fbclid=|gclid=)')), '&'), '') AS cq
         |       FROM p2),
         |c AS (SELECT doc_id, url,
         |        cpre || cpath || CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canon_url FROM p3),
         |k AS (SELECT canon_url, min(doc_id) AS keep_id FROM c GROUP BY 1)
         |SELECT c.doc_id, c.url, c.canon_url, c.doc_id = k.keep_id AS kept
         |FROM c JOIN k USING (canon_url)
         |""".stripMargin) { (s, dir) =>
      val urls = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 4 === 0, concat(lit("https://WWW.Example"),
          col("doc_id") % 5, lit(".com:443/page/"), col("doc_id") % 50,
          lit("/?utm_source=feed&ref=1#top")))
          .when(col("doc_id") % 4 === 1, concat(lit("https://example"),
            (col("doc_id") - 1) % 5, lit(".com/page/"), (col("doc_id") - 1) % 50,
            lit("?ref=1")))
          .when(col("doc_id") % 4 === 2, concat(lit("http://site"),
            col("doc_id") % 7, lit(".org:80/a")))
          .otherwise(concat(lit("http://site"), (col("doc_id") - 1) % 7,
            lit(".org/a/?utm_campaign=x&gclid=1")))
          .as("url"))
      TextOps.urlCanonicalize(urls, col("doc_id"), col("url"))
    },

    // ----- per-source quality percentile (threshold calibration)
    QueryDef("x59_quality_pct",
      "percent_rank of token-count quality within each source — computed by counting strictly-smaller values (windows only over DISTINCT values per stratum), never by sorting documents")(
      s"""WITH q AS (SELECT doc_id, source AS stratum,
         |        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS quality
         |      FROM documents)
         |SELECT doc_id, stratum, quality,
         |       round(percent_rank() OVER (PARTITION BY stratum ORDER BY quality), 6)
         |         AS pct_rank
         |FROM q
         |""".stripMargin) { (s, dir) =>
      TextOps.qualityPercentiles(Tables.documents(s, dir), col("doc_id"),
        col("source"), TextOps.wsTokenCount(col("text")))
    },

    // ----- packed-sequence training artifact (pack → sharded export → manifest)
    QueryDef("x60_packed_export",
      "curation→training hand-off: pack the corpus into 128-token sequences in 8 hash shards, export shard=K parquet (replay-ordered within files), manifest the files JUST WRITTEN — per-shard doc/seq/span/token counts + order-independent mod-P span checksum; the result certifies the on-disk artifact, not the input")(
      s"""WITH n AS (SELECT doc_id, doc_id % 8 AS shard,
         |                  len(string_split($normD, ' ')) AS n_tok FROM documents),
         |o AS (SELECT doc_id, shard, n_tok,
         |             sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS e FROM n),
         |s AS (SELECT doc_id, shard, CAST(e - n_tok AS BIGINT) AS st,
         |             CAST(e AS BIGINT) AS e FROM o WHERE n_tok > 0),
         |x AS (SELECT doc_id, shard, st, e,
         |             unnest(range(st // 128, (e - 1) // 128 + 1)) AS seq_id FROM s),
         |sp AS (SELECT doc_id, CAST(shard AS BIGINT) AS shard,
         |              CAST(seq_id AS BIGINT) AS seq_id,
         |              CAST(least(e, (seq_id + 1) * 128) - greatest(st, seq_id * 128)
         |                AS BIGINT) AS n_tok_in_seq FROM x)
         |SELECT shard, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
         |       CAST(count(*) AS BIGINT) AS n_spans,
         |       CAST(sum(n_tok_in_seq) AS BIGINT) AS n_tokens,
         |       bit_xor((((doc_id % 1000000007) * 31 + seq_id) % 1000000007 * 31
         |                + n_tok_in_seq) % 1000000007) AS span_xor,
         |       CAST(min(seq_id) AS BIGINT) AS min_seq,
         |       CAST(max(seq_id) AS BIGINT) AS max_seq
         |FROM sp GROUP BY shard
         |""".stripMargin) { (s, dir) =>
      // the export target is scratch space: the QUERY OUTPUT is the
      // manifest of what landed on disk, which is what the oracle checks
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_x60_packed").getAbsolutePath
      graft.silver.Export.packedExport(Tables.documents(s, dir),
        col("doc_id"), col("text"), out)
    },

    // ----- BPE merge-pair vocabulary (iterative tokenizer training)
    QueryDef("x61_bpe_merges",
      "BPE tokenizer training behind the probe-and-dispatch trainer: one distributed (word, count) inventory pass, then driver merge rounds when the vocabulary fits the local-inventory threshold (bit-for-bit equal to the distributed rounds — TextOpsSpec pins it) or distributed rounds otherwise; oracle replays each round as a materialized CTE with the same greedy leftmost fold")(
      bpeMergesOracleD(12)) { (s, dir) =>
      TextOps.bpeMerges(Tables.documents(s, dir), col("doc_id"), col("text"),
        nMerges = 12)
    },

    // ----- corpus BPE tokenization (applying the trained merges)
    QueryDef("x63_bpe_encode",
      "corpus tokenization with the trained BPE behind the probe-and-dispatch trainer (driver merge rounds when the vocabulary fits the local-inventory threshold, bit-for-bit equal to the distributed rounds — TextOpsSpec pins both branches): segment the word inventory through the learned merge rounds, dictionary-join the doc word stream against it, per-doc BPE token counts + a mod-P segmentation-fingerprint sum — a green row certifies EVERY word's segmentation, not just counts")(
      bpeEncodeOracleD(12)) { (s, dir) =>
      TextOps.bpeEncode(Tables.documents(s, dir), col("doc_id"), col("text"),
        nMerges = 12)
    },

    // ----- small-file compaction planning (the OPTIMIZE step for the
    // sharded export layout); file inventory synthesized from documents
    // (file per doc, bytes = char length) — the plan arithmetic is the
    // operator under test, Export.compact executes it in ExportSpec
    QueryDef("x76_compact_plan",
      "quota-binned compaction plan over a file inventory: per shard, files walked in id order, bin = bytes-before DIV target (Delta-OPTIMIZE next-fit) — exact integer metadata arithmetic, per-shard windows, data untouched")(
      s"""WITH f AS (SELECT doc_id % 8 AS shard, doc_id AS file_id,
         |                  CAST(length(text) AS BIGINT) AS bytes FROM documents),
         |c AS (SELECT shard, file_id, bytes,
         |        CAST(COALESCE(sum(bytes) OVER (PARTITION BY shard ORDER BY file_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |          // 4000 AS bin
         |      FROM f)
         |SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_files,
         |       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
         |       min(file_id) AS min_file, max(file_id) AS max_file
         |FROM c GROUP BY 1, 2
         |""".stripMargin) { (s, dir) =>
      val files = Tables.documents(s, dir).select(
        (col("doc_id") % 8).as("shard"), col("doc_id").as("file_id"),
        length(col("text")).cast(LongType).as("bytes"))
      graft.silver.Export.compactionSummary(graft.silver.Export.compactionPlan(files,
        col("shard"), col("file_id"), col("bytes"), targetBytes = 4000L))
    },

    // ----- packed-sequence fragmentation report (pre-training QA over
    // the x60 artifact: multi-document sequences = the cross-doc
    // attention-contamination surface)
    QueryDef("x77_pack_stats",
      "fragmentation report over the packed-sequence stream: per shard, sequence/span counts, max and count of multi-document sequences, utilization tokens/(n_seqs*seqLen) — two map-side-combinable aggregations, nShards output rows")(
      s"""WITH n AS (SELECT doc_id, doc_id % 8 AS shard,
         |                  len(string_split($normD, ' ')) AS n_tok FROM documents),
         |o AS (SELECT doc_id, shard, n_tok,
         |             sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS e FROM n),
         |s AS (SELECT doc_id, shard, CAST(e - n_tok AS BIGINT) AS st,
         |             CAST(e AS BIGINT) AS e FROM o WHERE n_tok > 0),
         |x AS (SELECT doc_id, shard, st, e,
         |             unnest(range(st // 128, (e - 1) // 128 + 1)) AS seq_id FROM s),
         |sp AS (SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
         |              CAST(least(e, (seq_id + 1) * 128) - greatest(st, seq_id * 128) AS BIGINT)
         |                AS n_tok_in_seq
         |       FROM x),
         |per_seq AS (SELECT shard, seq_id, CAST(count(*) AS BIGINT) AS segs,
         |                   CAST(sum(n_tok_in_seq) AS BIGINT) AS tok
         |            FROM sp GROUP BY 1, 2)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_seqs,
         |       CAST(sum(segs) AS BIGINT) AS n_spans,
         |       max(segs) AS max_segs,
         |       CAST(sum(CASE WHEN segs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS multi_seqs,
         |       CAST(sum(tok) AS BIGINT) AS n_tokens,
         |       round(CAST(sum(tok) AS DOUBLE) / CAST(count(*) * 128 AS DOUBLE), 6) AS util_r
         |FROM per_seq GROUP BY 1
         |""".stripMargin) { (s, dir) =>
      TextOps.packStats(
        TextOps.pack(Tables.documents(s, dir), col("doc_id"), col("text")),
        seqLen = 128)
    },

    // ----- exact distributed PCA (one-pass Gram aggregate + driver
    //       power iteration): the corpus-anisotropy readout
    QueryDef("x113_embedding_pca",
      "exact top-component PCA: vectors quantized on the fixed 2^15 grid, ONE gram_matrix aggregate (map-side-combinable O(dim^2) buffer — shuffle independent of corpus size), 30 deterministic driver power iterations, then a scan-speed projection with the eigenvector as a plan literal; pc1 per vector + explained-variance share")(
      s"""WITH qt AS (SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE)*32768.0 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |gm AS (SELECT i.i AS i, j.j AS j, sum(q[i.i+1]*q[j.j+1]) AS s
         |       FROM qt, range(0,64) i(i), range(0,64) j(j) GROUP BY 1, 2),
         |grow AS (SELECT i, list(CAST(s AS DOUBLE)/1073741824.0 ORDER BY j) AS gr
         |         FROM gm GROUP BY i),
         |${pcaItersD(64, 30)},
         |gvf AS (SELECT list(list_reduce(list_transform(list_zip(g.gr, v.v),
         |    z -> z[1]*z[2]), (a, b) -> a + b) ORDER BY g.i) AS gvl
         |  FROM grow g, v30 v),
         |lam AS (SELECT list_reduce(list_transform(list_zip(gvf.gvl, v.v),
         |    z -> z[1]*z[2]), (a, b) -> a + b) AS lam FROM gvf, v30 v),
         |tr AS (SELECT list_reduce(list(gr[i+1] ORDER BY i), (a, b) -> a + b) AS tr
         |       FROM grow)
         |SELECT qt.vec_id,
         |  round(list_reduce(list_transform(list_zip(qt.q, v.v),
         |    z -> CAST(z[1] AS DOUBLE)*z[2]), (a, b) -> a + b)/32768.0, 6) AS pc1,
         |  round(CASE WHEN tr.tr = 0 THEN 0.0 ELSE lam.lam/tr.tr END, 6) AS ev_ratio
         |FROM qt, v30 v, lam, tr
         |""".stripMargin) { (s, dir) =>
      Similarity.principalComponent(
        Tables.embeddings(s, dir).select("vec_id", "embedding"), dim = 64)
    },

    // ----- blocklist scan: multi-pattern matching in ONE text pass
    //       (the C4 badword gate's audit table, at automaton speed)
    QueryDef("x114_blocklist_scan",
      "Aho-Corasick blocklist scan: per-pattern corpus totals (docs hit + all-occurrence hit counts, overlapping and nested-pattern matches included) from ONE automaton pass per document — O(text+matches) regardless of pattern count vs P contains-predicates scanning P times; pattern set rides the plan as a literal, single P-row partial-aggregated exchange")(
      """WITH pats AS (SELECT * FROM (VALUES
        |    ('able'), ('art'), ('can'), ('low'), ('slow'), ('table'), ('value')
        |  ) p(pat)),
        |hits AS (SELECT p.pat,
        |    len(list_filter(range(1, len(d.text) - len(p.pat) + 2),
        |      i -> d.text[i : i + len(p.pat) - 1] = p.pat)) AS n
        |  FROM documents d CROSS JOIN pats p)
        |SELECT pat AS pattern,
        |  CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_hits
        |FROM hits GROUP BY 1
        |""".stripMargin) { (s, dir) =>
      TextOps.blocklistScan(Tables.documents(s, dir), col("text"),
        Seq("able", "art", "can", "low", "slow", "table", "value"))
    },

    // ----- all-but-the-top whitening (Mu & Viswanath 2018): center,
    //       strip the dominant axis, report the isotropy gain
    QueryDef("x115_all_but_top",
      "all-but-the-top embedding correction: mean + covariance from ONE gram_matrix pass via the homogeneous-coordinate trick (augment with a constant dim — per-dim sums and the count ride the same O(dim^2) map-side buffer), top covariance axis by deterministic power iteration, deflated second iteration for the post-removal spectrum; per vector the removed component (proj1) and remaining length (res_norm), plus ev_before/ev_after anisotropy — scan-speed correction with mu and v1 as plan literals")(
      s"""WITH qt AS (SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE)*32768.0 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |ag AS (SELECT list_append(q, 32768) AS a FROM qt),
         |gm AS (SELECT i.i AS i, j.j AS j, sum(a[i.i+1]*a[j.j+1]) AS s
         |       FROM ag, range(0,65) i(i), range(0,65) j(j) GROUP BY 1, 2),
         |nn AS (SELECT s // 1073741824 AS n FROM gm WHERE i = 64 AND j = 64),
         |mu AS (SELECT i, (CAST(s // 32768 AS DOUBLE) / 32768.0) / nn.n AS m
         |       FROM gm, nn WHERE j = 64 AND i < 64),
         |muv AS (SELECT list(m ORDER BY i) AS ml FROM mu),
         |cv AS (SELECT g.i AS i, g.j AS j,
         |         (CAST(g.s AS DOUBLE) / 1073741824.0) / nn.n - mi.m * mj.m AS c
         |       FROM gm g JOIN mu mi ON mi.i = g.i JOIN mu mj ON mj.i = g.j
         |       CROSS JOIN nn WHERE g.i < 64 AND g.j < 64),
         |grow AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS gr FROM cv GROUP BY i),
         |${pcaItersD(64, 30)},
         |gvf AS (SELECT list(list_reduce(list_transform(list_zip(g.gr, v.v),
         |    z -> z[1]*z[2]), (a, b) -> a + b) ORDER BY g.i) AS gvl
         |  FROM grow g, v30 v),
         |lam AS (SELECT list_reduce(list_transform(list_zip(gvf.gvl, v.v),
         |    z -> z[1]*z[2]), (a, b) -> a + b) AS lam FROM gvf, v30 v),
         |tr AS (SELECT list_reduce(list(c ORDER BY i), (a, b) -> a + b) AS tr
         |       FROM cv WHERE i = j),
         |grow2 AS MATERIALIZED (SELECT g.i AS i,
         |    [g.gr[j+1] - lam.lam * v.v[g.i+1] * v.v[j+1] FOR j IN range(0, 64)] AS gr
         |  FROM grow g, v30 v, lam),
         |${pcaItersD(64, 30, "grow2", "b")},
         |gvf2 AS (SELECT list(list_reduce(list_transform(list_zip(g.gr, v.v),
         |    z -> z[1]*z[2]), (a, b) -> a + b) ORDER BY g.i) AS gvl
         |  FROM grow2 g, v30b v),
         |lam2 AS (SELECT list_reduce(list_transform(list_zip(gvf2.gvl, v.v),
         |    z -> z[1]*z[2]), (a, b) -> a + b) AS lam FROM gvf2, v30b v),
         |ev AS (SELECT
         |    CASE WHEN tr.tr = 0 THEN 0.0 ELSE lam.lam / tr.tr END AS ev_before,
         |    CASE WHEN tr.tr - lam.lam = 0 THEN 0.0
         |         ELSE lam2.lam / (tr.tr - lam.lam) END AS ev_after
         |  FROM tr, lam, lam2),
         |pv AS (SELECT vec_id,
         |    list_transform(list_zip(q, muv.ml),
         |      z -> CAST(z[1] AS DOUBLE)/32768.0 - z[2]) AS c
         |  FROM qt, muv),
         |pr AS (SELECT vec_id, c,
         |    list_reduce(list_transform(list_zip(c, v.v), z -> z[1]*z[2]),
         |      (a, b) -> a + b) AS proj
         |  FROM pv, v30 v)
         |SELECT pr.vec_id, round(pr.proj, 6) AS proj1,
         |  round(sqrt(list_reduce(list_transform(list_zip(pr.c, v.v),
         |    z -> (z[1] - pr.proj*z[2]) * (z[1] - pr.proj*z[2])),
         |    (a, b) -> a + b)), 6) AS res_norm,
         |  round(ev.ev_before, 6) AS ev_before,
         |  round(ev.ev_after, 6) AS ev_after
         |FROM pr, v30 v, ev
         |""".stripMargin) { (s, dir) =>
      Similarity.allButTop(
        Tables.embeddings(s, dir).select("vec_id", "embedding"), dim = 64)
    },

    // ----- CCNet head/middle/tail buckets (Wenzek et al. 2020): each
    //       source judged against itself, exact population terciles
    QueryDef("x116_ccnet_buckets",
      "CCNet perplexity bucketing: per-source LM-score rank cut into exact population terciles (head = the source's best third) — the construction CCNet ships, vs a global cut that would erase weak sources entirely; micro-unit band + doc_id rank (row-order immune), bucket = (rn-1)*3 div n exact integer split, ONE source-keyed window after the x27 scoring plan")(
      s"""WITH n AS (SELECT doc_id, string_split($normD, ' ') AS ws FROM documents),
         |w AS (SELECT doc_id, ws FROM n WHERE len(ws) >= 2),
         |ix AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w),
         |b AS (SELECT doc_id, i AS pos, ws[i] AS w1, ws[i] || '_' || ws[i+1] AS bg FROM ix),
         |c2 AS (SELECT bg, count(*) AS c2 FROM b GROUP BY 1),
         |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
         |l AS (SELECT doc_id, pos, ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) AS lp
         |      FROM b JOIN c2 USING (bg) JOIN c1 USING (w1)),
         |s AS (SELECT doc_id,
         |        round(list_reduce(list(lp ORDER BY pos), (a, x) -> a + x) / count(*), 6)
         |          AS lm_score
         |      FROM l GROUP BY doc_id),
         |r AS (SELECT s.doc_id, d.source, s.lm_score,
         |        -CAST(round(s.lm_score * 1000000, 0) AS BIGINT) AS band
         |      FROM s JOIN documents d ON s.doc_id = d.doc_id),
         |k AS (SELECT doc_id, source, lm_score,
         |        row_number() OVER (PARTITION BY source ORDER BY band, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY source) AS n
         |      FROM r)
         |SELECT doc_id, source, lm_score,
         |  (['head', 'middle', 'tail'])[CAST((rn - 1) * 3 // n AS INT) + 1] AS bucket
         |FROM k
         |""".stripMargin) { (s, dir) =>
      TextOps.ccnetBuckets(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("source"))
    },

    // ----- Zipf spectrum fit: the corpus-LEVEL shape statistic the
    //       pointwise dup/repetition signals don't give
    QueryDef("x117_zipf_fit",
      "Zipf spectrum fit: OLS of ln(freq) on ln(rank) over the top-100 tokens — slope (the Zipf exponent, ~-1 for natural text) and R2 as a corpus-health readout (dup floods bulge the head, templates fatten the tail); one word-count aggregation + a constant-V TakeOrdered, driver OLS in rank order replayed by the oracle's ordered list folds")(
      s"""WITH n AS (SELECT $normD AS t FROM documents),
         |wd AS (SELECT unnest(string_split(t, ' ')) AS w FROM n),
         |dw AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM wd WHERE w <> '' GROUP BY w),
         |rk AS (SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM dw),
         |tv AS (SELECT * FROM rk WHERE rank <= 100),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS v,
         |         list(ln(CAST(rank AS DOUBLE)) ORDER BY rank) AS xs,
         |         list(ln(CAST(cnt AS DOUBLE)) ORDER BY rank) AS ys
         |       FROM tv),
         |f AS (SELECT v, xs, ys,
         |        list_reduce(xs, (a, b) -> a + b) AS sx,
         |        list_reduce(ys, (a, b) -> a + b) AS sy,
         |        list_reduce(list_transform(xs, x -> x*x), (a, b) -> a + b) AS sxx,
         |        list_reduce(list_transform(list_zip(xs, ys), z -> z[1]*z[2]),
         |          (a, b) -> a + b) AS sxy
         |      FROM st),
         |p AS (SELECT v, xs, ys, sx, sy,
         |        CASE WHEN v*sxx - sx*sx = 0 THEN 0.0
         |             ELSE (v*sxy - sx*sy) / (v*sxx - sx*sx) END AS slope
         |      FROM f),
         |p2 AS (SELECT v, xs, ys, slope,
         |         (sy - slope*sx) / v AS intercept, sy / v AS yb
         |       FROM p),
         |r2c AS (SELECT v, slope, intercept,
         |         list_reduce(list_transform(ys, y -> (y - yb)*(y - yb)),
         |           (a, b) -> a + b) AS sst,
         |         list_reduce(list_transform(list_zip(xs, ys),
         |           z -> (z[2] - (slope*z[1] + intercept))*(z[2] - (slope*z[1] + intercept))),
         |           (a, b) -> a + b) AS sse
         |       FROM p2)
         |SELECT tv.rank, tv.w AS word, tv.cnt,
         |  round(r.slope*ln(CAST(tv.rank AS DOUBLE)) + r.intercept, 6) AS fitted_log,
         |  round(r.slope, 6) AS slope, round(r.intercept, 6) AS intercept,
         |  round(CASE WHEN r.sst = 0 THEN 0.0 ELSE 1.0 - r.sse/r.sst END, 6) AS r2,
         |  CAST(r.v AS BIGINT) AS n_fit
         |FROM tv, r2c r
         |""".stripMargin) { (s, dir) =>
      TextOps.zipfFit(Tables.documents(s, dir), col("text"))
    },

    // ----- export manifest diff (incremental re-export decision table);
    // version B derived deterministically in BOTH engines: %23=1 docs
    // deleted, %17=3 docs edited, %29=2 docs re-added under new ids
    QueryDef("x79_export_diff",
      "manifest diff between two export versions: per shard added/removed/changed/unchanged off doc counts + the order-independent XOR checksum (a same-count edit still surfaces) — nShards-row metadata join, ship only changed shards")(
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |mod AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 17 = 3 THEN text || ' tampered' ELSE text END AS text
         |  FROM base WHERE doc_id % 23 <> 1
         |  UNION ALL
         |  SELECT doc_id + 50000000 AS doc_id,
         |         'new doc ' || CAST(doc_id AS VARCHAR) AS text
         |  FROM base WHERE doc_id % 29 = 2),
         |an AS (SELECT doc_id, text, $normD AS t FROM base),
         |ah AS (SELECT doc_id,
         |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |         coalesce(${charFoldD("t")}, 0) AS hk FROM an),
         |am AS (SELECT (hk + doc_id) % 64 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens, bit_xor(hk) AS content_xor
         |       FROM ah GROUP BY 1),
         |bn AS (SELECT doc_id, text, $normD AS t FROM mod),
         |bh AS (SELECT doc_id,
         |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |         coalesce(${charFoldD("t")}, 0) AS hk FROM bn),
         |bm AS (SELECT (hk + doc_id) % 64 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens, bit_xor(hk) AS content_xor
         |       FROM bh GROUP BY 1)
         |SELECT coalesce(am.shard, bm.shard) AS shard,
         |  coalesce(am.n_docs, 0) AS n_docs_a,
         |  coalesce(bm.n_docs, 0) AS n_docs_b,
         |  coalesce(bm.n_docs, 0) - coalesce(am.n_docs, 0) AS docs_delta,
         |  CASE WHEN am.shard IS NULL THEN 'added'
         |       WHEN bm.shard IS NULL THEN 'removed'
         |       WHEN am.content_xor = bm.content_xor AND am.n_docs = bm.n_docs
         |            AND am.n_tokens = bm.n_tokens THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |FROM am FULL OUTER JOIN bm ON am.shard = bm.shard
         |""".stripMargin) { (s, dir) =>
      val base = Tables.documents(s, dir).select("doc_id", "text")
      val modded = base.filter(col("doc_id") % 23 =!= 1)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 3, concat(col("text"), lit(" tampered")))
            .otherwise(col("text")).as("text"))
        .unionAll(base.filter(col("doc_id") % 29 === 2)
          .select((col("doc_id") + 50000000).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast(StringType)).as("text")))
      val ex = graft.silver.Export
      ex.manifestDiff(
        ex.shardManifest(base, col("doc_id"), col("text")),
        ex.shardManifest(modded, col("doc_id"), col("text")))
    },

    // ----- contrastive triplet assembly (anchor, hardest positive,
    // mined negatives + margins — the mining tier's hand-off artifact)
    QueryDef("x80_triplets",
      "contrastive triplets: per anchor the most-similar same-label positive (self excluded) x the top-3 hard negatives, with triplet-loss margins cos(a,p) - cos(a,n) — composes the x71 mining gate with a k=1 positive rank; |q|-row final join")(
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |           FROM embeddings WHERE vec_id < 8),
         |pc AS (
         |  SELECT q.q_id, v.vec_id AS pos_id,
         |    ${cosD("q.q_emb", "v.embedding")} AS pcos
         |  FROM embeddings v, q
         |  WHERE v.label = q.q_label AND v.vec_id <> q.q_id),
         |p1 AS (SELECT q_id, pos_id, pcos FROM (
         |         SELECT *, row_number() OVER
         |           (PARTITION BY q_id ORDER BY pcos DESC, pos_id) AS prn
         |         FROM pc) WHERE prn = 1),
         |cs AS (
         |  SELECT q.q_id, q.q_label, v.vec_id AS vec_id, v.label AS label,
         |    ${cosD("q.q_emb", "v.embedding")} AS cos
         |  FROM embeddings v, q
         |  WHERE v.vec_id <> q.q_id AND v.label <> q.q_label),
         |f AS (SELECT * FROM cs WHERE cos < 0.98),
         |nk AS (SELECT q_id, vec_id AS neg_id, cos, rn FROM (
         |         SELECT *, row_number() OVER
         |           (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |         FROM f) WHERE rn <= 3)
         |SELECT q_id, pos_id, round(pcos, 6) AS pcos_r,
         |       neg_id, CAST(rn AS BIGINT) AS rnk,
         |       round(cos, 6) AS cos_r, round(pcos - cos, 6) AS margin_r
         |FROM p1 JOIN nk USING (q_id)
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      Similarity.triplets(emb.select("vec_id", "embedding", "label"),
          queries, k = 3, dupCos = 0.98)
        .select(col("q_id"), col("pos_id"), round(col("pcos"), 6).as("pcos_r"),
          col("neg_id"), col("rnk"), round(col("cos"), 6).as("cos_r"),
          round(col("margin"), 6).as("margin_r"))
    },

    // ----- hybrid retrieval: reciprocal-rank fusion of the BM25 (x53)
    // and dense-cosine rankers — rank-based, no score calibration;
    // vec_id is modeled as the document's embedding id
    QueryDef("x81_rrf_fusion",
      "reciprocal-rank fusion of BM25 top-20 and embedding-cosine top-20 (query vec 0): rrf = sum 1/(60 + rank), absent lists contribute 0 — fusion over bounded top-k lists only, cost independent of corpus size")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM n),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(len(ws)) AS BIGINT) AS tot_dl FROM w),
         |p AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS term FROM w),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM p
         |       WHERE term IN ('vector', 'merge', 'spark') GROUP BY doc_id, dl, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |sc AS (SELECT t.doc_id, t.term,
         |         ln((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
         |           * (t.tf * 2.2)
         |           / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / (CAST(st.tot_dl AS DOUBLE) / st.n_docs))) AS s
         |       FROM tf t JOIN df d USING (term) CROSS JOIN st),
         |agg AS (SELECT doc_id,
         |          list_reduce(list(s ORDER BY term), (acc, x) -> acc + x) AS sc
         |        FROM sc GROUP BY doc_id),
         |sr AS (SELECT doc_id, rn AS rnk_s FROM (
         |         SELECT doc_id, row_number() OVER
         |           (ORDER BY round(sc, 6) DESC, doc_id) AS rn FROM agg)
         |       WHERE rn <= 20),
         |q0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |dc AS (SELECT v.vec_id AS doc_id, ${cosD("v.embedding", "qe")} AS cos
         |       FROM embeddings v CROSS JOIN q0),
         |dr AS (SELECT doc_id, rn AS rnk_d FROM (
         |         SELECT doc_id, row_number() OVER
         |           (ORDER BY cos DESC, doc_id) AS rn FROM dc)
         |       WHERE rn <= 20),
         |fu AS (SELECT coalesce(sr.doc_id, dr.doc_id) AS doc_id, sr.rnk_s, dr.rnk_d,
         |         round(coalesce(CAST(1 AS DOUBLE) / (60 + sr.rnk_s), 0.0)
         |             + coalesce(CAST(1 AS DOUBLE) / (60 + dr.rnk_d), 0.0), 6) AS rrf_r
         |       FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id)
         |SELECT doc_id, rnk_s, rnk_d, rrf_r FROM fu
         |ORDER BY rrf_r DESC, doc_id LIMIT 10
         |""".stripMargin) { (s, dir) =>
      import graft.text.Retrieval
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val sparse = Retrieval.rankOf(
        Retrieval.bm25TopK(docs, col("doc_id"), col("text"),
          Seq("vector", "merge", "spark"), k = 20).drop("n_terms"),
        col("doc_id"), Seq(col("bm25").desc, col("doc_id")))
      val q0 = emb.filter(col("vec_id") === 0).select(col("embedding").as("_q"))
      val dense = Retrieval.rankOf(
        emb.crossJoin(broadcast(q0))
          .select(col("vec_id").as("doc_id"),
            Similarity.cosine(col("embedding"), col("_q")).as("cos"))
          .orderBy(col("cos").desc, col("doc_id")).limit(20),
        col("doc_id"), Seq(col("cos").desc, col("doc_id")))
      Retrieval.rrfFuse(sparse, dense, kRrf = 60, k = 10)
    },

    // ----- within-sequence token offsets (the attention-mask geometry
    // of the packed artifact: segment i spans [tok_off, tok_off + n))
    QueryDef("x82_pack_offsets",
      "per-span token offsets inside each packed sequence (the prefix sum of span lengths in doc order, which the oracle windows over) — the document-boundary attention-mask geometry; derived by span arithmetic off pack's stream boundaries, no window or exchange beyond pack's shard cumsum")(
      s"""WITH n AS (SELECT doc_id, doc_id % 8 AS shard,
         |                  len(string_split($normD, ' ')) AS n_tok FROM documents),
         |o AS (SELECT doc_id, shard, n_tok,
         |             sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS e FROM n),
         |s AS (SELECT doc_id, shard, CAST(e - n_tok AS BIGINT) AS st,
         |             CAST(e AS BIGINT) AS e FROM o WHERE n_tok > 0),
         |x AS (SELECT doc_id, shard, st, e,
         |             unnest(range(st // 128, (e - 1) // 128 + 1)) AS seq_id FROM s),
         |sp AS (SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
         |              CAST(least(e, (seq_id + 1) * 128) - greatest(st, seq_id * 128) AS BIGINT)
         |                AS n_tok_in_seq
         |       FROM x)
         |SELECT doc_id, shard, seq_id, n_tok_in_seq,
         |       CAST(COALESCE(sum(n_tok_in_seq) OVER
         |         (PARTITION BY shard, seq_id ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |         AS tok_off
         |FROM sp
         |""".stripMargin) { (s, dir) =>
      TextOps.packWithOffsets(Tables.documents(s, dir), col("doc_id"), col("text"))
    },

    // ----- cross-signal calibration: classifier score bins vs the
    // Gopher rules gate, over a quality-RANGE corpus (real documents ∪
    // the planted junk the model was trained against) — monotone table
    // = the trained model ranks quality consistently with the rules;
    // with the r12 stand-in weights this table was flat (~0.47)
    QueryDef("x84_signal_agreement",
      "quality-signal calibration table: TRAINED classifier score (x72 weights) in 10 fixed-width bins x Gopher pass rate (x30) per bin over documents + planted junk — fixed-arithmetic bins (no decile window), one doc-keyed join, 10-row aggregate; monotone pass rate gated in ClassifierSpec")(
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 20000000 AS doc_id,
         |    repeat('click here subscribe now free offer limited deal best price order today ', 12) AS text FROM documents
         |  UNION ALL SELECT doc_id + 30000000 AS doc_id,
         |    repeat('### $$$$$$ ... 000 ', 40) AS text FROM documents
         |  UNION ALL SELECT doc_id + 40000000 AS doc_id,
         |    repeat(CAST(doc_id AS VARCHAR) || ' 404 503 12345 99 ', 20) AS text FROM documents),
         |${tokenHashesD("corpus")},
         |$classifierFeatsD,
         |wt AS (SELECT list(weight ORDER BY bucket) AS wv
         |       FROM read_parquet('${graft.text.Classifier.DefaultWeightsPath}')),
         |scc AS (SELECT doc_id, CAST(len(hx) AS BIGINT) AS n_feats,
         |  CAST(CASE WHEN len(hx) = 0 THEN 0
         |       ELSE list_sum([wv[(h % ${graft.text.Classifier.Dim}) + 1] FOR h IN hx]) END AS BIGINT) AS wsum
         |  FROM fx, wt),
         |sco AS (SELECT doc_id,
         |  CASE WHEN n_feats = 0 THEN 0.0 ELSE CAST(wsum AS DOUBLE) / (n_feats * 1000.0) END AS score
         |  FROM scc),
         |gw AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM n),
         |gm AS (SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(length(t) - len(ws) + 1 AS DOUBLE) / len(ws) AS mwl,
         |  CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
         |  CAST(length(t) - length(replace(t, '#', ''))
         |     + (length(t) - length(replace(t, '...', ''))) / 3 AS BIGINT) AS sym,
         |  CAST((CASE WHEN contains(' ' || t || ' ', ' the ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' a ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' of ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' and ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' to ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' in ') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
         |  FROM gw),
         |gf AS (SELECT doc_id,
         |  (n_words BETWEEN 50 AND 100000)
         |  AND (mwl BETWEEN 3.0 AND 10.0)
         |  AND (CAST(sym AS DOUBLE) / n_words < 0.1)
         |  AND (CAST(alpha_words AS DOUBLE) / n_words > 0.8)
         |  AND (stop_hits >= 2) AS passes
         |  FROM gm),
         |b AS (SELECT least(CAST(9 AS BIGINT), greatest(CAST(0 AS BIGINT),
         |        CAST(floor(score * 5 + 5) AS BIGINT))) AS score_bin, passes
         |      FROM sco JOIN gf USING (doc_id))
         |SELECT score_bin, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass,
         |  round(CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE), 6) AS pass_rate_r
         |FROM b GROUP BY 1
         |""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // repartition: the synthesized quality-range corpus feeds BOTH
      // signal branches — the identical exchange subtree is computed
      // once and re-read per branch (ReuseExchange), and the union of
      // single-split scans fans out to the full parallelism. The count
      // is EXPLICIT (conf-derived) because AQE's bytes-based coalescing
      // read this highly-compressible text exchange as one ~1 MB
      // partition and ran both CPU-heavy branches single-threaded.
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(
        graft.text.Classifier.junkCorpus(docs, col("doc_id"), col("text")))
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      TextOps.signalAgreement(
        TextOps.classifierScore(corpus, col("doc_id"), col("text"),
          graft.text.Classifier.loadWeights(s))
          .select("doc_id", "score"),
        TextOps.gopherFlags(corpus, col("doc_id"), col("text"))
          .select("doc_id", "passes"))
    },

    // ----- data-recipe materializer: temperature-smoothed per-source
    // budgets (alpha = 0.5) realized as a deterministic RNG-free
    // selection — the last selection step before export
    QueryDef("x85_recipe_apply",
      "recipe materializer: per-source budget = floor(sqrt(share)/sum(sqrt(share)) * 2000) (temperature-smoothed mixture), then the two-phase hash-ordered token-budget selection per source with its OWN budget — exact integers everywhere except the ordered-fold normalizer")(
      s"""WITH n AS (SELECT doc_id, source, text, $normD AS t FROM documents),
         |h AS (SELECT doc_id, source AS stratum,
         |        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |        ${charFoldD("t")} AS hk
         |      FROM n),
         |st AS (SELECT stratum, CAST(sum(n_tokens) AS BIGINT) AS st FROM h GROUP BY 1),
         |tt AS (SELECT CAST(sum(st) AS BIGINT) AS tt FROM st),
         |w AS (SELECT stratum, sqrt(CAST(st AS DOUBLE) / tt) AS w FROM st CROSS JOIN tt),
         |z AS (SELECT list_reduce(list(w ORDER BY stratum), (a, x) -> a + x) AS z FROM w),
         |b AS (SELECT stratum, CAST(floor(w / z * CAST(2000 AS DOUBLE)) AS BIGINT) AS budget
         |      FROM w CROSS JOIN z),
         |c AS (SELECT doc_id, stratum, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY stratum ORDER BY hk, doc_id) AS cum_tokens
         |      FROM h)
         |SELECT c.doc_id, c.stratum, c.n_tokens,
         |       CAST(c.cum_tokens AS BIGINT) AS cum_tokens, b.budget
         |FROM c JOIN b USING (stratum) WHERE c.cum_tokens <= b.budget
         |""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      TextOps.tokenBudgetSampleWeighted(docs, col("doc_id"), col("text"),
        col("source"),
        TextOps.recipeBudgets(docs, col("source"), col("text"),
          totalBudget = 2000L))
    },

    // ----- epoch-seeded reshuffle: x44's permutation independently
    // re-drawn per epoch (Lehmer-salted content hash, no RNG state)
    QueryDef("x86_epoch_order",
      "per-epoch training permutations: epochs 0 and 2 under per-epoch Lehmer multipliers ek = hk * 48271^(epoch+1) mod P — each epoch a distinct deterministic global permutation any engine re-derives (an ADDITIVE salt preserves modular order almost everywhere; the multiplier change scrambles it); bucketed two-phase rank, no global sort")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |h AS (SELECT doc_id, ${charFoldD("t")} AS hk FROM n),
         |e AS (SELECT doc_id, 0 AS epoch, (hk * ${TextOps.epochSeed(0)}) % 1000000007 AS ek FROM h
         |      UNION ALL
         |      SELECT doc_id, 2 AS epoch, (hk * ${TextOps.epochSeed(2)}) % 1000000007 AS ek FROM h)
         |SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
         |       CAST(row_number() OVER (PARTITION BY epoch
         |              ORDER BY ek NULLS FIRST, doc_id) AS BIGINT) AS seq
         |FROM e
         |""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      def ep(e: Long) = TextOps.epochOrder(docs, col("doc_id"), col("text"), e)
        .select(col("doc_id"), lit(e).as("epoch"), col("seq"))
      ep(0L).unionAll(ep(2L))
    },

    // ----- exact longest-substring decontam via a generalized suffix
    //       automaton over the benchmark (Lee et al. exact-substring at
    //       token grain) — what fixed 8-gram coverage dilutes at
    //       paraphrase boundaries
    QueryDef("x119_sam_decontam",
      "exact longest-substring decontamination: a generalized suffix automaton over the benchmark's token sequences (docs 0-2, the x38 convention; separator symbols keep runs from crossing doc boundaries) scores every corpus doc's LONGEST contiguous shared token run in one zero-shuffle codegen'd pass — the statistic 8-gram membership dilutes (a 50-token verbatim quote and one shared 8-gram score alike there); docs = 5 get a planted 21-token benchmark slice; reported length capped at 24 so the oracle can enumerate window lengths (the automaton itself is uncapped); contaminated = run >= 8")(
      s"""WITH bn AS (SELECT doc_id AS bid, $normD AS t FROM documents WHERE doc_id < 3),
         |bw AS (SELECT bid, string_split(t, ' ') AS ws FROM bn),
         |c0 AS (SELECT doc_id, $normD AS t FROM documents WHERE doc_id >= 3),
         |plant AS (SELECT c.doc_id,
         |    -- coalesce: DuckDB's array_to_string(EMPTY list) is NULL
         |    -- (not ''), and '||' with NULL nulls the whole doc — the
         |    -- short-benchmark case the boiler adversarial sweep hits
         |    trim(CASE WHEN c.doc_id % 5 = 0
         |      THEN c.t || ' ' || coalesce(array_to_string(b.ws[11:31], ' '), '')
         |      ELSE c.t END) AS t
         |  FROM c0 c JOIN bw b ON b.bid = c.doc_id % 3),
         |cw AS (SELECT doc_id, string_split(t, ' ') AS ws FROM plant),
         |bg AS (SELECT DISTINCT r.L, array_to_string(s.ws[s.p:s.p+r.L-1], ' ') AS g
         |       FROM range(1, 25) r(L),
         |            (SELECT ws, unnest(range(1, len(ws) + 1)) AS p FROM bw) s
         |       WHERE s.p + r.L - 1 <= len(s.ws)
         |         AND array_to_string(s.ws[s.p:s.p+r.L-1], ' ') <> ''),
         |dg AS (SELECT s.doc_id, r.L, array_to_string(s.ws[s.p:s.p+r.L-1], ' ') AS g
         |       FROM range(1, 25) r(L),
         |            (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS p FROM cw) s
         |       WHERE s.p + r.L - 1 <= len(s.ws)
         |         AND array_to_string(s.ws[s.p:s.p+r.L-1], ' ') <> ''),
         |hits AS (SELECT d.doc_id, max(d.L) AS longest
         |         FROM dg d JOIN bg b ON d.L = b.L AND d.g = b.g
         |         GROUP BY d.doc_id)
         |SELECT p.doc_id, CAST(coalesce(h.longest, 0) AS BIGINT) AS longest_match,
         |       coalesce(h.longest, 0) >= 8 AS contaminated
         |FROM plant p LEFT JOIN hits h ON p.doc_id = h.doc_id
         |""".stripMargin) { (s, dir) =>
      import graft.text.TextOps
      val d = Tables.documents(s, dir)
      val bench = d.filter(col("doc_id") < 3)
      val bw = bench.select((col("doc_id") % 3).as("bid"),
        split(TextOps.norm(col("text")), " ").as("ws"))
      val planted = d.filter(col("doc_id") >= 3)
        .select(col("doc_id"), TextOps.norm(col("text")).as("t"),
          (col("doc_id") % 3).as("bid"))
        .join(broadcast(bw), "bid")
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("t"), lit(" "), array_join(slice(col("ws"), 11, 21), " ")))
            .otherwise(col("t")).as("t"))
      graft.dedup.Decontam
        .exactSubstringDecontam(planted, col("doc_id"), col("t"),
          bench, col("text"), minRun = 8L)
        .select(col("doc_id"),
          least(col("longest_match"), lit(24L)).as("longest_match"),
          col("contaminated"))
    },

    // ----- corpus novelty curve: diminishing-returns diagnostic over
    //       ingestion-ordered slices (whose shingles are seen first?)
    QueryDef("x90_novelty_curve",
      "corpus novelty curve: a shingle's first owner is the min doc_id carrying it; per equal doc_id-range decile, total distinct 7-shingles vs shingles owned FIRST by that decile's docs, and the novelty rate — the 'does the Nth crawl slice still add content?' diminishing-returns diagnostic; one gram-keyed min agg (map-side combinable) + doc-keyed counts + an arithmetic range bucket (no global rank window)")(
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |$shinglesD,
         |g AS (SELECT doc_id, unnest(shingles) AS gh FROM sh),
         |fo AS (SELECT gh, min(doc_id) AS fd FROM g GROUP BY gh),
         |nv AS (SELECT fd AS doc_id, count(*) AS n_novel FROM fo GROUP BY fd),
         |pd AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
         |mx AS (SELECT max(doc_id) AS mx FROM documents),
         |b AS (SELECT least(pd.doc_id * 10 // (mx.mx + 1), 9) AS bucket,
         |             pd.n_grams, coalesce(nv.n_novel, 0) AS n_novel
         |      FROM pd LEFT JOIN nv USING (doc_id), mx)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |       CAST(sum(n_grams) AS BIGINT) AS grams,
         |       CAST(sum(n_novel) AS BIGINT) AS novel,
         |       round(CAST(sum(n_novel) AS DOUBLE) / sum(n_grams), 6) AS novelty_rate
         |FROM b GROUP BY bucket
         |""".stripMargin) { (s, dir) =>
      graft.text.TextOps.noveltyCurve(Tables.documents(s, dir),
        col("doc_id"), col("text"))
    },

    // ----- cluster-aware split assignment: near-dups never straddle
    //       train/val/test (leakage zero by construction, vs x67's
    //       after-the-fact audit)
    QueryDef("x92_cluster_splits",
      "cluster-aware train/val/test assignment: split key = the near-dup CLUSTER label (min-label CC over banded MinHash-LSH pairs; unpaired docs key by their own id), Lehmer-mixed and ranged over 8/1/1 cumulative weights — a whole dup clique moves as one unit, so eval-split leakage of a training doc's near-copy is impossible by construction; assignment reproducible from content alone")(
      s"""WITH RECURSIVE $tailDupCorpusD,
         |$candidatesD,
         |und AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM cand
         |        UNION ALL SELECT doc_b, doc_a FROM cand),
         |nodes AS (SELECT DISTINCT u AS node FROM und),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT und.u, reach.lab FROM und JOIN reach ON reach.node = und.v),
         |comp AS (SELECT node AS doc_id, min(lab) AS component FROM reach GROUP BY node),
         |keyed AS (SELECT c.doc_id, coalesce(m.component, c.doc_id) AS cluster_key
         |          FROM corpus c LEFT JOIN comp m USING (doc_id)),
         |r AS (SELECT doc_id, cluster_key,
         |      ((cluster_key % 1000000007) * 48271) % 1000000007 % 10 AS rr FROM keyed)
         |SELECT doc_id, cluster_key,
         |  CASE WHEN rr < 8 THEN 'train' WHEN rr < 9 THEN 'val' ELSE 'test' END AS split
         |FROM r
         |""".stripMargin) { (s, dir) =>
      Dedup.clusterSafeSplits(tailDupCorpus(s, dir), col("doc_id"), col("text"))
    },

    // ----- per-source distribution drift (JS divergence vs the corpus)
    QueryDef("x93_source_drift",
      "per-source token-distribution drift: Jensen-Shannon divergence of each source's distribution vs the corpus-wide one over the global top-64 vocab — bounded, symmetric, finite under missing terms (absent-term mass folded in arithmetically as 0.5*ln2*(1-sum q_present), no source x vocab grid); exact-long ratios, ordered per-source fold — the register/topic-mix drift monitor for a continuously-fed pipeline")(
      s"""WITH n AS (SELECT doc_id, source, $normD AS t FROM documents),
         |tok AS (SELECT source, unnest(string_split(t, ' ')) AS term FROM n),
         |tf AS (SELECT term, count(*) AS gtf FROM tok GROUP BY term),
         |voc AS (SELECT term, gtf FROM tf ORDER BY gtf DESC, term LIMIT 64),
         |tg AS (SELECT sum(gtf) AS tot_g FROM voc),
         |st AS (SELECT source, term, count(*) AS c, min(gtf) AS gtf
         |       FROM tok JOIN voc USING (term) GROUP BY source, term),
         |ts AS (SELECT source, sum(c) AS tot_s FROM st GROUP BY source),
         |ctr AS (SELECT st.source, st.term, st.gtf, tg.tot_g,
         |        CAST(st.c AS DOUBLE)/ts.tot_s AS p,
         |        CAST(st.gtf AS DOUBLE)/tg.tot_g AS q
         |        FROM st JOIN ts USING (source), tg),
         |c2 AS (SELECT source, term, gtf, tot_g,
         |       p*ln(2*p/(p+q)) + q*ln(2*q/(p+q)) AS ctrb FROM ctr),
         |agg AS (SELECT source,
         |        list_reduce(list(ctrb ORDER BY term), (a, x) -> a + x) AS s1,
         |        sum(gtf) AS tfp, min(tot_g) AS tot_g
         |        FROM c2 GROUP BY source)
         |SELECT a.source, CAST(ts.tot_s AS BIGINT) AS n_vocab_tokens,
         |  round(0.5*s1 + 0.5*ln(2)*(1 - CAST(tfp AS DOUBLE)/a.tot_g), 6)
         |    AS js_divergence
         |FROM agg a JOIN ts USING (source)
         |""".stripMargin) { (s, dir) =>
      graft.text.TextOps.sourceDrift(Tables.documents(s, dir),
        col("source"), col("text"))
    },

    // ----- duplicate-cluster size spectrum (dedup health histogram)
    QueryDef("x94_cluster_spectrum",
      "duplicate-cluster size spectrum: per near-dup cluster size k, how many clusters and how many documents — unpaired docs are size-1 clusters so n_docs sums to the corpus; the dedup-health histogram that catches a boilerplate-glued mega-cluster BEFORE any deletion policy runs")(
      s"""WITH RECURSIVE $tailDupCorpusD,
         |$candidatesD,
         |und AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM cand
         |        UNION ALL SELECT doc_b, doc_a FROM cand),
         |nodes AS (SELECT DISTINCT u AS node FROM und),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT und.u, reach.lab FROM und JOIN reach ON reach.node = und.v),
         |comp AS (SELECT node AS doc_id, min(lab) AS component FROM reach GROUP BY node),
         |keyed AS (SELECT coalesce(m.component, c.doc_id) AS cluster
         |          FROM corpus c LEFT JOIN comp m USING (doc_id)),
         |cs AS (SELECT cluster, count(*) AS cluster_size FROM keyed GROUP BY cluster)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |       CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY cluster_size
         |""".stripMargin) { (s, dir) =>
      Dedup.clusterSizeSpectrum(tailDupCorpus(s, dir), col("doc_id"), col("text"))
    },

    // ----- padding-efficiency curve (sequence-length selection)
    QueryDef("x95_padding_curve",
      "padding-efficiency curve: for candidate sequence lengths 128/512/2048/8192, the naive one-doc-per-sequence layout's sequence count, real tokens, padding tokens, and utilization (integer ceil-div, exact) — the curve that picks the training context length before packing, and the baseline x77's packed utilization is judged against")(
      s"""WITH n AS (SELECT doc_id,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS t
         |  FROM documents),
         |e AS (SELECT t, seq_len FROM n, (VALUES (128), (512), (2048), (8192)) ls(seq_len)
         |      WHERE t > 0),
         |c AS (SELECT CAST(seq_len AS BIGINT) AS seq_len, t,
         |        (t + seq_len - 1) // seq_len AS chunks FROM e)
         |SELECT seq_len, CAST(sum(chunks) AS BIGINT) AS n_seqs,
         |  CAST(sum(t) AS BIGINT) AS n_tokens,
         |  CAST(sum(chunks) * seq_len - sum(t) AS BIGINT) AS n_padding,
         |  round(CAST(sum(t) AS DOUBLE) / (sum(chunks) * seq_len), 6) AS efficiency
         |FROM c GROUP BY seq_len
         |""".stripMargin) { (s, dir) =>
      graft.text.TextOps.paddingEfficiency(Tables.documents(s, dir),
        col("doc_id"), col("text"))
    },

    // ----- embedding-space drift between corpus snapshots (x93's
    //       semantic analog: same cells, shifted population shares)
    QueryDef("x96_embedding_drift",
      "embedding-space drift between two corpus snapshots (even/odd vec_id halves): both assigned to the SAME deterministic cell structure (first ceil(sqrt(n)) vectors of the OLD snapshot — the x15 quantizer convention, reference frame pinned to what the pipeline already held); per cell: population share under both snapshots + absolute share delta (TVD = 0.5*sum) — the semantic-mix monitor that fires when the token mix looks stable but the crawl moved in embedding space")(
      s"""WITH o AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |w AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
         |p AS (SELECT least(greatest(CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), 8), 65536) AS nc
         |      FROM o),
         |cent AS (SELECT vec_id AS cid, embedding AS c_emb FROM (
         |           SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS crn
         |           FROM o)
         |         WHERE crn <= (SELECT nc FROM p)),
         |ao AS (SELECT cid FROM (
         |        SELECT e.vec_id, c.cid,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${cosD("e.embedding", "c.c_emb")} DESC, c.cid) AS rn
         |        FROM o e, cent c) WHERE rn = 1),
         |aw AS (SELECT cid FROM (
         |        SELECT e.vec_id, c.cid,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${cosD("e.embedding", "c.c_emb")} DESC, c.cid) AS rn
         |        FROM w e, cent c) WHERE rn = 1),
         |oc AS (SELECT cid, count(*) AS old_n FROM ao GROUP BY cid),
         |wc AS (SELECT cid, count(*) AS new_n FROM aw GROUP BY cid),
         |j AS (SELECT cent.cid, coalesce(oc.old_n, 0) AS old_n,
         |             coalesce(wc.new_n, 0) AS new_n
         |      FROM cent LEFT JOIN oc USING (cid) LEFT JOIN wc USING (cid)),
         |t AS (SELECT sum(old_n) AS ot, sum(new_n) AS nt FROM j)
         |SELECT j.cid, CAST(old_n AS BIGINT) AS old_n, CAST(new_n AS BIGINT) AS new_n,
         |  round(CAST(old_n AS DOUBLE) / t.ot, 6) AS share_old,
         |  round(CAST(new_n AS DOUBLE) / t.nt, 6) AS share_new,
         |  round(abs(CAST(old_n AS DOUBLE) / t.ot - CAST(new_n AS DOUBLE) / t.nt), 6)
         |    AS share_delta
         |FROM j, t
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val oldSnap = emb.filter(col("vec_id") % 2 === 0)
      val newSnap = emb.filter(col("vec_id") % 2 === 1)
      Similarity.embeddingDrift(oldSnap, newSnap,
        Similarity.scaledCells(oldSnap.count()))
    },

    // ----- tokenizer economics per language (fertility parity report)
    QueryDef("x97_tokenizer_fertility",
      "tokenizer parity report: per language, docs / whitespace words / BPE tokens (via the x61-trained merges) / normalized chars, plus fertility = BPE tokens per word and chars per BPE token — the multilingual-tokenizer QA that shows which languages pay more compute per character; exact integer sums, one IEEE division per ratio")(
      s"""${bpeRoundsD(12)},
         |seg AS (SELECT t.doc_id, len(syms) AS n
         |        FROM tok t JOIN w12 USING (w) WHERE t.w <> ''),
         |pd AS (SELECT doc_id, count(*) AS nwords, sum(n) AS nbpe
         |       FROM seg GROUP BY doc_id),
         |sel AS (SELECT doc.lang, pd.nwords, pd.nbpe, len(n2.t) AS ch
         |        FROM pd JOIN documents doc USING (doc_id)
         |        JOIN nw n2 USING (doc_id))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nwords) AS BIGINT) AS n_words,
         |  CAST(sum(nbpe) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(ch) AS BIGINT) AS n_chars,
         |  round(CAST(sum(nbpe) AS DOUBLE) / sum(nwords), 6) AS fertility,
         |  round(CAST(sum(ch) AS DOUBLE) / sum(nbpe), 6) AS chars_per_tok
         |FROM sel GROUP BY lang
         |""".stripMargin) { (s, dir) =>
      TextOps.tokenizerEconomics(Tables.documents(s, dir), col("doc_id"),
        col("text"), col("lang"), nMerges = 12)
    },

    // ----- prototypicality pruning (Sorscher et al.: drop the easiest
    //       examples when data is abundant)
    QueryDef("x98_prototypicality",
      "prototypicality pruning report: every vector ranked within its deterministic cell (first ceil(sqrt(n)) vectors, the x15 convention) by cosine to the cell centroid — rank 1 = most prototypical; the top ceil(cell_n*10/100) per cell flagged pruned (Sorscher et al. 2022: with abundant data, pruning the most prototypical examples beats random)")(
      s"""WITH p AS (SELECT least(greatest(CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), 8), 65536) AS nc
         |      FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS c_emb FROM (
         |           SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS crn
         |           FROM embeddings)
         |         WHERE crn <= (SELECT nc FROM p)),
         |a AS (SELECT vec_id, cid AS cell, cc FROM (
         |        SELECT e.vec_id, c.cid, ${cosD("e.embedding", "c.c_emb")} AS cc,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${cosD("e.embedding", "c.c_emb")} DESC, c.cid) AS rn
         |        FROM embeddings e, cent c) WHERE rn = 1),
         |r AS (SELECT vec_id, cell, cc,
         |        row_number() OVER (PARTITION BY cell ORDER BY cc DESC, vec_id) AS rnk,
         |        count(*) OVER (PARTITION BY cell) AS cell_n
         |      FROM a)
         |SELECT vec_id, cell, round(cc, 6) AS cos_r,
         |  CAST(rnk AS BIGINT) AS rnk, CAST(cell_n AS BIGINT) AS cell_n,
         |  rnk <= ((cell_n * 10 + 99) // 100) AS pruned
         |FROM r
         |""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      Similarity.prototypicality(emb,
        Similarity.scaledCells(emb.count()), prunePct = 10)
    },

    // ----- curriculum training order (banded easy-to-hard schedule)
    QueryDef("x99_curriculum_order",
      "curriculum training order: dense permutation seq in (band, content-hash, doc_id) order — short documents (band = word_count div 25, capped at 7) first, reproducible hash shuffle within each band; x44's bucketed two-phase ranking with the band as major key, never a global one-task sort")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |b AS (SELECT doc_id,
         |        coalesce(least(len(string_split(t, ' ')) // 25, 7),
         |                 -9223372036854775808) AS band,
         |        ${charFoldD("t")} AS hk FROM n)
         |SELECT doc_id, CAST(band AS BIGINT) AS band,
         |  CAST(row_number() OVER (ORDER BY band, hk NULLS FIRST, doc_id) AS BIGINT) AS seq
         |FROM b
         |""".stripMargin) { (s, dir) =>
      val band = least(floor(size(split(TextOps.norm(col("text")), " ")) / 25),
        lit(7L))
      TextOps.curriculumOrder(Tables.documents(s, dir), col("doc_id"),
        col("text"), band)
    },

    // ----- host-graph reputation (integer PageRank-lite over a planted
    //       deterministic link graph: src host -> 'src'||fingerprint%20)
    QueryDef("x100_host_rank",
      "host-graph reputation: 3 rounds of integer PageRank-lite (damping 17/20, scale 1e12, per-edge contribution floor(r*w/W), dangling mass dropped) over a planted deterministic host link graph (each doc links its source host to 'src'||(fingerprint(text) mod 20), self-links removed) — the domain-ranking signal crawl curation applies before content heuristics; exact long arithmetic throughout, engine-portable")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |ed0 AS (SELECT d.source AS src,
         |          'src' || CAST((${charFoldD("t")}) % 20 AS VARCHAR) AS dst
         |        FROM documents d JOIN n USING (doc_id)),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |      FROM ed0 WHERE src <> dst GROUP BY 1, 2),
         |ow AS (SELECT src, sum(w) AS tw FROM e GROUP BY 1),
         |hosts AS (SELECT DISTINCT source AS host FROM documents
         |          UNION SELECT DISTINCT dst FROM e),
         |nn AS (SELECT 1000000000000 // count(*) AS base FROM hosts),
         |r0 AS (SELECT host, (SELECT base FROM nn) AS r FROM hosts),
         |i1 AS (SELECT e.dst, sum((r0.r * e.w) // ow.tw) AS insum
         |       FROM e JOIN r0 ON e.src = r0.host JOIN ow ON e.src = ow.src
         |       GROUP BY e.dst),
         |r1 AS (SELECT h.host, (17 * coalesce(i1.insum, 0) + 3 * (SELECT base FROM nn)) // 20 AS r
         |       FROM hosts h LEFT JOIN i1 ON h.host = i1.dst),
         |i2 AS (SELECT e.dst, sum((r1.r * e.w) // ow.tw) AS insum
         |       FROM e JOIN r1 ON e.src = r1.host JOIN ow ON e.src = ow.src
         |       GROUP BY e.dst),
         |r2 AS (SELECT h.host, (17 * coalesce(i2.insum, 0) + 3 * (SELECT base FROM nn)) // 20 AS r
         |       FROM hosts h LEFT JOIN i2 ON h.host = i2.dst),
         |i3 AS (SELECT e.dst, sum((r2.r * e.w) // ow.tw) AS insum
         |       FROM e JOIN r2 ON e.src = r2.host JOIN ow ON e.src = ow.src
         |       GROUP BY e.dst),
         |r3 AS (SELECT h.host, (17 * coalesce(i3.insum, 0) + 3 * (SELECT base FROM nn)) // 20 AS r
         |       FROM hosts h LEFT JOIN i3 ON h.host = i3.dst)
         |SELECT host, CAST(r AS BIGINT) AS rank,
         |  round(CAST(r AS DOUBLE) / 1000000000000, 6) AS share
         |FROM r3
         |""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
      val edges = d.select(col("source").as("src"),
          concat(lit("src"), pmod(TextOps.fingerprint(TextOps.norm(col("text"))),
            lit(20L))).as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      val hosts = d.select(col("source").as("host"))
        .unionByName(edges.select(col("dst").as("host"))).distinct()
      graft.text.WebGraph.hostRank(hosts, edges, iters = 3)
    },

    // ----- exact heavy hitters at sketch cost (Misra-Gries candidates
    //       -> exact verification pass; native mergeable aggregate)
    QueryDef("x101_heavy_tokens",
      "exact heavy-hitter tokens via the native mergeable Misra-Gries aggregate: one sketch pass reduces every partition to a k=32 summary before the exchange (shuffle volume k*partitions, not the vocabulary), a bounded candidate collect + one exact isin-filtered count keeps tokens with n*(k+1) > N — deterministic and exact despite the sketch (MG never evicts an above-threshold item under any merge order)")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |w AS (SELECT unnest(string_split(t, ' ')) AS item FROM n),
         |ww AS (SELECT item FROM w WHERE item <> ''),
         |t AS (SELECT count(*) AS tot FROM ww)
         |SELECT item, CAST(count(*) AS BIGINT) AS n
         |FROM ww, t GROUP BY item, t.tot HAVING count(*) * 33 > t.tot
         |""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(explode(split(TextOps.norm(col("text")), " ")).as("item"))
        .filter(col("item") =!= "")
      graft.ops.HeavyHitters.exact(toks, col("item"), k = 32)
    },

    // ----- containment dedup (short doc quoted whole inside a long
    //       host — the pair grain Jaccard resemblance dilutes away)
    QueryDef("x102_containment",
      "containment dedup: winnowing candidates (span-guaranteed fingerprints) verified with exact shingle containment |A∩B|/min(|A|,|B|) and the contained side marked — catches a 150-char slice quoted inside its 300+-char host at containment ~1.0 where Jaccard reads ~0.4 and resemblance-gated dedup keeps both; planted corpus embeds substr(text,100,150) of every 10th doc as a standalone document")(
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 20000000 AS doc_id, substr(text, 100, 150) AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |n AS (SELECT doc_id, $normD AS t FROM corpus),
         |hl AS (SELECT doc_id, CASE WHEN len(t) = 0 THEN []::BIGINT[] ELSE [
         |    list_reduce([ord(substr(t, i + j, 1)) FOR j IN range(0, greatest(least(20, len(t) - i + 1), 1))]::BIGINT[],
         |                (acc, x) -> (acc * 31 + x) % 1000000007)
         |    FOR i IN range(1, greatest(len(t) - 19, 1) + 1)] END AS hs FROM n),
         |sel AS (SELECT doc_id, CASE WHEN len(hs) = 0 THEN []::BIGINT[] ELSE list_distinct([
         |    list_min(hs[i:i+7]) FOR i IN range(1, greatest(len(hs) - 7, 1) + 1)]) END AS sel
         |  FROM hl),
         |e AS (SELECT doc_id, unnest(sel) AS h FROM sel),
         |ec AS (SELECT e.doc_id, e.h FROM e
         |       JOIN (SELECT h FROM e GROUP BY h HAVING count(*) <= 64) ok USING (h)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM ec a JOIN ec b ON a.h = b.h AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 3),
         |sh AS (SELECT doc_id, list_distinct([
         |    list_reduce([ord(substr(t, i + j, 1)) FOR j IN range(0, greatest(least(7, len(t) - i + 1), 1))]::BIGINT[],
         |                (acc, x) -> (acc * 31 + x) % 1000000007)
         |    FOR i IN range(1, greatest(len(t) - 6, 1) + 1)]) AS shingles
         |  FROM n),
         |c AS (SELECT p.doc_a, p.doc_b,
         |        len(list_intersect(a.shingles, b.shingles)) AS inter,
         |        len(a.shingles) AS sa, len(b.shingles) AS sb
         |      FROM p JOIN sh a ON p.doc_a = a.doc_id
         |             JOIN sh b ON p.doc_b = b.doc_id)
         |SELECT doc_a, doc_b,
         |  round(CAST(inter AS DOUBLE) / least(sa, sb), 6) AS containment,
         |  CASE WHEN sa <= sb THEN 'a' ELSE 'b' END AS contained
         |FROM c WHERE least(sa, sb) > 0
         |""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = d.unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000000).as("doc_id"),
          substring(col("text"), 100, 150).as("text")))
      val pairs = Dedup.winnowOverlapPairs(corpus, col("doc_id"), col("text"))
        .select("doc_a", "doc_b")
      Dedup.containmentVerify(pairs, corpus, col("doc_id"), col("text"))
    },

    // ----- length-bucketed inference batch plan (dispatch batching:
    //       same-length docs together, token budget per batch)
    QueryDef("x103_batch_plan",
      "length-bucketed inference batch plan: docs batch within their length bucket (n_tokens div 32) in deterministic content-hash order, batch_id = exclusive-prefix-tokens div 500 — same-length docs batch together (padding ~one bucket wide, x95 picks the width) under an activation-memory token budget; exact integer arithmetic, x37's two-phase prefix sum, no per-bucket corpus sort")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |h AS (SELECT d.doc_id,
         |        CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_tokens,
         |        ${charFoldD("n.t")} AS hk
         |      FROM documents d JOIN n ON d.doc_id = n.doc_id),
         |r AS (SELECT doc_id, n_tokens, n_tokens // 32 AS bucket, hk,
         |        sum(n_tokens) OVER (PARTITION BY n_tokens // 32
         |          ORDER BY hk NULLS FIRST, doc_id
         |          ROWS UNBOUNDED PRECEDING) - n_tokens AS prefix
         |      FROM h)
         |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, n_tokens,
         |  CAST(prefix // 500 AS BIGINT) AS batch_id
         |FROM r
         |""".stripMargin) { (s, dir) =>
      TextOps.inferenceBatchPlan(Tables.documents(s, dir), col("doc_id"),
        col("text"), maxTokensPerBatch = 500L, lenBucket = 32)
    },

    // ----- Lempel-Ziv complexity (order-aware compressibility signal)
    QueryDef("x104_lz_complexity",
      "LZ78 incremental-parse complexity per doc: phrases, chars, phrases-per-char — the dictionary-compressibility quality gate (low = template spam that compresses away, ~1 = gibberish; order-aware where x42 entropy is not: 'abababab' and a shuffle of the same chars differ 2x here, 0x there); native codegen'd single pass, oracle replays the parse as a per-char fold with dictionary state in the accumulator")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |f AS (SELECT doc_id, len(t) AS n_chars,
         |  CASE WHEN len(t) = 0 THEN '0' || chr(30) || chr(30)
         |  ELSE list_reduce(
         |    list_prepend('0' || chr(30) || chr(30),
         |      [substr(t, i, 1) FOR i IN range(1, len(t) + 1)]),
         |    (acc, x) -> CASE WHEN list_contains(
         |        string_split(split_part(acc, chr(30), 2), chr(29)),
         |        split_part(acc, chr(30), 3) || x)
         |      THEN split_part(acc, chr(30), 1) || chr(30) ||
         |           split_part(acc, chr(30), 2) || chr(30) ||
         |           split_part(acc, chr(30), 3) || x
         |      ELSE CAST(CAST(split_part(acc, chr(30), 1) AS BIGINT) + 1 AS VARCHAR)
         |           || chr(30) ||
         |           CASE WHEN split_part(acc, chr(30), 2) = ''
         |                THEN split_part(acc, chr(30), 3) || x
         |                ELSE split_part(acc, chr(30), 2) || chr(29) ||
         |                     split_part(acc, chr(30), 3) || x END
         |           || chr(30)
         |      END)
         |  END AS st FROM n),
         |p AS (SELECT doc_id, n_chars,
         |  CAST(split_part(st, chr(30), 1) AS BIGINT) +
         |    (CASE WHEN split_part(st, chr(30), 3) <> '' THEN 1 ELSE 0 END) AS phrases
         |  FROM f)
         |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(phrases AS BIGINT) AS phrases,
         |  CASE WHEN n_chars = 0 THEN 0.0
         |       ELSE round(CAST(phrases AS DOUBLE) / n_chars, 6) END AS lz_ratio
         |FROM p
         |""".stripMargin) { (s, dir) =>
      TextOps.lzComplexity(Tables.documents(s, dir), col("doc_id"), col("text"))
    },

    // ----- Z-order layout locality (OPTIMIZE ZORDER analog)
    QueryDef("x105_zorder_stats",
      "Z-order (Morton) layout locality report over events (user_id x value dollars, 9-bit dims): coarse z-bucket = interleaved-bit key >> 10 (32x32 tiles), per bucket the row count and min/max bounds of BOTH dimensions — the bounding rectangle a file written from that bucket carries in its footer stats; small rectangles on both dims = scans prune on either predicate column, the Delta/Iceberg OPTIMIZE ZORDER claim made measurable; exact bit arithmetic, one map-side-combinable aggregation")(
      s"""WITH q AS (SELECT
         |    least(greatest(CAST(user_id AS BIGINT), 0), 511) AS ca,
         |    least(greatest(CAST(round(value * 100, 0) AS BIGINT) // 100, 0), 511) AS cb
         |  FROM events),
         |m AS (SELECT ca, cb, (${mortonD("ca", "cb", 9)}) AS z FROM q)
         |SELECT z >> 10 AS zbucket, CAST(count(*) AS BIGINT) AS n,
         |  min(ca) AS min_a, max(ca) AS max_a,
         |  min(cb) AS min_b, max(cb) AS max_b
         |FROM m GROUP BY 1
         |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("user_id"),
        graft.ops.Norms.cents(col("value")).as("_cents"))
        .withColumn("_dollars", expr("_cents div 100"))
      graft.ops.ZOrder.bucketRanges(ev, col("user_id"), col("_dollars"),
        bits = 9, shift = 10)
    },

    // ----- KMV distinct sketch per source (mergeable, deterministic)
    QueryDef("x106_kmv_distinct",
      "KMV (k-minimum-values) distinct-user sketch per event type over length-windowed user slices: the native mergeable bottom-32 of poly-hashed keys — k*partitions shuffle regardless of cardinality; output certifies the EXACT sketch contents (mod-P value checksum) plus the (k-1)*P/h_k estimate; the sketch is a pure set bottom-k, deterministic under any partitioning, unlike sampled estimators")(
      s"""WITH f AS (SELECT event_type AS g, user_id FROM events
         |           WHERE user_id BETWEEN length(event_type) * 10
         |                             AND length(event_type) * 10 + 99),
         |d AS (SELECT DISTINCT g, (${charFoldD("CAST(user_id AS VARCHAR)")}) AS h
         |      FROM f),
         |s AS (SELECT g, list_sort(list(h))[1:32] AS sk FROM d GROUP BY g)
         |SELECT g, CAST(len(sk) AS BIGINT) AS n_sk,
         |  CAST(list_sum(sk) % 1000000007 AS BIGINT) AS sk_sum,
         |  round(CASE WHEN len(sk) < 32 THEN CAST(len(sk) AS DOUBLE)
         |             ELSE 31.0 * 1000000007 / sk[32] END, 6) AS est
         |FROM s
         |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).filter(col("user_id").between(
        length(col("event_type")) * 10, length(col("event_type")) * 10 + 99))
      graft.ops.Sketches.kmvDistinct(ev, col("event_type"), col("user_id"), 32)
        .select(col("g"), col("n_sk"),
          expr("CAST(aggregate(sk, CAST(0 AS BIGINT), (a, x) -> a + x) % 1000000007 AS BIGINT)")
            .as("sk_sum"),
          col("est"))
    },

    // ----- KMV set-operation estimates (the overlap question HLL
    //       cannot answer: union sketch + intersection via membership)
    QueryDef("x107_kmv_overlap",
      "cross-source overlap from KMV sketches: for every event-type pair, the union sketch (bottom-32 of merged values — itself a valid KMV sketch) gives est_union, and the fraction of its members present in BOTH input sketches gives est_inter = rho * est_union — set-operation estimates HLL cannot produce; planted length-windowed user slices make every pair's true overlap different; bounded nGroups^2 pair join over 32-value arrays")(
      s"""WITH f AS (SELECT event_type AS g, user_id FROM events
         |           WHERE user_id BETWEEN length(event_type) * 10
         |                             AND length(event_type) * 10 + 99),
         |d AS (SELECT DISTINCT g, (${charFoldD("CAST(user_id AS VARCHAR)")}) AS h
         |      FROM f),
         |s AS (SELECT g, list_sort(list(h))[1:32] AS sk FROM d GROUP BY g),
         |e AS (SELECT g, sk, round(CASE WHEN len(sk) < 32 THEN CAST(len(sk) AS DOUBLE)
         |                    ELSE 31.0 * 1000000007 / sk[32] END, 6) AS est FROM s),
         |p AS (SELECT a.g AS g_a, b.g AS g_b, a.sk AS ska, b.sk AS skb,
         |             a.est AS est_a, b.est AS est_b
         |      FROM e a JOIN e b ON a.g < b.g),
         |u AS (SELECT g_a, g_b, est_a, est_b, ska, skb,
         |        list_sort(list_distinct(ska || skb))[1:32] AS usk FROM p),
         |v AS (SELECT g_a, g_b, est_a, est_b, usk,
         |        CASE WHEN len(usk) < 32 THEN CAST(len(usk) AS DOUBLE)
         |             ELSE 31.0 * 1000000007 / usk[32] END AS eu,
         |        len(list_intersect(usk, list_intersect(ska, skb))) AS ni
         |      FROM u)
         |SELECT g_a, g_b, est_a, est_b, round(eu, 6) AS est_union,
         |  round(CASE WHEN len(usk) = 0 THEN 0.0
         |             ELSE ni * eu / len(usk) END, 6) AS est_inter
         |FROM v
         |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).filter(col("user_id").between(
        length(col("event_type")) * 10, length(col("event_type")) * 10 + 99))
      graft.ops.Sketches.kmvOverlap(
        graft.ops.Sketches.kmvDistinct(ev, col("event_type"), col("user_id"), 32),
        k = 32)
    },

    // ----- span-level decontamination remediation (mask, don't drop)
    QueryDef("x108_span_scrub",
      "span-level decontamination remediation: every word covered by a benchmark-matched 8-gram (benchmark = docs 0-2, the x38 convention) is replaced in place by [scrubbed] and the document is KEPT — production pipelines scrub the quoted passage instead of dropping the page; output rebuilds the text in word order so an exact string compare certifies the remediation; broadcast benchmark grams, (doc,pos)-keyed mask join bounded by matched volume, one ordered reassembly")(
      s"""WITH bn AS (SELECT $normD AS t FROM documents WHERE doc_id < 3),
         |bw AS (SELECT string_split(t, ' ') AS ws FROM bn),
         |bg AS (SELECT DISTINCT
         |         (${charFoldD("array_to_string(ws[q:q+7], ' ')")}) AS h
         |       FROM (SELECT ws, unnest(range(1, len(ws) - 6)) AS q
         |             FROM bw WHERE len(ws) >= 8)),
         |n AS (SELECT doc_id, $normD AS t FROM documents),
         |cw AS (SELECT doc_id, string_split(t, ' ') AS ws FROM n),
         |st AS (SELECT doc_id, q FROM (
         |         SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS q
         |         FROM cw WHERE len(ws) >= 8) s
         |       WHERE (${charFoldD("array_to_string(s.ws[s.q:s.q+7], ' ')")})
         |             IN (SELECT h FROM bg)),
         |cov AS (SELECT DISTINCT doc_id, p FROM (
         |          SELECT doc_id, unnest(range(q, q + 8)) AS p FROM st)),
         |wrd AS (SELECT doc_id, unnest(ws) AS w,
         |               unnest(range(1, len(ws) + 1)) AS p FROM cw),
         |mk AS (SELECT w.doc_id, w.p,
         |         CASE WHEN c.p IS NOT NULL THEN '[scrubbed]' ELSE w.w END AS w,
         |         (c.p IS NOT NULL) AS sc
         |       FROM wrd w LEFT JOIN cov c ON w.doc_id = c.doc_id AND w.p = c.p)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(CASE WHEN sc THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed,
         |  array_to_string(list(w ORDER BY p), ' ') AS scrubbed_text
         |FROM mk GROUP BY doc_id
         |""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
      graft.dedup.Decontam.scrubSpans(d, col("doc_id"), col("text"),
        d.filter(col("doc_id") < 3), col("doc_id"), col("text"))
    },

    // ----- filter-ablation cube (DataComp-style gate-ensemble matrix)
    QueryDef("x110_filter_ablation",
      "filter-ablation cube: every combination AND marginal of the five Gopher sub-gates with doc/token mass per cell (CUBE over 5 booleans -> Expand x32 over a 6-column projection, partial agg collapses to <=3^5 cells before the exchange); gid is the grouping bitmask, first gate = MSB in both engines")(
      s"""WITH n AS (SELECT doc_id, $normD AS t FROM documents),
         |w AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM n),
         |m AS (SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(length(t) - len(ws) + 1 AS DOUBLE) / len(ws) AS mwl,
         |  CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
         |  CAST(length(t) - length(replace(t, '#', ''))
         |     + (length(t) - length(replace(t, '...', ''))) / 3 AS BIGINT) AS sym,
         |  CAST((CASE WHEN contains(' ' || t || ' ', ' the ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' a ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' of ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' and ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' to ') THEN 1 ELSE 0 END)
         |     + (CASE WHEN contains(' ' || t || ' ', ' in ') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
         |  FROM w),
         |f AS (SELECT doc_id, n_words,
         |  n_words BETWEEN 50 AND 100000 AS words_ok,
         |  mwl BETWEEN 3.0 AND 10.0 AS mwl_ok,
         |  CAST(sym AS DOUBLE) / n_words < 0.1 AS sym_ok,
         |  CAST(alpha_words AS DOUBLE) / n_words > 0.8 AS alpha_ok,
         |  stop_hits >= 2 AS stops_ok
         |  FROM m)
         |SELECT words_ok, mwl_ok, sym_ok, alpha_ok, stops_ok,
         |  CAST(grouping(words_ok, mwl_ok, sym_ok, alpha_ok, stops_ok) AS BIGINT) AS gid,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_tokens
         |FROM f
         |GROUP BY CUBE (words_ok, mwl_ok, sym_ok, alpha_ok, stops_ok)
         |""".stripMargin) { (s, dir) =>
      TextOps.filterAblation(Tables.documents(s, dir), col("doc_id"), col("text"))
    },

    // ----- Count-Min point-frequency certificate (third native
    //       mergeable aggregate: cell counters are pure sums, so the
    //       sketch is deterministic and oracle-hashable)
    QueryDef("x111_cms_freq",
      "Count-Min sketch point-frequency certificate: one native cms_sketch(4x256) pass over the corpus word stream (depth*width longs per map partition before a single-row exchange — shuffle independent of corpus and vocabulary), then est-vs-exact for the top-10 words; overcount >= 0 always (one-sided CMS guarantee), estimates deterministic because counters are order-independent pure sums")({
      val d = 4; val wdt = 256
      val mul = graft.plans.CmsSketchAgg.rowMultipliers(d)
      val p2 = graft.plans.CmsSketchAgg.P
      val mvals = (0 until d).map(r => s"($r, ${mul(r)})").mkString(", ")
      s"""WITH n AS (SELECT $normD AS t FROM documents),
         |wd AS (SELECT unnest(string_split(t, ' ')) AS w FROM n),
         |dw AS (SELECT w, count(*) AS cnt FROM wd WHERE w <> '' GROUP BY w),
         |hx AS (SELECT w, cnt, (${charFoldD("w")}) AS h FROM dw),
         |m AS (SELECT * FROM (VALUES $mvals) t(r, mul)),
         |cells AS (SELECT m.r AS r, ((h * m.mul + m.r) % $p2) % $wdt AS c,
         |            sum(cnt) AS cn
         |          FROM hx CROSS JOIN m GROUP BY 1, 2),
         |pr AS (SELECT w, cnt, h FROM hx ORDER BY cnt DESC, w LIMIT 10),
         |pe AS (SELECT p.w, p.cnt, min(c2.cn) AS est
         |       FROM pr p CROSS JOIN m
         |       JOIN cells c2 ON c2.r = m.r
         |                    AND c2.c = ((p.h * m.mul + m.r) % $p2) % $wdt
         |       GROUP BY 1, 2)
         |SELECT w, CAST(cnt AS BIGINT) AS exact, CAST(est AS BIGINT) AS est,
         |       CAST(est - cnt AS BIGINT) AS overcount
         |FROM pe
         |""".stripMargin}) { (s, dir) =>
      graft.ops.Sketches.cmsWordFreq(Tables.documents(s, dir),
        col("doc_id"), col("text"), depth = 4, width = 256, nProbes = 10)
    },

    // ----- data-pruning frontier (quality-vs-quantity trade per decile)
    QueryDef("x109_pruning_frontier",
      "data-pruning frontier: corpus ranked best-first by the trained classifier score (exact micro-unit bands via the bucketed two-phase rank — no global sort) and cut into 10 equal-population deciles; per decile docs / tokens / mean score — the curve that picks a keep-rate: what keeping the top k deciles costs in tokens and buys in quality; mean aggregates exact integer micro-units, one final division")(
      s"""WITH ${tokenHashesD("documents")},
         |$classifierFeatsD,
         |wt AS (SELECT list(weight ORDER BY bucket) AS wv
         |       FROM read_parquet('${graft.text.Classifier.DefaultWeightsPath}')),
         |sc AS (SELECT doc_id, CAST(len(hx) AS BIGINT) AS n_feats,
         |  CAST(CASE WHEN len(hx) = 0 THEN 0
         |       ELSE list_sum([wv[(h % ${graft.text.Classifier.Dim}) + 1] FOR h IN hx]) END AS BIGINT) AS wsum
         |  FROM fx, wt),
         |s2 AS (SELECT doc_id,
         |  round(CASE WHEN n_feats = 0 THEN 0.0 ELSE CAST(wsum AS DOUBLE) / (n_feats * 1000.0) END, 6) AS score
         |  FROM sc),
         |nn AS (SELECT count(*) AS n FROM s2),
         |b AS (SELECT s.doc_id, s.score,
         |        -CAST(round(s.score * 1000000, 0) AS BIGINT) AS band,
         |        (${charFoldD("n2.t")}) AS hk,
         |        CAST(len(w2.ws) AS BIGINT) AS ntok
         |      FROM s2 s JOIN n n2 ON s.doc_id = n2.doc_id
         |                JOIN w w2 ON s.doc_id = w2.doc_id),
         |r AS (SELECT doc_id, score, ntok,
         |        row_number() OVER (ORDER BY band, hk NULLS FIRST, doc_id) AS seq
         |      FROM b)
         |SELECT ((seq - 1) * 10) // (SELECT n FROM nn) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(round(score * 1000000, 0) AS BIGINT)) AS DOUBLE)
         |        / count(*) / 1000000.0, 6) AS mean_score
         |FROM r GROUP BY 1
         |""".stripMargin) { (s, dir) =>
      TextOps.pruningFrontier(Tables.documents(s, dir), col("doc_id"),
        col("text"), graft.text.Classifier.loadWeights(s))
    }
  )

  /** Morton bit-interleave fragment for the oracle: bit i of `a` at
    * position 2i, bit i of `b` at 2i+1 — the exact term sum
    * [[graft.ops.ZOrder.morton]] computes with Column shifts. */
  private def mortonD(a: String, b: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Shared BPE-round CTE chain for the x61/x63 oracles: one
    * (pair-count, argmax, rewrite) triple per round, chained w0 → wN.
    * MATERIALIZED is load-bearing: each round references its
    * predecessor twice (pair counts + rewrite), so inlining would
    * expand w0 2^N times. The rewrite mirrors `bpeMergeStep`'s greedy
    * leftmost fold with the accumulator list encoded as a
    * chr(31)-joined string (DuckDB's list_reduce accumulator must have
    * the element type; 0x1f is not regex \\s, but it cannot appear in
    * real text, and the Spark side never encodes at all). `tok`
    * carries doc_id so the x63 final select can dictionary-join the
    * word stream back against the segmented inventory. */
  private def bpeRoundsD(nMerges: Int): String = {
    val sep = "chr(31)"
    val rounds = (1 to nMerges).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS MATERIALIZED (SELECT syms[i] AS lft, syms[i+1] AS rgt, sum(wc) AS c
         |  FROM (SELECT wc, syms, unnest(range(1, len(syms))) AS i
         |        FROM $prev WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT lft, rgt, lft || rgt AS m, c FROM p$r
         |  ORDER BY c DESC, lft, rgt LIMIT 1),
         |w$r AS MATERIALIZED (SELECT w, wc,
         |  CASE WHEN len(syms) < 2 THEN syms ELSE
         |    string_split(list_reduce(syms, (acc, x) ->
         |      CASE WHEN string_split(acc, $sep)[-1] = b.lft AND x = b.rgt
         |           THEN array_to_string(list_append(
         |                  list_slice(string_split(acc, $sep), 1,
         |                             len(string_split(acc, $sep)) - 1), b.m), $sep)
         |           ELSE acc || $sep || x END), $sep)
         |  END AS syms
         |  FROM $prev, b$r b)""".stripMargin
    }.mkString(",\n")
    s"""WITH nw AS (SELECT doc_id, $normD AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM nw),
       |w0 AS MATERIALIZED (SELECT w, count(*) AS wc,
       |  list_append([substr(w, i, 1) FOR i IN range(1, len(w) + 1)], '</w>') AS syms
       |  FROM tok WHERE w <> '' GROUP BY w),
       |$rounds""".stripMargin
  }

  private def bpeMergesOracleD(nMerges: Int): String = {
    val sel = (1 to nMerges).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, lft, rgt, m AS merged," +
        s" CAST(c AS BIGINT) AS pair_count FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""${bpeRoundsD(nMerges)}
       |$sel
       |""".stripMargin
  }

  private def bpeEncodeOracleD(nMerges: Int): String = {
    val joined = "array_to_string(syms, ' ')"
    s"""${bpeRoundsD(nMerges)},
       |seg AS (SELECT t.doc_id, len(syms) AS n, ${charFoldD(joined)} AS fp
       |        FROM tok t JOIN w$nMerges USING (w) WHERE t.w <> '')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n) AS BIGINT) AS n_bpe_tokens,
       |       CAST(sum(fp) % 1000000007 AS BIGINT) AS sym_sum
       |FROM seg GROUP BY doc_id
       |""".stripMargin
  }
}
