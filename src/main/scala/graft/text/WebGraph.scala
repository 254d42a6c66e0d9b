package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Host-graph reputation for crawl curation: a deterministic integer
  * PageRank-lite over the domain link graph — the signal CommonCrawl-
  * style pipelines use to rank domains before content heuristics ever
  * run (harmonic-centrality / PageRank domain ranking; a host linked by
  * many reputable hosts is likelier to host quality documents than one
  * only it links to itself).
  *
  * Numeric discipline: every rank is a scaled INTEGER (`scale` total
  * mass split exactly), every update exact long arithmetic — per-edge
  * contribution ⌊r·w / W⌋ (w = edge weight, W = source out-weight),
  * damped update ⌊(17·Σin + 3·base) / 20⌋ (damping 0.85 = 17/20,
  * base = ⌊scale/N⌋). Long sums are order-free, so any engine replays
  * the iterations bit-identically — no IEEE accumulation anywhere.
  * Truncation loses < 1 unit per edge per round of `scale`-denominated
  * mass (pick scale ≫ edges; default 10¹²). Mass of dangling hosts
  * (no out-edges) is dropped, not redistributed — declared semantics,
  * mirrored by the oracle. Caller chooses `scale` so that
  * scale × max edge weight < 2⁶³ (at 10¹² that allows ~9·10⁶ docs per
  * edge; shrink scale for bigger corpora).
  *
  * Scale shape: the host graph is corpus-SUBLINEAR (hosts ≪ documents;
  * edges bounded by host pairs seen). Each iteration is one equi-join
  * of the edge list against the current nHosts-row rank frame (AQE
  * broadcasts the rank side) + one dst-keyed sum, map-side combinable;
  * `iters` is a small constant so the driver loop is CC-discipline
  * (count-free, bounded rounds, no per-round collect). The edge list
  * with out-weights is persist()ed — read once per iteration; CACHE
  * LIFETIME CONTRACT as on graft.dedup.Dedup (callers clearCache after
  * consuming). */
object WebGraph {

  /** @param hosts  universe frame (host: String) — includes dangling
    *               hosts so every host gets a rank
    * @param edges  (src, dst, w) weighted link counts; duplicate pairs
    *               are summed, self-link policy is the caller's (filter
    *               before passing if unwanted)
    * @param iters  fixed power-iteration count
    * @param scale  total integer rank mass
    * @return (host, rank: Long, share: Double rounded 1e-6) */
  def hostRank(hosts: DataFrame, edges: DataFrame, iters: Int = 3,
               scale: Long = 1000000000000L): DataFrame =
    hostRankAt(hosts, edges, iters, scale, LocalGraphThreshold)

  /** Row bound (nHosts + nEdges) under which [[hostRank]] replays the
    * iterations on the DRIVER from one bounded collect: every update is
    * exact long arithmetic (order-free by design — that is the
    * operator's declared numeric discipline), so the replay is
    * bit-identical while removing the per-iteration AQE job cascade
    * (measured: x100 at 22 driver jobs for 3 iterations over a
    * ~100-host graph). 2M rows bounds the collect at tens of MB — the
    * [[graft.dedup.Dedup.CcLocalEdgeThreshold]] discipline; host graphs
    * are corpus-sublinear but NOT constant, so past the bound the
    * distributed loop runs unchanged. */
  val LocalGraphThreshold: Long = 2000000L

  /** [[hostRank]] with an explicit local-dispatch threshold —
    * package-private so WebGraphSpec can pin local == distributed. */
  private[graft] def hostRankAt(hosts: DataFrame, edges: DataFrame,
                                iters: Int, scale: Long,
                                localThreshold: Long): DataFrame = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    require(scale > 0, s"scale must be positive, got $scale")
    val e0 = edges.groupBy("src", "dst").agg(sum(col("w")).as("w"))
    val outw = e0.groupBy("src").agg(sum(col("w")).as("tw"))
    // both relations are re-read per iteration by ONE final execution
    // (the loop builds a single nested plan), so they must be
    // MATERIALIZED, not just lazily cached: sibling AQE stages racing a
    // cold cache recompute the full edge derivation per iteration (r20
    // profile). The host universe is persisted too — its count below
    // doubles as the eager materialization.
    val e = e0.join(outw, "src").persist()
    val nEdges = e.count()
    val h = hosts.persist()
    val nHosts = h.count()
    require(nHosts > 0, "host universe is empty")
    val base = scale / nHosts
    if (nHosts + nEdges <= localThreshold)
      return hostRankLocal(h, e, iters, scale, base)
    var r = h.select(col("host"), lit(base).as("r"))
    for (_ <- 1 to iters) {
      val insum = e.join(r, e("src") === r("host"))
        .select(col("dst"), expr("r * w div tw").as("_c"))
        .groupBy("dst").agg(sum(col("_c")).as("_in"))
      r = h.join(insum, h("host") === insum("dst"), "left")
        .select(col("host"),
          expr(s"(17 * coalesce(_in, 0L) + 3 * ${base}L) div 20").as("r"))
    }
    r.select(col("host"), col("r").as("rank"),
      round(col("r").cast("double") / scale, 6).as("share"))
  }

  /** Driver-local replay of the iterations (see [[LocalGraphThreshold]]).
    * Integer `div` truncates toward zero exactly like Java `/`, and long
    * sums are order-free, so ranks are bit-identical to the distributed
    * loop; `share` is computed by the SAME Spark round expression on the
    * parallelized result so even the final double rounding shares one
    * code path. Edges whose src is outside the host universe contribute
    * nothing (the distributed equi-join drops them the same way). */
  private def hostRankLocal(h: DataFrame, e: DataFrame, iters: Int,
                            scale: Long, base: Long): DataFrame = {
    val spark = h.sparkSession
    val hostArr = h.select(col("host")).collect().map(_.getString(0))
    val edgeArr = e.select(col("src"), col("dst"), col("w"), col("tw"))
      .collect()
    var r = scala.collection.mutable.HashMap.empty[String, Long]
    hostArr.foreach(host => r(host) = base)
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.HashMap.empty[String, Long]
      edgeArr.foreach { row =>
        r.get(row.getString(0)).foreach { rs =>
          val c = rs * row.getLong(2) / row.getLong(3)
          val dst = row.getString(1)
          in(dst) = in.getOrElse(dst, 0L) + c
        }
      }
      val next = scala.collection.mutable.HashMap.empty[String, Long]
      hostArr.foreach { host =>
        next(host) = (17L * in.getOrElse(host, 0L) + 3L * base) / 20L
      }
      r = next
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("host",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType)))
    val rows = hostArr.map(host => org.apache.spark.sql.Row(host, r(host)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq,
        math.max(1, spark.sparkContext.defaultParallelism)), schema)
      .select(col("host"), col("rank"),
        round(col("rank").cast("double") / scale, 6).as("share"))
  }
}
