package graft

/** Plan-SHAPE regression gate: ExplainAudit prints plans for a human to
  * read, but nothing failed the build if a plan silently degraded — a
  * lost PartitionFilter, a join decaying to CartesianProduct, a forced
  * broadcast sneaking onto an unbounded side would all pass `sbt test`.
  * This spec asserts the key scale invariants on the PLANS themselves
  * (no data correctness — the oracle gate owns that):
  *
  *  - no query ever plans a CartesianProduct;
  *  - BroadcastNestedLoopJoin appears ONLY in queries that deliberately
  *    `crossJoin(broadcast(tiny))` a bounded side (whitelisted here, so
  *    a new unbounded nested-loop join fails the build);
  *  - forced broadcast HINTS exist only where a side is bounded by
  *    construction (whitelist; x36's corpus-derived boilerplate set and
  *    x37's offsets frame must stay hint-free / stats-decided);
  *  - d05's scan actually prunes partitions;
  *  - a07's per-group top-k stays a WindowGroupLimit, not a full sort;
  *  - x37's running sum stays bucketed (an exchange on (stratum, _bkt)),
  *    never one window partition per stratum.
  *
  * Queries are PLANNED at sf0.001, not executed — except the few whose
  * construction itself runs jobs (d05's bronze write, x15/x32's sizing
  * count, x23's iteration), which is why this spec clears the cache per
  * query and runs at the smallest SF. */
class PlanAuditSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def qe(name: String) =
    SparkEntry.queries(name)(spark, sfDir).queryExecution

  /** Physical plan string (AdaptiveSparkPlan prints its initial plan —
    * string checks below target operator names, which survive AQE). */
  private def physical(name: String): String = {
    val p = qe(name).executedPlan.toString
    spark.catalog.clearCache()
    p
  }

  private def analyzed(name: String): String = {
    val p = qe(name).analyzed.toString
    spark.catalog.clearCache()
    p
  }

  private def scaleKillers(plan: String): Seq[String] =
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains)

  // queries that intentionally crossJoin(broadcast(<bounded side>)) and
  // therefore plan a BroadcastNestedLoopJoin — each side bounded by
  // construction, reviewed case by case
  private val intendedNestedLoop: Set[String] = Set(
    "a08_positions_fanout",       // 20-user set x distinct 15-min windows
    "d02_incremental_watermark",  // singleton high-watermark max row
    "d10_schema_drift",           // declared-key literal set x day buckets
    "p15_empty_snapshot",         // distinct windows (bounded time range)
    "x06_cosine_topk",            // fixed query set (exact baseline)
    "x15_ann_ivf_cosine",         // centroid set (scaledCells-capped)
    "x18_tfidf_topterms",         // singleton doc-count row
    "x32_semantic_dedup",         // centroid set
    "x33_mixture_weights",        // singleton corpus-totals row
    "x39_dsir_weights",           // singleton (qtot, ptot) totals row
    "x43_ivfpq_topk_cosine",      // coarse-centroid set (scaledCells)
    "x47_cell_sample",            // centroid set (scaledCells-capped)
    "x52_mmr_rerank",             // single-row query vector
    "x53_bm25_topk",              // singleton corpus-stats row
    "x54_temp_sample",            // singleton token-totals row
    "x71_hard_negatives",         // fixed query batch (training-batch sized)
    "x73_epoch_plan",             // singleton source-count row
    "x80_triplets",               // fixed anchor batch (x71 composition)
    "x81_rrf_fusion",             // single-row dense query vector (x52 shape)
    "x85_recipe_apply",           // singleton totals + bounded normalizer rows
    "x90_novelty_curve",          // singleton max-doc-id row (range bucket)
    "x93_source_drift",           // singleton vocab-total row
    "x96_embedding_drift",        // centroid set (scaledCells) + totals row
    "x98_prototypicality",        // centroid set (scaledCells-capped)
    "x107_kmv_overlap",           // nGroups^2 pair join over k-value sketches
    "x111_cms_freq"               // single-row CMS sketch (depth*width longs)
  )

  // queries whose ANALYZED plan may carry a ResolvedHint (broadcast of a
  // bounded side, or j04's merge hint that demonstrates the bucketed
  // SMJ). x36/x37 must NOT appear here: their joined sides grow with the
  // corpus, so strategy is AQE's call
  private val intendedHints: Set[String] = Set(
    "a08_positions_fanout",       // bounded user x window grid
    "d02_incremental_watermark",  // singleton max
    "d10_schema_drift",           // declared-key literal set (a few names)
    "j01_star_join",              // nation/region dims
    "j04_bucketed_join",          // hint("merge"): bucketed SMJ on purpose
    "p11_dim_lookup",             // token->outcome dim
    "p15_empty_snapshot",         // distinct windows
    "x06_cosine_topk",            // fixed query set
    "x15_ann_ivf_cosine",         // centroid set (scaledCells-capped)
    "x18_tfidf_topterms",         // singleton doc count
    "x22_quantile_sketch",        // per-event-type thresholds
    "x24_decontamination",        // benchmark contamination set
    "x28_bloom_decontam",         // benchmark contamination set
    "x32_semantic_dedup",         // centroid set
    "x33_mixture_weights",        // singleton totals
    "x38_fuzzy_decontam",         // benchmark-gram set (eval-set bounded)
    "x39_dsir_weights",           // log-ratio table (<= m rows) + totals
    "x43_ivfpq_topk_cosine",      // centroids + codebook/LUT/query sets
    "x47_cell_sample",            // centroid set (scaledCells-capped)
    "x52_mmr_rerank",             // single-row query vector
    "x53_bm25_topk",              // per-term df (query-bounded) + stats row
    "x54_temp_sample",            // singleton token-totals row
    // x55 stays hint-free: the eval side is small in practice but the
    // join strategy is AQE's call — the x36 discipline
    "x57_oov_stats",              // vocab (bounded by the V constant)
    "x71_hard_negatives",         // fixed query batch (training-batch sized)
    "x73_epoch_plan",             // singleton source-count row
    "x80_triplets",               // fixed anchor batch (x71 composition)
    "x81_rrf_fusion",             // single-row dense query vector + x53's bounded stats
    "x85_recipe_apply",           // singleton token-totals + normalizer rows
    "x90_novelty_curve",          // singleton max-doc-id row (range bucket)
    "x93_source_drift",           // top-V vocab (bounded) + totals row
    "x96_embedding_drift",        // centroid set (scaledCells) + totals row
    "x98_prototypicality",        // centroid set (scaledCells-capped)
    "x108_span_scrub",            // benchmark gram set (eval-set bounded)
    "x111_cms_freq",              // single-row CMS sketch (depth*width longs)
    "x119_sam_decontam"           // benchmark token arrays (eval-set bounded, 3 docs)
  )

  test("no query plans a CartesianProduct; nested-loop joins only where intended") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
      scaleKillers(physical(n)).map(op => (n, op))
    }
    val bad = offenders.filterNot { case (n, op) =>
      op == "BroadcastNestedLoopJoin" && intendedNestedLoop(n)
    }
    assert(bad.isEmpty, s"scale-killer join in: $bad")
    // the whitelist must not rot: every entry still plans its BNLJ
    val withBnlj = offenders.collect {
      case (n, "BroadcastNestedLoopJoin") => n }.toSet
    assert(withBnlj == intendedNestedLoop,
      s"stale intendedNestedLoop whitelist: planned=$withBnlj")
  }

  test("forced broadcast hints only on bounded sides (whitelist)") {
    val hinted = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => analyzed(n).contains("ResolvedHint")).toSet
    assert(hinted == intendedHints,
      s"hint whitelist drift: hinted=$hinted — a hint on a corpus-sized " +
        "side is an executor OOM at scale; justify + whitelist or remove")
  }

  test("d05 scan prunes partitions (PartitionFilters on event_type)") {
    val p = physical("d05_partition_prune")
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(p).nonEmpty,
      s"partition pruning lost:\n$p")
  }

  test("a07 per-group top-k plans a WindowGroupLimit") {
    assert(physical("a07_topk_positions").contains("WindowGroupLimit"))
  }

  test("x47 quota rank plans a partial WindowGroupLimit (skew-bounded before the exchange)") {
    // the Partial stage is what caps a degenerate cell at tasks x perCell
    // rows in the final sort — losing it would make a hot cell a
    // one-task corpus sort
    val p = physical("x47_cell_sample")
    assert("WindowGroupLimit .*Partial".r.findFirstIn(p).nonEmpty,
      s"partial rank-limit pushdown lost on the quota rank:\n$p")
  }

  test("x51 domain cap plans a partial WindowGroupLimit (hot domain never a one-task sort)") {
    val p = physical("x51_domain_cap")
    assert("WindowGroupLimit .*Partial".r.findFirstIn(p).nonEmpty,
      s"partial rank-limit pushdown lost on the domain cap:\n$p")
  }

  test("x37 running sum is bucketed: exchange on (stratum, _bkt), two windows") {
    val p = physical("x37_token_budget")
    assert("hashpartitioning\\(stratum#\\d+, _bkt#\\d+".r.findFirstIn(p).nonEmpty,
      s"per-bucket window partitioning lost — one-task-per-stratum sort?\n$p")
    assert("(?m)^\\s*[+:]?-?\\s*Window ".r.findAllIn(p).size >= 2,
      s"expected offset window + per-bucket window:\n$p")
  }

  test("x44 global rank is bucketed: the corpus-sized window partitions by _bkt") {
    val p = physical("x44_train_order")
    assert("hashpartitioning\\(_bkt#\\d+".r.findFirstIn(p).nonEmpty,
      s"bucketed rank partitioning lost — global one-task sort?\n$p")
  }

  test("x02/x05/x34 pair buckets in one pass: one collecting aggregate on the bucket key feeding two Generates, no join") {
    // the r20 one-pass shape of Dedup.bucketPairs: a persist + equi-self-
    // join on the bucket key coming back would run the fingerprint
    // pipeline once per join side
    import org.apache.spark.sql.catalyst.expressions.aggregate.Final
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case _ => p
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
    def pathTo(p: SparkPlan, target: SparkPlan): Option[Seq[SparkPlan]] =
      if (p eq target) Some(Nil)
      else p.children.iterator.map(pathTo(_, target)).collectFirst {
        case Some(path) => p +: path
      }
    Seq("x02_minhash_lsh" -> Seq("band_id", "band_key"),
      "x05_simhash_pairs" -> Seq("band_id", "band_val"),
      "x34_winnow_overlap" -> Seq("h")).foreach { case (q, keys) =>
      val root = unwrap(qe(q).executedPlan)
      spark.catalog.clearCache()
      val all = nodes(root)
      val buckets = all.collect {
        case a: BaseAggregateExec if a.groupingExpressions.map(_.name) == keys &&
          a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.mode == Final) => a
      }
      assert(buckets.size === 1, s"$q: final aggregates on $keys:\n$root")
      val agg = buckets.head
      val gens = pathTo(root, agg).get.collect { case g: GenerateExec => g }
      assert(gens.size === 2 && gens.forall(_.generator.references.exists(r =>
          agg.output.exists(_.exprId == r.exprId))),
        s"$q: expected two explodes of the collected bucket above it:\n$root")
      val keyJoins = all.collect {
        case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys)
          .flatMap(_.references.map(_.name)).exists(keys.contains) => j
      }
      assert(keyJoins.isEmpty, s"$q: join on the bucket key:\n$root")
    }
  }

  /** WindowExec / WindowGroupLimitExec nodes whose partitionSpec is
    * EMPTY — a truly global window, i.e. one task sorting the whole
    * input. Bounded post-`limit` windows in this codebase carry an
    * explicit `partitionBy(lit(0))` (same single-partition plan, but
    * visibly intentional), so any empty spec here is a regression.
    * Descends through the AQE wrapper, which is a leaf node. */
  private def globalWindows(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val here = p match {
      case a: AdaptiveSparkPlanExec => globalWindows(a.executedPlan)
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq(w.simpleString(120))
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        Seq(w.simpleString(120))
      case _ => Nil
    }
    here ++ p.children.flatMap(globalWindows)
  }

  test("no query plans an unpartitioned (global) window") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
      val gw = globalWindows(qe(n).executedPlan)
      spark.catalog.clearCache()
      gw.map(w => (n, w))
    }
    assert(offenders.isEmpty,
      s"global window (one-task sort of its whole input): $offenders")
  }

  test("the global-window detector itself still detects (negative control)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val bad = Seq(1, 2).toDF("a")
      .withColumn("r", row_number().over(Window.orderBy("a")))
    assert(globalWindows(bad.queryExecution.executedPlan).nonEmpty,
      "detector failed to flag a deliberately-global window")
    // the non-foldable always-zero key (the codebase's explicit
    // single-partition idiom — a bare lit(0) would be constant-folded
    // back to a global window) is NOT flagged
    import org.apache.spark.sql.functions.{lit, pmod, col}
    val ok = Seq(1, 2).toDF("a")
      .withColumn("r", row_number().over(
        Window.partitionBy(pmod(col("a"), lit(1))).orderBy("a")))
    assert(globalWindows(ok.queryExecution.executedPlan).isEmpty,
      "detector wrongly flags the explicit pmod(col,1) single-partition form")
  }

  test("the scale-killer detector itself still detects (negative control)") {
    import spark.implicits._
    val l = Seq(1, 2).toDF("a")
    val r = Seq(3, 4).toDF("b")
    val cross = l.crossJoin(r).queryExecution.executedPlan.toString
    assert(scaleKillers(cross).nonEmpty,
      "detector failed to flag a bare cross join")
  }
}
