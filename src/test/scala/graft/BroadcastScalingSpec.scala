package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Broadcast-size regression gate (r17 verdict task 2's missing piece):
  * PlanAuditSpec pins broadcast HINTS to a justified whitelist, but a
  * hinted side that silently starts growing with the corpus would still
  * pass — the hint is whitelisted, the size is not. This spec executes
  * every query at sf0.001 AND sf0.1 and reads the REAL per-broadcast
  * `numOutputRows` metrics from the final (post-AQE) physical plans.
  * (Rows, not `dataSize`: a long-keyed HashedRelation's dataSize is
  * dominated by its fixed ~64 MB map preallocation, which reads as a
  * constant regardless of content.)
  *
  * Invariant: when a query plans the same number of broadcasts at both
  * SFs, each (rank-matched) broadcast may grow at most 5× across the
  * 10× data step — bounded sides (dims, query sets, totals rows) stay
  * ~constant, √n-scaled centroid sets grow ~3.2×, and anything tracking
  * the corpus linearly reads ~10× and fails. Queries where AQE chooses
  * different join strategies per SF (different broadcast counts) skip
  * the ratio — AQE-converted broadcasts are threshold-bounded by
  * construction, which is exactly the safe case.
  *
  * Every forced broadcast that grows linearly fails the build.
  * Complements (does not replace) the static whitelists: those pin
  * intent, this pins measured rows. */
class BroadcastScalingSpec extends SparkSpec {

  /** Per-broadcast output rows with stats/AQE auto-broadcast DISABLED:
    * under threshold −1 the only joins that still plan a
    * BroadcastExchange are hint-FORCED ones — exactly the class whose
    * size is not self-correcting at scale (a stats-decided broadcast
    * simply stops being chosen once its side outgrows the threshold; a
    * forced one OOMs the executors instead). */
  private def broadcastRows(name: String, sfDir: String): Seq[Long] = {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.toRdd.count() // execute: AQE finalizes + metrics fill
      // descend through AQE wrappers, query stages, AND persisted
      // subtrees (a forced broadcast inside a cached subtree runs in
      // the cache-materialization job — the final plan only shows the
      // InMemoryTableScan); identity-dedup so a cache read from both
      // sides of a self-join counts its broadcasts once
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
      def collect(p: SparkPlan): Seq[Long] = {
        if (!seen.add(p)) return Nil
        val here = p match {
          case b: BroadcastExchangeExec =>
            b.metrics.get("numOutputRows").map(_.value).toSeq
          case _ => Nil
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            Seq(i.relation.cachedPlan)
          case other => other.children
        }
        here ++ kids.flatMap(collect) ++ p.subqueries.flatMap(collect)
      }
      collect(df.queryExecution.executedPlan)
    } finally {
      spark.catalog.clearCache()
      olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** Queries that FORCE a broadcast via hint — the only class whose
    * broadcast size is NOT self-correcting (a stats-decided broadcast
    * simply stops being chosen once the side outgrows the threshold;
    * a forced one OOMs the executors instead). Derived from the plans
    * themselves so the set can never go stale. */
  private lazy val hinted: Set[String] =
    SparkEntry.queries.keys.toSeq.filter { n =>
      val a = SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .queryExecution.analyzed.toString
      spark.catalog.clearCache()
      a.contains("ResolvedHint")
    }.toSet

  test("no FORCED broadcast grows with the corpus (measured rows, sf0.001 vs sf0.1)") {
    val MaxGrowth = 5.0
    val names = hinted.toSeq.sorted
    assert(names.nonEmpty, "hint detection broke: no hinted queries found")
    val offenders = names.flatMap { n =>
      val small = broadcastRows(n, "/root/testdata/sf0.001").sorted
      val big = broadcastRows(n, "/root/testdata/sf0.1").sorted
      if (small.size != big.size) Nil // AQE strategy flip on an unhinted join
      else small.zip(big).collect {
        // ignore tiny broadcasts — a 64-row side can legitimately jump
        // multiples without approaching any memory bound
        case (s, b) if b > 64 && b > s * MaxGrowth =>
          s"$n: broadcast rows $s -> $b across a sf0.001-to-sf0.1 step " +
            "(corpus-tracking forced side?)"
      }
    }
    assert(offenders.isEmpty,
      s"forced-broadcast growth regressions:\n${offenders.mkString("\n")}")
  }
}
