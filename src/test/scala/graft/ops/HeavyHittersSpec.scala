package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Misra–Gries semantics: the candidate bound and no-false-negative
  * guarantee under different partitionings, and the exactness of the
  * two-phase sketch-then-verify heavy-hitter report. */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  // a 50, b 30, c 19, z1..z20 once each -> N = 119; k = 4 means
  // threshold N/(k+1) = 23.8: a and b are true heavy hitters, c is not
  private def stream = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++
    Seq.fill(19)("c") ++ (1 to 20).map(i => s"z$i")).toDF("item")

  test("misra_gries: <= k candidates, never drops an above-threshold item, any partitioning") {
    for (parts <- Seq(1, 3, 7)) {
      val summary = stream.repartition(parts)
        .agg(graft.plans.functions.misra_gries(col("item"), 4).as("c"))
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getLong(1)))
      val cand = summary.map(_._1)
      assert(cand.size <= 4, s"parts=$parts: ${cand.size} candidates")
      assert(cand.contains("a") && cand.contains("b"),
        s"parts=$parts lost a heavy hitter: $cand")
      assert(cand.toSeq === cand.sorted, "canonical item order")
      // counts are lower bounds with undercount <= N/(k+1) = 23.8
      val bound = summary.toMap
      assert(bound("a") >= 50L - 24 && bound("a") <= 50L, s"got $bound")
      assert(bound("b") >= 30L - 24 && bound("b") <= 30L, s"got $bound")
    }
  }

  test("exact: deterministic exact counts above n*(k+1) > N, row-order immune; empty input") {
    val want = Map("a" -> 50L, "b" -> 30L) // c: 19*5 = 95 < 119
    for (parts <- Seq(1, 7)) {
      val out = HeavyHitters.exact(stream.repartition(parts), col("item"), k = 4)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out === want, s"parts=$parts: $out")
    }
    // nulls are skipped, not counted toward N
    val withNulls = stream.unionAll(
      Seq.fill(40)(null.asInstanceOf[String]).toDF("item"))
    assert(HeavyHitters.exact(withNulls, col("item"), k = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap === want)
    assert(HeavyHitters.exact(stream.limit(0), col("item"), k = 4)
      .collect().isEmpty)
  }

  test("misra_gries plans a PARTIAL ObjectHashAggregate (map-side k-summaries before the exchange)") {
    val plan = stream
      .agg(graft.plans.functions.misra_gries(col("item"), 4))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
    assert(plan.contains("partial_misra_gries"),
      "the k*partitions-shuffle claim requires a partial mode: " + plan.take(500))
  }

  test("misra_gries composes with groupBy: per-group summaries keep the per-group guarantee") {
    // group X: a is hot (50 of 89); group Y: b is hot (30 of 49) —
    // per-group thresholds, not a global one
    val grouped = (Seq.fill(50)("a") ++ (1 to 39).map(i => s"x$i")).map(("X", _)) ++
      (Seq.fill(30)("b") ++ (1 to 19).map(i => s"y$i")).map(("Y", _))
    val out = grouped.toDF("g", "item").repartition(5)
      .groupBy("g").agg(graft.plans.functions.misra_gries(col("item"), 4).as("s"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))).toMap
    assert(out("X").contains("a") && out("X").size <= 4, s"got ${out("X")}")
    assert(out("Y").contains("b") && out("Y").size <= 4, s"got ${out("Y")}")
  }

  test("misra_gries: k must be positive") {
    val e = intercept[IllegalArgumentException](
      stream.agg(graft.plans.functions.misra_gries(col("item"), 0)).head())
    assert(e.getMessage.contains("positive"))
  }
}
