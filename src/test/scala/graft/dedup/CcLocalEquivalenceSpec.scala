package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the driver-local union-find ending of connectedComponents to the
  * distributed fixpoint loop: same rows, same schema, same id dtype, on
  * graphs that exercise every loop regime (star cliques that converge at
  * round 0, a chain longer than starRounds that forces the
  * pointer-jumping phase, reversed edge order, an isolated pair, and the
  * empty graph). localThreshold = MaxValue forces the local path;
  * -1 forces the distributed loop on the same input. */
class CcLocalEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def both(pairs: DataFrame): (Seq[String], Seq[String], String, String) = {
    def run(threshold: Long): (Seq[String], String) = {
      val df = Dedup.connectedComponentsAt(pairs, 60, 5, threshold)
      val rows = df.collect().map(_.toString).sorted.toSeq
      spark.catalog.clearCache()
      (rows, df.schema.catalogString)
    }
    val (l, ls) = run(Long.MaxValue)
    val (d, ds) = run(-1L)
    (l, d, ls, ds)
  }

  test("local and distributed CC agree on cliques, long chains, reversed edges") {
    val edges = Seq(
      // star clique around 1
      (1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L),
      // chain of length 12 (> starRounds) — forces pointer jumping
      (100L, 101L), (101L, 102L), (102L, 103L), (103L, 104L),
      (104L, 105L), (105L, 106L), (106L, 107L), (107L, 108L),
      (108L, 109L), (109L, 110L), (110L, 111L), (111L, 112L),
      // reversed order (doc_a > doc_b) — the API never promises a < b
      (50L, 40L), (40L, 30L),
      // isolated pair
      (7L, 9L))
    val pairs = edges.toDF("doc_a", "doc_b")
    val (l, d, ls, ds) = both(pairs)
    assert(ls == ds, s"schema drift: $ls vs $ds")
    assert(l == d, s"row drift:\n local=$l\n dist =$d")
    // spot semantics: chain collapses to min 100, everything labeled
    assert(l.exists(_.contains("[112,100,false]")))
    assert(l.exists(_.contains("[100,100,true]")))
  }

  test("local and distributed CC agree on integer-typed ids and empty graphs") {
    val pairs = Seq((5, 6), (6, 7), (10, 11))
      .toDF("doc_a", "doc_b") // IntegerType ids
    val (l, d, ls, ds) = both(pairs)
    assert(ls == ds && l == d, s"int ids: $ls vs $ds\n$l\n$d")
    assert(ls.contains("doc_id:int"), ls)

    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val (le, de, les, des) = both(empty)
    assert(les == des && le == de && le.isEmpty)
  }

  test("non-integral node ids fail loudly at entry") {
    val bad = Seq(("a", "b")).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(bad)
    }
    assert(e.getMessage.contains("integral node ids"))
  }
}
