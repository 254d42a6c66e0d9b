package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** j07 machinery: the bloom pre-filter is semantically transparent for
  * the inner join (no false negatives), actually prunes, and the
  * expression honors its null/type contracts. */
class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  test("bloomPrunedJoin returns exactly the plain join's rows and prunes the scan") {
    val fact = (0L until 1000L).map(i => (i % 500, i)).toDF("k", "fact_id")
    val dim = Seq((3L, "a"), (7L, "b"), (490L, "c")).toDF("k", "dv")
    val plain = fact.join(dim, "k")
    val pruned = BloomJoin.bloomPrunedJoin(fact, dim, "k", expectedDimKeys = 100L)
    assert(pruned.collect().map(_.toSeq).toSet === plain.collect().map(_.toSeq).toSet)
    // the pre-filter really prunes: far fewer than 1000 rows pass it
    val bloom = dim.stat.bloomFilter("k", 100L, 0.01)
    val passed = fact.filter(
      graft.plans.functions.bloom_might_contain(col("k"), bloom)).count()
    assert(passed >= 6 && passed < 100, s"expected ~6 of 1000 to pass, got $passed")
  }

  test("expression: null key -> null (dropped by filter); non-long key rejected") {
    val bloom = Seq(Tuple1(1L)).toDF("k").stat.bloomFilter("k", 10L, 0.01)
    val rows = Seq(Some(1L), Some(2L), None).toDF("k")
      .select(graft.plans.functions.bloom_might_contain(col("k"), bloom).as("m"))
      .collect()
    assert(rows(0).getBoolean(0) === true)
    assert(rows(2).isNullAt(0))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Tuple1("x")).toDF("k")
        .select(graft.plans.functions.bloom_might_contain(col("k"), bloom))
        .collect()
    }
    assert(e.getMessage.contains("bloom_might_contain"))
  }
}
