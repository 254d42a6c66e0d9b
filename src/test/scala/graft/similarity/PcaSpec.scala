package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** x113 exact-PCA machinery: the gram_matrix aggregate's exactness and
  * order-freedom, and the power iteration's recovery of a planted
  * dominant axis. */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  private def gramOf(rows: Seq[Seq[Long]], parts: Int): Seq[Long] = {
    val df = rows.map(Tuple1(_)).toDF("q").repartition(parts)
    df.agg(graft.plans.functions.gram_matrix(col("q"), rows.head.length))
      .head().getSeq[Long](0)
  }

  test("gram_matrix is the exact upper triangle of sum q q^T") {
    val rows = Seq(Seq(1L, 2L, 3L), Seq(-1L, 0L, 4L))
    // sum q q^T: [[2,2,-1],[2,4,6],[-1,6,25]] -> triangle [2,2,-1,4,6,25]
    assert(gramOf(rows, 1) === Seq(2L, 2L, -1L, 4L, 6L, 25L))
  }

  test("gram_matrix keeps a negative off-diagonal (Column API)") {
    // [[2,-2],[-2,20]] upper triangle
    assert(gramOf(Seq(Seq(1L, 2L), Seq(-1L, 4L)), 1) === Seq(2L, -2L, 20L))
  }

  test("gram_matrix is bit-identical under repartitioning (order-free merge)") {
    val rows = (0 until 97).map(i =>
      Seq((i % 7).toLong - 3, (i % 5).toLong, (i % 11).toLong - 5))
    assert(gramOf(rows, 1) === gramOf(rows, 8))
    assert(gramOf(rows, 8) === gramOf(rows, 3))
  }

  test("gram_matrix fails fast on a wrong-dimension vector") {
    val df = Seq(Tuple1(Seq(1L, 2L))).toDF("q")
    val e = intercept[Exception] {
      df.agg(graft.plans.functions.gram_matrix(col("q"), 3)).head()
    }
    assert(e.getMessage != null)
  }

  test("principalComponent recovers a planted dominant axis") {
    // 40 vectors hugging e0 (±small e1 noise), unit-normalized: the top
    // component must be ~e0, so |pc1| ~ 1 for all and ev_ratio >> 1/2
    val dim = 8
    val rows = (0 until 40).map { i =>
      val noise = 0.05f * ((i % 5) - 2)
      val main = if (i % 2 == 0) 1.0f else -1.0f
      val n = math.sqrt(main * main + noise * noise).toFloat
      (i.toLong, Array(main / n, noise / n) ++ Array.fill(dim - 2)(0.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.principalComponent(df, dim, iters = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length === 40)
    val ev = got.head._3
    assert(got.forall(_._3 === ev), "ev_ratio must be a constant column")
    assert(ev > 0.9, s"planted axis carries ~all variance, got $ev")
    assert(got.forall { case (_, pc1, _) => math.abs(math.abs(pc1) - 1.0) < 0.02 },
      "every vector projects near ±1 onto the planted axis")
  }

  test("principalComponent is bit-identical under repartitioning") {
    val dim = 8
    val rows = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        (((i * 31 + d * 17) % 13) - 6) / 10.0f))
    }
    def run(parts: Int): Seq[(Long, Double, Double)] =
      Similarity.principalComponent(
          rows.toDF("vec_id", "embedding").repartition(parts), dim)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    assert(run(1) === run(7))
  }

  test("allButTop strips a planted common direction (mean + dominant axis)") {
    // vectors = big shared mean on e0 + signal on e1 + tiny comparable
    // noise on e2/e3: after centering, the top COVARIANCE axis is e1;
    // removing it must leave only the noise (res_norm small), and the
    // REMAINING spectrum splits across e2/e3 (ev_after well below 1 —
    // with a single noise direction it would rightly be 1.0)
    val dim = 8
    val rows = (0 until 40).map { i =>
      val sig = 0.4f * ((i % 9) - 4)   // dominant centered variance on e1
      val n2 = 0.01f * ((i % 3) - 1)
      val n3 = 0.011f * (((i * 7 + 1) % 3) - 1)
      (i.toLong, Array(0.8f, sig, n2, n3) ++ Array.fill(dim - 4)(0.0f))
    }
    val got = Similarity.allButTop(rows.toDF("vec_id", "embedding"), dim)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.length === 40)
    val (evB, evA) = (got.head._4, got.head._5)
    assert(got.forall(g => g._4 === evB && g._5 === evA),
      "ev columns must be constant")
    assert(evB > 0.99, s"planted axis dominates the covariance, got $evB")
    assert(evA < 0.9 && evA > 0.0, s"post-removal spectrum flattens, got $evA")
    assert(got.forall(_._3 < 0.02),
      "residual after removing mean + top axis is just the e2 noise")
    // proj1 tracks the centered e1 signal (mean of sig over i%9 is ~0)
    val spread = got.map(_._2)
    assert(spread.max - spread.min > 2.0,
      "projections spread across the planted signal range")
  }

  test("allButTop is bit-identical under repartitioning") {
    val dim = 8
    val rows = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        (((i * 29 + d * 13) % 11) - 5) / 8.0f))
    }
    def run(parts: Int): Seq[(Long, Double, Double, Double, Double)] =
      Similarity.allButTop(
          rows.toDF("vec_id", "embedding").repartition(parts), dim)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)))
        .sortBy(_._1).toSeq
    assert(run(1) === run(7))
  }

  test("gram_matrix plans a partial aggregate below the exchange") {
    val df = (0 until 16).map(i => (i.toLong, Seq(i.toLong, 1L)))
      .toDF("vec_id", "q").repartition(4)
    val plan = df.agg(graft.plans.functions.gram_matrix(col("q"), 2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_gram_matrix"),
      s"expected map-side partial gram_matrix, plan:\n$plan")
  }
}
