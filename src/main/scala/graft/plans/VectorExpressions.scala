package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native float-vector folds for the similarity tier.
  *
  * CRITICAL numeric contract: these are SEQUENTIAL LEFT FOLDS in double
  * precision starting from 0.0, in array order — the exact operation the
  * HOF forms (`aggregate(zip_with(...))`) and the DuckDB oracle
  * (`list_reduce(list_transform(...))`) perform. float→double promotion
  * is exact and IEEE addition is deterministic given order, so all three
  * implementations agree bit-for-bit. Do NOT "optimize" into vectorized
  * or pairwise summation — that changes the rounding and breaks oracle
  * hash-compare (and cross-run reproducibility on a cluster). */
object VecUtil {
  def dotFold(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  def sqNormFold(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      acc += x * x
      i += 1
    }
    acc
  }

  /** Greedy MMR (maximal marginal relevance) selection over a BOUNDED
    * candidate array: picks `k` elements maximizing `lam·rel − (1−lam)·
    * max_cos_to_selected` (signed cosine — a negatively-correlated
    * selection can raise a candidate above pure relevance, faithful to
    * the formula), ties broken by lowest vec_id. Input elements are
    * struct(vec_id LONG, rel DOUBLE, emb ARRAY<FLOAT>); output is
    * struct(vec_id, score) in selection order. The scan keeps a running
    * max-similarity per candidate, so the whole greedy is O(k·n·d) —
    * equivalent to the oracle's recursive `list_max` over the selected
    * set because max is order-free and every cosine is the same guarded
    * left fold as [[dotFold]]/[[sqNormFold]]. Result is independent of
    * the input array's order (collect_list is nondeterministic): each
    * argmax compares the total order (score DESC, vec_id ASC). */
  def mmrSelect(cands: ArrayData, k: Int, lam: Double): ArrayData = {
    val n = cands.numElements()
    val ids = new Array[Long](n)
    val rel = new Array[Double](n)
    val emb = new Array[ArrayData](n)
    val sq = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = cands.getStruct(i, 3)
      ids(i) = row.getLong(0)
      rel(i) = row.getDouble(1)
      emb(i) = row.getArray(2)
      sq(i) = sqNormFold(emb(i))
      i += 1
    }
    val taken = new Array[Boolean](n)
    // true SIGNED max — a 0-clamped max would diverge from the oracle's
    // list_max when every selected member is negatively correlated; the
    // first pick has no penalty term (the oracle's base case), and from
    // step 2 on every unpicked candidate has been updated at least once
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val kk = math.min(k, n)
    val out = new Array[Any](kk)
    var step = 0
    while (step < kk) {
      var best = -1
      var bestScore = 0.0
      var j = 0
      while (j < n) {
        if (!taken(j)) {
          val penalty = if (step == 0) 0.0 else maxSim(j)
          val score = lam * rel(j) - (1.0 - lam) * penalty
          if (best < 0 || score > bestScore ||
            (score == bestScore && ids(j) < ids(best))) {
            best = j
            bestScore = score
          }
        }
        j += 1
      }
      taken(best) = true
      out(step) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](ids(best), bestScore))
      var j2 = 0
      while (j2 < n) {
        if (!taken(j2)) {
          val den = sq(j2) * sq(best)
          val c = if (den == 0.0) 0.0 else dotFold(emb(j2), emb(best)) / math.sqrt(den)
          if (c > maxSim(j2)) maxSim(j2) = c
        }
        j2 += 1
      }
      step += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private final val M31 = 2147483647L

  /** Deterministic Rademacher (±1) entry of random hyperplane `i` at
    * dimension `d` for table `seed`: parity of a double-Lehmer mix of
    * (d+1)(2i+1)+7919·seed. Two multiplier steps are required — a single
    * product of these small operands never wraps the modulus and its
    * parity would degenerate to parity(d). */
  def radSign(i: Int, d: Int, seed: Int): Boolean = {
    var v = ((d + 1).toLong * (2 * i + 1) + 7919L * seed) % M31
    v = v * 48271L % M31
    v = v * 69621L % M31
    (v & 1L) == 1L
  }

  /** Random-hyperplane sign-LSH bucket: bit i is the sign of the
    * sequential left-fold (in dimension order — oracle-reproducible) of
    * ±emb[d] with Rademacher signs. One pass over the vector accumulates
    * all `bits` hyperplane projections. */
  def signBucketRH(emb: ArrayData, bits: Int, seed: Int): Long = {
    val n = emb.numElements()
    val acc = new Array[Double](bits)
    var d = 0
    while (d < n) {
      val x = emb.getFloat(d).toDouble
      var i = 0
      while (i < bits) {
        acc(i) += (if (radSign(i, d, seed)) x else -x)
        i += 1
      }
      d += 1
    }
    var bucket = 0L
    var i = 0
    while (i < bits) { if (acc(i) >= 0.0) bucket |= (1L << i); i += 1 }
    bucket
  }
}

/** dot_fold(array<float>, array<float>): DOUBLE — sequential left-fold
  * dot product. */
case class DotFold(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"dot_fold requires two ARRAY<FLOAT>, got ${l.catalogString}, ${r.catalogString}")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecUtil.dotFold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.VecUtil.dotFold($a, $b);")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotFold =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_fold"
}

/** sign_bucket_rh(array<float>, bits, seed): LONG — random-hyperplane
  * sign-LSH bucket id with corpus-scalable bit count. */
case class SignBucketRH(child: Expression, bits: Int, seed: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 62, "sign_bucket_rh bits must be in [1, 62]")
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_bucket_rh requires ARRAY<FLOAT>, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    VecUtil.signBucketRH(input.asInstanceOf[ArrayData], bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.VecUtil.signBucketRH($c, $bits, $seed);")
  override protected def withNewChildInternal(newChild: Expression): SignBucketRH =
    copy(child = newChild)
  override def prettyName: String = "sign_bucket_rh"
}

/** sqnorm_fold(array<float>): DOUBLE — sequential left-fold squared L2. */
case class SqNormFold(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sqnorm_fold requires ARRAY<FLOAT>, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    VecUtil.sqNormFold(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.plans.VecUtil.sqNormFold($c);")
  override protected def withNewChildInternal(newChild: Expression): SqNormFold =
    copy(child = newChild)
  override def prettyName: String = "sqnorm_fold"
}

/** mmr_select(array<struct<vec_id, rel, emb>>, k, lam):
  * ARRAY<STRUCT<vec_id, score>> — greedy maximal-marginal-relevance
  * selection over a BOUNDED candidate array in one native pass (the
  * composed-operator alternative is k driver-blocking argmax jobs, or
  * a 2^k-node lineage of self-referencing unions). */
case class MmrSelect(child: Expression, k: Int, lam: Double) extends UnaryExpression {
  require(k >= 1, "mmr_select k must be >= 1")
  require(lam >= 0.0 && lam <= 1.0, "mmr_select lam must be in [0, 1]")
  override def dataType: DataType = MmrSelect.schema
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _),
      StructField(_, DoubleType, _, _),
      StructField(_, ArrayType(FloatType, _), _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "mmr_select requires ARRAY<STRUCT<BIGINT, DOUBLE, ARRAY<FLOAT>>>, " +
        s"got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    VecUtil.mmrSelect(input.asInstanceOf[ArrayData], k, lam)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.VecUtil.mmrSelect($c, $k, ${lam}D);")
  override protected def withNewChildInternal(newChild: Expression): MmrSelect =
    copy(child = newChild)
  override def prettyName: String = "mmr_select"
}

object MmrSelect {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
}
