package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact Gram matrix as a native mergeable aggregate:
  * `gram_matrix(qvec, dim)` over integer-quantized vectors returns the
  * upper triangle (row-major, diagonal included — dim·(dim+1)/2 longs)
  * of Σ q·qᵀ. This is THE map-side-combinable form of distributed
  * covariance/PCA: the corpus is touched once, every partition reduces
  * to one O(dim²) buffer before the exchange, and partial matrices
  * merge by elementwise addition — shuffle volume independent of corpus
  * size (the same one-pass Gram trick Spark MLlib's RowMatrix uses for
  * computeGramianMatrix; re-derived here as an aggregate so it
  * composes with groupBy and rides whole plans, not RDDs).
  *
  * Exactness: inputs are LONGS (the caller quantizes floats with a
  * fixed scale, e.g. floor(x·2¹⁵+0.5)), so every cell is an exact
  * integer sum — commutative, associative, identical
  * under any partitioning/merge order, and replayable in any engine.
  * For unit-norm embeddings at scale 2¹⁵, |q·q| ≤ 2³⁰, so the sum is
  * overflow-safe to ~2³³ rows (~8.6 B vectors); beyond that, shard the
  * corpus and merge driver-side in BigInt.
  *
  * Fail-fast: a vector whose length ≠ dim throws (silently skipping or
  * padding would corrupt the matrix undetectably); nulls are skipped
  * (absent row, not a zero vector). */
case class GramMatrixAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(dim > 0 && dim <= 1024,
    s"gram_matrix: dim must be in [1, 1024], got $dim")

  private val cells = dim * (dim + 1) / 2

  override def createAggregationBuffer(): Array[Long] = new Array[Long](cells)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() != dim)
        throw new IllegalArgumentException(
          s"gram_matrix: expected a $dim-dim vector, got ${arr.numElements()}")
      var i = 0
      var base = 0
      while (i < dim) {
        val qi = arr.getLong(i)
        if (qi != 0L) { // sparse rows (zero vectors) cost nothing
          var j = i
          while (j < dim) {
            buf(base + j - i) += qi * arr.getLong(j)
            j += 1
          }
        }
        base += dim - i
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < cells) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(cells * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < cells) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](cells)
    var i = 0
    while (i < cells) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramMatrixAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramMatrixAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): GramMatrixAgg =
    copy(child = newChild)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_matrix"
}

object GramMatrixAgg {
  /** Triangle index of (i, j) with i ≤ j < dim (row-major, diagonal
    * included) — for external consumers expanding the emitted array. */
  def triIndex(dim: Int, i: Int, j: Int): Int =
    i * dim - i * (i - 1) / 2 + (j - i)
}
