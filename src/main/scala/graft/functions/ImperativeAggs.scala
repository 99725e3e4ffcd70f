package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** `udaf_imperative` (SURVEY.md §2.J): the high-performance sketch-merge
  * path on Spark's internal TypedImperativeAggregate API — a raw
  * primitive-array buffer mutated in place, vs the typed `Aggregator`
  * (Udfs.MinSigAggregator) which pays encoder round-trips per row.
  * Same mergeable-sketch contract: element-wise min of MinHash
  * signatures, associative + commutative, fixed-size state → the
  * partial/final shuffle carries nPerm longs per group regardless of
  * input size (the 100 TB shape). Equivalence with the Aggregator is
  * asserted in DedupSpec.
  */
case class MinSigImperative(
    child: Expression,
    nPerm: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"input must be array<bigint>, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(nPerm)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(nPerm, arr.numElements())
      var i = 0
      while (i < n) {
        val x = arr.getLong(i)
        if (x < buf(i)) buf(i) = x
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < nPerm) {
      if (b(i) < a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * nPerm)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(nPerm)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinSigImperative =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinSigImperative =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinSigImperative =
    copy(child = newChildren.head)
}

/** `embedding_covariance` core: ONE-pass distributed covariance moments
  * over `array<float>` vectors on the same TypedImperativeAggregate
  * path as [[MinSigImperative]] — the shape where a custom aggregate
  * genuinely beats composition: the explode+self-join formulation
  * shuffles corpus·d(d+1)/2 rows, while this buffer mergers map-side
  * and the partial/final shuffle carries ONE (1 + d + d(d+1)/2)-long
  * buffer per partition regardless of corpus size (the distributed-PCA
  * covariance step; whitening / PCA eigensolving then happens on the
  * d×d result, which is driver-trivial).
  *
  * Exactness (the ts_anomaly moment discipline, as scaled longs):
  * each element snaps to its DECIMAL(18,4) unscaled long (HALF_UP —
  * identical to the oracle's CAST), products accumulate as EXACT
  * scale-8 longs, and eval emits each covariance from one fixed IEEE
  * tree over exact integers — engine-identical. Headroom: unit-scale
  * elements give |li·lj| ≈ 1e8, so the int64 accumulators hold to
  * ~9·10¹⁰ rows, and eval's long→double conversion stays EXACT
  * (bit-matching an exact-decimal oracle) while Σ|li·lj| < 2^53 —
  * ~9·10⁷ unit-scale rows; between the two bounds the covariance is
  * still correct to 1 ulp of that conversion, and past the first the
  * accumulators widen (the documented DECIMAL(38,·) escalation).
  *
  * Buffer layout: [0] = n, [1..d] = Σ Fixed4.snap(x_i), then Σ l_i·l_j for
  * upper-triangle pairs (i ≤ j) in row-major order. NULL vectors are
  * skipped (SQL aggregate null semantics — the oracle's
  * `embedding[t.i]` indexing NULL-propagates into a NULL the SUM also
  * skips); a NON-null vector of the wrong length RAISES instead of
  * being silently dropped: the oracle would diverge invisibly on a
  * malformed corpus (an advisor finding), so the engine surfaces the
  * bad row. eval returns the d(d+1)/2 covariances as doubles in the
  * same pair order.
  */
case class VectorMomentsImperative(
    child: Expression,
    d: Int,
    raw: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  private val nPairs = d * (d + 1) / 2
  private val bufLen = 1 + d + nPairs

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    if (raw) ArrayType(LongType, containsNull = false)
    else ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"input must be array<float>, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bufLen)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() != d) {
        throw new IllegalArgumentException(
          s"vector_moments(d=$d) got a ${arr.numElements()}-element " +
            "vector — malformed embedding row (silent skip would " +
            "diverge from the oracle invisibly)")
      }
      val l = new Array[Long](d)
      var i = 0
      while (i < d) { l(i) = graft.Fixed4.snap(arr.getFloat(i).toDouble); i += 1 }
      buf(0) += 1L
      i = 0
      while (i < d) { buf(1 + i) += l(i); i += 1 }
      var k = 1 + d
      i = 0
      while (i < d) {
        var j = i
        while (j < d) { buf(k) += l(i) * l(j); k += 1; j += 1 }
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < bufLen) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    // raw mode: the exact moment buffer itself — the PCA solve's input
    // ([[graft.operators.SimSearch.embeddingPca]] needs the integers,
    // not the derived covariances)
    if (raw) return new GenericArrayData(buf.clone())
    val out = new Array[Double](nPairs)
    val n = buf(0)
    if (n > 0L) {
      val nD = n.toDouble
      var k = 0
      var i = 0
      while (i < d) {
        var j = i
        while (j < d) {
          val sxy = buf(1 + d + k).toDouble / 1e8
          val sxi = buf(1 + i).toDouble / 1e4
          val sxj = buf(1 + j).toDouble / 1e4
          out(k) = sxy / nD - (sxi / nD) * (sxj / nD)
          k += 1; j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * bufLen)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bufLen)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): VectorMomentsImperative =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): VectorMomentsImperative =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorMomentsImperative =
    copy(child = newChildren.head)
}

object ImperativeAggs {
  /** Column wrapper: element-wise-min aggregate over array<long> rows. */
  def minSig(c: Column, nPerm: Int): Column =
    ColumnBridge.column(
      MinSigImperative(ColumnBridge.expression(c), nPerm)
        .toAggregateExpression())

  /** Column wrapper: one-pass covariance moments over array<float>. */
  def vectorMoments(c: Column, d: Int): Column =
    ColumnBridge.column(
      VectorMomentsImperative(ColumnBridge.expression(c), d)
        .toAggregateExpression())

  /** Raw-buffer variant: the exact scaled-long moment buffer. */
  def vectorMomentsRaw(c: Column, d: Int): Column =
    ColumnBridge.column(
      VectorMomentsImperative(ColumnBridge.expression(c), d, raw = true)
        .toAggregateExpression())
}
