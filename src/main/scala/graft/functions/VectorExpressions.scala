package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions (with codegen) for the embedding-vector
  * hot path (SURVEY.md §2.J `expr_custom`, §7.5 — escalated here because
  * the higher-order-function formulation (`aggregate`/`zip_with` lambdas)
  * evaluates interpreted and dominated the similarity benchmarks).
  *
  * Arithmetic is kept bit-identical to the lambda form (and to the DuckDB
  * oracle): elements widen float→double, products accumulate left-to-
  * right — so `round(dot/(‖a‖·‖b‖), 4)` hash-matches either way. Null
  * elements and length-mismatched inputs yield NULL, exactly like the
  * `zip_with`/`transform` formulation (zip_with pads with null → null
  * product → null sum) — required for the optimizer rewrite to be
  * semantics-preserving.
  */
object VectorExpressions {
  def dotCol(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVecDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def normCol(a: Column): Column =
    ColumnBridge.column(FloatVecNorm(ColumnBridge.expression(a)))

  def lshBitsCol(a: Column, nBits: Int): Column =
    ColumnBridge.column(FloatVecLshBits(ColumnBridge.expression(a), nBits))

  def nearestCentroidCol(a: Column, ids: Array[Long],
      cents: Array[Array[Double]]): Column =
    ColumnBridge.column(
      NearestCentroid(ColumnBridge.expression(a), ids, cents))

  def nearestCentroidSliceCol(a: Column, ids: Array[Long],
      cents: Array[Array[Double]], biases: Array[Double],
      offset: Int): Column =
    ColumnBridge.column(NearestCentroidSlice(
      ColumnBridge.expression(a), ids, cents, biases, offset))

  def residualNearestCentroidSliceCol(a: Column, centId: Column,
      coarseIds: Array[Long], coarseVecs: Array[Array[Double]],
      ids: Array[Long], cents: Array[Array[Double]],
      biases: Array[Double], offset: Int): Column =
    ColumnBridge.column(ResidualNearestCentroidSlice(
      ColumnBridge.expression(a), ColumnBridge.expression(centId),
      coarseIds, coarseVecs, ids, cents, biases, offset))

  private[functions] def checkFloatArray(dt: DataType,
      side: String): TypeCheckResult = dt match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$side must be array<float>, got ${other.catalogString}")
  }
}

/** sum_i a[i]·b[i] over float vectors, accumulated in double. */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkFloatArray(left.dataType, "left") match {
      case TypeCheckResult.TypeCheckSuccess =>
        VectorExpressions.checkFloatArray(right.dataType, "right")
      case f => f
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |double $s = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |      break;
         |    }
         |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** √(sum_i a[i]²) over a float vector, accumulated in double; NULL if
  * any element is null (matching the transform/aggregate lambda form).
  */
case class FloatVecNorm(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkFloatArray(child.dataType, "input")

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getFloat(i).toDouble
      s += v * v
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) {
         |    ${ev.isNull} = true;
         |    break;
         |  }
         |  final double $v = (double) $a.getFloat($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FloatVecNorm =
    copy(child = newChild)
}

/** Deterministic pseudo-random hyperplane components for sign-LSH:
  * `comp(p, d)` ∈ [-1, 1) is a splitmix64-style mix of (plane, dim) —
  * seedless, identical on every executor, callable from generated code
  * via the static forwarder.
  */
object LshMix {
  def comp(p: Int, d: Int): Double = {
    var z = p.toLong * 0x9E3779B97F4A7C15L +
      d.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
    z ^= z >>> 27; z *= 0x94D049BB133111EBL
    z ^= z >>> 31
    (java.lang.Math.floorMod(z, 2000000L).toDouble / 1000000.0) - 1.0
  }
}

/** nBits random-hyperplane sign bits of a float vector, packed into a
  * long — the SimHash-style LSH bucket id. One compiled nBits×dim pass;
  * the previous higher-order-function formulation evaluated nBits
  * interpreted array traversals per row and dominated the
  * dedup_embedding_lsh benchmark (same escalation as FloatVecDot).
  */
case class FloatVecLshBits(child: Expression, nBits: Int)
    extends UnaryExpression {

  require(nBits > 0 && nBits <= 63, s"nBits must be in [1,63], got $nBits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkFloatArray(child.dataType, "input")

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var bits = 0L
    var p = 0
    while (p < nBits) {
      var s = 0.0
      var d = 0
      while (d < n) {
        if (x.isNullAt(d)) return null
        s += x.getFloat(d).toDouble * LshMix.comp(p, d)
        d += 1
      }
      if (s >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val bits = ctx.freshName("bits")
      s"""
         |final int $n = $a.numElements();
         |long $bits = 0L;
         |outer:
         |for (int $p = 0; $p < $nBits; $p++) {
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $n; $d++) {
         |    if ($a.isNullAt($d)) { ${ev.isNull} = true; break outer; }
         |    $s += ((double) $a.getFloat($d))
         |      * graft.functions.LshMix.comp($p, $d);
         |  }
         |  if ($s >= 0) $bits |= (1L << $p);
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FloatVecLshBits =
    copy(child = newChild)
}

/** IVF cell assignment: id of the codebook centroid with the highest
  * dot(x, ĉ) (centroids pre-normalized driver-side, so the ranking
  * equals cosine ranking; ‖x‖ scales every score equally). Ids are
  * scanned in ascending order with a strict `>` update, so ties keep
  * the smallest centroid id. One compiled C×dim pass per row — replaces
  * a C-way expression tree (or worse, an N×C crossJoin + window shuffle)
  * with a single argmax loop; NULL on null/empty input elements.
  *
  * The codebook rides the expression as plain constructor data (like
  * WordShingleHashes' k): it is broadcast-sized by definition and ships
  * to executors inside the serialized plan.
  */
/** Per-SUBRANGE argmax-with-bias nearest-centroid: over elements
  * [offset, offset+len) of the input float vector, pick the id whose
  * `dot(x[offset:offset+len], cent) + bias` is largest (strict `>`, so
  * ties keep the FIRST = lowest of the ascending-sorted ids). With
  * bias = −‖cent‖²/2 this is min-L2 PQ code assignment reading the
  * subvector IN PLACE — the slice+concat formulation allocated two
  * arrays per row per subspace and dominated the 200k-vector probe
  * (SCALE.md: 4.7 s of a 4.9 s assignment was allocation).
  * Arithmetic is bit-identical to that formulation: products
  * accumulate left-to-right over the subrange, the bias adds LAST —
  * exactly the oracle's `list_sum(products) - ‖c‖²/2`.
  */
case class NearestCentroidSlice(child: Expression, ids: Array[Long],
    cents: Array[Array[Double]], biases: Array[Double], offset: Int)
    extends UnaryExpression {

  require(ids.nonEmpty && ids.length == cents.length &&
    ids.length == biases.length,
    s"codebook mismatch: ${ids.length} ids vs ${cents.length} centroids" +
      s" vs ${biases.length} biases")
  require(offset >= 0, s"negative offset $offset")

  private val len = cents.head.length

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkFloatArray(child.dataType, "input")

  private def bestOf(x: ArrayData): Any = {
    if (x.numElements() < offset + len) return null
    var best = Double.NegativeInfinity
    var bestId = -1L
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var s = 0.0
      var d = 0
      while (d < len) {
        if (x.isNullAt(offset + d)) return null
        s += x.getFloat(offset + d).toDouble * cent(d)
        d += 1
      }
      s += biases(c)
      if (s > best) { best = s; bestId = ids(c) }
      c += 1
    }
    if (bestId < 0) null else bestId
  }

  override protected def nullSafeEval(a: Any): Any =
    bestOf(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCentroidSlice", this,
      classOf[NearestCentroidSlice].getName)
    nullSafeCodeGen(ctx, ev, a => {
      val res = ctx.freshName("res")
      s"""
         |Object $res = $self.bestOfJava($a);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Long) $res).longValue(); }
       """.stripMargin
    })
  }

  /** Java-callable entry for generated code. */
  def bestOfJava(x: ArrayData): Any = bestOf(x)

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidSlice =
    copy(child = newChild)
}

case class NearestCentroid(child: Expression, ids: Array[Long],
    cents: Array[Array[Double]]) extends UnaryExpression {

  require(ids.nonEmpty && ids.length == cents.length,
    s"codebook mismatch: ${ids.length} ids vs ${cents.length} centroids")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkFloatArray(child.dataType, "input")

  private def bestOf(x: ArrayData): Any = {
    val n = x.numElements()
    var best = Double.NegativeInfinity
    var bestId = -1L
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      if (cent.length == n) {
        var s = 0.0
        var d = 0
        while (d < n) {
          if (x.isNullAt(d)) return null
          s += x.getFloat(d).toDouble * cent(d)
          d += 1
        }
        if (s > best) { best = s; bestId = ids(c) }
      }
      c += 1
    }
    if (bestId < 0) null else bestId
  }

  override protected def nullSafeEval(a: Any): Any =
    bestOf(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, a => {
      val res = ctx.freshName("res")
      s"""
         |Object $res = $self.bestOfJava($a);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Long) $res).longValue(); }
       """.stripMargin
    })
  }

  /** Java-callable entry for generated code. */
  def bestOfJava(x: ArrayData): Any = bestOf(x)

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Residual-space per-subspace PQ assignment (FAISS IVFPQ's "encode
  * the residual" refinement): for a row's (embedding, cent_id), the
  * codeword argmax runs over r = x − coarse(cent_id) WITHOUT ever
  * materializing the residual vector — the subtraction folds into the
  * same compiled C×sub argmax loop as [[NearestCentroidSlice]]
  * (argmin‖r−w‖² = argmax(dot(r,w) − ‖w‖²/2), bias precomputed
  * driver-side). Arithmetic per element:
  * (x[d]::double − coarse[d]) · w[d], accumulated left-to-right, bias
  * added last — mirrored op for op in the DuckDB oracle. Ties resolve
  * to the lowest codeword id (first of the ascending ids on strict
  * ties, the NearestCentroid convention). A cent_id absent from the
  * coarse codebook yields NULL (it cannot happen on rows the coarse
  * assignment itself produced).
  */
case class ResidualNearestCentroidSlice(left: Expression,
    right: Expression, coarseIds: Array[Long],
    coarseVecs: Array[Array[Double]], ids: Array[Long],
    cents: Array[Array[Double]], biases: Array[Double], offset: Int)
    extends BinaryExpression {

  require(coarseIds.nonEmpty && coarseIds.length == coarseVecs.length,
    s"coarse codebook mismatch: ${coarseIds.length} ids vs " +
      s"${coarseVecs.length} vectors")
  require(ids.nonEmpty && ids.length == cents.length &&
    ids.length == biases.length,
    s"codebook mismatch: ${ids.length} ids vs ${cents.length} centroids" +
      s" vs ${biases.length} biases")
  require(offset >= 0, s"negative offset $offset")

  private val len = cents.head.length
  @transient private lazy val coarseById: java.util.HashMap[Long,
      Array[Double]] = {
    val m = new java.util.HashMap[Long, Array[Double]]()
    var i = 0
    while (i < coarseIds.length) {
      m.put(coarseIds(i), coarseVecs(i)); i += 1
    }
    m
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkFloatArray(left.dataType, "embedding") match {
      case TypeCheckResult.TypeCheckSuccess => right.dataType match {
        case LongType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"cent_id must be bigint, got ${other.catalogString}")
      }
      case f => f
    }

  private def bestOf(x: ArrayData, centId: Long): Any = {
    val coarse = coarseById.get(centId)
    if (coarse == null) return null
    if (x.numElements() < offset + len ||
      coarse.length < offset + len) return null
    var best = Double.NegativeInfinity
    var bestId = -1L
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var s = 0.0
      var d = 0
      while (d < len) {
        if (x.isNullAt(offset + d)) return null
        s += (x.getFloat(offset + d).toDouble - coarse(offset + d)) *
          cent(d)
        d += 1
      }
      s += biases(c)
      if (s > best) { best = s; bestId = ids(c) }
      c += 1
    }
    if (bestId < 0) null else bestId
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    bestOf(a.asInstanceOf[ArrayData], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("residualNearestSlice", this,
      classOf[ResidualNearestCentroidSlice].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("res")
      s"""
         |Object $res = $self.bestOfJava($a, $b);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Long) $res).longValue(); }
       """.stripMargin
    })
  }

  /** Java-callable entry for generated code. */
  def bestOfJava(x: ArrayData, centId: Long): Any = bestOf(x, centId)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ResidualNearestCentroidSlice =
    copy(left = newLeft, right = newRight)
}
