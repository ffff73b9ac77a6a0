package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  IntegerType, LongType}

/** Fused vector arithmetic for the embedding family (ANN search,
  * near-dup scoring, k-means assignment). The composite
  * `aggregate(zip_with(a, b, (x, y) -> …), 0d, (acc, v) -> acc + v)`
  * allocates a zipped intermediate array per PAIR — at corpus×probe
  * or corpus×centroid volume that is billions of short-lived arrays.
  * These expressions run the identical left-to-right IEEE fold in a
  * tight generated loop with zero allocation, so results are
  * bit-for-bit what the composites produced (same add/multiply
  * order), and every existing DuckDB oracle is unchanged.
  *
  * Inputs: array<float> or array<double> (floats upcast exactly, as
  * the composites' CAST did). Divergence from the composites on
  * malformed input only: length mismatch / null element THROWS
  * instead of null-poisoning — embeddings are fixed-dim and non-null,
  * so a mismatch is corruption worth failing on, not propagating.
  */
object VecMath {

  private def isFloatArr(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def dotCompute(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_dot: length mismatch ${n} vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"vec_dot: null element at $i")
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  def sqDistCompute(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_sq_dist: length mismatch ${n} vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"vec_sq_dist: null element at $i")
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }

  /** Spark's `round(d, 6)` on a double, as RoundBase evaluates it:
    * HALF_UP on `BigDecimal.valueOf(d)` (the shortest decimal that
    * reads back as d), NaN and ±∞ passed through. */
  def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Position in `cents` of the nearest candidate to `a`: the minimum
    * by (round6(sqDist), id) under Spark's double ordering, so equal
    * rounded distances go to the lowest id whatever the scan order.
    * Candidates are every position (`cands` null) or the positions
    * listed in `cands`; none gives −1. No early exit: a partial sum
    * can still round to the best's value and win the tie on id. */
  def argminIndex(a: ArrayData, aF: Boolean, ids: Array[Long],
      cents: Array[Array[Double]], cands: ArrayData): Int = {
    val n = a.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(s"vec_argmin: null element at $i")
      x(i) = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val nc = if (cands == null) cents.length else cands.numElements()
    var best = -1
    var bd = 0.0
    var c = 0
    while (c < nc) {
      if (cands != null && cands.isNullAt(c))
        throw new IllegalArgumentException(s"vec_argmin: null candidate at $c")
      val p = if (cands == null) c else cands.getInt(c)
      val cv = cents(p)
      if (cv.length != n)
        throw new IllegalArgumentException(
          s"vec_argmin: length mismatch $n vs ${cv.length}")
      var acc = 0.0
      i = 0
      while (i < n) { val d = x(i) - cv(i); acc += d * d; i += 1 }
      val r = round6(acc)
      val o = if (best < 0) -1 else SQLOrderingUtil.compareDoubles(r, bd)
      if (o < 0 || (o == 0 && ids(p) < ids(best))) { best = p; bd = r }
      c += 1
    }
    best
  }

  /** Indices of the p nearest centroids, ascending by (dist, index) —
    * the IVF multi-probe routing primitive. p is small (≤ centroids),
    * so selection is a bounded insertion pass. */
  def nearestIndices(a: ArrayData, cents: Array[Array[Double]], p: Int,
      aF: Boolean): ArrayData = {
    val n = a.numElements()
    val m = math.min(p, cents.length)
    val bi = new Array[Int](m)
    val bdArr = new Array[Double](m)
    java.util.Arrays.fill(bdArr, Double.MaxValue)
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      if (cv.length != n)
        throw new IllegalArgumentException(
          s"vec_nearest_indices: length mismatch $n vs ${cv.length}")
      val worst = bdArr(m - 1)
      var acc = 0.0
      var i = 0
      while (i < n && acc < worst) { // can't displace once past the worst kept
        val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
        val d = x - cv(i)
        acc += d * d
        i += 1
      }
      if (acc < worst) { // strict < → ties keep the earlier (lower) index
        var j = m - 1
        while (j > 0 && acc < bdArr(j - 1)) {
          bdArr(j) = bdArr(j - 1); bi(j) = bi(j - 1); j -= 1
        }
        bdArr(j) = acc; bi(j) = c
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      bi.map(i => Int.box(i): AnyRef))
  }

  import org.apache.spark.sql.graftbridge.Bridge

  /** Σ aᵢ·bᵢ as one codegen'd loop (replaces dot composites). */
  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))

  /** Id of the nearest model vector: the minimum by (round(sq_dist, 6),
    * id), ties to the lowest id — the one nearest-centroid primitive of
    * k-means, IVF routing and PQ coding. A pure per-row map against a
    * driver-side model (no shuffle, legal in a streaming projection);
    * bit-identical to the per-candidate
    * `array_min(array(struct(round(vec_sq_dist(a, c), 6), id)…)).id`
    * it replaced. NULL for a NULL vector or an empty model. */
  def vec_argmin(a: Column, model: Seq[(Long, Seq[Double])]): Column =
    Bridge.column(VecArgmin(Seq(Bridge.expression(a)), model))

  /** [[vec_argmin]] over a per-row candidate subset: `cands` is an
    * array<int> of positions in `model` (NULL when it is empty). */
  def vec_argmin(a: Column, model: Seq[(Long, Seq[Double])],
      cands: Column): Column =
    Bridge.column(VecArgmin(
      Seq(Bridge.expression(a), Bridge.expression(cands)), model))

  /** Top-p variant (multi-probe IVF routing): array of the p nearest
    * centroid indices, ascending by (dist, index). */
  def vec_nearest_indices(a: Column, centroids: Seq[Seq[Double]], p: Int): Column =
    Bridge.column(VecNearestIndices(Bridge.expression(a), centroids, p))

  /** Σ (aᵢ−bᵢ)² — the k-means assignment metric. */
  def vec_sq_dist(a: Column, b: Column): Column =
    Bridge.column(VecSqDist(Bridge.expression(a), Bridge.expression(b)))

  /** √Σ aᵢ² — L2 norm via the same fold the composites used. */
  def vec_norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(vec_dot(a, a))

  private[functions] def floatFlags(l: Expression, r: Expression): (Boolean, Boolean) =
    (isFloatArr(l), isFloatArr(r))

  /** Analysis-time input check shared by the Vec* expressions: every
    * operand must be array<float> or array<double>. Without it a
    * non-array input died with a ClassCastException at plan time and
    * an array<int>/array<long> column was silently read through
    * ArrayData.getDouble over int-packed bytes — garbage, not an
    * error. Now both are clean AnalysisExceptions. */
  private[functions] def checkVecInputs(fname: String,
      ops: Seq[Expression]): TypeCheckResult = {
    ops.zipWithIndex.collectFirst {
      case (e, i) if !e.dataType.isInstanceOf[ArrayType] ||
          (e.dataType.asInstanceOf[ArrayType].elementType != FloatType &&
           e.dataType.asInstanceOf[ArrayType].elementType != DoubleType) =>
        TypeCheckResult.TypeCheckFailure(
          s"$fname requires array<float> or array<double> for argument ${i + 1}, " +
            s"got ${e.dataType.catalogString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }
}

case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.checkVecInputs(prettyName, Seq(left, right))

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (af, bf) = VecMath.floatFlags(left, right)
    VecMath.dotCompute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], af, bf)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (af, bf) = VecMath.floatFlags(left, right)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecMath.dotCompute($a, $b, $af, $bf);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** `vec_argmin(v, model)` / `vec_argmin(v, model, cands)`: children
  * are the vector and, in the subset form, the candidate positions. */
case class VecArgmin(children: Seq[Expression], model: Seq[(Long, Seq[Double])])
    extends Expression {

  @transient private lazy val ids: Array[Long] = model.map(_._1).toArray
  @transient private lazy val cents: Array[Array[Double]] =
    model.map(_._2.toArray).toArray
  private def aFloat: Boolean =
    children.head.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    children.lift(1).map(_.dataType) match {
      case None | Some(ArrayType(IntegerType, _)) =>
        VecMath.checkVecInputs(prettyName, children.take(1))
      case Some(t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<int> candidates, got ${t.catalogString}")
    }

  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def eval(input: InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.contains(null)) null
    else {
      val p = VecMath.argminIndex(vals.head.asInstanceOf[ArrayData], aFloat,
        ids, cents, vals.lift(1).map(_.asInstanceOf[ArrayData]).orNull)
      if (p < 0) null else ids(p)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
    val centsRef = ctx.addReferenceObj("centroids", cents, "double[][]")
    val evs = children.map(_.genCode(ctx))
    val p = ctx.freshName("p")
    val cands = if (evs.size == 2) evs(1).value.toString else "null"
    ev.copy(code = code"""
      ${evs.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = true;
      long ${ev.value} = -1L;
      if (!(${evs.map(_.isNull.toString).mkString(" || ")})) {
        int $p = graft.functions.VecMath.argminIndex(${evs.head.value}, $aFloat,
          $idsRef, $centsRef, $cands);
        if ($p >= 0) { ${ev.isNull} = false; ${ev.value} = $idsRef[$p]; }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecArgmin = copy(children = newChildren)

  override def prettyName: String = "vec_argmin"
  // keep the model payload out of plan renders
  override def toString: String =
    s"vec_argmin(${children.mkString(", ")}, k=${model.length})"
}

case class VecNearestIndices(child: Expression, centroids: Seq[Seq[Double]],
    p: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  @transient private lazy val arr: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  private def aFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.checkVecInputs(prettyName, Seq(child))

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override protected def nullSafeEval(a: Any): Any =
    VecMath.nearestIndices(a.asInstanceOf[ArrayData], arr, p, aFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", arr, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VecMath.nearestIndices($a, $ref, $p, $aFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): VecNearestIndices =
    copy(child = newChild)

  override def prettyName: String = "vec_nearest_indices"
  override def toString: String =
    s"vec_nearest_indices($child, k=${centroids.length}, p=$p)"
}

case class VecSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.checkVecInputs(prettyName, Seq(left, right))

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (af, bf) = VecMath.floatFlags(left, right)
    VecMath.sqDistCompute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], af, bf)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (af, bf) = VecMath.floatFlags(left, right)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecMath.sqDistCompute($a, $b, $af, $bf);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSqDist =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_sq_dist"
}
