package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}

/** Vector kernels for the IVF index: nearest-centroid assignment as a
  * native Catalyst expression — a narrow, codegen'd map whose centroid
  * matrix rides the plan as a reference object (never a literal expression
  * tree, which stops codegen'ing past ~100 centroids — VERDICT.md
  * "What's wrong" #3).
  */
object VectorKernels {

  /** Normalize `vec` to the unit sphere (cosine space) and return the
    * nearest centroid id + L2 distance to it. `isFloat` selects the array
    * element accessor (embedding columns are array<float>, derived vectors
    * array<double>).
    */
  def assign(vec: ArrayData, isFloat: Boolean, cents: Array[Array[Double]]): InternalRow = {
    val n = vec.numElements()
    val v = new Array[Double](n)
    var i = 0
    var s = 0.0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      v(i) = x
      s += x * x
      i += 1
    }
    val nrm = math.sqrt(s)
    if (nrm > 0) { i = 0; while (i < n) { v(i) /= nrm; i += 1 } }
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      var d = 0.0
      var j = 0
      val m = math.min(n, ct.length)
      while (j < m) { val t = v(j) - ct(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](best, math.sqrt(bestD)))
  }

  /** Normalized-space L2 distance from `vec` to EVERY centroid — the
    * per-probe column form of the driver-side probe plan: downstream
    * higher-order functions slice the nProbe nearest cids and the
    * triangle-inequality expansion set from this one array, so a
    * corpus-sized probe set never round-trips through the driver
    * (Similarity.knnJoinBucketed).
    */
  def distsToAll(vec: ArrayData, isFloat: Boolean,
      cents: Array[Array[Double]]): ArrayData = {
    val n = vec.numElements()
    val v = new Array[Double](n)
    var i = 0
    var s = 0.0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      v(i) = x
      s += x * x
      i += 1
    }
    val nrm = math.sqrt(s)
    if (nrm > 0) { i = 0; while (i < n) { v(i) /= nrm; i += 1 } }
    val out = new Array[Any](cents.length)
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      var d = 0.0
      var j = 0
      val m = math.min(n, ct.length)
      while (j < m) { val t = v(j) - ct(j); d += t * t; j += 1 }
      out(c) = math.sqrt(d)
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Sequential-fold double dot product — EXACTLY the fold order of the
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` higher-order form it
    * replaces (s += a(i)·b(i) left to right), so scores stay bit-identical
    * to the DuckDB list_dot_product oracle; interpreted HOF lambdas box
    * per element (~30µs/pair at dim 64), this is the ~0.1µs codegen'd
    * kernel the verify paths already use for integers (dot_i64). Unequal
    * lengths fold over the overlap, and NULL ELEMENTS inside a vector read
    * as primitive garbage rather than poisoning the sum to SQL NULL the
    * way the HOF form did — every producer here (parquet embeddings,
    * hash_embed, transform-cast) emits fixed-dim, non-null elements, so
    * both are contract violations, but callers ingesting foreign vectors
    * must validate element nullability first.
    */
  def dotD(a: ArrayData, ak: Int, b: ArrayData, bk: Int): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    if (ak == KindLong && bk == KindLong) {
      // long×long pairs multiply in LONG arithmetic with the cast at the
      // fold — exactly the HOF's implicit typing (x*y long, + double), so
      // the integer-embedding reference path is bit-unchanged
      while (i < n) { s += (a.getLong(i) * b.getLong(i)).toDouble; i += 1 }
    } else {
      while (i < n) { s += elem(a, ak, i) * elem(b, bk, i); i += 1 }
    }
    s
  }

  private def elem(v: ArrayData, kind: Int, i: Int): Double = kind match {
    case KindFloat => v.getFloat(i).toDouble
    case KindLong => v.getLong(i).toDouble
    case _ => v.getDouble(i)
  }

  def normD(v: ArrayData, kind: Int): Double =
    math.sqrt(dotD(v, kind, v, kind))

  val KindDouble = 0
  val KindFloat = 1
  val KindLong = 2

  /** Bound on the centroid state a `nearest_centroid`, `centroid_dists` or
    * `centroid_argmax` expression carries. The state rides the plan as a
    * reference object, so it is serialized into the stage's task closure
    * and every task deserializes its own copy; a model past this size
    * belongs in a join, not in the expression.
    */
  val MaxCentroidBytes: Long = 16L << 20

  def requireCentroidBytes(what: String, bytes: Long): Unit =
    require(bytes <= MaxCentroidBytes,
      s"$what: centroid state of $bytes bytes is over MaxCentroidBytes " +
        s"($MaxCentroidBytes bytes), the bound on state shipped in each task closure")

  def matrixBytes(m: Array[Array[Double]]): Long = m.iterator.map(_.length * 8L).sum

  /** Per-stratum dense centroid state for `centroid_argmax` (r7, the q51
    * rewrite): stratum names sorted ASCENDING (so the first strict-greater
    * winner reproduces the (score desc, name asc) row_number tiebreak),
    * dense integer centroid vectors (0 where the stratum has no posting for
    * the dim), a PRESENCE mask (dims where ANY member doc had a nonzero
    * entry — including dims whose signs cancelled to c = 0, which the
    * former inner join on dim kept as evidence), and √|C|² precomputed as
    * `Math.sqrt((double) cn2)` — exactly Spark's SQRT(longCol) cast+fold.
    * Strata with cn2 = 0 are excluded by the builder (the former
    * `where(cn2 > 0)`).
    */
  final class StrataCentroids(
      val names: Array[String],
      val cvecs: Array[Array[Long]],
      val present: Array[Array[Boolean]],
      val sqrtCn2: Array[Double]) extends Serializable {
    def bytes: Long =
      cvecs.iterator.map(_.length * 8L).sum + present.iterator.map(_.length.toLong).sum +
        sqrtCn2.length * 8L + names.iterator.map(_.length * 2L).sum
  }

  /** Nearest-centroid-by-SCORE argmax over integer hashed embeddings — the
    * narrow kernel form of centroidClassify's former
    * explode → dim-join (×strata fan-out) → (id, stratum) aggregate →
    * window pipeline, with IDENTICAL semantics:
    *   - a stratum enters the argmax iff the doc shares ≥1 nonzero dim with
    *     the stratum's posting set (the inner-join-on-dim contract — a
    *     shared dim whose centroid value cancelled to 0 still counts as
    *     evidence);
    *   - score = round(dot / √|C|², 4) with Spark Round's exact
    *     BigDecimal.valueOf(x).setScale(4, HALF_UP) semantics (rounding
    *     BEFORE the argmax, as the former window ordered by the rounded
    *     column);
    *   - ties on the rounded score break on the ascending stratum name.
    * Returns (pred string, score double); pred is NULL when no stratum
    * shares a dim (the row the former inner join dropped).
    */
  def centroidArgmax(vec: ArrayData, m: StrataCentroids): InternalRow = {
    val v = vec.toLongArray()
    var bestScore = 0.0
    var bestIdx = -1
    var s = 0
    while (s < m.names.length) {
      val c = m.cvecs(s)
      val p = m.present(s)
      var dot = 0L
      var shared = false
      var d = 0
      val n = math.min(v.length, c.length)
      while (d < n) {
        val x = v(d)
        if (x != 0L) {
          dot += x * c(d)
          if (p(d)) shared = true
        }
        d += 1
      }
      if (shared) {
        // Spark's Round(DoubleType, 4): BigDecimal.valueOf(d).setScale —
        // replicated literally so the rounded score is bit-identical
        val score = java.math.BigDecimal.valueOf(dot.toDouble / m.sqrtCn2(s))
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
        if (bestIdx < 0 || score > bestScore) { bestScore = score; bestIdx = s }
      }
      s += 1
    }
    if (bestIdx < 0) new GenericInternalRow(Array[Any](null, 0.0))
    else new GenericInternalRow(Array[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString(m.names(bestIdx)),
      bestScore))
  }

  /** Element accessor selector, resolved once from the schema, not per
    * row (double / float / long element kinds).
    */
  def elemKind(dt: DataType, what: String): Int = dt match {
    case ArrayType(DoubleType, _) => KindDouble
    case ArrayType(FloatType, _) => KindFloat
    case ArrayType(org.apache.spark.sql.types.LongType, _) => KindLong
    case other => throw new IllegalArgumentException(
      s"$what needs array<double|float|long>, got $other")
  }
}

/** dot_f64(a, b): sequential-fold double dot product (see
  * VectorKernels.dotD); accepts array<float> / array<double> on either side.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f64"
  private lazy val lk = VectorKernels.elemKind(left.dataType, prettyName)
  private lazy val rk = VectorKernels.elemKind(right.dataType, prettyName)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotD(a.asInstanceOf[ArrayData], lk, b.asInstanceOf[ArrayData], rk)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.dotD($a, $lk, $b, $rk);")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecDot = copy(left = newLeft, right = newRight)
}

/** norm_f64(v): L2 norm via the same sequential fold. */
case class VecNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "norm_f64"
  private lazy val kind = VectorKernels.elemKind(child.dataType, prettyName)
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.normD(input.asInstanceOf[ArrayData], kind)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.normD($c, $kind);")
  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}

/** nearest_centroid(vec): struct(cid int, dist double) in normalized space. */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]],
    isFloat: Boolean) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override def prettyName: String = "nearest_centroid"
  VectorKernels.requireCentroidBytes(prettyName, VectorKernels.matrixBytes(centroids))
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.assign(input.asInstanceOf[ArrayData], isFloat, centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.assign($c, $isFloat, $cents);")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** centroid_dists(vec): array<double> of normalized-space L2 distances to
  * each centroid — see VectorKernels.distsToAll.
  */
case class CentroidDists(child: Expression, centroids: Array[Array[Double]],
    isFloat: Boolean) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "centroid_dists"
  VectorKernels.requireCentroidBytes(prettyName, VectorKernels.matrixBytes(centroids))
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.distsToAll(input.asInstanceOf[ArrayData], isFloat, centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.distsToAll($c, $isFloat, $cents);")
  }
  override protected def withNewChildInternal(newChild: Expression): CentroidDists =
    copy(child = newChild)
}

/** centroid_argmax(vec): struct(pred string, score double) — best-scoring
  * stratum for an integer hashed-embedding vector (see
  * VectorKernels.centroidArgmax).
  */
case class CentroidArgmax(child: Expression,
    strata: VectorKernels.StrataCentroids) extends UnaryExpression {
  // both fields nullable so the written parquet schema matches the former
  // join/round pipeline's optional columns
  override def dataType: DataType = StructType(Seq(
    StructField("pred", org.apache.spark.sql.types.StringType, nullable = true),
    StructField("score", DoubleType, nullable = true)))
  override def prettyName: String = "centroid_argmax"
  VectorKernels.requireCentroidBytes(prettyName, strata.bytes)
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.centroidArgmax(input.asInstanceOf[ArrayData], strata)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("strata", strata,
      classOf[VectorKernels.StrataCentroids].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.centroidArgmax($c, $m);")
  }
  override protected def withNewChildInternal(newChild: Expression): CentroidArgmax =
    copy(child = newChild)
}

/** Column wrappers for expressions that carry non-literal state (a centroid
  * matrix) and therefore can't go through the SQL function registry.
  */
object VectorFunctions {
  import org.apache.spark.sql.graftbridge.GraftSqlBridge

  def nearestCentroid(vec: Column, centroids: Array[Array[Double]],
      isFloat: Boolean): Column =
    GraftSqlBridge.column(
      NearestCentroid(GraftSqlBridge.expression(vec), centroids, isFloat))

  def centroidArgmax(vec: Column, strata: VectorKernels.StrataCentroids): Column =
    GraftSqlBridge.column(
      CentroidArgmax(GraftSqlBridge.expression(vec), strata))

  def centroidDists(vec: Column, centroids: Array[Array[Double]],
      isFloat: Boolean): Column =
    GraftSqlBridge.column(
      CentroidDists(GraftSqlBridge.expression(vec), centroids, isFloat))

  def lshBandKeysFp(vec: Column, isFloat: Boolean, bands: Int,
      bitsPerBand: Int): Column =
    GraftSqlBridge.column(
      LshBandKeysFp(GraftSqlBridge.expression(vec), isFloat, bands, bitsPerBand))
}
