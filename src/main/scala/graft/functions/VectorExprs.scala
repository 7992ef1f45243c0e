package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot loops.
  *
  * Higher-order-function formulations of the same math evaluate one
  * interpreted lambda per element (`aggregate`/`zip_with`/`transform` are
  * CodegenFallback AND pay a closure call per element). These expressions
  * do the same IEEE double arithmetic in tight JVM loops — one virtual
  * call per ROW. The fold order is strictly left-to-right, which is also
  * what DuckDB's `list_reduce` does, so results are bit-identical to the
  * SQL oracles
  * (see [[VectorExprs.cosineSql]] / [[VectorExprs.weightsSqlLiteral]]).
  *
  * Since r17 all of them implement `doGenCode` (via the kernel-codegen
  * traits in TextExprs.scala): the previous CodegenFallback versions
  * disqualified their plan node from whole-stage codegen, splitting every
  * scoring projection into its own span with an InternalRow
  * materialization, and boxed each double result. All kernels bulk-extract
  * the arrays once and loop over primitives — a per-element
  * ArrayData.getFloat is a megamorphic virtual call and measured SLOWER
  * than the single toFloatArray copy in the same-session probe.
  *
  * Reference analog: the expression-compilation machinery at
  * /root/reference/src/execution/expression.rs:27-54 (logical expr → compiled
  * closure); here the "compiled closure" is a Catalyst expression kernel
  * invoked from generated code.
  */

private object VecUtil {
  /** Float array out of ArrayData regardless of physical representation. */
  def floats(a: Any): Array[Float] = a.asInstanceOf[ArrayData].toFloatArray()
}

/** Cosine similarity of two Array[Float] columns, accumulated in double,
  * sequential fold: dot/(sqrt(na)*sqrt(nb)). Zero-norm input → NaN (matches
  * the x/0.0 semantics of the HOF version).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryKernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  def kernel(l: ArrayData, r: ArrayData): Double = {
    // bulk-extract then a primitive loop: toFloatArray on the physical
    // array forms is one copy; per-element ArrayData.getFloat is a
    // megamorphic virtual call that measured SLOWER (same-session probe)
    val a = l.toFloatArray(); val b = r.toFloatArray()
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** Dot product (double accumulation, sequential). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryKernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  def kernel(l: ArrayData, r: ArrayData): Double = {
    val a = l.toFloatArray(); val b = r.toFloatArray()
    val n = math.min(a.length, b.length)
    var dot = 0.0; var i = 0
    while (i < n) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    dot
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** L2 norm (double accumulation, sequential). */
case class L2Norm(child: Expression)
    extends UnaryKernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(input: ArrayData): Double = {
    val a = input.toFloatArray()
    var s = 0.0; var i = 0
    while (i < a.length) { val x = a(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }
  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** Cosine similarity of two Array[Double] columns (same fold as
  * [[CosineSim]], no float cast).
  */
case class CosineSimD(left: Expression, right: Expression)
    extends BinaryKernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  def kernel(l: ArrayData, r: ArrayData): Double = {
    val a = l.toDoubleArray(); val b = r.toDoubleArray()
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimD =
    copy(left = l, right = r)
}

/** Squared L2 distance of two Array[Double] columns, sequential fold of
  * (a_i - b_i)^2 — bit-identical to the generated DuckDB oracle.
  */
case class L2DistSq(left: Expression, right: Expression)
    extends BinaryKernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  def kernel(l: ArrayData, r: ArrayData): Double = {
    val a = l.toDoubleArray(); val b = r.toDoubleArray()
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2DistSq =
    copy(left = l, right = r)
}

/** Element sum of an Array[Float] column, accumulated in double, strictly
  * left-to-right — bit-identical to DuckDB
  * `list_sum(list_transform(v, x -> CAST(x AS DOUBLE)))`.
  */
case class FloatVecSum(child: Expression)
    extends UnaryKernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(input: ArrayData): Double = {
    val a = input.toFloatArray()
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble; i += 1 }
    s
  }
  override protected def withNewChildInternal(newChild: Expression): FloatVecSum =
    copy(child = newChild)
}

/** Random-hyperplane LSH bucket: bit p of the result is the sign of the
  * projection onto deterministic pseudo-random hyperplane `table*64 + p`
  * (weights from [[VectorExprs.planeWeight]]). Arithmetic is
  * products-then-sequential-sum, matching the SQL oracle exactly.
  */
case class HyperplaneBucket(child: Expression, nPlanes: Int, table: Int, dim: Int)
    extends UnaryKernelCodegen {
  override def dataType: DataType = LongType

  @transient private lazy val w: Array[Array[Double]] =
    Array.tabulate(nPlanes, dim)((p, i) => VectorExprs.planeWeight(table * 64 + p, i))

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(input: ArrayData): Long = {
    val v = VecUtil.floats(input)
    val n = math.min(dim, v.length)
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val wp = w(p)
      var proj = 0.0; var i = 0
      while (i < n) { proj += v(i).toDouble * wp(i); i += 1 }
      if (proj >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }
  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

/** ±1-sign random projection (Johnson-Lindenstrauss, Achlioptas-2003 ±1
  * variant): out[i] = Σ_j sign(i,j)·(double)v[j], left-assoc fold per
  * output dim — bit-identical to a sequential `list_reduce` oracle and to
  * the 16 flat ±64-term SQL chains it replaces. Those plan-baked chains
  * put ~1024 adds in one generated processNext(), which blew janino's
  * method limit (r13 verdict finding #1: InternalCompilerException,
  * silent interpreted fallback — the chains' codegen rationale was void).
  * This is the repo's standard native-loop device instead: one virtual
  * call per row, primitive accumulation, same IEEE op order.
  *
  * Elements past `v.length` contribute nothing (inputs are fixed 64-dim;
  * the SQL chain would null the dim instead — unreachable shape).
  */
case class SignProject(child: Expression, signs: IndexedSeq[Boolean],
                       outDims: Int, inDims: Int)
    extends UnaryKernelCodegen {
  require(signs.length == outDims * inDims, "signs must be outDims x inDims")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  @transient private lazy val signArr: Array[Boolean] = signs.toArray

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(input: ArrayData): ArrayData = {
    val v = VecUtil.floats(input)
    val n = math.min(inDims, v.length)
    val out = new Array[Double](outDims)
    var i = 0
    while (i < outDims) {
      val base = i * inDims
      var acc = 0.0
      var j = 0
      while (j < n) {
        val e = v(j).toDouble
        acc = if (signArr(base + j)) acc + e else acc - e
        j += 1
      }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): SignProject =
    copy(child = newChild)
}

object VectorExprs {
  import org.apache.spark.sql.graftx.Bridge.{column, expression}

  /** Deterministic pseudo-random hyperplane weight for (plane, dim): uniform
    * in [-1, 1), splitmix64-style mix.
    */
  def planeWeight(plane: Int, dim: Int): Double = {
    var h = plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xC2B2AE3D27D4EB4FL
    h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
    Math.floorMod(h, 2000001L).toDouble / 1000000.0 - 1.0
  }

  def cosine(a: Column, b: Column): Column = column(CosineSim(expression(a), expression(b)))
  def cosineD(a: Column, b: Column): Column = column(CosineSimD(expression(a), expression(b)))
  def l2DistSq(a: Column, b: Column): Column = column(L2DistSq(expression(a), expression(b)))
  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
  def l2Norm(a: Column): Column = column(L2Norm(expression(a)))
  def sumD(a: Column): Column = column(FloatVecSum(expression(a)))
  def hyperplaneBucket(vec: Column, nPlanes: Int, table: Int = 0, dim: Int = 64): Column =
    column(HyperplaneBucket(expression(vec), nPlanes, table, dim))
  def signProject(vec: Column, signs: IndexedSeq[Boolean],
                  outDims: Int, inDims: Int): Column =
    column(SignProject(expression(vec), signs, outDims, inDims))

  /** Multi-table LSH signature: array of (tbl, bkt) structs — the scale path
    * for ANN (bucket id = shuffle key; OR-combined tables for recall).
    */
  def lshTables(vec: Column, nPlanes: Int, nTables: Int, dim: Int = 64): Column = {
    import org.apache.spark.sql.functions.{array, lit, struct}
    array((0 until nTables).map(t =>
      struct(lit(t).as("tbl"), hyperplaneBucket(vec, nPlanes, t, dim).as("bkt"))): _*)
  }

  // ---------- DuckDB oracle SQL generators (bit-identical arithmetic) ----------

  /** Weight matrix for one LSH table as a DuckDB DOUBLE[][] literal.
    * Double.toString is shortest-round-trip, so DuckDB parses back the exact
    * same binary64 values the JVM uses.
    */
  def weightsSqlLiteral(table: Int, nPlanes: Int, dim: Int = 64): String =
    (0 until nPlanes).map { p =>
      (0 until dim).map(i => planeWeight(table * 64 + p, i)).mkString("[", ",", "]")
    }.mkString("[", ",", "]")

  /** DuckDB expression: cosine of two FLOAT[] columns with the same
    * cast-to-double, products-then-sequential-fold order as [[CosineSim]].
    */
  def cosineSql(a: String, b: String, dim: Int = 64): String = {
    def fold(products: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $products), (acc, x) -> acc + x)"
    val dot = fold(s"list_transform(range(1, ${dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")
    val na = fold(s"list_transform(range(1, ${dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))")
    val nb = fold(s"list_transform(range(1, ${dim + 1}), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")
    s"($dot / (sqrt($na) * sqrt($nb)))"
  }

  /** DuckDB expression: squared L2 distance of two DOUBLE[] expressions,
    * same fold as [[L2DistSq]].
    */
  def l2DistSqSql(a: String, b: String, dim: Int = 64): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, ${dim + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
       |  (acc, x) -> acc + x)""".stripMargin

  /** DuckDB expression: hyperplane bucket of FLOAT[] column `v` for one LSH
    * table, given a weight-matrix literal bound as `W` (DOUBLE[][]).
    */
  def bucketSql(v: String, w: String, nPlanes: Int, dim: Int = 64): String =
    s"""CAST(list_sum(list_transform(range(1, ${nPlanes + 1}), p ->
       |  CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |         list_transform(range(1, ${dim + 1}), i -> CAST($v[i] AS DOUBLE) * $w[p][i])),
       |       (acc, x) -> acc + x) >= 0
       |  THEN CAST(1 AS BIGINT) << (p - 1) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
}
