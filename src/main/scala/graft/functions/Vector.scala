package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{shim => colshim}
import org.apache.spark.sql.types._

/** `dot_fold(a, b)`: the sequential-double-fold dot product of two
  * numeric array columns — `((0.0 + a0*b0) + a1*b1) + …` with every
  * element cast to double first. This is the exact arithmetic of
  * `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, _ + _)` (and of the
  * DuckDB oracle's `list_reduce(list_transform(...))`), but as a native
  * codegen expression: one fused loop inside whole-stage codegen
  * instead of two interpreted higher-order functions allocating an
  * intermediate array per row. On the all-pairs similarity path this
  * is the difference between an O(n²)·interpreter-dispatch plan and an
  * O(n²)·SIMD-friendly loop.
  *
  * Reference context: HBase has no vector ops; this backs the graft
  * LLM-pipeline extension operators (SURVEY.md §2 ext: embedding
  * near-dup, ANN top-k) the way `ColumnInterpreter`
  * (hbase-client/.../coprocessor/ColumnInterpreter.java:52) backs its
  * pluggable aggregations: a typed kernel under a declarative surface.
  */
case class DotFold(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_fold"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def numericArray(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType | ShortType | ByteType, _) => true
      case _ => false
    }
    if (numericArray(left) && numericArray(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_fold needs numeric array inputs, got ${left.dataType} / ${right.dataType}")
  }

  private def getD(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType   => arr.getFloat(i).toDouble
    case DoubleType  => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType    => arr.getLong(i).toDouble
    case ShortType   => arr.getShort(i).toDouble
    case ByteType    => arr.getByte(i).toDouble
    case _           => sys.error(s"unsupported element type $t")
  }

  // zip_with/aggregate (and the oracle's list_reduce) return NULL on a
  // null element or a length mismatch — so must the fused form
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x  = a.asInstanceOf[ArrayData]
    val y  = b.asInstanceOf[ArrayData]
    val lt = elemType(left)
    val rt = elemType(right)
    val n  = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i   = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += getD(x, i, lt) * getD(y, i, rt)
      i += 1
    }
    acc
  }

  private def genGet(arr: String, i: String, t: DataType): String = t match {
    case FloatType   => s"(double) $arr.getFloat($i)"
    case DoubleType  => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType    => s"(double) $arr.getLong($i)"
    case ShortType   => s"(double) $arr.getShort($i)"
    case ByteType    => s"(double) $arr.getByte($i)"
    case _           => sys.error(s"unsupported element type $t")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i   = ctx.freshName("i")
      val n   = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${genGet(a, i, elemType(left))} * ${genGet(b, i, elemType(right))};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotFold =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid search against a LITERAL centroid matrix — the
  * coarse-quantizer kernel of the IVF family (assign = top-1 cluster
  * id, probe = the `nprobe` best ids, best first).
  *
  * Why a dedicated expression instead of the composed
  * `array_max(array(struct(dot_fold(v, lit(c_i)) − ‖c_i‖²/2, i)))`
  * form: with nlist literal arrays inlined, the composed tree
  * generates one enormous Java method per stage — janino spends
  * seconds compiling it and HotSpot refuses to JIT methods that large,
  * so the hot loop runs in the BYTECODE INTERPRETER forever. Measured
  * at the r16 sf10 soak: 61 core-ms per 64-dim vector against 64
  * centroids ≈ 382 s to index 200k vectors. This expression keeps the
  * matrix as ONE reference object and evaluates a tight static loop —
  * compact codegen, JIT-compiled, and the same arithmetic bit-for-bit:
  * scores are the identical left-to-right double fold
  * (v·c − ‖c‖²/2, halves pre-summed the same way), assign ties prefer
  * the LARGER index (array_max struct semantics), probe ties the
  * SMALLER (array_sort semantics) — so every stored index and oracle
  * row is unchanged.
  *
  * Null semantics match the composed form's useful core: a null array
  * or a null element yields null; a vector whose length differs from
  * the centroid dim yields null (dot_fold's mismatch rule).
  */
case class NearestCentroids(child: Expression,
    cents: Array[Array[Double]], nprobe: Int, assignMode: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(nprobe >= 1 && nprobe <= cents.length,
    s"nprobe $nprobe out of range for ${cents.length} centroids")
  require(!assignMode || nprobe == 1, "assign mode is top-1 by definition")

  override def dataType: DataType =
    if (assignMode) IntegerType else ArrayType(IntegerType, false)
  override def prettyName: String = "nearest_centroids"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroids needs array<float|double>, got $t")
    }

  private lazy val halves: Array[Double] =
    cents.map(c => c.map(x => x * x).sum / 2)
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(v: Any): Any =
    if (assignMode)
      NearestCentroids.assign(v.asInstanceOf[ArrayData], cents, halves,
        isFloat)
    else
      NearestCentroids.probe(v.asInstanceOf[ArrayData], cents, halves,
        isFloat, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val halvesRef = ctx.addReferenceObj("halves", halves, "double[]")
    val cls = NearestCentroids.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val call =
      if (assignMode)
        (a: String) => s"$cls.assignBoxed($a, $centsRef, $halvesRef, $isFloat)"
      else
        (a: String) =>
          s"$cls.probeBoxed($a, $centsRef, $halvesRef, $isFloat, $nprobe)"
    nullSafeCodeGen(ctx, ev, a => {
      val tmp = ctx.freshName("nc")
      val unbox =
        if (assignMode) s"((java.lang.Integer) $tmp).intValue()"
        else s"(org.apache.spark.sql.catalyst.util.ArrayData) $tmp"
      s"""
         |Object $tmp = ${call(a)};
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $unbox; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroids = copy(child = newChild)
}

object NearestCentroids {
  /** v·c_i − ‖c_i‖²/2 scores; null (as −1 sentinel via the boxed
    * wrappers) on null elements or a dim mismatch. */
  private def scores(v: ArrayData, cents: Array[Array[Double]],
      halves: Array[Double], isFloat: Boolean): Array[Double] = {
    val dim = if (cents.length == 0) 0 else cents(0).length
    if (v.numElements() != dim) return null
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      x(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cc = cents(c)
      var acc = 0.0
      var j = 0
      while (j < dim) { acc += x(j) * cc(j); j += 1 }
      out(c) = acc - halves(c)
      c += 1
    }
    out
  }

  /** Top-1: max score, ties prefer the larger index (array_max struct
    * order). Returns null on null elements / dim mismatch. */
  def assign(v: ArrayData, cents: Array[Array[Double]],
      halves: Array[Double], isFloat: Boolean): Any = {
    val s = scores(v, cents, halves, isFloat)
    if (s == null) return null
    var best = 0
    var i = 1
    while (i < s.length) { if (s(i) >= s(best)) best = i; i += 1 }
    best
  }

  /** Top-nprobe ids best-first: ascending (half − dot, index) order —
    * the array_sort-of-structs semantics (score ties prefer the
    * smaller index). */
  def probe(v: ArrayData, cents: Array[Array[Double]],
      halves: Array[Double], isFloat: Boolean, nprobe: Int): Any = {
    val s = scores(v, cents, halves, isFloat)
    if (s == null) return null
    val idx = Array.range(0, s.length)
    // full sort: nlist is small (≤ a few hundred); stable sort keeps
    // the smaller index first on score ties
    val sorted = idx.sortBy(i => -s(i))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(sorted, nprobe))
  }

  // boxed entry points for generated code (null maps to Java null)
  def assignBoxed(v: ArrayData, cents: Array[Array[Double]],
      halves: Array[Double], isFloat: Boolean): Object =
    assign(v, cents, halves, isFloat) match {
      case null => null
      case i: Int => Integer.valueOf(i)
    }
  def probeBoxed(v: ArrayData, cents: Array[Array[Double]],
      halves: Array[Double], isFloat: Boolean, nprobe: Int): Object =
    probe(v, cents, halves, isFloat, nprobe).asInstanceOf[Object]
}

/** Column wrappers + SQL registration for graft's native expressions. */
object VectorFunctions {

  /** Sequential-fold dot product (see [[DotFold]]). */
  def dot_fold(a: Column, b: Column): Column =
    colshim.column(DotFold(colshim.expression(a), colshim.expression(b)))

  /** L2 norm via the same fold: `sqrt(dot_fold(v, v))`. Factoring the
    * norm out per vector (instead of per pair) is bit-identical to the
    * per-pair form because it is the same fold over the same array. */
  def l2_norm(v: Column): Column =
    org.apache.spark.sql.functions.sqrt(dot_fold(v, v))

  /** Top-1 nearest-centroid id (see [[NearestCentroids]]). */
  def nearest_centroid(v: Column, cents: Array[Array[Double]]): Column =
    colshim.column(NearestCentroids(colshim.expression(v), cents, 1,
      assignMode = true))

  /** Top-`nprobe` nearest-centroid ids, best first. */
  def nearest_centroids(v: Column, cents: Array[Array[Double]],
      nprobe: Int): Column =
    colshim.column(NearestCentroids(colshim.expression(v), cents, nprobe,
      assignMode = false))
}
