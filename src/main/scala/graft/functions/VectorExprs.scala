package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Vector kernels as native Catalyst expressions. Spark's
  * higher-order functions (`zip_with`/`aggregate`) evaluate lambdas
  * interpreted, one virtual call per element; these compile to a
  * single static JVM call over the unsafe array data, so cosine
  * scoring stays inside whole-stage codegen — the difference between
  * an ANN scan being CPU-bound on boxed iteration vs on FMA. */
object VectorKernels {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i) * b.getFloat(i); i += 1 }
    s
  }

  /** Quantized-exact cosine: BOTH sides floor to 1e-6 integer units,
    * so the dot and both squared norms are sums of exact
    * integer-valued doubles (≤ ~1e12 per term — exact under any
    * accumulation order below 2^53), and the final
    * dot/(√na·√nb) is one correctly-rounded sqrt+multiply+divide
    * chain: BIT-DETERMINISTIC across engines that replay the same
    * formula shape, unlike a float accumulation whose last
    * ulp differs per engine and splits a round(cos·10⁴) landing
    * within an ulp of a .5 boundary (found by the sf0.007 off-grid
    * sweep, round 13: ann_mmr_rerank 0.2473 vs 0.2474). */
  def cosineQ6(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dp = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val va = math.floor(a.getFloat(i) * 1000000.0)
      val vb = math.floor(b.getFloat(i) * 1000000.0)
      dp += va * vb; na += va * va; nb += vb * vb
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dp / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Quantized-exact dot: LEFT elements floor to 1e-6 integer units,
    * RIGHT elements are expected PRE-quantized to integers (a plane
    * literal) — every product (≤ ~1e13) and partial sum is an exact
    * integer-valued double, so the result is identical under ANY
    * accumulation order, the property that makes it replayable
    * against an engine whose dot-product lane order differs. The
    * plain [[dot]] kernel multiplies float×float and cannot promise
    * that. */
  def dotQ6(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += math.floor(a.getFloat(i) * 1000000.0) * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Exact BIGINT dot of two pre-quantized long arrays — the integer
    * counterpart of [[dotQ6]] for operators whose whole pipeline is
    * already on the 1e-6 fixed-point lattice (semantic dedup): every
    * product of 1e-6-unit coordinates is ≤ ~1e12 and the 64-dim sum
    * ≤ ~1e14, far inside Long. */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** Exact BIGINT squared distance of two pre-quantized long arrays
    * (k-means assignment): per-dim deltas of shifted 1e-6-unit
    * coordinates are ≤ 2e6, squares ≤ 4e12, the 64-dim sum ≤ ~3e14. */
  def sqDistLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }
}

abstract class FloatVecBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<float>), got $other")
    }
  protected def kernel: String
  override protected def nullSafeEval(a: Any, b: Any): Any = eval0(a, b)
  protected def eval0(a: Any, b: Any): Double
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.$kernel($a, $b)")
}

/** Long-array sibling of [[FloatVecBinary]]: (array<long>,
  * array<long>) → long, evaluated by one static call inside
  * whole-stage codegen. */
abstract class LongVecBinary extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>), got $other")
    }
  protected def kernel: String
  override protected def nullSafeEval(a: Any, b: Any): Any = eval0(a, b)
  protected def eval0(a: Any, b: Any): Long
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.$kernel($a, $b)")
}

case class DotLong(left: Expression, right: Expression) extends LongVecBinary {
  override protected def kernel: String = "dotLong"
  override protected def eval0(a: Any, b: Any): Long =
    VectorKernels.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(l, r)
  override def prettyName: String = "dot_long"
}

case class SqDistLong(left: Expression, right: Expression) extends LongVecBinary {
  override protected def kernel: String = "sqDistLong"
  override protected def eval0(a: Any, b: Any): Long =
    VectorKernels.sqDistLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(l, r)
  override def prettyName: String = "sq_dist_long"
}

case class DotProduct(left: Expression, right: Expression) extends FloatVecBinary {
  override protected def kernel: String = "dot"
  override protected def eval0(a: Any, b: Any): Double =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(l, r)
  override def prettyName: String = "dot_product"
}

case class CosineSimQ6(left: Expression, right: Expression) extends FloatVecBinary {
  override protected def kernel: String = "cosineQ6"
  override protected def eval0(a: Any, b: Any): Double =
    VectorKernels.cosineQ6(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(l, r)
  override def prettyName: String = "cosine_sim_q6"
}

case class DotProductQ6(left: Expression, right: Expression) extends FloatVecBinary {
  override protected def kernel: String = "dotQ6"
  override protected def eval0(a: Any, b: Any): Double =
    VectorKernels.dotQ6(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(l, r)
  override def prettyName: String = "dot_product_q6"
}

object VectorExprs {
  def dotProductQ6(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductQ6(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def cosineSimQ6(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimQ6(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def dotLong(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def sqDistLong(a: Column, b: Column): Column =
    ColumnBridge.column(
      SqDistLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
