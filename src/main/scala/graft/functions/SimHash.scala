package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash over a token array (Charikar's scheme: each
  * token's 64-bit hash votes ±1 per bit position; the sign vector is
  * the signature). Token multiplicity is respected — repeated tokens
  * vote repeatedly — so the signature reflects term frequency.
  *
  * Kernel is a static JVM method so the generated code is a single
  * static call: the expression stays inside whole-stage codegen
  * (no virtual `eval` dispatch per row).
  */
object SimHashImpl {
  def compute(arr: ArrayData): Long = {
    val acc = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SimHashImpl.compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashImpl.compute($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  override def prettyName: String = "simhash64"
}
