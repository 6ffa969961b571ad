package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Token-membership kernel: how many elements of a token array are in
  * a fixed vocabulary (repeats counted). The composed equivalent —
  * `size(filter(arr, x => array_contains(lit(words), x)))` — runs its
  * lambda interpreted, one virtual dispatch per token per vocabulary;
  * this is a single static call probing a prebuilt hash set, and it
  * stays inside whole-stage codegen. Used by language ID (5 profiles
  * per doc) and quality scoring (stopword ratio).
  */
object TextKernels {
  def countInSet(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    var c = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }
}

case class CountInSet(child: Expression, words: Seq[String])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"count_in_set requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(v: Any): Any =
    TextKernels.countInSet(v.asInstanceOf[ArrayData], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.countInSet($c, $setRef)")
  }
  override protected def withNewChildInternal(c: Expression): CountInSet = copy(child = c)
  override def prettyName: String = "count_in_set"
}

object TextExprs {
  def countInSet(tokens: Column, words: Seq[String]): Column =
    ColumnBridge.column(CountInSet(ColumnBridge.expression(tokens), words))
}
