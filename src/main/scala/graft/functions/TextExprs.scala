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

/** Winnowing fingerprint kernel (Schleimer et al., SIGMOD'03) as one
  * static call: k-token shingles hashed with the same xxhash64(seed 42)
  * Spark's builtin uses, sliding-window minima via a monotonic deque
  * (O(shingles), not O(shingles·w)), then distinct+sort. The composed
  * column equivalent needs two nested interpreted transforms and
  * materializes every intermediate array; this stays in whole-stage
  * codegen and allocates only the result. */
object WinnowKernel {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private val SPACE = UTF8String.fromString(" ")

  def winnow(tokens: ArrayData, k: Int, w: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val m = n - k + 1
    val hashes = new Array[Long](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
      val s = UTF8String.concatWs(SPACE, parts: _*)
      hashes(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes, 42L)
      i += 1
    }
    val mins =
      if (m <= w) Array(hashes.min)
      else {
        // monotonic deque of indices: front always holds the window min
        val out = new Array[Long](m - w + 1)
        val dq = new Array[Int](m)
        var (head, tail) = (0, -1)
        var x = 0
        while (x < m) {
          if (tail >= head && dq(head) <= x - w) head += 1
          while (tail >= head && hashes(dq(tail)) >= hashes(x)) tail -= 1
          tail += 1; dq(tail) = x
          if (x >= w - 1) out(x - w + 1) = hashes(dq(head))
          x += 1
        }
        out
      }
    java.util.Arrays.sort(mins)
    var uniq = 0
    var y = 0
    while (y < mins.length) {
      if (y == 0 || mins(y) != mins(y - 1)) { mins(uniq) = mins(y); uniq += 1 }
      y += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, uniq))
  }
}

case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprint requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    WinnowKernel.winnow(v.asInstanceOf[ArrayData], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowKernel.winnow($c, $k, $w)")
  override protected def withNewChildInternal(c: Expression): WinnowFingerprint =
    copy(child = c)
  override def prettyName: String = "winnow_fingerprint"
}
