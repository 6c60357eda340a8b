package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The k-min winnowing sketch loop, compiled once here and called from
  * the expression's generated code. Hash of the 8-char window at
  * 1-based position i is the Karp–Rabin-style polynomial
  * Σ_k (codepoint(c_{i+k}) % 256) · 131^(7−k) — exact signed-64
  * arithmetic (max 255·Σ131^k ≈ 1.7·10¹⁷ ≪ 2⁶³), so the DuckDB oracle can state the
  * identical sum with substr/ascii and hash-match bit for bit.
  * Characters beyond the end of a short text contribute 0, matching
  * `ascii(substr(text, i, 1)) = 0` on an empty substring.
  *
  * Why an Expression and not `transform(sequence(...), lambda)`:
  * Spark's higher-order-function lambdas are evaluated INTERPRETED,
  * once per element — the window loop over a corpus is millions of
  * lambda invocations (measured 14 s at sf0.1 for the polynomial in
  * lambda form, md5-in-lambda 3.4 s, vs 0.3 s here, forced-evaluation
  * steady state). A native expression keeps the loop as
  * compiled code inside whole-stage codegen.
  */
object WinnowHash {
  val WindowChars = 8
  private val pows: Array[Long] =
    Array.iterate(1L, WindowChars)(_ * 131L).reverse

  /** k smallest window hashes, ascending, with multiplicity —
    * equivalent to `slice(array_sort(all window hashes), 1, k)`.
    * A text shorter than one window still yields one (zero-padded)
    * window, mirroring `sequence(1, greatest(len-7, 1))`. */
  def sketch(text: UTF8String, k: Int): ArrayData = {
    val cps = (if (text == null) "" else text.toString).codePoints().toArray
    val n = math.max(cps.length - (WindowChars - 1), 1)
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 0L
      var j = 0
      while (j < WindowChars) {
        val idx = i + j
        if (idx < cps.length) h += (cps(idx) % 256).toLong * pows(j)
        j += 1
      }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    new GenericArrayData(java.util.Arrays.copyOf(hs, math.min(k, n)))
  }
}

/** `winnow_sketch(text, k)` → `array<bigint>`: the k smallest 8-char
  * polynomial window hashes of the text, ascending. */
case class WinnowSketch(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_sketch expects a string column, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    WinnowHash.sketch(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowHash.sketch($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WinnowSketch =
    copy(child = newChild)
}

/** Column-level entry point; same registry bridge as [[VecOps]]. */
object WinnowOps {
  import org.apache.spark.sql.functions.{call_function, lit}

  def winnow_sketch(c: Column, k: Int): Column =
    call_function("winnow_sketch", c, lit(k))
}
