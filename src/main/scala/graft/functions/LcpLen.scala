package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Longest-common-prefix length between two SUFFIXES of two documents —
  * the LCP step of the suffix-array span-dedup chain (q137/q139/q145/
  * q152/q280, Lee et al. 2022).
  *
  * `lcp_len(a, apos, b, bpos)` → the number of CODE POINTS shared by
  * suffix(a, apos) and suffix(b, bpos), where apos/bpos are 0-based
  * code-point offsets (the `pos` convention of the whole suffix pack:
  * Spark `length`/`substring` and DuckDB `len`/`substr` both count code
  * points). Offsets at or beyond the end of the string denote the empty
  * suffix (LCP 0); when one suffix is a prefix of the other the LCP is
  * the shorter suffix's length — exactly the "equal truncated ranks ⇒
  * min(len)" clamp the rank-lifting formulation needed explicitly.
  *
  * Cost: O(apos + bpos + lcp) byte-walk per pair, zero shuffles — it
  * replaces the per-LEVEL rank-lifting joins (2 shuffle joins × ~13
  * greedy-lifting steps at the bench caps) with one codegen'd scan over
  * the SAME broadcast doc texts the residual comparison already read.
  * The lifting was O(log maxlen) join passes per pair; the direct walk
  * is O(lcp) compute per pair — the published method's formulation —
  * and at any cap the texts are already doc-capped and broadcast, so
  * the walk adds no data movement.
  */
object Lcp {
  def len(ua: UTF8String, apos: Long, ub: UTF8String, bpos: Long): Long = {
    if (ua == null || ub == null) return 0L
    val a = ua.toString
    val b = ub.toString
    var ia = skip(a, apos)
    var ib = skip(b, bpos)
    var n = 0L
    while (ia < a.length && ib < b.length) {
      val ca = a.codePointAt(ia)
      val cb = b.codePointAt(ib)
      if (ca != cb) return n
      n += 1L
      ia += Character.charCount(ca)
      ib += Character.charCount(cb)
    }
    n
  }

  /** UTF-16 index of code point `cp` (clamped to end-of-string). */
  private def skip(s: String, cp: Long): Int = {
    var i = 0
    var left = cp
    while (left > 0 && i < s.length) {
      i += Character.charCount(s.codePointAt(i))
      left -= 1
    }
    i
  }
}

/** `lcp_len(a, apos, b, bpos)` → bigint (see [[Lcp.len]]). */
case class LcpLen(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (StringType, LongType, StringType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"lcp_len expects (string, bigint, string, bigint), got $other")
    }

  override def nullSafeEval(a: Any, ap: Any, b: Any, bp: Any): Any =
    Lcp.len(a.asInstanceOf[UTF8String], ap.asInstanceOf[Long],
      b.asInstanceOf[UTF8String], bp.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, ap, b, bp) =>
      s"graft.functions.Lcp.len($a, $ap, $b, $bp)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): LcpLen =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object LcpOps {
  import org.apache.spark.sql.functions.call_function

  def lcp_len(a: Column, apos: Column, b: Column, bpos: Column): Column =
    call_function("lcp_len", a, apos, b, bpos)
}
