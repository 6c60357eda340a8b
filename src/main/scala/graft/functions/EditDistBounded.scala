package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Banded (cutoff-k) Levenshtein distance — Ukkonen 1985: when the
  * caller only cares whether the distance is ≤ k (every entity-
  * resolution verify filter: q65, q193), the full O(m·n) DP wastes
  * almost all its work. The band restricts the DP to the 2k+1 diagonal
  * cells that can still be ≤ k and exits the moment an entire row of
  * the band exceeds k.
  *
  * Contract: returns the EXACT distance when it is ≤ k, and exactly
  * k+1 otherwise (a saturating distance — the filter `≤ k` behaves
  * identically to the unbounded function, which is what the q226
  * oracle proves against DuckDB's full levenshtein).
  *
  * At 100 TB this is the difference between O(k·L) and O(L²) per
  * verified candidate pair — for the ER verify joins the DP cost drops
  * from quadratic in name length to linear, at identical output.
  * Works on codepoints (like Spark's builtin), not UTF-16 units.
  */
object EditDist {
  def bounded(ua: UTF8String, ub: UTF8String, k: Int): Long = {
    // ASCII fast path (r15): bytes ARE code points, so the DP can read
    // UTF8String bytes in place — the generic path allocated a String +
    // codepoint stream + int[] per side PER CALL, the dominant cost of
    // the blocked ER match at bench scale (~740k calls over 18-char
    // names); identical DP, identical result
    if (ua != null && ub != null && ua.isFullAscii && ub.isFullAscii)
      return boundedAscii(ua, ub, k)
    var a = if (ua == null) Array.emptyIntArray
            else ua.toString.codePoints().toArray
    var b = if (ub == null) Array.emptyIntArray
            else ub.toString.codePoints().toArray
    if (a.length > b.length) { val t = a; a = b; b = t }
    val m = a.length
    val n = b.length
    val inf = k + 1
    if (n - m > k) return inf.toLong
    var prev = new Array[Int](n + 1)
    var curr = new Array[Int](n + 1)
    java.util.Arrays.fill(prev, inf)
    var j = 0
    while (j <= math.min(n, k)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= m) {
      java.util.Arrays.fill(curr, inf)
      var best = inf
      if (i <= k) { curr(0) = i; best = i }
      val lo = math.max(1, i - k)
      val hi = math.min(n, i + k)
      var jj = lo
      while (jj <= hi) {
        val cost = if (a(i - 1) == b(jj - 1)) 0 else 1
        var v = prev(jj - 1) + cost
        val del = prev(jj) + 1
        if (del < v) v = del
        val ins = curr(jj - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        curr(jj) = v
        if (v < best) best = v
        jj += 1
      }
      if (best >= inf) return inf.toLong
      val t = prev; prev = curr; curr = t
      i += 1
    }
    math.min(prev(n), inf).toLong
  }

  /** The identical banded DP over raw UTF8String bytes (valid when both
    * are full-ASCII: byte i IS code point i). Zero per-call allocation
    * beyond the two band rows. */
  private def boundedAscii(ua: UTF8String, ub: UTF8String, k: Int): Long = {
    var a = ua
    var b = ub
    if (a.numBytes > b.numBytes) { val t = a; a = b; b = t }
    val m = a.numBytes
    val n = b.numBytes
    val inf = k + 1
    if (n - m > k) return inf.toLong
    var prev = new Array[Int](n + 1)
    var curr = new Array[Int](n + 1)
    java.util.Arrays.fill(prev, inf)
    var j = 0
    while (j <= math.min(n, k)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= m) {
      java.util.Arrays.fill(curr, inf)
      var best = inf
      if (i <= k) { curr(0) = i; best = i }
      val lo = math.max(1, i - k)
      val hi = math.min(n, i + k)
      val ca = a.getByte(i - 1)
      var jj = lo
      while (jj <= hi) {
        val cost = if (ca == b.getByte(jj - 1)) 0 else 1
        var v = prev(jj - 1) + cost
        val del = prev(jj) + 1
        if (del < v) v = del
        val ins = curr(jj - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        curr(jj) = v
        if (v < best) best = v
        jj += 1
      }
      if (best >= inf) return inf.toLong
      val t = prev; prev = curr; curr = t
      i += 1
    }
    math.min(prev(n), inf).toLong
  }
}

/** `edit_dist_bounded(a, b, k)` → bigint: exact Levenshtein when ≤ k,
  * else k+1 (saturating). */
case class EditDistBounded(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        if (k >= 0) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "edit_dist_bounded needs a non-negative cutoff")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"edit_dist_bounded expects two strings, got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    EditDist.bounded(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.EditDist.bounded($a, $b, $k)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): EditDistBounded =
    copy(left = newLeft, right = newRight)
}

object EditDistOps {
  import org.apache.spark.sql.functions.{call_function, lit}

  def edit_dist_bounded(a: Column, b: Column, k: Int): Column =
    call_function("edit_dist_bounded", a, b, lit(k))
}
