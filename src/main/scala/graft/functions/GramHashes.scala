package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All n-TOKEN window hashes of a whitespace-tokenized text, compiled
  * once here and called from the expression's generated code (same
  * pattern as [[WinnowHash]]).
  *
  * Key fact the loop exploits: joining n consecutive single-space
  * tokens with single spaces reproduces an exact SUBSTRING of the
  * original text, so the hash of the gram STRING
  * `concat_ws(' ', tokens[i..i+n-1])` can be computed by scanning the
  * corresponding character range directly — no token array, no per-gram
  * string allocation, nothing but arithmetic per character. Replacing
  * the explode-the-strings plan this cuts both the CPU of building
  * ~50–80-byte gram strings and ~85% of the bytes the downstream
  * shuffle ships (an 8-byte long per gram instead of the string).
  *
  * Hash: the modular character polynomial
  * `h(g) = Σ_j (codepoint(g_j) % 256) · 131^(L−1−j)  mod  P`,
  * P = 36028797018963913 (a prime < 2^55, so every intermediate —
  * 255·(P−1) ≈ 9.19e18 and 131·(P−1) — stays inside signed-64; DuckDB
  * BIGINT arithmetic errors on overflow rather than wrapping, so the
  * bound is what makes the oracle expressible). The DuckDB twin states
  * the identical positional sum over the built gram string with a
  * powers-of-131-mod-P literal array and hash-matches bit for bit.
  * Grouping by hash instead of gram string changes equality only on
  * polynomial collisions (≈ m²/2P — about 1e-6 at a million distinct
  * grams), and both engines compute the SAME hash, so oracle equality
  * is unaffected even then.
  */
object GramHash {
  val P = 36028797018963913L
  val Base = 131L

  def hashes(text: UTF8String, n: Int): ArrayData = {
    val s = if (text == null) "" else text.toString
    val cps = s.codePoints().toArray
    var nTok = 1
    var i = 0
    while (i < cps.length) { if (cps(i) == ' ') nTok += 1; i += 1 }
    if (nTok < n) return new GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](nTok)
    var t = 1
    i = 0
    while (i < cps.length) {
      if (cps(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    val out = new Array[Long](nTok - n + 1)
    var w = 0
    while (w < out.length) {
      val from = starts(w)
      // window w spans tokens w..w+n-1; its last char is the one before
      // the (w+n)-th token's separator, or end-of-text for the tail
      val until = if (w + n < nTok) starts(w + n) - 1 else cps.length
      var h = 0L
      var p = 1L
      var j = until - 1
      while (j >= from) {
        h = (h + (cps(j) % 256).toLong * p % P) % P
        p = p * Base % P
        j -= 1
      }
      out(w) = h
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** `gram_hashes(text, n)` → `array<bigint>`: the modular polynomial
  * hash of every n-token window, in order; empty when the text has
  * fewer than n tokens (mirrors the explode-drops-the-row semantics of
  * the string-gram formulation). */
case class GramHashes(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_hashes expects a string column, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    GramHash.hashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GramHash.hashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

/** Column-level entry point; same registry bridge as [[VecOps]]. */
object GramOps {
  import org.apache.spark.sql.functions.{call_function, lit}

  def gram_hashes(c: Column, n: Int): Column =
    call_function("gram_hashes", c, lit(n))
}
