package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GramHashes: the one-pass token-window polynomial must equal hashing
  * the materialized gram STRINGS (the formulation it replaced), and be
  * collision-free on the real corpus. */
class GramHashesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val P = GramHash.P
  private val B = GramHash.Base

  /** Reference: build the gram strings with split/sliding, hash each. */
  private def reference(text: String, n: Int): Seq[Long] = {
    val toks = text.split(" ", -1) // -1: keep trailing empty tokens
    if (toks.length < n) Seq.empty
    else toks.sliding(n).map { w =>
      val g = w.mkString(" ")
      g.codePoints().toArray.foldLeft(0L) { (acc, c) =>
        (acc * B % P + (c % 256)) % P
      }
    }.toSeq
  }

  private def native(text: String, n: Int): Seq[Long] =
    GramHash.hashes(org.apache.spark.unsafe.types.UTF8String.fromString(text), n)
      .toLongArray().toSeq

  test("native window hashes equal hashing the materialized gram strings") {
    val cases = Seq(
      "a b c d e f g h i j",                  // plain
      "one two three four five six seven eight", // exactly n tokens
      "a  b c d e f g h",                     // consecutive spaces (empty token)
      "tooshort",                             // 1 token
      "a b c d e f g",                        // n-1 tokens
      " lead b c d e f g h",                  // leading space (empty first token)
      "a b c d e f g h ",                     // trailing space (empty last token)
      "ä ß ç d é f g h i")                    // non-ascii codepoints (% 256)
    cases.foreach { t =>
      assert(native(t, 8) == reference(t, 8), s"text: '$t'")
    }
  }

  test("horner fold equals the positional-power sum the oracle states") {
    // the two formulations must agree — this is what makes the DuckDB
    // twin (positional, fold-free) a faithful oracle of the Scala loop
    val g = "the quick brown fox jumps over a dog"
    val cps = g.codePoints().toArray
    val pows = Array.iterate(1L, cps.length)(p => p * B % P).reverse
    val positional = cps.zip(pows).map { case (c, p) => (c % 256) * p % P }
      .foldLeft(0L)((a, x) => (a + x) % P)
    assert(reference(g, g.split(" ").length) == Seq(positional))
  }

  test("collision-free and window-exact on the sf0.001 corpus") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val toks = split(col("text"), " ")
    val gramArr = when(size(toks) >= 8,
      transform(sequence(lit(1), size(toks) - 7),
        i => concat_ws(" ", slice(toks, i, lit(8))))).otherwise(array())
    val strings = docs.select(explode(gramArr).as("g"))
    val hashes = docs.select(explode(GramOps.gram_hashes(col("text"), 8)).as("h"))
    // same multiset size (window extraction identical) ...
    assert(strings.count() == hashes.count())
    // ... and same distinct cardinality (no collisions on this corpus,
    // and no two windows wrongly merged or split)
    assert(strings.distinct().count() == hashes.distinct().count())
  }
}
