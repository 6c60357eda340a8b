package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WinnowSketch (native k-min window-hash expression) correctness:
  * the compiled loop must agree exactly with the declarative
  * slice(array_sort(transform(sequence(...), polynomial))) formulation
  * it replaces — including multibyte codepoints and texts shorter than
  * one window — because the DuckDB oracle states that formulation. */
class WinnowSketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val pows = Seq.iterate(1L, 8)(_ * 131L).reverse
  /** The lambda/HOF reference formulation (interpreted, slow — test only). */
  private def referenceSketch(k: Int) = {
    val poly = (i: org.apache.spark.sql.Column) =>
      (0 until 8).map { j =>
        (ascii(col("text").substr(i + lit(j), lit(1))) % 256).cast("long") *
          lit(pows(j))
      }.reduce(_ + _)
    slice(array_sort(transform(
      sequence(lit(1), greatest(length(col("text")) - 7, lit(1))), poly)), 1, k)
  }

  private def check(texts: Seq[String], k: Int): Unit = {
    import spark.implicits._
    val df = texts.toDF("text")
      .select(col("text"),
        WinnowOps.winnow_sketch(col("text"), k).as("native"),
        referenceSketch(k).as("reference"))
    val bad = df.filter(col("native") =!= col("reference")).collect()
    assert(bad.isEmpty, s"native != reference for: ${bad.mkString("; ")}")
  }

  test("matches the declarative formulation on corpus text") {
    val texts = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("text").limit(200).collect().map(_.getString(0)).toSeq
    check(texts, 5)
    check(texts, 1)
  }

  test("matches on adversarial shapes: short, exact-window, multibyte, repeats") {
    check(Seq(
      "x",                          // shorter than one window -> 1 padded window
      "abcdefg",                    // 7 chars, still 1 window
      "abcdefgh",                   // exactly one window
      "abcdefghi",                  // two windows
      "aaaaaaaaaaaa",               // all-equal hashes (multiplicity kept)
      "héllo wörld — çaféناب",      // multibyte codepoints (% 256 folding)
      "the quick brown fox jumps over the lazy dog"), 5)
  }

  test("output is ascending and bounded by k and window count") {
    import spark.implicits._
    val rows = Seq("abcdefghijklmnop", "zyxwvuts").toDF("text")
      .select(WinnowOps.winnow_sketch(col("text"), 3).as("sk"),
        length(col("text")).as("len"))
      .collect()
    rows.foreach { r =>
      val sk = r.getSeq[Long](0)
      assert(sk.length == math.min(3, math.max(r.getInt(1) - 7, 1)))
      assert(sk.zip(sk.tail).forall { case (a, b) => a <= b })
    }
  }

  test("null text yields null sketch") {
    import spark.implicits._
    val out = Seq[Option[String]](None, Some("abcdefgh")).toDF("text")
      .select(WinnowOps.winnow_sketch(col("text"), 5).as("sk")).collect()
    assert(out.exists(_.isNullAt(0)) && out.exists(!_.isNullAt(0)))
  }
}
