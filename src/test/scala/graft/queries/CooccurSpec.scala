package graft.queries

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q132 (gram_hashes ∘ heavy_hitters) guarantees: MG error bounds
  * against exact 2-gram counts, total-count agreement, and the resolved
  * example really is a surface form of the winning hash (its own single
  * 2-gram hash equals it). */
class CooccurSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("q132 MG bounds + example↔hash consistency") {
    val rows = CurationOps.cooccurHeavyHitters(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val exact = graft.Tables.documents(spark, sf)
      .select(explode(
        graft.functions.GramOps.gram_hashes(col("text"), 2)).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    rows.foreach { case Row(rank: Long, gh: Long, example: String,
        est: Long, nb: Long) =>
      assert(rank >= 1 && rank <= 10)
      assert(nb == n, "n_bigrams must be the exact total gram count")
      val ex = exact(gh)
      assert(est <= ex, "sketch overestimated an exact 2-gram frequency")
      assert(ex - est <= n / 257, "q132 error bound (m=256) broken")
      val h = graft.functions.GramHash.hashes(
        org.apache.spark.unsafe.types.UTF8String.fromString(example), 2)
      assert(h.numElements() == 1 && h.getLong(0) == gh,
        s"example '$example' does not hash to $gh")
    }
  }

  test("boilerplate fixture: the true collocation is found and ranked #1") {
    // the driver corpus is near-uniform (no heavy hitters to find — the
    // honest caveat in the q132 scaladoc); this fixture is the corpus
    // the operator exists for: 400 docs share one boilerplate bigram,
    // filler bigrams are unique per doc, so "click here" holds ~8% of
    // the mass — far above the n/(m+1) presence threshold
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_boiler").toString
    val docs = (0 until 400).map { i =>
      (i.toLong, s"f${i}a f${i}b click here f${i}c f${i}d", "en", "web", 30L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = CurationOps.cooccurHeavyHitters(spark, dir).collect()
    val top = rows.minBy(_.getLong(0)) // rank 1
    assert(top.getString(2) == "click here",
      s"expected the boilerplate bigram first, got '${top.getString(2)}'")
    val n = rows.head.getLong(4)
    assert(top.getLong(3) >= 400L - n / 257,
      "presence bound must hold for the dominant collocation")
  }
}
