package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants for the training-prep pack (each query also
  * has an exact DuckDB oracle at all three SFs — these pin the laws
  * the hash compare can't articulate). */
class TrainPrepOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("q331: span-accounting laws hold on every doc") {
    val rows = TrainPrepOps.spanCorruption(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, spans, masked) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (inLen, tgtLen) = (r.getLong(4), r.getLong(5))
      assert(masked <= n)
      assert(spans <= masked, "a span is at least one token")
      assert(masked <= 3 * spans, "merged spans never exceed 3 tokens/start... per span chain")
      // sentinel accounting: in + target = tokens + 2·sentinels
      assert(inLen + tgtLen == n + 2 * spans)
    }
    // the corruption must FIRE somewhere (vacuity rule)
    assert(rows.map(_.getLong(3)).sum > 0)
    // ...and merge somewhere (some doc has masked > spans)
    assert(rows.exists(r => r.getLong(3) > r.getLong(2) * 1))
  }

  test("q332: a 1-token doc contributes its unigram but no bigram (guard)") {
    // Spark's sequence(1, size-1) is DESCENDING [1, 0] when size = 1 —
    // without the size >= 2 guard this doc ANSI-errors or fabricates
    // phantom bigrams while the DuckDB oracle's range(1, 1) is empty
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kn1").toString
    Seq(
      (1L, "solo", "en"),
      (2L, "alpha beta alpha", "en"),
      (3L, "beta gamma", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TrainPrepOps.knContinuation(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 'solo' appears once, participates in NO bigram on either side
    assert(rows("solo") == ((1L, 0L, 0L)))
    // sanity on the multi-token docs: bigrams {alpha>beta, beta>alpha,
    // beta>gamma} -> alpha: left {beta>alpha}=1, right {alpha>beta}=1
    assert(rows("alpha") == ((2L, 1L, 1L)))
    assert(rows("beta") == ((2L, 1L, 2L)))
  }

  test("q333: every dimension sees the whole corpus; variance law") {
    val rows = TrainPrepOps.embedDimStats(spark, sf).collect()
    assert(rows.length == 64)
    val n0 = rows.head.getLong(1)
    rows.foreach { r =>
      assert(r.getLong(1) == n0, "all dims same row count")
      val (n, s1, s2) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n * s2 >= s1 * s1, "Cauchy-Schwarz on the quantized moments")
      assert(r.getLong(4) <= r.getLong(5))
    }
  }

  test("q334: the first doc owns all its grams; novelty sums to the gram universe") {
    val rows = TrainPrepOps.ngramNovelty(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val first = rows.minBy(_._1)
    assert(first._2 == first._3, "min doc_id owns every one of its grams")
    rows.foreach { case (_, g, nv) => assert(nv <= g) }
    // Σ novel = distinct grams in the corpus (each gram owned once)
    import org.apache.spark.sql.functions._
    val universe = graft.Tables.documents(spark, sf)
      .select(explode(graft.functions.GramOps.gram_hashes(col("text"), 8))
        .as("g")).distinct().count()
    assert(rows.map(_._3).sum == universe)
  }
}
