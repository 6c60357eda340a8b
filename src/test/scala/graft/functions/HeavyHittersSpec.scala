package graft.functions

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Misra–Gries guarantees, asserted against exact counts on the real
  * corpus at sf0.001 and on adversarial synthetic streams. The summary
  * CONTENT is merge-order dependent; these tests pin only the
  * deterministic guarantees (est ≤ f ≤ est + n/(m+1); guaranteed
  * presence above the threshold) plus exactness in the no-eviction
  * regime — which is why q124 is a rows-only query, not an oracle row. */
class HeavyHittersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** summary rows → (item → est). */
  private def summarize(df: org.apache.spark.sql.DataFrame, itemCol: String,
      m: Int, parts: Int): Map[String, Long] = {
    val rows = df.repartition(parts)
      .agg(call_function("heavy_hitters", col(itemCol), lit(m)).as("s"))
      .selectExpr("explode(s) AS e").select("e.item", "e.est")
      .collect()
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def exactCounts(df: org.apache.spark.sql.DataFrame,
      itemCol: String): Map[String, Long] =
    df.groupBy(itemCol).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def words = graft.Tables.documents(spark, sf)
    .select(explode(split(col("text"), " ")).as("word"))

  test("MG bounds hold on the corpus at every partitioning") {
    val exact = exactCounts(words, "word")
    val n = exact.values.sum
    val m = 16
    for (parts <- Seq(1, 4, 13)) {
      val est = summarize(words, "word", m, parts)
      assert(est.size <= m, s"summary exceeded m at parts=$parts")
      est.foreach { case (w, e) =>
        val f = exact.getOrElse(w, 0L)
        assert(e <= f, s"overestimate for '$w' at parts=$parts: $e > $f")
        assert(f - e <= n / (m + 1),
          s"error bound broken for '$w' at parts=$parts: $f - $e > ${n / (m + 1)}")
      }
      // guaranteed presence: true frequency above n/(m+1) ⇒ in summary
      exact.filter(_._2 > n / (m + 1)).keys.foreach { w =>
        assert(est.contains(w), s"heavy hitter '$w' missing at parts=$parts")
      }
    }
  }

  test("no eviction regime (m ≥ vocabulary) is exact") {
    val exact = exactCounts(words, "word")
    val est = summarize(words, "word", m = exact.size + 5, parts = 7)
    assert(est === exact)
  }

  test("adversarial skew: one dominant item survives a tiny summary") {
    import spark.implicits._
    // 10k of 'hot' + 1 each of 5k distinct cold items, m = 4
    val hot = Seq.fill(10000)("hot")
    val cold = (0 until 5000).map(i => s"cold_$i")
    val df = (hot ++ cold).toDF("item")
    val est = summarize(df, "item", m = 4, parts = 8)
    val n = 15000L
    assert(est.contains("hot"))
    assert(est("hot") <= 10000L && 10000L - est("hot") <= n / 5)
  }

  test("non-literal or non-positive m fails at analysis, not mid-job") {
    // column-valued m: must be rejected when the plan is analyzed
    val colM = intercept[Exception] {
      words.agg(call_function("heavy_hitters", col("word"),
        length(col("word")))).collect()
    }
    assert(colM.getMessage.contains("must be a literal"))
    val zeroM = intercept[Exception] {
      words.agg(call_function("heavy_hitters", col("word"), lit(0))).collect()
    }
    assert(zeroM.getMessage.contains("positive"))
    val nullK = intercept[Exception] {
      words.agg(call_function("topk_by", lit(1.0), col("word"),
        lit(null).cast("int"))).collect()
    }
    assert(nullK.getMessage.contains("null"))
  }

  test("q124 emits ranked rows with est ≤ exact_freq") {
    val rows = graft.queries.CurationOps.heavyHitterWords(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { case Row(rank: Long, _: String, est: Long,
        exact: Long, n: Long) =>
      assert(rank >= 1 && rank <= 10)
      assert(est <= exact, "sketch overestimated an exact frequency")
      assert(exact - est <= n / 33, "q124 error bound (m=32) broken")
    }
  }
}
