package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The session recipe: a session gets the engine's native functions and
  * the band-join rule when it is built, so what it resolves and how it
  * optimizes do not depend on which queries ran before. */
class SessionRecipeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** One SQL call of each native function, with its expected result. */
  private val calls = Seq(
    "vec_dot" -> ("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))", "11.0"),
    "winnow_sketch" -> ("SELECT size(winnow_sketch('abcdefghij', 2))", "2"),
    "gram_hashes" -> ("SELECT size(gram_hashes('a b c d', 3))", "2"),
    "edit_dist_bounded" ->
      ("SELECT edit_dist_bounded('kitten', 'sitting', 5)", "3"),
    "lcp_len" -> ("SELECT lcp_len('banana', 1L, 'ananas', 0L)", "5"),
    "topk_by" -> ("SELECT topk_by(v, k, 1)[0] FROM VALUES (1.0D, 'a'), " +
      "(2.0D, 'b') AS t(v, k)", "b"),
    "heavy_hitters" -> ("SELECT size(heavy_hitters(k, 2)) FROM VALUES " +
      "('a'), ('a'), ('b') AS t(k)", "2"))

  private def resolvesAll(s: SparkSession): Unit =
    calls.foreach { case (name, (sql, want)) =>
      withClue(s"$name: ") {
        assert(String.valueOf(s.sql(sql).collect().head.get(0)) == want)
      }
    }

  private def bandRules(s: SparkSession): Int =
    s.sessionState.optimizer.batches.flatMap(_.rules)
      .count(_.ruleName.endsWith("BandJoinRewrite"))

  test("every native function resolves on the session, whatever ran before") {
    resolvesAll(spark)
  }

  test("every native function resolves on a new session") {
    resolvesAll(spark.newSession())
  }

  test("building a query leaves the optimizer's rules as the session was built") {
    val before = bandRules(spark)
    val q270 = SparkEntry.queries("q270_event_coincidence")
    (1 to 2).foreach(_ => q270(spark, "/root/testdata/sf0.001"))
    assert(bandRules(spark) == before)
    assert(bandRules(spark.newSession()) == before)
    assert(before > 0, "the session carries the band-join rule")
  }
}
