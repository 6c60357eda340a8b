package graft.queries

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

/** Both branches of [[Components.of]]: the distributed large-star /
  * small-star branch above the driver union-find cutoff (100k DIRECTED
  * edges, the branch every sf corpus skips), including a long path
  * whose diameter no bounded-round propagation loop reaches, and the
  * driver branch exactly at the cutoff. */
class ComponentsLoopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The path 0-1-...-n over n edges. */
  private def path(n: Long): DataFrame =
    spark.range(n).selectExpr("id AS doc_a", "id + 1 AS doc_b")

  test("distributed CC loop: 120k-edge graph labels exactly") {
    // 30k disjoint 5-node paths base-(base+1)-...-(base+4), base = 5k:
    // 4 edges each, 120k undirected = 240k directed edges (> the 100k
    // directed-edge driver cutoff). Component rep = the path's base.
    val df = spark.range(30000).selectExpr("id * 5 AS base")
      .selectExpr(
        """explode(array(
          |  struct(base AS doc_a, base + 1 AS doc_b),
          |  struct(base + 1 AS doc_a, base + 2 AS doc_b),
          |  struct(base + 2 AS doc_a, base + 3 AS doc_b),
          |  struct(base + 3 AS doc_a, base + 4 AS doc_b))) AS e"""
          .stripMargin)
      .selectExpr("e.doc_a AS doc_a", "e.doc_b AS doc_b")
    val got = Components.of(spark, df)
    assert(got.count() == 150000L) // every node labeled
    // every node's rep is its path base; kept iff node == base
    val bad = got.filter(
      "cluster_rep != doc_id - doc_id % 5 OR " +
        "is_kept != (doc_id % 5 = 0)").count()
    assert(bad == 0L)
  }

  test("distributed CC loop: a 150k-node path labels every node 0") {
    // diameter 149,999: min-label propagation would need that many
    // rounds; large-star/small-star needs O(log n)
    val got = Components.of(spark, path(149999L))
    assert(got.count() == 150000L)
    assert(got.filter("cluster_rep != 0 OR is_kept != (doc_id = 0)")
      .count() == 0L)
  }

  test("driver union-find: a 50,000-edge path at the cutoff labels every node 0") {
    // 50,000 undirected = 100,000 directed edges, exactly the cutoff
    val got = Components.of(spark, path(50000L))
    assert(got.queryExecution.logical.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]), "driver branch")
    assert(got.count() == 50001L)
    assert(got.filter("cluster_rep != 0 OR is_kept != (doc_id = 0)")
      .count() == 0L)
  }
}
