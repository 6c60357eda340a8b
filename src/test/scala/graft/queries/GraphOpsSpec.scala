package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** q159 contracts: the large-star/small-star fixpoint
  * ([[Components.star]]) labels known topologies correctly (including
  * high-diameter paths, the case that separates it from bounded-round
  * propagation), and agrees with an independent union-find on
  * adversarial and seeded pseudo-random graphs.
  */
class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def labels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Components.star(spark, edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path, star, and two components label to the component min") {
    // path 10-11-...-17 (diameter 7), star around 30, pair {50,51}
    val path = (10L until 17L).map(i => (i, i + 1))
    val star = Seq((31L, 30L), (30L, 32L), (33L, 30L))
    val pair = Seq((51L, 50L))
    val out = labels(path ++ star ++ pair)
    (10L to 17L).foreach(n => assert(out(n) == 10L))
    (30L to 33L).foreach(n => assert(out(n) == 30L))
    assert(out(50L) == 50L && out(51L) == 50L)
    assert(out.size == 14)
  }

  test("q174 degree/triangles/clustering match a driver-side count") {
    val edges = TextOps.ngramJaccard(spark, "/root/testdata/sf0.001")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    def connected(a: Long, b: Long) =
      edges.contains((math.min(a, b), math.max(a, b)))
    val expected = nodes.map { v =>
      val nbrs = nodes.filter(u => u != v && connected(u, v)).toSeq
      val deg = nbrs.size.toLong
      val tri = (for {
        i <- nbrs.indices; j <- i + 1 until nbrs.size
        if connected(nbrs(i), nbrs(j))
      } yield 1).size.toLong
      val cc = if (deg >= 2) 2 * tri * 1000000L / (deg * (deg - 1)) else 0L
      v -> ((deg, tri, cc))
    }.toMap
    val got = GraphOps.graphStats(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    assert(got.values.exists(_._2 > 0), "graph has triangles")
  }

  test("q176 equals a sequential 10-iteration fold of the recurrence") {
    val pairs = TextOps.ngramJaccard(spark, "/root/testdata/sf0.001")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val n = nbrs.size
    val scale = 1000000000000L
    val base = 15L * scale / (100L * n)
    var r = nbrs.keys.map(_ -> scale / n).toMap
    for (_ <- 1 to 10) {
      val t = r.map { case (u, rk) => u -> rk / nbrs(u).size }
      r = nbrs.keys.map { v =>
        v -> (base + 85L * nbrs(v).map(t).sum / 100L)
      }.toMap
    }
    val got = GraphOps.pageRank(spark, "/root/testdata/sf0.001").collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(got == r)
    // well-connected dup hubs outrank leaves
    assert(got.values.max > got.values.min)
  }

  test("agrees with union-find across adversarial topologies") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
    }
    val ring = (0L until 40L).map(i => (i, (i + 1) % 40))
    val deepPath = (100L until 180L).map(i => (i + 1, i)) // reversed orientation
    val clique = for (i <- 200L until 210L; j <- i + 1 until 210L) yield (i, j)
    val bridge = Seq((209L, 100L)) // clique into the path's high end
    val dense = (1 to 400).map { i =>
      ((i * 48271L) % 97 + 300, (i * 16807L) % 97 + 300)
    }.filter(e => e._1 != e._2)
    for (g <- Seq(ring, deepPath, clique ++ bridge, dense,
        ring ++ deepPath ++ clique ++ bridge ++ dense))
      assert(labels(g) == unionFind(g), s"graph with ${g.size} edges")
  }

  // ---- q340 k-core budget contract ----------------------------------

  /** Write a lineitem fixture whose REPEAT co-purchase graph (support
    * ≥ 2) is exactly `edges`: each edge gets two single-pair orders. */
  private def kcoreDir(tag: String, edges: Seq[(Long, Long)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    edges.zipWithIndex.flatMap { case ((u, v), i) =>
      Seq((2L * i, u), (2L * i, v), (2L * i + 1, u), (2L * i + 1, v))
    }.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("q340: a >10-round path reports the budget honestly (converged=0)") {
    // path p0-p1-...-p29: 2-core peeling strips one node per end per
    // round, needing 15 rounds to dissolve — at the 10-round budget the
    // partially-peeled path p10..p19 survives and the output SAYS so
    val dir = kcoreDir("kcore_path", (0L until 29L).map(i => (i, i + 1)))
    val rows = GraphOps.kcoreCensus(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (10L to 19L).toSeq)
    val deg = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg(10L) == 1 && deg(19L) == 1)
    (11L to 18L).foreach(p => assert(deg(p) == 2))
    rows.foreach { r =>
      assert(r.getLong(2) == 10, "rounds_used = full budget")
      assert(r.getLong(3) == 0, "unconverged peel must NOT claim k-core")
    }
  }

  test("q340: a converging graph reports the fixpoint round (converged=1)") {
    // triangle {0,1,2} + pendant 3-0: round 1 peels the pendant,
    // round 2 detects the fixpoint
    val dir = kcoreDir("kcore_tri",
      Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L)))
    val rows = GraphOps.kcoreCensus(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    rows.foreach { r =>
      assert(r.getLong(1) == 2, "triangle core-internal degree")
      assert(r.getLong(2) == 2, "fixpoint found on round 2")
      assert(r.getLong(3) == 1)
    }
  }

  test("agrees with union-find on a seeded pseudo-random graph") {
    // deterministic multiplicative-congruential edge set over 200 nodes
    val edges = (1 to 150).map { i =>
      val a = (i * 7919L) % 200
      val b = (i * 104729L) % 200
      (a, b)
    }.filter { case (a, b) => a != b }
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    assert(labels(edges) == expected)
  }
}
