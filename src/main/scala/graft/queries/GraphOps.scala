package graft.queries

import graft.queries.Mat.StableOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph queries over the q57 candidate graph: component labels and
  * sizes, per-node statistics, PageRank, BFS hops, degree
  * assortativity and k-cores.
  *
  * q159 clusters the same shingle-verified candidate pairs as q57 with
  * [[Components.star]] (large-star/small-star, O(log n) rounds) and
  * emits the identical (doc_id, cluster_rep, is_kept) contract — the
  * oracle is the same transitive-closure recursive CTE, so the hash
  * match proves the star algorithm ≡ transitive closure on this graph
  * while exercising a different distributed plan than q57, whose
  * [[Components.of]] solves the sf corpora's small graphs on the
  * driver.
  *
  * Ref: the reference keys its dedup decisions per id with ValueState
  * (DwdTrafficUniqueVisitorDetail.java:60-109); clustering candidate
  * pairs is the batch generalization (same provenance as q57).
  */
object GraphOps {

  /** q159: q57's verified candidate pairs clustered by
    * [[Components.star]] — output contract and oracle identical to q57. */
  def ccLargeStar(s: SparkSession, d: String): DataFrame =
    Components.star(s,
      TextOps.ngramJaccard(s, d).select(col("doc_a"), col("doc_b")))

  /** q174: per-node graph statistics over the q57 candidate graph —
    * degree, triangle count, and integer clustering coefficient
    * (2·tri·10⁶ div deg·(deg−1)). Triangles enumerate once per
    * ordered triple a<b<c via two hash joins on the (already
    * normalized) edge list — the standard distributed formulation;
    * the production upgrade for skewed graphs is degree-ordering the
    * orientation, which this corpus's bounded candidate degrees don't
    * need (documented trade, same family as the q57 df-cap). */
  def graphStats(s: SparkSession, d: String): DataFrame = {
    val e = TextOps.ngramJaccard(s, d)
      .select(col("doc_a"), col("doc_b"))
      .stable() // 3 consumers; candidate generation is the cost
    val deg = e.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .join(e.as("e3"), col("e3.doc_a") === col("e1.doc_a") &&
        col("e3.doc_b") === col("e2.doc_b"))
      .select(explode(array(col("e1.doc_a"), col("e1.doc_b"),
        col("e2.doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("triangles"))
    deg.join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_ppm",
        when(col("degree") >= 2,
          expr("(2 * triangles * 1000000L) div (degree * (degree - 1))"))
          .otherwise(0L))
  }

  private val PrIters = 10
  private val PrScale = 1000000000000L // rank fixed-point unit: 1e12

  /** q176: PageRank on the (undirected ⇒ symmetric) candidate graph,
    * in pure integer fixed-point so both engines agree bit-for-bit:
    * ranks carry 1e12 units, per-edge transfer is rank div degree,
    * damping is ·85 div 100, and r₀ = 1e12 div N. Truncation leaks a
    * deterministic dust of mass per step — identical in both engines
    * (both truncate toward zero), so the ITERATION COUNT is part of
    * the operator contract (10 here; the float version converges the
    * same ordering). The oracle is the same recurrence UNROLLED as 10
    * chained CTEs — proving the distributed loop step-equivalent to
    * the sequential statement of the recurrence.
    *
    * Scale: per iteration one shuffle-aggregate over the edge list
    * (transfer computed per node, joined to neighbors) —
    * the standard distributed PageRank shape; localCheckpoint per
    * round truncates the iterative lineage. */
  def pageRank(s: SparkSession, d: String): DataFrame = {
    val pairs = TextOps.ngramJaccard(s, d).select(col("doc_a"), col("doc_b"))
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct().stable()
    // node count measured inside deg's checkpoint job (observe, r16);
    // r0 is left lazy — a projection of the checkpointed deg consumed
    // once by round 1, so its eager checkpoint was a whole wasted job
    val (deg, n) = Mat.stableCount(
      edges.groupBy(col("u")).agg(count(lit(1)).as("deg")))
    val base = (15L * PrScale) / (100L * n)
    var ranks = deg.select(col("u").as("doc_id"),
      lit(PrScale / n).as("rank"))
    for (_ <- 1 to PrIters) {
      val transfer = ranks.join(deg, ranks("doc_id") === deg("u"))
        .select(col("doc_id").as("src"), expr("rank div deg").as("t"))
      ranks = edges.join(transfer, edges("u") === col("src"))
        .groupBy(col("v").as("doc_id"))
        .agg(sum(col("t")).as("tin"))
        .select(col("doc_id"),
          (lit(base) + expr("(85 * tin) div 100")).as("rank"))
        .stable()
    }
    ranks
  }

  private val BfsMaxHops = 30

  /** q259: single-source BFS hop distances on the candidate graph —
    * the Pregel-style frontier expansion (one equi-join + anti-join
    * per round, localCheckpoint truncating the iterative lineage;
    * rounds = eccentricity of the source, NOT graph size). Source =
    * the smallest node id (deterministic). The oracle is a recursive
    * CTE enumerating (node, hops) STATES with set-union dedup (UNION,
    * not UNION ALL — path enumeration would explode on the clique-
    * heavy candidate graph) and taking MIN(hops); the hash match
    * proves frontier-BFS ≡ the shortest-path recurrence.
    *
    * Scale: each round shuffles only the frontier×edges join; visited
    * state is (node → hops), never paths. The driver sees one scalar
    * (the source id) and one per-round emptiness check. */
  def bfsHops(s: SparkSession, d: String): DataFrame = {
    val pairs = TextOps.ngramJaccard(s, d).select(col("doc_a"), col("doc_b"))
    // source id measured inside the edge checkpoint job (observe, r16)
    val (edges, srcRow) = Mat.stableObserved(
      pairs.select(explode(array(
          struct(col("doc_a").as("u"), col("doc_b").as("v")),
          struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .distinct(),
      Seq(min(col("u")).as("src")))
    val src = srcRow.map(_.getLong(0))
      .getOrElse(edges.agg(min(col("u"))).first().getLong(0))
    var visited = edges.sparkSession.range(1)
      .select(lit(src).as("doc_id"), lit(0L).as("hops"))
      .stable()
    var frontier = visited
    var prevFrontier = visited.limit(0)
    var frontierN = 1L
    var round = 0
    while (round < BfsMaxHops && frontierN > 0L) {
      round += 1
      // frontier size measured inside the checkpoint job (observe) — the
      // per-hop isEmpty action on the just-checkpointed frame was one
      // extra job of pure latency per hop (r16).
      // The seen-before exclusion anti-joins only the LAST TWO frontiers,
      // not the whole visited set: the graph is undirected (both edge
      // orientations are present), so a neighbor v of a node at distance
      // round−1 has distance ≥ round−2 — any previously-visited v is in
      // frontier round−1 or round−2. This keeps the per-hop plan
      // CONSTANT-SIZE where the old visited-view anti-join grew one
      // union branch per hop (O(hops²) planning across the run, r16).
      val (f, fn) = Mat.stableCount(frontier
        .join(edges, frontier("doc_id") === edges("u"))
        .select(col("v").as("doc_id")).distinct()
        .join(prevFrontier.select(col("doc_id")).unionAll(
            frontier.select(col("doc_id"))),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(round.toLong).as("hops")))
      prevFrontier = frontier
      frontier = f
      frontierN = fn
      // every frontier is checkpointed above, so the growing union is a
      // cheap view over materialized blocks — re-checkpointing the WHOLE
      // visited set each round re-wrote O(V) rows per hop (r15)
      visited = visited.unionAll(frontier)
    }
    visited.orderBy(col("doc_id"))
  }

  /** q287: component-size distribution of the candidate graph — the
    * q159 star-closure labels rolled into a size histogram plus the
    * giant-component share in ppm (the first thing one checks before
    * trusting near-dup clusters: a giant component means the
    * candidate threshold is too loose). Composes on the verified
    * clustering the way q151/q211 compose on q110. */
  def componentSizes(s: SparkSession, d: String): DataFrame = {
    val sizes = ccLargeStar(s, d)
      .groupBy(col("cluster_rep")).agg(count(lit(1)).as("sz"))
    val tot = sizes.agg(sum(col("sz")).as("n_nodes"),
      max(col("sz")).as("max_sz"))
    sizes.groupBy(col("sz")).agg(count(lit(1)).as("n_components"))
      .crossJoin(broadcast(tot))
      .select(col("sz"), col("n_components"),
        (col("sz") * col("n_components")).as("nodes_in_size"),
        expr("(max_sz * 1000000) div n_nodes").as("giant_share_ppm"))
      .orderBy(col("sz"))
  }

  /** q288: degree-assortativity moments — over every (undirected)
    * edge, the exact integer moments of endpoint degrees
    * (Σdu, Σdv, Σdu·dv, Σdu², Σdv² with u,v both orientations, so
    * du/dv marginals coincide): the n-scaled Pearson numerator
    * m·Σdudv − (Σdu)² decides assortative vs disassortative mixing
    * with no square root (the q284 device on the edge frame). */
  def degreeAssortativity(s: SparkSession, d: String): DataFrame = {
    val pairs = TextOps.ngramJaccard(s, d).select(col("doc_a"), col("doc_b"))
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct().stable() // deg + the moment pass
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    edges
      .join(deg, "u")
      .join(deg.select(col("u").as("v"), col("deg").as("deg_v")), "v")
      .agg(count(lit(1)).as("m"),
        sum(col("deg")).as("sum_du"),
        sum(col("deg_v")).as("sum_dv"),
        sum(col("deg") * col("deg_v")).as("sum_dudv"),
        sum(col("deg") * col("deg")).as("sum_du2"))
      .withColumn("assort_num_xn",
        expr("m * sum_dudv - sum_du * sum_dv"))
  }

  private val CoreK = 2
  private val CorePeelRounds = 10

  /** q340: the [[CoreK]]-core of the REPEAT co-purchase graph (part
    * pairs co-bought in ≥ 2 distinct orders — q198's pair frame with a
    * support floor) by iterative peeling: drop nodes with degree <
    * k, recompute, repeat. Iteration-bound like q159 (each round is
    * one degree aggregate + two semi-joins on the shrinking edge
    * list); the loop stops at the fixpoint or [[CorePeelRounds]],
    * and the oracle unrolls EXACTLY [[CorePeelRounds]] rounds — the
    * peel step is idempotent at the fixpoint, so Spark's early stop
    * and the oracle's fixed unroll agree REGARDLESS of where
    * convergence lands (unlike a convergence-assuming unroll, this
    * equality is unconditional).
    *
    * CONTRACT: this is k-core-WITH-BUDGET, not unconditional k-core —
    * a graph needing more than [[CorePeelRounds]] peel rounds yields
    * the partially-peeled edge set. The budget is part of the output:
    * every row carries `rounds_used` (peel iterations executed) and
    * `converged` (1 iff the fixpoint was reached within budget, i.e.
    * the result IS the true k-core). The oracle derives the same two
    * values from its unroll — edge counts strictly decrease until the
    * fixpoint, so the first round with an unchanged count IS the
    * fixpoint round. Output: core members + their core-internal
    * degree + the budget columns. */
  /** The repeat co-purchase edge list (q198's pair frame with a ≥2
    * support floor), pre-checkpoint — exposed so PlanShapeSpec can pin
    * the self-join as an EQUI-join on the order key (the `pk <` range
    * half is a post-join filter; a BNLJ here would be the all-pairs
    * trap at 100 TB). */
  private[queries] def repeatCoPurchaseEdges(s: SparkSession, d: String)
      : DataFrame = {
    val lp = graft.Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    lp.as("x").join(lp.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("u"), col("y.pk").as("v"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select("u", "v")
  }

  /** One peel round: degree aggregate over the current edge list, then
    * two LEFT-SEMI equi-joins keeping only edges whose BOTH endpoints
    * still clear the degree floor. Named (vs inlined in the loop) so
    * the per-round plan shape is pinnable — the loop's 100 TB story is
    * "each round is one shuffle-agg + two semi-joins on a SHRINKING
    * frame", and a rewrite to inner-join+distinct or a nested-loop
    * membership probe would break exactly that. */
  private[queries] def peelRound(edges: DataFrame): DataFrame = {
    // not checkpointed (r15): both semi-join probes read `keep` through
    // the same explode/groupBy exchange (ReusedExchange) inside the ONE
    // job that materializes the round, so the eager stable() here was a
    // whole extra job per peel round; the caller checkpoints each
    // round's output, which is where the lineage truncates.
    val keep = edges.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .filter(col("d") >= CoreK).select("n")
    edges
      .join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
      .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
  }

  def kcoreCensus(s: SparkSession, d: String): DataFrame = {
    // edge counts measured inside each round's checkpoint job (observe,
    // r16) — the separate count() actions were one extra job per round
    var (edges, n) = Mat.stableCount(repeatCoPurchaseEdges(s, d))
    var converged = false
    var round = 0
    while (!converged && round < CorePeelRounds) {
      val (next, m) = Mat.stableCount(peelRound(edges))
      converged = m == n
      edges = next; n = m; round += 1
    }
    edges.select(explode(array(col("u"), col("v"))).as("part_id"))
      .groupBy("part_id").agg(count(lit(1)).as("core_degree"))
      .withColumn("rounds_used", lit(round.toLong))
      .withColumn("converged", lit(if (converged) 1L else 0L))
      .orderBy("part_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q340_kcore_census" -> kcoreCensus,
    "q159_cc_largestar" -> ccLargeStar,
    "q174_graph_stats" -> graphStats,
    "q176_pagerank" -> pageRank,
    "q259_bfs_hops" -> bfsHops,
    "q287_component_sizes" -> componentSizes,
    "q288_degree_assortativity" -> degreeAssortativity)

  /** The PageRank recurrence unrolled as chained CTEs — the
    * sequential statement of exactly what the distributed loop does,
    * one CTE per iteration, generated from the same constants. */
  private def prOracleSql: String = {
    val iters = (1 to PrIters).map { k =>
      s"""r$k AS (
         |  SELECT e.v AS doc_id,
         |    MIN(b.base) + (85 * SUM(r.rank // d.deg)) // 100 AS rank
         |  FROM r${k - 1} r
         |  JOIN deg d ON d.u = r.doc_id
         |  JOIN edges e ON e.u = r.doc_id
         |  CROSS JOIN b
         |  GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"""${Advanced.pairsCte},
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |b AS (SELECT (15 * $PrScale) // (100 * n) AS base FROM nn),
       |r0 AS (
       |  SELECT u AS doc_id, $PrScale // n AS rank
       |  FROM deg CROSS JOIN nn),
       |$iters
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank FROM r$PrIters""".stripMargin
  }

  /** The peel recurrence unrolled to [[CorePeelRounds]] rounds —
    * idempotent past the fixpoint, so the fixed unroll matches the
    * operator's early-stopping loop unconditionally. */
  private def kcoreOracleSql: String = {
    // every e_k is MATERIALIZED: DuckDB inlines plain CTEs, and each
    // round references its predecessor 4× — an un-materialized unroll
    // expands the scan tree 4^rounds-fold ("too many open files")
    val rounds = (1 to CorePeelRounds).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT n, COUNT(*) AS d FROM (
         |    SELECT u AS n FROM e${k - 1}
         |    UNION ALL SELECT v FROM e${k - 1}) GROUP BY 1),
         |e$k AS MATERIALIZED (
         |  SELECT u, v FROM e${k - 1}
         |  WHERE u IN (SELECT n FROM d$k WHERE d >= $CoreK)
         |    AND v IN (SELECT n FROM d$k WHERE d >= $CoreK))""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT x.pk AS u, y.pk AS v
       |  FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |$rounds,
       |cnt AS MATERIALIZED (
       |  ${(0 to CorePeelRounds).map(k =>
             s"SELECT $k AS k, COUNT(*) AS c FROM e$k")
             .mkString("\n       |  UNION ALL ")}),
       |meta AS MATERIALIZED (
       |  SELECT CAST(COALESCE(MIN(a.k), $CorePeelRounds) AS BIGINT)
       |      AS rounds_used,
       |    CAST(CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END AS BIGINT)
       |      AS converged
       |  FROM cnt a JOIN cnt b ON b.k = a.k - 1 AND b.c = a.c)
       |SELECT part_id, core_degree, rounds_used, converged FROM (
       |  SELECT part_id, COUNT(*) AS core_degree FROM (
       |    SELECT u AS part_id FROM e$CorePeelRounds
       |    UNION ALL SELECT v FROM e$CorePeelRounds)
       |  GROUP BY part_id) CROSS JOIN meta ORDER BY part_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q340_kcore_census" -> kcoreOracleSql,
    "q176_pagerank" -> prOracleSql,
    "q287_component_sizes" -> s"""${Advanced.pairsCte},
      |${Advanced.ccCte},
      |labels AS (
      |  SELECT n.doc_id,
      |    LEAST(n.doc_id, MIN(r.v)) AS cluster_rep
      |  FROM nodes n JOIN reach r ON r.u = n.doc_id
      |  GROUP BY n.doc_id),
      |sizes AS (
      |  SELECT cluster_rep, COUNT(*) AS sz FROM labels
      |  GROUP BY cluster_rep),
      |tot AS (
      |  SELECT CAST(SUM(sz) AS BIGINT) AS n_nodes,
      |    CAST(MAX(sz) AS BIGINT) AS max_sz
      |  FROM sizes)
      |SELECT sz, COUNT(*) AS n_components,
      |  CAST(sz * COUNT(*) AS BIGINT) AS nodes_in_size,
      |  CAST((MAX(max_sz) * 1000000) // MAX(n_nodes) AS BIGINT)
      |    AS giant_share_ppm
      |FROM sizes CROSS JOIN tot
      |GROUP BY sz ORDER BY sz""".stripMargin,
    "q288_degree_assortativity" -> s"""${Advanced.pairsCte},
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
      |j AS (
      |  SELECT du.deg AS deg_u, dv.deg AS deg_v
      |  FROM edges e
      |  JOIN deg du ON e.u = du.u
      |  JOIN deg dv ON e.v = dv.u),
      |m AS (
      |  SELECT COUNT(*) AS m,
      |    CAST(SUM(deg_u) AS BIGINT) AS sum_du,
      |    CAST(SUM(deg_v) AS BIGINT) AS sum_dv,
      |    CAST(SUM(deg_u * deg_v) AS BIGINT) AS sum_dudv,
      |    CAST(SUM(deg_u * deg_u) AS BIGINT) AS sum_du2
      |  FROM j)
      |SELECT m, sum_du, sum_dv, sum_dudv, sum_du2,
      |  CAST(m * sum_dudv - sum_du * sum_dv AS BIGINT)
      |    AS assort_num_xn
      |FROM m""".stripMargin,
    "q259_bfs_hops" -> s"""${Advanced.pairsCte},
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |src AS (SELECT MIN(u) AS s FROM edges),
      |reach(doc_id, hops) AS (
      |  SELECT s, 0 FROM src
      |  UNION
      |  SELECT e.v, r.hops + 1 FROM reach r
      |  JOIN edges e ON e.u = r.doc_id
      |  WHERE r.hops < $BfsMaxHops)
      |SELECT doc_id, CAST(MIN(hops) AS BIGINT) AS hops
      |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q174_graph_stats" -> s"""${Advanced.pairsCte},
      |deg AS (
      |  SELECT doc_id, COUNT(*) AS degree FROM (
      |    SELECT doc_a AS doc_id FROM pairs
      |    UNION ALL SELECT doc_b FROM pairs) GROUP BY doc_id),
      |tris AS (
      |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      |  FROM pairs e1
      |  JOIN pairs e2 ON e1.doc_b = e2.doc_a
      |  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
      |tri AS (
      |  SELECT doc_id, COUNT(*) AS triangles FROM (
      |    SELECT a AS doc_id FROM tris
      |    UNION ALL SELECT b FROM tris
      |    UNION ALL SELECT c FROM tris) GROUP BY doc_id)
      |SELECT d.doc_id, d.degree,
      |  CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
      |  CASE WHEN d.degree >= 2 THEN
      |    CAST((2 * COALESCE(t.triangles, 0) * 1000000)
      |      // (d.degree * (d.degree - 1)) AS BIGINT)
      |  ELSE 0 END AS cc_ppm
      |FROM deg d LEFT JOIN tri t USING (doc_id)""".stripMargin,
    "q159_cc_largestar" -> s"""${Advanced.pairsCte},
      |${Advanced.ccCte}
      |SELECT n.doc_id,
      |  LEAST(n.doc_id, MIN(r.v)) AS cluster_rep,
      |  n.doc_id = LEAST(n.doc_id, MIN(r.v)) AS is_kept
      |FROM nodes n JOIN reach r ON r.u = n.doc_id
      |GROUP BY n.doc_id""".stripMargin)
}
