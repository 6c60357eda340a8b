package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q279: grid-density clustering (the DBSCAN family, grid-quantized —
  * Ester et al. 1996 by way of the standard grid approximation that
  * makes it shuffle-friendly):
  *
  *   1. quantize the first two embedding dims to a milli grid, cell
  *      width 100 milli (truncating division — identical both engines
  *      incl. negatives, the verified div ≡ // rule);
  *   2. CORE cells: ≥ MinPts points;
  *   3. core cells within Chebyshev distance 1 connect — an 8-offset
  *      explode + equi-join (the band-join device in 2-D: replicate
  *      one side to its neighborhood, hash-join on the cell id);
  *   4. components of the core-cell graph via the q159 large-star
  *      closure (on packed cell ids);
  *   5. points in core cells join their component; points in
  *      non-core cells adjacent to a core cell are BORDER (labeled by
  *      the smallest neighboring component); everything else NOISE.
  *
  * Output: one row per cluster (core-cell count, core/border point
  * counts) + one NOISE row (component = −1). The oracle restates the
  * whole construction with a recursive-CTE closure — the opposite
  * clustering algorithm, as in q251/q57.
  *
  * Scale (100 TB): the point-scale work is one grid-quantize pass and
  * two (cell-key) aggregations; every join after that is on the
  * CELL frame (bounded by the grid, not the corpus). The 8-offset
  * replication is constant fan-out. MinPts = 8 was checked non-vacuous
  * at sf0.001 AND sf0.01 (core, border, and noise all non-empty —
  * the q237 rule).
  */
object DensityOps {

  private val MinPts = 8L
  private val CellMilli = 100L

  def gridDensity(s: SparkSession, d: String): DataFrame =
    gridDensityFrom(s, Tables.embeddings(s, d).select(col("vec_id"),
      expr(s"CAST(floor(CAST(element_at(embedding, 1) AS DOUBLE)" +
        s" * 1000) AS BIGINT) div $CellMilli").as("gx"),
      expr(s"CAST(floor(CAST(element_at(embedding, 2) AS DOUBLE)" +
        s" * 1000) AS BIGINT) div $CellMilli").as("gy")))

  /** Core over any (vec_id, gx, gy) frame — fixture entry point. */
  private[queries] def gridDensityFrom(s: SparkSession, pts: DataFrame)
      : DataFrame = {
    val cells = pts.groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
      .withColumn("id", (col("gx") + 500L) * 100000L + col("gy") + 500L)
      .stable() // consumed by core, border, and census below
    val core = cells.filter(col("n") >= MinPts)
    val nbrs = (for (dx <- -1 to 1; dy <- -1 to 1
      if dx != 0 || dy != 0) yield (dx, dy))
    val nbrExpr = array(nbrs.map { case (dx, dy) =>
      (col("gx") + dx + 500L) * 100000L + col("gy") + dy + 500L }: _*)
    val edges = core.select(col("id").as("doc_a"),
        explode(nbrExpr).as("doc_b"))
      .join(core.select(col("id").as("doc_b")), "doc_b")
      .filter(col("doc_a") < col("doc_b"))
    val cc = Components.star(s, edges)
      .select(col("doc_id").as("id"), col("cluster_rep"))
    val comp = core.join(cc, Seq("id"), "left")
      .select(col("gx"), col("gy"), col("n"),
        coalesce(col("cluster_rep"), col("id")).as("component"))
      .stable() // consumed twice (core census + border probe)
    val corePts = comp.select(col("gx"), col("gy"), col("component"),
      col("n"))
    // border: non-core cells with ≥1 core neighbor, smallest component
    val borderCells = cells.join(core.select(col("id").as("cid")),
        cells("id") === col("cid"), "left_anti")
      .select(col("gx").as("bx"), col("gy").as("by"), col("n").as("bn"))
      .join(comp.select(explode(array(nbrs.map { case (dx, dy) =>
          struct((col("gx") + dx).as("bx"), (col("gy") + dy).as("by"))
        }: _*)).as("nb"), col("component"))
        .select(col("nb.bx").as("bx"), col("nb.by").as("by"),
          col("component")),
        Seq("bx", "by"))
      .groupBy(col("bx"), col("by"), col("bn"))
      .agg(min(col("component")).as("component"))
    val coreCensus = corePts.groupBy(col("component"))
      .agg(count(lit(1)).as("n_core_cells"),
        sum(col("n")).as("n_core_points"))
    val borderCensus = borderCells.groupBy(col("component"))
      .agg(sum(col("bn")).as("n_border_points"))
    val clusters = coreCensus
      .join(borderCensus, Seq("component"), "left")
      .select(col("component"), col("n_core_cells"),
        col("n_core_points"),
        coalesce(col("n_border_points"), lit(0L)).as("n_border_points"))
    val tot = cells.agg(sum(col("n")).as("total"))
    val accounted = clusters.agg(
      (sum(col("n_core_points")) + sum(col("n_border_points")))
        .as("acc"))
    val noise = tot.crossJoin(accounted)
      .select(lit(-1L).as("component"), lit(0L).as("n_core_cells"),
        lit(0L).as("n_core_points"),
        (col("total") - col("acc")).as("n_border_points"))
    clusters.unionAll(noise).orderBy(col("component"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q279_grid_density" -> gridDensity)

  val oracle: Map[String, String] = Map(
    "q279_grid_density" -> {
      val nbrPairs = (for (dx <- -1 to 1; dy <- -1 to 1
        if dx != 0 || dy != 0) yield s"($dx, $dy)").mkString(", ")
      s"""WITH RECURSIVE pts AS (
         |  SELECT vec_id,
         |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
         |      // $CellMilli AS gx,
         |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT)
         |      // $CellMilli AS gy
         |  FROM embeddings),
         |cells AS (
         |  SELECT gx, gy, COUNT(*) AS n,
         |    (gx + 500) * 100000 + gy + 500 AS id
         |  FROM pts GROUP BY gx, gy),
         |core AS (SELECT * FROM cells WHERE n >= $MinPts),
         |offs(dx, dy) AS (VALUES $nbrPairs),
         |edges AS (
         |  SELECT a.id AS u, b.id AS v
         |  FROM core a JOIN offs ON TRUE
         |  JOIN core b ON b.gx = a.gx + dx AND b.gy = a.gy + dy
         |  WHERE a.id < b.id
         |  UNION
         |  SELECT b.id, a.id
         |  FROM core a JOIN offs ON TRUE
         |  JOIN core b ON b.gx = a.gx + dx AND b.gy = a.gy + dy
         |  WHERE a.id < b.id),
         |nodes AS (SELECT DISTINCT u AS id FROM edges),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |labels AS (
         |  SELECT n.id, LEAST(n.id, MIN(r.v)) AS entity
         |  FROM nodes n JOIN reach r ON r.u = n.id
         |  GROUP BY n.id),
         |comp AS (
         |  SELECT c.gx, c.gy, c.n, COALESCE(l.entity, c.id) AS component
         |  FROM core c LEFT JOIN labels l ON c.id = l.id),
         |border AS (
         |  SELECT c.gx, c.gy, c.n, MIN(k.component) AS component
         |  FROM cells c
         |  JOIN offs ON TRUE
         |  JOIN comp k ON k.gx = c.gx + dx AND k.gy = c.gy + dy
         |  WHERE c.id NOT IN (SELECT id FROM core)
         |  GROUP BY c.gx, c.gy, c.n),
         |clusters AS (
         |  SELECT cc.component,
         |    cc.n_core_cells, cc.n_core_points,
         |    COALESCE(bb.n_border_points, 0) AS n_border_points
         |  FROM (
         |    SELECT component, COUNT(*) AS n_core_cells,
         |      CAST(SUM(n) AS BIGINT) AS n_core_points
         |    FROM comp GROUP BY component) cc
         |  LEFT JOIN (
         |    SELECT component, CAST(SUM(n) AS BIGINT) AS n_border_points
         |    FROM border GROUP BY component) bb
         |    ON cc.component = bb.component)
         |SELECT * FROM (
         |  SELECT component, n_core_cells, n_core_points,
         |    n_border_points
         |  FROM clusters
         |  UNION ALL
         |  SELECT -1, 0, 0,
         |    (SELECT CAST(SUM(n) AS BIGINT) FROM cells)
         |    - (SELECT CAST(SUM(n_core_points + n_border_points)
         |        AS BIGINT) FROM clusters))
         |ORDER BY component""".stripMargin
    })
}
