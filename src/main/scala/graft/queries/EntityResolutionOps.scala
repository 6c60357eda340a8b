package graft.queries

import graft.Tables
import graft.operators.Skew
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q251: entity resolution END-TO-END — the three verified pieces
  * composed into the classic ER pipeline (Fellegi–Sunter shape):
  *
  *   1. BLOCK: distinct customer names, prefix-16 equi-blocks (the
  *      q65/q226 rule — block on the key's stable prefix so candidate
  *      pairs are vocabulary-pairs within a block, never row-pairs).
  *   2. MATCH: the native banded Levenshtein (q226's
  *      `edit_dist_bounded`, Ukkonen O(k·L)) keeps pairs at distance
  *      ≤ 2 — the saturating contract makes the filter exact.
  *   3. CLUSTER: transitive closure per block — edges never span
  *      blocks (the match is an equi-join on the block key), so the
  *      closure is a single distributed pass of block-local union-find
  *      ([[Components.blockLocal]]) rather than a global fixpoint loop;
  *      singletons kept as their own entity.
  *
  * Output: one row per resolved entity (canonical rep = lexicographic
  * min member) with member count. The DuckDB oracle runs the OPPOSITE
  * cluster algorithm (full levenshtein + a recursive-CTE reachability
  * closure), so the hash match proves block+band+closure end-to-end.
  *
  * On this synthetic corpus names differ only in trailing digits, so
  * every ≤2-distance clique coincides with its block — the pipeline's
  * value is the verified composition; the spec pins a fixture where
  * clusters are strictly smaller than blocks.
  *
  * Scale (100 TB): candidate pairs are per-block cliques over DISTINCT
  * names (vocabulary-scale); the q226 block-size rule applies — size
  * the prefix to the key density (prefix-16 → ~100-name blocks here).
  * The closure is per-block and distributed (one task per partition of
  * blocks), never a driver-side union-find; its per-task state is
  * bounded by the same rule that bounds the match stage.
  */
object EntityResolutionOps {

  private val EditK = 2

  /** Block + match over a one-column (`c_name`) frame of entity names. */
  private[queries] def nameEdges(s: SparkSession, raw: DataFrame)
      : DataFrame = {
    val names = raw.select(col("c_name")).distinct()
      .select(col("c_name"), substring(col("c_name"), 1, 16).as("blk"))
    // salted sub-blocking + CPU-parallelism pin (Skew.blockSaltedSides)
    val sized = names.withColumn("kb", Skew.blockCells(col("blk")))
    val (pa, pb) =
      Skew.blockSaltedSides(sized, sized, Seq("blk"), col("c_name"))
    pa.as("a").join(pb.as("b"),
        col("a.blk") === col("b.blk") && col("a.salt") === col("b.salt") &&
        col("a.c_name") < col("b.c_name"))
      .filter(
        expr(s"edit_dist_bounded(a.c_name, b.c_name, $EditK) <= $EditK"))
      .select(col("a.c_name").as("doc_a"), col("b.c_name").as("doc_b"))
  }

  /** Per-name entity labels over any one-column name frame. */
  private[queries] def labels(s: SparkSession, raw: DataFrame)
      : DataFrame = {
    // every edge joins two names of one prefix-16 block (the match is
    // an equi-join on blk), so its components never cross blocks
    val cc = Components.blockLocal(nameEdges(s, raw),
      substring(col("doc_a"), 1, 16))
    val all = raw.select(col("c_name").as("doc_id")).distinct()
    all.join(cc.select(col("doc_id"), col("cluster_rep")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("entity_rep"))
  }

  /** The full pipeline over any one-column name frame. */
  private[queries] def resolve(s: SparkSession, raw: DataFrame)
      : DataFrame =
    labels(s, raw)
      .groupBy(col("entity_rep"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("entity_rep"))

  def erPipeline(s: SparkSession, d: String): DataFrame =
    resolve(s, Tables.customer(s, d))

  /** q269: survivorship (golden record) — the ER chain's final step:
    * each resolved entity keeps ONE canonical record, chosen by a
    * deterministic survivorship rule (highest account balance, ties
    * to the smallest custkey — a per-entity window rank, mirrored
    * verbatim in the oracle), plus the field-conflict census a
    * steward reviews (distinct segments/nations inside the entity).
    * Completes q251 the way q151 completes q110. */
  def goldenRecord(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cust = Tables.customer(s, d).select(col("c_name").as("doc_id"),
      col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("bal_cents"))
    val lab = labels(s, Tables.customer(s, d))
    val members = cust.join(lab, "doc_id")
    val ranked = members.withColumn("rk", row_number().over(
      Window.partitionBy(col("entity_rep"))
        .orderBy(col("bal_cents").desc, col("c_custkey"))))
    val golden = ranked.filter(col("rk") === 1)
      .select(col("entity_rep"), col("c_custkey").as("golden_custkey"),
        col("bal_cents").as("golden_bal_cents"))
    members.groupBy(col("entity_rep"))
      .agg(count(lit(1)).as("n_members"),
        count_distinct(col("c_mktsegment")).as("n_segments"),
        count_distinct(col("c_nationkey")).as("n_nations"))
      .join(golden, "entity_rep")
      .orderBy(col("entity_rep"))
  }

  /** q363: Fellegi–Sunter agreement weights over the blocked candidate
    * space — for each auxiliary field (nation, segment, |balance| gap
    * < $100), how often it agrees among MATCHED pairs (the q251
    * edit-distance verdict as the M-class proxy) versus UNMATCHED
    * blocked candidates (the U class): m_ppm, u_ppm, and the
    * likelihood ratio weight_milli = m_ppm·1000 div u_ppm. The number
    * a linkage reviewer wants before trusting a field in a scoring
    * rule; log-free per the q288 rule (the ratio IS the evidence
    * weight, monotone in the FS log-weight). Degenerate classes emit
    * NULL (guarded), never a division error. Per-name attributes are
    * arg_min by custkey (deterministic — custkey is unique); the
    * candidate space is the q251 prefix-16 block join, so the plan is
    * block-bounded exactly like q251 (no BNLJ, ≤100 names per block). */
  def fsWeights(s: SparkSession, d: String): DataFrame =
    fsWeightsOf(s, Tables.customer(s, d))

  /** q363 core over any customer-shaped frame (c_name, c_custkey,
    * c_nationkey, c_mktsegment, c_acctbal). */
  private[queries] def fsWeightsOf(s: SparkSession, cust: DataFrame)
      : DataFrame = {
    val attrs = cust
      .groupBy(col("c_name"))
      .agg(expr("min_by(c_nationkey, c_custkey)").as("nat"),
        expr("min_by(c_mktsegment, c_custkey)").as("seg"),
        expr("min_by(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100" +
          " AS BIGINT), c_custkey)").as("bal"))
      .select(col("c_name"), substring(col("c_name"), 1, 16).as("blk"),
        col("nat"), col("seg"), col("bal"))
    // same salted sub-blocking + CPU-parallelism pin as nameEdges
    val sized = attrs.withColumn("kb", Skew.blockCells(col("blk")))
    val (ca, cb) =
      Skew.blockSaltedSides(sized, sized, Seq("blk"), col("c_name"))
    val cand = ca.as("a").join(cb.as("b"),
        col("a.blk") === col("b.blk") && col("a.salt") === col("b.salt") &&
        col("a.c_name") < col("b.c_name"))
      .select(
        expr(s"edit_dist_bounded(a.c_name, b.c_name, $EditK) <= $EditK")
          .as("is_match"),
        (col("a.nat") === col("b.nat")).as("f_nation"),
        (col("a.seg") === col("b.seg")).as("f_segment"),
        (abs(col("a.bal") - col("b.bal")) < 10000L).as("f_balance"))
    val agg = cand.agg(
      sum(when(col("is_match"), 1L).otherwise(0L)).as("n_m"),
      sum(when(!col("is_match"), 1L).otherwise(0L)).as("n_u"),
      sum(when(col("is_match") && col("f_nation"), 1L).otherwise(0L))
        .as("ma1"),
      sum(when(!col("is_match") && col("f_nation"), 1L).otherwise(0L))
        .as("ua1"),
      sum(when(col("is_match") && col("f_segment"), 1L).otherwise(0L))
        .as("ma2"),
      sum(when(!col("is_match") && col("f_segment"), 1L).otherwise(0L))
        .as("ua2"),
      sum(when(col("is_match") && col("f_balance"), 1L).otherwise(0L))
        .as("ma3"),
      sum(when(!col("is_match") && col("f_balance"), 1L).otherwise(0L))
        .as("ua3"))
    agg.select(
        expr("stack(3, 'balance', ma3, ua3, 'nation', ma1, ua1, " +
          "'segment', ma2, ua2)").as(Seq("feature", "m_agree", "u_agree")),
        col("n_m"), col("n_u"))
      .select(col("feature"), col("n_m"), col("n_u"), col("m_agree"),
        col("u_agree"),
        expr("CAST(CASE WHEN n_m > 0 THEN m_agree * 1000000 div n_m END" +
          " AS BIGINT)").as("m_ppm"),
        expr("CAST(CASE WHEN n_u > 0 THEN u_agree * 1000000 div n_u END" +
          " AS BIGINT)").as("u_ppm"),
        expr("CAST(CASE WHEN n_m > 0 AND n_u > 0 AND u_agree > 0 THEN" +
          " (m_agree * 1000000 div n_m) * 1000" +
          " div (u_agree * 1000000 div n_u) END AS BIGINT)")
          .as("weight_milli"))
      .orderBy(col("feature"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q251_er_pipeline" -> erPipeline,
    "q269_golden_record" -> goldenRecord,
    "q363_fs_weights" -> fsWeights)

  private val fsWeightsOracleSql: String =
    s"""WITH attrs AS (
       |  SELECT c_name, substr(c_name, 1, 16) AS blk,
       |    arg_min(c_nationkey, c_custkey) AS nat,
       |    arg_min(c_mktsegment, c_custkey) AS seg,
       |    arg_min(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
       |      AS BIGINT), c_custkey) AS bal
       |  FROM customer GROUP BY c_name),
       |cand AS (
       |  SELECT levenshtein(a.c_name, b.c_name) <= $EditK AS is_match,
       |    a.nat = b.nat AS f_nation, a.seg = b.seg AS f_segment,
       |    ABS(a.bal - b.bal) < 10000 AS f_balance
       |  FROM attrs a JOIN attrs b
       |    ON a.blk = b.blk AND a.c_name < b.c_name),
       |agg AS (SELECT
       |  CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_m,
       |  CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_u,
       |  CAST(SUM(CASE WHEN is_match AND f_nation THEN 1 ELSE 0 END)
       |    AS BIGINT) AS ma1,
       |  CAST(SUM(CASE WHEN NOT is_match AND f_nation THEN 1 ELSE 0 END)
       |    AS BIGINT) AS ua1,
       |  CAST(SUM(CASE WHEN is_match AND f_segment THEN 1 ELSE 0 END)
       |    AS BIGINT) AS ma2,
       |  CAST(SUM(CASE WHEN NOT is_match AND f_segment THEN 1 ELSE 0 END)
       |    AS BIGINT) AS ua2,
       |  CAST(SUM(CASE WHEN is_match AND f_balance THEN 1 ELSE 0 END)
       |    AS BIGINT) AS ma3,
       |  CAST(SUM(CASE WHEN NOT is_match AND f_balance THEN 1 ELSE 0 END)
       |    AS BIGINT) AS ua3
       |  FROM cand),
       |u AS (
       |  SELECT 'nation' AS feature, n_m, n_u, ma1 AS m_agree,
       |    ua1 AS u_agree FROM agg
       |  UNION ALL SELECT 'segment', n_m, n_u, ma2, ua2 FROM agg
       |  UNION ALL SELECT 'balance', n_m, n_u, ma3, ua3 FROM agg)
       |SELECT feature, n_m, n_u, m_agree, u_agree,
       |  CAST(CASE WHEN n_m > 0 THEN m_agree * 1000000 // n_m END
       |    AS BIGINT) AS m_ppm,
       |  CAST(CASE WHEN n_u > 0 THEN u_agree * 1000000 // n_u END
       |    AS BIGINT) AS u_ppm,
       |  CAST(CASE WHEN n_m > 0 AND n_u > 0 AND u_agree > 0 THEN
       |    (m_agree * 1000000 // n_m) * 1000
       |    // (u_agree * 1000000 // n_u) END AS BIGINT) AS weight_milli
       |FROM u ORDER BY feature""".stripMargin

  val oracle: Map[String, String] = Map(
    "q363_fs_weights" -> fsWeightsOracleSql,
    "q251_er_pipeline" ->
      s"""WITH RECURSIVE names AS (
         |  SELECT DISTINCT c_name FROM customer),
         |blk AS (
         |  SELECT c_name, substr(c_name, 1, 16) AS blk FROM names),
         |pairs AS (
         |  SELECT a.c_name AS doc_a, b.c_name AS doc_b
         |  FROM blk a JOIN blk b
         |    ON a.blk = b.blk AND a.c_name < b.c_name
         |  WHERE levenshtein(a.c_name, b.c_name) <= $EditK),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |labels AS (
         |  SELECT n.doc_id, LEAST(n.doc_id, MIN(r.v)) AS entity
         |  FROM nodes n JOIN reach r ON r.u = n.doc_id
         |  GROUP BY n.doc_id),
         |lab2 AS (
         |  SELECT a.c_name AS doc_id, COALESCE(l.entity, a.c_name)
         |    AS entity
         |  FROM names a LEFT JOIN labels l ON a.c_name = l.doc_id)
         |SELECT entity AS entity_rep, COUNT(*) AS n_members
         |FROM lab2 GROUP BY entity ORDER BY entity""".stripMargin,
    "q269_golden_record" ->
      s"""WITH RECURSIVE names AS (
         |  SELECT DISTINCT c_name FROM customer),
         |blk AS (
         |  SELECT c_name, substr(c_name, 1, 16) AS blk FROM names),
         |pairs AS (
         |  SELECT a.c_name AS doc_a, b.c_name AS doc_b
         |  FROM blk a JOIN blk b
         |    ON a.blk = b.blk AND a.c_name < b.c_name
         |  WHERE levenshtein(a.c_name, b.c_name) <= $EditK),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |labels AS (
         |  SELECT n.doc_id, LEAST(n.doc_id, MIN(r.v)) AS entity
         |  FROM nodes n JOIN reach r ON r.u = n.doc_id
         |  GROUP BY n.doc_id),
         |lab2 AS (
         |  SELECT a.c_name AS doc_id, COALESCE(l.entity, a.c_name)
         |    AS entity
         |  FROM names a LEFT JOIN labels l ON a.c_name = l.doc_id),
         |mem AS (
         |  SELECT l.entity AS entity_rep, c.c_custkey, c.c_mktsegment,
         |    c.c_nationkey,
         |    CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      AS bal_cents
         |  FROM lab2 l JOIN customer c ON l.doc_id = c.c_name),
         |rk AS (
         |  SELECT entity_rep, c_custkey, bal_cents,
         |    ROW_NUMBER() OVER (PARTITION BY entity_rep
         |      ORDER BY bal_cents DESC, c_custkey) AS rk
         |  FROM mem),
         |g AS (
         |  SELECT entity_rep, c_custkey AS golden_custkey,
         |    bal_cents AS golden_bal_cents
         |  FROM rk WHERE rk = 1),
         |agg AS (
         |  SELECT entity_rep, COUNT(*) AS n_members,
         |    COUNT(DISTINCT c_mktsegment) AS n_segments,
         |    COUNT(DISTINCT c_nationkey) AS n_nations
         |  FROM mem GROUP BY entity_rep)
         |SELECT agg.entity_rep, n_members, n_segments, n_nations,
         |  golden_custkey, golden_bal_cents
         |FROM agg JOIN g USING (entity_rep)
         |ORDER BY agg.entity_rep""".stripMargin)
}
