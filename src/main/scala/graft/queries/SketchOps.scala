package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values / bottom-k) distinct sketches — Bar-Yossef et
  * al. 2002, the mergeable distinct-count summary behind theta
  * sketches:
  *
  *  - q191: per-source bottom-64 sketch over 4-token-gram hashes +
  *    the (k−1)·D/h_k distinct estimate next to the exact count.
  *  - q192: pairwise UNION / INTERSECTION / Jaccard estimates computed
  *    from the 64-element sketches alone — the "count distinct across
  *    segments without rescanning" operation; two sketches merge by
  *    taking the bottom-k of their union, so the estimate composes
  *    associatively across any partitioning.
  *
  * Like CMS (q186) and unlike HLL (q121), the sketch CONTENT here is
  * deterministic — bottom-k of a set is an order statistic, invariant
  * to merge order — so both queries hash-match a DuckDB oracle that
  * re-derives the sketches relationally (row_number over the distinct
  * hash frame; no list functions needed on the oracle side).
  *
  * Ref: the reference counts distinct visitors per window with exact
  * Set state (MetricsApp uv; q10/q46 here); KMV is the fixed-size
  * summary that replaces the set when segments × windows explode.
  *
  * Scale (100 TB): the only corpus-scale stages are one DISTINCT over
  * (source, gram-hash) — 8-byte items, map-side combinable — and the
  * bottom-k aggregate, whose native bounded heap (`topk_by`) ships ≤64
  * longs per source per map task. Everything pairwise happens on
  * |sources|² rows of 64-element arrays. The estimator constant is the
  * gram-hash modulus P (hashes are uniform in [0, P)); 63·P < 2⁶²
  * keeps the fixed-point estimate in BIGINT in both engines.
  */
object SketchOps {

  private val K = 64
  private val GramN = 4
  private val P = graft.functions.GramHash.P

  /** The per-source bottom-[[K]] sketch frame: (source, n_distinct,
    * sketch ASC array). `topk_by(-h, h, K)` keeps the K smallest
    * hashes: the value −h is a monotone (double) image of h, and exact
    * long-key tie-break resolves any double rounding collision, so the
    * selected SET is exactly the K order statistics. */
  private def sketches(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("source"),
        explode(expr(s"gram_hashes(text, $GramN)")).as("h"))
      .distinct()
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct"),
        sort_array(call_function("topk_by", -col("h"), col("h"), lit(K)))
          .as("sk"))
  }

  /** q191: sketch + estimate vs exact. est = (k−1)·P div h_k, exact
    * when the source has fewer than K distinct grams (sketch complete). */
  def kmvSketch(s: SparkSession, d: String): DataFrame =
    sketches(s, d)
      .select(col("source"), col("n_distinct"),
        element_at(col("sk"), -1).as("hk"),
        when(col("n_distinct") < K, col("n_distinct"))
          .otherwise(expr(s"(${K - 1}L * ${P}L) div element_at(sk, -1)"))
          .as("kmv_est"))
      .withColumn("err_ppm",
        expr("abs(kmv_est - n_distinct) * 1000000 div n_distinct"))

  /** q192: pairwise set-operation estimates from the sketches alone.
    * Merged sketch M = bottom-K of (sk_a ∪ sk_b); ρ = |M ∩ sk_a ∩
    * sk_b|; union_est from M's h_k (exact when |sk_a ∪ sk_b| < K —
    * then both sketches were complete); inter_est = ρ·union_est/K. */
  def kmvSetOps(s: SparkSession, d: String): DataFrame = {
    val sk = sketches(s, d).select(col("source"), col("sk"))
    val a = sk.select(col("source").as("src_a"), col("sk").as("ska"))
    val b = sk.select(col("source").as("src_b"), col("sk").as("skb"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("u", array_sort(array_union(col("ska"), col("skb"))))
      .withColumn("m", slice(col("u"), 1, K))
      .withColumn("rho",
        size(array_intersect(col("m"),
          array_intersect(col("ska"), col("skb")))).cast("long"))
      .withColumn("union_est",
        when(size(col("u")) < K, size(col("u")).cast("long"))
          .otherwise(expr(s"(${K - 1}L * ${P}L) div element_at(m, -1)")))
      .withColumn("inter_est",
        when(size(col("u")) < K,
          size(array_intersect(col("ska"), col("skb"))).cast("long"))
          .otherwise(expr(s"rho * union_est div $K")))
      .withColumn("jaccard_est_ppm",
        when(size(col("u")) < K,
          expr("size(array_intersect(ska, skb)) * 1000000L div size(u)"))
          .otherwise(expr(s"rho * 1000000 div $K")))
      .select(col("src_a"), col("src_b"), col("rho"), col("union_est"),
        col("inter_est"), col("jaccard_est_ppm"))
  }

  // ---- q195 PPS threshold sampling + Horvitz–Thompson ----------------

  private val SampleTarget = 100L
  private val H = 2147483647L

  /** q195: probability-proportional-to-size threshold sampling with a
    * Horvitz–Thompson total estimate — the weighted corpus sample that
    * keeps long documents with proportionally higher probability
    * (Duffield et al. 2007 priority-sampling family, stated with the
    * deterministic salted-hash inclusion device of q49/q150 so
    * membership is engine- and partitioning-exact). Inclusion
    * probability p_i = min(1, m·w_i/W) carried as p·H in BIGINT
    * (m·w·H < 2⁶² for chars ≤ 10¹⁰); doc kept iff its uniform hash
    * < p·H; the HT estimate Σ_kept w_i/p_i then re-estimates W per
    * source — the spec pins it near the true total. One corpus scan +
    * a 1-row broadcast; kept rows only ever aggregate.
    *
    * The inclusion hash is the q150 salted POLYNOMIAL hash of the
    * doc_id's decimal digits (`poly("<id>:pps") mod H`) — an
    * affine-in-id hash like `(a·id+b) mod H` is useless here:
    * consecutive ids map to an arithmetic progression, so the
    * low-hash region is a doc_id PREFIX, not a uniform sample
    * (observed: 5× the target size and a 5× HT bias; the q163
    * affine-degeneracy trap in sampling form). */
  def ppsSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val w = docs.agg(sum(col("n_chars")).as("tot_w"))
    docs.crossJoin(broadcast(w))
      .withColumn("h",
        expr("element_at(gram_hashes(concat(CAST(doc_id AS STRING)," +
          s" ':pps'), 1), 1) % $H"))
      .withColumn("p_scaled",
        least(lit(H), expr(s"($SampleTarget * n_chars * $H) div tot_w")))
      .withColumn("kept", col("h") < col("p_scaled"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("kept"),
          expr(s"n_chars * $H div p_scaled")).otherwise(0L))
          .as("ht_est_chars"))
      .withColumn("err_ppm",
        expr("abs(ht_est_chars - total_chars) * 1000000 div total_chars"))
  }

  // ---- q202 fixed-size priority sampling ------------------------------

  private val PriK = 64

  /** q202: priority sampling (Duffield–Lund–Thorup 2007) — the FIXED
    * sample-size sibling of q195's threshold sampling: priority
    * q_i = w_i·H div h_i (h_i the salted uniform hash in [1, H], so
    * q_i = w_i/u_i in weight units), keep the k largest priorities,
    * threshold τ = the (k+1)-th, and estimate the weight total as
    * Σ_sample max(w_i, τ) — unbiased for any weight distribution.
    * Everything integral: priorities, τ, and the estimator never leave
    * BIGINT (w·H ≤ 10⁴·2³¹ ≪ 2⁶³).
    *
    * Scale: the only corpus-scan output is the top-(k+1) by priority —
    * a TakeOrdered (map-side partial top-k per partition, never a
    * global sort); the estimator then aggregates k rows. The same
    * affine-degeneracy rule as q195 applies to the hash choice. */
  def prioritySample(s: SparkSession, d: String): DataFrame = {
    val pri = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("h",
        expr("element_at(gram_hashes(concat(CAST(doc_id AS STRING)," +
          s" ':pri'), 1), 1) % $H + 1"))
      .withColumn("priority", expr(s"n_chars * $H div h"))
    val top = pri.orderBy(col("priority").desc, col("doc_id"))
      .limit(PriK + 1)
    val tau = top.orderBy(col("priority"), col("doc_id").desc).limit(1)
      .select(col("priority").as("tau"))
    val tot = pri.agg(sum(col("n_chars")).as("true_total"))
    top.orderBy(col("priority").desc, col("doc_id")).limit(PriK)
      .crossJoin(broadcast(tau)).crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("k"), max(col("tau")).as("tau"),
        sum(greatest(col("n_chars"), col("tau"))).as("est_total"),
        max(col("true_total")).as("true_total"))
      .withColumn("err_ppm",
        expr("abs(est_total - true_total) * 1000000 div true_total"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q191_kmv_sketch" -> kmvSketch,
    "q192_kmv_set_ops" -> kmvSetOps,
    "q195_pps_sample" -> ppsSample,
    "q202_priority_sample" -> prioritySample)

  /** Distinct 4-gram hashes per source (the q141 gram-string device —
    * hashes evaluated once per DISTINCT gram), then bottom-K via
    * row_number — the relational restatement of the sketch. */
  private val b64Cte =
    s"""WITH toks AS (
       |  SELECT source, string_split(text, ' ') AS t FROM documents),
       |idx AS (
       |  SELECT source, t,
       |    unnest(generate_series(1, len(t) - ${GramN - 1})) AS i
       |  FROM toks),
       |gstr AS (
       |  SELECT DISTINCT source,
       |    array_to_string(t[i:i + ${GramN - 1}], ' ') AS g
       |  FROM idx),
       |gh AS MATERIALIZED (
       |  SELECT g, ${OracleHash.polySql("g")} AS h
       |  FROM (SELECT DISTINCT g FROM gstr)),
       |hs AS (SELECT DISTINCT source, h FROM gstr JOIN gh USING (g)),
       |nd AS (SELECT source, COUNT(*) AS n_distinct FROM hs GROUP BY 1),
       |b64 AS (
       |  SELECT source, h FROM (
       |    SELECT source, h,
       |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM hs) WHERE rn <= $K)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q202_priority_sample" ->
      s"""WITH pri AS (
         |  SELECT doc_id, n_chars,
         |    n_chars * $H
         |      // ((${OracleHash.polySql(
                  "(CAST(doc_id AS VARCHAR) || ':pri')")}) % $H + 1)
         |      AS priority
         |  FROM documents),
         |rk AS (
         |  SELECT doc_id, n_chars, priority,
         |    row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
         |  FROM (SELECT * FROM pri
         |        ORDER BY priority DESC, doc_id LIMIT ${PriK + 1})),
         |tau AS (SELECT priority AS tau FROM rk WHERE rn = ${PriK + 1}),
         |tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS true_total
         |  FROM pri)
         |SELECT COUNT(*) AS k, MAX(tau) AS tau,
         |  CAST(SUM(GREATEST(n_chars, tau)) AS BIGINT) AS est_total,
         |  MAX(true_total) AS true_total,
         |  abs(CAST(SUM(GREATEST(n_chars, tau)) AS BIGINT)
         |    - MAX(true_total)) * 1000000 // MAX(true_total) AS err_ppm
         |FROM rk CROSS JOIN tau CROSS JOIN tot
         |WHERE rn <= $PriK""".stripMargin,
    "q195_pps_sample" ->
      s"""WITH w AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS tot_w
         |  FROM documents),
         |scored AS (
         |  SELECT source, n_chars,
         |    (${OracleHash.polySql("(CAST(doc_id AS VARCHAR) || ':pps')")})
         |      % $H AS h,
         |    LEAST($H, ($SampleTarget * n_chars * $H) // tot_w)
         |      AS p_scaled
         |  FROM documents CROSS JOIN w)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  CAST(SUM(CASE WHEN h < p_scaled THEN 1 ELSE 0 END) AS BIGINT)
         |    AS kept_docs,
         |  CAST(SUM(CASE WHEN h < p_scaled
         |    THEN n_chars * $H // p_scaled ELSE 0 END) AS BIGINT)
         |    AS ht_est_chars,
         |  abs(CAST(SUM(CASE WHEN h < p_scaled
         |      THEN n_chars * $H // p_scaled ELSE 0 END) AS BIGINT)
         |    - CAST(SUM(n_chars) AS BIGINT)) * 1000000
         |    // CAST(SUM(n_chars) AS BIGINT) AS err_ppm
         |FROM scored GROUP BY source""".stripMargin,
    "q191_kmv_sketch" -> s"""$b64Cte
       |SELECT source, n_distinct, hk,
       |  CASE WHEN n_distinct < $K THEN n_distinct
       |       ELSE (${K - 1} * ${P}) // hk END AS kmv_est,
       |  abs(CASE WHEN n_distinct < $K THEN n_distinct
       |       ELSE (${K - 1} * ${P}) // hk END - n_distinct)
       |    * 1000000 // n_distinct AS err_ppm
       |FROM (SELECT source, MAX(h) AS hk FROM b64 GROUP BY source)
       |  JOIN nd USING (source)""".stripMargin,
    "q192_kmv_set_ops" -> s"""$b64Cte,
       |pairs AS (
       |  SELECT x.source AS src_a, y.source AS src_b
       |  FROM nd x JOIN nd y ON x.source < y.source),
       |pu AS (  -- distinct union of the two 64-element sketches
       |  SELECT DISTINCT p.src_a, p.src_b, b.h
       |  FROM pairs p JOIN b64 b ON b.source IN (p.src_a, p.src_b)),
       |pur AS (
       |  SELECT src_a, src_b, h,
       |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn,
       |    COUNT(*) OVER (PARTITION BY src_a, src_b) AS u_n
       |  FROM pu),
       |m AS (SELECT * FROM pur WHERE rn <= $K),
       |inb AS (  -- sketch elements present under BOTH sources
       |  SELECT xa.source AS src_a, xb.source AS src_b, xa.h
       |  FROM b64 xa JOIN b64 xb
       |    ON xa.h = xb.h AND xa.source < xb.source),
       |stats AS (
       |  SELECT m.src_a, m.src_b, MAX(m.u_n) AS u_n, MAX(m.h) AS hk,
       |    CAST(COUNT(inb.h) AS BIGINT) AS rho
       |  FROM m LEFT JOIN inb
       |    ON m.src_a = inb.src_a AND m.src_b = inb.src_b AND m.h = inb.h
       |  GROUP BY m.src_a, m.src_b),
       |full_i AS (  -- exact sketch-set intersection size (complete case)
       |  SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS i_n
       |  FROM inb GROUP BY src_a, src_b)
       |SELECT s.src_a, s.src_b, s.rho,
       |  CASE WHEN s.u_n < $K THEN s.u_n
       |       ELSE (${K - 1} * ${P}) // s.hk END AS union_est,
       |  CASE WHEN s.u_n < $K THEN COALESCE(f.i_n, 0)
       |       ELSE s.rho * (CASE WHEN s.u_n < $K THEN s.u_n
       |         ELSE (${K - 1} * ${P}) // s.hk END) // $K END AS inter_est,
       |  CASE WHEN s.u_n < $K THEN COALESCE(f.i_n, 0) * 1000000 // s.u_n
       |       ELSE s.rho * 1000000 // $K END AS jaccard_est_ppm
       |FROM stats s LEFT JOIN full_i f USING (src_a, src_b)""".stripMargin)
}
