package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus split hygiene + distribution distance — the audits run
  * before a corpus ships as train/val/test:
  *
  *  - q335 boilerplate census: the read model of q156's line dedup —
  *    which exact 12-word segments recur across documents (site
  *    chrome, license headers), in how many docs, how often. The
  *    drop DECISION is q156; this is the steward's report that says
  *    WHAT the boilerplate is. Top-50 by doc reach.
  *  - q336 Wasserstein-1 drift matrix: exact integer W₁ between the
  *    per-source lexical-diversity distributions for every source
  *    pair — ∫|F_A − F_B| over the value line as the cross-multiplied
  *    rational Σ gap·|cumA·n_B − cumB·n_A| (÷ n_A·n_B in milli at the
  *    end). Complements q178's two-sample KS (sup-norm) and q285's
  *    PSI (binned): W₁ is the earth-mover's read of the same drift.
  *    All windows run on per-pair merged VALUE frames (bounded by
  *    docs-per-source), never on the corpus.
  *  - q337 split-leakage audit: deterministic md5 split (75/12.5/12.5
  *    via the first hex char, the q281 convention) + two leakage
  *    channels per eval split: exact-text twins in train (md5(text)
  *    semi-join) and 8-gram contamination by train (the q116
  *    machinery across the split boundary — LEFT SEMI on the gram
  *    frame, output bounded by the eval side).
  *
  * Scale: q335 is one segment explode + hash aggregate + TakeOrdered;
  * q336's pair frame is |sources|² × values(bounded) — its one
  * BroadcastNestedLoopJoin is the a<b inequality join over the
  * |sources|-row TOTALS frames (20 rows here; plan-audited, the
  * bounded-broadcast class — sources are a dimension, not a fact);
  * q337 is two semi-joins whose build sides are train-only distincts.
  */
object CorpusSplitOps {

  private val SegLen = 12

  /** q335: recurring exact segments across documents. */
  def boilerplateCensus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, (size(w)-1) div $SegLen)," +
          s" i -> array_join(slice(w, i*$SegLen+1, $SegLen), ' '))"))
        .as("seg_text"))
      .groupBy(col("seg_text"))
      .agg(count(lit(1)).as("n_occ"),
        count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("seg_text"))
      .limit(50)

  /** q336: per-source-pair exact W₁ on the diversity distribution. */
  def w1DriftMatrix(s: SparkSession, d: String): DataFrame = {
    // integer lexical diversity (the q296 metric): distinct·10⁶ div n
    val q = Tables.documents(s, d)
      .select(col("source"), split(col("text"), " ").as("w"))
      .select(col("source"), expr(
        "size(array_distinct(w)) * 1000000L div size(w)").as("v"))
    val sv = q.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val totals = q.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
    val srcs = totals.select(col("source"), col("n"))
    val pairs = broadcast(srcs.select(col("source").as("a"),
        col("n").as("na")))
      .join(broadcast(srcs.select(col("source").as("b"),
        col("n").as("nb"))), col("a") < col("b"))
    // merged per-pair value frame via two equi-joins (an OR-join would
    // plan as a nested loop)
    val sideA = pairs.join(sv, col("a") === col("source"))
      .select(col("a"), col("b"), col("na"), col("nb"), col("v"),
        col("cnt").as("ca"), lit(0L).as("cb"))
    val sideB = pairs.join(sv, col("b") === col("source"))
      .select(col("a"), col("b"), col("na"), col("nb"), col("v"),
        lit(0L).as("ca"), col("cnt").as("cb"))
    val merged = sideA.unionByName(sideB)
      .groupBy(col("a"), col("b"), col("na"), col("nb"), col("v"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("a"), col("b")).orderBy(col("v"))
    val cdf = merged
      .withColumn("cum_a", sum(col("ca")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_b", sum(col("cb")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("gap", coalesce(lead(col("v"), 1).over(wOrd) - col("v"),
        lit(0L)))
    cdf.groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(sum(abs(col("cum_a") * col("nb") - col("cum_b") * col("na")) *
        col("gap")).as("w1_num"))
      .select(col("a"), col("b"),
        expr("w1_num * 1000 div (na * nb)").as("w1_milli"))
      .orderBy(col("a"), col("b"))
  }

  private def splitOf = expr(
    """CASE WHEN substr(md5(CAST(doc_id AS STRING)), 1, 1) < 'c'
      |  THEN 'train'
      |  WHEN substr(md5(CAST(doc_id AS STRING)), 1, 1) < 'e'
      |  THEN 'val' ELSE 'test' END""".stripMargin)

  /** q337: exact-twin + 8-gram leakage per eval split. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), splitOf.as("split"))
    val trainMd5 = docs.filter(col("split") === "train")
      .select(md5(col("text")).as("h")).distinct()
    val trainGrams = docs.filter(col("split") === "train")
      .select(explode(graft.functions.GramOps.gram_hashes(col("text"), 8))
        .as("gram")).distinct()
    val eval_ = docs.filter(col("split") =!= "train")
    val twins = eval_.select(col("doc_id"), col("split"),
        md5(col("text")).as("h"))
      .join(trainMd5, Seq("h"), "left_semi")
      .select(col("doc_id"), col("split"))
    val contam = eval_
      .select(col("doc_id"), col("split"),
        explode(graft.functions.GramOps.gram_hashes(col("text"), 8))
          .as("gram"))
      .join(trainGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("split")).distinct()
    eval_.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(twins.groupBy(col("split"))
        .agg(count(lit(1)).as("n_exact_twin")), Seq("split"), "left")
      .join(contam.groupBy(col("split"))
        .agg(count(lit(1)).as("n_gram_contam")), Seq("split"), "left")
      .select(col("split"), col("n_docs"),
        coalesce(col("n_exact_twin"), lit(0L)).as("n_exact_twin"),
        coalesce(col("n_gram_contam"), lit(0L)).as("n_gram_contam"))
      .orderBy(col("split"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q335_boilerplate_census" -> boilerplateCensus,
    "q336_w1_drift_matrix" -> w1DriftMatrix,
    "q337_split_leakage" -> splitLeakage)

  val oracle: Map[String, String] = Map(
    "q335_boilerplate_census" ->
      s"""WITH segs AS (
         |  SELECT doc_id,
         |    array_to_string(w[i*$SegLen+1:i*$SegLen+$SegLen], ' ')
         |      AS seg_text
         |  FROM (
         |    SELECT doc_id, w,
         |      unnest(range(0, (len(w)-1) // $SegLen + 1)) AS i
         |    FROM (SELECT doc_id, string_split(text, ' ') AS w
         |          FROM documents)))
         |SELECT seg_text, COUNT(*) AS n_occ,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM segs GROUP BY seg_text
         |HAVING COUNT(DISTINCT doc_id) >= 2
         |ORDER BY n_docs DESC, seg_text LIMIT 50""".stripMargin,
    "q336_w1_drift_matrix" ->
      """WITH q AS (
        |  SELECT source,
        |    len(list_distinct(string_split(text, ' '))) * 1000000
        |      // len(string_split(text, ' ')) AS v
        |  FROM documents),
        |sv AS (SELECT source, v, COUNT(*) AS cnt FROM q GROUP BY 1, 2),
        |tot AS (SELECT source, COUNT(*) AS n FROM q GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS a, a.n AS na, b.source AS b, b.n AS nb
        |  FROM tot a JOIN tot b ON a.source < b.source),
        |merged AS (
        |  SELECT a, b, na, nb, v,
        |    CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
        |  FROM (
        |    SELECT p.a, p.b, p.na, p.nb, sv.v, sv.cnt AS ca, 0 AS cb
        |    FROM pairs p JOIN sv ON sv.source = p.a
        |    UNION ALL
        |    SELECT p.a, p.b, p.na, p.nb, sv.v, 0, sv.cnt
        |    FROM pairs p JOIN sv ON sv.source = p.b)
        |  GROUP BY 1, 2, 3, 4, 5),
        |cdf AS (
        |  SELECT a, b, na, nb, v,
        |    CAST(SUM(ca) OVER (PARTITION BY a, b ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_a,
        |    CAST(SUM(cb) OVER (PARTITION BY a, b ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_b,
        |    COALESCE(LEAD(v) OVER (PARTITION BY a, b ORDER BY v) - v, 0)
        |      AS gap
        |  FROM merged)
        |SELECT a, b,
        |  CAST(SUM(abs(cum_a * nb - cum_b * na) * gap) * 1000
        |    // (na * nb) AS BIGINT) AS w1_milli
        |FROM cdf GROUP BY a, b, na, nb
        |ORDER BY a, b""".stripMargin,
    "q337_split_leakage" -> {
      val gramsCte =
        s"""grams AS (
           |  SELECT DISTINCT doc_id,
           |    ${OracleHash.polySql("g")} AS gram
           |  FROM (
           |    SELECT doc_id, array_to_string(t[i:i + 7], ' ') AS g
           |    FROM (
           |      SELECT doc_id, t,
           |        unnest(generate_series(1, len(t) - 7)) AS i
           |      FROM (SELECT doc_id, string_split(text, ' ') AS t
           |            FROM documents))))""".stripMargin
      s"""WITH $gramsCte,
         |docs AS (
         |  SELECT doc_id, text,
         |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
         |      THEN 'train'
         |      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
         |      THEN 'val' ELSE 'test' END AS split
         |  FROM documents),
         |train_md5 AS (
         |  SELECT DISTINCT md5(text) AS h FROM docs
         |  WHERE split = 'train'),
         |train_grams AS (
         |  SELECT DISTINCT gram FROM grams
         |  JOIN docs USING (doc_id) WHERE split = 'train'),
         |ev AS (SELECT doc_id, text, split FROM docs
         |  WHERE split <> 'train'),
         |twins AS (
         |  SELECT doc_id, split FROM ev
         |  WHERE md5(text) IN (SELECT h FROM train_md5)),
         |contam AS (
         |  SELECT DISTINCT e.doc_id, e.split
         |  FROM ev e JOIN grams g ON e.doc_id = g.doc_id
         |  WHERE g.gram IN (SELECT gram FROM train_grams))
         |SELECT e.split, COUNT(*) AS n_docs,
         |  CAST(COALESCE(MAX(t.cnt), 0) AS BIGINT) AS n_exact_twin,
         |  CAST(COALESCE(MAX(c.cnt), 0) AS BIGINT) AS n_gram_contam
         |FROM ev e
         |LEFT JOIN (SELECT split, COUNT(*) AS cnt FROM twins
         |  GROUP BY 1) t ON e.split = t.split
         |LEFT JOIN (SELECT split, COUNT(*) AS cnt FROM contam
         |  GROUP BY 1) c ON e.split = c.split
         |GROUP BY e.split ORDER BY e.split""".stripMargin
    })
}
