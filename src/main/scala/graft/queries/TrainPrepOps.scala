package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-sample preparation operators — the last mile between a
  * curated corpus and a training batch:
  *
  *  - q331 span corruption (T5 §3.1.4 denoising): deterministic
  *    masked-span layout per doc — span STARTS where the salted
  *    positional hash `(doc_id·1000003 + j·8191) mod 97 < 5` fires
  *    (≈5% of positions; fixed span length 3 ⇒ ≈15% noise density,
  *    the T5 default), overlapping spans merge. Emits the
  *    sequence-planning numbers (input/target lengths = tokens −
  *    masked + sentinels / masked + sentinels). The hash is affine in
  *    j BY DESIGN (8191 is a unit mod 97, so starts cycle through all
  *    residues — deterministic pseudo-uniform density, the q49/q150
  *    no-RNG convention); it is NOT used as a per-index argmax weight,
  *    so the q163 affine-degeneracy trap does not apply.
  *  - q332 Kneser–Ney ingredients: the continuation counts that
  *    distinguish KN from naive backoff — for the top-20 words by
  *    left-continuation N₁₊(•,w): unigram freq, distinct left/right
  *    neighbors — plus the global absolute-discount estimate
  *    D = n₁/(n₁+2n₂) in milli (n₁/n₂ = bigrams seen once/twice).
  *    Everything integer; vocab²-bounded aggregates.
  *  - q333 embedding dimension stats: per-dimension n/Σ/Σ²/min/max in
  *    MILLI-quantized integers (`floor(v·1000 + 0.5)` — float32
  *    promotes to float64 identically in both engines, floor is
  *    deterministic, so the oracle is exact) — the feature-scaling
  *    table every normalization pass reads. One posexplode +
  *    map-side-combinable aggregate; 64 output rows at any corpus
  *    size.
  *  - q334 n-gram novelty: per doc, its distinct 8-grams and how many
  *    appear in NO earlier doc (min-doc_id-owns-the-gram — the
  *    incremental-crawl dedup value curve). Gram identity is the
  *    corpus GramHashes polynomial (OracleHash.polySql twin). Two
  *    hash aggregates + one equi-join back; no pair joins.
  *
  * Scale: q331/q333 are pure scans (zero/one shuffle); q332 is
  * vocab-bounded; q334's gram frame is (corpus tokens)-sized but
  * passes through map-side-combinable distincts and a gram-keyed
  * join — the q116 decontamination cost class.
  */
object TrainPrepOps {

  private val SpanLen = 3
  private val StartMod = 97L
  private val StartThresh = 5L

  /** q331: deterministic T5-style span-corruption layout. */
  def spanCorruption(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .withColumn("starts", expr(
        s"""filter(sequence(0L, n_tokens - 1L),
           |  j -> (doc_id * 1000003L + j * 8191L) % $StartMod
           |    < $StartThresh)""".stripMargin))
      .withColumn("masked", expr(
        s"""array_distinct(flatten(transform(starts,
           |  p -> sequence(p, least(p + ${SpanLen - 1}, n_tokens - 1L)))))"""
          .stripMargin))
      .withColumn("n_masked", size(col("masked")).cast("long"))
      .withColumn("n_spans", expr(
        """CAST(size(filter(masked,
          |  p -> NOT array_contains(masked, p - 1L))) AS BIGINT)"""
          .stripMargin))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("n_masked"),
        (col("n_tokens") - col("n_masked") + col("n_spans"))
          .as("input_len"),
        (col("n_masked") + col("n_spans")).as("target_len"))
      .orderBy(col("doc_id"))

  /** q332: KN continuation counts + the global discount. */
  def knContinuation(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).filter(col("lang") === "en")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    // guard 1-token docs: Spark's sequence(1, 0) is the DESCENDING
    // [1, 0] (indices 0 and 2 — ANSI error / phantom bigrams) while
    // DuckDB's range(1, len) is empty — same device as the q140 LM
    // chain's one-word guard
    val bi = toks.filter(size(col("t")) >= 2).select(explode(expr(
        """transform(sequence(1, size(t) - 1),
          |  i -> struct(element_at(t, i) AS w1,
          |              element_at(t, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val disc = bi.agg(
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
      .select(expr("n1 * 1000 div (n1 + 2 * n2)").as("d_milli"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val leftCont = bi.groupBy(col("w2").as("w"))
      .agg(count(lit(1)).as("left_cont"))
    val rightCont = bi.groupBy(col("w1").as("w"))
      .agg(count(lit(1)).as("right_cont"))
    uni.join(leftCont, Seq("w"), "left")
      .join(rightCont, Seq("w"), "left")
      .select(col("w"), col("freq"),
        coalesce(col("left_cont"), lit(0L)).as("left_cont"),
        coalesce(col("right_cont"), lit(0L)).as("right_cont"))
      .orderBy(col("left_cont").desc, col("w")).limit(20)
      .crossJoin(broadcast(disc))
  }

  /** q333: per-dimension milli-quantized moment table. */
  def embedDimStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"), expr(
        "CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT)")
        .as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_milli"),
        sum(col("q") * col("q")).as("sumsq_milli"),
        min(col("q")).as("min_milli"), max(col("q")).as("max_milli"))
      .orderBy(col("dim"))

  /** q334: per-doc distinct 8-grams + first-occurrence novelty. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.GramOps.gram_hashes(col("text"), 8))
          .as("gram"))
      .distinct()
    val first = grams.groupBy("gram")
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q331_span_corruption" -> spanCorruption,
    "q332_kn_continuation" -> knContinuation,
    "q333_embed_dim_stats" -> embedDimStats,
    "q334_ngram_novelty" -> ngramNovelty)

  val oracle: Map[String, String] = Map(
    "q331_span_corruption" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |sp AS (
         |  SELECT doc_id, n_tokens,
         |    list_distinct(flatten(list_transform(
         |      list_filter(range(0, n_tokens),
         |        j -> (doc_id * 1000003 + j * 8191) % $StartMod
         |          < $StartThresh),
         |      p -> range(p, least(p + $SpanLen, n_tokens)))))
         |      AS masked
         |  FROM base)
         |SELECT doc_id, n_tokens,
         |  CAST(len(list_filter(masked,
         |    p -> NOT list_contains(masked, p - 1))) AS BIGINT)
         |    AS n_spans,
         |  CAST(len(masked) AS BIGINT) AS n_masked,
         |  CAST(n_tokens - len(masked)
         |    + len(list_filter(masked,
         |        p -> NOT list_contains(masked, p - 1))) AS BIGINT)
         |    AS input_len,
         |  CAST(len(masked)
         |    + len(list_filter(masked,
         |        p -> NOT list_contains(masked, p - 1))) AS BIGINT)
         |    AS target_len
         |FROM sp ORDER BY doc_id""".stripMargin,
    "q332_kn_continuation" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE lang = 'en'),
        |bi AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS c
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
        |  GROUP BY 1, 2),
        |disc AS (
        |  SELECT CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000
        |    // (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |      + 2 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)) AS BIGINT)
        |    AS d_milli
        |  FROM bi),
        |uni AS (
        |  SELECT w, COUNT(*) AS freq
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
        |lc AS (SELECT w2 AS w, COUNT(*) AS left_cont FROM bi GROUP BY 1),
        |rc AS (SELECT w1 AS w, COUNT(*) AS right_cont FROM bi GROUP BY 1)
        |SELECT u.w, CAST(freq AS BIGINT) AS freq,
        |  CAST(COALESCE(left_cont, 0) AS BIGINT) AS left_cont,
        |  CAST(COALESCE(right_cont, 0) AS BIGINT) AS right_cont,
        |  d_milli
        |FROM uni u
        |LEFT JOIN lc ON u.w = lc.w
        |LEFT JOIN rc ON u.w = rc.w
        |CROSS JOIN disc
        |ORDER BY left_cont DESC, u.w LIMIT 20""".stripMargin,
    "q333_embed_dim_stats" ->
      """WITH dims AS (
        |  SELECT unnest(range(0,
        |    (SELECT MAX(len(embedding)) FROM embeddings))) AS dim0),
        |ex AS (
        |  SELECT CAST(dim0 AS BIGINT) AS dim,
        |    CAST(floor(CAST(embedding[dim0 + 1] AS DOUBLE) * 1000 + 0.5)
        |      AS BIGINT) AS q
        |  FROM embeddings
        |  CROSS JOIN dims
        |  WHERE dim0 < len(embedding))
        |SELECT dim, COUNT(*) AS n,
        |  CAST(SUM(q) AS BIGINT) AS sum_milli,
        |  CAST(SUM(q * q) AS BIGINT) AS sumsq_milli,
        |  MIN(q) AS min_milli, MAX(q) AS max_milli
        |FROM ex GROUP BY dim ORDER BY dim""".stripMargin,
    "q334_ngram_novelty" -> {
      val gramsCte =
        s"""grams AS (
           |  SELECT DISTINCT doc_id,
           |    ${OracleHash.polySql("g")} AS gram
           |  FROM (
           |    SELECT doc_id, array_to_string(t[i:i + 7], ' ') AS g
           |    FROM (
           |      SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
           |      FROM (SELECT doc_id, string_split(text, ' ') AS t
           |            FROM documents))))""".stripMargin
      s"""WITH $gramsCte,
         |first AS (
         |  SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY 1)
         |SELECT g.doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel
         |FROM grams g JOIN first USING (gram)
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin
    })
}
