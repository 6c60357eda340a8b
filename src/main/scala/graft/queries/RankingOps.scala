package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Term weighting and substring-level duplication statistics — the
  * retrieval/filter side of a training-data pipeline (reference scope:
  * the keyword/TF analytics of SplitFunction.java + KeywordStatsApp; the
  * duplicated-span statistics generalize the exact/near-dup family to
  * sub-document granularity, after Lee et al., "Deduplicating Training
  * Data Makes Language Models Better").
  *
  * Float determinism rule (hash-match oracle): IEEE +,-,*,/ are
  * correctly rounded and bit-identical across Spark and DuckDB; libm
  * transcendentals (ln, exp, pow) are NOT. So idf here is the RATIONAL
  * ratio N/df — same ranking semantics for fixed N (any monotone
  * transform of N/df yields an identical per-document ordering up to
  * product with tf; a production user can swap in `log` at the cost of
  * oracle exactness), computed in one fixed operation order.
  */
object RankingOps {

  /** q112: per-document top-3 terms by TF·IDF (rational idf = N/df),
    * deterministic tiebreak on the term itself. Shape: one shuffle for
    * tf (map-side combinable), one for df over the (much smaller)
    * (doc, word) frame, a broadcast of the 1-row corpus size, and a
    * per-document window — partitioned by doc_id, so the sort is local
    * to each document's handful of terms, never a global sort. */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    val tf = TextOps.words(s, d)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val score = (col("tf").cast("double") * col("n_docs")) / col("df")
    val w = Window.partitionBy("doc_id").orderBy(score.desc, col("word"))
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        score.as("score"), col("rnk"))
  }

  /** q113: duplicated 8-gram statistics — which fraction of each
    * document's token windows also occurs elsewhere in the corpus
    * (same doc or another; boilerplate and template spans score high).
    * Linear, not pairwise: explode windows → per-gram occurrence count
    * as a WINDOW over the gram partition (one shuffle; no self-join,
    * so the window expansion is computed exactly once) → two nested
    * aggregations. No candidate pairs are ever materialized, so —
    * unlike the pair generators — this needs no df cap at 100 TB; a
    * hot gram only makes its count big. The single double division
    * happens AFTER the integer sums.
    *
    * Gram identity is the native [[graft.functions.GramHashes]] modular
    * polynomial (an 8-byte long), not the gram string: the measured
    * cost of the original plan was DOMINATED by building ~50–80-byte
    * gram strings (≈1.5 s of 2.7 s at sf0.1), and at 100 TB those
    * strings are also ~85% of the shuffle bytes. Both engines compute
    * the identical hash, so the oracle is unaffected; hash-equality
    * differs from string-equality only on polynomial collisions
    * (≈ m²/2P ≈ 1e-6 at a million distinct grams — see GramHash). */
  def dupNgramStats(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(graft.functions.GramOps.gram_hashes(col("text"), 8)).as("gram"))
    val gc = count(lit(1)).over(Window.partitionBy("gram"))
    val perDoc = grams.withColumn("gc", gc)
      .groupBy("doc_id", "lang", "source")
      .agg(count(lit(1)).as("tot"),
        sum(when(col("gc") > 1, 1L).otherwise(0L)).as("dup"))
    perDoc.groupBy("lang", "source")
      .agg(count(lit(1)).as("docs"),
        sum(col("tot")).as("total_grams"),
        sum(col("dup")).as("dup_grams"),
        (sum(col("dup")).cast("double") / sum(col("tot"))).as("dup_fraction"),
        sum(when(col("dup") * 2 > col("tot"), 1L).otherwise(0L))
          .as("docs_over_half"))
  }

  /** q133: substring-level dedup REMOVAL — the acting counterpart of
    * q113's statistics (Lee et al.: train on corpora with duplicated
    * spans removed, not just measured). Keep-FIRST semantics: for every
    * 8-gram that occurs more than once in the corpus, all occurrences
    * except the first (ordered by doc_id, then position) have their
    * 8-token span marked; documents are rebuilt from unmarked tokens.
    * Exact duplicates therefore keep one intact copy and later copies
    * collapse to nothing — the q24 exact-dedup decision falls out as a
    * special case of the span rule.
    *
    * Plan: gram hashes with positions (native [[graft.functions
    * .GramHashes]], 8-byte items on the one shuffle) → per-gram
    * occurrence rank as a WINDOW over the gram partition (q113's
    * device: linear, no self-join, no pair materialization, hence no df
    * cap) → covered token positions exploded per marked span →
    * collect_set per doc → rebuild via `array_except` over the position
    * array (hash-set pass, order-preserving; no UDF). The cleaned text
    * is rebuilt from token positions, so it is engine-exact and carries
    * a full-text oracle. */
  def spanDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val grams = docs.select(col("doc_id"),
      posexplode(graft.functions.GramOps.gram_hashes(col("text"), 8))
        .as(Seq("pos0", "gh")))
      .select(col("doc_id"), (col("pos0") + 1).as("i"), col("gh"))
    val rn = row_number().over(
      Window.partitionBy("gh").orderBy("doc_id", "i"))
    val gc = count(lit(1)).over(Window.partitionBy("gh"))
    val covered = grams
      .withColumn("rn", rn).withColumn("gc", gc)
      .filter(col("gc") > 1 && col("rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + 7)).as("p"))
      .groupBy("doc_id")
      .agg(collect_set(col("p")).as("cov"))
    val t = split(col("text"), " ")
    // rebuild via array_except(positions, covered): hash-set lookup —
    // O(n + |cov|) per doc and order-preserving on the left operand. An
    // indexed filter with array_contains would be O(n·|cov|), quadratic
    // exactly on the worst case (a fully-duplicated long document)
    val keepPos = array_except(sequence(lit(1), size(t)), col("cov"))
    docs.join(covered, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), array().cast("array<int>")))
      .select(col("doc_id"), col("lang"), col("source"),
        size(t).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("removed_tokens"),
        concat_ws(" ", transform(keepPos, j => element_at(t, j)))
          .as("clean_text"))
  }

  /** q115: deterministic train/val split — hash the stable doc_id (not
    * position or random()), so the assignment is reproducible across
    * runs, engines and repartitions, and survives incremental corpus
    * growth (a new doc never flips an old doc's split). First md5 hex
    * char < '4' ⇒ val (4/16 = 25%). */
  def trainValSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("split",
        when(substring(md5(col("doc_id").cast("string")), 1, 1) < "4", "val")
          .otherwise("train"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("ws_tokens"))

  /** q212: Zipf power-law audit via DYADIC frequency buckets — the
    * engine-exact statement of the usual log-log fit: bucket
    * b = ⌊log₂ f⌋ computed as a range join against the broadcast
    * 40-row powers-of-two frame (no transcendental log anywhere), per-
    * bucket distinct-word and occurrence counts, and the bucket-to-
    * bucket decay ratio in ppm (a Zipf corpus halves n_words roughly
    * per dyadic bucket; a bot-inflated one doesn't — this is the drift
    * alarm for vocabulary statistics).
    *
    * Scale: one map-side word-frequency aggregate over the corpus;
    * the bucket join is vocabulary × 40 broadcast rows; the window
    * runs on the ≤40-row bucket frame. */
  def zipfDyadic(s: SparkSession, d: String): DataFrame = {
    val freq = TextOps.words(s, d)
      .groupBy("word").agg(count(lit(1)).as("f"))
    val pows = s.range(0, 40).select(col("id").as("bucket"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").as("lo"))
    freq.join(broadcast(pows),
        col("f") >= col("lo") && col("f") < col("lo") * 2)
      .groupBy("bucket", "lo")
      .agg(count(lit(1)).as("n_words"), sum(col("f")).as("occurrences"))
      .withColumn("decay_ppm",
        expr("n_words * 1000000 div lag(n_words)" +
          " OVER (ORDER BY bucket)"))
      .orderBy("bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q112_tfidf_topk" -> tfidfTopTerms,
    "q113_dup_ngram_stats" -> dupNgramStats,
    "q115_train_val_split" -> trainValSplit,
    "q133_span_dedup" -> spanDedup,
    "q212_zipf_dyadic" -> zipfDyadic)

  val oracle: Map[String, String] = Map(
    "q212_zipf_dyadic" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |freq AS (SELECT word, COUNT(*) AS f FROM w GROUP BY word),
        |pows AS (SELECT b AS bucket, (1::BIGINT << b) AS lo
        |  FROM (SELECT unnest(range(0, 40)) AS b)),
        |bk AS (
        |  SELECT bucket, lo, COUNT(*) AS n_words,
        |    CAST(SUM(f) AS BIGINT) AS occurrences
        |  FROM freq JOIN pows ON f >= lo AND f < lo * 2
        |  GROUP BY bucket, lo)
        |SELECT bucket, lo, n_words, occurrences,
        |  CAST(n_words * 1000000 // lag(n_words) OVER (ORDER BY bucket)
        |    AS BIGINT) AS decay_ppm
        |FROM bk ORDER BY bucket""".stripMargin,
    "q112_tfidf_topk" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, word, tf, df,
        |    (CAST(tf AS DOUBLE) * n_docs) / df AS score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY (CAST(tf AS DOUBLE) * n_docs) / df DESC, word) AS rnk
        |  FROM tf JOIN df USING (word) CROSS JOIN n)
        |SELECT doc_id, word, CAST(tf AS BIGINT) AS tf,
        |  CAST(df AS BIGINT) AS df, score, CAST(rnk AS INTEGER) AS rnk
        |FROM scored WHERE rnk <= 3""".stripMargin,
    "q113_dup_ngram_stats" -> ({
      val hash = OracleHash.polySql("g")
      s"""WITH toks AS (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS t
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, lang, source, t,
        |    unnest(generate_series(1, len(t) - 7)) AS i
        |  FROM toks),
        |gstr AS (
        |  SELECT doc_id, lang, source,
        |    array_to_string(t[i:i + 7], ' ') AS g
        |  FROM idx),
        |grams AS (
        |  SELECT doc_id, lang, source,
        |    $hash AS gram
        |  FROM gstr),""".stripMargin
    } + "\n" +
      """gc AS (SELECT gram, COUNT(*) AS gc FROM grams GROUP BY 1),
        |per_doc AS (
        |  SELECT doc_id, lang, source, COUNT(*) AS tot,
        |    SUM(CASE WHEN gc.gc > 1 THEN 1 ELSE 0 END) AS dup
        |  FROM grams JOIN gc USING (gram)
        |  GROUP BY 1, 2, 3)
        |SELECT lang, source, COUNT(*) AS docs,
        |  CAST(SUM(tot) AS BIGINT) AS total_grams,
        |  CAST(SUM(dup) AS BIGINT) AS dup_grams,
        |  CAST(SUM(dup) AS DOUBLE) / SUM(tot) AS dup_fraction,
        |  CAST(SUM(CASE WHEN dup * 2 > tot THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_over_half
        |FROM per_doc GROUP BY 1, 2""".stripMargin),
    "q115_train_val_split" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
        |  THEN 'val' ELSE 'train' END AS split,
        |  lang, COUNT(*) AS docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q133_span_dedup" -> ({
      val hash = OracleHash.polySql("g")
      s"""WITH toks AS (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS t
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, len(t) - 7)) AS i
        |  FROM toks),
        |gstr AS (
        |  SELECT doc_id, i, array_to_string(t[i:i + 7], ' ') AS g
        |  FROM idx),
        |grams AS (
        |  SELECT doc_id, i, $hash AS gh
        |  FROM gstr),""".stripMargin
    } + "\n" +
      """marked AS (
        |  SELECT doc_id, i,
        |    ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, i) AS rn,
        |    COUNT(*) OVER (PARTITION BY gh) AS gc
        |  FROM grams),
        |cov AS (
        |  SELECT DISTINCT doc_id, unnest(generate_series(i, i + 7)) AS p
        |  FROM marked WHERE gc > 1 AND rn > 1),
        |words AS (
        |  SELECT doc_id, j, t[j] AS w
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS j
        |        FROM toks)),
        |kept AS (
        |  SELECT w.doc_id, w.j, w.w
        |  FROM words w LEFT JOIN cov c ON c.doc_id = w.doc_id AND c.p = w.j
        |  WHERE c.p IS NULL),
        |rebuilt AS (
        |  SELECT doc_id,
        |    COALESCE(array_to_string(list(w ORDER BY j), ' '), '')
        |      AS clean_text
        |  FROM kept GROUP BY doc_id),
        |ncov AS (SELECT doc_id, COUNT(*) AS removed FROM cov GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.source,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(n.removed, 0) AS BIGINT) AS removed_tokens,
        |  COALESCE(r.clean_text, '') AS clean_text
        |FROM documents d
        |LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
        |LEFT JOIN ncov n ON n.doc_id = d.doc_id""".stripMargin))
}
