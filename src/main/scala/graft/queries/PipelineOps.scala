package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import graft.functions.VecOps.{vec_dot, vec_norm}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw ingest and tokenization: benchmark decontamination
  * (n-gram overlap against a held-out evaluation set), rule-based
  * quality filtering (after the Gopher rules, Rae et al. 2021), and
  * cluster-local semantic dedup over embeddings (after SemDeDup, Abbas
  * et al. 2023). Reference scope: extends the dedup/quality family
  * (TextOps/Advanced) the same way the reference's DWD layer extends
  * its ingest jobs — filter/annotate before the expensive downstream.
  *
  * Exactness: every oracle-matched column is integer arithmetic or a
  * single final IEEE division — the Gopher bounds are compared in
  * integer form (3·n ≤ Σlen ≤ 10·n, 5·topf ≤ n), never as a
  * double-vs-double threshold, so the pass/fail booleans are
  * bit-exact in any engine at any parallelism.
  */
object PipelineOps {

  private val N = 8 // n-gram width shared with RankingOps.dupNgramStats

  /** 8-gram explode, one row per token window. Gram identity is the
    * native [[graft.functions.GramHashes]] modular polynomial (8-byte
    * long, computed in one pass over the text — no gram strings built
    * or shuffled; see q113's scaladoc for the measured rationale). The
    * gram joins below compare hashes on BOTH sides, and the oracles
    * state the identical hash, so oracle equality is unaffected;
    * overlap semantics differ from verbatim-string overlap only on
    * polynomial collisions (≈ |bench|·|train|/P — about 1e-9 here). */
  private def grams(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.GramOps.gram_hashes(col("text"), N)).as("gram"))
  }

  /** Benchmark membership: deterministic md5 split on the stable doc_id
    * (same device as q115's train/val split) — first hex char < '2'
    * ⇒ the doc stands in for a held-out evaluation set (2/16 = 12.5%). */
  private def isBenchmark: Column =
    substring(md5(col("doc_id").cast("string")), 1, 1) < "2"

  /** q116: benchmark decontamination — which training documents share
    * any 8-gram with the held-out benchmark set (verbatim-overlap
    * contamination, the check run before any benchmark number is
    * trusted). Shape: distinct benchmark grams (one shuffle), then a
    * LEFT SEMI join from the training (doc_id, gram) pairs — a semi
    * join emits at most its left row count, so a boilerplate gram
    * shared by the whole corpus cannot blow up the join output the way
    * a pair join would; no df cap is needed. One distinct on doc_id,
    * then a per-language rollup joined to per-language totals. */
  def decontamination(s: SparkSession, d: String): DataFrame = {
    // the two consumers of `g` split it on DISJOINT halves (bench vs
    // train), so re-evaluation costs one extra pruned scan — cheaper at
    // any scale than materializing the full gram explosion (~8× the
    // token volume) the way localCheckpoint would
    val g = grams(s, d).withColumn("bench", isBenchmark)
    val benchGrams = g.filter(col("bench")).select("gram").distinct()
    val contaminated = g.filter(!col("bench"))
      .select(col("doc_id"), col("lang"), col("gram"))
      .join(benchGrams, Seq("gram"), "left_semi")
      .select("doc_id", "lang").distinct()
      .groupBy("lang").agg(count(lit(1)).as("contaminated_docs"))
    val totals = Tables.documents(s, d)
      .filter(!isBenchmark)
      .groupBy("lang").agg(count(lit(1)).as("train_docs"))
    totals.join(contaminated, Seq("lang"), "left")
      .select(col("lang"), col("train_docs"),
        coalesce(col("contaminated_docs"), lit(0L)).as("contaminated_docs"),
        (coalesce(col("contaminated_docs"), lit(0L)).cast("double") /
          col("train_docs")).as("contamination_frac"))
  }

  private[queries] val Stopwords =
    Seq("the", "of", "and", "to", "in", "is", "a", "that", "it", "on")

  /** q117: rule-based quality filter after the Gopher rules (Rae et
    * al. 2021, Appendix A1), adapted to integer-exact form:
    * (1) token count in [20, 1000]; (2) mean word length in [3, 10],
    * compared as 3·n ≤ Σlen ≤ 10·n with Σlen = chars minus spaces —
    * no division; (3) the most frequent word covers ≤ 20% of tokens
    * (5·topf ≤ n — the single-token form of Gopher's repetition
    * class); (4) ≥ 2 distinct words from a 10-entry stop list (the
    * "stop word" rule — a proxy for natural running text). Shape: one
    * explode + two map-side-combinable aggregations for per-doc
    * top-frequency and stop-word counts, one final rollup — linear,
    * no pairs, no caps needed at 100 TB.
    *
    * Corpus note: on the synthetic testdata the word-length rule is
    * non-binding (every doc's mean word length sits in [3, 10];
    * pass_word_len == docs in each row), while the count, repetition
    * and stop-word rules each reject real fractions —
    * PipelineOpsSpec's discrimination test guards the conjunction,
    * not any single rule. */
  def gopherQuality(s: SparkSession, d: String): DataFrame =
    gopherFlags(s, d).groupBy("lang", "source")
      .agg(count(lit(1)).as("docs"),
        sum(col("ok_count").cast("long")).as("pass_count"),
        sum(col("ok_word_len").cast("long")).as("pass_word_len"),
        sum(col("ok_repetition").cast("long")).as("pass_repetition"),
        sum(col("ok_stopwords").cast("long")).as("pass_stopwords"),
        sum(when(col("ok_count") && col("ok_word_len") &&
          col("ok_repetition") && col("ok_stopwords"), 1L).otherwise(0L))
          .as("pass_all"))

  /** q118: SemDeDup — cluster-local semantic dedup over embeddings
    * (Abbas et al. 2023): coarse-cluster every vector, and inside each
    * cluster drop any vector whose cosine to a LOWER-id cluster-mate
    * is ≥ τ (keep-lowest-id; deterministic, order-free). The cluster
    * key is two-level — the K=8 IVF cell (argmax centroid dot, same
    * quantizer as q38) × the sign bits of the first 4 LSH hyperplanes
    * (same planes as q34) — ≤ 128 clusters here; at 100 TB the paper's
    * posture is that cluster COUNT grows with the corpus (they use
    * 110k k-means cells, trainable via q93's Lloyd's step) so
    * within-cluster pair volume stays bounded — the same
    * bounded-bucket argument as the df-capped text chains, with the
    * quantizer depth as the knob. Unlike q114 (global connected
    * components), the drop rule is cluster-LOCAL and exists-based: a
    * chain a~b~c with a≁c still drops c (its neighbor b has a lower
    * id, dropped or not) — the paper's "keep one per duplicate group"
    * semantics, not transitive-closure semantics.
    *
    * Shape: quantize once per vector (one projection), self equi-join
    * on the cluster key with id ordering, exact normalized dot as the
    * verifier, distinct on the dropped id — one shuffle for the join,
    * one for the distinct, no BNLJ (PlanShapeSpec-asserted).
    *
    * The quantizer lives in [[semClusters]]: (vec_id, label, cluster,
    * ne), materialized once (localCheckpoint) because the pair join
    * consumes it on both legs. */
  private[queries] def semClusters(s: SparkSession, d: String): DataFrame = {
    val cellDots = (0 until 8).map(c =>
      vec_dot(col("embedding"), typedlit(SimHashIvf.Centroids(c).toSeq)))
    val g = greatest(cellDots: _*)
    val cell = (0 until 8).foldRight(lit(-1)) { (c, acc) =>
      when(cellDots(c) === g, lit(c)).otherwise(acc)
    }
    val planes = VectorOps.planeCoeffs(4, 64)
    val signBits = planes.map { coeffs =>
      when(vec_dot(col("embedding"), typedlit(coeffs.toSeq)) >= 0, "1")
        .otherwise("0")
    }
    val nrm = vec_norm(col("embedding"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        concat_ws(":", cell.cast("string"), concat(signBits.toIndexedSeq: _*))
          .as("cluster"),
        transform(col("embedding"), x => x.cast("double") / nrm).as("ne"))
      .stable()
  }

  def semDedup(s: SparkSession, d: String, thr: Double = 0.45): DataFrame = {
    val clustered = semClusters(s, d)
    val a = clustered.select(col("cluster"), col("vec_id").as("vec_a"),
      col("ne").as("na"))
    val b = clustered.select(col("cluster"), col("vec_id").as("vec_b"),
      col("ne").as("nb"))
    val drops = a.join(b, Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(vec_dot(col("na"), col("nb")) >= thr)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    clustered.join(drops, Seq("vec_id"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("dropped").isNull, 1L).otherwise(0L)).as("n_kept"),
        count_distinct(col("cluster")).as("n_clusters"))
  }

  /** Per-doc rule flags — the shared pre-aggregation stage of q117's
    * rollup and the q119/q120 consumers. One explode + two
    * map-side-combinable aggregations; linear. */
  private[queries] def gopherFlags(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        size(toks).cast("long").as("n_tok"),
        length(translate(col("text"), " ", "")).cast("long").as("sum_len"))
    val perWord = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("f"))
    val stats = perWord.groupBy("doc_id")
      .agg(max(col("f")).as("top_f"),
        count_distinct(when(col("word").isInCollection(Stopwords), col("word")))
          .as("n_stop"))
    base.join(stats, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
        col("n_tok").between(20L, 1000L).as("ok_count"),
        (col("sum_len") >= col("n_tok") * 3 &&
          col("sum_len") <= col("n_tok") * 10).as("ok_word_len"),
        (col("top_f") * 5 <= col("n_tok")).as("ok_repetition"),
        (col("n_stop") >= 2).as("ok_stopwords"))
  }

  /** q119: the end-to-end curation chain — the corpus a training run
    * would actually read. A training doc is KEPT iff it (a) passes all
    * four Gopher rules, (b) shares no 8-gram with the held-out
    * benchmark split (q116's semi join, inverted to an anti join), and
    * (c) is the exact-dedup representative of its text (min doc_id per
    * md5(text), q24's rule). Per (lang, source): docs in, docs kept,
    * whitespace tokens kept. Composition stays linear: one anti join
    * on gram (bounded like the semi join), one dedup shuffle, one
    * rollup — the near-dup stage is deliberately NOT chained here
    * because its cluster policy is corpus-dependent (q57/q110/q114/
    * q118 cover the variants). */
  def curatedCorpus(s: SparkSession, d: String): DataFrame =
    curationGates(s, d).groupBy("lang", "source")
      .agg(count(lit(1)).as("docs_in"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("docs_kept"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("tokens_kept"))

  /** Doc-level frame behind q119/q144: one row per non-benchmark doc
    * with the three rule gates resolved into `keep`. */
  private[queries] def curationGates(s: SparkSession, d: String): DataFrame = {
    val flags = gopherFlags(s, d)
      .filter(!isBenchmark)
      .withColumn("ok_rules",
        col("ok_count") && col("ok_word_len") &&
          col("ok_repetition") && col("ok_stopwords"))
    val g = grams(s, d).withColumn("bench", isBenchmark)
    val benchGrams = g.filter(col("bench")).select("gram").distinct()
    // doc-level contamination is an EXISTS over grams — the semi join
    // (q116's shape); docs with < 8 tokens have no grams and are clean
    val contaminated = g.filter(!col("bench"))
      .select("doc_id", "gram")
      .join(benchGrams, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
    val reps = Tables.documents(s, d)
      .filter(!isBenchmark)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    flags
      .join(contaminated.withColumn("contaminated", lit(true)),
        Seq("doc_id"), "left")
      .join(reps.withColumn("is_rep", lit(true)), Seq("doc_id"), "left")
      .withColumn("keep",
        col("ok_rules") && col("contaminated").isNull && col("is_rep").isNotNull)
  }

  /** q144: q119's curation chain with the q143 LEARNED quality gate
    * composed in as a fourth condition — FineWeb's actual pipeline
    * shape (filter by a learned classifier distilled from heuristic
    * teachers, THEN dedup/decontaminate). The classifier trains on the
    * whole corpus's weak labels (q143's posture — the teacher is the
    * LM tertile, label leakage into the benchmark split is irrelevant
    * because the student never sees benchmark text at apply time:
    * benchmark docs are already excluded by the gates frame). Output
    * adds `docs_kept_rules` (the q119 number) next to `docs_kept`
    * (rules ∧ classifier) so the gate's marginal effect is visible per
    * (lang, source). Rows-only by design: the sigmoid is
    * IEEE-transcendental (q143's posture); PipelineOpsSpec pins the
    * membership change on a controlled fixture.
    *
    * Scale: one doc-scale localCheckpoint (feats — q143's audited
    * trade), ≤8 bounded training passes, then a doc_id equi-join of
    * two doc-scale frames; everything else is q119's audited plan. */
  def curatedCorpusLearned(s: SparkSession, d: String): DataFrame = {
    val feats = LmOps.docFeatures(s, d).stable() // train + apply
    val w = LmOps.qualityLrTrain(feats)
    val scored = feats.select(col("doc_id"),
      expr(LmOps.scoreExpr(w)).as("p"))
    curationGates(s, d)
      .join(scored, Seq("doc_id"), "left")
      // docs out of LM scope (< 2 words) have no score; they fail
      // ok_count long before this gate, so the false default is inert
      .withColumn("clf_keep", coalesce(col("p") >= 0.5, lit(false)))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("docs_in"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("docs_kept_rules"),
        sum(when(col("keep") && col("clf_keep"), 1L).otherwise(0L))
          .as("docs_kept"),
        sum(when(col("keep") && col("clf_keep"), col("n_tok")).otherwise(0L))
          .as("tokens_kept"))
  }

  /** q120: quality-weighted deterministic sampling — keep high-quality
    * documents at a higher rate than low-quality ones (the
    * quality-bucket resampling step of a curation pipeline), with the
    * SAME reproducibility device as q115: the keep decision hashes the
    * stable doc_id (salted so it is independent of the q115 split),
    * compared against a per-bucket hex threshold — engine-exact, no
    * RNG, stable under corpus growth and repartitioning. Buckets =
    * number of Gopher rules passed (0–4); rates 2/16, 4/16, 8/16,
    * 12/16, 16/16. */
  def qualitySampling(s: SparkSession, d: String): DataFrame = {
    val nRules = Seq("ok_count", "ok_word_len", "ok_repetition", "ok_stopwords")
      .map(c => col(c).cast("int")).reduce(_ + _)
    // per-bucket hex-char upper bounds: rates 2/16, 4/16, 8/16, 12/16,
    // 16/16 ('g' sorts above every hex char ⇒ keep all)
    val thr = when(col("n_rules") === 0, "2").when(col("n_rules") === 1, "4")
      .when(col("n_rules") === 2, "8").when(col("n_rules") === 3, "c")
      .otherwise("g")
    gopherFlags(s, d)
      .withColumn("n_rules", nRules)
      .withColumn("keep",
        substring(md5(concat(col("doc_id").cast("string"), lit(":samp"))), 1, 1)
          < thr)
      .groupBy("n_rules")
      .agg(count(lit(1)).as("docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("docs_kept"))
  }

  /** q154: the dataset card — one row per (source, lang) with the
    * volume / duplication / diversity / length statistics a corpus
    * release publishes (the "datasheet" table every training-data
    * drop ships). All stats are integer-form (counts, ppm ratios via
    * integer div) so the card is bit-identical across engines:
    *  - n_docs, n_chars, n_ws_tokens — volume
    *  - n_distinct_texts, exact_dup_ppm — exact-hash duplication rate
    *  - mean_diversity_ppm — mean per-doc distinct-token ratio
    *  - p50_len — median doc length from a group-local sort of doc
    *    lengths (groups are (source, lang) — bounded cardinality, and
    *    the aggregated length LIST per group is doc-count-bounded;
    *    at 100 TB swap in the q122-style GK sketch if group member
    *    lists outgrow executors — documented trade, exactness chosen
    *    here because the oracle must match bit-for-bit).
    *
    * One words-scan aggregate + one doc-level aggregate, both
    * map-side combinable; the card itself is tiny. */
  def corpusReport(s: SparkSession, d: String): DataFrame = {
    val perDoc = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), md5(col("text")).as("h"),
        split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("h"), size(col("ws")).cast("long").as("n_tok"),
        size(array_distinct(col("ws"))).cast("long").as("n_dis"))
    perDoc
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_tok")).as("n_ws_tokens"),
        countDistinct(col("h")).as("n_distinct_texts"),
        expr("sum((n_dis * 1000000L) div n_tok) div count(1)")
          .as("mean_diversity_ppm"),
        expr("CAST(sort_array(collect_list(n_chars))" +
          "[CAST((count(1) + 1) div 2 AS INT) - 1] AS BIGINT)").as("p50_len"))
      .withColumn("exact_dup_ppm",
        expr("((n_docs - n_distinct_texts) * 1000000L) div n_docs"))
      .select("source", "lang", "n_docs", "n_chars", "n_ws_tokens",
        "n_distinct_texts", "exact_dup_ppm", "mean_diversity_ppm", "p50_len")
  }

  /** q281: curation-gate attribution — which gate kills which docs.
    * Every non-benchmark doc gets a 3-bit failure mask (4 = Gopher
    * rules, 2 = contamination, 1 = duplicate); the census over masks
    * is the full inclusion–exclusion table of the q119 pipeline: the
    * singleton masks are docs only ONE gate catches (what you'd lose
    * by dropping that gate), the combined masks are redundant kills,
    * mask 0 is the kept set. Token counts ride along so the cost is
    * in tokens too, the unit that matters for a training corpus. */
  def gateAttribution(s: SparkSession, d: String): DataFrame =
    curationGates(s, d).select(
      (when(!col("ok_rules"), 4L).otherwise(0L) +
        when(col("contaminated").isNotNull, 2L).otherwise(0L) +
        when(col("is_rep").isNull, 1L).otherwise(0L)).as("fail_mask"),
      col("n_tok"))
      .groupBy(col("fail_mask"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("fail_mask"))

  /** q339: scorer-agreement audit — the Gopher rule verdict (q117's
    * conjunction) against the CCNet LM verdict (q140's tertile,
    * head/middle = keep) on the shared per-doc scope, as a 2×2
    * confusion census with exact integer agreement (ppm) and Cohen's
    * κ (milli, cross-multiplied — NULL when a scorer is constant and
    * κ is undefined, the q70 guarded-division rule). The standard
    * "do my filters even agree" readout run before stacking gates;
    * both inputs are independently oracle-verified, the compare
    * re-runs the whole composition in both engines. */
  def scorerAgreement(s: SparkSession, d: String): DataFrame = {
    val rules = gopherFlags(s, d).select(col("doc_id"),
      (col("ok_count") && col("ok_word_len") && col("ok_repetition") &&
        col("ok_stopwords")).as("keep_rules"))
    val lm = LmOps.lmPerplexityBuckets(s, d)
      .select(col("doc_id"), (col("bucket") =!= "tail").as("keep_lm"))
    rules.join(lm, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("keep_rules") && col("keep_lm"), 1L).otherwise(0L))
          .as("n11"),
        sum(when(col("keep_rules") && !col("keep_lm"), 1L).otherwise(0L))
          .as("n10"),
        sum(when(!col("keep_rules") && col("keep_lm"), 1L).otherwise(0L))
          .as("n01"),
        sum(when(!col("keep_rules") && !col("keep_lm"), 1L).otherwise(0L))
          .as("n00"))
      .withColumn("agree_ppm", expr("(n11 + n00) * 1000000 div n"))
      .withColumn("kappa_milli", expr(
        """CASE WHEN n * n =
          |    (n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)
          |  THEN NULL
          |  ELSE (n * (n11 + n00)
          |      - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)))
          |    * 1000
          |    div (n * n
          |      - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)))
          |  END""".stripMargin))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q339_scorer_agreement" -> scorerAgreement,
    "q281_gate_attribution" -> gateAttribution,
    "q116_decontamination" -> decontamination,
    "q117_gopher_quality" -> gopherQuality,
    "q118_semdedup" -> ((s, d) => semDedup(s, d)),
    "q119_curated_corpus" -> curatedCorpus,
    "q120_quality_sampling" -> qualitySampling,
    "q144_curated_learned" -> curatedCorpusLearned,
    "q154_corpus_report" -> corpusReport)

  // ---- DuckDB oracle twins ----

  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private def duckNormSq(a: String): String =
    s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  private val gramsCte =
    s"""grams AS (
      |  SELECT doc_id, lang,
      |    ${OracleHash.polySql("g")} AS gram
      |  FROM (
      |    SELECT doc_id, lang, array_to_string(t[i:i + 7], ' ') AS g
      |    FROM (
      |      SELECT doc_id, lang, t, unnest(generate_series(1, len(t) - 7)) AS i
      |      FROM (SELECT doc_id, lang, string_split(text, ' ') AS t
      |            FROM documents))))""".stripMargin

  /** The q339 per-doc Gopher-flag CTE chain (base/pw/stats/flg,
    * ending in `flg(doc_id, keep_rules)`) for oracle composition —
    * q344's Fleiss oracle reuses it verbatim. */
  private[queries] val gopherFlagCtes: String = {
    val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""base AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tok,
       |    len(replace(text, ' ', '')) AS sum_len
       |  FROM documents),
       |pw AS (
       |  SELECT doc_id, word, COUNT(*) AS f FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |    FROM documents)
       |  GROUP BY 1, 2),
       |stats AS (
       |  SELECT doc_id, MAX(f) AS top_f,
       |    COUNT(DISTINCT CASE WHEN word IN ($stopList) THEN word END)
       |      AS n_stop
       |  FROM pw GROUP BY 1),
       |flg AS (
       |  SELECT doc_id,
       |    ((n_tok BETWEEN 20 AND 1000)
       |      AND sum_len >= n_tok * 3 AND sum_len <= n_tok * 10
       |      AND top_f * 5 <= n_tok AND n_stop >= 2) AS keep_rules
       |  FROM base JOIN stats USING (doc_id))""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q339_scorer_agreement" -> {
      s"""${LmOps.lmDocCte},
         |$gopherFlagCtes,
         |j AS (
         |  SELECT f.keep_rules, (lm.bucket <> 'tail') AS keep_lm
         |  FROM flg f JOIN lm ON f.doc_id = lm.doc_id),
         |mm AS (
         |  SELECT COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN keep_rules AND keep_lm THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n11,
         |    CAST(SUM(CASE WHEN keep_rules AND NOT keep_lm THEN 1 ELSE 0
         |      END) AS BIGINT) AS n10,
         |    CAST(SUM(CASE WHEN NOT keep_rules AND keep_lm THEN 1 ELSE 0
         |      END) AS BIGINT) AS n01,
         |    CAST(SUM(CASE WHEN NOT keep_rules AND NOT keep_lm THEN 1
         |      ELSE 0 END) AS BIGINT) AS n00
         |  FROM j)
         |SELECT n, n11, n10, n01, n00,
         |  CAST((n11 + n00) * 1000000 // n AS BIGINT) AS agree_ppm,
         |  CAST(CASE WHEN n * n =
         |      (n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)
         |    THEN NULL
         |    ELSE (n * (n11 + n00)
         |        - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)))
         |      * 1000
         |      // (n * n
         |        - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)))
         |    END AS BIGINT) AS kappa_milli
         |FROM mm""".stripMargin
    },
    "q281_gate_attribution" -> {
      val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH $gramsCte,
         |bench_grams AS (
         |  SELECT DISTINCT gram FROM grams
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM grams
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '2'
         |    AND gram IN (SELECT gram FROM bench_grams)),
         |base AS (
         |  SELECT doc_id, lang, source,
         |    len(string_split(text, ' ')) AS n_tok,
         |    len(replace(text, ' ', '')) AS sum_len
         |  FROM documents
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '2'),
         |pw AS (
         |  SELECT doc_id, word, COUNT(*) AS f FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents)
         |  GROUP BY 1, 2),
         |stats AS (
         |  SELECT doc_id, MAX(f) AS top_f,
         |    COUNT(DISTINCT CASE WHEN word IN ($stopList) THEN word END)
         |      AS n_stop
         |  FROM pw GROUP BY 1),
         |reps AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '2'
         |  GROUP BY md5(text)),
         |flags AS (
         |  SELECT b.doc_id, b.n_tok,
         |    NOT ((b.n_tok BETWEEN 20 AND 1000)
         |      AND b.sum_len >= b.n_tok * 3 AND b.sum_len <= b.n_tok * 10
         |      AND s.top_f * 5 <= b.n_tok AND s.n_stop >= 2) AS f_rules,
         |    b.doc_id IN (SELECT doc_id FROM contaminated) AS f_contam,
         |    b.doc_id NOT IN (SELECT doc_id FROM reps) AS f_dup
         |  FROM base b JOIN stats s USING (doc_id))
         |SELECT CAST(CASE WHEN f_rules THEN 4 ELSE 0 END
         |    + CASE WHEN f_contam THEN 2 ELSE 0 END
         |    + CASE WHEN f_dup THEN 1 ELSE 0 END AS BIGINT) AS fail_mask,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |FROM flags GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q116_decontamination" ->
      s"""WITH $gramsCte,
         |bench_grams AS (
         |  SELECT DISTINCT gram FROM grams
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'),
         |contaminated AS (
         |  SELECT lang, COUNT(*) AS contaminated_docs FROM (
         |    SELECT DISTINCT doc_id, lang FROM grams
         |    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '2'
         |      AND gram IN (SELECT gram FROM bench_grams))
         |  GROUP BY lang),
         |totals AS (
         |  SELECT lang, COUNT(*) AS train_docs FROM documents
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '2'
         |  GROUP BY lang)
         |SELECT t.lang, t.train_docs,
         |  COALESCE(c.contaminated_docs, 0) AS contaminated_docs,
         |  CAST(COALESCE(c.contaminated_docs, 0) AS DOUBLE) / t.train_docs
         |    AS contamination_frac
         |FROM totals t LEFT JOIN contaminated c USING (lang)""".stripMargin,
    "q117_gopher_quality" -> {
      val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, lang, source,
         |    len(string_split(text, ' ')) AS n_tok,
         |    len(replace(text, ' ', '')) AS sum_len
         |  FROM documents),
         |pw AS (
         |  SELECT doc_id, word, COUNT(*) AS f FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents)
         |  GROUP BY 1, 2),
         |stats AS (
         |  SELECT doc_id, MAX(f) AS top_f,
         |    COUNT(DISTINCT CASE WHEN word IN ($stopList) THEN word END)
         |      AS n_stop
         |  FROM pw GROUP BY 1),
         |flagged AS (
         |  SELECT lang, source,
         |    (n_tok BETWEEN 20 AND 1000) AS ok_count,
         |    (sum_len >= n_tok * 3 AND sum_len <= n_tok * 10) AS ok_word_len,
         |    (top_f * 5 <= n_tok) AS ok_repetition,
         |    (n_stop >= 2) AS ok_stopwords
         |  FROM base JOIN stats USING (doc_id))
         |SELECT lang, source, COUNT(*) AS docs,
         |  CAST(SUM(CASE WHEN ok_count THEN 1 ELSE 0 END) AS BIGINT) AS pass_count,
         |  CAST(SUM(CASE WHEN ok_word_len THEN 1 ELSE 0 END) AS BIGINT) AS pass_word_len,
         |  CAST(SUM(CASE WHEN ok_repetition THEN 1 ELSE 0 END) AS BIGINT) AS pass_repetition,
         |  CAST(SUM(CASE WHEN ok_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopwords,
         |  CAST(SUM(CASE WHEN ok_count AND ok_word_len AND ok_repetition
         |    AND ok_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
         |FROM flagged GROUP BY 1, 2""".stripMargin
    },
    "q119_curated_corpus" -> {
      val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH $gramsCte,
         |bench_grams AS (
         |  SELECT DISTINCT gram FROM grams
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM grams
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '2'
         |    AND gram IN (SELECT gram FROM bench_grams)),
         |base AS (
         |  SELECT doc_id, lang, source,
         |    len(string_split(text, ' ')) AS n_tok,
         |    len(replace(text, ' ', '')) AS sum_len
         |  FROM documents
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '2'),
         |pw AS (
         |  SELECT doc_id, word, COUNT(*) AS f FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents)
         |  GROUP BY 1, 2),
         |stats AS (
         |  SELECT doc_id, MAX(f) AS top_f,
         |    COUNT(DISTINCT CASE WHEN word IN ($stopList) THEN word END)
         |      AS n_stop
         |  FROM pw GROUP BY 1),
         |reps AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '2'
         |  GROUP BY md5(text)),
         |kept AS (
         |  SELECT b.lang, b.source, b.n_tok,
         |    ((b.n_tok BETWEEN 20 AND 1000)
         |      AND b.sum_len >= b.n_tok * 3 AND b.sum_len <= b.n_tok * 10
         |      AND s.top_f * 5 <= b.n_tok AND s.n_stop >= 2
         |      AND b.doc_id NOT IN (SELECT doc_id FROM contaminated)
         |      AND b.doc_id IN (SELECT doc_id FROM reps)) AS keep
         |  FROM base b JOIN stats s USING (doc_id))
         |SELECT lang, source, COUNT(*) AS docs_in,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
         |  CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tokens_kept
         |FROM kept GROUP BY 1, 2""".stripMargin
    },
    "q120_quality_sampling" -> {
      val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id,
         |    len(string_split(text, ' ')) AS n_tok,
         |    len(replace(text, ' ', '')) AS sum_len
         |  FROM documents),
         |pw AS (
         |  SELECT doc_id, word, COUNT(*) AS f FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents)
         |  GROUP BY 1, 2),
         |stats AS (
         |  SELECT doc_id, MAX(f) AS top_f,
         |    COUNT(DISTINCT CASE WHEN word IN ($stopList) THEN word END)
         |      AS n_stop
         |  FROM pw GROUP BY 1),
         |flags AS (
         |  SELECT b.doc_id,
         |    CAST(b.n_tok BETWEEN 20 AND 1000 AS INTEGER)
         |      + CAST(b.sum_len >= b.n_tok * 3 AND b.sum_len <= b.n_tok * 10
         |          AS INTEGER)
         |      + CAST(s.top_f * 5 <= b.n_tok AS INTEGER)
         |      + CAST(s.n_stop >= 2 AS INTEGER) AS n_rules
         |  FROM base b JOIN stats s USING (doc_id)),
         |dec AS (
         |  SELECT n_rules,
         |    (substr(md5(CAST(doc_id AS VARCHAR) || ':samp'), 1, 1) <
         |      CASE n_rules WHEN 0 THEN '2' WHEN 1 THEN '4' WHEN 2 THEN '8'
         |        WHEN 3 THEN 'c' ELSE 'g' END) AS keep
         |  FROM flags)
         |SELECT n_rules, COUNT(*) AS docs,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept
         |FROM dec GROUP BY 1""".stripMargin
    },
    "q118_semdedup" -> {
      val centroidLit = (c: Int) =>
        SimHashIvf.Centroids(c).map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
      val dots = (0 until 8).map(c => duckDot("embedding", centroidLit(c)))
      val g = s"greatest(${dots.mkString(", ")})"
      val cellExpr = (0 until 8).foldRight("-1") { (c, acc) =>
        s"CASE WHEN ${dots(c)} = $g THEN $c ELSE $acc END"
      }
      val planes = VectorOps.planeCoeffs(4, 64)
      val bitExprs = (0 until 4).map { p =>
        val lit = planes(p).map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"CASE WHEN ${duckDot("embedding", lit)} >= 0 THEN '1' ELSE '0' END"
      }.mkString(" || ")
      s"""WITH clustered AS (
         |  SELECT vec_id, label,
         |    CAST($cellExpr AS VARCHAR) || ':' || ($bitExprs) AS cluster,
         |    list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) / sqrt(${duckNormSq("embedding")})) AS ne
         |  FROM embeddings),
         |drops AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM clustered a JOIN clustered b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${duckDot("a.ne", "b.ne")} >= 0.45)
         |SELECT label, COUNT(*) AS n_vecs,
         |  CAST(SUM(CASE WHEN vec_id IN (SELECT vec_id FROM drops)
         |    THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
         |  COUNT(DISTINCT cluster) AS n_clusters
         |FROM clustered GROUP BY label""".stripMargin
    },
    "q154_corpus_report" ->
      """WITH pd AS (
        |  SELECT doc_id, source, lang, n_chars, md5(text) AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS n_dis
        |  FROM documents)
        |SELECT source, lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_ws_tokens,
        |  COUNT(DISTINCT h) AS n_distinct_texts,
        |  ((COUNT(*) - COUNT(DISTINCT h)) * 1000000) // COUNT(*)
        |    AS exact_dup_ppm,
        |  CAST(SUM((n_dis * 1000000) // n_tok) AS BIGINT) // COUNT(*)
        |    AS mean_diversity_ppm,
        |  CAST((list_sort(list(n_chars)))[(COUNT(*) + 1) // 2] AS BIGINT)
        |    AS p50_len
        |FROM pd GROUP BY source, lang""".stripMargin)
}
