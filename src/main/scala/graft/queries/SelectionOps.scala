package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import graft.functions.GramOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Targeted data selection — the "which raw docs look like my curated
  * target domain" stage of a training-data pipeline, plus distributed
  * tokenizer training (BPE merges).
  *
  *  - q134: DSIR-style importance selection (Xie et al. 2023, "Data
  *    Selection for Language Models via Importance Resampling"):
  *    hashed-bigram bag-of-features, smoothed target/raw histograms,
  *    rank raw docs by how much target-like mass their features carry.
  *    DSIR proper ranks by the sum of per-feature LOG likelihood
  *    ratios; logs are libm-dependent (JVM `Math.log` vs DuckDB's
  *    `std::log` can differ in the last ulp), so the emitted score is
  *    the integer-exact linear-space surrogate: per-occurrence SUMS of
  *    smoothed target / raw bucket counts and their fixed-point ratio
  *    `ratio_ppm = (tgt_ip · 10⁶) div raw_ip`. Rankings agree except
  *    between docs whose feature mass is spread pathologically (the
  *    arithmetic-vs-geometric mean gap); SelectionOpsSpec re-derives
  *    every score independently and pins the ordering contract.
  *  - q135: the counting kernel of BPE tokenizer training — weighted
  *    adjacent-symbol-pair counts over the corpus VOCABULARY (word →
  *    frequency first, then explode only distinct words). The q65
  *    lesson applied to tokenization: pair-explode cost scales with
  *    the vocabulary, never the corpus.
  *  - [[bpeTrain]]: the full merge loop (not SQL-expressible — same
  *    driver-loop posture as kmeansTrain). Phase 1, the corpus-scale
  *    word count, is distributed; the merge iterations run on the
  *    collected vocabulary, which is how production BPE trainers work
  *    (the vocab is orders of magnitude smaller than the corpus at any
  *    scale — 100 TB of text still yields ≤ a few million distinct
  *    words after frequency pruning).
  *
  * Scale notes (100 TB): the q134 histograms are B=64 rows each —
  * broadcast; the per-occurrence stream partial-aggregates to one row
  * per doc before its only shuffle; selection is TakeOrderedAndProject
  * (per-partition heaps, no global sort). Ref for the selection stage
  * this replaces: the reference filters training corpora with per-doc
  * quality scores (see gmall's dws quality tables); DSIR is the
  * published scale-path generalization.
  */
object SelectionOps {

  private val B = 64 // hashed-feature buckets (DSIR uses 10⁴; 64 keeps
                     // every bucket populated at sf0.001)
  private val TargetSrc = "src0" // the curated "target domain" sample
  private val SelK = 20

  // ---- q134 DSIR-style importance selection ----

  /** doc_id, source, hashed-bigram bucket — one row per bigram
    * OCCURRENCE. The polynomial window hash is the native codegen'd
    * [[graft.functions.GramHashes]] loop; its value is in [0, P), so
    * plain `% B` is already non-negative in both engines. */
  private def feats(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(GramOps.gram_hashes(col("text"), 2)).as("h"))
      .withColumn("b", col("h") % B)
  }

  /** Top-`SelK` raw docs by target-likeness. Smoothing is +1 on both
    * histograms (a bucket unseen in the target still scores 1, never
    * 0 — the Laplace part of DSIR). `raw_ip` ≥ 2·n_feats > 0 because a
    * raw doc's own features are in the raw histogram, so the ratio is
    * always defined. Integer bounds: cnt ≤ total bigrams (~10⁶ at
    * sf0.1), n_feats ≤ doc tokens, so tgt_ip < 2⁴⁰ and
    * tgt_ip · 10⁶ < 2⁶³ with room to spare.
    *
    * SCALE CEILING: tgt_ip ≤ n_feats · (max bucket count + 1), so the
    * ·10⁶ fixed-point product stays below 2⁶³ only while
    * n_feats · max_bucket_cnt < ~9.2·10¹² — comfortably true here
    * (10⁴ · 10⁶), but a 100 TB corpus can push per-bucket counts to
    * ~10¹³ and overflow int64 SILENTLY, corrupting the ratio ordering.
    * At that scale, switch the score to pre-normalized per-bucket
    * averages (sum of cnt_t/(cnt_t+cnt_r) ratios per doc, fixed-point
    * per TERM rather than per sum: each term < 10⁶, so the doc sum is
    * < n_feats·10⁶ < 2⁶³ regardless of corpus size) — the ordering DSIR
    * needs survives the renormalization; the raw-count product does
    * not. */
  def dsirSelect(s: SparkSession, d: String): DataFrame = {
    val f = feats(s, d).stable() // feeds both histograms + scoring
    val tHist = f.filter(col("source") === TargetSrc)
      .groupBy("b").agg(count(lit(1)).as("cnt_t"))
    val rHist = f.filter(col("source") =!= TargetSrc)
      .groupBy("b").agg(count(lit(1)).as("cnt_r"))
    f.filter(col("source") =!= TargetSrc)
      .join(broadcast(tHist), Seq("b"), "left")
      .join(broadcast(rHist), Seq("b"), "left")
      .groupBy("doc_id", "source")
      .agg(
        count(lit(1)).as("n_feats"),
        sum(coalesce(col("cnt_t"), lit(0L)) + 1L).as("tgt_ip"),
        sum(coalesce(col("cnt_r"), lit(0L)) + 1L).as("raw_ip"))
      // `div`, not `/`: integer fixed-point, IEEE-free in both engines
      .withColumn("ratio_ppm", expr("(tgt_ip * 1000000L) div raw_ip"))
      .orderBy(desc("ratio_ppm"), asc("doc_id"))
      .limit(SelK)
  }

  // ---- q135 BPE pair counts ----

  /** Corpus-weighted adjacent character-pair counts — one BPE counting
    * step from the initial (single-character) symbol state. Phase 1
    * reduces the corpus to `(word, cnt)` (map-side combinable, the only
    * corpus-scale pass); phase 2 explodes the 2-char windows of the
    * ≤|vocab| distinct words. Top 15 by (count, pair) is a
    * TakeOrderedAndProject heap. */
  def bpePairCounts(s: SparkSession, d: String): DataFrame =
    TextOps.words(s, d)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(length(col("word")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(word) - 1), j -> substring(word, j, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("pair_count"))
      .orderBy(desc("pair_count"), asc("pair"))
      .limit(15)

  // ---- BPE merge training (driver loop over the collected vocab) ----

  /** Greedy left-to-right application of one merge to a symbol
    * sequence — the standard BPE apply step. */
  private[queries] def applyMerge(
      syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Learn `nMerges` BPE merges from the corpus. The distributed part
    * is the word count; merges iterate over the collected vocabulary
    * (tie-break: highest count, then lexicographic (a, b) — fully
    * deterministic). Returns the merges in learned order. */
  def bpeTrain(s: SparkSession, d: String, nMerges: Int): Seq[(String, String)] =
    bpeTrainFrom(collectVocab(s, d), nMerges)

  /** Hard bound on the vocabulary shipped to the driver for BPE
    * training/encode (VERDICT r12 task 3). SentencePiece-style trainers
    * cap the seed vocab the same way (top-N by frequency); at 100 TB
    * web scale the DISTINCT-word set is itself corpus-scale, so the
    * collect must be bounded by construction, not by assumption. The
    * cut is a `TakeOrderedAndProject` (bounded per-partition heaps +
    * driver merge of ≤cap rows per partition), never a full sort, and
    * the (−cnt, word) ordering keeps it fully deterministic. The cap
    * exceeds every shipped fixture's distinct-word count (31 at every
    * SF — measured, NOTES_r13), so tested-SF results are bit-identical
    * with or without it (SelectionOpsSpec pins this). */
  private[queries] val VocabCap = 65536

  /** One corpus-scale pass: the collected (word, frequency) vocab,
    * bounded to the top-`cap` words by (frequency desc, word). */
  private[queries] def collectVocab(s: SparkSession, d: String,
      cap: Int = VocabCap): Array[(String, Long)] =
    TextOps.words(s, d).groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word")).limit(cap)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  private def bpeTrainFrom(
      vocab0: Array[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    var vocab: Array[(Vector[String], Long)] =
      vocab0.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < nMerges && !done) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, cnt) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + cnt
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val (a, b) = counts.toSeq
          .minBy { case ((x, y), c) => (-c, x, y) }._1
        merges += ((a, b))
        vocab = vocab.map { case (syms, cnt) => (applyMerge(syms, a, b), cnt) }
        m += 1
      }
    }
    merges.result()
  }

  /** Tokenize a word with learned merges (apply in learned order) —
    * the inference side, used by the spec's monotonicity check. */
  private[queries] def bpeTokenize(
      word: String, merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(word.map(_.toString).toVector) {
      case (syms, (a, b)) => applyMerge(syms, a, b)
    }

  // ---- q138 BPE encode (train → apply, corpus-scale) ----

  private val EncodeMerges = 16

  /** Apply `EncodeMerges` learned merges to the whole corpus and report
    * per-source token accounting (chars / whitespace tokens / BPE
    * tokens — the real version of q27's 4-chars-per-token estimate).
    * The corpus pass only counts words; tokenization happens ONCE per
    * distinct word on the driver (|vocab| ≪ |corpus| always) and
    * rejoins as a broadcast map — so the expensive path is two
    * corpus-scale aggregations, no per-occurrence string work.
    *
    * The join is LEFT with a CHAR-LEVEL fallback (`n_tok = word
    * length`) for words beyond the [[VocabCap]] cut — the byte/char
    * fallback every real BPE encoder applies to out-of-vocabulary
    * input. An inner join here would silently drop OOV occurrences
    * from ALL THREE counts once the corpus vocabulary exceeds the cap
    * (code-review r13); with the left join the whitespace/char counts
    * are complete by construction at any scale. Shipped-SF results are
    * unchanged (31-word vocab ≪ cap ⇒ no OOV rows exist).
    *
    * Rows-only: the merge learner is not SQL-expressible (kmeansTrain
    * posture); SelectionOpsSpec proves the per-source counts equal an
    * independent driver-side tokenization of every document, and pins
    * the OOV fallback on an over-cap fixture. */
  def bpeEncode(s: SparkSession, d: String): DataFrame =
    bpeEncodeCapped(s, d, VocabCap)

  private[queries] def bpeEncodeCapped(s: SparkSession, d: String,
      cap: Int): DataFrame = {
    val vocab = collectVocab(s, d, cap) // the ONE corpus-scale vocab pass
    val merges = bpeTrainFrom(vocab, EncodeMerges)
    val vocabTokens = vocab.map { case (w, _) =>
      (w, bpeTokenize(w, merges).length.toLong) }
    import s.implicits._
    val vt = broadcast(vocabTokens.toSeq.toDF("word", "n_tok"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("word"))
      .join(vt, Seq("word"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("ws_tokens"),
        sum(length(col("word"))).as("word_chars"),
        sum(coalesce(col("n_tok"), length(col("word")).cast("long")))
          .as("bpe_tokens"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q134_dsir_select" -> dsirSelect,
    "q135_bpe_pair_counts" -> bpePairCounts,
    "q138_bpe_encode" -> bpeEncode)

  private def polyMod(g: String) = s"(${OracleHash.polySql(g)}) % $B"

  val oracle: Map[String, String] = Map(
    // Bigram strings are hashed once per DISTINCT gram (31-word vocab ⇒
    // ≤ 961 hash evaluations) and joined back to occurrences — the
    // NOTES_r6 oracle-cost rule for every polynomial-hash oracle.
    "q134_dsir_select" ->
      s"""WITH w AS (
         |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS word,
         |    unnest(range(0, len(string_split(text, ' ')))) AS pos
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, source,
         |    word || ' ' || lead(word, 1)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS gm
         |  FROM w),
         |gv AS MATERIALIZED (SELECT DISTINCT gm FROM g WHERE gm IS NOT NULL),
         |gh AS MATERIALIZED (SELECT gm, ${polyMod("gm")} AS b FROM gv),
         |f AS (SELECT g.doc_id, g.source, gh.b FROM g JOIN gh USING (gm)),
         |t AS (SELECT b, COUNT(*) AS cnt_t FROM f
         |      WHERE source = '$TargetSrc' GROUP BY b),
         |r AS (SELECT b, COUNT(*) AS cnt_r FROM f
         |      WHERE source <> '$TargetSrc' GROUP BY b),
         |sc AS (
         |  SELECT f.doc_id, f.source, COUNT(*) AS n_feats,
         |    CAST(SUM(COALESCE(t.cnt_t, 0) + 1) AS BIGINT) AS tgt_ip,
         |    CAST(SUM(COALESCE(r.cnt_r, 0) + 1) AS BIGINT) AS raw_ip
         |  FROM f LEFT JOIN t USING (b) LEFT JOIN r USING (b)
         |  WHERE f.source <> '$TargetSrc'
         |  GROUP BY f.doc_id, f.source)
         |SELECT doc_id, source, n_feats, tgt_ip, raw_ip,
         |  (tgt_ip * 1000000) // raw_ip AS ratio_ppm
         |FROM sc ORDER BY ratio_ppm DESC, doc_id LIMIT $SelK""".stripMargin,
    "q135_bpe_pair_counts" ->
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |v AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
        |p AS (SELECT word, cnt, unnest(range(1, len(word))) AS j FROM v)
        |SELECT substr(word, j, 2) AS pair,
        |  CAST(SUM(cnt) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1 ORDER BY pair_count DESC, pair LIMIT 15""".stripMargin)
}
