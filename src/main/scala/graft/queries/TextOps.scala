package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis and deduplication operators for LLM training-data
  * pipelines over the `documents` table: tokenization, exact dedup,
  * MinHash signatures + LSH banding, shingle Jaccard, fingerprinting,
  * quality scoring and heuristic language ID.
  *
  * Portability rules (must hash-match DuckDB):
  *  - token/shingle hashing is `md5` of identical strings (hex,
  *    lexicographic min — both engines agree byte-for-byte); character
  *    WINDOW hashing (the winnowing family, millions of windows per
  *    partition) is the exact-integer polynomial of
  *    [[graft.functions.WinnowSketch]] — same value from plain
  *    substr/ascii arithmetic in DuckDB;
  *  - similarity scores are emitted as exact integer pairs
  *    (intersection, union) rather than rounded doubles;
  *  - tokenization is a literal single-space split (the corpus is
  *    space-normalized).
  *
  * Scale notes (100 TB): everything is expressed as explode → shuffle on
  * (word|shingle|bucket) → aggregate, the canonical distributed shape.
  * MinHash/LSH turns O(n²) near-dup search into per-bucket candidate
  * generation; the pairwise Jaccard verifier joins only on shared
  * shingles, never materializing the full cross product.
  */
object TextOps {

  private[queries] def words(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))

  /** U1 analog (keyword segmentation UDTF + LATERAL TABLE — ref
    * SplitFunction.java:12-28): tokenize + explode + frequency count. */
  def wordCount(s: SparkSession, d: String): DataFrame =
    words(s, d).groupBy("word")
      .agg(count(lit(1)).as("word_freq"),
        countDistinct(col("doc_id")).as("doc_freq"))

  /** Exact dedup via content hash (hash-groupBy): one representative
    * (min doc_id) per distinct text; dup_count > 1 ⇒ duplicates. */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("dup_count"))

  /** Document fingerprint: md5 over the sorted token multiset — robust to
    * word order, the batch analog of a rolling-hash sketch. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(split(col("text"), " ")))).as("fingerprint"),
        md5(col("text")).as("content_hash"))

  /** Quality scoring (length / stopword / vocab-diversity signals) per
    * language — integer counts + int/int divisions only (deterministic). */
  def textQuality(s: SparkSession, d: String): DataFrame =
    words(s, d)
      .groupBy("doc_id", "lang")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_distinct"),
        sum(length(col("word"))).as("n_word_chars"),
        sum(when(col("word").isin("the", "a"), 1L).otherwise(0L)).as("n_stopwords"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("doc_count"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_word_chars")).cast("double") / sum(col("n_tokens")))
          .as("avg_word_len"),
        (sum(col("n_stopwords")).cast("double") / sum(col("n_tokens")))
          .as("stopword_ratio"),
        (sum(col("n_distinct")).cast("double") / sum(col("n_tokens")))
          .as("diversity"))

  /** Token counting, whitespace + a BPE-ish proxy (4-char chunks): the two
    * budget estimators a training pipeline runs over every document. */
  def tokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        length(col("text")).as("n_chars"),
        ceil(length(regexp_replace(col("text"), " ", "")).cast("double") / 4)
          .cast("long").as("bpe_est_tokens"))

  /** Heuristic language ID from marker-token frequencies (n-gram-style
    * scoring), compared against the labeled `lang` column. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val scored = words(s, d)
      .groupBy("doc_id", "lang")
      .agg(
        sum(when(col("word").isin("the", "a"), 1L).otherwise(0L)).as("en_score"),
        sum(when(col("word").isin("der", "und"), 1L).otherwise(0L)).as("de_score"),
        sum(when(col("word").isin("le", "et"), 1L).otherwise(0L)).as("fr_score"),
        sum(when(col("word").isin("el", "y"), 1L).otherwise(0L)).as("es_score"))
      .withColumn("guess",
        when(col("de_score") > col("en_score") && col("de_score") >= col("fr_score")
          && col("de_score") >= col("es_score"), "de")
          .when(col("fr_score") > col("en_score") && col("fr_score") >= col("es_score"), "fr")
          .when(col("es_score") > col("en_score"), "es")
          .otherwise("en"))
    scored.groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("doc_count"))
  }

  /** Per-seed word hash for the minhash family: the native
    * [[graft.functions.GramHashes]] modular polynomial of the 2-token
    * string `"sK: <word>"` (the salt is the first token, so the single
    * n=2 window IS the whole salted string). One 8-byte long replaces
    * each 32-char md5 hex through the signature aggregation, band join
    * and family groupBy — the same conversion (and oracle twin,
    * [[OracleHash.polySql]]) the shingle chains got in q31/q105/q113. */
  private[queries] def saltedWordHash(seed: Int): Column =
    element_at(graft.functions.GramOps.gram_hashes(
      concat(lit(s"s$seed: "), col("word")), 2), 1)

  /** Unsalted polynomial hash of a single word (token-set identity for
    * the Jaccard verify joins — 8-byte longs instead of word strings). */
  private[queries] def wordHash: Column =
    element_at(graft.functions.GramOps.gram_hashes(col("word"), 1), 1)

  /** MinHash signature: k=4 min polynomial hashes over the token set,
    * one salted permutation per seed (shingle→minhash step of
    * MinHash+LSH). Min over the multiset = min over the set, so no
    * per-doc distinct is needed before the aggregate. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    words(s, d)
      .groupBy("doc_id")
      .agg(
        min(saltedWordHash(1)).as("mh1"),
        min(saltedWordHash(2)).as("mh2"),
        min(saltedWordHash(3)).as("mh3"),
        min(saltedWordHash(4)).as("mh4"))
  }

  /** LSH banding (band→bucket-join step): 2 bands of 2 minhashes; docs
    * sharing a band bucket are near-dup candidates. The bucket key is
    * the minhash PAIR itself (two longs) — hashing the pair into one
    * column buys nothing and costs a conversion in both engines. */
  def minhashLshBuckets(s: SparkSession, d: String): DataFrame = {
    val sigs = minhashSignatures(s, d)
    val b1 = sigs.select(col("mh1").as("h1"), col("mh2").as("h2"), col("doc_id"))
    val b2 = sigs.select(col("mh3").as("h1"), col("mh4").as("h2"), col("doc_id"))
    b1.unionByName(b2)
      .groupBy("h1", "h2")
      .agg(count(lit(1)).as("bucket_size"), min(col("doc_id")).as("min_doc_id"))
      .groupBy("bucket_size")
      .agg(count(lit(1)).as("n_buckets"),
        min(col("min_doc_id")).as("sample_doc_id"))
  }

  /** Stop-token (document-frequency cap) filter for shared-token
    * candidate self-joins. `tokens` must already be per-document
    * distinct, so `count(*)` per token IS its document frequency. Tokens
    * with df > `dfCap` (boilerplate headers, stop-phrases — guaranteed
    * in a real crawl) are removed BEFORE the self-join: one such token
    * shared by m documents otherwise creates an m²-pair bucket on a
    * single executor. The filter is a df-ANNOTATION join: tokens join
    * the df aggregate on the token and keep `df <= dfCap` — one shuffle
    * on the token, with NO size assumption about either side. (The hot
    * SET is occurrences∕dfCap entries — LINEAR in corpus size, so a
    * broadcast anti-join against it would OOM the executors at 100 TB;
    * the aggregate side here is already hash-partitioned on the token by
    * its own groupBy, so the join adds no extra shuffle of that side,
    * and AQE is still free to broadcast it when it is genuinely small.)
    * `dfCap = Int.MaxValue` skips the filter entirely (no plan change —
    * today's exact oracle rows).
    *
    * Recall trade: a true near-dup pair whose ONLY shared tokens are
    * hot ones is lost. Standard MinHash-LSH practice accepts this — a
    * pair sharing nothing but boilerplate is not a near-dup. */
  private def dropHotTokens(tokens: DataFrame, tokenCol: String,
      dfCap: Int): DataFrame =
    if (dfCap == Int.MaxValue) tokens
    else {
      val cold = tokens.groupBy(tokenCol).agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select(tokenCol)
      tokens.join(cold, Seq(tokenCol))
    }

  /** N-gram (3-shingle) Jaccard near-dup scoring on a bounded candidate
    * set (doc_id < 100): emits exact (intersection, union) integers per
    * pair with ≥2 shared shingles (jaccard = inter/union computed by the
    * consumer — integers stay engine-exact). At scale the candidate set
    * comes from [[minhashLshBuckets]] instead of an id range, and a
    * finite `dfCap` (stop-shingle filter, [[dropHotTokens]]) bounds the
    * per-shingle bucket size — at 100 TB always run with a finite cap. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccard(s, d, Int.MaxValue)

  def ngramJaccard(s: SparkSession, d: String, dfCap: Int): DataFrame =
    shinglePairFrame(s, d, dfCap)
      .select(col("doc_a"), col("doc_b"), col("inter_size"),
        (col("n_a") + col("n_b") - col("inter_size")).as("union_size"))

  /** The q31 candidate-pair frame with BOTH per-doc shingle counts kept
    * — (doc_a, doc_b, inter_size, n_a, n_b) — so asymmetric consumers
    * (q346 containment) share the verified chain instead of rebuilding
    * it. q31's union_size is a projection of this frame. */
  private[queries] def shinglePairFrame(s: SparkSession, d: String,
      dfCap: Int): DataFrame = {
    // shingle identity is the native GramHashes modular polynomial of
    // the 3-token window (an exact text substring) — no explode of word
    // strings, no per-shingle concat, 8-byte longs through the distinct,
    // df filter and candidate self-join (the dominant shuffle payload of
    // this chain at scale); the oracle states the identical hash
    val shingles = Tables.documents(s, d)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        explode(graft.functions.GramOps.gram_hashes(col("text"), 3))
          .as("shingle"))
      .distinct()
    // materialize once: `kept` (window leads + distinct + df filter)
    // feeds the per-doc counts AND both legs of the candidate self-join
    // — four evaluations of the shingle subtree without this. The frame
    // is BOUNDED (doc<100 scope + df cap), so coalesce to the session's
    // core count before checkpointing: a localCheckpoint freezes the
    // current shuffle width into the RDD, and under the 4096-partition
    // production profile that schedules thousands of near-empty tasks
    // per downstream stage (measured r10, ProfileBisect). Note the
    // coalesce also narrows the PRODUCING stage (the distinct/df-filter
    // reduce runs at core-count width, not shuffle width) — acceptable
    // precisely because the frame is bounded; that precondition is
    // load-bearing for cluster performance, not just for the cache
    val kept = dropHotTokens(shingles, "shingle", dfCap)
      .coalesce(s.sparkContext.defaultParallelism).stable()
    val counts = kept.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter_size"))
    pairs
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "n_a"), Seq("doc_a"))
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "n_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("inter_size"),
        col("n_a"), col("n_b"))
      .filter(col("inter_size") >= 2)
  }

  /** Within-document repetition ratio — the duplicate-3-gram quality
    * signal (the Gopher/C4 family of repetition filters): fraction of a
    * document's 3-shingles that are repeats of an earlier shingle. High
    * ratio ⇒ boilerplate/listicle/spam; a training pipeline drops or
    * downweights above a threshold. Counts are exact integers; the ratio
    * is one double division of identical operands (engine-stable). Pure
    * per-document map + aggregate — embarrassingly parallel at 100 TB. */
  def repetitionRatio(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.GramOps.gram_hashes(col("text"), 3))
          .as("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct(col("shingle")).as("n_distinct"))
      .withColumn("dup_ratio",
        (col("n_shingles") - col("n_distinct")).cast("double") / col("n_shingles"))
  }

  /** Polynomial (Karp–Rabin form) 8-char window hash:
    * Σ (codepoint%256)·131^(7−k) — exact signed-64 integer arithmetic in
    * BOTH engines (max 255·Σ131^k ≈ 1.7·10¹⁷ ≪ 2⁶³, no overflow, no modulus). ~10×
    * cheaper per window than the cryptographic md5 this op first used,
    * and computed by the NATIVE [[graft.functions.WinnowSketch]]
    * expression: a lambda (`transform(sequence(...), ...)`) formulation
    * is interpreted per element and measured 14 s at sf0.1 where the
    * expression's compiled loop takes ~0.3 s (forced evaluation). */
  private val PolyPows: Seq[Long] =
    Seq.iterate(1L, 8)(_ * 131L).reverse
  /** The matching DuckDB window-hash sum over 1-based window start `i`
    * (BIGINT casts: the power literals overflow INT32 multiplication). */
  private[queries] def winPolySql(i: String): String =
    (0 until 8).map { k =>
      s"(ascii(substr(text, CAST($i AS INT) + $k, 1)) % 256) * " +
        s"CAST(${PolyPows(k)} AS BIGINT)"
    }.mkString(" + ")

  private def winnowSketchCol(s: SparkSession, k: Int): Column = {
    graft.functions.WinnowOps.winnow_sketch(col("text"), k)
  }

  /** Rolling window-hash fingerprint (winnowing): hash every 8-char
    * window of the raw text, keep the minimum — the position-robust
    * fingerprint a rolling-hash sketch produces (an insertion shifts
    * windows but rarely changes the minimum, unlike md5(text)).
    * The polynomial window hash agrees across engines exactly;
    * n−7 windows per doc, linear scan, no shuffle. */
  def rollingFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        element_at(winnowSketchCol(s, 1), 1).as("roll_min_hash"),
        (greatest(length(col("text")) - 7, lit(1))).cast("long").as("n_windows"))

  /** Winnowing k-min sketch + candidate pairing: each doc keeps its 5
    * SMALLEST window hashes (a character-level MinHash — robust to word
    * reordering and small edits, unlike token shingles), candidates
    * equi-join on shared sketch hashes, ranked by overlap. The same
    * bucketed candidates→verifier shape as MinHash-LSH (q30) and SimHash
    * bands (q67), at the character granularity plagiarism/clone
    * detection needs. One explode + one shuffle on the hash. A finite
    * `dfCap` ([[dropHotTokens]]) removes window hashes shared by more
    * than dfCap documents before pairing — this corpus already has
    * boilerplate hashes with df≈77 at sf0.01, the small-scale preview of
    * the one-hot-bucket quadratic trap at 100 TB. */
  def winnowCandidates(s: SparkSession, d: String): DataFrame =
    winnowCandidates(s, d, Int.MaxValue)

  def winnowCandidates(s: SparkSession, d: String, dfCap: Int): DataFrame = {
    val sketch0 = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(winnowSketchCol(s, 5)).as("wh"))
      .distinct() // identical windows at different positions collapse
    // materialize once: the sketch (hundreds of window hashes + an
    // array_sort per document) otherwise re-evaluates on BOTH legs of
    // the self-join. Partitioned BY THE JOIN KEY at core-count width
    // before the checkpoint (r15): the hash self-join is CPU-quadratic
    // within a bucket while its shuffle payload is sketch-sized, so
    // AQE's byte-based coalescing ran the whole pair enumeration as one
    // task (measured 1.9 s of the query's 2.9 s); co-partitioning both
    // legs also removes the join's own exchanges (the q251 lesson).
    val sketch = dropHotTokens(sketch0, "wh", dfCap)
      .repartition(s.sparkContext.defaultParallelism, col("wh"))
      .stable()
    val a = sketch.select(col("doc_id").as("doc_a"), col("wh"))
    val b = sketch.select(col("doc_id").as("doc_b"), col("wh"))
    a.join(b, Seq("wh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= 2)
  }

  private val PpjoinT = 50 // Jaccard threshold, percent

  /** q182: set-similarity join with PREFIX FILTERING (Chaudhuri et al.
    * 2006 / Xiao et al. 2008, PPJoin) — the lossless candidate-
    * generation upgrade of the plain shingle self-join: under the
    * canonical global token order (df asc, then token), any pair with
    * Jaccard ≥ t MUST share a token among each side's first
    * n − ⌈t·n⌉ + 1 tokens, so only prefixes are joined (rare tokens
    * first ⇒ tiny buckets), then candidates are exactly verified.
    * The oracle is the BRUTE-FORCE threshold join — the hash match is
    * the losslessness theorem on this corpus.
    *
    * Output contract = q31's (doc_a, doc_b, inter_size, union_size),
    * restricted to Jaccard ≥ 50%.
    *
    * Scale: the prefix join's shuffle payload is the prefix explode
    * (≈ (1−t) of the token stream), bucketed by rare-first tokens —
    * the hot-token bucket problem of the naive join disappears by
    * construction (hot tokens sort to the suffix). The length filter
    * min·100 ≥ t·max prunes before verification. */
  def ppjoin(s: SparkSession, d: String): DataFrame = {
    val shingles = Tables.documents(s, d)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        explode(graft.functions.GramOps.gram_hashes(col("text"), 3))
          .as("shingle"))
      .distinct()
      .stable() // feeds rank table, arrays, and verification
    // canonical total order: df asc, shingle asc — bounded token domain
    val rank = shingles.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("df"), col("shingle"))))
      .select(col("shingle"), col("rk"))
    val docs = shingles.join(rank, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("rk"))).as("rs"),
        count(lit(1)).as("n"))
      .stable()
    val prefixes = docs.select(col("doc_id"), col("n"),
      explode(expr(
        s"slice(rs, 1, n - (($PpjoinT * n + 99) div 100) + 1)")).as("rk"))
    val cands = prefixes.as("a").join(prefixes.as("b"),
        col("a.rk") === col("b.rk") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * 100 >=
            greatest(col("a.n"), col("b.n")) * PpjoinT)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = cands
      .join(shingles.select(col("doc_id").as("doc_a"), col("shingle")),
        Seq("doc_a"))
      .join(shingles.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_size"))
    val counts = docs.select(col("doc_id"), col("n"))
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("inter_size"),
        (col("n_a") + col("n_b") - col("inter_size")).as("union_size"))
      .filter(col("inter_size") * 100 >= col("union_size") * PpjoinT)
  }

  /** q184: sketch-quality evaluation — precision/recall of the
    * q29/q30 MinHash-LSH candidate pairs against EXACT token-set
    * Jaccard ≥ 90% ground truth. The truth side is brute force BY
    * DESIGN (that's what makes it truth): token sets become ≤63-bit
    * masks over the ranked vocabulary, so every pairwise Jaccard is
    * two popcounts — exact in both engines. On an open-vocabulary
    * corpus the mask device caps out and the truth side samples
    * instead (documented); the evaluated sketch path is unchanged.
    * Output: one row (n_truth, n_pred, n_hit, precision_ppm,
    * recall_ppm) — the "how good is my dedup sketch" readout every
    * pipeline should publish. */
  private val EvalSliceCap = 20000L

  def lshEval(s: SparkSession, d: String): DataFrame = {
    // deterministic evaluation slice: 25% (doc_id % 4 = 0) AND an
    // ABSOLUTE cap. The fractional filter alone leaves the all-pairs
    // truth join quadratic in the CORPUS (measured: exponent 1.83 over
    // 5k→45k docs, ScaleProbe lsheval, PLANS §round-12) — ground truth
    // is brute force by definition, so the only scale knob that works
    // is an absolute slice size, which makes the eval cost CONSTANT at
    // any corpus size. The cap exceeds every shipped doc_id, so results
    // at the tested SFs are bit-identical; the oracle carries the same
    // predicate.
    val w = words(s, d)
      .filter(col("doc_id") % 4 === 0 && col("doc_id") < EvalSliceCap)
      .select(col("doc_id"), col("word")).distinct()
    val vocab = w.select(col("word")).distinct()
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("word"))))
    val masks = w.join(broadcast(vocab), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("shiftleft(1L, rank - 1)")).as("m"))
      .stable()
    val truth = masks.as("a").join(masks.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          expr("bit_count(a.m & b.m) * 100") >=
            expr("90 * bit_count(a.m | b.m)"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val sigs = minhashSignatures(s, d)
      .filter(col("doc_id") % 4 === 0 && col("doc_id") < EvalSliceCap)
    val bands = sigs
      .select(col("mh1").as("h1"), col("mh2").as("h2"), col("doc_id"))
      .unionByName(sigs
        .select(col("mh3").as("h1"), col("mh4").as("h2"), col("doc_id")))
    val pred = bands.as("a").join(bands.as("b"),
        col("a.h1") === col("b.h1") && col("a.h2") === col("b.h2") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val hit = pred.join(truth, Seq("doc_a", "doc_b"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(pred.agg(count(lit(1)).as("n_pred")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_pred"), col("n_hit"),
        expr("(n_hit * 1000000L) div n_pred").as("precision_ppm"),
        expr("(n_hit * 1000000L) div n_truth").as("recall_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q184_lsh_eval" -> lshEval,
    "q182_ppjoin" -> ppjoin,
    "q23_word_count" -> wordCount,
    "q24_exact_dedup" -> exactDedup,
    "q25_fingerprint" -> fingerprint,
    "q92_rolling_fingerprint" -> rollingFingerprint,
    "q99_winnow_candidates" -> ((s, d) => winnowCandidates(s, d)),
    "q26_text_quality" -> textQuality,
    "q27_token_stats" -> tokenStats,
    "q28_lang_id" -> langId,
    "q29_minhash_signatures" -> minhashSignatures,
    "q30_minhash_lsh_buckets" -> minhashLshBuckets,
    "q31_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    // Capped variants: same pipelines with a finite stop-token df cap —
    // the 100 TB configuration. Caps chosen to actually drop tokens on
    // this corpus (q31 max shingle df = 4 → cap 3; q99 window hashes
    // reach df 77 → cap 8), so the oracle exercises the filter.
    "q105_ngram_jaccard_dfcap" -> ((s, d) => ngramJaccard(s, d, 3)),
    "q106_winnow_dfcap" -> ((s, d) => winnowCandidates(s, d, 8)),
    "q111_repetition_ratio" -> repetitionRatio)

  private val wordsCte =
    """WITH w AS (
      |  SELECT doc_id, lang,
      |    unnest(string_split(text, ' ')) AS word,
      |    unnest(range(0, len(string_split(text, ' ')))) AS pos
      |  FROM documents)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q23_word_count" -> s"""$wordsCte
      |SELECT word, COUNT(*) AS word_freq,
      |  COUNT(DISTINCT doc_id) AS doc_freq
      |FROM w GROUP BY word""".stripMargin,
    "q24_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
        |  COUNT(*) AS dup_count
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q25_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fingerprint,
        |  md5(text) AS content_hash
        |FROM documents""".stripMargin,
    "q92_rolling_fingerprint" ->
      s"""SELECT doc_id,
        |  list_min(list_transform(
        |    range(1, greatest(length(text) - 7, 1) + 1),
        |    i -> ${winPolySql("i")})) AS roll_min_hash,
        |  CAST(greatest(length(text) - 7, 1) AS BIGINT) AS n_windows
        |FROM documents""".stripMargin,
    "q99_winnow_candidates" ->
      s"""WITH sk AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_sort(list_transform(
        |      range(1, greatest(length(text) - 7, 1) + 1),
        |      i -> ${winPolySql("i")}))[1:5]) AS wh
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  COUNT(*) AS shared_windows
        |FROM sk a JOIN sk b ON a.wh = b.wh AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,
    "q26_text_quality" -> s"""$wordsCte,
      |per_doc AS (
      |  SELECT doc_id, lang, COUNT(*) AS n_tokens,
      |    COUNT(DISTINCT word) AS n_distinct,
      |    CAST(SUM(length(word)) AS BIGINT) AS n_word_chars,
      |    CAST(SUM(CASE WHEN word IN ('the','a') THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_stopwords
      |  FROM w GROUP BY doc_id, lang)
      |SELECT lang, COUNT(*) AS doc_count,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(CAST(SUM(n_word_chars) AS BIGINT) AS DOUBLE)
      |    / CAST(SUM(n_tokens) AS BIGINT) AS avg_word_len,
      |  CAST(CAST(SUM(n_stopwords) AS BIGINT) AS DOUBLE)
      |    / CAST(SUM(n_tokens) AS BIGINT) AS stopword_ratio,
      |  CAST(CAST(SUM(n_distinct) AS BIGINT) AS DOUBLE)
      |    / CAST(SUM(n_tokens) AS BIGINT) AS diversity
      |FROM per_doc GROUP BY lang""".stripMargin,
    "q27_token_stats" ->
      """SELECT doc_id,
        |  CAST(length(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(ceil(CAST(length(replace(text, ' ', '')) AS DOUBLE) / 4) AS BIGINT)
        |    AS bpe_est_tokens
        |FROM documents""".stripMargin,
    "q28_lang_id" -> s"""$wordsCte,
      |scored AS (
      |  SELECT doc_id, lang,
      |    CAST(SUM(CASE WHEN word IN ('the','a') THEN 1 ELSE 0 END) AS BIGINT) AS en_score,
      |    CAST(SUM(CASE WHEN word IN ('der','und') THEN 1 ELSE 0 END) AS BIGINT) AS de_score,
      |    CAST(SUM(CASE WHEN word IN ('le','et') THEN 1 ELSE 0 END) AS BIGINT) AS fr_score,
      |    CAST(SUM(CASE WHEN word IN ('el','y') THEN 1 ELSE 0 END) AS BIGINT) AS es_score
      |  FROM w GROUP BY doc_id, lang),
      |guessed AS (
      |  SELECT lang,
      |    CASE WHEN de_score > en_score AND de_score >= fr_score
      |           AND de_score >= es_score THEN 'de'
      |         WHEN fr_score > en_score AND fr_score >= es_score THEN 'fr'
      |         WHEN es_score > en_score THEN 'es'
      |         ELSE 'en' END AS guess
      |  FROM scored)
      |SELECT lang, guess, COUNT(*) AS doc_count
      |FROM guessed GROUP BY lang, guess""".stripMargin,
    // the polynomial evals are per DISTINCT word (31-word vocab), not
    // per occurrence — polySql through a lambda costs ~0.4 ms/eval in
    // DuckDB, so per-occurrence hashing made this oracle minutes-slow
    "q29_minhash_signatures" -> s"""$wordsCte,
      |vh AS MATERIALIZED (
      |  SELECT word,
      |    ${OracleHash.polySql("'s1: ' || word")} AS h1,
      |    ${OracleHash.polySql("'s2: ' || word")} AS h2,
      |    ${OracleHash.polySql("'s3: ' || word")} AS h3,
      |    ${OracleHash.polySql("'s4: ' || word")} AS h4
      |  FROM (SELECT DISTINCT word FROM w))
      |SELECT doc_id,
      |  MIN(h1) AS mh1, MIN(h2) AS mh2, MIN(h3) AS mh3, MIN(h4) AS mh4
      |FROM w JOIN vh USING (word) GROUP BY doc_id""".stripMargin,
    "q30_minhash_lsh_buckets" -> s"""$wordsCte,
      |vh AS MATERIALIZED (
      |  SELECT word,
      |    ${OracleHash.polySql("'s1: ' || word")} AS h1,
      |    ${OracleHash.polySql("'s2: ' || word")} AS h2,
      |    ${OracleHash.polySql("'s3: ' || word")} AS h3,
      |    ${OracleHash.polySql("'s4: ' || word")} AS h4
      |  FROM (SELECT DISTINCT word FROM w)),
      |sigs AS (
      |  SELECT doc_id,
      |    MIN(h1) AS mh1, MIN(h2) AS mh2, MIN(h3) AS mh3, MIN(h4) AS mh4
      |  FROM w JOIN vh USING (word) GROUP BY doc_id),
      |bands AS (
      |  SELECT mh1 AS h1, mh2 AS h2, doc_id FROM sigs
      |  UNION ALL
      |  SELECT mh3 AS h1, mh4 AS h2, doc_id FROM sigs),
      |buckets AS (
      |  SELECT h1, h2, COUNT(*) AS bucket_size, MIN(doc_id) AS min_doc_id
      |  FROM bands GROUP BY h1, h2)
      |SELECT bucket_size, COUNT(*) AS n_buckets, MIN(min_doc_id) AS sample_doc_id
      |FROM buckets GROUP BY bucket_size""".stripMargin,
    "q184_lsh_eval" ->
      s"""WITH wd AS (
         |  SELECT DISTINCT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE doc_id % 4 = 0 AND doc_id < $EvalSliceCap)),
         |vocab AS (
         |  SELECT word, ROW_NUMBER() OVER (ORDER BY word) AS rank
         |  FROM (SELECT DISTINCT word FROM wd)),
         |masks AS (
         |  SELECT doc_id,
         |    CAST(SUM(CAST(1 AS BIGINT) << (rank - 1)) AS BIGINT) AS m
         |  FROM wd JOIN vocab USING (word) GROUP BY doc_id),
         |truth AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM masks a JOIN masks b ON a.doc_id < b.doc_id
         |  WHERE CAST(bit_count(a.m & b.m) AS BIGINT) * 100 >=
         |    90 * CAST(bit_count(a.m | b.m) AS BIGINT)),
         |wall AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents WHERE doc_id % 4 = 0 AND doc_id < $EvalSliceCap),
         |vh AS MATERIALIZED (
         |  SELECT word,
         |    ${OracleHash.polySql("'s1: ' || word")} AS h1,
         |    ${OracleHash.polySql("'s2: ' || word")} AS h2,
         |    ${OracleHash.polySql("'s3: ' || word")} AS h3,
         |    ${OracleHash.polySql("'s4: ' || word")} AS h4
         |  FROM (SELECT DISTINCT word FROM wall)),
         |sigs AS (
         |  SELECT doc_id,
         |    MIN(h1) AS mh1, MIN(h2) AS mh2, MIN(h3) AS mh3, MIN(h4) AS mh4
         |  FROM wall JOIN vh USING (word) GROUP BY doc_id),
         |bands AS (
         |  SELECT mh1 AS h1, mh2 AS h2, doc_id FROM sigs
         |  UNION ALL
         |  SELECT mh3 AS h1, mh4 AS h2, doc_id FROM sigs),
         |pred AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id),
         |hit AS (SELECT * FROM pred JOIN truth USING (doc_a, doc_b))
         |SELECT
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  (SELECT COUNT(*) FROM pred) AS n_pred,
         |  (SELECT COUNT(*) FROM hit) AS n_hit,
         |  CAST(((SELECT COUNT(*) FROM hit) * 1000000)
         |    // (SELECT COUNT(*) FROM pred) AS BIGINT) AS precision_ppm,
         |  CAST(((SELECT COUNT(*) FROM hit) * 1000000)
         |    // (SELECT COUNT(*) FROM truth) AS BIGINT) AS recall_ppm""".stripMargin,
    // brute force, NO prefix filter — losslessness is the theorem
    "q182_ppjoin" -> s"""$wordsCte,
      |sh AS (
      |  SELECT doc_id,
      |    word || ' ' || lead(word, 1) OVER dw || ' ' || lead(word, 2) OVER dw
      |      AS g
      |  FROM w WHERE doc_id < 100
      |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
      |sh2 AS (SELECT DISTINCT doc_id, ${OracleHash.polySql("g")} AS shingle
      |  FROM sh WHERE g IS NOT NULL),
      |counts AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh2 GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_size
      |  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, inter_size,
      |  ca.n_shingles + cb.n_shingles - inter_size AS union_size
      |FROM pairs
      |JOIN counts ca ON ca.doc_id = doc_a
      |JOIN counts cb ON cb.doc_id = doc_b
      |WHERE inter_size * 100 >=
      |  (ca.n_shingles + cb.n_shingles - inter_size) * $PpjoinT""".stripMargin,
    "q31_ngram_jaccard" -> s"""$wordsCte,
      |sh AS (
      |  SELECT doc_id,
      |    word || ' ' || lead(word, 1) OVER dw || ' ' || lead(word, 2) OVER dw
      |      AS g
      |  FROM w WHERE doc_id < 100
      |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
      |sh2 AS (SELECT DISTINCT doc_id, ${OracleHash.polySql("g")} AS shingle
      |  FROM sh WHERE g IS NOT NULL),
      |counts AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh2 GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_size
      |  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, inter_size,
      |  ca.n_shingles + cb.n_shingles - inter_size AS union_size
      |FROM pairs
      |JOIN counts ca ON ca.doc_id = doc_a
      |JOIN counts cb ON cb.doc_id = doc_b
      |WHERE inter_size >= 2""".stripMargin,
    "q105_ngram_jaccard_dfcap" -> s"""$wordsCte,
      |sh AS (
      |  SELECT doc_id,
      |    word || ' ' || lead(word, 1) OVER dw || ' ' || lead(word, 2) OVER dw
      |      AS g
      |  FROM w WHERE doc_id < 100
      |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
      |sh1 AS (SELECT DISTINCT doc_id, ${OracleHash.polySql("g")} AS shingle
      |  FROM sh WHERE g IS NOT NULL),
      |hot AS (SELECT shingle FROM sh1 GROUP BY shingle HAVING COUNT(*) > 3),
      |sh2 AS (SELECT * FROM sh1 WHERE shingle NOT IN (SELECT shingle FROM hot)),
      |counts AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh2 GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_size
      |  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, inter_size,
      |  ca.n_shingles + cb.n_shingles - inter_size AS union_size
      |FROM pairs
      |JOIN counts ca ON ca.doc_id = doc_a
      |JOIN counts cb ON cb.doc_id = doc_b
      |WHERE inter_size >= 2""".stripMargin,
    "q111_repetition_ratio" -> s"""$wordsCte,
      |sh AS (
      |  SELECT doc_id,
      |    word || ' ' || lead(word, 1) OVER dw || ' ' || lead(word, 2) OVER dw
      |      AS g
      |  FROM w
      |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
      |sh2 AS (SELECT doc_id, ${OracleHash.polySql("g")} AS shingle
      |  FROM sh WHERE g IS NOT NULL),
      |per_doc AS (
      |  SELECT doc_id, COUNT(*) AS n_shingles,
      |    COUNT(DISTINCT shingle) AS n_distinct
      |  FROM sh2 GROUP BY doc_id)
      |SELECT doc_id, n_shingles, n_distinct,
      |  CAST(n_shingles - n_distinct AS DOUBLE) / n_shingles AS dup_ratio
      |FROM per_doc""".stripMargin,
    "q106_winnow_dfcap" ->
      s"""WITH sk0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_sort(list_transform(
        |      range(1, greatest(length(text) - 7, 1) + 1),
        |      i -> ${winPolySql("i")}))[1:5]) AS wh
        |  FROM documents),
        |hot AS (SELECT wh FROM sk0 GROUP BY wh HAVING COUNT(*) > 8),
        |sk AS (SELECT * FROM sk0 WHERE wh NOT IN (SELECT wh FROM hot))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  COUNT(*) AS shared_windows
        |FROM sk a JOIN sk b ON a.wh = b.wh AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin)
}
