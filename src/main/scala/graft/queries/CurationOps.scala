package graft.queries

import graft.Tables
import graft.functions.GramOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 curation additions: sketched heavy hitters, per-source quota
  * caps, and a Bloom-filter-accelerated blocklist — three operators a
  * training-data pipeline leans on exactly where exact plans stop
  * scaling.
  *
  *  - q124: Misra–Gries heavy hitters ([[graft.functions.HeavyHitters]])
  *    over the token stream, next to the exact counts (the q121/q122
  *    sketch posture: rows-only check + spec'd error bounds).
  *  - q125: per-source document caps (the "domain cap" every web-scale
  *    corpus applies so no single domain dominates) via the native
  *    bounded [[graft.functions.TopKBy]] — no per-source sort, no
  *    skew-prone window shuffle. Exact oracle.
  *  - q126: blocklist removal (takedown/opt-out feeds) where the
  *    blocklist is too large to broadcast as a hash set: a Bloom
  *    pre-filter splits the corpus into definitely-clean rows (bloom
  *    has NO false negatives → they skip the join entirely) and a
  *    suspect minority that alone pays the exact anti-join shuffle.
  *    False positives are removed by that exact join, so the result is
  *    EXACT and carries a plain anti-join oracle.
  */
object CurationOps {

  // ---- q124 heavy hitters ----

  /** Top-10 Misra–Gries items (m=32) over all document tokens, joined to
    * their exact frequencies. `est ≤ exact` always, and
    * `exact − est ≤ n/(m+1)` — HeavyHittersSpec asserts both plus the
    * guaranteed-presence property; summary content is merge-order
    * dependent, so (like q121/q122) there is deliberately NO SQL oracle.
    * The exact side exists only to exhibit the bounds; a production run
    * ships the sketch alone: one exchange of ≤ m entries per map task
    * vs the exact plan's shuffle of every distinct token. */
  def heavyHitterWords(s: SparkSession, d: String): DataFrame = {
    val w = TextOps.words(s, d)
    val sk = w.agg(
      call_function("heavy_hitters", col("word"), lit(32)).as("summary"),
      count(lit(1)).as("n_tokens"))
    val top = sk.select(col("n_tokens"),
        posexplode(slice(col("summary"), 1, 10)).as(Seq("rank", "e")))
      .select((col("rank") + 1).cast("long").as("rank"),
        col("e.item").as("word"), col("e.est").as("est"), col("n_tokens"))
    val exact = w.groupBy("word").agg(count(lit(1)).as("exact_freq"))
    top.join(exact, Seq("word"))
      .select("rank", "word", "est", "exact_freq", "n_tokens")
  }

  // ---- q130 grouped heavy hitters (pure sketch plan) ----

  /** Per-(source, lang) top-5 Misra–Gries words with NO exact-count
    * join anywhere in the plan — the production shape of q124. q124
    * joins the sketch back to exact frequencies to EXHIBIT the error
    * bounds, but that join shuffles every distinct token, which is
    * precisely the cost the sketch exists to avoid; here the plan is
    * one map-side-combinable aggregation shipping ≤ m entries per map
    * task per group plus the group's token count — nothing else moves.
    * PlanShapeSpec pins the executed plan join-free; rows-only check
    * (summary content is merge-order dependent) with the MG bounds
    * property-tested in HeavyHittersSpec. */
  def groupedHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val w = Tables.documents(s, d).select(col("source"), col("lang"),
      explode(split(col("text"), " ")).as("word"))
    w.groupBy("source", "lang")
      .agg(call_function("heavy_hitters", col("word"), lit(16)).as("summary"),
        count(lit(1)).as("n_tokens"))
      .select(col("source"), col("lang"), col("n_tokens"),
        posexplode(slice(col("summary"), 1, 5)).as(Seq("rank", "e")))
      .select(col("source"), col("lang"),
        (col("rank") + 1).cast("long").as("rank"),
        col("e.item").as("word"), col("e.est").as("est"), col("n_tokens"))
  }

  // ---- q132 co-occurring token pairs (gram_hashes ∘ heavy_hitters) ----

  /** Frequent co-occurring token pairs: Misra–Gries heavy hitters over
    * the stream of 2-gram hashes — the collocation profile a curation
    * pipeline uses for boilerplate detection ("all rights reserved",
    * "click here") — composing the two natives: [[graft.functions
    * .GramHashes]] supplies an 8-byte hash per token window (no gram
    * strings built, ~85% fewer shuffle bytes — except there IS no
    * shuffle of grams here at all: the sketch combines map-side), and
    * [[graft.functions.HeavyHitters]] keeps the summary at ≤ m entries
    * per map task. A second linear pass resolves ONE example surface
    * form per surviving hash: gram strings are built map-side and
    * instantly filtered against the 10 winning hashes (a broadcast
    * join), so only ~10 tiny rows ever reach the final aggregate —
    * diagnostics priced at a scan, not a shuffle. Rows-only (sketch
    * content is merge-order dependent); CooccurSpec asserts the MG
    * bounds against exact 2-gram counts and the example↔hash
    * consistency.
    *
    * m = 256: the driver corpus draws from a 31-word vocabulary, so
    * its ~900 bigrams are near-uniform (top count ≈ 48 of 27k) and a
    * small summary legitimately decimates to nothing — there ARE no
    * heavy hitters. A real crawl concentrates mass on boilerplate
    * n-grams, where the operative guarantee kicks in: anything with
    * freq > n/(m+1) is PRESENT in the summary. */
  def cooccurHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val grams = docs.select(
      explode(graft.functions.GramOps.gram_hashes(col("text"), 2)).as("gh"))
    // `top` feeds both the example resolve and the final select, and
    // the sketch subtree executes twice (verified: two scans in the
    // executed plan — no exchange to reuse, since the second consumer
    // probes rather than re-exchanges). Measured, the duplicate scan
    // is ~0.2 s FASTER than localCheckpoint here: both subtrees
    // schedule concurrently inside one job, while a checkpoint
    // serializes two jobs. On a saturated cluster the trade flips —
    // persist `top` (10 rows) there.
    val top = grams
      .agg(call_function("heavy_hitters", col("gh").cast("string"), lit(256))
          .as("summary"),
        count(lit(1)).as("n_bigrams"))
      .select(col("n_bigrams"),
        posexplode(slice(col("summary"), 1, 10)).as(Seq("rank", "e")))
      .select((col("rank") + 1).cast("long").as("rank"),
        col("e.item").cast("long").as("gram_hash"), col("e.est").as("est"),
        col("n_bigrams"))
    // resolve pass: 2-gram surface strings zipped with their hashes
    // (GramHash hashes the exact 2-token substring, so positions align)
    val t = split(col("text"), " ")
    val gstr = when(size(t) >= 2,
      transform(sequence(lit(0), size(t) - lit(2)),
        i => concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2))))
      .otherwise(array().cast("array<string>"))
    val examples = docs
      .select(explode(arrays_zip(
        graft.functions.GramOps.gram_hashes(col("text"), 2).as("gh"),
        gstr.as("gtext"))).as("z"))
      .select(col("z.gh").as("gram_hash"), col("z.gtext").as("example"))
      .join(broadcast(top.select("gram_hash")), Seq("gram_hash"), "left_semi")
      .groupBy("gram_hash")
      .agg(min(col("example")).as("example"))
    top.join(broadcast(examples), Seq("gram_hash"), "left")
      .select("rank", "gram_hash", "example", "est", "n_bigrams")
  }

  // ---- q125 per-source quota ----

  private val QuotaCap = 20

  /** Deterministic per-doc priority: the first 13 hex chars of a salted
    * md5, as a long. 13 lowercase hex chars order identically as string
    * and as number, so the oracle can rank by `substr(md5(..), 1, 13)`
    * and match this numeric order exactly; 13 hex = 52 bits also stays
    * under Double's 53-bit exact-integer range, because TopKBy compares
    * priorities as doubles. The ':quota' salt keeps the priority
    * independent of the q115 split hash and the q120 sampling hash
    * (same device). */
  private def quotaPriority = conv(
    substring(md5(concat(col("doc_id").cast("string"), lit(":quota"))), 1, 13),
    16, 10).cast("long")

  /** Per-source quota cap: keep at most [[QuotaCap]] docs per source,
    * chosen by salted-hash priority (a uniform random-but-reproducible
    * sample, the q49/q115 device), then report kept docs/chars/langs
    * per source.
    *
    * Shape: `topk_by(−priority, doc_id, cap)` per source — bounded
    * ≤ cap partial buffers, map-side combined, ONE exchange of
    * ≤ cap·sources tiny rows — then the kept-id set (sources × cap
    * rows, broadcast-sized BY CONSTRUCTION at any corpus size) joins
    * back to documents as a broadcast semi-join. The naive
    * `row_number() OVER (PARTITION BY source)` formulation shuffles and
    * sorts the ENTIRE corpus by source — 20 partitions for 100 TB, pure
    * skew; this plan never moves the fact table at all. */
  def sourceQuota(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val kept = docs
      .select(col("source"), col("doc_id"), (-quotaPriority).as("pri"))
      .groupBy("source")
      .agg(call_function("topk_by", col("pri"), col("doc_id"), lit(QuotaCap))
        .as("keep_ids"))
      .select(explode(col("keep_ids")).as("doc_id"))
    docs.join(broadcast(kept), Seq("doc_id"), "left_semi")
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"),
        sum(col("n_chars")).as("kept_chars"),
        countDistinct(col("lang")).as("kept_langs"))
  }

  // ---- q126 bloom blocklist ----

  /** Blocklist removal with a Bloom pre-filter: ban every content hash
    * seen in source 'src0' (standing in for a takedown feed), drop ANY
    * doc with a banned hash (bans propagate to byte-identical copies in
    * other sources), count survivors per (source, lang).
    *
    * Scale rationale: a billion-hash blocklist is ~100 GB as broadcast
    * hash-set but ~1.2 GB as a 1%-fpp Bloom filter. Rows the filter
    * rejects are PROVABLY clean (no false negatives) and never enter
    * the join; only the ~fpp·n suspects (plus true hits) shuffle
    * against the exact list. The final result is exact — false
    * positives die in the anti-join — which is why this query carries
    * a plain NOT-EXISTS oracle. QuotaBloomSpec additionally proves the
    * bloom plan ≡ the plain anti-join plan on a fixture WITH
    * cross-source duplicates (the driver corpus has none).
    *
    * `stat.bloomFilter` builds the filter with a distributed
    * treeAggregate — the blocklist never collects as raw values. */
  def bloomBlocklist(s: SparkSession, d: String): DataFrame =
    bloomBlocklist(s, d, 0.01)

  /** Builds the prefilter for a banned-hash frame, sized FROM THE DATA:
    * `expectedNumItems` fixes the bit-array size, and a hardcoded
    * capacity silently saturates the fpp toward 1 once the blocklist
    * outgrows it — every row becomes a "suspect" and the prefilter
    * degenerates into a pass-through that pays the full anti-join
    * anyway. The `count()` is one cheap distributed aggregate over the
    * (already small relative to the corpus) blocklist, run once per
    * filter build; a production feed would pass its known cardinality
    * instead. QuotaBloomSpec measures the realized false-positive rate
    * ≈ fpp on a fixture whose cardinality is nowhere near the old
    * 10 000 default. */
  private[graft] def bannedBloom(banned: DataFrame, fpp: Double)
      : org.apache.spark.util.sketch.BloomFilter =
    banned.stat.bloomFilter("h", math.max(banned.count(), 1L), fpp)

  def bloomBlocklist(s: SparkSession, d: String, fpp: Double): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"),
        md5(col("text")).as("h"))
    val banned = docs.filter(col("source") === "src0").select("h").distinct()
    val bf = bannedBloom(banned, fpp)
    // native codegen'd probe (graft.functions.BloomMightContain) — the
    // last per-row Scala UDF on a query path, ported in r15. Null-safe
    // by the expression's contract: a null text hashes to a null h and
    // probes FALSE (provably not on the blocklist — the oracle's NOT
    // EXISTS keeps it too), never null
    val mightBeBanned =
      (c: org.apache.spark.sql.Column) =>
        graft.functions.BloomOps.might_contain(s, bf, c)
    val clean = docs.filter(!mightBeBanned(col("h")))
    val cleared = docs.filter(mightBeBanned(col("h")))
      .join(banned, Seq("h"), "left_anti")
    clean.unionByName(cleared)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("kept_docs"))
  }

  // ---- q141 source-overlap Jaccard matrix ----

  private val OvN = 8 // token-window width (the q113/q133 gram family)

  /** q141: exact pairwise Jaccard similarity of the distinct 8-token-
    * gram sets of every source pair — the corpus-diagnostics matrix a
    * curation pipeline reads before mixing sources (near-identical
    * sources are crawl mirrors; high-overlap pairs inflate dedup
    * pressure and double-count token budgets).
    *
    * Plan: distinct (source, gram-hash) via one map-side-combinable
    * aggregate; gram → sorted source set (bounded by the source count
    * S, a constant); per-gram pair explode fans out ≤ S(S−1)/2 rows
    * per DISTINCT gram; set sizes broadcast back onto the pair counts.
    * No self-join of the gram table and nothing corpus-scale after the
    * second shuffle — at 100 TB the pair stream is (distinct grams) ×
    * (a small constant), and both shuffles ship 8-byte hashes (the
    * native [[graft.functions.GramHashes]] loop), never gram strings.
    * Pairs with zero shared grams are absent from the output (inner
    * semantics — the oracle mirrors this).
    *
    * jaccard_ppm is integer fixed-point: `(|A∩B| · 10⁶) div |A∪B|`
    * (the q134 rule — no IEEE division anywhere near the oracle). */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val g = Tables.documents(s, d)
      .select(col("source"),
        explode(GramOps.gram_hashes(col("text"), OvN)).as("h"))
      .distinct()
    val sizes = g.groupBy("source").agg(count(lit(1)).as("sz"))
    g.groupBy("h").agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss)),
          |    b -> struct(a AS src_a, b AS src_b))))""".stripMargin)).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(
        col("source").as("src_a"), col("sz").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(
        col("source").as("src_b"), col("sz").as("n_b"))), Seq("src_b"))
      .withColumn("jaccard_ppm",
        expr("(inter * 1000000L) div (n_a + n_b - inter)"))
      .select("src_a", "src_b", "n_a", "n_b", "inter", "jaccard_ppm")
  }

  /** q150: temperature-mixed epoch construction (the T5/PaLM data
    * recipe): per-source sampling weights ∝ n_docs^(1/2) (temperature
    * flattening — α = 0.5 because IEEE sqrt is correctly rounded in
    * BOTH engines, so even the one non-integer step is bit-exact;
    * floor() before the int cast because DuckDB's double→int cast
    * ROUNDS while Spark's truncates), an epoch budget of half the
    * corpus, per-source target + admission rate in ppm, and the
    * DETERMINISTIC Bernoulli sample at that rate via the salted
    * polynomial doc hash (the q49/q125 device, but numeric: the
    * native gram hash and its pure-SQL twin compute the same value,
    * so the sampled membership — not just its size — is reproducible
    * across engines, runs, and partitionings).
    *
    * Output: (source, n_docs, w, share_ppm, target_docs, rate_ppm,
    * sampled_docs).
    *
    * Scale: two corpus aggregates + one broadcast join of a
    * sources-sized plan frame. The sample assignment is a pure
    * projection — at 100 TB the epoch materializes with zero
    * shuffles beyond the two counts. */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("source"), col("doc_id"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val w = counts.withColumn("w",
      expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
    val tot = w.agg(sum(col("w")).as("w_tot"), sum(col("n_docs")).as("n_tot"))
    val plan = w.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("(w * 1000000L) div w_tot"))
      .withColumn("target_docs",
        expr("least(n_docs, (share_ppm * (n_tot div 2)) div 1000000L)"))
      .withColumn("rate_ppm",
        expr("least(1000000L, (target_docs * 1000000L) div n_docs)"))
    val samp = element_at(graft.functions.GramOps.gram_hashes(
      concat(col("doc_id").cast("string"), lit(":mix")), 1), 1) % MixScale
    val sampled = docs.withColumn("samp", samp)
      .join(broadcast(plan.select("source", "rate_ppm")), Seq("source"))
      .filter(col("samp") < col("rate_ppm"))
      .groupBy("source").agg(count(lit(1)).as("sampled_docs"))
    // both sides are sources-sized; hint the build side so the final
    // stitch never SMJ-sorts (audited via graft.Explain)
    plan.join(broadcast(sampled), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("w"), col("share_ppm"),
        col("target_docs"), col("rate_ppm"),
        coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"))
  }

  private val MixScale = 1000000L

  /** q153: the WITH-REPLACEMENT epoch realization — q150 caps the
    * admission rate at 1 (pure subsampling); real temperature mixing
    * UPSAMPLES small sources past rate 1 (the T5 recipe). Per doc the
    * repeat count is `target div n` full copies plus one more iff the
    * salted doc hash lands under the fractional remainder — so the
    * realized per-source total is exact in expectation AND
    * deterministic in value, and every individual doc's multiplicity
    * reproduces across engines/partitionings. Output per source:
    * (source, n_docs, target_docs, base_reps, realized_docs) where
    * realized_docs = Σ per-doc repeats.
    *
    * Scale: identical shape to q150 — two aggregates + a broadcast
    * plan join; the repeat assignment is a projection (the actual
    * epoch materialization would `explode(sequence(1, reps))`, a
    * bounded map-side blow-up by construction). */
  def epochRealize(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("source"), col("doc_id"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val w = counts.withColumn("w",
      expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
    val tot = w.agg(sum(col("w")).as("w_tot"), sum(col("n_docs")).as("n_tot"))
    val plan = w.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("(w * 1000000L) div w_tot"))
      // NO least(n_docs, ·) cap: small sources upsample past 1×
      .withColumn("target_docs",
        expr("(share_ppm * (n_tot div 2)) div 1000000L"))
      .withColumn("base_reps", expr("target_docs div n_docs"))
      .withColumn("frac_ppm",
        expr("((target_docs * 1000000L) div n_docs) % 1000000L"))
    val samp = element_at(graft.functions.GramOps.gram_hashes(
      concat(col("doc_id").cast("string"), lit(":mix")), 1), 1) % MixScale
    docs.withColumn("samp", samp)
      .join(broadcast(plan), Seq("source"))
      .withColumn("reps",
        col("base_reps") + when(col("samp") < col("frac_ppm"), 1L)
          .otherwise(0L))
      .groupBy("source")
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("target_docs")).as("target_docs"),
        max(col("base_reps")).as("base_reps"),
        sum(col("reps")).as("realized_docs"))
  }

  /** q227: quality-mass selection — per source, keep the highest-
    * quality docs until 90% of the source's quality mass is covered
    * (the "top-p of the corpus" curation rule: spend the token budget
    * on the quality head, but let low-quality-heavy sources keep more
    * docs to reach the same mass). Quality = integer lexical diversity
    * (q151's fragment); the keep rule is boundary-deterministic: a doc
    * is kept iff the mass STRICTLY BEFORE it (by (q desc, doc_id)
    * order) is under 90% — so the doc crossing the threshold is kept
    * and ties are resolved by doc id, not arrival order.
    *
    * Scale: one map-side quality aggregate; the cumulative window
    * partitions by source (per-source scan, never global). */
  def qualityMass(s: SparkSession, d: String): DataFrame = {
    val qual = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_distinct"))
      .select(col("doc_id"), col("source"),
        expr("(n_distinct * 1000000L) div n_tokens").as("q"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = qual.groupBy(col("source"))
      .agg(sum(col("q")).as("total_q"), count(lit(1)).as("n_docs"))
    qual
      .withColumn("before", coalesce(sum(col("q")).over(w), lit(0L)))
      .join(tot, "source")
      .withColumn("kept", col("before") * 10 < col("total_q") * 9)
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("q")).otherwise(0L)).as("kept_q"),
        max(col("total_q")).as("total_q"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q227_quality_mass" -> qualityMass,
    "q124_heavy_hitters" -> heavyHitterWords,
    "q125_source_quota" -> sourceQuota,
    "q126_bloom_blocklist" -> ((s: SparkSession, d: String) =>
      bloomBlocklist(s, d)),
    "q130_grouped_heavy_hitters" -> groupedHeavyHitters,
    "q132_cooccur_heavy_hitters" -> cooccurHeavyHitters,
    "q141_source_overlap" -> sourceOverlap,
    "q150_temperature_mix" -> temperatureMix,
    "q153_epoch_realize" -> epochRealize)

  val oracle: Map[String, String] = Map(
    // q124/q130/q132 deliberately have NO oracle: sketch content is
    // merge-order dependent (rows-only check; bounds proven in
    // HeavyHittersSpec/CooccurSpec).
    "q227_quality_mass" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |qual AS (
        |  SELECT doc_id, source,
        |    CAST((COUNT(DISTINCT word) * 1000000) // COUNT(*) AS BIGINT)
        |      AS q
        |  FROM w GROUP BY doc_id, source),
        |tot AS (
        |  SELECT source, CAST(SUM(q) AS BIGINT) AS total_q,
        |    COUNT(*) AS n_docs
        |  FROM qual GROUP BY source),
        |cum AS (
        |  SELECT source, q,
        |    CAST(COALESCE(SUM(q) OVER (PARTITION BY source
        |      ORDER BY q DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS bf
        |  FROM qual)
        |SELECT cum.source, MAX(n_docs) AS n_docs,
        |  CAST(SUM(CASE WHEN bf * 10 < total_q * 9 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN bf * 10 < total_q * 9 THEN q ELSE 0 END)
        |    AS BIGINT) AS kept_q,
        |  MAX(total_q) AS total_q
        |FROM cum JOIN tot ON cum.source = tot.source
        |GROUP BY cum.source ORDER BY cum.source""".stripMargin,
    "q125_source_quota" ->
      s"""WITH ranked AS (
         |  SELECT source, lang, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY substr(md5(doc_id || ':quota'), 1, 13), doc_id) AS rn
         |  FROM documents)
         |SELECT source, COUNT(*) AS kept_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
         |  COUNT(DISTINCT lang) AS kept_langs
         |FROM ranked WHERE rn <= $QuotaCap
         |GROUP BY source""".stripMargin,
    "q126_bloom_blocklist" ->
      """SELECT source, lang, COUNT(*) AS kept_docs
        |FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents b
        |  WHERE b.source = 'src0' AND md5(b.text) = md5(d.text))
        |GROUP BY source, lang""".stripMargin,
    // hashes evaluate once per DISTINCT gram string (the NOTES_r6
    // oracle-cost rule), then Jaccard works on the hash sets exactly
    // like the Spark side
    "q141_source_overlap" -> ({
      val hash = OracleHash.polySql("g")
      s"""WITH toks AS (
         |  SELECT source, string_split(text, ' ') AS t FROM documents),
         |idx AS (
         |  SELECT source, t,
         |    unnest(generate_series(1, len(t) - ${OvN - 1})) AS i
         |  FROM toks),
         |gstr AS (
         |  SELECT DISTINCT source,
         |    array_to_string(t[i:i + ${OvN - 1}], ' ') AS g
         |  FROM idx),
         |gv AS MATERIALIZED (SELECT DISTINCT g FROM gstr),
         |gh AS MATERIALIZED (SELECT g, $hash AS h FROM gv),
         |sg AS (SELECT DISTINCT source, h FROM gstr JOIN gh USING (g)),
         |sz AS (SELECT source, COUNT(*) AS sz FROM sg GROUP BY source),
         |iv AS (
         |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
         |  FROM sg a JOIN sg b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, sa.sz AS n_a, sb.sz AS n_b,
         |  CAST(inter AS BIGINT) AS inter,
         |  (CAST(inter AS BIGINT) * 1000000)
         |    // (sa.sz + sb.sz - inter) AS jaccard_ppm
         |FROM iv
         |JOIN sz sa ON sa.source = iv.src_a
         |JOIN sz sb ON sb.source = iv.src_b""".stripMargin
    }),
    "q150_temperature_mix" ->
      s"""WITH c AS (
         |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
         |w AS (
         |  SELECT source, n_docs,
         |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
         |  FROM c),
         |t AS (SELECT CAST(SUM(w) AS BIGINT) AS w_tot,
         |             CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM w),
         |p AS (
         |  SELECT source, n_docs, w,
         |    (w * 1000000) // w_tot AS share_ppm, n_tot FROM w, t),
         |p2 AS (
         |  SELECT source, n_docs, w, share_ppm,
         |    LEAST(n_docs, (share_ppm * (n_tot // 2)) // 1000000)
         |      AS target_docs
         |  FROM p),
         |p3 AS (
         |  SELECT *, LEAST(1000000, (target_docs * 1000000) // n_docs)
         |    AS rate_ppm
         |  FROM p2),
         |sm AS (
         |  SELECT d.source, COUNT(*) AS sampled_docs
         |  FROM documents d JOIN p3 ON d.source = p3.source
         |  WHERE (${OracleHash.polySql("(CAST(doc_id AS VARCHAR) || ':mix')")})
         |    % 1000000 < rate_ppm
         |  GROUP BY d.source)
         |SELECT p3.source, n_docs, w,
         |  CAST(share_ppm AS BIGINT) AS share_ppm,
         |  CAST(target_docs AS BIGINT) AS target_docs,
         |  CAST(rate_ppm AS BIGINT) AS rate_ppm,
         |  CAST(COALESCE(sampled_docs, 0) AS BIGINT) AS sampled_docs
         |FROM p3 LEFT JOIN sm ON p3.source = sm.source""".stripMargin,
    "q153_epoch_realize" ->
      s"""WITH c AS (
         |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
         |w AS (
         |  SELECT source, n_docs,
         |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
         |  FROM c),
         |t AS (SELECT CAST(SUM(w) AS BIGINT) AS w_tot,
         |             CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM w),
         |p AS (
         |  SELECT source, n_docs,
         |    (((w * 1000000) // w_tot) * (n_tot // 2)) // 1000000
         |      AS target_docs
         |  FROM w, t),
         |p2 AS (
         |  SELECT source, n_docs, target_docs,
         |    target_docs // n_docs AS base_reps,
         |    ((target_docs * 1000000) // n_docs) % 1000000 AS frac_ppm
         |  FROM p)
         |SELECT d.source,
         |  CAST(MAX(n_docs) AS BIGINT) AS n_docs,
         |  CAST(MAX(target_docs) AS BIGINT) AS target_docs,
         |  CAST(MAX(base_reps) AS BIGINT) AS base_reps,
         |  CAST(SUM(base_reps + CASE WHEN
         |      (${OracleHash.polySql("(CAST(doc_id AS VARCHAR) || ':mix')")})
         |        % 1000000 < frac_ppm THEN 1 ELSE 0 END) AS BIGINT)
         |    AS realized_docs
         |FROM documents d JOIN p2 ON d.source = p2.source
         |GROUP BY d.source""".stripMargin)
}
