package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import graft.functions.VecOps.{vec_cosine, vec_dot, vec_norm}
import graft.operators.Skew
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search operators over the `embeddings` table
  * (`Array[Float]`, 64-dim): brute-force cosine top-k as the baseline and
  * a random-hyperplane LSH bucketing as the scale path, plus per-cluster
  * stats and thresholded pair search.
  *
  * Exactness: every dot product is a SEQUENTIAL left fold over the array
  * in doubles — `functions.aggregate(zip_with(...))` in Spark,
  * `list_sum(list_transform(list_zip(...)))` in the DuckDB oracle — which
  * agree bit-for-bit (verified; DuckDB's builtin `list_inner_product`
  * computes in float and does NOT). Array-order folding also means results
  * are independent of row order / parallelism, unlike a cross-row double
  * sum.
  *
  * Scale notes (100 TB): brute-force top-k broadcasts the query vector and
  * is one scan + a k-size heap (`ORDER BY ... LIMIT k` → TakeOrdered);
  * LSH bucketing maps each vector to sign-bit buckets so candidate
  * search touches only same-bucket vectors (shuffle on bucket, not n²).
  */
object VectorOps {

  // Dot/norm/cosine are the native codegen'd expressions in
  // graft.functions.VecDot — bit-identical to the sequential
  // aggregate(zip_with(...)) double fold, ~50x faster (no intermediate
  // array per pair).

  /** Deterministic ±1 hyperplane coefficients derived from md5 — the same
    * bytes any engine's md5 produces, so the oracle can embed identical
    * literals. */
  private[queries] def planeCoeffs(nPlanes: Int, dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dims) { (p, j) =>
      val hex = md.digest(s"plane:$p:dim:$j".getBytes("UTF-8"))
      md.reset()
      if ((hex(0) & 0x80) == 0) 1.0 else -1.0
    }
  }
  private val NPlanes = 8
  private val Dims = 64
  private val Planes = planeCoeffs(NPlanes, Dims)

  /** Per-cluster stats: count + min/max L2 norm (order-free aggregates of
    * bit-exact per-row norms). */
  def embeddingStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), vec_norm(col("embedding")).as("nrm"),
        size(col("embedding")).cast("long").as("dims"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), max(col("dims")).as("dims"),
        min(col("nrm")).as("min_norm"), max(col("nrm")).as("max_norm"))

  /** Brute-force cosine top-k against a query vector (vec_id 0): the
    * exact-ANN baseline. Broadcasts the single query row; `LIMIT k` plans
    * as TakeOrdered (per-partition heap + driver merge — no full sort). */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    // limit(1): the query is one vector by contract — keeps a corpus
    // with replicated ids (×N probe tables) from inflating the
    // broadcast side N× (same pin as q131; identical on clean data)
    val q = e.filter(col("vec_id") === 0).limit(1)
      .select(col("embedding").as("qemb"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        vec_cosine(col("embedding"), col("qemb")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Random-hyperplane LSH (SimHash for embeddings): 8 sign bits → bucket.
    * The scale path for near-neighbor search — candidates share a bucket. */
  def annLshBuckets(s: SparkSession, d: String): DataFrame = {
    val bits = Planes.map { coeffs =>
      when(vec_dot(col("embedding"), typedlit(coeffs.toSeq)) >= 0, "1").otherwise("0")
    }
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), concat(bits.toIndexedSeq: _*).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec_id"),
        countDistinct(col("label")).as("n_labels"))
  }

  /** Thresholded cosine pair detection (embedding-cosine near-dup),
    * candidates→verifier wired end to end: the 8 hyperplane sign bits
    * (same planes as q34) split into 4 bands of 2 bits, and a pair is a
    * candidate iff it agrees on ALL bits of AT LEAST one band — the
    * classic OR-amplified LSH. Candidates equi-join on (band, value) —
    * one shuffle, sub-quadratic, no BroadcastNestedLoopJoin — then the
    * verifier computes the exact dot on L2-normalized vectors (done once
    * per row). Recall model: P[band agrees] = (1−θ/π)², amplified over 4
    * bands ≈ 0.89 at cos 0.45 and ≈ 0.995 at the 0.9 a real near-dup
    * corpus would use; the oracle applies the identical band condition
    * so the check is exact. Threshold 0.45 because this synthetic corpus
    * is near-orthogonal.
    *
    * Recall evidence (not just the model): VectorOpsSpec ("band-LSH
    * cosinePairs recall") measures recall against the exact brute-force
    * pair set at thresholds 0.3 (990 true pairs) and 0.45 on sf0.01 and
    * asserts it within tolerance of the mean analytic per-pair capture
    * probability 1−(1−(1−θ/π)²)⁴; measured deviation is < 0.5σ at both
    * thresholds, and the spec also asserts the LSH output is a strict
    * subset of the exact set — so the q35 oracle (which mirrors the band
    * predicate exactly) is backed by a measured-recall check against the
    * exact formulation. */
  def cosinePairs(s: SparkSession, d: String): DataFrame =
    cosinePairs(s, d, 0.45)

  def cosinePairs(s: SparkSession, d: String, thr: Double): DataFrame = {
    val bits = Planes.map { coeffs =>
      when(vec_dot(col("embedding"), typedlit(coeffs.toSeq)) >= 0, "1").otherwise("0")
    }
    val nrm = vec_norm(col("embedding"))
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), concat(bits.toIndexedSeq: _*).as("bucket"),
        transform(col("embedding"), x => x.cast("double") / nrm).as("ne"))
    val bandCols = (0 until 4).map { i =>
      struct(lit(i).as("band"), substring(col("bucket"), i * 2 + 1, 2).as("bval"))
    }
    // materialize once: the banded frame (8 hyperplane dots + an L2
    // normalize per vector) otherwise re-evaluates on both join legs.
    // kb sizes the per-bucket salt split in the same pass
    // (Skew.blockCells): the banded self-join is CPU-quadratic (one
    // 64-dim vec_dot per candidate pair) behind a byte-tiny exchange,
    // which AQE otherwise coalesces to ONE task (measured r16: 0.82 s
    // single-task stage carrying every dot).
    val banded = base
      .select(col("vec_id"), col("ne"), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("ne"),
        col("bb.band").as("band"), col("bb.bval").as("bval"))
      .withColumn("kb", Skew.blockCells(col("band"), col("bval")))
      .stable()
    // probe salts by its vec_id; build is replicated to every cell, so
    // each pair meets exactly in the SMALLER vec_id's cell (the
    // vec_a < vec_b filter below)
    val (a, b) = Skew.blockSaltedSides(
      banded.select(col("band"), col("bval"), col("vec_id").as("vec_a"),
        col("ne").as("na"), col("kb")),
      banded.select(col("band"), col("bval"), col("vec_id").as("vec_b"),
        col("ne").as("nb"), col("kb")),
      Seq("band", "bval"), col("vec_a"))
    a.join(b, Seq("band", "bval", "salt"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        vec_dot(col("na"), col("nb")).as("cos_sim"))
      .filter(col("cos_sim") >= thr)
      // the dot fold is deterministic, so multi-band duplicates are
      // bit-identical rows — distinct dedups them exactly
      .distinct()
  }

  /** q114: embedding near-dup dedup chain — the cosine analog of the
    * shingle (q57) and MinHash (q110) chains: banded-LSH candidate
    * pairs at the q35 threshold → connected components → keep one
    * representative per cluster, reported per label. Reuses
    * [[Components.of]] (driver union-find at or below its edge cutoff,
    * the large-star/small-star loop above it), so the scale posture is
    * the same as the text chains'. */
  def embeddingDedup(s: SparkSession, d: String): DataFrame = {
    val pairs = cosinePairs(s, d, 0.45)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val drops = Components.of(s, pairs)
      .filter(!col("is_kept"))
      .select(col("doc_id").as("vec_id"), lit(true).as("dropped"))
    Tables.embeddings(s, d)
      .join(drops, Seq("vec_id"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("dropped").isNull, 1L).otherwise(0L)).as("n_kept"))
  }

  /** q129: int8 vector quantization + quantized top-k — the memory/
    * shuffle-compression path every 100 TB ANN index takes (4× fewer
    * bytes per vector than float32; the integer dot also SIMD-executes
    * where float doesn't). Per-vector max-abs scaling: q_i =
    * floor(x_i·127/maxabs + 0.5), approx dot = Σ q_a·q_b · s_a·s_b with
    * s = maxabs/127. The integer dot is EXACT arithmetic (|Σ| ≤
    * 64·127² < 2^20), the scale product is a deterministic IEEE chain
    * both engines state identically, so the ranking — and the oracle —
    * are exact; the exact float dot rides alongside to exhibit the
    * quantization error. QuantizedTopKSpec asserts the top-10 overlap
    * vs the exact ranking and the per-row relative-error bound. */
  // qv is array<double> of exact small integers (|q_i| ≤ 127) so the
  // quantized dot runs through the NATIVE codegen'd VecDot loop —
  // every product and partial sum ≤ 64·127² < 2^20 is exactly
  // representable, so the double fold IS integer arithmetic. (The
  // per-row quantize cost is a one-time index-build step in a real ANN
  // deployment, amortized over every query.) clamp: an all-zero
  // embedding makes max-abs 0 and the quantize divide NaN (and engines
  // disagree on x/0) — clamped, it quantizes to the zero vector with
  // dot 0, identically in both engines. Shared with the quantized IVF
  // composition (q131, SimHashIvf).
  private[queries] def withQuantized(df: DataFrame): DataFrame =
    df.withColumn("ma", greatest(
        array_max(transform(col("embedding"), x => abs(x.cast("double")))),
        lit(1e-12)))
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * 127.0 / col("ma") + 0.5).cast("double")))
      .withColumn("scale", col("ma") / 127.0)

  def quantizedTopK(s: SparkSession, d: String): DataFrame = {
    val e = withQuantized(Tables.embeddings(s, d))
    // limit(1): one query vector by contract (the q33/q131 pin)
    val q = e.filter(col("vec_id") === 0).limit(1)
      .select(col("qv").as("qq"), col("scale").as("qscale"),
        col("embedding").as("qemb"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        vec_dot(col("qv"), col("qq")).as("qdot_d"),
        col("scale"), col("qscale"),
        vec_dot(col("embedding"), col("qemb")).as("exact_dot"))
      .withColumn("approx_dot",
        col("qdot_d") * col("scale") * col("qscale"))
      .select(col("vec_id"), col("label"),
        col("qdot_d").cast("long").as("qdot"), col("approx_dot"),
        col("exact_dot"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
      .limit(10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_embedding_stats" -> embeddingStats,
    "q33_cosine_topk" -> cosineTopK,
    "q34_ann_lsh_buckets" -> annLshBuckets,
    "q35_cosine_pairs" -> ((s, d) => cosinePairs(s, d)),
    "q114_embedding_dedup" -> embeddingDedup,
    "q129_quantized_topk" -> quantizedTopK)

  // DuckDB oracle twins. The fold shape mirrors Spark exactly.
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private def duckNormSq(a: String): String =
    s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
  private def duckCos(a: String, b: String): String =
    s"${duckDot(a, b)} / (sqrt(${duckNormSq(a)}) * sqrt(${duckNormSq(b)}))"
  private def planeLit(p: Int): String =
    Planes(p).map(c => if (c > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  val oracle: Map[String, String] = Map(
    "q32_embedding_stats" ->
      s"""WITH base AS (
         |  SELECT label, CAST(len(embedding) AS BIGINT) AS dims,
         |    sqrt(${duckNormSq("embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT label, COUNT(*) AS n_vecs, MAX(dims) AS dims,
         |  MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
         |FROM base GROUP BY label""".stripMargin,
    "q33_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ${duckCos("embedding", "qemb")} AS cos_sim
         |FROM embeddings, q WHERE vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "q34_ann_lsh_buckets" -> {
      val bitExprs = (0 until NPlanes).map { p =>
        s"CASE WHEN ${duckDot("embedding", planeLit(p))} >= 0 THEN '1' ELSE '0' END"
      }.mkString(" || ")
      s"""WITH base AS (SELECT vec_id, label, $bitExprs AS bucket FROM embeddings)
         |SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id,
         |  COUNT(DISTINCT label) AS n_labels
         |FROM base GROUP BY bucket""".stripMargin
    },
    "q35_cosine_pairs" -> {
      val bitExprs = (0 until NPlanes).map { p =>
        s"CASE WHEN ${duckDot("embedding", planeLit(p))} >= 0 THEN '1' ELSE '0' END"
      }.mkString(" || ")
      val bandOr = (0 until 4).map { i =>
        s"substr(a.bucket, ${i * 2 + 1}, 2) = substr(b.bucket, ${i * 2 + 1}, 2)"
      }.mkString(" OR ")
      s"""WITH nrm AS (
         |  SELECT vec_id, $bitExprs AS bucket,
         |    list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) / sqrt(${duckNormSq("embedding")})) AS ne
         |  FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${duckDot("a.ne", "b.ne")} AS cos_sim
         |FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
         |  AND ($bandOr)
         |WHERE ${duckDot("a.ne", "b.ne")} >= 0.45""".stripMargin
    },
    "q114_embedding_dedup" -> {
      val bitExprs = (0 until NPlanes).map { p =>
        s"CASE WHEN ${duckDot("embedding", planeLit(p))} >= 0 THEN '1' ELSE '0' END"
      }.mkString(" || ")
      val bandOr = (0 until 4).map { i =>
        s"substr(a.bucket, ${i * 2 + 1}, 2) = substr(b.bucket, ${i * 2 + 1}, 2)"
      }.mkString(" OR ")
      s"""WITH RECURSIVE nrm AS (
         |  SELECT vec_id, $bitExprs AS bucket,
         |    list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) / sqrt(${duckNormSq("embedding")})) AS ne
         |  FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
         |    AND ($bandOr)
         |  WHERE ${duckDot("a.ne", "b.ne")} >= 0.45),
         |${Advanced.ccCte},
         |reps AS (
         |  SELECT n.doc_id, LEAST(n.doc_id, MIN(r.v)) AS cluster_rep
         |  FROM nodes n JOIN reach r ON r.u = n.doc_id GROUP BY n.doc_id),
         |drops AS (SELECT doc_id FROM reps WHERE doc_id <> cluster_rep)
         |SELECT label, COUNT(*) AS n_vecs,
         |  CAST(SUM(CASE WHEN vec_id IN (SELECT doc_id FROM drops)
         |    THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
         |FROM embeddings GROUP BY label""".stripMargin
    },
    "q129_quantized_topk" ->
      s"""WITH b AS (
         |  SELECT vec_id, label, embedding,
         |    greatest(list_max(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS ma
         |  FROM embeddings),
         |qz AS (
         |  SELECT vec_id, label, embedding, ma / 127.0 AS scale,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5)
         |        AS BIGINT)) AS qv
         |  FROM b),
         |q AS (SELECT qv AS qq, scale AS qscale, embedding AS qemb
         |  FROM qz WHERE vec_id = 0),
         |sel AS (
         |  SELECT vec_id, label,
         |    CAST(list_sum(list_transform(list_zip(qv, qq),
         |      x -> x[1] * x[2])) AS BIGINT) AS qdot,
         |    scale, qscale,
         |    ${duckDot("embedding", "qemb")} AS exact_dot
         |  FROM qz, q WHERE vec_id <> 0)
         |SELECT vec_id, label, qdot,
         |  CAST(qdot AS DOUBLE) * scale * qscale AS approx_dot, exact_dot
         |FROM sel ORDER BY approx_dot DESC, vec_id LIMIT 10""".stripMargin)
}
