package graft.queries

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PipelineOps invariants beyond the DuckDB hash gate (q116/q117/q118):
  * properties that must hold on ANY corpus, checked at sf0.001. */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val d = "/root/testdata/sf0.001"

  test("decontamination: totals partition the corpus, fractions consistent") {
    val rows = PipelineOps.decontamination(spark, d).collect()
    val trainTotal = rows.map(_.getLong(1)).sum
    val corpus = graft.Tables.documents(spark, d).count()
    val bench = graft.Tables.documents(spark, d)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < "2").count()
    assert(trainTotal == corpus - bench,
      "per-lang train totals must cover exactly the non-benchmark docs")
    rows.foreach { r =>
      val (train, cont, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(cont >= 0 && cont <= train)
      assert(frac == cont.toDouble / train)
    }
  }

  test("decontamination: a doc sharing zero benchmark 8-grams is never flagged") {
    // recompute the flag set directly: contaminated docs must all share
    // at least one 8-gram with some benchmark doc
    val toks = split(col("text"), " ")
    val gramArr = when(size(toks) >= 8,
      transform(sequence(lit(1), size(toks) - 7),
        i => concat_ws(" ", slice(toks, i, lit(8))))).otherwise(array())
    val g = graft.Tables.documents(spark, d)
      .select(col("doc_id"), explode(gramArr).as("gram"),
        (substring(md5(col("doc_id").cast("string")), 1, 1) < "2").as("bench"))
    val benchGrams = g.filter(col("bench")).select("gram").distinct()
    val expected = g.filter(!col("bench"))
      .join(benchGrams, Seq("gram"), "left_semi")
      .select("doc_id").distinct().count()
    val reported = PipelineOps.decontamination(spark, d)
      .agg(sum("contaminated_docs")).collect()(0).getLong(0)
    assert(reported == expected)
  }

  test("gopher rules: pass_all <= each rule count <= docs; corpus covered") {
    val rows = PipelineOps.gopherQuality(spark, d).collect()
    val docs = rows.map(r => r.getLong(r.fieldIndex("docs"))).sum
    assert(docs == graft.Tables.documents(spark, d).count())
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("docs"))
      val passes = Seq("pass_count", "pass_word_len", "pass_repetition",
        "pass_stopwords").map(c => r.getLong(r.fieldIndex(c)))
      val all = r.getLong(r.fieldIndex("pass_all"))
      passes.foreach(p => assert(p >= 0 && p <= n))
      assert(all <= passes.min, "pass_all cannot exceed any single rule")
    }
  }

  test("gopher rules: the filter is not degenerate on this corpus") {
    val agg = PipelineOps.gopherQuality(spark, d)
      .agg(sum("docs"), sum("pass_all")).collect()(0)
    val (n, pass) = (agg.getLong(0), agg.getLong(1))
    assert(pass > 0 && pass < n,
      s"expected a discriminating filter, got $pass/$n passes")
  }

  test("curated corpus: covers exactly the non-benchmark docs; kept is a subset chain") {
    val rows = PipelineOps.curatedCorpus(spark, d).collect()
    val docsIn = rows.map(r => r.getLong(r.fieldIndex("docs_in"))).sum
    val bench = graft.Tables.documents(spark, d)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < "2").count()
    assert(docsIn == graft.Tables.documents(spark, d).count() - bench)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("docs_kept")) <= r.getLong(r.fieldIndex("docs_in")))
    }
    // the chain can only keep docs that pass the rules: its global kept
    // count is bounded by the (whole-corpus) Gopher pass_all total
    val kept = rows.map(r => r.getLong(r.fieldIndex("docs_kept"))).sum
    val passAll = PipelineOps.gopherQuality(spark, d)
      .agg(sum("pass_all")).collect()(0).getLong(0)
    assert(kept <= passAll)
  }

  test("quality sampling: buckets partition the corpus, 4-rule bucket keeps all") {
    val rows = PipelineOps.qualitySampling(spark, d).collect()
    val docs = rows.map(r => r.getLong(r.fieldIndex("docs"))).sum
    assert(docs == graft.Tables.documents(spark, d).count())
    rows.foreach { r =>
      val (n, k) = (r.getLong(r.fieldIndex("docs")), r.getLong(r.fieldIndex("docs_kept")))
      assert(k >= 0 && k <= n)
      // threshold 'g' sorts above every hex digit: the top bucket is
      // deterministically kept in full
      if (r.getInt(r.fieldIndex("n_rules")) == 4) assert(k == n)
    }
  }

  test("q144: the learned gate changes membership beyond the rule gates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q144").toString
    // Four 20-doc classes on an LM-quality gradient, ALL constructed to
    // pass every q119 rule gate (20+ tokens, sane word lengths, low
    // repetition, >=2 stopwords, distinct texts) AND to share no 8-gram
    // across docs (a doc-specific salt token at least every 6 positions),
    // so rule-kept membership is total and any drop below it is the
    // classifier's alone. Deterministic token soup — no RNG.
    def junk(doc: Int, n: Int, tag: String) =
      (1 to n).map(j => s"$tag${doc}x$j")
    def salted(doc: Int, tag: String, fluent: Seq[String]): String = {
      // interleave a salt token after every 5 fluent tokens
      fluent.grouped(5).zipWithIndex
        .flatMap { case (g, k) => g :+ s"$tag${doc}s$k" }.mkString(" ")
    }
    val fluent = ("the quick brown fox jumps over the lazy dog and " +
      "it sat on the mat while the sun was warm today").split(" ").toSeq
    val clean = (0 until 20).map { i =>
      (i.toLong, salted(i, "c", fluent), "clean") }
    val semi = (0 until 20).map { i =>
      (100L + i, salted(i, "s", fluent.take(10) ++ junk(i, 10, "sj")), "semi") }
    val low = (0 until 20).map { i =>
      (200L + i,
        salted(i, "l", fluent.take(4) ++ Seq("and") ++ junk(i, 15, "lj")),
        "low") }
    val garbage = (0 until 20).map { i =>
      (300L + i, salted(i, "g", Seq("the", "and") ++ junk(i, 18, "gj")),
        "garbage") }
    (clean ++ semi ++ low ++ garbage)
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = PipelineOps.curatedCorpusLearned(spark, dir).collect()
      .map(r => r.getString(r.fieldIndex("source")) ->
        (r.getLong(r.fieldIndex("docs_in")),
          r.getLong(r.fieldIndex("docs_kept_rules")),
          r.getLong(r.fieldIndex("docs_kept")))).toMap
    // the fixture passes every rule gate: rules keep everything in scope
    got.foreach { case (src, (in, rules, kept)) =>
      assert(rules == in, s"$src: rule gates were meant to pass all: $got")
      assert(kept <= rules)
    }
    // the learned gate keeps the clean source and drops the garbage one —
    // membership the rule gates alone cannot change
    assert(got("clean")._2 > 0 && got("clean")._3 == got("clean")._2,
      s"clean fully kept: $got")
    assert(got("garbage")._2 > 0 && got("garbage")._3 == 0,
      s"garbage fully dropped by the classifier: $got")
    // q144's rule column agrees with q119 exactly (same gates frame)
    val q119 = PipelineOps.curatedCorpus(spark, dir).collect()
      .map(r => r.getString(r.fieldIndex("source")) ->
        r.getLong(r.fieldIndex("docs_kept"))).toMap
    got.foreach { case (src, (_, rules, _)) => assert(q119(src) == rules) }
  }

  test("semdedup: kept <= vecs, threshold monotone, thr>1 keeps everything") {
    val base = PipelineOps.semDedup(spark, d).collect()
    base.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_kept")) <= r.getLong(r.fieldIndex("n_vecs")))
    }
    val keptAt = (thr: Double) => PipelineOps.semDedup(spark, d, thr)
      .agg(sum("n_kept")).collect()(0).getLong(0)
    val total = PipelineOps.semDedup(spark, d)
      .agg(sum("n_vecs")).collect()(0).getLong(0)
    // cosine of two unit vectors never exceeds 1: nothing can be dropped
    assert(keptAt(1.01) == total)
    // loosening the threshold can only drop MORE vectors
    assert(keptAt(0.3) <= keptAt(0.45))
    assert(keptAt(0.45) <= keptAt(0.9))
  }

  test("semdedup: drops are cluster-local — one representative per cluster") {
    // With a threshold below -1 every within-cluster pair "matches", so
    // exactly the non-minimum vec of every cluster is dropped: the kept
    // count equals the number of GLOBALLY distinct clusters (note the
    // per-label n_clusters column double-counts label-spanning clusters,
    // so the comparison must use the cluster frame itself).
    val kept = PipelineOps.semDedup(spark, d, -1.01)
      .agg(sum("n_kept")).collect()(0).getLong(0)
    val clusters = PipelineOps.semClusters(spark, d)
      .select("cluster").distinct().count()
    assert(kept == clusters,
      "at thr < -1 exactly one representative per cluster survives")
  }
}
