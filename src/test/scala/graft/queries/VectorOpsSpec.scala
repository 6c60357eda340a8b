package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class VectorOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("IVF nprobe=1 results are a subset of the full ranking with identical sims") {
    val brute = VectorOps.queries("q33_cosine_topk")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val full = {
      import graft.functions.VecOps._
      import org.apache.spark.sql.functions._
      val e = graft.Tables.embeddings(spark, sf)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qemb"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), vec_cosine(col("embedding"), col("qemb")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val ivf = SimHashIvf.queries("q39_ann_ivf")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2))
    // every IVF hit carries the exact brute-force similarity
    assert(ivf.forall { case (id, s) => full(id) == s })
    // brute-force top-10 values come from the full ranking too
    assert(brute.forall { case (id, s) => full(id) == s })
  }

  test("band-LSH cosinePairs recall matches the analytic capture probability") {
    val sfDir = "/root/testdata/sf0.01" // 500 vectors → 990 true pairs at thr 0.3
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    // the same sequential-double left fold as VecDot — bit-identical dots
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val normed = vecs.map { case (id, v) =>
      val d = v.map(_.toDouble)
      val nrm = math.sqrt(dot(d, d))
      id -> d.map(_ / nrm)
    }
    for (thr <- Seq(0.3, 0.45)) {
      // exact brute-force true-pair set at this threshold
      val truePairs = (for {
        i <- normed.indices.iterator
        j <- ((i + 1) until normed.length).iterator
        c = dot(normed(i)._2, normed(j)._2) if c >= thr
      } yield (normed(i)._1, normed(j)._1) -> c).toVector
      val captured = VectorOps.cosinePairs(spark, sfDir, thr)
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // bands only ever DROP pairs: LSH output ⊆ exact set
      assert(captured.subsetOf(truePairs.map(_._1).toSet),
        s"thr=$thr: LSH emitted a pair the exact formulation does not contain")
      val n = truePairs.size
      val measured = truePairs.count(p => captured(p._1)).toDouble / n
      // analytic per-pair capture probability for 4 OR'd 2-bit bands:
      // 1 − (1 − (1 − θ/π)²)⁴ with θ the pair's angle
      val ps = truePairs.map { case (_, c) =>
        val theta = math.acos(math.min(c, 1.0))
        1.0 - math.pow(1.0 - math.pow(1.0 - theta / math.Pi, 2), 4)
      }
      val expected = ps.sum / n
      val sigma = math.sqrt(ps.map(p => p * (1 - p)).sum) / n
      // 5σ + a floor: pairs share the 8 deterministic hyperplanes, so
      // deviations are correlated beyond the iid binomial σ (measured
      // dev is < 0.5σ at both thresholds on this corpus)
      val tol = math.max(5 * sigma, 0.06)
      assert(math.abs(measured - expected) <= tol,
        f"thr=$thr: measured recall $measured%.4f vs analytic $expected%.4f " +
          f"(n=$n, tol=$tol%.4f)")
    }
  }

  test("simhash of identical docs is identical; fingerprints fit in 16 bits") {
    val sh = SimHashIvf.simhash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh.values.forall(v => v >= 0 && v < (1 << 16)))
    // documents with identical text must collide (dup detection property)
    import spark.implicits._
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val byText = texts.groupBy(_._2).values.filter(_.size > 1)
    byText.foreach { grp =>
      val fps = grp.keys.map(sh).toSet
      assert(fps.size == 1)
    }
  }
}
