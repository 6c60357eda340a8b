package graft.queries

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF over TRAINED centroids: the invariants below hold for ANY
  * centroid set, so they pin the assignment/probe machinery without
  * depending on what Lloyd's converged to; the trained-vs-seed recall
  * comparison is reported through an assertion generous enough to be
  * noise-proof but tight enough to catch a broken assignment. */
class TrainedIvfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private lazy val trained = SimHashIvf.kmeansTrain(spark, sf, 5)._1

  private def bruteTop10: Set[Long] = {
    VectorOps.cosineTopK(spark, sf).collect().map(_.getLong(0)).toSet
  }

  test("trained cells partition the data") {
    import graft.functions.VecOps.vec_dot
    val k = trained.length
    val scores = (0 until k).map { c =>
      val half = trained(c).map(v => v * v).sum / 2
      vec_dot(col("embedding"), typedlit(trained(c).toSeq)) - lit(half)
    }
    val best = greatest(scores: _*)
    val cell = (0 until k).foldRight(lit(-1)) { (c, acc) =>
      when(scores(c) === best, lit(c)).otherwise(acc)
    }
    val counts = graft.Tables.embeddings(spark, sf)
      .select(cell.as("cell")).groupBy("cell").count().collect()
    assert(counts.forall(r => r.getInt(0) >= 0 && r.getInt(0) < k),
      "an unassigned (-1) cell means the argmax fold broke")
    assert(counts.map(_.getLong(1)).sum ==
      graft.Tables.embeddings(spark, sf).count())
  }

  test("probing all K trained cells is exactly brute force") {
    val all = SimHashIvf.annIvfWith(spark, sf, trained, trained.length)
      .collect().map(_.getLong(0)).toSet
    assert(all == bruteTop10)
  }

  test("recall is monotone in nprobe; trained beats-or-matches seed at 2") {
    val exact = bruteTop10
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      (df.collect().map(_.getLong(0)).toSet & exact).size / 10.0
    val recalls = Seq(1, 2, 4, 8).map(np =>
      recall(SimHashIvf.annIvfWith(spark, sf, trained, np)))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"not monotone: $recalls")
    assert(recalls.last == 1.0)
    // data-fitted cells should not LOSE to the ±1 seed quantizer at the
    // same probe budget; allow one-hit noise either way
    val seed2 = recall(SimHashIvf.annIvfMultiProbe(spark, sf))
    assert(recalls(1) >= seed2 - 0.1,
      s"trained nprobe=2 recall ${recalls(1)} collapsed vs seed $seed2")
  }

  test("quantized × trained composition: monotone, full scan at K") {
    val k = trained.length
    val got = SimHashIvf.quantizedIvfTrained(spark, sf, Seq(1, 2, k))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(got(k)._1 == n - 1, "nprobe=K must scan every vector")
    val recalls = Seq(1, 2, k).map(got(_)._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"not monotone: $recalls")
    // at nprobe=K the probe vanishes: ranking is the q129 quantized
    // brute force, whose exact-top-10 overlap is the quantization
    // error alone (QuantizedTopKSpec pins ≥ 8/10 for the seed path)
    assert(got(k)._2 >= 0.7, s"full-scan quantized recall ${got(k)._2}")
  }
}
