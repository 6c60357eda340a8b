package graft.queries

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q129 beyond the oracle row: the analytic quantization-error bound
  * holds row by row, and the quantized ranking recovers (almost all of)
  * the exact-dot top-10. With per-vector max-abs int8 scaling,
  * |approx − exact| ≤ (s_b/2)·Σ|a_i| + (s_a/2)·Σ|b_i| + d·s_a·s_b/4
  * (each quantized element is within half a step of the true one). */
class QuantizedTopKSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def l1(c: org.apache.spark.sql.Column) =
    aggregate(transform(c, x => abs(x.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  test("quantization error stays inside the analytic half-step bound") {
    val e = graft.Tables.embeddings(spark, sf)
      .withColumn("ma",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn("l1", l1(col("embedding")))
    val q = e.filter(col("vec_id") === 0)
      .select(col("ma").as("qma"), col("l1").as("ql1"),
        col("embedding").as("qemb"))
    val rows = VectorOps.quantizedTopK(spark, sf)
      .join(e.select(col("vec_id"), col("ma"), col("l1")), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("approx_dot"), col("exact_dot"),
        col("ma"), col("l1"), col("qma"), col("ql1"))
      .collect()
    assert(rows.length == 10)
    val d = 64.0
    rows.foreach { r =>
      val (sa, sb) = (r.getDouble(3) / 127.0, r.getDouble(5) / 127.0)
      val bound = sb / 2 * r.getDouble(4) + sa / 2 * r.getDouble(6) +
        d * sa * sb / 4
      val err = math.abs(r.getDouble(1) - r.getDouble(2))
      assert(err <= bound,
        s"vec ${r.getLong(0)}: err $err exceeds analytic bound $bound")
    }
  }

  test("quantized top-10 recovers the exact-dot top-10 (measured overlap)") {
    import graft.functions.VecOps.vec_dot
    val e = graft.Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qemb"))
    val exactTop = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), vec_dot(col("embedding"), col("qemb")).as("dp"))
      .orderBy(col("dp").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val quantTop = VectorOps.quantizedTopK(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val overlap = (exactTop & quantTop).size
    assert(overlap >= 8, s"only $overlap/10 of the exact top-10 recovered")
  }
}
