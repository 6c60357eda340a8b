package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Multi-probe IVF (q98, nprobe=2) recall property: against the exact
  * brute-force top-10 (q33), probing two cells can never recall FEWER
  * true neighbors than probing one (q39) — the nprobe knob must be
  * monotone. Also: the probed result is a superset-quality subset, so
  * every hit it returns appears in the nprobe=2 candidate set. */
class MultiProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  test("nprobe=2 recall >= nprobe=1 recall vs brute force") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getAs[Long]("vec_id")).toSet
    val brute = ids(VectorOps.cosineTopK(spark, d))
    val p1 = ids(SimHashIvf.annIvf(spark, d))
    val p2 = ids(SimHashIvf.annIvfMultiProbe(spark, d))
    val r1 = (p1 & brute).size
    val r2 = (p2 & brute).size
    assert(r2 >= r1, s"recall fell: nprobe1=$r1 nprobe2=$r2")
    assert(p2.nonEmpty && p2.size <= 10)
  }
}
