package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ad-hoc benchmark (test scope): grouped top-3 via the native TopKBy
  * aggregate (bounded heap, ≤ k rows shipped per group per map task)
  * vs the window-function formulation (full per-partition sort +
  * row_number + filter), on an N-times-duplicated sf0.1 lineitem.
  * Verifies both produce identical rows, then times each (best of 3).
  * Usage: TopKBench [mult]. Results recorded in PLANS.md.
  */
object TopKBench {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val spark = GraftSession.harness("local[32]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val src = s"/tmp/topk_bench_x$mult"
    if (!new java.io.File(src).exists()) {
      val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      (1 to mult).map(_ => li).reduce(_ union _)
        .select(col("l_partkey").as("grp"),
          (col("l_partkey") % 100).as("grp_lo"),
          col("l_extendedprice").as("v"), col("l_orderkey").as("ky"))
        .write.mode("overwrite").parquet(src)
    }
    val big = spark.read.parquet(src)
    val rows = big.count() // warm the scan

    def topkPlan(grpCol: String): DataFrame =
      big.groupBy(grpCol)
        .agg(call_function("topk_by", col("v"), col("ky"), lit(3)).as("top"))
        .select(col(grpCol), posexplode(col("top")))
        .select(col(grpCol), (col("pos") + 1).as("rank"), col("col").as("ky"))

    def windowPlan(grpCol: String): DataFrame = {
      val w = Window.partitionBy(col(grpCol)).orderBy(col("v").desc, col("ky"))
      big.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col(grpCol), col("rank"), col("ky"))
    }

    // correctness: same rows under both formulations (high-card grouping)
    val a = topkPlan("grp").collect().map(_.toSeq).toSet
    val b = windowPlan("grp").collect().map(_.toSeq).toSet
    require(a == b, s"plans disagree: ${a.size} vs ${b.size} rows")

    def bench(name: String, df: => DataFrame): Unit = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s best=${times.min}%6.2f s  (runs: ${times.map(t => f"$t%.2f").mkString(", ")})")
    }

    println(s"== topk bench x$mult ($rows rows) ==")
    bench("topk_by  grp=l_partkey", topkPlan("grp"))
    bench("window   grp=l_partkey", windowPlan("grp"))
    bench("topk_by  grp=mod100", topkPlan("grp_lo"))
    bench("window   grp=mod100", windowPlan("grp_lo"))
    spark.stop()
  }
}
