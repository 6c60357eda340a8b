package graft

import org.apache.spark.sql.functions._

/** Ad-hoc benchmark (test scope): salted vs plain shuffles on a
  * pathologically skewed key distribution (90 % of rows share ONE key),
  * with AQE off so the raw shuffle behavior shows (AQE's skew-join
  * splitting is the first line of defense in production; Skew.* is for
  * the cases it can't reach, e.g. skewed AGGREGATION keys). Verifies
  * result parity, then times each (best of 3). Usage: SkewBench [mult].
  * Results recorded in PLANS.md.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(20)
    val spark = GraftSession.harness("local[32]", "32")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val src = s"/tmp/skew_bench_x$mult"
    if (!new java.io.File(src).exists()) {
      val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      val big = (1 to mult).map(_ => li).reduce(_ union _)
      // 90% of rows collapse onto hot key 0; the rest keep their own key
      big.select(
          when(pmod(col("l_orderkey"), lit(10)) < 9, 0L)
            .otherwise(col("l_orderkey")).as("k"),
          col("l_orderkey").as("carrier"),
          col("l_quantity").as("v"))
        .write.mode("overwrite").parquet(src)
    }
    val skewed = spark.read.parquet(src)
    val rows = skewed.count()

    def plainAgg() = skewed.groupBy("k")
      .agg(sum(col("v").cast("decimal(18,2)")).as("sum_v"),
        count(lit(1)).as("row_count"))
    def saltedAgg() = graft.operators.Skew.saltedSumCount(
      skewed, Seq("k"), Seq("sum_v" -> col("v").cast("decimal(18,2)")),
      saltFrom = col("carrier"), salts = 32)

    // parity on the hot key before timing
    val hotPlain = plainAgg().filter(col("k") === 0).head()
    val hotSalted = saltedAgg().filter(col("k") === 0).head()
    require(hotPlain.getAs[java.math.BigDecimal]("sum_v")
        .compareTo(hotSalted.getAs[java.math.BigDecimal]("sum_v")) == 0 &&
      hotPlain.getAs[Long]("row_count") == hotSalted.getAs[Long]("row_count"),
      "salted aggregation diverged from plain")

    def bench(name: String, f: () => org.apache.spark.sql.DataFrame): Unit = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f().count(); (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-24s best=${times.min}%6.2f s  (runs: ${times.map(t => f"$t%.2f").mkString(", ")})")
    }

    println(s"== skew bench x$mult ($rows rows, 90% on one key, AQE off) ==")
    bench("plain groupBy", plainAgg _)
    bench("salted two-phase", saltedAgg _)

    // the join case: no map-side combine exists for joins, so the hot
    // key really does pile onto one reducer without salting
    val dim = skewed.select(col("k")).distinct()
      .withColumn("dim_payload", md5(col("k").cast("string")))
      .localCheckpoint()
    def plainJoin() = skewed.join(dim, Seq("k"))
      .agg(count(lit(1)).as("n"), max(col("dim_payload")).as("m"))
    def saltedJoin() = graft.operators.Skew.saltedJoin(
        skewed, dim, "k", saltFrom = col("carrier"), salts = 32)
      .agg(count(lit(1)).as("n"), max(col("dim_payload")).as("m"))
    require(plainJoin().head() == saltedJoin().head(),
      "salted join diverged from plain")
    bench("plain shuffle join", plainJoin _)
    bench("salted join", saltedJoin _)
    spark.stop()
  }
}
