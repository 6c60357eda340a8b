package graft

/** Ad-hoc plan inspector (test scope): prints formatted plans for key
  * queries so the shuffle/broadcast/pushdown shape can be reviewed. */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.harness("local[8]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    args.foreach { q =>
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
