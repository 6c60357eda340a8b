package graft

/** Plan-audit main: print the formatted plan (and, after execution, the
  * AQE-final plan) for named SparkEntry queries. Usage:
  *   Explain <sfDir> <querySubstring> [initial]
  * By default the query is executed first so `explain` shows the
  * ADAPTIVE FINAL plan — the one that actually ran (AQE broadcast/skew
  * decisions are invisible in the initial plan); pass `initial` to see
  * the pre-execution plan instead. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val pat = if (args.length > 1) args(1) else ""
    val runFirst = !(args.length > 2 && args(2) == "initial")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.harness(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.contains(pat))
      .foreach { case (name, fn) =>
        println(s"==== $name ====")
        val df = fn(spark, sfDir)
        // execute the Dataset's OWN plan (df.count() would build a separate
        // groupBy().count() QueryExecution, leaving this AdaptiveSparkPlanExec
        // un-finalized and the explain below pre-execution)
        if (runFirst) df.queryExecution.toRdd.count()
        df.explain("formatted")
      }
    spark.stop()
  }
}
