package graft

/** Ad-hoc profile bisect (test scope): time one SparkEntry query under
  * an arbitrary set of conf overrides, to attribute production-profile
  * slowdowns to a specific knob. Usage:
  *   ProfileBisect <query> [k=v ...]
  * Prints 3 timed runs plus the total task count the query scheduled
  * (the local-overhead signal: 4096-partition stages schedule 4096
  * tasks regardless of data volume). */
object ProfileBisect {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val b = GraftSession.harness("local[32]", "32")
    args.drop(1).filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); b.config(k, v)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (q == "--bnlj-vs-bhj") {
      // Does AQE coalesce a shuffle-read stage whose other leaf is a
      // broadcast? Compare a BNLJ probe (crossJoin of a 1-row frame)
      // against a dummy-key BHJ probe over the SAME 4096-partition
      // aggregate. Observed task counts answer whether the q155-class
      // production inflation is the join TYPE or the stage shape.
      import org.apache.spark.sql.functions._
      val big = s.range(2000000L).select((col("id") % 100000L).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
      val one = s.range(1).select(lit(7L).as("thr"))
      val acc2 = new java.util.concurrent.atomic.AtomicLong
      s.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            { acc2.incrementAndGet(); () }
        })
      def run(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
        acc2.set(0)
        val t0 = System.nanoTime()
        df.count()
        Thread.sleep(300)
        println(f"$label: ${(System.nanoTime() - t0) / 1e9}%6.2f s  " +
          s"tasks=${acc2.get}")
      }
      run("bnlj crossJoin(broadcast(1row))")(
        big.crossJoin(broadcast(one)).filter(col("c") > col("thr")))
      run("bhj  dummy-key equi-join      ")(
        big.withColumn("_one", lit(1))
          .join(broadcast(one.withColumn("_one", lit(1))), "_one")
          .filter(col("c") > col("thr")))
      run("plain reducer (control)      ")(
        big.filter(col("c") > lit(7L)))
      s.stop(); return
    }
    Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.shuffle.partitions")
      .foreach(k => println(s"$k=${s.conf.getOption(k).getOrElse("(default)")}"))
    s.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .groupBy("l_returnflag").count().count() // warm
    val fn = SparkEntry.queries(q)
    val acc = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    s.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          { acc.incrementAndGet(); () }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val si = e.stageInfo
          stages.add(s"${si.numTasks} tasks  ${si.name.take(90)}"); ()
        }
      })
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      fn(s, "/root/testdata/sf0.1").count()
      println(f"${(System.nanoTime() - t0) / 1e9}%6.2f s  run$i")
    }
    Thread.sleep(500) // listener drain
    println(s"tasks_3runs=${acc.get}")
    if (args.contains("--plan")) {
      val df = fn(s, "/root/testdata/sf0.1")
      df.queryExecution.toRdd.count()
      println(df.queryExecution.executedPlan.toString.take(12000))
    }
    import scala.jdk.CollectionConverters._
    stages.asScala.groupBy(identity).toSeq
      .map { case (k, v) => (v.size, k) }.sortBy(-_._1)
      .take(12).foreach { case (n, k) => println(f"x$n%-3d $k") }
    s.stop()
  }
}
