package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Per-job profiler for one SparkEntry query (optimization tooling, the
  * measure-first loop of the optimization guide §1): runs the query
  * `runs` times and prints every Spark JOB with wall duration, stage
  * count, task count and the callsite, so the per-round fixed costs of
  * iterative operators (checkpoint jobs, convergence actions) are
  * attributable. Usage: Profile <sfDir> <queryExactOrSubstring> [runs]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val pat = args(1)
    val runs = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.harness(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    case class J(id: Int, var start: Long = 0L, var end: Long = 0L,
      var site: String = "", var stages: Int = 0, var tasks: Int = 0,
      val names: mutable.Buffer[String] = mutable.Buffer.empty)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val stageTasks = mutable.Map.empty[Int, Int]
    val stageOwner = mutable.Map.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = jobs.getOrElseUpdate(e.jobId, J(e.jobId))
        j.start = e.time
        j.site = Option(e.properties.getProperty("callSite.short")).getOrElse("")
        j.stages = e.stageInfos.size
        e.stageIds.foreach(sid => stageOwner(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageOwner.get(e.stageInfo.stageId).foreach { jid =>
          jobs.get(jid).foreach { j =>
            j.tasks += e.stageInfo.numTasks
            val dur = for {
              a <- e.stageInfo.completionTime; b <- e.stageInfo.submissionTime
            } yield (a - b) / 1e3
            j.names += f"${e.stageInfo.name.takeWhile(_ != '(').take(30)}" +
              f"[${e.stageInfo.numTasks}t,${dur.getOrElse(-1.0)}%.2fs]"
          }
        }
    })
    val (name, fn) = SparkEntry.queries.toSeq.sortBy(_._1)
      .find(_._1 == pat)
      .orElse(SparkEntry.queries.toSeq.sortBy(_._1).find(_._1.contains(pat)))
      .getOrElse(sys.error(s"no query matches '$pat'"))
    // warm pass (JIT/codegen), not profiled
    fn(spark, sfDir).count()
    Thread.sleep(500)
    jobs.clear()
    val t0 = System.nanoTime()
    (1 to runs).foreach(_ => fn(spark, sfDir).count())
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"==== $name: $runs run(s), wall ${wall}%.2f s ====")
    val js = jobs.values.toSeq
    val tot = js.map(j => (j.end - j.start).max(0L)).sum / 1e3
    println(f"jobs: ${js.size}, summed job wall ${tot}%.2f s " +
      "(gaps to query wall = driver/planning time)")
    js.sortBy(j => -(j.end - j.start)).take(40).foreach { j =>
      println(f"  ${(j.end - j.start) / 1e3}%7.3f s  job ${j.id}%4d  " +
        f"stages=${j.stages}%2d tasks=${j.tasks}%5d  ${j.site}  " +
        j.names.mkString(" "))
    }
    spark.stop()
  }
}
