package graft.examples

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job profiler for one registry query:
  * `runMain graft.examples.Profile <queryName> [sfDir] [runs]`.
  * Runs on Bench's session ([[graft.GraftSession]]), runs the query `runs`
  * times (min wall reported like the bench), and prints, for the FASTEST
  * run, each Spark job's wall, task count and first-stage name — the
  * breakdown to read before touching a plan. */
object Profile {
  private final class JobListener extends SparkListener {
    final case class J(id: Int, var desc: String = "", var start: Long = 0,
                       var end: Long = 0, var tasks: Int = 0, var stages: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = J(e.jobId, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
        e.time)
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId); if (j != null) j.end = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      // attribute stages to the most recent live job (good enough locally)
      val live = jobs.values.toArray(Array.empty[J]).filter(_.end == 0)
      if (live.nonEmpty) {
        val j = live.maxBy(_.id)
        j.tasks += e.stageInfo.numTasks; j.stages += 1
        if (j.desc.isEmpty) j.desc = e.stageInfo.name.take(60)
      }
    }
    def reset(): Unit = jobs.clear()
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession()
    val fn = graft.SparkEntry.queries(name)
    // bench-identical warmup
    try graft.SparkEntry.queries.get("q1_agg").foreach(_(spark, sfDir).count())
    catch { case _: Throwable => () }

    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    var best = Double.MaxValue
    var bestJobs: Seq[listener.J] = Nil
    for (r <- 1 to runs) {
      listener.reset()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val plan = df.queryExecution.executedPlan // force analysis+optimize+plan
      val t2 = System.nanoTime()
      val n = df.count()
      val t3 = System.nanoTime() // end-of-exec BEFORE cache clear (r21 ADVICE)
      val dt = (t3 - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(200)
      val js = listener.jobs.values.toArray(Array.empty[listener.J]).sortBy(_.id).toSeq
      println(f"PROFILE $name run $r: $n rows in $dt%.3f s " +
        f"(construct ${(t1 - t0) / 1e9}%.3f, plan ${(t2 - t1) / 1e9}%.3f, " +
        f"exec ${(t3 - t2) / 1e9}%.3f), ${js.size} jobs")
      if (dt < best) { best = dt; bestJobs = js }
    }
    println(f"PROFILE $name BEST ${best}%.3f s, ${bestJobs.size} jobs:")
    bestJobs.foreach { j =>
      println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s  stages=${j.stages} tasks=${j.tasks}  ${j.desc.take(90)}")
    }
    spark.stop()
  }
}
