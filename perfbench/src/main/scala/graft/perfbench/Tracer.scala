package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan

/** Spark counters summed over every job of one job group. */
final class Counts {
  var jobs, jobsEnded, tasks, taskCpuNs, queueWaitMs, inputBytes,
      shuffleWritten, outputBytes, spillBytes = 0L
}

/** One listener for everything the traced run counts: job, task, CPU,
  * I/O, shuffle and spill totals per job group, plus task queue wait
  * (task launch − stage submission). Registered on the session through
  * Spark's public listener API; attribution is by the job group the
  * calling thread sets around each traced call. */
final class GroupListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()

  private def counts(g: String): Counts = byGroup.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val c = counts(g); c.synchronized { c.jobs += 1 }
    jobGroup.put(e.jobId, g)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val c = counts(Option(jobGroup.get(e.jobId)).getOrElse(""))
    c.synchronized { c.jobsEnded += 1 }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(Option(stageGroup.get(e.stageId)).getOrElse(""))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      Option(stageSubmit.get(e.stageId)).foreach(s => c.queueWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWritten += m.shuffleWriteMetrics.bytesWritten
        c.outputBytes += m.outputMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counters of `group` once every job of it has ended (listener events
    * arrive asynchronously; task ends precede their job end). */
  def settled(group: String, timeoutMs: Long = 10000L): Counts = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = Option(byGroup.get(group)).forall(c => c.synchronized(c.jobsEnded >= c.jobs))
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(2)
    Option(byGroup.get(group)).getOrElse(new Counts)
  }
}

/** A timed span of the traced run. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, request: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder, written out when the run ends. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  def time[T](name: String, parent: String, request: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally all += Span(name, t0, System.nanoTime(), parent, request)
  }
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":"${s.parent}","request":${s.request}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object PlanMetrics {
  /** Executed-plan leaves, unwrapping AQE shells — after an action ran,
    * their SQLMetrics hold the scan counters. */
  def leaves(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(leaves)
    }
  }
}
