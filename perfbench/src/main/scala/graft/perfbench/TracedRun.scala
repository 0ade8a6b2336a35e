package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.promql.{Compiler, Parser}

/** The traced run: every request is decomposed into the engine's layers,
  * called in order by the benchmark itself —
  *
  *   Parser.parse → Compiler.timeBounds → the store closure →
  *   Compiler.compileServingAnnotated → optimizedPlan → executedPlan →
  *   collect, then the same request through PromEngine, then over HTTP
  *   (every other request runs HTTP first and the decomposed path last)
  *
  * — with each call a span, Spark counters from one [[GroupListener]], and
  * scan counters from the executed plan's SQLMetrics. The decomposed rows
  * must agree with the HTTP answer. */
final class TracedRun(spark: SparkSession, conf: GatewayBench.Conf) {
  private val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)
  private val spans = new Spans
  var storeMetaMs = 0.0
  private var rounds = Seq.empty[Double]

  private val rows = mutable.ArrayBuffer.empty[TracedRun.Row]
  private var tracedRequests = 0
  private var gcMsTotal = 0L

  def convertRounds(rs: Seq[Double]): Unit = rounds = rs

  private def withGroup[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  /** Traces the rounds the untraced run measures, one request at a time:
    * the clients' rounds in turn (client 0's first, client 1's first,
    * client 0's second, …), starting a round only while `seconds` have not
    * passed, and always at least one. */
  def traceRequests(streams: Seq[Iterator[Seq[Req]]], served: GatewayBench.Served,
                    seconds: Double, wrong: ConcurrentLinkedQueue[String]): Seq[Outcome] = {
    val out = mutable.ArrayBuffer.empty[Outcome]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val gc0 = GatewayBench.gcMs()
    val rounds = Iterator.continually(streams).flatten.takeWhile(_.hasNext)
    var first = true
    while ((first || System.nanoTime() < deadline) && rounds.hasNext) {
      rounds.next().next().foreach { req =>
        val i = out.size
        out += (if (req.isPromql) tracePromql(i, req, served, wrong) else traceMeta(i, req, served))
      }
      first = false
    }
    gcMsTotal += GatewayBench.gcMs() - gc0
    tracedRequests += out.size
    out.toSeq
  }

  private def traceMeta(i: Int, req: Req, served: GatewayBench.Served): Outcome =
    spans.time("request", "", i)(spans.time("api.http", "request", i)(served.client.send(req)))

  private def tracePromql(i: Int, req: Req, served: GatewayBench.Served,
                          wrong: ConcurrentLinkedQueue[String]): Outcome = {
    val q = req.promql.get
    val lookback = GatewayBench.LookbackMs
    spans.time("request", "", i) {
      def viaPath() = spans.time("path", "request", i) {
        val ast = spans.time("promql.parse", "path", i)(Parser.parse(q))
        val (lo, hi) = spans.time("promql.bounds", "path", i)(
          Compiler.timeBounds(ast, req.startMs, req.endMs, lookback))
        val src = spans.time("store.open", "path", i)(served.store(lo, hi))
        val stepMs = if (req.op == "range") req.stepMs else 1000L
        val (df, _) = spans.time("promql.compile", "path", i)(Compiler.compileServingAnnotated(
          ast, Compiler.Ctx(src, req.startMs, req.endMs, stepMs, lookback)))
        spans.time("catalyst.optimize", "path", i)(df.queryExecution.optimizedPlan)
        spans.time("catalyst.physical", "path", i)(df.queryExecution.executedPlan)
        val collected = spans.time("exec.collect", "path", i)(withGroup(s"c$i")(df.collect()))
        (df, collected)
      }
      // a later run of the same request runs warmer: the engine call sits
      // in the middle and the other two swap ends on every request, so
      // neither http − engine nor path − engine carries an order bias
      def viaEngine(): Unit = spans.time("api.engine", "request", i)(withGroup(s"e$i") {
        if (req.op == "range") served.engine.rangeQueryWithStats(q, req.startMs, req.endMs, req.stepMs)
        else served.engine.instantQueryWithStats(q, req.startMs)
      })
      def viaHttp(): Outcome = spans.time("api.http", "request", i)(served.client.send(req))
      val ((df, collected), o) =
        if (rows.size % 2 == 0) { val p = viaPath(); viaEngine(); (p, viaHttp()) }
        else { val h = viaHttp(); viaEngine(); (viaPath(), h) }
      spans.time("trace.settle", "request", i) {
        listener.settled(s"c$i")
        val engine = listener.settled(s"e$i")
        val plan = df.queryExecution.executedPlan
        val scans = PlanMetrics.leaves(plan).filter(_.metrics.contains("numFiles"))
        val labelCols = Compiler.labelCols(df).filterNot(_ == "__graft_h")
        val valued = collected.filter(r => !r.isNullAt(r.fieldIndex("value")))
        val sets = valued.map(r => labelCols.map(l => Option(r.getAs[Any](l)).map(_.toString))).distinct.length
        o.answer.foreach { a =>
          val pts = if (req.op == "range") valued.length else sets
          if (a.series.size != sets || a.points != pts)
            wrong.add(s"traced ${req.shape}: decomposed path has $sets series / $pts points, " +
              s"HTTP ${a.series.size} / ${a.points}")
        }
        rows += TracedRun.Row(
          nodes = df.queryExecution.analyzed.collectWithSubqueries { case p => p }.size,
          scanFiles = scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum,
          scanRows = scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum,
          points = o.points, bytes = o.bytes, engine = engine)
      }
      o
    }
  }

  /** Per-layer metrics: means per traced PromQL request unless noted. */
  def report(r: GatewayBench.Result): Unit = {
    spans.write(conf.resultFile.resolveSibling(conf.resultFile.getFileName.toString + ".spans.jsonl"))
    val promqlIds = spans.all.filter(_.name == "path").map(_.request).toSet
    val n = promqlIds.size.max(1).toDouble
    def spanMs(names: String*): Double =
      spans.all.filter(s => names.contains(s.name) && promqlIds(s.request)).map(_.ms).sum / n
    def mean(f: TracedRun.Row => Double): Double = rows.map(f).sum / n
    val tasks = rows.map(_.engine.tasks).sum
    r.put("promql.parse_ms", spanMs("promql.parse"), "ms")
    r.put("promql.compile_ms", spanMs("promql.bounds", "promql.compile"), "ms")
    r.put("promql.plan_nodes", mean(_.nodes.toDouble), "count")
    r.put("catalyst.optimize_ms", spanMs("catalyst.optimize"), "ms")
    r.put("catalyst.physical_ms", spanMs("catalyst.physical"), "ms")
    r.put("exec.ms", spanMs("exec.collect"), "ms")
    r.put("exec.jobs", mean(_.engine.jobs.toDouble), "count")
    r.put("exec.tasks", mean(_.engine.tasks.toDouble), "count")
    r.put("exec.task_cpu_ms", mean(_.engine.taskCpuNs / 1e6), "ms")
    r.put("exec.queue_wait_ms", rows.map(_.engine.queueWaitMs).sum.toDouble / tasks.max(1L), "ms")
    r.put("exec.spill_bytes", mean(_.engine.spillBytes.toDouble), "B")
    r.put("shuffle.bytes_written", mean(_.engine.shuffleWritten.toDouble), "B")
    r.put("store.open_ms", spanMs("store.open"), "ms")
    r.put("store.meta_ms", storeMetaMs, "ms")
    r.put("scan.files", mean(_.scanFiles.toDouble), "count")
    r.put("scan.bytes_read", mean(_.engine.inputBytes.toDouble), "B")
    r.put("scan.rows", mean(_.scanRows.toDouble), "count")
    r.put("scan.rows_per_point", rows.map(_.scanRows).sum.toDouble / rows.map(_.points).sum.max(1), "ratio")
    val http = spanMs("api.http"); val engine = spanMs("api.engine")
    r.put("api.http_ms", http, "ms")
    r.put("api.engine_ms", engine, "ms")
    r.put("api.encode_ms", http - engine, "ms")
    r.put("api.response_bytes", mean(_.bytes.toDouble), "B")
    r.put("api.result_points", mean(_.points.toDouble), "count")
    r.put("jvm.gc_ms", gcMsTotal.toDouble / tracedRequests.max(1), "ms")
    // self time per layer, and what no layer span explains
    r.put("self.promql_ms", spanMs("promql.parse", "promql.bounds", "promql.compile"), "ms")
    r.put("self.catalyst_ms", spanMs("catalyst.optimize", "catalyst.physical"), "ms")
    r.put("self.store_ms", spanMs("store.open"), "ms")
    r.put("self.exec_ms", spanMs("exec.collect"), "ms")
    r.put("self.api_ms", http - engine, "ms")
    // traced − untraced latency of the same requests: the decomposed path
    // (one span per layer call) against the same query through PromEngine,
    // plus the listener settle the traced run adds to each request
    r.put("trace.overhead_ms", spanMs("path") - engine + spanMs("trace.settle"), "ms")
    val children = spans.all.filter(s => s.parent.nonEmpty && promqlIds(s.request))
      .groupBy(s => (s.request, s.parent)).view.mapValues(_.map(_.ms).sum).toMap
    val unexplained = spans.all.filter(s => promqlIds(s.request) && (s.name == "request" || s.name == "path"))
      .map(s => s.ms - children.getOrElse((s.request, s.name), 0.0)).sum / n
    r.put("trace.unexplained_ms", unexplained, "ms")
    r.notes("traced_promql_requests") = promqlIds.size.toString
    r.notes("traced_requests") = tracedRequests.toString

    val cv = listener.settled(TracedRun.ConvertGroup)
    r.put("convert.round_s", if (rounds.isEmpty) 0.0 else rounds.sum / rounds.size, "s")
    r.put("convert.rounds", rounds.size.toDouble, "count")
    r.put("convert.input_bytes", cv.inputBytes.toDouble, "B")
    r.put("convert.shuffle_bytes", cv.shuffleWritten.toDouble, "B")
    r.put("convert.output_bytes", cv.outputBytes.toDouble, "B")
    r.put("convert.task_cpu_ms", cv.taskCpuNs / 1e6, "ms")
    r.put("convert.spill_bytes", cv.spillBytes.toDouble, "B")
  }
}

object TracedRun {
  val ConvertGroup = "convert"

  /** Per PromQL request: counters the spans do not carry. */
  final case class Row(nodes: Int, scanFiles: Long, scanRows: Long, points: Int,
                       bytes: Int, engine: Counts)

  /** Runs `body` under the convert job group when tracing, so the
    * listener attributes its jobs to the convert layer. */
  def convertGroup[T](t: Option[TracedRun])(body: => T): T = t match {
    case Some(tr) => tr.withGroup(ConvertGroup)(body)
    case None => body
  }
}
