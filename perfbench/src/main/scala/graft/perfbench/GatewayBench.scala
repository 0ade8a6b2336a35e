package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.{HttpApi, PromEngine}
import graft.etl.{ConvertLoop, Downsample, ReferenceFormat, TsdbBlock, TsdbDiscoverer}
import graft.promql.Eval

/** The gateway benchmark's JVM side. One workload per process:
  *
  *   `graft.perfbench.GatewayBench <workload> <seed> <seconds> <trace 0|1>
  *    <master> <workDir> <resultFile>`
  *
  * Writes one JSON result object to `resultFile` and exits: 0 when every
  * answer checked out, 1 on any wrong answer, 2 on a harness error. The
  * process ends itself (`System.exit`): the API server's request pool is
  * non-daemon and outlives `HttpApi.stop()`. */
object GatewayBench {
  /** Store shape, sized so one run fits the benchmark's time budget on a
    * 4-core machine; the seed never changes it. */
  val Instances = 16
  val Days = 1
  val LookbackMs: Long = Eval.DefaultLookbackMs
  val SetupRepeats = 3
  val InfMs = 1.0e15

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        master: String, workDir: Path, resultFile: Path)

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val c = Conf(args(0), args(1).toLong, args(2).toDouble, args(3) == "1", args(4),
          Paths.get(args(5)), Paths.get(args(6)))
        run(c)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] harness error: $e")
          e.printStackTrace()
          2
      }
    System.out.flush(); System.err.flush()
    // a shutdown hook that never returns must not hold the process
    val guard = new Thread(() => { Thread.sleep(20000L); Runtime.getRuntime.halt(code) })
    guard.setDaemon(true); guard.start()
    System.exit(code)
  }

  // ------------------------------------------------------------ session
  /** The `examples/Serve` session, at `local[nproc]`: Serve hard-codes
    * `local[8]`, which oversubscribes a smaller machine and would measure
    * scheduler contention instead of the engine. */
  def session(master: String): SparkSession = {
    val cores = master.stripPrefix("local[").stripSuffix("]")
    val spark = SparkSession.builder().master(master)
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations ++ graft.plans.GraftRules.all
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ------------------------------------------------------------ serving
  /** A bucket served exactly as `examples/Serve` serves a reference-layout
    * bucket: store-invariant metadata once, then a per-query day-listed
    * store through `sourceByRange`. */
  final class Served(val spark: SparkSession, val bucket: String) {
    private val t0 = System.nanoTime()
    val meta: ReferenceFormat.BucketMeta = ReferenceFormat.bucketMeta(spark, bucket)
    val metaMs: Double = (System.nanoTime() - t0) / 1e6
    def store(lo: Long, hi: Long): DataFrame =
      ReferenceFormat.selectReferenceStore(spark, bucket, Nil, lo, hi, meta = Some(meta))
    val engine = new PromEngine(
      ReferenceFormat.selectReferenceStore(spark, bucket, meta = Some(meta)),
      LookbackMs, graft.limits.Quotas(),
      Downsample.discoverLayers(spark, bucket), Downsample.discoverHistLayers(spark, bucket),
      Some((lo: Long, hi: Long) => store(lo, hi)))
    val api: HttpApi = new HttpApi(engine, 0).start()
    val client = new ApiClient(api.boundPort)
  }

  /** Open the bucket and wait for a first answer, `SetupRepeats` times;
    * returns the last server (kept for the timed phase), the median open
    * time in seconds and the median `bucketMeta` time in ms. */
  def openRepeatedly(spark: SparkSession, bucket: String, g: StoreGen,
                     wrong: ConcurrentLinkedQueue[String]): (Served, Double, Double) = {
    val ready = Req.instant("ready", s"count(${StoreGen.GaugeName})", g.endMs,
      Expect.Series(1))
    val runs = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val s = new Served(spark, bucket)
      val o = s.client.send(ready)
      val sec = (System.nanoTime() - t0) / 1e9
      val want = g.matching(StoreGen.sel(StoreGen.GaugeName)._2).size.toDouble
      val got = o.answer.flatMap(_.series.values.headOption).flatMap(_.headOption).map(_._2)
      if (!o.ok || !got.contains(want)) wrong.add(s"setup readiness: ${o.error.getOrElse(s"count $got, want $want")}")
      if (i < SetupRepeats) s.api.stop()
      (s, sec)
    }
    (runs.last._1, median(runs.map(_._2)), median(runs.map(_._1.metaMs)))
  }

  // ------------------------------------------------------------ stats
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile; a failed request counts as +∞. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    if (s(hi).isPosInfinity) Double.PositiveInfinity
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def bytesUnder(dir: String): Long = {
    val st = Files.walk(Paths.get(dir))
    try st.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith(".")).map(Files.size).sum
    finally st.close()
  }

  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  val OpTypes = Set("instant", "range", "meta")

  /** One reply of a closed loop: which client sent it, in which of that
    * client's rounds, and when it arrived (ns after the loop began). */
  final case class Reply(client: Int, round: Int, endNs: Long, o: Outcome)

  /** Closed loop over rounds (a dashboard refresh, an analyst's cycle of
    * shapes): each stream is one client that sends its next request only
    * after the previous reply. A client completes at least one round and
    * starts another only while `seconds` have not passed, so a run always
    * measures whole rounds of the same request mix. */
  def closedLoop(streams: Seq[Iterator[Seq[Req]]], send: Req => Outcome,
                 seconds: Double): Seq[Reply] = {
    val out = new ConcurrentLinkedQueue[Reply]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = streams.zipWithIndex.map { case (it, c) =>
      val th = new Thread(() => {
        var round = 0
        while ((round == 0 || System.nanoTime() < deadline) && it.hasNext) {
          it.next().foreach { q =>
            val o = send(q)
            out.add(Reply(c, round, System.nanoTime() - t0, o))
          }
          round += 1
        }
      }, s"perfbench-client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  // ------------------------------------------------------------ result
  final class Result {
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def json(correct: Boolean): String = {
      def num(v: Double) = if (v.isInfinite) InfMs.toString else if (v.isNaN) "null" else v.toString
      val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      val ns = notes.map { case (k, v) => s""""$k":$v""" }
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":{${ms.mkString(",")}},"notes":{${ns.mkString(",")}}}"""
    }
  }

  /** Latency per op type and throughput over every reply of the timed
    * phase (whole rounds, see [[closedLoop]]). */
  def latencyMetrics(r: Result, replies: Seq[Reply]): Unit = {
    for (op <- OpTypes.toSeq.sorted) {
      val xs = replies.filter(_.o.req.op == op).map(x => if (x.o.ok) x.o.ms else Double.PositiveInfinity)
      r.put(s"${op}_p50_ms", median(xs), "ms")
      r.notes(s"${op}_count") = xs.size.toString
    }
    r.put("qps", replies.size / (replies.map(_.endNs).max / 1e9), "1/s")
    r.notes("rounds") = replies.groupBy(_.client).toSeq.sortBy(_._1)
      .map(_._2.map(_.round).max + 1).mkString("[", ",", "]")
    r.notes("latencies_ms") = replies.map(x => f"[${x.client},${x.round},${str(x.o.req.shape)},${x.o.ms}%.1f]")
      .mkString("[", ",", "]")
  }

  def str(s: String): String =
    "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString } + "\""

  // ------------------------------------------------------------ run
  def run(c: Conf): Int = {
    Files.createDirectories(c.workDir)
    val spark = session(c.master)
    val tracer = if (c.trace) Some(new TracedRun(spark, c)) else None
    val wrong = new ConcurrentLinkedQueue[String]()
    val r = new Result
    c.workload match {
      // the dashboard's first refresh is an untimed warm-up, so the timed
      // phase measures refreshes whose text the engine has seen before
      case "dashboard" => serving(spark, c, r, wrong, tracer,
        g => Seq.fill(2)(Requests.dashboard(g).drop(1)), Requests.dashboardWarmUp)
      case "adhoc" => serving(spark, c, r, wrong, tracer, g => Seq(Requests.adhoc(g, 0)), _ => Nil)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.put("retained_heap_mb", retainedHeapMb(), "MB")
    tracer.foreach(_.report(r))
    val correct = wrong.isEmpty
    wrong.asScala.take(20).foreach(w => System.err.println(s"[perfbench] WRONG: $w"))
    r.notes("wrong") = wrong.asScala.take(20).map(str).mkString("[", ",", "]")
    Files.write(c.resultFile, r.json(correct).getBytes("UTF-8"))
    spark.stop()
    if (correct) 0 else 1
  }

  def recordWrong(outs: Seq[Outcome], wrong: ConcurrentLinkedQueue[String]): Unit =
    outs.filter(_.wrong).foreach(o => wrong.add(s"${o.req.shape}: ${o.error.get}"))

  /** Convert the seed's raw TSDB blocks (one per UTC day) into a
    * reference-layout bucket with the convert loop, one day per round as
    * the reference's loop runs, until it converges. Returns the seconds of
    * each converting round. */
  def convertLoop(spark: SparkSession, g: StoreGen, work: Path, bucket: String,
                  tracer: Option[TracedRun]): Seq[Double] = {
    val src = work.resolve("tsdb").toString
    (0 until g.days).foreach { d =>
      TsdbBlock.writeBlock(src, f"01HV0BENCHBLOCKS$d%010d", g.blockSeries(d))
    }
    val today = java.time.Instant.ofEpochMilli(g.endMs).atZone(java.time.ZoneOffset.UTC)
      .toLocalDate.plusDays(3)
    val disc = new TsdbDiscoverer(src, now = () => g.endMs + 40L * StoreGen.DayMs)
    val rounds = Seq.newBuilder[Double]
    TracedRun.convertGroup(tracer) {
      var converged = false
      while (!converged) {
        val t0 = System.nanoTime()
        converged = ConvertLoop.advanceReference(spark, disc, bucket, today,
          graft.sources.TsdbBlockReader.loader(spark, src), graceDays = 2, maxDays = 1).converged
        rounds += (System.nanoTime() - t0) / 1e9
      }
    }
    rounds.result()
  }

  /** Build the bucket, serve it, run the clients, check the answers. */
  def serving(spark: SparkSession, c: Conf, r: Result, wrong: ConcurrentLinkedQueue[String],
              tracer: Option[TracedRun], clients: StoreGen => Seq[Iterator[Seq[Req]]],
              warmUp: StoreGen => Seq[Iterator[Seq[Req]]]): Unit = {
    var last = System.nanoTime()
    val phases = scala.collection.mutable.ArrayBuffer.empty[String]
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += f"${str(name)}:${(now - last) / 1e9}%.2f"
      r.notes("phase_s") = phases.mkString("{", ",", "}")
      last = now
    }
    val g = new StoreGen(c.seed, Instances, Days)
    val bucket = c.workDir.resolve("bucket").toString
    val rounds = convertLoop(spark, g, c.workDir, bucket, tracer)
    phase("convert")
    tracer.foreach(_.convertRounds(rounds.init)) // the last round only finds nothing left
    r.put("convert_samples_per_s", g.sampleCount / rounds.sum, "1/s")
    r.put("stored_bytes_per_sample", bytesUnder(bucket).toDouble / g.sampleCount, "B")
    r.notes("samples") = g.sampleCount.toString
    r.notes("series") = g.series.size.toString
    r.notes("convert_rounds_s") = rounds.mkString("[", ",", "]")
    if (rounds.size != g.days + 1) wrong.add(s"convert loop took ${rounds.size} rounds for ${g.days} days")

    // read-back: every generated sample, exactly once, with its value; the
    // generator frame stays cached for the value checks after the timed phase
    val frame = g.frame(spark).persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val got = g.checksum(ReferenceFormat.selectReferenceStore(spark, bucket))
    val want = g.checksum(frame)
    if (got != want) wrong.add(s"bucket read-back (count, checksum) $got != generator $want")
    phase("read_back")

    val (served, setupS, metaMs) = openRepeatedly(spark, bucket, g, wrong)
    r.put("setup_s", setupS, "s")
    phase("setup")

    val warm = closedLoop(warmUp(g), served.client.send, 0.0).map(_.o)
    phase("warm_up")
    val timed = tracer match {
      case None =>
        val replies = closedLoop(clients(g), served.client.send, c.seconds)
        latencyMetrics(r, replies)
        replies.map(_.o)
      case Some(t) =>
        t.storeMetaMs = metaMs
        t.traceRequests(clients(g), served, c.seconds, wrong)
    }
    val outs = warm ++ timed
    r.attempted += outs.size
    r.failed += outs.count(!_.ok)
    recordWrong(outs, wrong)
    phase("timed")

    // value-for-value check against PromEngine over the unconverted frame
    // (the layout-independent path): the first answer of every PromQL shape,
    // two at a time, as the API server runs concurrent queries on one engine
    val reference = new PromEngine(frame, LookbackMs)
    val firsts = outs.filter(o => o.ok && o.req.isPromql).groupBy(_.req.shape)
      .toSeq.sortBy(_._1).map(_._2.head)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try firsts.map { o =>
      pool.submit((() => {
        val q = o.req
        val want = Answers.of(
          if (q.op == "range") reference.rangeQuery(q.promql.get, q.startMs, q.endMs, q.stepMs)
          else reference.instantQuery(q.promql.get, q.startMs))
        Answers.diff(o.answer.get, want).foreach(d => wrong.add(s"value check ${q.shape}: $d"))
      }): Runnable)
    }.foreach(_.get()) finally pool.shutdown()
    val checked = firsts.map(_.req.shape).toSet
    outs.filter(_.req.isPromql).map(_.req.shape).distinct.filterNot(checked)
      .foreach(s => wrong.add(s"value check $s: no successful answer"))
    r.notes("value_checked") = firsts.map(o => str(o.req.shape)).mkString("[", ",", "]")
    phase("value_check")

    frame.unpersist(blocking = true)
    served.api.stop()
  }
}
