package graft.examples

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.limits.QueryGate
import graft.promql.{Eval, LabelMatcher, MatchEq, MatchRe}

/** Concurrent mixed-query soak against the SelectBench workload-B store —
  * the serving-concurrency half the reference gets from its HTTP handler
  * pool behind the query semaphore (`cmd/serve.go:111`,
  * `api/http/query.go:438-442`): N client threads issue a mixed stream of
  * matcher selects and step-grid range aggregations through [[QueryGate]],
  * and the report is per-shape p50/p95/max latency plus the wall-clock vs
  * sum-of-latencies ratio (the driver-contention signal — if the scheduler
  * or catalog serializes queries, wall approaches the sum instead of
  * sum/threads).
  *
  * The soak runs THREE phases: the query mix alone; the SAME mix while a
  * TSDB-block migration loop (`ConvertLoop.advanceReference` over
  * `BlockFetch.cachedLoader`) cycles concurrently — the real operational
  * shape the reference runs as separate convert and serve processes against
  * one cluster; then an OPEN-BUCKET phase, the same thread count
  * stampeding time slices against one `OpenTsdbBucket` over the raw TSDB
  * source (serving an unmigrated bucket) — whose printed
  * `query_parses_delta` must be 0: concurrent queries slice the cached
  * refs, never re-parse an index. The comparison of per-shape p50/p95
  * across phases is the serve-under-migration interference signal. Every
  * job lands in Spark's one `default` pool; under FAIR mode that pool
  * shares task slots among concurrent jobs, so the convert job cannot hold
  * every slot while queries wait.
  *
  * Usage: `runMain graft.examples.ConcurrentSoak [threads] [itersPerThread]
  * [scale] [migSeries]` — scale multiplies workload B's 1.5M series (10 →
  * the 15M-series rehearsal store); migSeries sizes the migration's source
  * block (0 skips the mixed phase). One JSON line at the end; a table for
  * BENCH_NOTES.md.
  */
object ConcurrentSoak {

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

  def main(args: Array[String]): Unit = {
    val threads = if (args.length > 0) args(0).toInt else 12
    val iters = if (args.length > 1) args(1).toInt else 8
    val scale = if (args.length > 2) args(2).toInt else 1
    val migSeries = if (args.length > 3) args(3).toInt else 100000
    // the scheduler mode is fixed when the context starts. With no pool
    // file, Spark 4's `default` pool then schedules FAIR as well
    sys.props("spark.scheduler.mode") = "FAIR"
    val spark = graft.GraftSession()
    val tmp = java.nio.file.Files.createTempDirectory("graft-soak").toString

    // workload B's series CROSS PRODUCT (db/db_bench_test.go:155-281):
    // 5 metrics × (100·scale instances × 5 regions × 10 zones × 20 services
    // × 3 envs) = 1.5M·scale series, a 10-point ts grid per series so range
    // queries have a window to walk
    val metrics = Seq("foo", "bar", "baz", "qux", "quux")
    val combos = 100L * scale * 5 * 10 * 20 * 3
    val gen = spark.createDataset(metrics)(org.apache.spark.sql.Encoders.STRING)
      .toDF("__name__")
      .crossJoin(spark.range(combos).select(
        concat(lit("instance-"), col("id") % (100L * scale)).as("instance"),
        ((col("id") / (100L * scale)) % 5).cast("string").as("region"),
        ((col("id") / (500L * scale)) % 10).cast("string").as("zone"),
        ((col("id") / (5000L * scale)) % 20).cast("string").as("service"),
        ((col("id") / (100000L * scale)) % 3).cast("string").as("env")))
      .crossJoin(spark.range(10).select((col("id") * 15000L).as("ts_ms")))
      .select(col("__name__"), col("instance"), col("region"), col("zone"),
        col("service"), col("env"), col("ts_ms"),
        rand(7).as("value"),
        xxhash64(col("__name__"), col("instance"), col("region"), col("zone"),
          col("service"), col("env")).as("series_hash"))
    gen.repartitionByRange(32, col("__name__"), col("instance"))
      .sortWithinPartitions(col("__name__"), col("instance"), col("ts_ms"))
      .write.mode("overwrite").option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#__name__", "true")
      .parquet(s"$tmp/b")
    val samples = spark.read.parquet(s"$tmp/b")
    val nSeries = metrics.size.toLong * combos

    def drain(ms: Seq[LabelMatcher]): Unit = {
      Eval.select(samples, ms, 0L, 150000L)
        .agg(count(lit(1)), sum(col("value"))).head()
      ()
    }
    // the mixed shapes: 2 selective scans, 1 full-metric drain, 1 shuffled
    // aggregation, 1 instant vector (lookback max_by), 1 step-grid range
    // aggregation — selects + routed range queries, per the soak's brief
    val shapes: Seq[(String, () => Unit)] = Seq(
      "select_region" -> (() => drain(Seq(MatchEq("__name__", "foo"), MatchEq("region", "1")))),
      "select_regex" -> (() => drain(Seq(MatchEq("__name__", "bar"), MatchRe("instance", "instance-1.*")))),
      "select_metric" -> (() => drain(Seq(MatchEq("__name__", "baz")))),
      "agg_by_region" -> (() => {
        Eval.select(samples, Seq(MatchEq("__name__", "qux")), 0L, 150000L)
          .groupBy(col("region")).agg(sum(col("value")), count(lit(1)))
          .collect(); ()
      }),
      "instant_vector" -> (() => {
        Eval.instantVector(samples, Seq(MatchEq("__name__", "quux")), 150000L, 60000L)
          .agg(count(lit(1)), sum(col("value"))).head(); ()
      }),
      "range_grid" -> (() => {
        // step-grid sum: 4 steps × 60s windows over the 5-metric store
        val stepMs = 60000L
        Eval.select(samples, Seq(MatchEq("__name__", "foo"), MatchEq("env", "2")), 0L, 150000L)
          .withColumn("step", (ceil(col("ts_ms") / stepMs) * stepMs).cast("long"))
          .groupBy(col("step")).agg(sum(col("value")), count(lit(1)))
          .collect(); ()
      }))

    val gate = new QueryGate(16)

    /** One full N-thread mixed-query pass; returns per-shape latencies,
      * wall seconds, and gate/exec error count. */
    def runMix(mix: Seq[(String, () => Unit)] = shapes)
        : (Map[String, Seq[Double]], Double, Long) = {
      val lat = new ConcurrentLinkedQueue[(String, Double)]()
      val errs = new java.util.concurrent.atomic.AtomicLong()
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(threads)
      val ts = (0 until threads).map { ti =>
        new Thread(() => {
          start.await()
          var i = 0
          while (i < iters) {
            val (name, fn) = mix((ti + i) % mix.size)
            val t0 = System.nanoTime()
            try gate.run(120000L)(fn())
            catch { case _: Exception => errs.incrementAndGet() }
            lat.add(name -> (System.nanoTime() - t0) / 1e9)
            i += 1
          }
          done.countDown()
        })
      }
      ts.foreach(_.start())
      val w0 = System.nanoTime()
      start.countDown()
      done.await()
      val wall = (System.nanoTime() - w0) / 1e9
      import scala.jdk.CollectionConverters._
      val byShape = lat.asScala.toSeq.groupBy(_._1)
        .view.mapValues(_.map(_._2)).toMap
      (byShape, wall, errs.get())
    }

    // migration source: a real TSDB block bucket (index v2 + XOR chunks),
    // migrated through the resumable fetch cache — the convert half of the
    // reference's convert+serve pair, on the same cluster
    val migRoot = java.nio.file.Files.createTempDirectory("graft-soakmig").toString
    if (migSeries > 0) {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val jan1 = 1704067200000L
      (0 until 2).foreach { b =>
        val series = (0 until migSeries / 2).map { i =>
          val pts = new GenericArrayData((0 until 24).map(h =>
            InternalRow(jan1 + b * 86400000L + h * 3600000L,
              (i % 89 + h).toDouble, null)).toArray[Any])
          Map("__name__" -> s"mig_m${i % 10}", "uid" -> (i / 10).toString) ->
            (pts: org.apache.spark.sql.catalyst.util.ArrayData)
        }
        graft.etl.TsdbBlock.writeBlock(s"$migRoot/src", f"01HV0SOAKMIGRATE${b}%010d",
          series, externalLabels = Map("cluster" -> "soak"))
      }
    }
    val migCycles = new java.util.concurrent.atomic.AtomicLong()
    val migRoundsTotal = new java.util.concurrent.atomic.AtomicLong()
    @volatile var migStop = false
    def migrateOnce(cycle: Long): Unit = {
      val out = s"$migRoot/out$cycle"
      val cache = s"$migRoot/cache" // warm after cycle 0: length-equal skip
      val disc = new graft.etl.TsdbDiscoverer(s"$migRoot/src",
        now = () => 1704067200000L + 40L * 86400000L)
      var go = true
      while (go && !migStop) {
        val r = graft.etl.ConvertLoop.advanceReference(spark, disc, out,
          java.time.LocalDate.of(2024, 1, 10),
          graft.etl.BlockFetch.cachedLoader(spark, s"$migRoot/src", cache),
          graceDays = 2, maxDays = 1, numShards = 2)
        migRoundsTotal.incrementAndGet()
        go = !r.converged
      }
    }

    // warmup: one serial pass of every shape, so the baseline phase
    // measures serving, not first-touch codegen/scan warmup (the migration
    // comparison would otherwise flatter phase 2)
    shapes.foreach { case (_, fn) => fn() }

    // phase 1: queries alone (baseline)
    val (baseShapes, baseWall, baseErrs) = runMix()

    // phase 2: the SAME query mix while the migration loop cycles — the
    // migration thread keeps converting (fresh out dir per cycle, warm
    // fetch cache) until the query pass completes, guaranteeing overlap
    var mixShapes = Map.empty[String, Seq[Double]]
    var mixWall = 0.0; var mixErrs = 0L; var migWall = 0.0
    if (migSeries > 0) {
      val m0 = System.nanoTime()
      val migThread = new Thread(() => {
        while (!migStop) { migrateOnce(migCycles.getAndIncrement()); }
      })
      migThread.setDaemon(true)
      migThread.start()
      val r = runMix()
      migStop = true
      migThread.join(120000L)
      migWall = (System.nanoTime() - m0) / 1e9
      mixShapes = r._1; mixWall = r._2; mixErrs = r._3
    }

    // phase 3: OPEN-BUCKET serving under concurrency — the same N threads
    // stampede time slices against ONE OpenTsdbBucket over the raw TSDB
    // source blocks (no parquet store in the path). The serving-cache
    // contract: indexes parse ONCE at open; no concurrent query may
    // re-parse (the printed parse delta must be 0 — the EtlSpec pin, here
    // measured at soak scale and thread count).
    var openShapes = Map.empty[String, Seq[Double]]
    var openWall = 0.0; var openErrs = 0L
    var openSec = 0.0; var openParses = 0L; var openQueryParses = 0L
    if (migSeries > 0) {
      val jan1 = 1704067200000L; val day = 86400000L
      val ulids = (0 until 2).map(b => f"01HV0SOAKMIGRATE${b}%010d")
      val p0 = graft.etl.TsdbBlock.seriesParses.get()
      val t0 = System.nanoTime()
      val bucket = graft.sources.TsdbBlockReader
        .openBucket(spark, s"$migRoot/src", ulids)
      openSec = (System.nanoTime() - t0) / 1e9
      openParses = graft.etl.TsdbBlock.seriesParses.get() - p0
      def drainSlice(lo: Long, hi: Long): Unit = {
        bucket.select(lo, hi).agg(count(lit(1)), sum(col("value"))).head(); ()
      }
      val openMix: Seq[(String, () => Unit)] = Seq(
        "open_day1" -> (() => drainSlice(jan1, jan1 + day - 1)),
        "open_day2" -> (() => drainSlice(jan1 + day, jan1 + 2 * day - 1)),
        "open_2h" -> (() => drainSlice(jan1 + 6 * 3600000L,
          jan1 + 8 * 3600000L - 1)),
        "open_full" -> (() => drainSlice(Long.MinValue, Long.MaxValue)),
        // matcher-pruned slice: the selector set prunes the cached refs
        // BEFORE chunk I/O — the r18 serving shape; its latency should sit
        // well under the matching unpruned slice at the same width
        "open_matched" -> (() => {
          bucket.select(Long.MinValue, Long.MaxValue,
            Seq(Seq(MatchEq("__name__", "mig_m3"))))
            .agg(count(lit(1)), sum(col("value"))).head(); ()
        }),
        // introspection under stampede (r19): /labels, /label/:name/values
        // and a LIMITED matcherless /series, all answered off the cached
        // refs with the bound pushed into the DataFrame — the limited
        // /series must collect ≤ limit+1 label sets however many series the
        // bucket holds, and none of these may re-parse an index
        "open_labels" -> (() => {
          val names = bucket.labelNames()
          require(names == Seq("__name__", "uid"), s"labels: $names"); ()
        }),
        "open_label_values" -> (() => {
          val vals = bucket.labelValues("__name__", limit = 4)
          require(vals.size == 5 && vals.head == "mig_m0", s"values: $vals"); ()
        }),
        "open_series_limited" -> (() => {
          val got = bucket.series(limit = 64)
          require(got.size == 65, s"series limit leaked: ${got.size}"); ()
        }))
      openMix.foreach { case (_, fn) => fn() } // warmup, as for phase 1
      val q0 = graft.etl.TsdbBlock.seriesParses.get()
      val r = runMix(openMix)
      openQueryParses = graft.etl.TsdbBlock.seriesParses.get() - q0
      bucket.close()
      openShapes = r._1; openWall = r._2; openErrs = r._3
    }

    // phase 4: CURATION + SERVING on one session — two registry curation
    // queries (LSH near-dup dedup, bloom decontamination) cycle over the
    // documents fixture while the SAME serving mix runs: the one-cluster
    // "convert + curate + serve" deployment shape a real installation has.
    // FAIR mode shares the default pool's task slots between the long
    // curation jobs and the queries; per-shape p50/p95 against phase 1 is
    // the interference signal.
    var curShapes = Map.empty[String, Seq[Double]]
    var curWall = 0.0; var curErrs = 0L
    val curCycles = new java.util.concurrent.atomic.AtomicLong()
    // r20 VERDICT order #3 / r21 #8: curation failures must be COUNTED, not
    // swallowed — a soak whose curation thread silently errored every cycle
    // would otherwise report a clean phase 4
    val curFails = new java.util.concurrent.atomic.AtomicLong()
    @volatile var curStop = false
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val haveDocs = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    if (migSeries > 0 && haveDocs) {
      val curationQs = Seq("dd_minhash_lsh", "tx_bloom_decontam")
      val curThread = new Thread(() => {
        while (!curStop) curationQs.foreach { q =>
          if (!curStop) {
            try { graft.SparkEntry.queries(q)(spark, sfDir).count(); () }
            catch { case e: Exception =>
              curFails.incrementAndGet()
              System.err.println(s"[soak] curation $q failed: ${e.toString.take(200)}")
            }
            spark.catalog.clearCache() // registry persist() hygiene
            curCycles.incrementAndGet()
          }
        }
      })
      curThread.setDaemon(true)
      curThread.start()
      val r = runMix()
      curStop = true
      curThread.join(180000L)
      curShapes = r._1; curWall = r._2; curErrs = r._3
    }

    def f(v: Double) = f"$v%.2f"
    def phaseJson(byShape: Map[String, Seq[Double]], wall: Double,
                  errs: Long): String = {
      val total = byShape.values.flatten.sum
      val shapeJson = byShape.toSeq.sortBy(_._1).map { case (n, xs) =>
        s""""$n":{"n":${xs.size},"p50":${f(pct(xs, 0.5))},"p95":${f(pct(xs, 0.95))},"max":${f(xs.max)}}"""
      }.mkString("{", ",", "}")
      s"""{"wall":${f(wall)},"latency_sum":${f(total)},""" +
        s""""parallel_speedup":${f(total / wall)},"errors":$errs,""" +
        s""""shapes":$shapeJson}"""
    }
    val mixJson =
      if (migSeries == 0) ""
      else s""","with_migration":${phaseJson(mixShapes, mixWall, mixErrs)},""" +
        s""""migration":{"series":$migSeries,"cycles":${migCycles.get()},""" +
        s""""rounds":${migRoundsTotal.get()},"wall":${f(migWall)}},""" +
        s""""open_bucket":{"open_sec":${f(openSec)},"open_parses":$openParses,""" +
        s""""query_parses_delta":$openQueryParses,""" +
        s""""phase":${phaseJson(openShapes, openWall, openErrs)}}""" +
        (if (curShapes.isEmpty) ""
         else s""","with_curation":{"cycles":${curCycles.get()},""" +
           s""""cur_errors":${curFails.get()},""" +
           s""""phase":${phaseJson(curShapes, curWall, curErrs)}}""")
    println(s"""{"metric":"concurrent_soak","unit":"sec","threads":$threads,""" +
      s""""iters":$iters,"series":$nSeries,""" +
      s""""queries_only":${phaseJson(baseShapes, baseWall, baseErrs)}$mixJson}""")
    spark.stop()
    if (curFails.get() > 0) {
      System.err.println(s"[soak] FAIL: ${curFails.get()} curation errors in phase 4")
      sys.exit(1)
    }
  }
}
