package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.promql.{Eval, LabelMatcher, MatchEq, MatchNotRe, MatchRe}

/** Port of the reference's `BenchmarkSelect` harness
  * (`db/db_bench_test.go:55-135` workload A, `:155-281` workload B): the same
  * synthetic series sets and the same matcher patterns, run against our
  * sorted/bloom'd parquet layout through `Eval.select` with full
  * materialization (count + sum forces every matched row through the scan,
  * the analog of the reference's chunk-iterator drain).
  *
  * Usage: `runMain graft.examples.SelectBench [modes] [repeat]` — `modes`
  * is any combination of the letters below (default `ab`); prints one JSON
  * line per workload with min-of-repeat seconds and matched row counts.
  *  - `a`: 80k series (10k idx × 8 status_code), metric `foo`.
  *  - `b`: 1.5M series (5 metrics × 100 instances × 5 regions × 10 zones
  *    × 20 services × 3 envs), plus matcherless label values.
  *  - `r`: workload A stored as a reference bucket.
  *  - `c`: a day of workload A samples, flat layout vs chunk layout.
  *  - `d`: month-long counter increase, raw walk vs 1h downsample layer.
  *  - `e`: the same increase at a misaligned instant, raw vs hybrid route.
  *  - `x`: 10× scale rehearsal (15M series, 10-day reference bucket).
  */
object SelectBench {

  private def writeSorted(df: DataFrame, out: String, sortCols: Seq[String]): DataFrame = {
    df.repartitionByRange(32, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#__name__", "true")
      .parquet(out)
    df.sparkSession.read.parquet(out)
  }

  private def run(name: String, samples: DataFrame, ms: Seq[LabelMatcher],
                  repeat: Int): (String, Double, Long) = {
    var rows = 0L
    val secs = (1 to repeat).map { _ =>
      val t0 = System.nanoTime()
      // drain every matched sample (reference iterates all chunks)
      rows = Eval.select(samples, ms, 0L, 120L)
        .agg(count(lit(1)), sum(col("value"))).head().getLong(0)
      (System.nanoTime() - t0) / 1e9
    }
    (name, secs.min, rows)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("ab")
    val repeat = if (args.length > 1) args(1).toInt else 3
    val spark = graft.GraftSession()
    val tmp = java.nio.file.Files.createTempDirectory("graft-selectbench").toString

    def report(wl: String, rs: Seq[(String, Double, Long)]): Unit = {
      val qs = rs.map { case (n, s, _) => s""""$n":$s""" }.mkString("{", ",", "}")
      val rows = rs.map { case (n, _, r) => s""""$n":$r""" }.mkString("{", ",", "}")
      println(s"""{"metric":"select_bench_$wl","unit":"sec","queries":$qs,"rows":$rows}""")
    }

    if (mode.contains("a")) { // ref db/db_bench_test.go:69-135
      val codes = Seq("200", "202", "300", "404", "400", "429", "500", "503")
      val gen = spark.range(10000).select(col("id"))
        .crossJoin(spark.createDataset(codes)(org.apache.spark.sql.Encoders.STRING)
          .toDF("status_code"))
        .select(lit("foo").as("__name__"), col("id").cast("string").as("idx"),
          col("status_code"), lit(0L).as("ts_ms"), rand(42).as("value"),
          xxhash64(col("id").cast("string"), col("status_code")).as("series_hash"))
      val samples = writeSorted(gen, s"$tmp/a", Seq("__name__", "idx", "status_code"))
      val queries = Seq(
        "ShreddedByStatusCode" -> Seq(MatchEq("__name__", "foo"), MatchRe("status_code", "4..")),
        "ShreddedByIdx"        -> Seq(MatchEq("__name__", "foo"), MatchRe("idx", ".*2")),
        "AllSeries"            -> Seq(MatchEq("__name__", "foo")),
        "SingleSeries"         -> Seq(MatchEq("idx", "500")),
        "FirstAndLastSeries"   -> Seq(MatchRe("idx", "0|9999")))
      report("80k", queries.map { case (n, ms) => run(n, samples, ms, repeat) })
    }

    if (mode.contains("r")) {
      // Reference-LAYOUT interop workload: the same 80k-cardinality fixture
      // and matcher patterns as workload A, but stored as the reference's
      // own dual-file bucket and selected through the byte-level interop
      // reader (labels-scan matcher pushdown → positional zip → XOR decode)
      // — pins that serving an EXISTING gateway bucket stays in the same
      // performance class as the engine's native layout.
      val codes = Seq("200", "202", "300", "404", "400", "429", "500", "503")
      val gen = spark.range(10000).select(col("id"))
        .crossJoin(spark.createDataset(codes)(org.apache.spark.sql.Encoders.STRING)
          .toDF("status_code"))
        .select(lit("foo").as("__name__"), col("id").cast("string").as("idx"),
          col("status_code"), lit(0L).as("ts_ms"), rand(42).as("value"),
          lit(0L).as("sample_id"),
          xxhash64(col("id").cast("string"), col("status_code")).as("series_hash"))
      val bkt = s"$tmp/refbucket"
      val t0 = System.nanoTime()
      graft.etl.ReferenceFormat.convertReference(spark, gen, bkt, numShards = 4)
      val convertSecs = (System.nanoTime() - t0) / 1e9
      val queries = Seq(
        "ShreddedByStatusCode" -> Seq(MatchEq("__name__", "foo"), MatchRe("status_code", "4..")),
        "ShreddedByIdx"        -> Seq(MatchEq("__name__", "foo"), MatchRe("idx", ".*2")),
        "AllSeries"            -> Seq(MatchEq("__name__", "foo")),
        "SingleSeries"         -> Seq(MatchEq("idx", "500")),
        "FirstAndLastSeries"   -> Seq(MatchRe("idx", "0|9999")))
      val rs = queries.map { case (n, ms) =>
        var rows = 0L
        val secs = (1 to repeat).map { _ =>
          val s0 = System.nanoTime()
          rows = graft.etl.ReferenceFormat.selectReferenceStore(spark, bkt, ms, 0L, 120L)
            .agg(count(lit(1)), sum(col("value"))).head().getLong(0)
          (System.nanoTime() - s0) / 1e9
        }
        (n, secs.min, rows)
      }
      println(f"""{"metric":"select_bench_refbucket_convert","value":$convertSecs%.3f,"unit":"sec"}""")
      report("refbucket", rs)
    }

    if (mode.contains("b")) { // ref db/db_bench_test.go:155-281
      val gen = spark.range(5).select(col("id").as("m"))
        .crossJoin(spark.range(100).select(col("id").as("i")))
        .crossJoin(spark.range(5).select(col("id").as("r")))
        .crossJoin(spark.range(10).select(col("id").as("z")))
        .crossJoin(spark.range(20).select(col("id").as("s")))
        .crossJoin(spark.range(3).select(col("id").as("e")))
        .select(
          concat(lit("test_metric_"), col("m")).as("__name__"),
          concat(lit("instance-"), col("i")).as("instance"),
          concat(lit("region-"), col("r")).as("region"),
          concat(lit("zone-"), col("z")).as("zone"),
          concat(lit("service-"), col("s")).as("service"),
          concat(lit("environment-"), col("e")).as("environment"),
          lit(0L).as("ts_ms"), rand(42).as("value"))
        .withColumn("series_hash", xxhash64(col("__name__"), col("instance"),
          col("region"), col("zone"), col("service"), col("environment")))
      val samples = writeSorted(gen, s"$tmp/b", Seq("__name__", "instance", "region"))
      val queries = Seq(
        "SingleMetricAllSeries" -> Seq(MatchEq("__name__", "test_metric_1")),
        "SingleMetricReducedSeries" -> Seq(MatchEq("__name__", "test_metric_1"),
          MatchEq("instance", "instance-1")),
        "SingleMetricOneSeries" -> Seq(MatchEq("__name__", "test_metric_1"),
          MatchEq("instance", "instance-2"), MatchEq("region", "region-1"),
          MatchEq("zone", "zone-3"), MatchEq("service", "service-10"),
          MatchEq("environment", "environment-1")),
        "SingleMetricSparseSeries" -> Seq(MatchEq("__name__", "test_metric_1"),
          MatchEq("service", "service-1"), MatchEq("environment", "environment-0")),
        "NonExistentSeries" -> Seq(MatchEq("__name__", "test_metric_1"),
          MatchEq("environment", "non-existent-environment")),
        "MultipleMetricsRange" -> Seq(MatchRe("__name__", "test_metric_[1-5]")),
        "MultipleMetricsSparse" -> Seq(MatchRe("__name__", "test_metric_(1|5|10|15|20)")),
        "NegativeRegexSingleMetric" -> Seq(MatchEq("__name__", "test_metric_1"),
          MatchNotRe("instance", "(instance-1.*|instance-2.*)")),
        "NegativeRegexMultipleMetrics" -> Seq(MatchRe("__name__", "test_metric_[1-3]"),
          MatchNotRe("instance", "(instance-1.*|instance-2.*)")),
        "ExpensiveRegexSingleMetric" -> Seq(MatchEq("__name__", "test_metric_1"),
          MatchRe("instance", "(container-1|instance-2|container-3|instance-4|container-5)")),
        "ExpensiveRegexMultipleMetrics" -> Seq(MatchRe("__name__", "test_metric_[1-3]"),
          MatchRe("instance", "(container-1|container-2|container-3|container-4|container-5)")))
      report("1m5", queries.map { case (n, ms) => run(n, samples, ms, repeat) })

      // matcherless LabelValues: dictionary/footer shortcut vs column scan
      // over the same 1.5M-series layout (ref search/search.go:173-201)
      def timeIt(f: => Long): (Double, Long) = {
        var n = 0L
        val secs = (1 to repeat).map { _ =>
          val t0 = System.nanoTime(); n = f; (System.nanoTime() - t0) / 1e9
        }
        (secs.min, n)
      }
      val (scanS, scanN) = timeIt(
        samples.select(col("service")).na.drop().distinct().count())
      val (dictS, dictN) = timeIt(
        graft.sources.FooterLabelValues.labelValues(samples, "service",
          Long.MinValue / 2, Long.MaxValue / 2).map(_.size.toLong).getOrElse(-1L))
      println(s"""{"metric":"label_values_1m5","unit":"sec",""" +
        s""""queries":{"scan":$scanS,"dictionary":$dictS},""" +
        s""""rows":{"scan":$scanN,"dictionary":$dictN}}""")
    }

    if (mode.contains("c")) {
      // Chunk-layout select throughput: workload A's series shape × a day of
      // 15s-cadence samples (80k series × 120 points = 9.6M samples), selected
      // over a quarter-day window two ways — flat sorted parquet and the
      // chunk layout's time-bounded select. Row counts must agree.
      val codes = Seq("200", "202", "300", "404", "400", "429", "500", "503")
      val day = 86400000L
      val gen = spark.range(10000).select(col("id"))
        .crossJoin(spark.createDataset(codes)(org.apache.spark.sql.Encoders.STRING)
          .toDF("status_code"))
        .crossJoin(spark.range(120).select((col("id") * (day / 120)).as("ts_ms")))
        .select(lit("foo").as("__name__"), col("id").cast("string").as("idx"),
          col("status_code"), col("ts_ms"), rand(42).as("value"),
          col("ts_ms").as("sample_id"),
          xxhash64(col("id").cast("string"), col("status_code")).as("series_hash"))
      val flat = writeSorted(gen, s"$tmp/c_flat", Seq("__name__", "idx", "status_code"))
      graft.etl.Ingest.mergeChunked(spark, gen, s"$tmp/c_chunked")
      val (lo, hi) = (0L, day / 4 - 1) // first quarter of the day: 1 of 3 frames
      val queries = Seq(
        "ShreddedByStatusCode" -> Seq(MatchEq("__name__", "foo"), MatchRe("status_code", "4..")),
        "ShreddedByIdx"        -> Seq(MatchEq("__name__", "foo"), MatchRe("idx", ".*2")),
        "AllSeries"            -> Seq(MatchEq("__name__", "foo")),
        "SingleSeries"         -> Seq(MatchEq("idx", "500")))
      def timed(name: String, mk: Seq[LabelMatcher] => DataFrame,
                ms: Seq[LabelMatcher]): (String, Double, Long) = {
        var rows = 0L
        val secs = (1 to repeat).map { _ =>
          val t0 = System.nanoTime()
          rows = mk(ms).agg(count(lit(1)), sum(col("value"))).head().getLong(0)
          (System.nanoTime() - t0) / 1e9
        }
        (name, secs.min, rows)
      }
      report("chunk_flat", queries.map { case (n, ms) =>
        timed(n, m => Eval.select(flat, m, lo, hi), ms) })
      report("chunk_pruned", queries.map { case (n, ms) =>
        timed(n, m => graft.etl.Ingest.selectChunkedSamples(spark, s"$tmp/c_chunked", m, lo, hi), ms) })
    }

    // shared month-long counter store for workloads D and E, written in the
    // engine's flat layout (date-partitioned, series-major sort within each
    // date — [[graft.etl.Ingest]]'s samples sink) so query-time date
    // partition pruning behaves exactly as it would on a converted store
    lazy val dStore: (DataFrame, DataFrame, Double) = {
      import graft.etl.Downsample
      val day = 86400000L
      val cad = 120000L // 2-min cadence × 30 days × 2k series = 43.2M samples
      val gen = spark.range(2000).select(col("id"))
        .crossJoin(spark.range(30L * day / cad).select((col("id") * cad).as("ts_ms")))
        .select(lit("ctr").as("__name__"), col("id").cast("string").as("idx"),
          col("ts_ms"),
          (pmod(col("ts_ms"), lit(7L * day)) / 60000.0).as("value"), // weekly reset
          col("ts_ms").as("sample_id"),
          xxhash64(col("id").cast("string")).as("series_hash"))
        .withColumn("date", date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd"))
      gen.repartitionByRange(32, col("date"), col("idx"))
        .sortWithinPartitions(col("date"), col("idx"), col("ts_ms"))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("date").parquet(s"$tmp/d_raw")
      val raw = spark.read.parquet(s"$tmp/d_raw")
      val t0 = System.nanoTime()
      Downsample.writeLayer(Downsample.layer(raw, Downsample.Res1h), s"$tmp/d_layer")
      (raw, Downsample.openLayer(spark, s"$tmp/d_layer"),
        (System.nanoTime() - t0) / 1e9)
    }

    if (mode.contains("d")) {
      // Downsample dividend: reset-aware counter increase over a month of
      // samples, computed from the raw per-sample walk vs recomposed from the
      // prebuilt 1h layer ([[graft.etl.Downsample]]). Values reset weekly so
      // both paths exercise drop accounting; results must agree exactly.
      import graft.etl.Downsample
      val (raw, layer, buildSecs) = dStore

      def drain(df: DataFrame): (Double, Long, String) = {
        var n = 0L; var chk = ""
        val secs = (1 to repeat).map { _ =>
          val s0 = System.nanoTime()
          // decimal checksum: order-independent, so the two paths must match
          // exactly — a drop-accounting regression fails here, not silently
          val r = df.agg(count(lit(1)),
            sum(col("inc").cast(graft.functions.Det.dec))).head()
          n = r.getLong(0); chk = String.valueOf(r.get(1))
          (System.nanoTime() - s0) / 1e9
        }
        (secs.min, n, chk)
      }
      // the raw walk IS layer() at one giant window: per-sample lag + fold
      val (rawS, rawN, rawChk) = drain(Downsample.counterIncrease(
        Downsample.layer(raw, Long.MaxValue)))
      val (layS, layN, layChk) = drain(Downsample.counterIncrease(layer))
      require(rawN == layN && rawChk == layChk,
        s"raw vs layer mismatch: $rawN/$rawChk vs $layN/$layChk")
      println(s"""{"metric":"select_bench_downsample","unit":"sec","queries":""" +
        s"""{"raw_increase":$rawS,"layer_increase":$layS,"layer_build":$buildSecs},""" +
        s""""rows":{"raw":${raw.count()},"layer":${layer.count()}}}""")
    }

    if (mode.contains("e")) {
      // HYBRID auto-downsampling dividend: the dashboard query shape — a
      // month-long increase() at a MISALIGNED "now" — on the same
      // date-partitioned store. The raw path must scan every date partition
      // the 20d window touches (21 of 30); the hybrid route reads the 1h
      // layer for interior whole windows plus two raw boundary slices of
      // <1h each, so only the 2 boundary date partitions are listed.
      // Answers must agree exactly; the scanned-rows and wall-clock ratios
      // are the at-scale dividend (at 100 TB the raw side is ~0.7×store).
      import graft.etl.Downsample
      val (raw, layer, _) = dStore
      val day = 86400000L
      val eng = new graft.api.PromEngine(new graft.sources.FrameStore(raw),
        layers = Map(Downsample.Res1h -> layer))
      val plain = new graft.api.PromEngine(new graft.sources.FrameStore(raw))
      val q = "increase(ctr[20d])"
      // instant query misaligned by 13m7s past day 20
      val (s0, st) = (20 * day + 13 * 60000L + 7000L, 60000L)
      val e0 = s0
      def best(run: () => (Seq[graft.api.PromEngine.Series],
                           graft.api.PromEngine.EngineStats, Seq[String]))
          : (Double, Seq[graft.api.PromEngine.Series], Long) = {
        var out: (Seq[graft.api.PromEngine.Series], Long) = (Nil, 0L)
        val secs = (1 to repeat).map { _ =>
          val t0 = System.nanoTime()
          val (r, stats, _) = run()
          out = (r, stats.samplesTotal)
          (System.nanoTime() - t0) / 1e9
        }
        (secs.min, out._1, out._2)
      }
      val (rawS, rawR, rawRows) = best(() => plain.rangeQueryWithStats(q, s0, e0, st))
      val (hybS, hybR, hybRows) = best(() => eng.rangeQueryWithStats(q, s0, e0, st))
      require(rawR == hybR && rawR.nonEmpty,
        s"hybrid answers diverged: raw=${rawR.size} hybrid=${hybR.size} series")
      require(hybRows < rawRows,
        s"hybrid route must scan fewer rows: hybrid=$hybRows raw=$rawRows")
      println(s"""{"metric":"select_bench_hybrid","unit":"sec","queries":""" +
        s"""{"raw_unaligned_increase":$rawS,"hybrid_unaligned_increase":$hybS},""" +
        s""""scanned_rows":{"raw":$rawRows,"hybrid":$hybRows}}""")
    }
    if (mode.contains("x")) {
      // ---- 10× scale rehearsal (r15): workload B at 15M series and the
      // reference interop bucket at 10 days × 80k series / 4 shards. The
      // target is the DRIVER-side shape — day listing, bucket-meta
      // resolution and the rename pass must stay O(days·shards) with small
      // constants, and driver heap must not balloon with data volume —
      // surfaced here before a real 100× store would.
      def heapPeakMb: Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / (1024L * 1024L)
      }
      val genX = spark.range(5).select(col("id").as("m"))
        .crossJoin(spark.range(1000).select(col("id").as("i"))) // ×10 instances
        .crossJoin(spark.range(5).select(col("id").as("r")))
        .crossJoin(spark.range(10).select(col("id").as("z")))
        .crossJoin(spark.range(20).select(col("id").as("s")))
        .crossJoin(spark.range(3).select(col("id").as("e")))
        .select(
          concat(lit("test_metric_"), col("m")).as("__name__"),
          concat(lit("instance-"), col("i")).as("instance"),
          concat(lit("region-"), col("r")).as("region"),
          concat(lit("zone-"), col("z")).as("zone"),
          concat(lit("service-"), col("s")).as("service"),
          concat(lit("environment-"), col("e")).as("environment"),
          lit(0L).as("ts_ms"), rand(42).as("value"))
        .withColumn("series_hash", xxhash64(col("__name__"), col("instance"),
          col("region"), col("zone"), col("service"), col("environment")))
      val w0 = System.nanoTime()
      val samplesX = writeSorted(genX, s"$tmp/x_b", Seq("__name__", "instance", "region"))
      val writeSecs = (System.nanoTime() - w0) / 1e9
      val queriesX = Seq(
        "SingleMetricAllSeries" -> Seq(MatchEq("__name__", "test_metric_1")),
        "SingleMetricSparseSeries" -> Seq(MatchEq("__name__", "test_metric_1"),
          MatchEq("service", "service-1"), MatchEq("environment", "environment-0")),
        "NegativeRegexSingleMetric" -> Seq(MatchEq("__name__", "test_metric_1"),
          MatchNotRe("instance", "(instance-1.*|instance-2.*)")))
      report("15m_series", queriesX.map { case (n, ms) => run(n, samplesX, ms, repeat) })

      // reference bucket at 10× volume: 10 days × 80k series, 4 shards
      val codes = Seq("200", "202", "300", "404", "400", "429", "500", "503")
      val day = 86400000L
      val t0d = 1704067200000L
      val genR = spark.range(10000).select(col("id"))
        .crossJoin(spark.createDataset(codes)(org.apache.spark.sql.Encoders.STRING)
          .toDF("status_code"))
        .crossJoin(spark.range(10).select((lit(t0d) + col("id") * day).as("ts_ms")))
        .select(lit("foo").as("__name__"), col("id").cast("string").as("idx"),
          col("status_code"), col("ts_ms"), rand(42).as("value"),
          col("ts_ms").as("sample_id"),
          xxhash64(col("id").cast("string"), col("status_code")).as("series_hash"))
      val bkt = s"$tmp/x_ref"
      val c0 = System.nanoTime()
      graft.etl.ReferenceFormat.convertReference(spark, genR, bkt, numShards = 4)
      val convertSecs = (System.nanoTime() - c0) / 1e9
      val l0 = System.nanoTime()
      val nDays = graft.etl.ReferenceFormat.discoverDays(spark, bkt)
        .values.map(_.size).sum
      val listSecs = (System.nanoTime() - l0) / 1e9
      val m0 = System.nanoTime()
      val meta = graft.etl.ReferenceFormat.bucketMeta(spark, bkt)
      val metaSecs = (System.nanoTime() - m0) / 1e9
      val refQs = Seq(
        "ShreddedByStatusCode" -> Seq(MatchEq("__name__", "foo"), MatchRe("status_code", "4..")),
        "SingleSeries"         -> Seq(MatchEq("idx", "500")))
      val rs = refQs.map { case (n, ms) =>
        var rows = 0L
        val secs = (1 to repeat).map { _ =>
          val s0 = System.nanoTime()
          rows = graft.etl.ReferenceFormat.selectReferenceStore(spark, bkt, ms,
              t0d, t0d + 10 * day, meta = Some(meta))
            .agg(count(lit(1)), sum(col("value"))).head().getLong(0)
          (System.nanoTime() - s0) / 1e9
        }
        (n, secs.min, rows)
      }
      report("refbucket_10x", rs)
      println(f"""{"metric":"scale_rehearsal_10x","unit":"sec","queries":""" +
        f"""{"write_15m":$writeSecs%.3f,"convert_10d":$convertSecs%.3f,""" +
        f""""discover_days":$listSecs%.3f,"bucket_meta":$metaSecs%.3f},""" +
        f""""days":$nDays,"driver_heap_peak_mb":$heapPeakMb}""")
    }

    spark.stop()
  }
}
