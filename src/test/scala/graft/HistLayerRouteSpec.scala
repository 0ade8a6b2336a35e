package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.Downsample
import graft.promql._

/** Histogram downsample layers ([[graft.etl.Downsample.histLayer]]) +
  * routing ([[graft.promql.LayerRoute.tryRouteHist]]): aligned
  * `rate`/`increase`/`delta` over native-histogram series must be served
  * from the layer BIT-identically to the raw scan — including counter
  * resets straddling window boundaries, whose pre-reset histograms are
  * replayed from the persisted per-window reset LISTS in ts order (float
  * addition does not associate, so partial sums would not be exact). */
class HistLayerRouteSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000L
  private val T0 = 1704067200000L
  private val ZTHR = 0.001953125

  /** Adversarial histogram counter walk: three buckets + zero bucket grow by
    * random increments; occasional full resets; bucket 1 sometimes empty
    * (the vanished-bucket reset edge); series 2 flips SCHEMA every 50
    * samples (finer↔coarser — the mixed-resolution window algebra);
    * irregular 831s cadence. */
  private lazy val fixture: (DataFrame, Map[Long, DataFrame], String, String) = {
    val rnd = new scala.util.Random(23)
    val rows = scala.collection.mutable.Buffer
      .empty[(String, String, Long, Long, Int, Double, Double, Double, Double, Double)]
    var id = 0L
    for (s <- 0 until 3) {
      var (c0, c1, c2, z, hs) = (0.0, 0.0, 0.0, 0.0, 0.0)
      for (i <- 0 until 300) {
        val ts = T0 + i * 831000L + s * 17L
        if (rnd.nextInt(29) == 0) { // counter reset
          c0 = rnd.nextInt(2).toDouble; c1 = 0.0; c2 = 0.0; z = 0.0
          hs = c0 * 0.7
        } else {
          c0 += rnd.nextInt(3); c1 += rnd.nextInt(4); c2 += rnd.nextInt(2)
          z += rnd.nextInt(2)
          hs += rnd.nextDouble() * 9.0
        }
        val sch = if (s == 2 && (i / 50) % 2 == 1) 1 else 0
        id += 1
        rows += (("hreq", s.toString, ts, id, sch, c0, c1, c2, z, hs))
      }
    }
    val base = rows.toSeq.toDF("__name__", "uid", "ts_ms", "sample_id",
      "sch", "c0", "c1", "c2", "z", "hs")
    def b(idx: Int, c: org.apache.spark.sql.Column) =
      struct(lit(idx).as("idx"), c.as("c"))
    val df = base
      .withColumn("value", lit(1.0))
      .withColumn("series_hash", xxhash64($"__name__", $"uid"))
      .withColumn("h", struct(
        ($"z" + $"c0" + $"c1" + $"c2").as("cnt"),
        $"hs".as("hsum"), $"sch".as("sch"), lit(ZTHR).as("zthr"),
        $"z".as("zcnt"),
        filter(array(b(0, $"c0"), b(2, $"c1"), b(5, $"c2")),
          e => e.getField("c") =!= 0.0).as("pos"),
        array().cast("array<struct<idx:int,c:double>>").as("neg"), lit(null).cast("array<double>").as("cb")))
      .drop("sch", "c0", "c1", "c2", "z", "hs")
    val tmp = java.nio.file.Files.createTempDirectory("graft-hroute").toString
    df.repartitionByRange(4, col("ts_ms")).sortWithinPartitions(col("ts_ms"))
      .write.parquet(s"$tmp/samples")
    val samplesPq = spark.read.parquet(s"$tmp/samples")
    Downsample.writeLayer(Downsample.histLayer(samplesPq, Downsample.Res1h),
      s"$tmp/hl1h")
    val layers = Map(Downsample.Res1h ->
      Downsample.openLayer(spark, s"$tmp/hl1h"))
    (samplesPq, layers, tmp, s"$tmp/samples")
  }

  private def scannedDirs(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten.toSet
  }

  private def compileBoth(q: String, start: Long, end: Long,
                          step: Long): (DataFrame, DataFrame) = {
    val (samples, layers, _, _) = fixture
    val ast = Parser.parse(q)
    val raw = Compiler.compile(ast, Compiler.Ctx(samples, start, end, step))
    val routed = Compiler.compile(ast,
      Compiler.Ctx(samples, start, end, step, histLayers = layers))
    (raw, routed)
  }

  private def assertIdentical(raw: DataFrame, routed: DataFrame): Unit = {
    assert(routed.count() > 0, "routed result must be non-empty")
    assert(routed.exceptAll(raw).isEmpty && raw.exceptAll(routed).isEmpty,
      "layer-served histogram result must be bit-identical to the raw scan")
  }

  test("aligned histogram rate/increase/delta route and stay bit-identical") {
    val (start, end, step) = (T0 + 12 * H, T0 + 60 * H, 2 * H)
    Seq(
      "histogram_count(rate(hreq[6h]))",
      "histogram_sum(rate(hreq[6h]))",
      "histogram_count(increase(hreq[6h]))",
      "histogram_sum(increase(hreq[6h]))",
      "histogram_quantile(0.9, rate(hreq[6h]))",
      "histogram_quantile(0.5, increase(hreq[12h]))",
      "histogram_fraction(1.0, 8.0, rate(hreq[6h]))",
      "histogram_count(delta(hreq[6h]))",
      "histogram_sum(delta(hreq[6h]))").foreach { q =>
      val (raw, routed) = compileBoth(q, start, end, step)
      withClue(q) { assertIdentical(raw, routed) }
    }
  }

  test("routed histogram plan reads the layer files, never raw samples") {
    val (_, _, tmp, samplesDir) = fixture
    val (raw, routed) = compileBoth("histogram_count(rate(hreq[24h]))",
      T0 + 24 * H, T0 + 60 * H, 4 * H)
    val dirs = scannedDirs(routed)
    assert(dirs.exists(_.contains(s"$tmp/hl1h")), s"expected hl1h in $dirs")
    assert(!dirs.exists(_.contains(samplesDir)), s"raw scan leaked into $dirs")
    assert(scannedDirs(raw).exists(_.contains(samplesDir)))
  }

  test("misaligned histogram grid with a wide span is cost-declined to pure raw") {
    val (_, _, tmp, samplesDir) = fixture
    // 6h window over a 28h grid span: the boundary ranges cover the whole
    // scan, so the hybrid cannot win — pure raw, no layer read
    val (_, routed) = compileBoth("histogram_count(rate(hreq[6h]))",
      T0 + 12 * H + 123457L, T0 + 40 * H, 2 * H)
    assert(scannedDirs(routed).exists(_.contains(samplesDir)))
    assert(!scannedDirs(routed).exists(_.contains(s"$tmp/hl1h")))
  }

  test("unaligned histogram grid routes hybrid: layer + bounded raw slices, bit-identical") {
    val (_, _, tmp, samplesDir) = fixture
    // 48h window, 6h span, misaligned start/step — the dashboard shape
    val (start, end, step) = (T0 + 50 * H + 123457L, T0 + 56 * H + 123457L,
      2 * H + 11 * 60000L)
    Seq(
      "histogram_count(rate(hreq[48h]))",
      "histogram_sum(rate(hreq[48h]))",
      "histogram_count(increase(hreq[48h]))",
      "histogram_quantile(0.9, rate(hreq[48h]))",
      "histogram_fraction(1.0, 8.0, increase(hreq[48h]))",
      "histogram_sum(delta(hreq[48h]))").foreach { q =>
      val (raw, routed) = compileBoth(q, start, end, step)
      withClue(q) { assertIdentical(raw, routed) }
    }
    val (_, routed) = compileBoth("histogram_count(rate(hreq[48h]))", start, end, step)
    val dirs = scannedDirs(routed)
    assert(dirs.exists(_.contains(s"$tmp/hl1h")), s"layer missing from $dirs")
    assert(dirs.exists(_.contains(samplesDir)), s"raw slices missing from $dirs")
  }

  test("fuzz: random UNALIGNED histogram grids stay bit-identical (route or fall back)") {
    val rnd = new scala.util.Random(83)
    (0 until 10).foreach { k =>
      val fn = Seq("rate", "increase", "delta")(rnd.nextInt(3))
      val outer = Seq("histogram_count", "histogram_sum")(rnd.nextInt(2))
      val window = 2 * H + rnd.nextInt(50 * 3600) * 1000L
      val step = 600000L + rnd.nextInt(4 * 3600) * 1000L
      val start = T0 + rnd.nextInt(60 * 3600) * 1000L + rnd.nextInt(997)
      val end = start + rnd.nextInt(8) * step
      val q = s"$outer($fn(hreq[${window / 1000}s]))"
      val (raw, routed) = compileBoth(q, start, end, step)
      withClue(s"case $k: $q start=$start end=$end step=$step") {
        assert(routed.exceptAll(raw).isEmpty && raw.exceptAll(routed).isEmpty)
      }
    }
  }

  test("cost guard: a histogram layer finer than the cadence is declined") {
    val (samples, _, tmp, samplesDir) = fixture
    // 5m layer over 831s-cadence data: ~1 sample per window, benefit < 2
    Downsample.writeLayer(Downsample.histLayer(samples, Downsample.Res5m),
      s"$tmp/hl5m")
    val fine = Map(Downsample.Res5m -> Downsample.openLayer(spark, s"$tmp/hl5m"))
    val ast = Parser.parse("histogram_count(rate(hreq[6h]))")
    val (s0, e0, st0) = (T0 + 12 * H, T0 + 40 * H, 2 * H)
    val routed = Compiler.compile(ast,
      Compiler.Ctx(samples, s0, e0, st0, histLayers = fine))
    assert(scannedDirs(routed).exists(_.contains(samplesDir)))
    assert(LayerRoute.histAdmissibleRes(
      Compiler.Ctx(samples, s0, e0, st0, histLayers = fine), 6 * H).isEmpty)
  }

  test("PromEngine(histLayers=…) serves histogram range queries identically") {
    val (samples, layers, _, _) = fixture
    val plain = new graft.api.PromEngine(new graft.sources.FrameStore(samples))
    val layered = new graft.api.PromEngine(new graft.sources.FrameStore(samples), histLayers = layers)
    val q = "histogram_quantile(0.9, rate(hreq[6h]))"
    val (s0, e0, st0) = (T0 + 12 * H, T0 + 60 * H, 2 * H)
    assert(layered.rangeQuery(q, s0, e0, st0) == plain.rangeQuery(q, s0, e0, st0))
    assert(layered.rangeQuery(q, s0, e0, st0).nonEmpty)
    val (_, statsRaw, _) = plain.rangeQueryWithStats(q, s0, e0, st0)
    val (_, statsLay, _) = layered.rangeQueryWithStats(q, s0, e0, st0)
    assert(statsLay.samplesTotal < statsRaw.samplesTotal,
      s"layer scan ${statsLay.samplesTotal} should be below raw ${statsRaw.samplesTotal}")
    // max_source_resolution=0 forces raw, same answers
    assert(layered.rangeQueryWithStats(q, s0, e0, st0, 0L)._1 ==
      plain.rangeQuery(q, s0, e0, st0))
  }

  test("discoverHistLayers wires downsample-hist-<res> dirs (version-gated)") {
    val (samples, _, _, _) = fixture
    val layout = java.nio.file.Files.createTempDirectory("graft-hdisc").toString
    // unversioned dir is skipped
    Downsample.histLayer(samples, Downsample.Res1h)
      .write.parquet(s"$layout/downsample-hist-${Downsample.Res1h}")
    assert(Downsample.discoverHistLayers(spark, layout).isEmpty)
    Downsample.writeLayer(Downsample.histLayer(samples, Downsample.Res1h),
      s"$layout/downsample-hist-${Downsample.Res1h}")
    val found = Downsample.discoverHistLayers(spark, layout)
    assert(found.keySet == Set(Downsample.Res1h))
    // and the float discovery does NOT pick up histogram dirs
    assert(Downsample.discoverLayers(spark, layout).isEmpty)
  }

  test("fuzz: random aligned histogram grids stay bit-identical") {
    val rnd = new scala.util.Random(71)
    (0 until 12).foreach { k =>
      val fn = Seq("rate", "increase", "delta")(rnd.nextInt(3))
      val outer = Seq("histogram_count", "histogram_sum")(rnd.nextInt(2))
      val window = (2 + rnd.nextInt(20)) * H
      val step = (1 + rnd.nextInt(8)) * H
      val start = T0 + rnd.nextInt(40) * H
      val end = start + rnd.nextInt(20) * step
      val q = s"$outer($fn(hreq[${window / H}h]))"
      val (raw, routed) = compileBoth(q, start, end, step)
      withClue(s"case $k: $q start=$start end=$end step=$step") {
        assert(routed.exceptAll(raw).isEmpty && raw.exceptAll(routed).isEmpty)
      }
    }
  }
}
