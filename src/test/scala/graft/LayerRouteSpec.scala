package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.Downsample
import graft.promql._

/** Auto-downsampling routing ([[graft.promql.LayerRoute]]): for every
  * routable range function, the layer-served plan must be BIT-identical to
  * the raw-scan plan on an aligned grid — including samples sitting exactly
  * on window boundaries (the case the left-open window convention exists
  * for) — and must actually read the layer files, not raw. Unaligned or
  * non-recomposable queries fall back to raw untouched. */
class LayerRouteSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000L
  private val T0 = 1704067200000L // 2024-01-01T00:00Z — a multiple of 1h

  /** Adversarial fixture: counters with frequent resets, gauges with
    * negatives and mixed magnitudes, irregular cadence, PLUS samples at
    * exactly every hour boundary (the double-count/drop trap). */
  private lazy val fixture: (DataFrame, Map[Long, DataFrame], String, String) = {
    val rnd = new scala.util.Random(7)
    val rows = scala.collection.mutable.Buffer.empty[(String, String, Long, Double, Long)]
    var id = 0L
    for (s <- 0 until 6) {
      var counter = 0.0
      for (i <- 0 until 400) {
        val ts = T0 + i * 831000L + s * 17L // irregular, not window-aligned
        counter += rnd.nextDouble() * 10
        if (rnd.nextInt(37) == 0) counter = rnd.nextDouble() // reset
        val v =
          if (s % 2 == 0) counter
          else rnd.nextInt(5) match {
            case 0 => -rnd.nextDouble() * 1e6
            case 1 => 0.0
            case 2 => rnd.nextDouble() * 1e-6
            case _ => rnd.nextDouble() * 100 - 50
          }
        id += 1
        rows += (((if (s % 2 == 0) "ctr" else "gau"), s.toString, ts, v, id))
      }
      // exact-boundary samples: ts ≡ 0 (mod 1h) — left-open windows put
      // them in the PRECEDING window, same as PromQL's (t-range, t]
      for (k <- 0 to 90) {
        id += 1
        rows += (((if (s % 2 == 0) "ctr" else "gau"), s.toString,
          T0 + k * H, rnd.nextDouble() * 100, id))
      }
    }
    val df = rows.toSeq
      .toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64($"__name__", $"uid"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-route").toString
    // time-sorted at rest like the production converted layout (Ingest's
    // sorted sharded write) — row-group stats must be able to prune time
    // ranges, which a generation-ordered dump would defeat
    df.repartitionByRange(4, col("ts_ms")).sortWithinPartitions(col("ts_ms"))
      .write.parquet(s"$tmp/samples")
    val samplesPq = spark.read.parquet(s"$tmp/samples")
    Downsample.writeLayer(Downsample.layer(samplesPq, Downsample.Res5m), s"$tmp/l5m")
    Downsample.writeLayer(Downsample.layer(samplesPq, Downsample.Res1h), s"$tmp/l1h")
    val layers = Map(
      Downsample.Res5m -> Downsample.openLayer(spark, s"$tmp/l5m"),
      Downsample.Res1h -> Downsample.openLayer(spark, s"$tmp/l1h"))
    (samplesPq, layers, tmp, s"$tmp/samples")
  }

  /** Dense fixture: 60s cadence — the shape where even the 5m layer wins
    * (benefit 5×). The main fixture's 831s cadence deliberately makes the 5m
    * layer a LOSS (≈1 sample per window), which the cost guard must detect. */
  private lazy val dense: (DataFrame, Map[Long, DataFrame], String, String) = {
    val rnd = new scala.util.Random(13)
    val rows = scala.collection.mutable.Buffer.empty[(String, String, Long, Double, Long)]
    var id = 0L
    for (s <- 0 until 2; i <- 0 until (42 * 60)) {
      id += 1
      rows += (("gau", s.toString, T0 + i * 60000L + 7L, rnd.nextDouble() * 100 - 50, id))
    }
    val df = rows.toSeq
      .toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64($"__name__", $"uid"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-route-dense").toString
    df.write.parquet(s"$tmp/samples")
    val samplesPq = spark.read.parquet(s"$tmp/samples")
    Downsample.writeLayer(Downsample.layer(samplesPq, Downsample.Res5m), s"$tmp/l5m")
    (samplesPq, Map(Downsample.Res5m ->
      Downsample.openLayer(spark, s"$tmp/l5m")), tmp, s"$tmp/samples")
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
      Compiler.Ctx(samples, start, end, step, layers = layers))
    (raw, routed)
  }

  private def assertIdentical(raw: DataFrame, routed: DataFrame): Unit = {
    assert(routed.count() > 0, "routed result must be non-empty")
    assert(routed.exceptAll(raw).isEmpty && raw.exceptAll(routed).isEmpty,
      "layer-served result must be bit-identical to the raw scan")
  }

  private val routableQueries = Seq(
    """rate({__name__="ctr"}[6h])""",
    """increase({__name__="ctr"}[6h])""",
    """delta({__name__="gau"}[6h])""",
    """resets({__name__="ctr"}[6h])""",
    """changes({__name__="ctr"}[6h])""",
    """sum_over_time({__name__="gau"}[6h])""",
    """avg_over_time({__name__="gau"}[6h])""",
    """min_over_time({__name__="gau"}[6h])""",
    """max_over_time({__name__="gau"}[6h])""",
    """count_over_time({__name__="gau"}[6h])""",
    """first_over_time({__name__="gau"}[6h])""",
    """last_over_time({__name__="gau"}[6h])""",
    """present_over_time({__name__="gau"}[6h])""",
    """ts_of_last_over_time({__name__="gau"}[6h])""",
    """irate({__name__="ctr"}[6h])""",
    """idelta({__name__="gau"}[6h])""")

  test("every routable function: layer route is bit-identical to raw on an aligned grid") {
    val (start, end, step) = (T0 + 12 * H, T0 + 80 * H, 2 * H)
    routableQueries.foreach { q =>
      val (raw, routed) = compileBoth(q, start, end, step)
      withClue(q) { assertIdentical(raw, routed) }
    }
  }

  test("routed plan reads the layer files, never raw samples") {
    val (_, _, tmp, samplesDir) = fixture
    val (raw, routed) = compileBoth("""rate({__name__="ctr"}[24h])""",
      T0 + 24 * H, T0 + 80 * H, 4 * H)
    val routedDirs = scannedDirs(routed)
    assert(routedDirs.exists(_.contains(s"$tmp/l1h")), s"expected l1h in $routedDirs")
    assert(!routedDirs.exists(_.contains(samplesDir)), s"raw scan leaked into $routedDirs")
    assert(scannedDirs(raw).exists(_.contains(samplesDir)))
    // coarsest admissible layer wins: 1h, not 5m (Thanos auto-downsampling)
    assert(!routedDirs.exists(_.contains(s"$tmp/l5m")))
  }

  test("binary op over two routed rates: BOTH sides serve from the layer, zero raw files") {
    // the dashboard shape rate(a[..]) / rate(b[..]): tryRoute fires
    // per-selector inside the compiler, so each operand routes
    // independently — pin that no raw file survives in the optimized plan
    // and that the binop result stays bit-identical to raw
    val (_, _, tmp, samplesDir) = fixture
    // both operands select the same series set (ctr) so the 1:1 vector
    // match is non-empty; each side is an independently routed range fn
    val q = """rate({__name__="ctr"}[24h]) / increase({__name__="ctr"}[24h])"""
    val (raw, routed) = compileBoth(q, T0 + 24 * H, T0 + 80 * H, 4 * H)
    val routedDirs = scannedDirs(routed)
    assert(routedDirs.exists(_.contains(s"$tmp/l1h")), s"expected l1h in $routedDirs")
    assert(!routedDirs.exists(_.contains(samplesDir)),
      s"a raw scan leaked into the binop plan: $routedDirs")
    assertIdentical(raw, routed)
    // and/unless compose the same way: both set-op sides route
    val qs = """sum_over_time({__name__="gau"}[6h]) and on(uid) count_over_time({__name__="gau"}[6h])"""
    val (rawS, routedS) = compileBoth(qs, T0 + 24 * H, T0 + 80 * H, 6 * H)
    val dirsS = scannedDirs(routedS)
    assert(!dirsS.exists(_.contains(samplesDir)), s"raw scan in set-op plan: $dirsS")
    assertIdentical(rawS, routedS)
  }

  test("matchers prune on the layer; offset and @ route when still aligned") {
    val (start, end, step) = (T0 + 12 * H, T0 + 60 * H, 2 * H)
    Seq(
      """sum_over_time({__name__="gau", uid=~"1|3"}[6h])""",
      """count_over_time({__name__="gau", uid!="5"}[6h])""",
      s"""rate({__name__="ctr"}[6h] offset 3h)""",
      s"""sum_over_time({__name__="gau"}[6h] @ ${(T0 + 48 * H) / 1000})""")
      .foreach { q =>
        val (raw, routed) = compileBoth(q, start, end, step)
        withClue(q) { assertIdentical(raw, routed) }
      }
  }

  test("instant query (single step) routes and matches raw") {
    val t = T0 + 48 * H
    val (raw, routed) = compileBoth("""increase({__name__="ctr"}[24h])""", t, t, 1000L)
    assertIdentical(raw, routed)
    val (_, _, tmp, _) = fixture
    assert(scannedDirs(routed).exists(_.contains(s"$tmp/l1h")))
  }

  test("half-hour alignment falls to the 5m layer when it wins; misaligned falls back to raw") {
    val (_, _, tmp, samplesDir) = fixture
    // start on a half hour: 1h inadmissible; 5m aligned but COST-DECLINED on
    // this 831s-cadence fixture (≈1 sample per 5m window reads more than
    // raw) → raw serves, bit-identity trivially holds
    val (raw5, routed5) = compileBoth("""sum_over_time({__name__="gau"}[90m])""",
      T0 + 12 * H + 30 * 60000L, T0 + 40 * H + 30 * 60000L, 2 * H)
    assertIdentical(raw5, routed5)
    assert(scannedDirs(routed5).exists(_.contains(samplesDir)))
    assert(!scannedDirs(routed5).exists(_.contains(s"$tmp/l5m")))
    // same query shape on 60s-cadence data: the 5m layer wins (benefit 5×)
    // and serves, bit-identically
    val (dsamples, dlayers, dtmp, ddir) = dense
    val ast = Parser.parse("""sum_over_time({__name__="gau"}[90m])""")
    val (ds, de, dst) = (T0 + 2 * H + 30 * 60000L, T0 + 40 * H + 30 * 60000L, 2 * H)
    val draw = Compiler.compile(ast, Compiler.Ctx(dsamples, ds, de, dst))
    val drouted = Compiler.compile(ast,
      Compiler.Ctx(dsamples, ds, de, dst, layers = dlayers))
    assertIdentical(draw, drouted)
    assert(scannedDirs(drouted).exists(_.contains(s"$dtmp/l5m")))
    assert(!scannedDirs(drouted).exists(_.contains(ddir)))
    // window not a multiple of 5m → no layer admissible → raw scan
    val (_, routedRaw) = compileBoth("""sum_over_time({__name__="gau"}[97m])""",
      T0 + 12 * H, T0 + 40 * H, 2 * H)
    assert(scannedDirs(routedRaw).exists(_.contains(samplesDir)))
    // non-recomposable function → raw scan even when aligned
    val (_, sdt) = compileBoth("""stddev_over_time({__name__="gau"}[6h])""",
      T0 + 12 * H, T0 + 40 * H, 2 * H)
    assert(scannedDirs(sdt).exists(_.contains(samplesDir)))
  }

  test("cost guard: a layer missing required columns is declined, not an error") {
    val (samples, layers, _, _) = fixture
    // simulate a layer persisted by an older build: no reset accounting
    val old = layers(Downsample.Res1h).drop("reset_sum", "n_resets", "n_changes")
    val ast = Parser.parse("""increase({__name__="ctr"}[6h])""")
    val (s0, e0, st0) = (T0 + 12 * H, T0 + 40 * H, 2 * H)
    val raw = Compiler.compile(ast, Compiler.Ctx(samples, s0, e0, st0))
    val routed = Compiler.compile(ast, Compiler.Ctx(samples, s0, e0, st0,
      layers = Map(Downsample.Res1h -> old)))
    assertIdentical(raw, routed) // served from raw, no AnalysisException
    assert(LayerRoute.admissibleRes(Compiler.Ctx(samples, s0, e0, st0,
      layers = Map(Downsample.Res1h -> old)), 6 * H).isEmpty)
  }

  test("discoverLayers skips dirs without the current format version marker") {
    val (samples, _, _, _) = fixture
    val layout = java.nio.file.Files.createTempDirectory("graft-ver").toString
    // a layer written WITHOUT the marker (pre-versioning layout)
    Downsample.layer(samples, Downsample.Res1h)
      .write.parquet(s"$layout/downsample-${Downsample.Res1h}")
    assert(Downsample.discoverLayers(spark, layout).isEmpty)
    // a stale marker (older version) is rejected too
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$layout/downsample-${Downsample.Res1h}/_graft_layer_version"),
      "1".getBytes)
    assert(Downsample.discoverLayers(spark, layout).isEmpty)
    // the current writer stamps the marker and is discovered
    Downsample.writeLayer(Downsample.layer(samples, Downsample.Res1h),
      s"$layout/downsample-${Downsample.Res1h}")
    assert(Downsample.discoverLayers(spark, layout).keySet ==
      Set(Downsample.Res1h))
  }

  test("stamped layer admits from the stats sidecar — zero Spark jobs") {
    val (samples, _, _, _) = fixture
    val dir = java.nio.file.Files.createTempDirectory("graft-stats").toString
    Downsample.writeLayer(Downsample.layer(samples, Downsample.Res1h), dir)
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(s"$dir/_graft_layer_stats")))
    val (sumN, rows) = Downsample.statsOf(java.nio.file.Paths.get(dir)).get
    assert(rows > 0 && sumN > rows)
    val layer = Downsample.openLayer(spark, dir)
    // delete every data file: if admission ran ANY Spark job over the layer
    // it would fail with FileNotFound — the sidecar value must serve alone
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        java.nio.file.Files.delete(p)
    } finally s.close()
    val b = LayerRoute.benefit(layer)
    assert(math.abs(b - sumN.toDouble / rows) < 1e-12)
    assert(b >= LayerRoute.MinBenefit)
    // a layer written WITHOUT the sidecar still probes (old behavior)
    val bare = java.nio.file.Files.createTempDirectory("graft-nostats").toString + "/l"
    Downsample.layer(samples, Downsample.Res1h).write.parquet(bare)
    val probed = LayerRoute.benefit(spark.read.parquet(bare))
    assert(math.abs(probed - sumN.toDouble / rows) < 1e-9)
  }

  test("absent_over_time routes: absence grid from the layer matches raw") {
    val (start, end, step) = (T0 + 12 * H, T0 + 120 * H, 2 * H)
    // data runs out before end → later steps are absent on both paths
    val (raw, routed) = compileBoth(
      """absent_over_time({__name__="ctr", uid="0"}[6h])""", start, end, step)
    assert(routed.count() > 0)
    assert(routed.exceptAll(raw).isEmpty && raw.exceptAll(routed).isEmpty)
    val (_, _, tmp, samplesDir) = fixture
    assert(scannedDirs(routed).exists(_.contains(s"$tmp/l1h")))
    assert(!scannedDirs(routed).exists(_.contains(samplesDir)))
  }

  test("PromEngine(layers=…) serves range queries from the layer, same answers") {
    val (samples, layers, _, _) = fixture
    val plain = new graft.api.PromEngine(new graft.sources.FrameStore(samples))
    val layered = new graft.api.PromEngine(new graft.sources.FrameStore(samples), layers = layers)
    val q = """rate({__name__="ctr"}[6h])"""
    val (start, end, step) = (T0 + 12 * H, T0 + 60 * H, 2 * H)
    assert(layered.rangeQuery(q, start, end, step) == plain.rangeQuery(q, start, end, step))
    assert(layered.rangeQuery(q, start, end, step).nonEmpty)
    // layer route reads far fewer rows — the stats channel shows the saving
    val (_, statsRaw, _) = plain.rangeQueryWithStats(q, start, end, step)
    val (_, statsLay, _) = layered.rangeQueryWithStats(q, start, end, step)
    assert(statsLay.samplesTotal < statsRaw.samplesTotal,
      s"layer scan ${statsLay.samplesTotal} should be below raw ${statsRaw.samplesTotal}")
  }

  test("discoverLayers wires persisted downsample-<res> dirs into the engine") {
    val (samples, _, _, _) = fixture
    val layout = java.nio.file.Files.createTempDirectory("graft-layout").toString
    Downsample.refreshDates(spark,
      samples.withColumn("date",
        date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd")),
      s"$layout/downsample-${Downsample.Res1h}", Downsample.Res1h,
      (0 to 4).map(d => java.time.LocalDate.parse("2024-01-01").plusDays(d).toString))
    val found = Downsample.discoverLayers(spark, layout)
    assert(found.keySet == Set(Downsample.Res1h))
    val eng = new graft.api.PromEngine(new graft.sources.FrameStore(samples), layers = found)
    val plain = new graft.api.PromEngine(new graft.sources.FrameStore(samples))
    val q = """sum_over_time({__name__="gau"}[6h])"""
    val (s0, e0, st0) = (T0 + 12 * H, T0 + 60 * H, 2 * H)
    assert(eng.rangeQuery(q, s0, e0, st0) == plain.rangeQuery(q, s0, e0, st0))
    assert(eng.rangeQuery(q, s0, e0, st0).nonEmpty)
  }

  test("max_source_resolution caps which layers may serve (Thanos param)") {
    val (samples, layers, _, _) = fixture
    val eng = new graft.api.PromEngine(new graft.sources.FrameStore(samples), layers = layers)
    val plain = new graft.api.PromEngine(new graft.sources.FrameStore(samples))
    val q = """increase({__name__="ctr"}[6h])"""
    val (s0, e0, st0) = (T0 + 12 * H, T0 + 60 * H, 2 * H)
    def scanned(e: graft.api.PromEngine, cap: Long) =
      e.rangeQueryWithStats(q, s0, e0, st0, cap)._2.samplesTotal
    val raw = scanned(plain, Long.MaxValue)
    val cap0 = scanned(eng, 0L)            // raw only
    val cap5m = scanned(eng, 300000L)      // 5m aligned but cost-declined
    val full = scanned(eng, Long.MaxValue) // coarsest (1h)
    assert(cap0 == raw)
    // the cap excludes 1h and the cost guard declines 5m (831s cadence ⇒
    // ~1 sample per 5m window would read MORE than raw) — routing must be a
    // pure optimization, so the capped query serves from raw, not a finer
    // layer that cannot win
    assert(cap5m == raw,
      s"cost guard must fall back to raw when the 5m layer cannot win: 5m=$cap5m raw=$raw")
    assert(full < raw, s"expected 1h layer to read less: 1h=$full raw=$raw")
    // answers identical at every cap
    assert(eng.rangeQuery(q, s0, e0, st0) == plain.rangeQuery(q, s0, e0, st0))
    assert(eng.rangeQueryWithStats(q, s0, e0, st0, 300000L)._1 ==
      plain.rangeQuery(q, s0, e0, st0))
  }

  test("unaligned grid routes hybrid: layer windows + bounded raw slices, bit-identical") {
    val (_, _, tmp, samplesDir) = fixture
    // deliberately misaligned everything: start at +13m7s, step 2h11m,
    // window 24h; narrow grid span so the two boundary ranges stay small
    val (start, end, step) = (T0 + 40 * H + 13 * 60000L + 7000L,
      T0 + 46 * H + 13 * 60000L + 7000L, 2 * H + 11 * 60000L)
    Seq(
      """rate({__name__="ctr"}[24h])""",
      """increase({__name__="ctr"}[24h])""",
      """resets({__name__="ctr"}[24h])""",
      """changes({__name__="ctr"}[24h])""",
      """irate({__name__="ctr"}[24h])""",
      """sum_over_time({__name__="gau"}[24h])""",
      """avg_over_time({__name__="gau"}[24h])""",
      """min_over_time({__name__="gau"}[24h])""",
      """max_over_time({__name__="gau"}[24h])""",
      """count_over_time({__name__="gau"}[24h])""",
      """first_over_time({__name__="gau"}[24h])""",
      """last_over_time({__name__="gau"}[24h])""",
      """ts_of_last_over_time({__name__="gau"}[24h])""",
      """idelta({__name__="gau"}[24h])""",
      """delta({__name__="gau"}[24h])""").foreach { q =>
      val (raw, routed) = compileBoth(q, start, end, step)
      withClue(q) { assertIdentical(raw, routed) }
    }
    // the hybrid plan reads the 1h layer AND a raw scan for the slices
    val (_, routed) = compileBoth("""increase({__name__="ctr"}[24h])""", start, end, step)
    val dirs = scannedDirs(routed)
    assert(dirs.exists(_.contains(s"$tmp/l1h")), s"layer missing from $dirs")
    assert(dirs.exists(_.contains(samplesDir)), s"raw slices missing from $dirs")
  }

  test("hybrid route reads less than raw: slices bounded by the grid span, not the window") {
    val (samples, layers, _, _) = fixture
    val eng = new graft.api.PromEngine(new graft.sources.FrameStore(samples), layers = layers)
    val plain = new graft.api.PromEngine(new graft.sources.FrameStore(samples))
    // 48h window, 4h grid span, misaligned start/step: raw side of the
    // hybrid reads ~2×(span+res), the layer serves the other ~46h
    val q = """increase({__name__="ctr"}[48h])"""
    val (s0, e0, st0) = (T0 + 50 * H + 977000L, T0 + 54 * H + 977000L, H + 600000L)
    assert(eng.rangeQuery(q, s0, e0, st0) == plain.rangeQuery(q, s0, e0, st0))
    assert(eng.rangeQuery(q, s0, e0, st0).nonEmpty)
    val (_, statsRaw, _) = plain.rangeQueryWithStats(q, s0, e0, st0)
    val (_, statsHyb, _) = eng.rangeQueryWithStats(q, s0, e0, st0)
    assert(statsHyb.samplesTotal < statsRaw.samplesTotal,
      s"hybrid ${statsHyb.samplesTotal} should read below raw ${statsRaw.samplesTotal}")
  }

  test("chunked store + discovered layer: one dir serves layer routes AND pruned chunk scans") {
    val (dsamples, _, _, _) = dense
    val out = java.nio.file.Files.createTempDirectory("graft-chl-spec").toString
    graft.etl.Ingest.mergeChunked(spark, dsamples, out)
    val chunked = graft.etl.Ingest.openChunkedSamples(spark, out)
    Downsample.writeLayer(Downsample.layer(chunked.drop("date"), Downsample.Res1h),
      s"$out/downsample-${Downsample.Res1h}")
    val layers = Downsample.discoverLayers(spark, out)
    assert(layers.keySet == Set(Downsample.Res1h))
    val (start, end, step) = (T0 + 6 * H, T0 + 40 * H, 2 * H)
    // aligned long-range: served from the layer, chunks never decoded
    val ast = Parser.parse("""increase({__name__="gau"}[2h])""")
    val raw = Compiler.compile(ast, Compiler.Ctx(chunked, start, end, step))
    val routed = Compiler.compile(ast,
      Compiler.Ctx(chunked, start, end, step, layers = layers))
    assertIdentical(raw, routed)
    val dirs = scannedDirs(routed)
    assert(dirs.exists(_.contains("downsample-")), s"layer missing from $dirs")
    assert(!dirs.exists(_.contains(s"$out/chunks")), s"chunk scan leaked into $dirs")
    // non-routable window on the same store: the store's bounded select
    // serves it, with the query's reach pushed to the frame scan
    val nrAst = Parser.parse("""sum_over_time({__name__="gau"}[97m])""")
    val (lo, hi) = Compiler.timeBounds(nrAst, start, end)
    val nr = Compiler.compile(nrAst, Compiler.Ctx(
      graft.sources.SeriesStore.open(spark, out).select(lo, hi), start, end, step,
      layers = layers))
    assert(nr.count() > 0)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansOf(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case q: QueryStageExec        => scansOf(q.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case _ => (p.children ++ p.subqueries).flatMap(scansOf)
      }
    val scans = scansOf(nr.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata("PushedFilters")).mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(maxt,") &&
      pushed.contains("LessThanOrEqual(mint,"),
      s"frame time bounds not pushed:\n$pushed")
  }

  test("fuzz: random UNALIGNED grids × functions stay bit-identical (route or fall back)") {
    val rnd = new scala.util.Random(41)
    val fns = LayerRoute.routable.toSeq.sorted.filterNot(_ == "absent_over_time")
    (0 until 20).foreach { k =>
      val fn = fns(rnd.nextInt(fns.size))
      val window = 2 * H + rnd.nextInt(50 * 3600) * 1000L   // 2h..52h, second grain
      val step = 600000L + rnd.nextInt(4 * 3600) * 1000L    // 10m..~4h
      val start = T0 + rnd.nextInt(60 * 3600) * 1000L + rnd.nextInt(997)
      val end = start + rnd.nextInt(10) * step
      val name = if (rnd.nextBoolean()) "ctr" else "gau"
      val q = s"""$fn({__name__="$name"}[${window / 1000}s])"""
      val (raw, routed) = compileBoth(q, start, end, step)
      withClue(s"case $k: $q start=$start end=$end step=$step") {
        assert(routed.exceptAll(raw).isEmpty && raw.exceptAll(routed).isEmpty)
      }
    }
  }

  test("fuzz: random aligned grids × functions stay bit-identical to raw") {
    val rnd = new scala.util.Random(99)
    val fns = LayerRoute.routable.toSeq.sorted.filterNot(_ == "absent_over_time")
    (0 until 30).foreach { k =>
      val fn = fns(rnd.nextInt(fns.size))
      // alignment unit: hours or 5-minute blocks, both layers present
      val unit = if (rnd.nextBoolean()) H else 300000L
      val window = (1 + rnd.nextInt(30)) * unit
      val step = (1 + rnd.nextInt(12)) * unit
      val start = T0 + rnd.nextInt(40) * unit
      val end = start + rnd.nextInt(30) * step
      val name = if (rnd.nextBoolean()) "ctr" else "gau"
      val q = s"""$fn({__name__="$name"}[${window / 60000}m])"""
      val (raw, routed) = compileBoth(q, start, end, step)
      withClue(s"case $k: $q start=$start end=$end step=$step") {
        assert(routed.exceptAll(raw).isEmpty && raw.exceptAll(routed).isEmpty)
      }
    }
  }

  test("admissibleRes picks the coarsest aligned resolution that can win") {
    val (samples, layers, _, _) = fixture
    def ctx(start: Long, end: Long, step: Long) =
      Compiler.Ctx(samples, start, end, step, layers = layers)
    assert(LayerRoute.admissibleRes(ctx(T0, T0 + 10 * H, 2 * H), 6 * H)
      .contains(Downsample.Res1h))
    // 35m window: only 5m is aligned, but the sparse fixture's 5m layer is
    // cost-declined (benefit < MinBenefit) → nothing admissible
    assert(LayerRoute.benefit(layers(Downsample.Res5m)) < LayerRoute.MinBenefit)
    assert(LayerRoute.benefit(layers(Downsample.Res1h)) >= LayerRoute.MinBenefit)
    assert(LayerRoute.admissibleRes(ctx(T0, T0 + 10 * H, 2 * H), 35 * 60000L)
      .isEmpty)
    // on dense (60s) data the same 35m-window query admits the 5m layer
    val (dsamples, dlayers, _, _) = dense
    assert(LayerRoute.admissibleRes(Compiler.Ctx(dsamples, T0, T0 + 10 * H,
      2 * H, layers = dlayers), 35 * 60000L).contains(Downsample.Res5m))
    assert(LayerRoute.admissibleRes(ctx(T0 + 1234567L, T0 + 1234567L, 1000L), 6 * H)
      .isEmpty)
    assert(LayerRoute.admissibleRes(ctx(T0, T0 + 10 * H, 97 * 60000L), 6 * H)
      .isEmpty) // step not aligned
  }
}
