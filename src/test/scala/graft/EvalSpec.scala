package graft

import org.apache.spark.sql.functions._
import graft.model.TimeSeriesModel
import graft.promql._
import graft.sources.Tables

/** Instant/range evaluation: the bounded-fanout range grid must equal the
  * naive (quadratic) range-join formulation; rate must handle counter resets. */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  private val DAY = 86400000L
  private val T0 = 1704067200000L

  test("rangeVectors equals naive range-join semantics on sf0.001") {
    val t = Tables(spark, sf())
    val samples = TimeSeriesModel.samples(t.events)
    val (start, end, step, lb) = (T0 + 5 * DAY, T0 + 12 * DAY, 10800000L, 21600000L)

    val fast = Eval.rangeVectors(samples, Nil, start, end, step, lb)
      .select($"__name__", $"uid", $"step_ms", $"value")

    val steps = spark.range(0, (end - start) / step + 1)
      .select((lit(start) + col("id") * step).as("step_ms"))
    val naive = samples.join(steps,
        samples("ts_ms") > steps("step_ms") - lb && samples("ts_ms") <= steps("step_ms"))
      .groupBy($"__name__", $"uid", $"step_ms")
      .agg(max_by($"value", $"ts_ms").as("value"))

    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
    assert(fast.count() > 0)
  }

  test("instantVector picks the latest sample within lookback only") {
    val df = Seq(
      ("m", "1", 1000L, 1.0, 1L), ("m", "1", 2000L, 2.0, 2L),
      ("m", "1", 9000L, 9.0, 3L), // outside (2000-5000, 5000]
      ("m", "2", 100L, 5.0, 4L)   // stale for t=5000, lb=5000 => in (0, 5000]
    ).toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64($"__name__", $"uid"))
    val got = Eval.instantVector(df, Nil, tMs = 5000L, lookbackMs = 5000L)
      .select($"uid", $"value").as[(String, Double)].collect().toMap
    assert(got == Map("1" -> 2.0, "2" -> 5.0))
  }

  test("staleness markers: stale-latest series absent; plain NaN is a value") {
    val stale = graft.functions.IsStale.StaleNaN
    val df = Seq(
        ("m", "1", 1000L, 7.0, 1L), ("m", "1", 2000L, stale, 2L), // ends stale
        ("m", "2", 1000L, 5.0, 3L),                               // alive
        ("m", "3", 2000L, Double.NaN, 4L))                        // NaN value
      .toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64($"__name__", $"uid"))
    val iv = Eval.instantVector(df, Nil, 5000L, 5000L)
      .select($"uid", $"value").collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(iv.map(_._1).sorted.toSeq == Seq("2", "3")) // uid 1 suppressed
    assert(iv.toMap.apply("2") == 5.0 && iv.toMap.apply("3").isNaN)
    // range selector skips the stale point: last_over_time sees 7.0, and the
    // marker does not count as a sample for count_over_time
    val ctx = Compiler.Ctx(df, 5000L, 5000L, 1000L, 5000L)
    val last = Compiler.compile(Parser.parse("""last_over_time({uid="1"}[5s])"""), ctx)
      .select($"value").as[Double].head()
    assert(last == 7.0)
    val cnt = Compiler.compile(Parser.parse("""count_over_time({uid="1"}[5s])"""), ctx)
      .select($"value").as[Double].head()
    assert(cnt == 1.0)
  }

  test("rateFamily applies counter-reset correction within windows") {
    // one series, one window [0, 10000): 10 -> 20 -> 5 (reset) -> 15
    val df = Seq(
      ("c", "1", 1000L, 10.0, 1L), ("c", "1", 2000L, 20.0, 2L),
      ("c", "1", 3000L, 5.0, 3L), ("c", "1", 4000L, 15.0, 4L)
    ).toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64($"__name__", $"uid"))
    val r = RangeFunctions.rateFamily(df, windowMs = 10000L).collect()(0)
    // Prometheus extrapolation over window (0, 10000]: si=3s, ai=1s,
    // thr=1.1s; ds0=1s < thr stays; dz=3·10/25=1.2 ≥ dsA → no zero clamp;
    // de0=6s ≥ thr → ai/2=0.5 ⇒ factor (3+1+0.5)/3 = 1.5
    assert(math.abs(r.getAs[Double]("delta") - 5.0 * 1.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("increase") - 25.0 * 1.5) < 1e-12) // 5 + reset(20), extrapolated
    assert(math.abs(r.getAs[Double]("rate") - 25.0 * 1.5 / 10.0) < 1e-12)
    assert(r.getAs[Double]("idelta") == 10.0)        // 15 - 5
    // <2 samples ⇒ NULL rate family (Prometheus emits nothing), count kept
    val one = RangeFunctions.rateFamily(df.filter($"sample_id" === 1L), 10000L).collect()(0)
    assert(one.getAs[Long]("n_samples") == 1L)
    assert(one.isNullAt(one.fieldIndex("delta")) && one.isNullAt(one.fieldIndex("rate")))
  }

  test("labelValues dictionary/footer fast path equals the scan on every bound shape") {
    val t = Tables(spark, sf())
    val out = java.nio.file.Files.createTempDirectory("graft-lvdict").toString
    graft.etl.Ingest.convert(spark, t.events, out)
    val fileSamples = graft.etl.Ingest.openSamples(spark, out)

    def scanVals(label: String, lo: Long, hi: Long): Seq[String] =
      Eval.select(fileSamples, Nil, lo, hi).select(col(label)).na.drop()
        .distinct().collect().map(_.getString(0)).toSeq.sorted

    // unbounded (pure dictionary), day-aligned, and ragged interior bounds
    // (dictionary files + boundary-file scan) must all equal the full scan
    val bounds = Seq(
      (Long.MinValue / 2, Long.MaxValue / 2),
      (T0 + 5 * DAY, T0 + 12 * DAY - 1),
      (T0 + 5 * DAY + 12345L, T0 + 9 * DAY + 777L))
    for ((lo, hi) <- bounds; label <- Seq("uid", "__name__")) {
      val fast = graft.sources.FooterLabelValues.labelValues(fileSamples, label, lo, hi)
      assert(fast.isDefined, s"fast path should apply to the converted layout ($label)")
      assert(fast.get == scanVals(label, lo, hi), s"($label, $lo, $hi)")
    }

    // engine route: matcherless labelValues uses the fast path, limit works
    val eng = new graft.api.PromEngine(new graft.sources.FrameStore(fileSamples))
    val (vals, trunc) = eng.labelValues("uid", Nil, Long.MinValue / 2,
      Long.MaxValue / 2, limit = 3)
    assert(vals.size == 3 && trunc)
    assert(vals == scanVals("uid", Long.MinValue / 2, Long.MaxValue / 2).take(3))

    // a transformed (non-file-backed) view is not applicable → scan path
    val mem = TimeSeriesModel.samples(t.events)
    assert(graft.sources.FooterLabelValues
      .labelValues(mem, "uid", 0L, Long.MaxValue / 2).isEmpty)
  }

  test("labelNames footer path equals the scan; session hadoop conf threads through") {
    val t = Tables(spark, sf())
    val out = java.nio.file.Files.createTempDirectory("graft-lndict").toString
    graft.etl.Ingest.convert(spark, t.events, out)
    // a session-level hadoop setting must reach the executor-side footer
    // readers (broadcast SerializableConfiguration, not a fresh default conf)
    spark.conf.set("spark.hadoop.graft.test.marker", "on")
    try {
      val fileSamples = graft.etl.Ingest.openSamples(spark, out)
      val lbls = fileSamples.columns
        .filterNot(Set("ts_ms", "value", "sample_id", "series_hash", "date")).toSeq
      def scanNames(lo: Long, hi: Long): Seq[String] = {
        val m = Eval.select(fileSamples, Nil, lo, hi)
        lbls.filter(l => m.filter(col(l).isNotNull).limit(1).count() > 0).sorted
      }
      val bounds = Seq(
        (Long.MinValue / 2, Long.MaxValue / 2),
        (T0 + 5 * DAY, T0 + 12 * DAY - 1),
        (T0 + 5 * DAY + 12345L, T0 + 9 * DAY + 777L),
        (T0 - 10 * DAY, T0 - 5 * DAY)) // empty interval → no names
      for ((lo, hi) <- bounds) {
        val fast = graft.sources.FooterLabelValues.labelNames(fileSamples, lbls, lo, hi)
        assert(fast.isDefined, s"footer labelNames should apply ($lo, $hi)")
        assert(fast.get == scanNames(lo, hi), s"($lo, $hi)")
      }
      // engine route: matcherless labelNames uses the footer path
      val eng = new graft.api.PromEngine(new graft.sources.FrameStore(fileSamples))
      assert(eng.labelNames(Nil, T0 + 5 * DAY, T0 + 12 * DAY - 1) ==
        scanNames(T0 + 5 * DAY, T0 + 12 * DAY - 1))
      // non-file-backed view falls back to the schema answer
      assert(new graft.api.PromEngine(new graft.sources.FrameStore(TimeSeriesModel.samples(t.events)))
        .labelNames(Nil, 0L, Long.MaxValue / 2) == lbls.sorted)
    } finally spark.conf.unset("spark.hadoop.graft.test.marker")
  }

  test("matcher-form labelNames batches the wide fallback aggregate (5k labels)") {
    // a 5k-label schema (the reference caps shards at 32k columns) must not
    // push one 5000-expression count aggregate through codegen in a single
    // pass; the batched fallback answers correctly, and CODEGEN_ONLY proves
    // every per-batch aggregate actually compiles (interpreted fallback
    // would be the silent failure mode this pins)
    val wide = 5000
    val base = Seq(
        ("m", "1", 1000L, 1.0, 1L),
        ("m", "2", 2000L, 2.0, 2L))
      .toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64($"__name__", $"uid"))
    val cols = base.columns.map(col) ++ (0 until wide).map(i =>
      (if (i == 7) $"uid" else lit(null).cast("string")).as(s"x$i"))
    val df = base.select(cols.toSeq: _*)
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val eng = new graft.api.PromEngine(new graft.sources.FrameStore(df))
      val names = eng.labelNames(Seq(MatchEq("__name__", "m")), 0L, Long.MaxValue / 2)
      assert(names == Seq("__name__", "uid", "x7"))
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }
}
