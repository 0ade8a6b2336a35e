package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.promql.{Compiler, Parser, ParseException}

/** PromQL histogram_* functions over native-histogram samples: the samples
  * frame carries an `h` struct (NativeHistograms model) and the functions
  * evaluate on the lookback-selected histogram per series per step —
  * Prometheus v3 semantics (promql/quantile.go, promql/functions.go). */
class PromqlHistogramSpec extends SparkSpec {
  import spark.implicits._

  private val ZTHR = 0.001953125

  private def hist(cnt: Double, hsum: Double, zcnt: Double,
                   pos: Seq[(Int, Double)]): Column =
    struct(
      lit(cnt).as("cnt"), lit(hsum).as("hsum"), lit(0).as("sch"),
      lit(ZTHR).as("zthr"), lit(zcnt).as("zcnt"),
      (if (pos.isEmpty) array().cast("array<struct<idx:int,c:double>>")
       else array(pos.map { case (i, c) =>
         struct(lit(i).as("idx"), lit(c).as("c")) }: _*)).as("pos"),
      array().cast("array<struct<idx:int,c:double>>").as("neg"), lit(null).cast("array<double>").as("cb"))

  // series (reqs,1): two histogram samples; series (reqs,2): one, all-zero
  private lazy val samples: DataFrame =
    Seq(("reqs", "1", 1000000L, 1L), ("reqs", "1", 1060000L, 2L),
        ("reqs", "2", 1060000L, 3L))
      .toDF("__name__", "uid", "ts_ms", "sample_id")
      .withColumn("value", lit(1.0))
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
      .withColumn("h",
        when(col("sample_id") === 1, hist(10, 30, 0, Seq(0 -> 2.0, 2 -> 3.0, 3 -> 5.0)))
          .when(col("sample_id") === 2, hist(12, 40, 0, Seq(0 -> 2.0, 2 -> 5.0, 3 -> 5.0)))
          .otherwise(hist(4, 2, 4, Nil)))

  private val T = 1100000L
  private def eval(q: String): Map[String, Double] =
    Compiler.compile(Parser.parse(q), Compiler.Ctx(samples, T, T, 1000L))
      .select(col("uid"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("histogram_count / histogram_sum / histogram_avg") {
    assert(eval("histogram_count(reqs)") === Map("1" -> 12.0, "2" -> 4.0))
    assert(eval("histogram_sum(reqs)") === Map("1" -> 40.0, "2" -> 2.0))
    val avg = eval("""histogram_avg(reqs{uid="1"})""")
    assert(avg.keySet === Set("1"))
    assert(math.abs(avg("1") - 40.0 / 12.0) < 1e-12)
  }

  test("histogram_stddev/stdvar: geometric bucket midpoints, population variance") {
    // series 1 latest: buckets idx0 (0.5,1]:2, idx2 (2,4]:5, idx3 (4,8]:5;
    // cnt 12, sum 40 → mean 10/3; mids 2^-0.5, 2^1.5, 2^2.5
    val mean = 40.0 / 12.0
    def t(mid: Double, c: Double) = c * (mid - mean) * (mid - mean)
    val varExp = (t(math.pow(2, -0.5), 2) + t(math.pow(2, 1.5), 5) +
      t(math.pow(2, 2.5), 5)) / 12.0
    val sv = eval("histogram_stdvar(reqs)")
    assert(math.abs(sv("1") - varExp) < 1e-12)
    // series 2: all observations in the zero bucket at mid 0, mean 0.5
    assert(math.abs(sv("2") - 0.25) < 1e-12)
    val sd = eval("histogram_stddev(reqs)")
    assert(math.abs(sd("1") - math.sqrt(varExp)) < 1e-12)
  }

  test("histogram_fraction over native buckets") {
    val f = eval("histogram_fraction(1.0, 4.0, reqs)")
    // series 1: obs ≤ 4 → buckets idx0+idx2 = 7; obs ≤ 1 → idx0 = 2
    assert(math.abs(f("1") - 5.0 / 12.0) < 1e-12)
    assert(f("2") === 0.0) // all zeros sit below the range
  }

  test("histogram_quantile dispatches to native buckets when h is present") {
    val q = eval("histogram_quantile(0.9, reqs)")
    // series 1: rank 10.8 → (4,8], f = 3.8/5 → 2^2.76
    assert(math.abs(q("1") - math.pow(2.0, 2.76)) < 1e-12)
    // series 2: all-zero histogram — zero bucket spans [-zthr, zthr]
    assert(math.abs(q("2") - (-ZTHR + 2 * ZTHR * 0.9)) < 1e-12)
  }

  test("offset selects the older histogram; missing series drop out") {
    val c = eval("histogram_count(reqs offset 60s)")
    assert(c === Map("1" -> 10.0)) // series 2 has no sample at T−60s
  }

  test("histogram functions reject float-typed expressions") {
    assertThrows[ParseException](eval("histogram_fraction(0, 1, max(reqs))"))
    assertThrows[ParseException](eval("histogram_count(abs(reqs))"))
  }

  // cumulative counter series: 3 samples 30 s apart, monotone buckets
  private lazy val counterSamples: DataFrame =
    Seq(("cum", "1", 10000L, 1L), ("cum", "1", 40000L, 2L), ("cum", "1", 70000L, 3L))
      .toDF("__name__", "uid", "ts_ms", "sample_id")
      .withColumn("value", lit(1.0))
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
      .withColumn("h",
        when(col("sample_id") === 1, hist(10, 30, 2, Seq(0 -> 3.0, 2 -> 5.0)))
          .when(col("sample_id") === 2, hist(13, 40, 2, Seq(0 -> 4.0, 2 -> 7.0)))
          .otherwise(hist(16, 55, 3, Seq(0 -> 4.0, 2 -> 9.0))))

  private def evalC(q: String, t: Long): Map[String, Double] =
    Compiler.compile(Parser.parse(q), Compiler.Ctx(counterSamples, t, t, 1000L))
      .select(col("uid"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("increase/rate over native histograms: bucket-wise extrapolated delta") {
    // window (−20s, 70s]: all 3 samples; si=60s, avg spacing 30s, thr=33s;
    // ds0=30s (kept), de0=0 → factor (60+30+0)/60 = 1.5
    val inc = evalC("histogram_count(increase(cum[90s]))", 70000L)
    assert(math.abs(inc("1") - (16 - 10) * 1.5) < 1e-12)
    val rt = evalC("histogram_sum(rate(cum[90s]))", 70000L)
    assert(math.abs(rt("1") - (55 - 30) * 1.5 / 90.0) < 1e-12)
    // zero-bucket delta flows through histogram_fraction of the zero range
    val zf = evalC(s"histogram_fraction(0, $ZTHR, increase(cum[90s]))", 70000L)
    assert(math.abs(zf("1") - 1.0 / 6.0) < 1e-12) // zcnt Δ=1 of cnt Δ=6
  }

  test("quantile composes over rate (uniform scaling cancels)") {
    // delta buckets: idx0 Δ=1, idx2 Δ=4, zcnt Δ=1, cnt Δ=6 → rank(0.5)=3
    // → idx2 (2,4], cumBefore 1+1=2... zero bucket first: rank 3 > zcnt 1;
    // positive target 2: cums [1,5] → idx2, f=(2-1)/4 → 2^(1+0.25)
    val q = evalC("histogram_quantile(0.5, rate(cum[90s]))", 70000L)
    assert(math.abs(q("1") - math.pow(2.0, 1.25)) < 1e-12)
  }

  test("sum() over histogram vectors is the bucket-wise add") {
    // merged across both series: pos idx0:2, idx2:5, idx3:5; zcnt 4; cnt 16
    def one(q: String): Double =
      Compiler.compile(Parser.parse(q), Compiler.Ctx(samples, T, T, 1000L))
        .select(col("value")).head().getDouble(0)
    assert(one("histogram_count(sum(reqs))") === 16.0)
    assert(one("histogram_sum(sum(reqs))") === 42.0)
    // rank 8 > zcnt 4 → target 4 in (2,4], f = 2/5 → 2^1.4
    assert(math.abs(one("histogram_quantile(0.5, sum(reqs))") -
      math.pow(2.0, 1.4)) < 1e-12)
    // grouped sum keeps per-group identity
    assert(eval("histogram_count(sum by (uid) (reqs))") ===
      Map("1" -> 12.0, "2" -> 4.0))
    // and composes over rate
    val r = Compiler.compile(
      Parser.parse("histogram_count(sum(increase(cum[90s])))"),
      Compiler.Ctx(counterSamples, 70000L, 70000L, 1000L))
      .select(col("value")).head().getDouble(0)
    assert(math.abs(r - (16 - 10) * 1.5) < 1e-12) // single series → identity
    // avg = merged / series count
    assert(one("histogram_count(avg(reqs))") === 8.0)
    assert(math.abs(one("histogram_sum(avg(reqs))") - 21.0) < 1e-12)
  }

  test("histogram subquery: inner selector on the aligned grid, outer fold") {
    // cum[60s:30s] at 70s: aligned grid points 30s (sees the 10s sample,
    // cnt 10) and 60s (sees 40s, cnt 13); outer increase over (10s, 70s]:
    // delta 3, si=30, ds0=20, de0=10, all under thr → factor 2 → 6
    val inc = evalC("histogram_count(increase(cum[60s:30s]))", 70000L)
    assert(math.abs(inc("1") - 6.0) < 1e-12)
    // non-selector inner expressions are float-typed → rejected
    assertThrows[ParseException](
      evalC("histogram_count(increase(rate(cum[30s])[60s:30s]))", 70000L))
  }

  test("@-pinned histogram range evaluation broadcasts onto the grid") {
    // pin the window end at 70s regardless of the (much later) query time
    val pinned = evalC("histogram_count(increase(cum[90s] @ 70))", 500000L)
    assert(math.abs(pinned("1") - (16 - 10) * 1.5) < 1e-12)
  }

  test("counter reset adds back the pre-reset histogram; delta does not") {
    val resetS = Seq(("cum", "1", 10000L, 1L), ("cum", "1", 40000L, 2L),
        ("cum", "1", 70000L, 3L))
      .toDF("__name__", "uid", "ts_ms", "sample_id")
      .withColumn("value", lit(1.0))
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
      .withColumn("h",
        when(col("sample_id") === 1, hist(10, 30, 0, Seq(0 -> 10.0)))
          .when(col("sample_id") === 2, hist(2, 5, 0, Seq(0 -> 2.0))) // reset
          .otherwise(hist(5, 12, 0, Seq(0 -> 5.0))))
    def ev(q: String) =
      Compiler.compile(Parser.parse(q), Compiler.Ctx(resetS, 70000L, 70000L, 1000L))
        .select(col("value")).head().getDouble(0)
    // increase: (5−10) + 10 (pre-reset) = 5, × extrapolation 1.5
    assert(math.abs(ev("histogram_count(increase(cum[90s]))") - 5 * 1.5) < 1e-12)
    // delta (gauge semantics): no reset compensation → (5−10) × 1.5
    assert(math.abs(ev("histogram_count(delta(cum[90s]))") - -5 * 1.5) < 1e-12)
  }

  test("PromEngine serves histogram functions over h-carrying samples") {
    val eng = new graft.api.PromEngine(new graft.sources.FrameStore(samples))
    val out = eng.instantQuery("histogram_quantile(0.9, reqs)", T)
      .map(s => s.labels("uid") -> s.points.head._2).toMap
    assert(math.abs(out("1") - math.pow(2.0, 2.76)) < 1e-12)
    assert(math.abs(out("2") - (-ZTHR + 2 * ZTHR * 0.9)) < 1e-12)
  }

  test("a data-borne STRING label named 'h' stays a label (type-driven dispatch)") {
    // same discipline as the __graft_ prefix rule: only a struct-typed `h`
    // is a histogram sample; a label merely named "h" must survive grouping
    val floats = Seq(("m", "x", 1090000L, 1L, 2.0), ("m", "y", 1090000L, 2L, 3.0))
      .toDF("__name__", "h", "ts_ms", "sample_id", "value")
      .withColumn("series_hash", xxhash64(col("__name__"), col("h")))
    val out = Compiler.compile(Parser.parse("sum by (h) (m)"),
        Compiler.Ctx(floats, T, T, 1000L))
      .select(col("h"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("x" -> 2.0, "y" -> 3.0))
    // and histogram functions refuse it — no struct column to evaluate
    assertThrows[ParseException](
      Compiler.compile(Parser.parse("histogram_count(m)"),
        Compiler.Ctx(floats, T, T, 1000L)))
  }

  test("le-based histogram_quantile still works when samples lack h") {
    val classic = samples.drop("h")
    val ex = intercept[ParseException] {
      Compiler.compile(Parser.parse("histogram_quantile(0.9, reqs)"),
        Compiler.Ctx(classic, T, T, 1000L)).collect()
    }
    assert(ex.getMessage.contains("'le' label"))
  }

  private def histS(sch: Int, cnt: Double, hsum: Double, zcnt: Double,
                    pos: Seq[(Int, Double)]): Column =
    struct(
      lit(cnt).as("cnt"), lit(hsum).as("hsum"), lit(sch).as("sch"),
      lit(ZTHR).as("zthr"), lit(zcnt).as("zcnt"),
      (if (pos.isEmpty) array().cast("array<struct<idx:int,c:double>>")
       else array(pos.map { case (i, c) =>
         struct(lit(i).as("idx"), lit(c).as("c")) }: _*)).as("pos"),
      array().cast("array<struct<idx:int,c:double>>").as("neg"), lit(null).cast("array<double>").as("cb"))

  test("schema reduction mid-window coarsens buckets; schema increase is a reset") {
    // t1 at schema 1 (finer), t2 at schema 0 (coarser) — Prometheus'
    // reduction rule: no reset, delta computed at the MINIMUM schema;
    // schema-1 idx 1,2 both map into schema-0 idx 1 ((idx−1)>>1 + 1)
    def series(h1: Column, h2: Column) =
      Seq(("mx", "1", 10000L, 1L), ("mx", "1", 40000L, 2L))
        .toDF("__name__", "uid", "ts_ms", "sample_id")
        .withColumn("value", lit(1.0))
        .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
        .withColumn("h", when(col("sample_id") === 1, h1).otherwise(h2))
    def ev(df: org.apache.spark.sql.DataFrame, q: String) =
      Compiler.compile(Parser.parse(q), Compiler.Ctx(df, 40000L, 40000L, 1000L))
        .select(col("value")).head().getDouble(0)
    val reduce = series(histS(1, 5, 10, 0, Seq(1 -> 2.0, 2 -> 3.0)),
      histS(0, 7, 15, 0, Seq(1 -> 7.0)))
    // counts only grew after coarsening (5 → 7): NOT a reset
    assert(math.abs(ev(reduce, "histogram_count(increase(mx[60s]))") - 2 * 2.0) < 1e-12)
    // quantile of the delta evaluates at schema 0: the whole delta mass (2)
    // sits in schema-0 bucket 1 = (1, 2]; φ=1 hits its upper bound
    assert(math.abs(ev(reduce, "histogram_quantile(1.0, increase(mx[60s]))") - 2.0) < 1e-12)
    // schema INCREASE (0 → 1): counters only coarsen, so this is a restart —
    // the pre-reset histogram is added back (5 − 5 + 5 = 5 at schema 0)
    val finer = series(histS(0, 5, 10, 0, Seq(1 -> 5.0)),
      histS(1, 5, 10, 0, Seq(1 -> 2.0, 2 -> 3.0)))
    assert(math.abs(ev(finer, "histogram_count(increase(mx[60s]))") - 5 * 2.0) < 1e-12)
    // same mixed series under gauge semantics: no compensation, delta = 0
    assert(math.abs(ev(finer, "histogram_count(delta(mx[60s]))") - 0.0) < 1e-12)
  }

  test("zero-threshold changes: decrease resets; increase folds before comparing") {
    // Prometheus FloatHistogram.DetectReset semantics: the zero bucket can
    // only widen (a zthr DECREASE is a restart); on a widening, prev buckets
    // entirely inside the new threshold fold into prev's zero count before
    // the zcnt comparison and drop out of the bucket-wise compare, while a
    // populated bucket STRADDLING the new threshold is a reset.
    def histZ(zthr: Double, cnt: Double, zcnt: Double, pos: Seq[(Int, Double)]): Column =
      struct(
        lit(cnt).as("cnt"), lit(10.0).as("hsum"), lit(0).as("sch"),
        lit(zthr).as("zthr"), lit(zcnt).as("zcnt"),
        (if (pos.isEmpty) array().cast("array<struct<idx:int,c:double>>")
         else array(pos.map { case (i, c) =>
           struct(lit(i).as("idx"), lit(c).as("c")) }: _*)).as("pos"),
        array().cast("array<struct<idx:int,c:double>>").as("neg"), lit(null).cast("array<double>").as("cb"))
    def series(h1: Column, h2: Column) =
      Seq(("mz", "1", 10000L, 1L), ("mz", "1", 40000L, 2L))
        .toDF("__name__", "uid", "ts_ms", "sample_id")
        .withColumn("value", lit(1.0))
        .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
        .withColumn("h", when(col("sample_id") === 1, h1).otherwise(h2))
    def ev(df: org.apache.spark.sql.DataFrame) =
      Compiler.compile(Parser.parse("histogram_count(increase(mz[60s]))"),
        Compiler.Ctx(df, 40000L, 40000L, 1000L))
        .select(col("value")).head().getDouble(0)
    // h1 at zthr=1: zcnt 4, schema-0 buckets (1,2]→2 and (2,4]→3, cnt 9
    val h1 = histZ(1.0, 9, 4, Seq(1 -> 2.0, 2 -> 3.0))
    // zthr widens to 2.0 (= upper bound of idx 1, a clean split): idx 1's
    // count folds into the zero bucket (4+2=6), idx 2 survives — NOT a
    // reset; increase = (9−9)·2 = 0. If the fold or trim were missing, the
    // idx-1 "drop" would fake a reset and yield 18.
    assert(ev(series(h1, histZ(2.0, 9, 6, Seq(2 -> 3.0)))) === 0.0)
    // same widening but curr zcnt (5) < folded prev zcnt (6): zero bucket
    // shrank → reset → (9−9+9)·2 = 18
    assert(ev(series(h1, histZ(2.0, 9, 5, Seq(2 -> 4.0)))) === 18.0)
    // zthr widens to 3.0, strictly inside populated (2,4]: unsplittable → reset
    assert(ev(series(h1, histZ(3.0, 9, 6, Seq(2 -> 3.0)))) === 18.0)
    // zthr DECREASE (1.0 → 0.5): always a reset even though counts grew
    assert(ev(series(h1, histZ(0.5, 10, 4, Seq(1 -> 2.0, 2 -> 4.0)))) === 20.0)
  }

  test("zero-bucket-only histograms: quantile interpolates inside [-zthr, zthr]") {
    val z = Seq(("zo", "1", 1090000L, 1L))
      .toDF("__name__", "uid", "ts_ms", "sample_id")
      .withColumn("value", lit(1.0))
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
      .withColumn("h", histS(0, 4, 0, 4, Nil))
    def ev(q: String) =
      Compiler.compile(Parser.parse(q), Compiler.Ctx(z, T, T, 1000L))
        .select(col("value")).head().getDouble(0)
    assert(ev("histogram_quantile(0.5, zo)") == 0.0) // midpoint of the zero bucket
    assert(math.abs(ev("histogram_quantile(0.25, zo)") - -ZTHR / 2) < 1e-18)
    assert(math.abs(ev("histogram_quantile(1.0, zo)") - ZTHR) < 1e-18)
    assert(ev("histogram_sum(zo)") == 0.0 && ev("histogram_count(zo)") == 4.0)
    // all mass within (-zthr, zthr): fraction over a straddling range is 1
    assert(math.abs(ev(s"histogram_fraction(-1.0, 1.0, zo)") - 1.0) < 1e-12)
  }

  test("top-level selector serves native-histogram samples through the engine") {
    val eng = new graft.api.PromEngine(new graft.sources.FrameStore(samples))
    val res = eng.instantQuery("reqs", T)
    assert(res.size == 2)
    val s1 = res.find(_.labels("uid") == "1").get
    assert(s1.points.isEmpty && s1.hists.size == 1)
    val (ts, h) = s1.hists.head
    assert(ts == T && h.cnt == 12.0 && h.hsum == 40.0 && h.sch == 0 &&
      h.pos == Seq(0 -> 2.0, 2 -> 5.0, 3 -> 5.0) && h.neg.isEmpty)
    // histogram functions still produce plain float series
    val c = eng.instantQuery("histogram_count(reqs)", T)
    assert(c.nonEmpty && c.forall(s => s.hists.isEmpty && s.points.nonEmpty))
    // range grid: each step that selects the series carries its histogram
    val rng = eng.rangeQuery("""reqs{uid="1"}""", 1060000L, 1090000L, 30000L)
    assert(rng.head.hists.map(_._1) == Seq(1060000L, 1090000L))
    assert(rng.head.hists.forall(_._2.cnt == 12.0))
  }

  test("rate and sum over histogram series serve histogram results") {
    val eng = new graft.api.PromEngine(new graft.sources.FrameStore(samples))
    // uid=1: delta cnt 2, only bucket idx2 grew (+2); extrapolation factor 2
    // over a 120 s window → rate = 2·2/120 = 1/30; uid=2's single sample
    // can't produce a rate and drops, exactly like the float path
    val r = eng.instantQuery("rate(reqs[2m])", T)
    assert(r.size == 1 && r.head.labels("uid") == "1")
    val (_, rh) = r.head.hists.head
    assert(math.abs(rh.cnt - 2.0 * 2 / 120) < 1e-12)
    assert(rh.pos.map(_._1) == Seq(2) &&
      math.abs(rh.pos.head._2 - 2.0 * 2 / 120) < 1e-12)
    // sum(): bucket-wise merge of the instant histograms
    val s = eng.instantQuery("sum(reqs)", T)
    assert(s.size == 1 && s.head.labels.isEmpty)
    val (_, sh) = s.head.hists.head
    assert(sh.cnt == 16.0 && sh.hsum == 42.0 && sh.zcnt == 4.0 &&
      sh.pos == Seq(0 -> 2.0, 2 -> 5.0, 3 -> 5.0))
  }

  test("mixed float+histogram stores evaluate each series by its own type") {
    val mixed = samples.select(col("*")).unionByName(
      Seq(("reqs", "9", T - 1000, 9L))
        .toDF("__name__", "uid", "ts_ms", "sample_id")
        .withColumn("value", lit(7.0))
        .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
        .withColumn("h", lit(null).cast(samples.schema("h").dataType.sql)))
    val eng = new graft.api.PromEngine(new graft.sources.FrameStore(mixed))
    val res = eng.instantQuery("reqs", T)
    assert(res.size == 3)
    val f9 = res.find(_.labels("uid") == "9").get
    assert(f9.hists.isEmpty && f9.points == Seq((T, 7.0)))
    assert(res.filterNot(_.labels("uid") == "9").forall(s =>
      s.points.isEmpty && s.hists.nonEmpty))
    // sum() mixes both types inside the single {} group: Prometheus removes
    // such a group's result entirely and emits the MixedFloatsHistograms
    // warning annotation — no half-float half-histogram answer
    val (s, _, warns) = eng.instantQueryWithStats("sum(reqs)", T)
    assert(s.isEmpty, s"mixed-type aggregation group must be dropped, got $s")
    assert(warns.exists(_.contains("mix of histograms and floats")), warns.toString)
    // a NULL-keyed group (grouping by an absent label) is still ONE mixed
    // group: the drop must be null-safe, not just the detection
    val (byNope, _, warnsN) = eng.instantQueryWithStats("sum by (nope) (reqs)", T)
    assert(byNope.isEmpty, s"null-keyed mixed group must drop, got $byNope")
    assert(warnsN.exists(_.contains("mix of histograms and floats")), warnsN.toString)
    // grouping that separates the types keeps every group and stays quiet
    val (byUid, _, warns2) = eng.instantQueryWithStats("sum by (uid) (reqs)", T)
    assert(byUid.size == 3)
    assert(byUid.find(_.labels("uid") == "9").get.points == Seq((T, 7.0)))
    assert(byUid.filterNot(_.labels("uid") == "9").forall(_.hists.nonEmpty))
    assert(!warns2.exists(_.contains("mix of histograms")), warns2.toString)
  }
}
