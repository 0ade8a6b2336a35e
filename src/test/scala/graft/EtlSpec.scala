package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.spark.sql.functions._
import graft.etl.{Downsample, Ingest, Loops, Planner, Retention, Syncer}
import graft.sources.Tables

/** ETL convert/plan/retention (ref convert/convert_test.go, convert/plan_test.go,
  * locate/deletion_test.go analogs). */
class EtlSpec extends SparkSpec {

  test("convert writes day-partitioned sorted layout with meta sidecars") {
    val out = Files.createTempDirectory("graft-ingest").toString
    val t = Tables(spark, sf())
    val metas = Ingest.convert(spark, t.events, out)

    // january days present, sidecars readable
    assert(metas.nonEmpty && metas.forall(_.date.startsWith("2024-01")))
    assert(Ingest.discoverDays(out) == metas.map(_.date))

    // row counts survive the round trip (no dups in fixture → same count)
    val back = Ingest.openSamples(spark, out)
    assert(back.count() == t.events.count())

    // partition pruning: a single-day read touches one partition directory
    val oneDay = back.filter(col("date") === metas.head.date)
    assert(oneDay.count() == metas.head.nSamples)

    // sorted-within-file invariant (ref sorted writer convert/convert.go:623):
    // within each parquet file, (__name__, uid, ts_ms) must be nondecreasing
    val viol = back
      .select(input_file_name().as("f"), col("__name__"), col("uid"), col("ts_ms"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("f"))
          .orderBy(monotonically_increasing_id())))
      .withColumn("prev", lag(struct(col("__name__"), col("uid"), col("ts_ms")), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("f")).orderBy(col("rn"))))
      .filter(col("prev").isNotNull &&
        struct(col("__name__"), col("uid"), col("ts_ms")) < col("prev"))
    assert(viol.count() == 0)

    // idempotent re-convert of a single day (dynamic partition overwrite)
    val again = Ingest.convert(spark, t.events, out, Some(Seq(metas.head.date)))
    assert(again.map(_.date) == Seq(metas.head.date))
    assert(Ingest.openSamples(spark, out).count() == t.events.count())
  }

  test("chunked layout: fewer rows, samples reconstruct exactly") {
    val t = Tables(spark, sf())
    val chunked = Files.createTempDirectory("graft-chunked").toString
    Ingest.convertChunked(spark, t.events, chunked)

    // NOTE: no on-disk byte assertion here — the sparse test fixture has
    // ~1-2 samples per 8h frame, where per-frame framing overhead beats the
    // XOR win; the bytes/sample bound on dense (15s-cadence) series is
    // asserted in GorillaChunkSpec ("compresses well under 16 bytes/sample").

    // decode-on-read reconstructs every sample (count + checksum)
    val back = Ingest.openChunkedSamples(spark, chunked)
    assert(back.count() == t.events.count())
    val rawSum = graft.model.TimeSeriesModel.samples(t.events)
      .agg(sum(col("ts_ms")), graft.functions.Det.dsum(col("value"))).collect()(0)
    val decSum = back.agg(sum(col("ts_ms")), graft.functions.Det.dsum(col("value"))).collect()(0)
    assert(rawSum == decSum)

    // frame rows are bounded by the 8h window
    val frames = spark.read.parquet(s"$chunked/chunks")
    assert(frames.filter(col("maxt") - col("mint") >= 8L * 3600 * 1000).count() == 0)
    assert(frames.count() < t.events.count())
  }

  test("chunked convert rejects struct-typed (histogram) sample columns loudly") {
    val t = Tables(spark, sf())
    val withH = graft.model.TimeSeriesModel.samples(t.events)
      .withColumn("h", struct(lit(1.0).as("count"), lit(2.0).as("sum")))
    val e = intercept[IllegalArgumentException] {
      graft.etl.Ingest.framesOf(withH).count()
    }
    assert(e.getMessage.contains("'h'"))
  }

  test("chunked streams: external-label veto prunes stream partitions before listing") {
    import graft.promql.MatchEq
    val t = Tables(spark, sf())
    val out = Files.createTempDirectory("graft-chunkstream").toString
    Ingest.convertChunked(spark, t.events, out, Map("cluster" -> "us-east"))
    Ingest.convertChunked(spark, t.events, out, Map("cluster" -> "eu-west"))
    assert(Ingest.readStreamSidecars(out).values.toSet ==
      Set(Map("cluster" -> "us-east"), Map("cluster" -> "eu-west")))

    val T0 = 1704067200000L; val DAY = 86400000L
    // the same events live in BOTH streams — without the veto the select
    // would return doubled rows
    val sel = Ingest.selectChunkedSamples(spark, out,
      Seq(MatchEq("__name__", "purchase"), MatchEq("cluster", "us-east")),
      T0, T0 + 31 * DAY)
    val flat = graft.model.TimeSeriesModel.samples(t.events)
      .filter(col("__name__") === "purchase")
    assert(sel.count() == flat.count() && sel.count() > 0)
    assert(sel.select("cluster").distinct().collect().map(_.getString(0)).toSeq
      == Seq("us-east"))

    // the fold reaches the scan as a PARTITION predicate on stream=
    val scans = sel.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.forall(_.metadata("PartitionFilters").contains("stream")),
      scans.map(_.metadata("PartitionFilters")).mkString("; "))

    // full veto: no surviving stream
    val none = Ingest.selectChunkedSamples(spark, out,
      Seq(MatchEq("cluster", "mars")), T0, T0 + 31 * DAY)
    assert(none.count() == 0)
  }

  test("chunked layout: native-histogram series roundtrip via HistChunk frames") {
    import spark.implicits._
    val T0 = 1704067200000L
    // two histogram series + one float series in ONE store: frames must
    // split into hdata vs data kinds and both decode back exactly
    val rnd = new scala.util.Random(5)
    val hist = (for (s <- 0 until 2; i <- 0 until 50) yield {
      val ts = T0 + i * 1730000L + s
      (s"hm", s.toString, ts, (i + 1).toDouble, ts)
    }).toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
      .withColumn("h", struct(
        col("value").as("cnt"), (col("value") * 1.5).as("hsum"),
        lit(0).as("sch"), lit(0.001953125).as("zthr"), lit(2.0).as("zcnt"),
        array(struct(lit(0).as("idx"), col("value").as("c")),
          struct(lit(3).as("idx"), (col("value") + 1.0).as("c"))).as("pos"),
        array().cast("array<struct<idx:int,c:double>>").as("neg"), lit(null).cast("array<double>").as("cb")))
    val flt = (for (i <- 0 until 60) yield {
      val ts = T0 + i * 1490000L
      ("fm", "9", ts, rnd.nextDouble() * 100, ts)
    }).toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
      .withColumn("h", lit(null).cast(graft.functions.HistChunk.HistType))
    val samples = hist.unionByName(flt)
    val out = Files.createTempDirectory("graft-chunkhist").toString
    Ingest.mergeChunked(spark, samples, out)

    val frames = spark.read.parquet(s"$out/chunks")
    assert(frames.filter(col("hdata").isNotNull && col("data").isNotNull).count() == 0)
    assert(frames.filter(col("hdata").isNotNull).count() > 0)
    assert(frames.filter(col("data").isNotNull).count() > 0)

    val want = samples.drop("sample_id")
    val back = Ingest.openChunkedSamples(spark, out)
      .select(want.columns.map(col): _*)
    assert(back.count() == samples.count())
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty,
      "decoded samples (incl. histogram structs) must equal the originals")

    // engine over the decoded store: histogram functions work unchanged
    val q = graft.promql.NativeHistograms.quantile(
      org.apache.spark.sql.functions.lit(0.5), col("h"))
    val n = back.filter(col("h").isNotNull)
      .select(q.as("q")).na.drop().count()
    assert(n == 100)

    // a frame mixing float and histogram samples in one series fails loudly
    val hrow = hist.filter(col("uid") === "0" && col("ts_ms") === T0)
    val mixed = hrow.unionByName(
      hrow.withColumn("ts_ms", col("ts_ms") + 1000L)
        .withColumn("h", lit(null).cast(graft.functions.HistChunk.HistType)))
    val e = intercept[Exception] {
      Ingest.framesOf(mixed).select("hdata").collect()
    }
    assert(e.getMessage.contains("mixes float"))
  }

  test("chunked select: pushdown prunes frames before decode; engine matches flat layout") {
    import graft.promql.{Compiler, Parser, MatchEq, MatchNotEq}
    val t = Tables(spark, sf())
    val out = Files.createTempDirectory("graft-chunkq").toString
    Ingest.convertChunked(spark, t.events, out)

    val T0 = 1704067200000L; val DAY = 86400000L
    val (lo, hi) = (T0 + 7 * DAY, T0 + 14 * DAY - 1)
    val sel = Ingest.selectChunkedSamples(spark, out,
      Seq(MatchEq("__name__", "purchase"), MatchNotEq("uid", "3")), lo, hi)

    // selected samples == the same predicate applied to flat samples
    val flat = graft.model.TimeSeriesModel.samples(t.events)
      .filter(col("__name__") === "purchase" && col("uid") =!= "3" &&
        col("ts_ms").between(lo, hi))
    assert(sel.count() == flat.count() && sel.count() > 0)

    // every pruning predicate reaches the FRAME scan, below the decode:
    // matcher equality + frame-overlap stats as data filters, date as a
    // partition filter — nothing is filtered after the explode except ts_ms
    val scans = sel.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1)
    val pushed = scans.head.metadata("PushedFilters")
    for (f <- Seq("EqualTo(__name__,purchase)", "GreaterThanOrEqual(maxt,",
                  "LessThanOrEqual(mint,"))
      assert(pushed.contains(f), s"missing pushed filter $f in:\n$pushed")
    assert(scans.head.metadata("PartitionFilters").contains("date"))

    // the PromQL engine runs over the pruned select unchanged — including
    // the rate/window path, which needs the synthesized sample_id tie-break
    val TI = T0 + 14 * DAY
    val full = Ingest.openChunkedSamples(spark, out)
    val raw = graft.model.TimeSeriesModel.samples(t.events)
    for (q <- Seq("""sum by (__name__) ({__name__="purchase"})""",
                  "sum(rate(purchase[1d]))")) {
      val a = Compiler.compile(Parser.parse(q), Compiler.Ctx(full, TI, TI, 1000L, 86400000L))
      val b = Compiler.compile(Parser.parse(q), Compiler.Ctx(raw, TI, TI, 1000L, 86400000L))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, q)
      assert(a.count() > 0, q)
    }
  }

  test("chunk store select: query bounds prune frames at the scan") {
    import graft.promql.{Eval, MatchEq}
    val t = Tables(spark, sf())
    val out = Files.createTempDirectory("graft-chunkr").toString
    Ingest.convertChunked(spark, t.events, out)
    val T0 = 1704067200000L; val DAY = 86400000L
    val (lo, hi) = (T0 + 7 * DAY, T0 + 14 * DAY - 1)

    // the ORDINARY engine select over the store's bounded frame: the store
    // carries the query bounds to the frame scan, below the decode
    val store = graft.sources.SeriesStore.open(spark, out)
    val auto = Eval.select(store.select(lo, hi), Seq(MatchEq("__name__", "purchase")), lo, hi)
    val flat = graft.model.TimeSeriesModel.samples(t.events)
      .filter(col("__name__") === "purchase" && col("ts_ms").between(lo, hi))
    assert(auto.count() == flat.count() && auto.count() > 0)

    val scans = auto.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1)
    val pushed = scans.head.metadata("PushedFilters")
    for (f <- Seq(s"GreaterThanOrEqual(maxt,$lo)", s"LessThanOrEqual(mint,$hi)",
                  "EqualTo(__name__,purchase)"))
      assert(pushed.contains(f), s"missing pushed filter $f in:\n$pushed")
  }

  test("chunk store select: mixed float/histogram decode shape still prunes frames") {
    import spark.implicits._
    val T0 = 1704067200000L
    val histType = graft.functions.HistChunk.HistType
    val hist = (0 until 40).map(i => ("hm", "1", T0 + i * 1730000L, i.toDouble, i.toLong))
      .toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
      .withColumn("h", struct(col("value").as("cnt"), col("value").as("hsum"),
        lit(0).as("sch"), lit(0.001953125).as("zthr"), lit(0.0).as("zcnt"),
        array(struct(lit(1).as("idx"), col("value").as("c"))).as("pos"),
        array().cast("array<struct<idx:int,c:double>>").as("neg"), lit(null).cast("array<double>").as("cb")))
    val flt = (0 until 40).map(i => ("fm", "2", T0 + i * 1490000L, i * 2.0, 100L + i))
      .toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
      .withColumn("h", lit(null).cast(histType))
    val samples = hist.unionByName(flt)
    val out = Files.createTempDirectory("graft-chunkhp").toString
    Ingest.mergeChunked(spark, samples, out)
    val (lo, hi) = (T0 + 10 * 3600000L, T0 + 14 * 3600000L)

    val auto = Ingest.selectChunkedSamples(spark, out, Nil, lo, hi)
    assert(auto.columns.toSeq == Ingest.openChunkedSamples(spark, out).columns.toSeq)
    val want = samples.filter(col("ts_ms").between(lo, hi)).count()
    assert(auto.count() == want && want > 0)
    val scans = auto.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1)
    val pushed = scans.head.metadata("PushedFilters")
    for (f <- Seq(s"GreaterThanOrEqual(maxt,$lo)", s"LessThanOrEqual(mint,$hi)"))
      assert(pushed.contains(f), s"missing pushed filter $f in:\n$pushed")
  }

  test("PromQL engine over the converted layout matches raw source, with partition pruning") {
    import graft.promql.{Compiler, Parser, Eval}
    val out = Files.createTempDirectory("graft-layout").toString
    val t = Tables(spark, sf())
    Ingest.convert(spark, t.events, out)
    val raw = graft.model.TimeSeriesModel.samples(t.events)
    val layout = Ingest.openSamples(spark, out)

    val TI = 1704067200000L + 14 * 86400000L
    for (q <- Seq("""sum by (__name__) ({uid!=""})""", "rate(purchase[1d])")) {
      val a = Compiler.compile(Parser.parse(q), Compiler.Ctx(raw, TI, TI, 1000L, 86400000L))
      val b = Compiler.compile(Parser.parse(q), Compiler.Ctx(layout, TI, TI, 1000L, 86400000L))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, q)
      assert(a.count() > 0)
    }

    // the date-range predicate reaches the scan as a partition filter
    val plan = Eval.select(layout, Nil, TI - 86400000L, TI)
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("date"), plan.take(2000))
  }

  test("bucketed layout: series-samples join runs with zero Exchange; hash literal prunes buckets") {
    val out = Files.createTempDirectory("graft-bucketed").toString
    val t = Tables(spark, sf())
    Ingest.convertBucketed(spark, t.events, out, buckets = 8)
    val samples = spark.table("samples_bucketed")
    val series = spark.table("series_bucketed")

    // co-located join: with broadcast off, matching bucket counts on the key
    // mean neither side shuffles — the J1 plan a 100 TB cluster needs
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = samples.join(
        series.filter(col("__name__") === "purchase").select("series_hash"),
        Seq("series_hash"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected no Exchange in:\n$plan")
      val direct = graft.model.TimeSeriesModel.samples(t.events)
        .filter(col("__name__") === "purchase").count()
      assert(joined.count() == direct)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // bucket pruning: an equality predicate on the bucket column opens 1/8.
    // autoBucketedScan turns bucketed reads off for filter-only plans (no
    // join/agg to benefit) — disable the auto decision to surface the pruning
    val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val oneHash = series.limit(1).collect()(0).getAs[Long]("series_hash")
      val pruned = samples.filter(col("series_hash") === oneHash)
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("SelectedBucketsCount: 1 out of 8"),
        s"expected single-bucket scan in:\n$scan")
    } finally
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
  }

  test("planner: newest-first diff with grace and step limit") {
    val d = (1 to 10).map(i => LocalDate.of(2024, 1, i)).toSet
    val today = LocalDate.of(2024, 1, 11)
    // grace 2 days → 9,10 unplannable; already have 1..3; max 2 steps
    val plan = Planner.planDays(d, Set(LocalDate.of(2024, 1, 1),
      LocalDate.of(2024, 1, 2), LocalDate.of(2024, 1, 3)), today,
      graceDays = 2, maxDays = 2)
    assert(plan.days == Seq(LocalDate.of(2024, 1, 8), LocalDate.of(2024, 1, 7)))
    // nothing to do → empty plan
    assert(Planner.planDays(d, d, today).isEmpty)
  }

  test("planner: polled live-store watermark hides then reveals a day") {
    val d = (1 to 10).map(i => LocalDate.of(2024, 1, i)).toSet
    val today = LocalDate.of(2024, 1, 11)
    val dayMs = 86400000L
    val day8Start = LocalDate.of(2024, 1, 8).toEpochDay * dayMs
    // live store advertises (mint, maxt) like the reference's Info poll;
    // mutable so the planner's per-round fetch() sees the range move
    var liveRange = (day8Start, day8Start + 10 * dayMs)
    val wm = Planner.LiveStoreWatermark(() => liveRange)
    val converted = Set(LocalDate.of(2024, 1, 1), LocalDate.of(2024, 1, 2),
      LocalDate.of(2024, 1, 3))
    // day 8 sits fully inside the covered range → hidden; day 7/6 planned
    val hidden = Planner.planDays(d, converted, today, graceDays = 2,
      maxDays = 2, watermark = Some(wm))
    assert(hidden.days == Seq(LocalDate.of(2024, 1, 7), LocalDate.of(2024, 1, 6)))
    // live-store retention moves mint past day 8 → the day is revealed
    liveRange = (day8Start + 2 * dayMs, day8Start + 10 * dayMs)
    val revealed = Planner.planDays(d, converted, today, graceDays = 2,
      maxDays = 2, watermark = Some(wm))
    assert(revealed.days == Seq(LocalDate.of(2024, 1, 8), LocalDate.of(2024, 1, 7)))
    // overlap keeps a safety margin backfilled even while covered
    val overlapped = Planner.LiveStoreWatermark(() => (day8Start, day8Start + 10 * dayMs),
      overlapMs = 2 * dayMs)
    assert(Planner.planDays(d, converted, today, graceDays = 2, maxDays = 2,
      watermark = Some(overlapped)).days.contains(LocalDate.of(2024, 1, 8)))
  }

  test("retention: mark then delete after consistency delay") {
    val out = Files.createTempDirectory("graft-ret").toString
    val t = Tables(spark, sf())
    val metas = Ingest.convert(spark, t.events, out, Some(Seq("2024-01-01", "2024-01-02")))
    assert(metas.map(_.date) == Seq("2024-01-01", "2024-01-02"))

    val expired = Planner.expiredDays(metas.map(d => LocalDate.parse(d.date)).toSet,
      retentionDays = 10, today = LocalDate.of(2024, 1, 12))
    assert(expired == Seq(LocalDate.of(2024, 1, 1)))

    Retention.markExpired(out, expired.map(_.toString), nowMs = 1000L)
    // before the delay: nothing deleted
    assert(Retention.deleteMarked(out, nowMs = 2000L).isEmpty)
    // after: partition + sidecar dropped
    assert(Retention.deleteMarked(out, nowMs = 1000L + 13L * 3600 * 1000) == Seq("2024-01-01"))
    assert(!Files.isDirectory(Paths.get(s"$out/samples/date=2024-01-01")))
    assert(Files.isDirectory(Paths.get(s"$out/samples/date=2024-01-02")))
    assert(Ingest.discoverDays(out) == Seq("2024-01-02"))
  }

  test("retention: a partition created after the mark pass survives until its own cycle") {
    // review regression: the aged-marker check must be per-directory — a
    // sink partition created between mark and delete (streaming ingest
    // writing fresh chunks for an already-marked day) has no marker and
    // must NOT be swept by the other sink's aged marker
    val out = Files.createTempDirectory("graft-ret-race").toString
    val d = "2024-01-01"
    Files.createDirectories(Paths.get(s"$out/samples/date=$d"))
    Files.createDirectories(Paths.get(s"$out/meta"))
    Files.writeString(Paths.get(s"$out/meta/$d.json"), "{}")
    Retention.markExpired(out, Seq(d), nowMs = 1000L)
    // fresh chunks for the same day land AFTER the mark pass
    Files.createDirectories(Paths.get(s"$out/chunks/date=$d"))
    Files.writeString(Paths.get(s"$out/chunks/date=$d/part-0.parquet"), "x")

    assert(Retention.deleteMarked(out, nowMs = 1000L + 13L * 3600 * 1000) == Seq(d))
    assert(!Files.isDirectory(Paths.get(s"$out/samples/date=$d")))
    assert(Files.isDirectory(Paths.get(s"$out/chunks/date=$d")),
      "unmarked late-created partition must survive")
    assert(Files.exists(Paths.get(s"$out/meta/$d.json")),
      "meta survives while any raw partition remains")

    // the late partition's own mark→delay→delete cycle retires it (and meta)
    Retention.markExpired(out, Seq(d), nowMs = 2000L)
    assert(Retention.deleteMarked(out, nowMs = 2000L + 13L * 3600 * 1000) == Seq(d))
    assert(!Files.isDirectory(Paths.get(s"$out/chunks/date=$d")))
    assert(!Files.exists(Paths.get(s"$out/meta/$d.json")))
  }

  test("retention: per-resolution cutoffs expire raw chunks while the 1h layer survives") {
    val out = Files.createTempDirectory("graft-ret-res").toString
    val t = Tables(spark, sf())
    val samples = graft.model.TimeSeriesModel.samples(t.events)
      .withColumn("date", date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd"))
      .filter(col("date").isin("2024-01-01", "2024-01-02"))
    Ingest.mergeChunked(spark, samples.drop("date"), out)
    Downsample.refreshDates(spark, samples, s"$out/downsample-${Downsample.Res1h}",
      Downsample.Res1h, Seq("2024-01-01", "2024-01-02"))

    // raw retention expires day 1 in the chunk sink only
    Retention.markExpired(out, Seq("2024-01-01"), nowMs = 1000L)
    assert(Retention.deleteMarked(out,
      nowMs = 1000L + 13L * 3600 * 1000) == Seq("2024-01-01"))
    assert(!Files.isDirectory(Paths.get(s"$out/chunks/date=2024-01-01")))
    assert(Files.isDirectory(Paths.get(s"$out/chunks/date=2024-01-02")))
    // the coarse layer outlives raw — its own (longer) retention hasn't hit
    val layerDay1 = Paths.get(s"$out/downsample-${Downsample.Res1h}/date=2024-01-01")
    assert(Files.isDirectory(layerDay1))

    // later, the layer's own cutoff expires day 1 there too
    val layerSinks = Retention.resolutionSinks(Downsample.Res1h)
    Retention.markExpired(out, Seq("2024-01-01"), nowMs = 2000L, sinks = layerSinks)
    assert(Retention.deleteMarked(out, nowMs = 2000L + 13L * 3600 * 1000,
      sinks = layerSinks) == Seq("2024-01-01"))
    assert(!Files.isDirectory(layerDay1))
    assert(Files.isDirectory(
      Paths.get(s"$out/downsample-${Downsample.Res1h}/date=2024-01-02")))
  }

  test("convert round-trips native-histogram samples (h struct at rest)") {
    import graft.promql.{Compiler, Parser}
    import spark.implicits._
    val out = Files.createTempDirectory("graft-hist").toString
    val hs = Seq(("reqs", "1", 1000000L, 1L, 2.0), ("reqs", "1", 1060000L, 2L, 5.0),
        ("reqs", "2", 1060000L, 3L, 3.0))
      .toDF("__name__", "uid", "ts_ms", "sample_id", "c0")
      .withColumn("value", lit(1.0))
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
      .withColumn("h", struct(
        col("c0").as("cnt"), (col("c0") * 2).as("hsum"), lit(0).as("sch"),
        lit(0.001953125).as("zthr"), lit(0.0).as("zcnt"),
        array(struct(lit(1).as("idx"), col("c0").as("c"))).as("pos"),
        expr("array()").cast("array<struct<idx:int,c:double>>").as("neg"), lit(null).cast("array<double>").as("cb")))
      .drop("c0")
    Ingest.convertSamples(spark, hs, out)

    val back = Ingest.openSamples(spark, out)
    def q(samples: org.apache.spark.sql.DataFrame) =
      Compiler.compile(Parser.parse("histogram_count(reqs)"),
          Compiler.Ctx(samples, 1100000L, 1100000L, 1000L))
        .select(col("uid"), col("value")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(q(back) === Map("1" -> 5.0, "2" -> 3.0))
    assert(q(back) === q(hs))
  }

  test("external labels fold into columns and cut a stream= partition dimension") {
    val out = Files.createTempDirectory("graft-stream").toString
    val t = Tables(spark, sf())
    val samples = graft.model.TimeSeriesModel.samples(t.events)
    Ingest.convertSamples(spark, samples, out, Some(Seq("2024-01-01")),
      externalLabels = Map("cluster" -> "a", "replica" -> "r1"))
    val sid = Ingest.streamId(Map("cluster" -> "a", "replica" -> "r1"))
    assert(Files.isDirectory(Paths.get(s"$out/samples/stream=$sid/date=2024-01-01")))
    val back = Ingest.openSamples(spark, out)
    // folded labels are ordinary queryable columns; stream prunes directories
    assert(back.filter(col("cluster") === "a").count() > 0)
    assert(back.filter(col("stream") === sid).count() === back.count())
  }

  test("syncer: loads only new (stream, date) entries, evicts vanished streams") {
    var loads = 0
    val sy = new Syncer[String]((s, d) => { loads += 1; s"$s/$d" })
    val s1 = sy.sync(Map("a" -> Seq("d1", "d2"), "b" -> Seq("d1")))
    assert((s1.loaded, s1.skipped, s1.droppedStreams) == ((3, 0, 0)))
    assert(sy.cached.map(x => (x._1, x._2)) == Seq("a" -> "d1", "b" -> "d1", "a" -> "d2"))

    // second sync: one new date, the rest skipped (no reload — ref
    // locate/syncer.go:139-141), nothing dropped
    val s2 = sy.sync(Map("a" -> Seq("d1", "d2", "d3"), "b" -> Seq("d1")))
    assert((s2.loaded, s2.skipped, s2.droppedStreams) == ((1, 3, 0)))
    assert(loads == 4)

    // stream b vanishes → evicted wholesale; a date vanishing from a
    // SURVIVING stream is retained (the reference only copies additions)
    val s3 = sy.sync(Map("a" -> Seq("d1", "d3")))
    assert(s3.droppedStreams == 1)
    assert(sy.cached.map(x => (x._1, x._2)) == Seq("a" -> "d1", "a" -> "d2", "a" -> "d3"))
    assert(loads == 4)
  }

  test("syncer over convert output: discovery round-trips through meta sidecars") {
    val out = Files.createTempDirectory("graft-sync").toString
    val t = Tables(spark, sf())
    Ingest.convert(spark, t.events, out, Some(Seq("2024-01-01", "2024-01-02")))
    val sy = new Syncer[String]((_, d) => d)
    sy.sync(Map("default" -> Ingest.discoverDays(out)))
    assert(sy.cached.map(_._2) == Seq("2024-01-01", "2024-01-02"))
  }

  test("TSDB discovery: skips no-meta/marked/downsampled/chunkless/mismatched; ages in young blocks; evicts vanished") {
    import graft.etl.{TsdbBlockMeta, TsdbDiscoverer}
    import graft.promql.MatchEq
    val root = Files.createTempDirectory("graft-tsdb").toString
    val H = 3600000L
    var clock = 10_000_000_000L

    def block(id: String, mint: Long, maxt: Long, res: Long = 0L, chunks: Long = 7L,
              labels: Map[String, String] = Map("cluster" -> "prod"),
              meta: Boolean = true, marked: Boolean = false): Unit = {
      val d = Paths.get(s"$root/$id")
      Files.createDirectories(d)
      val lbl = labels.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
      if (meta) Files.writeString(d.resolve("meta.json"),
        s"""{"ulid":"$id","minTime":$mint,"maxTime":$maxt,
           | "stats":{"numChunks":$chunks,"numSeries":3},
           | "thanos":{"labels":{$lbl},"downsample":{"resolution":$res}},
           | "version":1}""".stripMargin)
      if (marked) Files.writeString(d.resolve("deletion-mark.json"), s"""{"id":"$id"}""")
    }
    block("b1", clock - 100 * H, clock - 50 * H)                    // valid, old
    block("b2", clock - 100 * H, clock - 50 * H, meta = false)      // incomplete
    block("b3", clock - 100 * H, clock - 50 * H, marked = true)     // deletion-marked
    block("b4", clock - 100 * H, clock - 50 * H, res = 300000L)     // downsampled
    block("b5", clock - 100 * H, clock - 50 * H, chunks = 0L)       // chunkless
    block("b6", clock - 5 * H, clock - 1 * H)                       // too young (minAge 2h)
    block("b7", clock - 100 * H, clock - 50 * H,
      labels = Map("cluster" -> "dev"))                             // label mismatch

    var reads = 0
    val disc = new TsdbDiscoverer(root, Seq(MatchEq("cluster", "prod")),
      minBlockAgeMs = 2 * H, now = () => clock,
      readMeta = p => { reads += 1; TsdbDiscoverer.localRead(p) })

    val s1 = disc.discover()
    // b2/b3 skipped before any read; b4/b5/b7 read-then-filtered; b6 admitted
    // then dropped as too-young (ref discover.go:628 re-checks the cache)
    assert((s1.read, s1.cachedSkip, s1.filtered, s1.tooYoung, s1.vanished) ==
      ((5, 0, 3, 1, 0)))
    assert(disc.metas.map(_.ulid) == Seq("b1"))
    assert(disc.timeRange.contains((clock - 100 * H, clock - 50 * H)))

    // second round: b1 is cached (NOT re-read, ref discover.go:555); the
    // filtered and too-young blocks are re-listed and re-read
    val s2 = disc.discover()
    assert((s2.read, s2.cachedSkip, s2.tooYoung) == ((4, 1, 1)))
    assert(reads == 9)

    // 5h later b6's maxTime clears now-minAge and the block ages in
    clock += 5 * H
    disc.discover()
    assert(disc.metas.map(_.ulid) == Seq("b1", "b6"))

    // b1 vanishes from the bucket → evicted from the cache (discover.go:632)
    import scala.util.Using
    Using.resource(Files.walk(Paths.get(s"$root/b1"))) { w =>
      w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    val s4 = disc.discover()
    assert(s4.vanished == 1)
    assert(disc.metas.map(_.ulid) == Seq("b6"))
  }

  test("TSDB discovery: streams group by external labels and split block spans into UTC days") {
    import graft.etl.{TsdbBlockMeta, TsdbDiscoverer}
    // maxt exactly on midnight does NOT open a new day (ref util/date.go:46-58)
    val D = 86400000L
    assert(TsdbDiscoverer.splitIntoDates(0L, 2 * D) == Seq("1970-01-01", "1970-01-02"))
    assert(TsdbDiscoverer.splitIntoDates(D / 2, 2 * D + 1) ==
      Seq("1970-01-01", "1970-01-02", "1970-01-03"))
    assert(TsdbDiscoverer.splitIntoDates(D, D) == Seq("1970-01-02"))

    val root = Files.createTempDirectory("graft-tsdb-streams").toString
    def put(id: String, mint: Long, maxt: Long, cluster: String): Unit = {
      val d = Paths.get(s"$root/$id"); Files.createDirectories(d)
      Files.writeString(d.resolve("meta.json"),
        s"""{"ulid":"$id","minTime":$mint,"maxTime":$maxt,
           | "stats":{"numChunks":2},
           | "thanos":{"labels":{"cluster":"$cluster"},"downsample":{"resolution":0}}}"""
          .stripMargin)
    }
    put("s1a", 0L, 2 * D, "a")
    put("s1b", 2 * D, 3 * D, "a")      // same stream, adjacent days
    put("s2a", D, 2 * D, "b")          // different external labels
    val disc = new TsdbDiscoverer(root, now = () => 100 * D)
    disc.discover()

    val byLabels = disc.streams.values.map(s => s.externalLabels("cluster") -> s.days).toMap
    assert(byLabels("a") == Seq("1970-01-01", "1970-01-02", "1970-01-03"))
    assert(byLabels("b") == Seq("1970-01-02"))
    // streamDays feeds the Syncer directly
    val sy = new Syncer[String]((_, d) => d)
    val st = sy.sync(disc.streamDays)
    assert(st.loaded == 4 && sy.cached.size == 4)
  }

  test("convert loop: discovery-driven incremental conversion converges per stream") {
    import graft.etl.{ConvertLoop, TsdbDiscoverer}
    import graft.model.TimeSeriesModel
    val D = 86400000L
    val jan1 = 1704067200000L // 2024-01-01T00:00Z
    val tsdbRoot = Files.createTempDirectory("graft-loop-tsdb").toString
    val out = Files.createTempDirectory("graft-loop-out").toString

    def put(id: String, mint: Long, maxt: Long, cluster: String): Unit = {
      val d = Paths.get(s"$tsdbRoot/$id"); Files.createDirectories(d)
      Files.writeString(d.resolve("meta.json"),
        s"""{"ulid":"$id","minTime":$mint,"maxTime":$maxt,
           | "stats":{"numChunks":4},
           | "thanos":{"labels":{"cluster":"$cluster"},"downsample":{"resolution":0}}}"""
          .stripMargin)
    }
    // stream a covers Jan 1-3, stream b covers Jan 1-2 (maxt on midnight
    // does not open a new day)
    put("blkA1", jan1, jan1 + 2 * D, "a")
    put("blkA2", jan1 + 2 * D, jan1 + 3 * D, "a")
    put("blkB1", jan1, jan1 + 2 * D, "b")

    val t = Tables(spark, sf())
    val disc = new TsdbDiscoverer(tsdbRoot, now = () => jan1 + 40 * D)
    val today = LocalDate.of(2024, 1, 10)
    def round() = ConvertLoop.advance(spark, disc, out, today,
      _ => TimeSeriesModel.samples(t.events), graceDays = 2, maxDays = 2)

    val idA = Ingest.streamId(Map("cluster" -> "a"))
    val idB = Ingest.streamId(Map("cluster" -> "b"))

    // round 1: soft cap 2 days per stream, newest first
    val r1 = round()
    assert(r1.converted(idA) == Seq("2024-01-03", "2024-01-02"))
    assert(r1.converted(idB) == Seq("2024-01-02", "2024-01-01"))
    // round 2: stream a catches up, b already converged
    val r2 = round()
    assert(r2.converted(idA) == Seq("2024-01-01") && r2.converted(idB).isEmpty)
    // round 3: nothing left to do
    assert(round().converged)

    // parquet-side catalog reflects the per-stream converted days
    assert(Ingest.discoverStreamDays(out) == Map(
      idA -> Seq("2024-01-01", "2024-01-02", "2024-01-03"),
      idB -> Seq("2024-01-01", "2024-01-02")))

    // the layout is stream+date partitioned and queryable
    val back = Ingest.openSamples(spark, out)
    val perDay = TimeSeriesModel.samples(t.events)
      .filter(col("ts_ms") >= jan1 && col("ts_ms") < jan1 + 3 * D).count()
    val perDayB = TimeSeriesModel.samples(t.events)
      .filter(col("ts_ms") >= jan1 && col("ts_ms") < jan1 + 2 * D).count()
    assert(back.filter(col("stream") === idA).count() == perDay)
    assert(back.filter(col("stream") === idB).count() == perDayB)

    // retention over the stream layout: marking a day marks it in EVERY
    // stream; after the consistency delay the partitions and per-stream
    // sidecars drop, and the converted-day catalogs shrink
    Retention.markExpired(out, Seq("2024-01-01"), nowMs = 0L)
    assert(Retention.deleteMarked(out, nowMs = 13L * 3600 * 1000) == Seq("2024-01-01"))
    assert(Ingest.discoverStreamDays(out) == Map(
      idA -> Seq("2024-01-02", "2024-01-03"),
      idB -> Seq("2024-01-02")))
    assert(Ingest.openSamples(spark, out).filter(col("date") === "2024-01-01").count() == 0)
  }

  test("convert loop into the REFERENCE layout: incremental, resumable from meta.pb") {
    import graft.etl.{ConvertLoop, ReferenceFormat, TsdbDiscoverer}
    import graft.model.TimeSeriesModel
    val D = 86400000L
    val jan1 = 1704067200000L
    val tsdbRoot = Files.createTempDirectory("graft-refloop-tsdb").toString
    val out = Files.createTempDirectory("graft-refloop-out").toString
    def put(id: String, mint: Long, maxt: Long, cluster: String): Unit = {
      val d = Paths.get(s"$tsdbRoot/$id"); Files.createDirectories(d)
      Files.writeString(d.resolve("meta.json"),
        s"""{"ulid":"$id","minTime":$mint,"maxTime":$maxt,
           | "stats":{"numChunks":4},
           | "thanos":{"labels":{"cluster":"$cluster"},"downsample":{"resolution":0}}}"""
          .stripMargin)
    }
    put("blkA1", jan1, jan1 + 3 * D, "a")
    val t = Tables(spark, sf())
    val disc = new TsdbDiscoverer(tsdbRoot, now = () => jan1 + 40 * D)
    val today = java.time.LocalDate.of(2024, 1, 10)
    def round() = ConvertLoop.advanceReference(spark, disc, out, today,
      _ => TimeSeriesModel.samples(t.events), graceDays = 2, maxDays = 2,
      numShards = 2)
    val eh = java.lang.Long.toUnsignedString(
      ReferenceFormat.externalLabelsHash(Map("cluster" -> "a")))
    // soft cap 2 days/round, newest first; round 3 converged
    val r1 = round()
    assert(r1.converted(eh) == Seq("2024-01-03", "2024-01-02"))
    assert(round().converted(eh) == Seq("2024-01-01"))
    assert(round().converged)
    // the bucket IS the converted-day catalog (meta.pb presence)
    assert(ReferenceFormat.discoverDays(spark, out) ==
      Map(eh -> Seq("2024-01-01", "2024-01-02", "2024-01-03")))
    // exact reference filenames under the hashed stream dir + stream.pb
    assert(Files.exists(Paths.get(s"$out/$eh/2024-01-02/1.labels.parquet")))
    assert(Files.exists(Paths.get(s"$out/$eh/stream.pb")))
    // and the bucket serves the three converted days' samples
    val got = ReferenceFormat.selectReferenceStore(spark, out)
    val want = TimeSeriesModel.samples(t.events)
      .filter(col("ts_ms") >= jan1 && col("ts_ms") < jan1 + 3 * D).count()
    assert(got.count() == want)
    assert(got.select("cluster").distinct().collect().map(_.getString(0)).toSeq == Seq("a"))

    // ---- retention rides the loop: TSDB retention dropped the block, the
    // parquet days now age out (today=01-10, retention 5d → cutoff 01-05)
    Files.walk(Paths.get(s"$tsdbRoot/blkA1"))
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => Files.delete(f))
    val wallNow = System.currentTimeMillis()
    def roundR(now: Long) = ConvertLoop.advanceReference(spark, disc, out, today,
      _ => TimeSeriesModel.samples(t.events), graceDays = 2, maxDays = 2,
      numShards = 2, retentionDays = Some(5), nowMs = () => now)
    // round 1: every day marked; markers are fresh so nothing deletes —
    // the files survive the whole consistency window...
    assert(roundR(wallNow).converged)
    assert(ReferenceFormat.discoverDays(spark, out).getOrElse(eh, Nil).isEmpty)
    assert(Files.exists(Paths.get(s"$out/$eh/2024-01-02/1.labels.parquet")))
    assert(Files.exists(Paths.get(s"$out/$eh/2024-01-02/deletion-marker.pb")))
    // ...but serving already treats marked days as gone
    assert(ReferenceFormat.selectReferenceStore(spark, out,
      Nil, jan1, jan1 + 3 * D).count() == 0)
    // round 2, 13h later: aged markers → files drop, bucket is empty
    assert(roundR(wallNow + 13L * 3600 * 1000).converged)
    assert(!Files.exists(Paths.get(s"$out/$eh/2024-01-02")))
    assert(!Files.exists(Paths.get(s"$out/$eh/2024-01-01")))
    assert(ReferenceFormat.discoverDays(spark, out).getOrElse(eh, Nil).isEmpty)
  }

  test("reference discovery hygiene: meta-less + marked days invisible; marker survives overwrite") {
    import graft.etl.ReferenceFormat
    import graft.model.TimeSeriesModel
    import graft.promql.MatchEq
    val D = 86400000L
    val jan1 = 1704067200000L
    val t = Tables(spark, sf())
    val out = Files.createTempDirectory("graft-refhyg").toString
    val samples = TimeSeriesModel.samples(t.events)
      .filter(col("ts_ms") < jan1 + 3 * D)
    ReferenceFormat.convertReference(spark, samples, out, numShards = 2)
    val full = ReferenceFormat.selectReferenceStore(spark, out).count()
    def dayCount(d: String) = ReferenceFormat.selectReferenceStore(spark, out,
      Nil, jan1, jan1 + 3 * D - 1)
      .filter(col("ts_ms") >= jan1 + (d.takeRight(2).toInt - 1) * D &&
        col("ts_ms") < jan1 + d.takeRight(2).toInt * D).count()

    // half-written day (crashed converter): no meta.pb → invisible, the
    // other days still serve (hash-0 meta lives at the bucket top level)
    Files.delete(Paths.get(s"$out/2024-01-02/meta.pb"))
    assert(ReferenceFormat.discoverDays(spark, out) ==
      Map("0" -> Seq("2024-01-01", "2024-01-03")))
    assert(dayCount("2024-01-02") == 0)
    assert(dayCount("2024-01-01") > 0 && dayCount("2024-01-03") > 0)
    assert(ReferenceFormat.selectReferenceStore(spark, out).count() < full)

    // mark pass: cutoff 01-03 marks day 1 (upstream marker path 0/<date>/)
    assert(ReferenceFormat.markExpiredDays(spark, out, "2024-01-03")
      == Seq(("0", "2024-01-01")))
    assert(Files.exists(Paths.get(s"$out/0/2024-01-01/deletion-marker.pb")))
    assert(ReferenceFormat.discoverDays(spark, out) == Map("0" -> Seq("2024-01-03")))
    assert(dayCount("2024-01-01") == 0)

    // fresh marker: delete pass is a no-op inside the consistency window
    assert(ReferenceFormat.deleteMarkedDays(spark, out,
      System.currentTimeMillis() + 3600 * 1000).isEmpty)
    assert(Files.exists(Paths.get(s"$out/0/2024-01-01/0.labels.parquet")))

    // day overwrite (re-convert) keeps the marker: still invisible
    ReferenceFormat.convertReference(spark, samples, out, numShards = 2,
      days = Some(Seq("2024-01-01")))
    assert(Files.exists(Paths.get(s"$out/0/2024-01-01/deletion-marker.pb")))
    assert(dayCount("2024-01-01") == 0)

    // aged marker: the day's meta, shards and marker drop
    assert(ReferenceFormat.deleteMarkedDays(spark, out,
      System.currentTimeMillis() + 13L * 3600 * 1000) == Seq(("0", "2024-01-01")))
    assert(!Files.exists(Paths.get(s"$out/0/2024-01-01")))
    assert(!Files.exists(Paths.get(s"$out/2024-01-01")))
    // surviving day still serves with matchers compiled as usual
    assert(ReferenceFormat.selectReferenceStore(spark, out,
      Seq(MatchEq("__name__", "purchase")), jan1, jan1 + 3 * D).count() > 0)
  }

  test("TSDB block format: byte-level pins, CRC guards, series walk") {
    import graft.etl.TsdbBlock
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val jan1 = 1704067200000L
    def fpts(pts: Seq[(Long, Double)]) =
      new GenericArrayData(pts.map { case (t, v) => InternalRow(t, v, null) }.toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbpin").toString
    val ulid = "01HV0TESTBLOCK000000000000"
    TsdbBlock.writeBlock(root, ulid, Seq(
      Map("__name__" -> "up", "job" -> "api") -> fpts(Seq(jan1 + 1000L -> 1.0, jan1 + 2000L -> 0.0)),
      Map("__name__" -> "up", "job" -> "db") -> fpts(Seq(jan1 + 1500L -> 1.0))),
      externalLabels = Map("cluster" -> "a"))

    val idx = Files.readAllBytes(Paths.get(s"$root/$ulid/index"))
    // public index format pins: magic BAAAD700, version 2
    assert(((idx(0) & 0xFF) << 24 | (idx(1) & 0xFF) << 16 |
      (idx(2) & 0xFF) << 8 | (idx(3) & 0xFF)) == 0xBAAAD700)
    assert(idx(4) == 2)
    val seg = Files.readAllBytes(Paths.get(s"$root/$ulid/chunks/000001"))
    // chunk segment pins: magic 85BD40DD, version 1, 3 zero pad bytes
    assert(((seg(0) & 0xFF) << 24 | (seg(1) & 0xFF) << 16 |
      (seg(2) & 0xFF) << 8 | (seg(3) & 0xFF)) == 0x85BD40DD)
    assert(seg(4) == 1 && seg(5) == 0 && seg(6) == 0 && seg(7) == 0)

    // series walk: on-disk labelset order, refs resolvable, meta readable
    val series = TsdbBlock.readSeries(idx).toSeq
    assert(series.map(_.labels) == Seq(
      Map("__name__" -> "up", "job" -> "api"),
      Map("__name__" -> "up", "job" -> "db")))
    assert(series.head.chunks.head.mint == jan1 + 1000L &&
      series.head.chunks.head.maxt == jan1 + 2000L)
    val meta = graft.etl.TsdbBlockMeta.parse(Files.readString(Paths.get(s"$root/$ulid/meta.json")))
    assert(meta.ulid == ulid && meta.minTime == jan1 + 1000L &&
      meta.maxTime == jan1 + 2001L && meta.numChunks == 2 &&
      meta.externalLabels == Map("cluster" -> "a"))

    // CRC tamper guard: flip one byte inside the series section
    val bad = idx.clone()
    val tocOff = bad.length - 52
    val seriesOff = (0 until 8).foldLeft(0L)((a, i) => (a << 8) | (bad(tocOff + 8 + i) & 0xFFL)).toInt
    bad(seriesOff + 3) = (bad(seriesOff + 3) ^ 0x01).toByte
    assertThrows[IllegalArgumentException](TsdbBlock.readSeries(bad))
  }

  test("TSDB block → distributed read → advanceReference: real-bucket migration end-to-end") {
    import graft.etl.{ConvertLoop, ReferenceFormat, TsdbBlock, TsdbDiscoverer}
    import graft.model.TimeSeriesModel
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val D = 86400000L
    val jan1 = 1704067200000L
    val t = Tables(spark, sf())
    val raw = TimeSeriesModel.samples(t.events).filter(col("ts_ms") < jan1 + 3 * D)
    // the layout stores ≤1 sample per (series, ts): dedup by min sample_id
    // up front so block content, read-back and the reference bucket agree
    val want = raw.groupBy(col("__name__"), col("uid"), col("ts_ms"))
      .agg(min_by(col("value"), col("sample_id")).as("value"))

    val root = Files.createTempDirectory("graft-tsdbsrc").toString
    val ulid = "01HV0MIGRATEBLOCK000000000"
    val series = want.collect()
      .groupBy(r => (r.getString(0), r.getString(1))).toSeq.sortBy(_._1)
      .map { case ((n, u), rs) =>
        Map("__name__" -> n, "uid" -> u) -> (new GenericArrayData(
          rs.sortBy(_.getLong(2)).map(r =>
            InternalRow(r.getLong(2), r.getDouble(3), null)).toArray[Any])
          : org.apache.spark.sql.catalyst.util.ArrayData)
      }
    TsdbBlock.writeBlock(root, ulid, series, Map("cluster" -> "a"))

    // 1) the distributed read returns exactly the block's samples
    val got = TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid"))
    assert(got.columns.toSeq ==
      Seq("__name__", "uid", "ts_ms", "value", "h", "sample_id", "series_hash"))
    val g4 = got.select("__name__", "uid", "ts_ms", "value")
    assert(g4.exceptAll(want).isEmpty && want.exceptAll(g4).isEmpty,
      "block read-back must match the raw samples exactly")

    // 2) the full migration loop: discover → plan → convert → serve
    val out = Files.createTempDirectory("graft-tsdbmig").toString
    val disc = new TsdbDiscoverer(root, now = () => jan1 + 40 * D)
    val today = LocalDate.of(2024, 1, 10)
    def round() = ConvertLoop.advanceReference(spark, disc, out, today,
      TsdbBlockReader.loader(spark, root), graceDays = 2, maxDays = 5, numShards = 2)
    assert(round().stepCount == 3)
    assert(round().converged)
    val served = ReferenceFormat.selectReferenceStore(spark, out)
      .select("__name__", "uid", "ts_ms", "value")
    assert(served.exceptAll(want).isEmpty && want.exceptAll(served).isEmpty,
      "bucket serve must hash-match the TSDB block's raw samples")
    assert(ReferenceFormat.selectReferenceStore(spark, out)
      .select("cluster").distinct().collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("TSDB block: multi-segment chunk files and time-ranged chunk pruning") {
    import graft.etl.TsdbBlock
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val D = 86400000L
    val jan1 = 1704067200000L
    // 4 series × 3 days × hourly samples → many 2h chunks; a tiny segment
    // cap forces several chunk files, refs spanning segment positions
    val series = (0 until 4).map { u =>
      Map("__name__" -> "m", "uid" -> u.toString) ->
        (new GenericArrayData((0 until 72).map(h =>
          InternalRow(jan1 + h * 3600000L, (u * 100 + h).toDouble, null)).toArray[Any])
          : org.apache.spark.sql.catalyst.util.ArrayData)
    }
    val root = Files.createTempDirectory("graft-tsdbseg").toString
    val ulid = "01HV0MULTISEGBLOCK00000000"
    TsdbBlock.writeBlock(root, ulid, series, segmentBytes = 2048L)
    val segFiles = Files.list(Paths.get(s"$root/$ulid/chunks")).count()
    assert(segFiles > 1, s"expected multiple segment files, got $segFiles")

    // full read resolves refs across all segments
    val all = TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid"))
    assert(all.count() == 4 * 72)
    // plan pin: the chunk fetch must RANGE-partition (block, segment,
    // offset) — hash-by-segment would serialize a whole segment file onto
    // one task (the r16 scale bug)
    assert(all.queryExecution.executedPlan.toString
      .toLowerCase.contains("rangepartitioning"),
      "chunk fetch lost its range partitioning (segment fan-out)")

    // chunk-granular time pruning: a 1-day bound reads only that day's
    // chunks (2h cuts → chunk spans never cross the bound by construction)
    val day2 = TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid"),
      jan1 + D, jan1 + 2 * D - 1)
    assert(day2.count() == 4 * 24)
    assert(day2.agg(min(col("ts_ms")), max(col("ts_ms"))).head() ==
      org.apache.spark.sql.Row(jan1 + D, jan1 + 2 * D - 3600000L))

    // ranged loader through the migration loop: identical bucket as the
    // unranged path, day by day
    val disc = new graft.etl.TsdbDiscoverer(root, now = () => jan1 + 40 * D)
    val today = java.time.LocalDate.of(2024, 1, 10)
    val outA = Files.createTempDirectory("graft-tsdbsegA").toString
    val outB = Files.createTempDirectory("graft-tsdbsegB").toString
    def drain(out: String, ranged: Boolean): Unit = {
      var go = true
      while (go) {
        val r = graft.etl.ConvertLoop.advanceReference(spark, disc, out, today,
          TsdbBlockReader.loader(spark, root), graceDays = 2, maxDays = 1,
          numShards = 2,
          loadSamplesRanged =
            if (ranged) Some(TsdbBlockReader.rangedLoader(spark, root)) else None)
        go = !r.converged
      }
    }
    drain(outA, ranged = false)
    drain(outB, ranged = true)
    val a = graft.etl.ReferenceFormat.selectReferenceStore(spark, outA)
      .select("__name__", "uid", "ts_ms", "value")
    val b = graft.etl.ReferenceFormat.selectReferenceStore(spark, outB)
      .select("__name__", "uid", "ts_ms", "value")
    assert(a.count() == 4 * 72)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "ranged and unranged migrations must produce identical buckets")
  }

  test("TSDB block load parses each index ONCE (refs persisted across both consumers)") {
    import graft.etl.TsdbBlock
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val jan1 = 1704067200000L
    def fpts(n: Int, base: Double) =
      new GenericArrayData((0 until n).map(i =>
        InternalRow(jan1 + i * 60000L, base + i, null)).toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbonce").toString
    val ulids = Seq("01HV0PARSEONCEBLOCKA000000", "01HV0PARSEONCEBLOCKB000000")
    ulids.zipWithIndex.foreach { case (u, i) =>
      TsdbBlock.writeBlock(root, u, Seq(
        Map("__name__" -> "m", "blk" -> i.toString) -> fpts(30, i * 1000.0)))
    }
    // loadSamples consumes the ref dataset twice (label-name union, chunk
    // fetch) — the persist must keep that at ONE readSeries per block.
    // Local mode shares the JVM, so the executor-side counter is visible.
    val before = TsdbBlock.seriesParses.get()
    val got = TsdbBlockReader.loadSamples(spark, ulids.map(u => s"$root/$u"))
    assert(got.count() == 60)
    val parses = TsdbBlock.seriesParses.get() - before
    assert(parses == ulids.size.toLong,
      s"expected ${ulids.size} index parses (one per block), got $parses")
  }

  test("CONCURRENT TSDB block loads each parse each index exactly once") {
    import graft.etl.TsdbBlock
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val jan1 = 1704067200000L
    def fpts(n: Int, base: Double) =
      new GenericArrayData((0 until n).map(i =>
        InternalRow(jan1 + i * 60000L, base + i, null)).toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbconc").toString
    val ulids = Seq("01HV0CONCURRENTBLOCKA00000", "01HV0CONCURRENTBLOCKB00000")
    ulids.zipWithIndex.foreach { case (u, i) =>
      TsdbBlock.writeBlock(root, u, Seq(
        Map("__name__" -> "m", "blk" -> i.toString) -> fpts(30, i * 1000.0)))
    }
    val dirs = ulids.map(u => s"$root/$u")
    // The killer interleaving under a shared "previous refs" slot: load B
    // starts (and evicts A's refs) BETWEEN A's index parse and A's chunk
    // fetch, so A's fetch recomputes — and re-parses — every index. Build
    // both loads interleaved, then consume both concurrently: per-load refs
    // ownership must keep it at exactly ONE parse per block per load.
    val before = TsdbBlock.seriesParses.get()
    val a = TsdbBlockReader.loadSamples(spark, dirs) // parses 2 indexes
    val b = TsdbBlockReader.loadSamples(spark, dirs) // parses 2 indexes
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ts = Seq(a, b).map(df => new Thread(() => counts.add(df.count())))
    ts.foreach(_.start()); ts.foreach(_.join())
    locally {
      import scala.jdk.CollectionConverters._
      assert(counts.asScala.toSeq == Seq(60L, 60L))
    }
    val parses = TsdbBlock.seriesParses.get() - before
    assert(parses == 2L * ulids.size,
      s"expected ${2 * ulids.size} index parses (one per block per load, " +
        s"no recompute-driven re-parse), got $parses")

    // scopedLoads: a bracketed load owns its refs cache and releases it on
    // exit — the migration loop's per-round lifecycle
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    TsdbBlockReader.scopedLoads {
      val c = TsdbBlockReader.loadSamples(spark, dirs)
      assert(c.count() == 60)
      assert(spark.sparkContext.getPersistentRDDs.size > persisted0,
        "refs must be persisted while the scope is live")
    }
    assert(spark.sparkContext.getPersistentRDDs.size == persisted0,
      "scope exit must unpersist exactly the refs it created")
  }

  test("migration loop pushes FULL matchers (regex) into the block source") {
    import graft.etl.{ConvertLoop, ReferenceFormat, TsdbBlock, TsdbDiscoverer}
    import graft.promql.{MatchEq, MatchRe}
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val D = 86400000L
    val jan1 = 1704067200000L
    def fpts(n: Int, base: Double) =
      new GenericArrayData((0 until n).map(i =>
        InternalRow(jan1 + i * 3600000L, base + i, null)).toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbmatch").toString
    val ulid = "01HV0MATCHMIGRATEBLOCK0000"
    // 6 http_* series worth keeping, 14 noise series a partial migration
    // must never decode or fetch
    val series =
      (0 until 3).map(i => Map("__name__" -> "http_requests",
        "path" -> s"/a$i") -> fpts(24, i * 10.0)) ++
      (0 until 3).map(i => Map("__name__" -> "http_errors",
        "path" -> s"/e$i") -> fpts(24, 100.0 + i)) ++
      (0 until 14).map(i => Map("__name__" -> s"noise_$i") -> fpts(24, 1000.0 + i))
    TsdbBlock.writeBlock(root, ulid,
      series.map { case (l, p) =>
        l -> (p: org.apache.spark.sql.catalyst.util.ArrayData) },
      externalLabels = Map("cluster" -> "m"))

    val disc = new TsdbDiscoverer(root, now = () => jan1 + 40 * D)
    val out = Files.createTempDirectory("graft-tsdbmatchout").toString
    val before = TsdbBlock.seriesDecoded.get()
    var go = true
    while (go) {
      val r = ConvertLoop.advanceReference(spark, disc, out,
        LocalDate.of(2024, 1, 10),
        TsdbBlockReader.matchingLoader(spark, root,
          Seq(MatchRe("__name__", "http_.*"))),
        graceDays = 2, maxDays = 1,
        loadSamplesRanged = Some(TsdbBlockReader.matchingRangedLoader(spark,
          root, Seq(MatchRe("__name__", "http_.*")))))
      go = !r.converged
    }
    // one planned day covers the block's single day → ONE converting round
    // opens the index once and decodes exactly the 6 regex-matched series
    val decoded = TsdbBlock.seriesDecoded.get() - before
    assert(decoded == 6,
      s"regex-matched migration must decode only matching series, got $decoded")
    val got = ReferenceFormat.selectReferenceStore(spark, out)
    assert(got.count() == 6 * 24)
    assert(got.select("__name__").distinct().as[String](
      org.apache.spark.sql.Encoders.STRING).collect().sorted.toSeq ==
      Seq("http_errors", "http_requests"))
    // mixed matcher forms compose: regex + eq intersect in the index task
    val one = TsdbBlockReader.loadSamplesMatching(spark, Seq(s"$root/$ulid"),
      Seq(MatchRe("__name__", "http_.*"), MatchEq("path", "/a1")))
    assert(one.count() == 24)
  }

  test("TSDB postings: matcher pushdown decodes only matching series") {
    import graft.etl.TsdbBlock
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val jan1 = 1704067200000L
    def fpts(base: Double) =
      new GenericArrayData((0 until 10).map(i =>
        InternalRow(jan1 + i * 60000L, base + i, null)).toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbpost").toString
    val ulid = "01HV0POSTINGSBLOCK00000000"
    // 20 up-series across 2 jobs, 5 other-metric series, 2 label-less-job
    // series — exercises eq, IN, and the missing≡"" complement
    val series =
      (0 until 20).map(i => Map("__name__" -> "up",
        "job" -> (if (i < 12) "api" else "db"), "i" -> i.toString) -> fpts(i)) ++
      (0 until 5).map(i => Map("__name__" -> "down", "i" -> i.toString) -> fpts(1000.0 + i)) ++
      (0 until 2).map(i => Map("__name__" -> "up", "i" -> s"nojob$i") -> fpts(2000.0 + i))
    TsdbBlock.writeBlock(root, ulid,
      series.map { case (l, p) => l -> (p: org.apache.spark.sql.catalyst.util.ArrayData) })
    val idx = Files.readAllBytes(Paths.get(s"$root/$ulid/index"))

    // pure postings algebra: eq, IN (union within name), intersection
    // across names, missing≡"" complement, unknown value → empty
    assert(TsdbBlock.readPostings(idx, Map.empty).size == 27)
    assert(TsdbBlock.readPostings(idx, Map("__name__" -> Seq("up"))).size == 22)
    assert(TsdbBlock.readPostings(idx,
      Map("__name__" -> Seq("up"), "job" -> Seq("api"))).size == 12)
    assert(TsdbBlock.readPostings(idx,
      Map("job" -> Seq("api", "db"))).size == 20)
    assert(TsdbBlock.readPostings(idx,
      Map("__name__" -> Seq("up"), "job" -> Seq(""))).size == 2)
    assert(TsdbBlock.readPostings(idx,
      Map("__name__" -> Seq("nosuch"))).isEmpty)

    // pushdown through the distributed read: only matching series entries
    // are DECODED (the counter), and only their samples return
    val before = TsdbBlock.seriesDecoded.get()
    val got = TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid"),
      matchers = Map("__name__" -> Seq("up"), "job" -> Seq("db")))
    assert(got.count() == 8 * 10)
    assert(got.select("i").distinct().count() == 8)
    val decoded = TsdbBlock.seriesDecoded.get() - before
    assert(decoded == 8,
      s"expected 8 series entries decoded (postings-pruned), got $decoded")

    // pushed and post-hoc filtering agree exactly
    val full = TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid"))
      .filter(col("__name__") === "up" && col("job") === "db")
      .select("__name__", "i", "ts_ms", "value")
    val push = got.select("__name__", "i", "ts_ms", "value")
    assert(push.exceptAll(full).isEmpty && full.exceptAll(push).isEmpty)

    // label-value dictionary off the index alone
    assert(TsdbBlock.readLabelValues(idx, "job").sorted == Seq("api", "db"))
    assert(TsdbBlock.readLabelValues(idx, "__name__").sorted == Seq("down", "up"))
    assert(TsdbBlock.readLabelValues(idx, "nosuch").isEmpty)

    // FULL matcher pushdown: regex resolves via the value dictionary,
    // negation honors missing≡"" (series without the label survive !=)
    import graft.promql.{MatchEq, MatchNotEq, MatchRe}
    val b2 = TsdbBlock.seriesDecoded.get()
    val re = TsdbBlockReader.loadSamplesMatching(spark, Seq(s"$root/$ulid"),
      Seq(MatchEq("__name__", "up"), MatchRe("job", "a.*")))
    assert(re.count() == 12 * 10)
    assert(TsdbBlock.seriesDecoded.get() - b2 == 12,
      "regex pushdown must decode only the dictionary-matched series")
    val neg = TsdbBlockReader.loadSamplesMatching(spark, Seq(s"$root/$ulid"),
      Seq(MatchEq("__name__", "up"), MatchNotEq("job", "api")))
    assert(neg.count() == (8 + 2) * 10,
      "!= must keep the db series AND the label-less series (missing ≡ \"\")")
    val rematch = TsdbBlockReader.loadSamplesMatching(spark, Seq(s"$root/$ulid"),
      Seq(MatchRe("i", "nojob.*")))
    assert(rematch.count() == 2 * 10)
    // matcher set with an impossible constraint → empty, no decode
    val b3 = TsdbBlock.seriesDecoded.get()
    assert(TsdbBlockReader.loadSamplesMatching(spark, Seq(s"$root/$ulid"),
      Seq(MatchEq("__name__", "up"), MatchEq("__name__", "down"))).count() == 0)
    assert(TsdbBlock.seriesDecoded.get() - b3 == 0)

    // batched posting-list fetch: an IN over 20 values COALESCES into a
    // handful of ranged index reads (adjacent lists in one cluster), never
    // one-or-two GETs per value — the object-store shape for broad matchers
    val rb4 = TsdbBlockReader.rangedIndexReads.get()
    val inSet = TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid"),
      matchers = Map("__name__" -> Seq("up"),
        "i" -> (0 until 20).map(_.toString)))
    assert(inSet.count() == 20 * 10)
    val reads = TsdbBlockReader.rangedIndexReads.get() - rb4
    assert(reads <= 24,
      s"posting-list fetches must coalesce, got $reads ranged index reads")
  }

  test("selective block read fetches index SECTIONS, not the whole file") {
    import graft.etl.TsdbBlock
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val jan1 = 1704067200000L
    def fpts(base: Double) =
      new GenericArrayData((0 until 4).map(i =>
        InternalRow(jan1 + i * 60000L, base + i, null)).toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbranged").toString
    val ulid = "01HV0RANGEDINDEXBLOCK00000"
    // 50 metrics × 100 uids: the series SECTION dominates the index, so a
    // 1-metric pull through the positional path must fetch a small
    // fraction of the file (TOC + symbols + offset tables + one posting
    // list + the metric's coalesced contiguous entry run)
    val series = (0 until 5000).map(i =>
      Map("__name__" -> s"m${i / 100}", "uid" -> (i % 100).toString) ->
        (fpts(i.toDouble): org.apache.spark.sql.catalyst.util.ArrayData))
    TsdbBlock.writeBlock(root, ulid, series)
    val idxLen = Files.size(Paths.get(s"$root/$ulid/index"))

    val b0 = TsdbBlockReader.rangedIndexBytes.get()
    val d0 = TsdbBlock.seriesDecoded.get()
    val promos0 = TsdbBlock.wholeFilePromotions.get()
    val got = TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid"),
      matchers = Map("__name__" -> Seq("m7")))
    assert(got.count() == 100 * 4)
    assert(TsdbBlock.seriesDecoded.get() - d0 == 100)
    val read = TsdbBlockReader.rangedIndexBytes.get() - b0
    assert(read > 0, "selective path must go through ranged index reads")
    assert(read < idxLen / 4,
      s"selective read fetched $read of $idxLen index bytes — " +
        "whole-file read amplification snuck back in")

    // regex path too: dictionary + postings resolve positionally
    val b1 = TsdbBlockReader.rangedIndexBytes.get()
    val re = TsdbBlockReader.loadSamplesMatching(spark, Seq(s"$root/$ulid"),
      Seq(graft.promql.MatchRe("__name__", "m7"),
        graft.promql.MatchEq("uid", "31")))
    assert(re.count() == 4)
    assert(TsdbBlockReader.rangedIndexBytes.get() - b1 < idxLen / 4)

    // label_values through the serving store: correct values, and an
    // absent label answers empty
    val bucket = TsdbBlockReader.openBucket(spark, root, Seq(ulid))
    try {
      assert(bucket.labelValues("__name__") == (0 until 50).map(i => s"m$i").sorted)
      assert(bucket.labelValues("nosuch").isEmpty)
    } finally bucket.close()

    // r19 whole-file fallback: a negated matcher keeping 98% of the series
    // plans ranged fetches covering most of the file — the view must
    // PROMOTE to one sequential whole-file read (r18 bench: the negated
    // shape fetched 246 of 286 MB as ranged GET trains; on an object store
    // one GET beats dozens). The narrow pulls above must NOT have promoted.
    assert(TsdbBlock.wholeFilePromotions.get() == promos0,
      "narrow selective pulls must never promote to whole-file reads")
    val negated = TsdbBlockReader.loadSamplesMatching(spark, Seq(s"$root/$ulid"),
      Seq(graft.promql.MatchNotEq("__name__", "m7")))
    assert(negated.count() == 4900 * 4)
    assert(TsdbBlock.wholeFilePromotions.get() == promos0 + 1,
      "a near-full selective read must promote to ONE whole-file fetch")
    // promoted path stays exact: same rows as the post-hoc filtered walk
    val negWalk = TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid"))
      .filter(col("__name__") =!= "m7").select("__name__", "uid", "ts_ms", "value")
    val negPush = negated.select("__name__", "uid", "ts_ms", "value")
    assert(negPush.exceptAll(negWalk).isEmpty && negWalk.exceptAll(negPush).isEmpty)
  }

  test("positional readSeriesByIdsAt equals the full walk filtered (randomized)") {
    import graft.etl.TsdbBlock
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(42)
    val jan1 = 1704067200000L
    // adversarial entry sizes: random label counts, one series with a 10 KB
    // value (entry span far past the 4 KB tail guess → exact re-fetch), and
    // random chunk counts so entry lengths vary
    val series = (0 until 300).map { i =>
      val nPts = 1 + rnd.nextInt(120)
      val pts = new GenericArrayData((0 until nPts).map(k =>
        InternalRow(jan1 + k * 60000L, rnd.nextDouble() * 100, null)).toArray[Any])
      val extra = (0 until rnd.nextInt(4)).map(j =>
        s"l$j" -> rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString).toMap
      val big = if (i == 137) Map("huge" -> ("x" * 10240)) else Map.empty
      (Map("__name__" -> s"m${i % 7}", "i" -> i.toString) ++ extra ++ big) ->
        (pts: org.apache.spark.sql.catalyst.util.ArrayData)
    }
    val root = Files.createTempDirectory("graft-tsdbfuzz").toString
    val ulid = "01HV0FUZZBYIDSBLOCK0000000"
    TsdbBlock.writeBlock(root, ulid, series)
    val idx = Files.readAllBytes(Paths.get(s"$root/$ulid/index"))
    val all = TsdbBlock.readSeries(idx).toVector
    assert(all.size == 300)
    (1 to 25).foreach { _ =>
      val ids = rnd.shuffle(all.map(_.ref)).take(rnd.nextInt(all.size + 1))
      val got = TsdbBlock.readSeriesByIds(idx, ids).toVector
      val want = all.filter(e => ids.contains(e.ref)).sortBy(_.ref)
      assert(got == want, s"byIds(${ids.size} ids) diverged from the full walk")
    }
    // empty and singleton sets
    assert(TsdbBlock.readSeriesByIds(idx, Nil).isEmpty)
    assert(TsdbBlock.readSeriesByIds(idx, Seq(all.last.ref)).toSeq == Seq(all.last))
  }

  test("OpenTsdbBucket: indexes parse once at open, queries serve from cached refs") {
    import graft.etl.TsdbBlock
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val D = 86400000L
    val jan1 = 1704067200000L
    def fpts(day: Int, base: Double) =
      new GenericArrayData((0 until 24).map(h =>
        InternalRow(jan1 + day * D + h * 3600000L, base + h, null)).toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbopen").toString
    val ulids = Seq("01HV0OPENBUCKETBLOCKA00000", "01HV0OPENBUCKETBLOCKB00000")
    ulids.zipWithIndex.foreach { case (u, day) =>
      TsdbBlock.writeBlock(root, u, (0 until 5).map(i =>
        Map("__name__" -> "ob", "uid" -> i.toString) ->
          (fpts(day, i * 10.0): org.apache.spark.sql.catalyst.util.ArrayData)))
    }
    val before = TsdbBlock.seriesParses.get()
    val bucket = TsdbBlockReader.openBucket(spark, root, ulids)
    assert(bucket.blockCount == 2)
    assert(TsdbBlock.seriesParses.get() - before == 2,
      "open must parse each index exactly once")
    val all = bucket.select().count()
    val day1 = bucket.select(jan1, jan1 + D - 1)
    val day2 = bucket.select(jan1 + D, Long.MaxValue)
    assert(all == 5 * 48 && day1.count() == 5 * 24 && day2.count() == 5 * 24)
    // repeated + sliced queries never touch an index file again
    assert(TsdbBlock.seriesParses.get() - before == 2,
      "queries must serve from the cached refs, not re-parse indexes")
    // a slice matches a direct ranged load exactly
    val direct = TsdbBlockReader.loadSamples(spark,
      ulids.map(u => s"$root/$u"), jan1, jan1 + D - 1)
      .select("__name__", "uid", "ts_ms", "value")
    val sliced = day1.select("__name__", "uid", "ts_ms", "value")
    assert(sliced.exceptAll(direct).isEmpty && direct.exceptAll(sliced).isEmpty)
    bucket.close()
  }

  test("openRangedLoader: a multi-round migration parses each index once TOTAL") {
    import graft.etl.{ConvertLoop, ReferenceFormat, TsdbBlock, TsdbDiscoverer}
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val D = 86400000L
    val jan1 = 1704067200000L
    // one block spanning 3 days → maxDays=1 forces 3 converting rounds
    // over the SAME block; the open-bucket loader must parse its index
    // once, where the plain ranged loader re-parses it every round
    val root = Files.createTempDirectory("graft-tsdbopenmig").toString
    val ulid = "01HV0OPENMIGRATEBLOCK00000"
    TsdbBlock.writeBlock(root, ulid, (0 until 4).map { i =>
      val pts = new GenericArrayData((0 until 72).map(h =>
        InternalRow(jan1 + h * 3600000L, i * 100.0 + h, null)).toArray[Any])
      Map("__name__" -> "om", "uid" -> i.toString) ->
        (pts: org.apache.spark.sql.catalyst.util.ArrayData)
    })
    val disc = new TsdbDiscoverer(root, now = () => jan1 + 40 * D)
    val out = Files.createTempDirectory("graft-tsdbopenmigout").toString
    val before = TsdbBlock.seriesParses.get()
    // ONE loader instance across the whole loop — its bucket cache is what
    // carries the parse across rounds (per-round loaders would re-open)
    val ranged = TsdbBlockReader.openRangedLoader(spark, root)
    var rounds = 0
    var go = true
    while (go) {
      val r = ConvertLoop.advanceReference(spark, disc, out,
        LocalDate.of(2024, 1, 10),
        TsdbBlockReader.loader(spark, root), graceDays = 2, maxDays = 1,
        loadSamplesRanged = Some(ranged))
      rounds += r.stepCount
      go = !r.converged
    }
    assert(rounds == 3, s"expected 3 converted day-rounds, got $rounds")
    val parses = TsdbBlock.seriesParses.get() - before
    assert(parses == 1,
      s"open-bucket loader must parse the index once across rounds, got $parses")
    val got = ReferenceFormat.selectReferenceStore(spark, out)
    assert(got.count() == 4 * 72)
    assert(got.select(floor(col("ts_ms") / D)).distinct().count() == 3)
  }

  test("postings merge algebra: two-pointer merges match set semantics exactly") {
    import graft.etl.TsdbBlock
    val rnd = new scala.util.Random(1833)
    def arb(): Array[Long] =
      Array.fill(rnd.nextInt(50))(rnd.nextInt(80).toLong).distinct.sorted
    for (_ <- 1 to 300) {
      val a = arb(); val b = arb()
      assert(TsdbBlock.unionSorted(a, b).toSeq == (a.toSet ++ b.toSet).toSeq.sorted)
      assert(TsdbBlock.intersectSorted(a, b).toSeq ==
        (a.toSet & b.toSet).toSeq.sorted)
      assert(TsdbBlock.diffSorted(a, b).toSeq == (a.toSet -- b.toSet).toSeq.sorted)
      // outputs stay ascending and duplicate-free (the posting-list invariant
      // every downstream merge relies on)
      val u = TsdbBlock.unionSorted(a, b)
      assert(u.sliding(2).forall(w => w.length < 2 || w(0) < w(1)))
    }
    // k-way union (the negation path unions EVERY posted value of a name)
    val many = Seq.fill(17)(arb())
    assert(TsdbBlock.unionAllSorted(many).toSeq ==
      many.flatten.distinct.sorted)
    assert(TsdbBlock.unionAllSorted(Nil).isEmpty)
    assert(TsdbBlock.unionAllSorted(Seq(Array(3L, 9L))).toSeq == Seq(3L, 9L))
  }

  test("OpenTsdbBucket: concurrent selects never re-parse; close releases the refs cache") {
    import graft.etl.TsdbBlock
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val D = 86400000L
    val jan1 = 1704067200000L
    def fpts(day: Int, base: Double) =
      new GenericArrayData((0 until 24).map(h =>
        InternalRow(jan1 + day * D + h * 3600000L, base + h, null)).toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbconc").toString
    val ulids = Seq("01HV0CONCBUCKETBLOCKA00000", "01HV0CONCBUCKETBLOCKB00000")
    ulids.zipWithIndex.foreach { case (u, day) =>
      TsdbBlock.writeBlock(root, u, (0 until 6).map(i =>
        Map("__name__" -> "cb", "uid" -> i.toString) ->
          (fpts(day, i * 10.0): org.apache.spark.sql.catalyst.util.ArrayData)))
    }
    val before = TsdbBlock.seriesParses.get()
    val bucket = TsdbBlockReader.openBucket(spark, root, ulids)
    val openParses = TsdbBlock.seriesParses.get() - before
    assert(openParses == 2, "open parses each index exactly once")
    // a stampede of concurrent queries on one open bucket — the serving
    // shape under concurrency — must answer entirely from the cached refs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            bucket.select(jan1 + (i % 2) * D, jan1 + (i % 2 + 1) * D - 1).count()
        })
      }
      assert(futs.map(_.get()).forall(_ == 6 * 24))
    } finally { pool.shutdownNow(); pool.awaitTermination(60,
      java.util.concurrent.TimeUnit.SECONDS) }
    assert(TsdbBlock.seriesParses.get() - before == openParses,
      "concurrent selects must not re-parse any index")
    // close() releases the persisted refs (the serve-path lifecycle seam)
    assert(bucket.refsStorageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    bucket.close()
    assert(bucket.refsStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "close() must unpersist the refs cache")
  }

  test("openRangedLoader: compaction churn evicts superseded buckets (no refs-cache leak)") {
    import graft.etl.{TsdbBlock, TsdbBlockMeta, TsdbStream}
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val jan1 = 1704067200000L
    def fpts() = new GenericArrayData((0 until 12).map(h =>
      InternalRow(jan1 + h * 3600000L, h.toDouble, null)).toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbchurn").toString
    val ulids = Seq("01HV0CHURNBUCKETBLOCKA0000", "01HV0CHURNBUCKETBLOCKB0000",
      "01HV0CHURNBUCKETBLOCKC0000")
    ulids.foreach { u =>
      TsdbBlock.writeBlock(root, u, Seq(
        Map("__name__" -> "ch", "b" -> u.takeRight(5)) ->
          (fpts(): org.apache.spark.sql.catalyst.util.ArrayData)))
    }
    def stream(us: Seq[String]) = TsdbStream(Map.empty,
      us.map(u => TsdbBlockMeta(u, jan1, jan1 + 86400000L, 0, 1, Map.empty)),
      Seq("2024-01-01"))
    val Seq(a, b, c) = ulids
    val loader = TsdbBlockReader.openRangedLoader(spark, root)
    val rdds0 = spark.sparkContext.getPersistentRDDs.size
    val before = TsdbBlock.seriesParses.get()
    assert(loader(stream(Seq(a, b)), jan1, jan1 + 86400000L).count() == 2 * 12)
    assert(TsdbBlock.seriesParses.get() - before == 2)
    assert(spark.sparkContext.getPersistentRDDs.size == rdds0 + 1)
    // compaction churn: {A,B} → {B,C} is overlapping-but-neither — the
    // superseded bucket MUST close (a subset/superset test would leak its
    // persisted refs forever on a long-running migration)
    assert(loader(stream(Seq(b, c)), jan1, jan1 + 86400000L).count() == 2 * 12)
    assert(TsdbBlock.seriesParses.get() - before == 4)
    assert(spark.sparkContext.getPersistentRDDs.size == rdds0 + 1,
      "churn must evict the superseded bucket's persisted refs")
    // returning to {A,B} re-opens (proves the old bucket really closed) and
    // still holds exactly one live bucket
    assert(loader(stream(Seq(a, b)), jan1, jan1 + 86400000L).count() == 2 * 12)
    assert(TsdbBlock.seriesParses.get() - before == 6)
    assert(spark.sparkContext.getPersistentRDDs.size == rdds0 + 1)
    // repeat rounds on the CURRENT set stay parse-free (the cache's point)
    assert(loader(stream(Seq(a, b)), jan1, jan1 + 3600000L).count() == 2 * 2)
    assert(TsdbBlock.seriesParses.get() - before == 6)
  }

  test("TSDB read plan: series_hash and label extraction sit BELOW the sample explode") {
    import graft.etl.TsdbBlock
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val jan1 = 1704067200000L
    val root = Files.createTempDirectory("graft-tsdbhoist").toString
    val ulid = "01HV0HOISTPLANBLOCK0000000"
    TsdbBlock.writeBlock(root, ulid, (0 until 3).map { i =>
      val pts = new GenericArrayData((0 until 24).map(h =>
        InternalRow(jan1 + h * 3600000L, i + h * 1.0, null)).toArray[Any])
      Map("__name__" -> "hp", "uid" -> i.toString) ->
        (pts: org.apache.spark.sql.catalyst.util.ArrayData)
    })
    val df = TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid"))
    def hashCount(p: LogicalPlan): Int = p.collect { case n =>
      n.expressions.map { e =>
        var c = 0
        e.foreach(x => if (x.isInstanceOf[graft.functions.PromLabelsHash]) c += 1)
        c
      }.sum
    }.sum
    val plan = df.queryExecution.optimizedPlan
    val gen = plan.collectFirst { case g: Generate => g }
    assert(gen.nonEmpty, "expected the sample explode as a Generate node")
    // the hash is a function of the chunk row's labels alone: it must
    // compute once per CHUNK (below the Generate), never once per SAMPLE
    assert(hashCount(gen.get.child) == 1,
      "series_hash must be computed below the explode (once per chunk)")
    assert(hashCount(plan) == 1,
      "no series_hash evaluation may remain above the explode")
    // and the result is unchanged: hash groups exactly the 3 series
    assert(df.select("series_hash").distinct().count() == 3)
    assert(df.groupBy("series_hash", "uid").count().count() == 3)
  }

  test("PromQL serves identically from a RAW TSDB bucket and its migrated copy") {
    import graft.etl.{ConvertLoop, ReferenceFormat, TsdbBlock, TsdbDiscoverer}
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val D = 86400000L
    val jan1 = 1704067200000L
    def fpts(day: Int, base: Double) =
      new GenericArrayData((0 until 24).map(h =>
        InternalRow(jan1 + day * D + h * 3600000L, base + h, null)).toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbserve").toString
    val ulids = Seq("01HV0SERVEPARITYBLOCKA0000", "01HV0SERVEPARITYBLOCKB0000")
    ulids.zipWithIndex.foreach { case (u, day) =>
      val series = (0 until 2).flatMap(m => (0 until 3).map(i =>
        Map("__name__" -> s"pm$m", "uid" -> i.toString) ->
          (fpts(day, m * 100.0 + i * 10.0)
            : org.apache.spark.sql.catalyst.util.ArrayData)))
      TsdbBlock.writeBlock(root, u, series)
    }
    // migrate the bucket, then serve the SAME queries from both sides
    val out = Files.createTempDirectory("graft-tsdbserveout").toString
    val disc = new TsdbDiscoverer(root, now = () => jan1 + 40 * D)
    var go = true
    while (go) {
      val r = ConvertLoop.advanceReference(spark, disc, out,
        java.time.LocalDate.of(2024, 1, 10),
        TsdbBlockReader.loader(spark, root), graceDays = 2, maxDays = 2,
        loadSamplesRanged = Some(TsdbBlockReader.rangedLoader(spark, root)))
      go = !r.converged
    }
    val migrated = new graft.api.PromEngine(
      new graft.sources.FrameStore(ReferenceFormat.selectReferenceStore(spark, out)))
    // range-bound (not matcher-aware) serving off the open bucket
    val bucket = TsdbBlockReader.openBucket(spark, root, ulids)
    val byRange = (lo: Long, hi: Long) => bucket.select(lo, hi)
    val live = new graft.api.PromEngine(
      new graft.sources.FrameStore(bucket.select(), Some(byRange)))

    def norm(ss: Seq[graft.api.PromEngine.Series]) =
      ss.map(s => (s.labels, s.points.sortBy(_._1))).sortBy(_._1.toSeq.sorted.mkString(","))
    val at = jan1 + D + 20 * 3600000L
    for (q <- Seq(
      """sum by (__name__) ({uid=~".+"})""",
      """pm0{uid="1"}""",
      """rate(pm1{uid="2"}[2h])""",
      """max(pm0) - min(pm0)""")) {
      assert(norm(live.instantQuery(q, at)) == norm(migrated.instantQuery(q, at)),
        s"instant '$q' diverges between raw-block and migrated serving")
    }
    assert(
      norm(live.rangeQuery("sum(pm0)", jan1 + 2 * 3600000L, at, 4 * 3600000L)) ==
        norm(migrated.rangeQuery("sum(pm0)", jan1 + 2 * 3600000L, at, 4 * 3600000L)))
    // the range-aware source opens only overlapping blocks: a day-1 query
    // must not touch block B (day 2) at all
    val day1 = byRange(jan1, jan1 + D - 1)
    assert(day1.agg(max(col("ts_ms"))).head().getLong(0) < jan1 + D)

    // MATCHER-AWARE serving: the query's selector sets prune the cached
    // refs before any chunk I/O (Compiler.selectorMatcherSets →
    // OpenTsdbBucket.select(lo, hi, sets)) — identical answers, and a
    // 1-series query fetches ~that series' share of segment bytes, not
    // the whole window's
    val matching = new graft.api.PromEngine(bucket)
    for (q <- Seq(
      """sum by (__name__) ({uid=~".+"})""",
      """pm0{uid="1"}""",
      """rate(pm1{uid="2"}[2h])""",
      """max(pm0) - min(pm0)""")) {
      assert(norm(matching.instantQuery(q, at)) == norm(migrated.instantQuery(q, at)),
        s"matcher-pruned serving of '$q' diverges from the migrated store")
    }
    val g0 = TsdbBlockReader.segmentBytesRead.get()
    matching.instantQuery("""pm0{uid="1"}""", at)
    val oneSeries = TsdbBlockReader.segmentBytesRead.get() - g0
    val g1 = TsdbBlockReader.segmentBytesRead.get()
    matching.instantQuery("""sum by (__name__) ({uid=~".+"})""", at)
    val allSeries = TsdbBlockReader.segmentBytesRead.get() - g1
    assert(oneSeries > 0 && oneSeries * 4 <= allSeries,
      s"a 1-of-6-series query must fetch ~1/6 of the segment bytes " +
        s"(got $oneSeries vs $allSeries for all series)")

    // label INTROSPECTION off the cached refs: exact answers (matchers
    // honored with full semantics), ZERO chunk I/O — the dictionary-only
    // label_values contract the reference serves from parquet dictionaries
    val g2 = TsdbBlockReader.segmentBytesRead.get()
    assert(bucket.labelValues("__name__") == Seq("pm0", "pm1"))
    assert(bucket.labelValues("uid") == Seq("0", "1", "2"))
    assert(bucket.labelValues("uid",
      matcherSets = Seq(Seq(graft.promql.MatchEq("__name__", "pm1"),
        graft.promql.MatchRe("uid", "[01]")))) == Seq("0", "1"))
    assert(bucket.labelNames() == Seq("__name__", "uid"))
    // day-2 slice still sees both blocks' union? no — chunk-granular: only
    // block B's series overlap day 2, but labels are identical across
    // blocks in this fixture, so the answer is unchanged
    assert(bucket.labelValues("uid", Nil, jan1 + D, Long.MaxValue) == Seq("0", "1", "2"))
    assert(TsdbBlockReader.segmentBytesRead.get() - g2 == 0,
      "label introspection must not touch segment files")
    // the engine over the bucket store serves the same answers
    assert(matching.labelNames(Nil, jan1, at) ==
      migrated.labelNames(Nil, jan1, at))
    assert(matching.labelValues("uid", Nil, jan1, at)._1 ==
      migrated.labelValues("uid", Nil, jan1, at)._1)
    // /series off the refs alone: matches the migrated store's answer and
    // honors matcher-set union + limit/truncation
    val setQ = Seq(Seq(graft.promql.MatchEq("__name__", "pm0")),
      Seq(graft.promql.MatchEq("__name__", "pm1"),
        graft.promql.MatchEq("uid", "0")))
    assert(matching.series(setQ, jan1, at) == migrated.series(setQ, jan1, at))
    val (lim, trunc) = matching.series(setQ, jan1, at, limit = 2)
    assert(lim.size == 2 && trunc)
    // r19: the limit is pushed INTO the refs DataFrame — a limited /series
    // plans a GlobalLimit(limit+1) above the sort (top-K per partition +
    // a bounded collect), never a full driver materialization. At a
    // 100M-series open bucket a matcherless limited /series must not OOM
    // the driver (ref truncates during materialization,
    // search/materialize.go:53-58).
    val sf = bucket.seriesFrame(jan1, at, Seq.empty, 2)
    val limits = sf.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => g
    }
    assert(limits.nonEmpty, "/series limit must appear in the plan")
    assert(sf.count() <= 3, "bounded /series must collect <= limit+1 rows")
    // introspection and scan backends agree on the limited SUBSET too
    // (both sort by the canonical element-wise pair key)
    assert(matching.series(setQ, jan1, at, limit = 2) ==
      migrated.series(setQ, jan1, at, limit = 2))
    bucket.close()
  }

  test("selectorMatcherSets: every selector contributes its full set (name included)") {
    import graft.promql._
    val sets = Compiler.selectorMatcherSets(
      Parser.parse("""rate(pm1{uid="2"}[2h]) + sum(pm0{job!="x"})"""))
    assert(sets.toSet == Set(
      Seq(MatchEq("__name__", "pm1"), MatchEq("uid", "2")),
      Seq(MatchEq("__name__", "pm0"), MatchNotEq("job", "x"))))
    // subquery + scalar param selectors are walked too
    val sub = Compiler.selectorMatcherSets(
      Parser.parse("""quantile(0.9, max_over_time(m{a=~"b.*"}[1h:5m]))"""))
    assert(sub == Seq(Seq(MatchEq("__name__", "m"), MatchRe("a", "b.*"))))
    // a selector-free expression yields NO sets (nothing may be pruned)
    assert(Compiler.selectorMatcherSets(Parser.parse("1 + 2")).isEmpty)
  }

  test("TSDB block roundtrip preserves stale-marker NaN payloads bit-exactly") {
    import graft.etl.TsdbBlock
    import graft.functions.IsStale
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val jan1 = 1704067200000L
    val root = Files.createTempDirectory("graft-tsdbstale").toString
    val ulid = "01HV0STALEBLOCK00000000000"
    // a stale marker is a REGULAR sample in the block (Prometheus appends
    // it on target disappearance); its NaN payload must survive the
    // write → chunk → frame → decode path bit-exactly, or serving would
    // treat it as an ordinary NaN value instead of hiding the series
    TsdbBlock.writeBlock(root, ulid, Seq(
      Map("__name__" -> "m") -> (new GenericArrayData(Array[Any](
        InternalRow(jan1, 1.0, null),
        InternalRow(jan1 + 60000L, IsStale.StaleNaN, null),
        InternalRow(jan1 + 120000L, 2.0, null)))
        : org.apache.spark.sql.catalyst.util.ArrayData)))
    val got = TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid"))
    assert(got.count() == 3)
    val mid = got.filter(col("ts_ms") === (jan1 + 60000L))
      .select("value").head().getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(mid) ==
      java.lang.Double.doubleToRawLongBits(IsStale.StaleNaN),
      "stale-marker payload must roundtrip bit-exactly")
    // and the engine's lookback selection HIDES the series at the marker
    // (while an ordinary NaN would serve) — Prometheus staleness semantics
    import graft.promql.Eval
    assert(Eval.instantVector(got, Nil, jan1 + 90000L, 3600000L).count() == 0)
    assert(Eval.instantVector(got, Nil, jan1 + 30000L, 3600000L).count() == 1)
    assert(Eval.instantVector(got, Nil, jan1 + 150000L, 3600000L).count() == 1)
  }

  test("partial migration: matcher-pushdown loader converts only the matched series") {
    import graft.etl.{ConvertLoop, ReferenceFormat, TsdbBlock, TsdbDiscoverer}
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val D = 86400000L
    val jan1 = 1704067200000L
    def fpts(base: Double) =
      new GenericArrayData((0 until 24).map(h =>
        InternalRow(jan1 + h * 3600000L, base + h, null)).toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbpartial").toString
    val ulid = "01HV0PARTIALBLOCK000000000"
    val series = (0 until 6).map(i => Map("__name__" -> (if (i < 4) "keep" else "drop"),
      "uid" -> i.toString) -> (fpts(i * 100.0): org.apache.spark.sql.catalyst.util.ArrayData))
    TsdbBlock.writeBlock(root, ulid, series)

    // the pushdown loader feeds the SAME convert loop; the resulting bucket
    // contains only the matched metric, end to end
    val out = Files.createTempDirectory("graft-tsdbpartialout").toString
    val disc = new TsdbDiscoverer(root, now = () => jan1 + 40 * D)
    val today = LocalDate.of(2024, 1, 10)
    var go = true
    while (go) {
      val r = ConvertLoop.advanceReference(spark, disc, out, today,
        TsdbBlockReader.loader(spark, root,
          matchers = Map("__name__" -> Seq("keep"))),
        graceDays = 2, maxDays = 5, numShards = 1)
      go = !r.converged
    }
    val served = ReferenceFormat.selectReferenceStore(spark, out)
    assert(served.count() == 4 * 24)
    assert(served.select("__name__").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("keep"))
    assert(served.select("uid").distinct().count() == 4)
  }

  test("BlockFetch: resumable download repairs a truncated segment tail-only") {
    import graft.etl.{BlockFetch, TsdbBlock}
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val jan1 = 1704067200000L
    val remote = Files.createTempDirectory("graft-bfremote").toString
    val local = Files.createTempDirectory("graft-bflocal").toString
    val ulid = "01HV0FETCHBLOCK00000000000"
    val series = (0 until 4).map { u =>
      Map("__name__" -> "m", "uid" -> u.toString) ->
        (new GenericArrayData((0 until 48).map(h =>
          InternalRow(jan1 + h * 3600000L, (u * 100 + h).toDouble, null)).toArray[Any])
          : org.apache.spark.sql.catalyst.util.ArrayData)
    }
    // small segment cap → several chunk files, so "untouched segments not
    // re-read" is observable
    TsdbBlock.writeBlock(remote, ulid, series, segmentBytes = 2048L)
    def totalBytes(dir: String): Long = {
      // exclude Hadoop LocalFileSystem's hidden .crc sidecars — listFiles
      // (and thus BlockFetch) never sees them
      val s = Files.walk(Paths.get(dir))
      try s.filter(Files.isRegularFile(_))
        .filter(p => !p.getFileName.toString.startsWith("."))
        .mapToLong(Files.size(_)).sum
      finally s.close()
    }

    // cold fetch moves every byte once
    val b0 = BlockFetch.bytesFetched.get()
    val dir = BlockFetch.ensureLocal(remote, ulid, local)
    assert(BlockFetch.bytesFetched.get() - b0 == totalBytes(s"$remote/$ulid"))
    assert(TsdbBlockReader.loadSamples(spark, Seq(dir)).count() == 4 * 48)

    // warm fetch is free: nothing opened, nothing read
    val b1 = BlockFetch.bytesFetched.get(); val f1 = BlockFetch.filesOpened.get()
    BlockFetch.ensureLocal(remote, ulid, local)
    assert(BlockFetch.bytesFetched.get() == b1 && BlockFetch.filesOpened.get() == f1)

    // truncate one cached segment by 100 bytes → repair fetches exactly
    // the 100-byte tail of exactly that one file
    val segs = Files.list(Paths.get(s"$dir/chunks")).sorted().iterator()
    val victim = segs.next()
    val fullLen = Files.size(victim)
    val ch = java.nio.channels.FileChannel.open(victim,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(fullLen - 100) finally ch.close()
    val b2 = BlockFetch.bytesFetched.get(); val f2 = BlockFetch.filesOpened.get()
    BlockFetch.ensureLocal(remote, ulid, local)
    assert(BlockFetch.bytesFetched.get() - b2 == 100,
      s"expected a 100-byte tail repair, fetched ${BlockFetch.bytesFetched.get() - b2}")
    assert(BlockFetch.filesOpened.get() - f2 == 1,
      "only the truncated segment may be re-opened")
    assert(Files.size(victim) == fullLen)

    // the repaired cache byte-matches the remote and still serves
    assert(TsdbBlockReader.loadSamples(spark, Seq(dir)).count() == 4 * 48)
    val remoteBytes = Files.readAllBytes(
      Paths.get(s"$remote/$ulid/chunks/${victim.getFileName}"))
    assert(java.util.Arrays.equals(Files.readAllBytes(victim), remoteBytes))

    // a LONGER local file (corrupt overwrite) is re-fetched whole
    Files.write(victim, new Array[Byte](fullLen.toInt + 50))
    val b3 = BlockFetch.bytesFetched.get()
    BlockFetch.ensureLocal(remote, ulid, local)
    assert(BlockFetch.bytesFetched.get() - b3 == fullLen)
    assert(java.util.Arrays.equals(Files.readAllBytes(victim), remoteBytes))
  }

  test("TSDB tombstones: deleted intervals never serve; CRC and absent-file handling") {
    import graft.etl.TsdbBlock
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val jan1 = 1704067200000L
    def fpts(pts: Seq[(Long, Double)]) =
      new GenericArrayData(pts.map { case (t, v) => InternalRow(t, v, null) }.toArray[Any])
    val root = Files.createTempDirectory("graft-tsdbtomb").toString
    val ulid = "01HV0TOMBSTONEBLOCK0000000"
    TsdbBlock.writeBlock(root, ulid, Seq(
      Map("__name__" -> "a") -> fpts((0 until 10).map(i => (jan1 + i * 60000L, i.toDouble))),
      Map("__name__" -> "b") -> fpts((0 until 10).map(i => (jan1 + i * 60000L, i + 100.0)))))
    // the writer emits an (empty) tombstones file, like every real block
    assert(Files.exists(Paths.get(s"$root/$ulid/tombstones")))
    assert(TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid")).count() == 20)

    // delete minutes 2..5 of series "a" only — its on-disk series ref comes
    // from the index walk, exactly how tombstones address series
    val idx = Files.readAllBytes(Paths.get(s"$root/$ulid/index"))
    val refA = TsdbBlock.readSeries(idx)
      .find(_.labels == Map("__name__" -> "a")).get.ref
    TsdbBlock.writeTombstones(root, ulid,
      Seq((refA, jan1 + 2 * 60000L, jan1 + 5 * 60000L)))
    val got = TsdbBlockReader.loadSamples(spark, Seq(s"$root/$ulid"))
    assert(got.count() == 16)
    assert(got.filter(col("__name__") === "a").count() == 6)
    assert(got.filter(col("__name__") === "a")
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq ==
      Seq(0.0, 1.0, 6.0, 7.0, 8.0, 9.0))
    assert(got.filter(col("__name__") === "b").count() == 10)

    // corrupt CRC fails loudly, never silently serves deleted data
    val tp = Paths.get(s"$root/$ulid/tombstones")
    val tb = Files.readAllBytes(tp)
    tb(tb.length - 1) = (tb(tb.length - 1) ^ 0x01).toByte
    assertThrows[IllegalArgumentException](TsdbBlock.readTombstones(tb))
  }

  test("TSDB block read: histogram chunks (enc 2/3) decode through the shared frame path") {
    import graft.etl.TsdbBlock
    import graft.sources.TsdbBlockReader
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val jan1 = 1704067200000L
    def hrow(cnt: Double, hsum: Double, buckets: Seq[(Int, Double)]) =
      InternalRow(cnt, hsum, 0, 0.0, 0.0,
        new GenericArrayData(buckets.map { case (i, c) => InternalRow(i, c) }.toArray[Any]),
        new GenericArrayData(Array.empty[Any]), null)
    val pts = new GenericArrayData(Array[Any](
      InternalRow(jan1 + 1000L, 4.0, hrow(4, 1.5, Seq(0 -> 4.0))),
      InternalRow(jan1 + 2000L, 6.0, hrow(6, 2.5, Seq(0 -> 6.0))),
      InternalRow(jan1 + 3000L, 6.5, hrow(6.5, 2.75, Seq(0 -> 6.5)))))
    val root = Files.createTempDirectory("graft-tsdbhist").toString
    TsdbBlock.writeBlock(root, "01HV0HISTBLOCK000000000000",
      Seq(Map("__name__" -> "lat") -> pts))
    val got = TsdbBlockReader.loadSamples(spark, Seq(s"$root/01HV0HISTBLOCK000000000000"))
      .orderBy("ts_ms").collect()
    assert(got.length == 3)
    assert(got.map(_.getAs[Double]("value")).toSeq == Seq(4.0, 6.0, 6.5))
    val h0 = got(0).getStruct(got(0).fieldIndex("h"))
    assert(h0.getDouble(0) == 4.0 && h0.getDouble(1) == 1.5)
    val h2 = got(2).getStruct(got(2).fieldIndex("h"))
    assert(h2.getDouble(0) == 6.5 && h2.getDouble(1) == 2.75)
  }

  test("reference discovery: one flat listing per open, never a per-day exists fan") {
    import graft.etl.ReferenceFormat
    import graft.model.TimeSeriesModel
    val D = 86400000L
    val jan1 = 1704067200000L
    val t = Tables(spark, sf())
    val out = Files.createTempDirectory("graft-reflist").toString
    ReferenceFormat.convertReference(spark,
      TimeSeriesModel.samples(t.events).filter(col("ts_ms") < jan1 + D), out)
    // fan the converted day out to 20 more — pure FS clones; the pre-r15
    // discoverer paid 2–3 exists RPCs per day here (~3000 HEADs on a
    // 1000-day S3 bucket), the flat-listing one pays exactly one LIST
    for (i <- 1 to 20) {
      val d = f"2024-02-$i%02d"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$out/0/2024-01-01"), new java.io.File(s"$out/0/$d"))
      Files.createDirectories(Paths.get(s"$out/$d"))
      Files.copy(Paths.get(s"$out/2024-01-01/meta.pb"), Paths.get(s"$out/$d/meta.pb"))
    }
    val before = ReferenceFormat.discoveryListCalls.get()
    val days = ReferenceFormat.discoverDays(spark, out)
    assert(days("0").size == 21)
    // hash-0 days fold the top-level meta spot and the 0/<date>/ shard dir
    // into one keyed entry — never a duplicate date, whatever the order
    // the listing yields them in
    assert(days.values.forall(ds => ds == ds.distinct.sorted))
    assert(ReferenceFormat.discoveryListCalls.get() - before == 1,
      "discovering a 21-day bucket must cost exactly one listing")
  }

  test("MiniJson: nested objects, arrays, escapes, numbers") {
    import graft.etl.MiniJson
    val v = MiniJson.parse(
      """{"a":[1,2.5,-3e2],"s":"q\"\nA","o":{"t":true,"f":false,"n":null}}""")
      .asInstanceOf[Map[String, Any]]
    assert(v("a") == Vector(1.0, 2.5, -300.0))
    assert(v("s") == "q\"\nA")
    assert(v("o") == Map("t" -> true, "f" -> false, "n" -> null))
    assertThrows[IllegalArgumentException](MiniJson.parse("""{"a":1} trailing"""))
  }

  test("loops: repeat until stop; retry with backoff rethrows after attempts") {
    var ticks = 0
    val n = Loops.repeat(1, () => ticks >= 3)(() => ticks += 1)
    assert(n == 3 && ticks == 3)

    var tries = 0
    val got = Loops.retry(3, 1)(() => { tries += 1; if (tries < 3) sys.error("boom"); 42 })
    assert(got == 42 && tries == 3)
    tries = 0
    assertThrows[RuntimeException](Loops.retry(2, 1)(() => { tries += 1; sys.error("boom") }))
    assert(tries == 2)
  }

  test("downsample: counter increase is identical from 5m layer, 1h layer and raw") {
    val samples = graft.model.TimeSeriesModel.samples(Tables(spark, sf()).events)
    val i5 = Downsample.counterIncrease(Downsample.layer(samples, Downsample.Res5m))
      .orderBy("__name__", "uid").collect().toSeq
    val i1 = Downsample.counterIncrease(Downsample.layer(samples, Downsample.Res1h))
      .orderBy("__name__", "uid").collect().toSeq
    // the whole-range window is one giant "layer" row per series: first/last
    // plus every drop seen by a raw per-sample walk
    val iraw = Downsample.counterIncrease(Downsample.layer(samples, Long.MaxValue))
      .orderBy("__name__", "uid").collect().toSeq
    assert(i5.nonEmpty && i5 == i1 && i1 == iraw,
      "cross-resolution counter recomposition must be bit-identical")
  }

  test("downsample: layer survives the sharded write/open roundtrip") {
    val samples = graft.model.TimeSeriesModel.samples(Tables(spark, sf()).events)
    val l1h = Downsample.layer(samples, Downsample.Res1h)
    val out = Files.createTempDirectory("graft-ds").toString
    Downsample.writeLayer(l1h, s"$out/downsample-1h")
    val back = Downsample.openLayer(spark, s"$out/downsample-1h")
    assert(back.count() == l1h.count())
    assert(back.exceptAll(l1h).isEmpty && l1h.exceptAll(back).isEmpty)
  }

  test("downsample: overTime recomposition at 6h equals the 6h layer built from raw") {
    val samples = graft.model.TimeSeriesModel.samples(Tables(spark, sf()).events)
    val sixH = 6L * 3600000L
    val recomposed = Downsample.overTime(
      Downsample.layer(samples, Downsample.Res1h), sixH, Downsample.Res1h)
    val direct = Downsample.layer(samples, sixH)
    assert(recomposed.count() == direct.count() && direct.count() > 0)
    assert(recomposed.exceptAll(direct).isEmpty && direct.exceptAll(recomposed).isEmpty,
      "coarse-window recomposition must be bit-identical to the direct layer")
  }

  test("downsample fuzz: adversarial values keep the cross-resolution identities") {
    import spark.implicits._
    // deterministic adversarial series: negatives, +-0.0, 1e-6..1e9 mixed
    // magnitudes, irregular non-window-aligned cadence, frequent resets
    val rnd = new scala.util.Random(42)
    val rows = for (s <- 0 until 20; i <- 0 until 200) yield {
      val v = rnd.nextInt(6) match {
        case 0 => -rnd.nextDouble() * 1e6
        case 1 => 0.0
        case 2 => -0.0
        case 3 => rnd.nextDouble() * 1e-6
        case 4 => rnd.nextDouble() * 1e9
        case _ => rnd.nextDouble() * 100 - 50
      }
      (s"m${s % 3}", s.toString, i * 97000L + s * 13L, v, i.toLong)
    }
    val df = rows.toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))

    val l5 = Downsample.layer(df, Downsample.Res5m)
    val l1 = Downsample.layer(df, Downsample.Res1h)
    // identity 1: fine->coarse recomposition == direct coarse layer
    val rec = Downsample.overTime(l5, Downsample.Res1h, Downsample.Res5m)
    assert(rec.count() == l1.count() && l1.count() > 0)
    assert(rec.exceptAll(l1).isEmpty && l1.exceptAll(rec).isEmpty)
    // identity 2: counter increase invariant across resolutions and vs raw
    def inc(l: org.apache.spark.sql.DataFrame) =
      Downsample.counterIncrease(l).orderBy("__name__", "uid").collect().toSeq
    val iraw = inc(Downsample.layer(df, Long.MaxValue))
    assert(inc(l5) == inc(l1) && inc(l1) == iraw)
  }

  test("downsample: pick chooses the coarsest layer with >=5 windows per step") {
    assert(Downsample.pick(60000L) == 0L)                        // fine step → raw
    assert(Downsample.pick(5 * Downsample.Res5m) == Downsample.Res5m)
    assert(Downsample.pick(Downsample.Res1h) == Downsample.Res5m)
    assert(Downsample.pick(5 * Downsample.Res1h) == Downsample.Res1h)
    assert(Downsample.pick(24 * Downsample.Res1h) == Downsample.Res1h)
  }

  test("histOverTime: fine->coarse histogram layer recomposition equals direct build") {
    import spark.implicits._
    val t0 = 1704067200000L
    val rnd = new scala.util.Random(31)
    // cumulative histogram walk with resets and a schema flip (coarsening)
    val rows = scala.collection.mutable.Buffer.empty[(String, String, Long, Long, Int, Double)]
    var c = 0.0
    for (i <- 0 until 200) {
      if (rnd.nextInt(23) == 0) c = 0.0 else c += rnd.nextInt(4)
      rows += (("hh", "1", t0 + i * 700000L + 13L, i.toLong,
        if (i < 100) 1 else 0, c))
    }
    val samples = rows.toSeq
      .toDF("__name__", "uid", "ts_ms", "sample_id", "sch", "c")
      .withColumn("value", lit(1.0))
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
      .withColumn("h", struct(col("c").as("cnt"), (col("c") * 1.1).as("hsum"),
        col("sch").as("sch"), lit(0.001953125).as("zthr"), lit(0.0).as("zcnt"),
        when(col("c") > 0, array(struct(lit(2).as("idx"), col("c").as("c"))))
          .otherwise(array().cast("array<struct<idx:int,c:double>>")).as("pos"),
        array().cast("array<struct<idx:int,c:double>>").as("neg"), lit(null).cast("array<double>").as("cb")))
      .drop("sch", "c")
    val fine = Downsample.histLayer(samples, Downsample.Res5m)
    val derived = Downsample.histOverTime(fine, Downsample.Res1h, Downsample.Res5m)
    val direct = Downsample.histLayer(samples, Downsample.Res1h)
    assert(derived.count() == direct.count() && direct.count() > 0)
    assert(derived.exceptAll(direct).isEmpty && direct.exceptAll(derived).isEmpty,
      "derived coarse histogram layer must be bit-identical to the direct build")
  }

  test("releasePinned frees the localCheckpoint blocks mergeChunkedRetained pins") {
    import spark.implicits._
    val t0 = 1704067200000L
    val samples = (0 until 50).map { i =>
      ("rp", "0", t0 + i * 60000L, i.toDouble, i.toLong)
    }.toSeq.toDF("__name__", "uid", "ts_ms", "value", "sample_id")
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
    val out = Files.createTempDirectory("graft-release").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (dates, merged) = Ingest.mergeChunkedRetained(spark, samples, out)
    assert(dates.nonEmpty && merged.nonEmpty)
    val pinnedIds = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(pinnedIds.nonEmpty, "localCheckpoint should pin storage blocks")
    // Dataset.unpersist would be a no-op here; releasePinned must actually
    // drop the checkpointed RDD's blocks (long streaming runs leak otherwise)
    merged.foreach(Ingest.releasePinned)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(pinnedIds.intersect(after).isEmpty,
      s"checkpoint blocks survived release: ${pinnedIds.intersect(after)}")
  }
}
