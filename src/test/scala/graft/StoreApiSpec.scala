package graft

import org.apache.spark.sql.functions._
import graft.api.StoreApi
import graft.model.TimeSeriesModel
import graft.promql.MatchEq
import graft.sources.Tables

/** Store API semantics over the events fixture (ref api/grpc/thanos.go:376-533
  * driven the way a Thanos querier would: Series with/without chunks, label
  * RPCs, replica mangling, limits). */
class StoreApiSpec extends SparkSpec {

  private val DAY = 86400000L
  private val T0 = 1704067200000L

  private lazy val samples = TimeSeriesModel.samples(Tables(spark, sf()).events)
  private lazy val store = new StoreApi(samples)

  test("Series with SkipChunks returns sorted label sets and never reads value") {
    val req = StoreApi.SeriesRequest(Seq(MatchEq("__name__", "purchase")),
      T0, T0 + 31 * DAY, skipChunks = true)
    val resp = store.seriesCall(req)
    val expected = samples.filter(col("__name__") === "purchase")
      .select(col("__name__"), col("uid")).distinct().count()
    assert(resp.series.size == expected && resp.warnings.isEmpty)
    assert(resp.series.forall(s => s.labels("__name__") == "purchase" && s.chunks.isEmpty))
    // sorted=true semantics (reference sorts by label set)
    val uids = resp.series.map(_.labels("uid"))
    assert(uids == uids.sorted)
    // SkipChunks = hints.Func=="series" short-circuit (materialize.go:86-89):
    // the scan must not read the value column at all
    val s = graft.promql.Eval.select(samples, req.matchers, req.minTimeMs, req.maxTimeMs)
      .select(col("__name__"), col("uid")).distinct()
    val plan = s.queryExecution.executedPlan.toString
    assert(!plan.contains("ReadSchema: struct<") || !plan.split("ReadSchema: ")(1).takeWhile(_ != '\n').contains("value"),
      plan.take(2000))
  }

  test("Series streams 8h chunk frames whose points reconstruct the samples") {
    val req = StoreApi.SeriesRequest(Seq(MatchEq("__name__", "purchase")),
      T0, T0 + 31 * DAY)
    val resp = store.seriesCall(req)
    assert(resp.series.nonEmpty)
    resp.series.foreach { s =>
      s.chunks.foreach { c =>
        assert(c.maxTimeMs - c.minTimeMs < StoreApi.ChunkWindowMs)
        assert(c.points.nonEmpty && c.points.map(_._1) == c.points.map(_._1).sorted)
        // frame bounds are tight over the contained points
        assert(c.points.head._1 == c.minTimeMs && c.points.last._1 == c.maxTimeMs)
      }
      // chunks are time-ordered and non-overlapping
      val bounds = s.chunks.map(c => (c.minTimeMs, c.maxTimeMs))
      assert(bounds == bounds.sortBy(_._1))
    }
    val totalPts = resp.series.map(_.chunks.map(_.points.size).sum).sum
    val expected = samples.filter(col("__name__") === "purchase" &&
      col("ts_ms").between(T0, T0 + 31 * DAY)).count()
    assert(totalPts == expected)
  }

  test("Series with encodeChunks streams Gorilla bytes that decode to the raw frames") {
    val req = StoreApi.SeriesRequest(Seq(MatchEq("__name__", "purchase")),
      T0, T0 + 31 * DAY)
    val raw = store.seriesCall(req)
    val enc = store.seriesCall(req.copy(encodeChunks = true))
    assert(enc.series.map(_.labels) == raw.series.map(_.labels))
    enc.series.zip(raw.series).foreach { case (e, r) =>
      e.chunks.zip(r.chunks).foreach { case (ec, rc) =>
        assert(ec.points.isEmpty && ec.data.nonEmpty)
        // wire bytes beat the 16 B/sample raw framing
        assert(ec.data.length < 16 * rc.points.size + 24,
          s"${ec.data.length} bytes for ${rc.points.size} points")
        val dec = graft.functions.GorillaChunk.decode(ec.data)
        val pts = (0 until dec.numElements()).map { i =>
          val p = dec.getStruct(i, 2); (p.getLong(0), p.getDouble(1))
        }
        assert(pts == rc.points)
      }
    }
  }

  test("Series limit truncates with the truncation warning") {
    val resp = store.seriesCall(StoreApi.SeriesRequest(Nil, T0, T0 + 31 * DAY,
      skipChunks = true, limit = 2))
    assert(resp.series.size == 2)
    assert(resp.warnings == Seq(StoreApi.TruncatedWarning))
  }

  test("WithoutReplicaLabels mangles and dedups like db/shard.go") {
    val r1 = samples.withColumn("replica", lit("r1"))
    val r2 = samples.withColumn("replica", lit("r2"))
    val dup = new StoreApi(r1.unionByName(r2))
    val both = dup.seriesCall(StoreApi.SeriesRequest(Nil, T0, T0 + 31 * DAY,
      skipChunks = true))
    val dedup = dup.seriesCall(StoreApi.SeriesRequest(Nil, T0, T0 + 31 * DAY,
      skipChunks = true, withoutReplicaLabels = Seq("replica")))
    val plain = store.seriesCall(StoreApi.SeriesRequest(Nil, T0, T0 + 31 * DAY,
      skipChunks = true))
    assert(both.series.size == 2 * plain.series.size)
    assert(dedup.series.size == plain.series.size)
    assert(dedup.series.forall(s => !s.labels.contains("replica")))
  }

  test("gRPC Query evaluates instant PromQL and reports per-query stats") {
    val resp = store.query(StoreApi.QueryRequest("sum(purchase)",
      timeSeconds = (T0 + DAY) / 1000, lookbackDeltaSeconds = DAY / 1000))
    assert(resp.series.size == 1 && resp.warnings.isEmpty)
    // same engine, same answer as the direct PromQL path
    val direct = new graft.api.PromEngine(new graft.sources.FrameStore(samples), lookbackMs = DAY)
      .instantQuery("sum(purchase)", T0 + DAY)
    assert(resp.series == direct)
    // stats: the scan produced rows, and the driver-side peak is the result
    assert(resp.stats.samplesTotal > 0)
    assert(resp.stats.peakSamples >= resp.series.size)
  }

  test("gRPC QueryRange honors ReplicaLabels (dedup before evaluation)") {
    val r1 = samples.withColumn("replica", lit("r1"))
    val r2 = samples.withColumn("replica", lit("r2"))
    val dup = new StoreApi(r1.unionByName(r2))
    val (start, end, step) = ((T0 + DAY) / 1000, (T0 + 2 * DAY) / 1000, DAY / 1000)
    def totals(r: StoreApi.QueryResponse): Seq[(Long, Double)] =
      r.series.flatMap(_.points).sortBy(_._1)
    val deduped = dup.queryRange(StoreApi.QueryRangeRequest("sum(purchase)",
      start, end, step, lookbackDeltaSeconds = DAY / 1000,
      replicaLabels = Seq("replica")))
    val doubled = dup.queryRange(StoreApi.QueryRangeRequest("sum(purchase)",
      start, end, step, lookbackDeltaSeconds = DAY / 1000))
    val plain = store.queryRange(StoreApi.QueryRangeRequest("sum(purchase)",
      start, end, step, lookbackDeltaSeconds = DAY / 1000))
    assert(totals(deduped) == totals(plain))
    assert(totals(doubled).map(_._2) == totals(plain).map(p => p._2 * 2))
  }

  test("gRPC Query streams analyzer warnings (quantile out of range)") {
    val resp = store.query(StoreApi.QueryRequest("quantile(1.5, purchase)",
      timeSeconds = (T0 + DAY) / 1000, lookbackDeltaSeconds = DAY / 1000))
    assert(resp.warnings.exists(_.contains(
      "quantile value should be between 0 and 1, got 1.5")))
  }

  test("gRPC Query streams PossibleNonCounterInfo for rate over a gauge name") {
    val resp = store.query(StoreApi.QueryRequest("rate(purchase[1d])",
      timeSeconds = (T0 + 2 * DAY) / 1000, lookbackDeltaSeconds = DAY / 1000))
    assert(resp.warnings.exists(_.contains("metric might not be a counter")))
    // a counter-suffixed name stays quiet
    val ok = store.query(StoreApi.QueryRequest("rate({__name__=\"purchase\"}[1d])",
      timeSeconds = (T0 + 2 * DAY) / 1000, lookbackDeltaSeconds = DAY / 1000))
    assert(!ok.warnings.exists(_.contains("might not be a counter")))
  }

  test("Info / LabelNames / LabelValues") {
    val i = store.info()
    assert(i.minTimeMs <= i.maxTimeMs && i.labelNames == Seq("__name__", "uid"))
    val ln = store.labelNames(StoreApi.LabelsRequest(Nil, T0, T0 + 31 * DAY))
    assert(ln.values == Seq("__name__", "uid"))
    val lv = store.labelValues(StoreApi.LabelsRequest(
      Seq(MatchEq("__name__", "purchase")), T0, T0 + 31 * DAY, label = "uid"))
    assert(lv.values.nonEmpty && lv.values == lv.values.sorted)
    val lvLim = store.labelValues(StoreApi.LabelsRequest(
      Nil, T0, T0 + 31 * DAY, label = "uid", limit = 1))
    assert(lvLim.values.size == 1 && lvLim.warnings == Seq(StoreApi.TruncatedWarning))
  }
}
