package graft

import graft.limits.{QueryGate, QuotaExceededException, Quotas}
import graft.sources.Tables

class QuotasSpec extends SparkSpec {

  test("row quota trips on oversized selects, passes small ones") {
    val ev = Tables(spark, sf()).events
    assertThrows[QuotaExceededException](Quotas(maxRows = Some(10)).guard(ev))
    assert(Quotas(maxRows = Some(10000)).guard(ev).count() == ev.count())
    assert(Quotas().guard(ev).count() == ev.count()) // unlimited default
  }

  test("byte quota trips on the planned scan size, passes generous ceilings") {
    val ev = Tables(spark, sf()).events
    assertThrows[QuotaExceededException](Quotas(maxBytes = Some(16L)).guard(ev))
    assert(Quotas(maxBytes = Some(1L << 40)).guard(ev).count() == ev.count())
    // column pruning shrinks the charged estimate: a one-column projection
    // must charge fewer bytes than the full-width scan
    val full = ev.queryExecution.optimizedPlan.stats.sizeInBytes
    val slim = ev.select(ev("event_id")).queryExecution.optimizedPlan.stats.sizeInBytes
    assert(slim < full)
  }

  test("mid-scan byte quota charges actual bytes read during the run") {
    val ev = Tables(spark, sf()).events
    // pre-flight passes (generous planned-size ceiling), but the bytes the
    // tasks actually read trip the mid-scan charge — the reference's
    // charge-during-materialization semantics (internal/limits/limit.go:66-94)
    val q = Quotas(maxBytes = Some(1L << 40), maxBytesMidScan = Some(16L))
    q.guard(ev) // pre-flight alone is happy
    val ex = intercept[QuotaExceededException](q.collect(ev))
    assert(ex.getMessage.contains("mid-scan quota"))
    // generous mid-scan ceiling materializes normally
    val ok = Quotas(maxBytesMidScan = Some(1L << 40)).collect(ev)
    assert(ok.length == ev.count())
    // and the charge resets per call: a second guarded collect also passes
    assert(Quotas(maxBytesMidScan = Some(1L << 40)).collect(ev).length == ok.length)
  }

  test("mid-scan settle is a job-end latch, not a poll: <100ms overhead") {
    val ev = Tables(spark, sf()).events.select("event_id").limit(64)
    val q = Quotas(maxBytesMidScan = Some(1L << 40))
    q.collect(ev) // warm codegen/scan so the measured pass times the latch
    val t0 = System.nanoTime()
    val bare = ev.collect()
    val t1 = System.nanoTime()
    val quotad = q.collect(ev)
    val t2 = System.nanoTime()
    assert(quotad.length == bare.length)
    val overheadMs = (t2 - t1 - (t1 - t0)) / 1e6
    assert(overheadMs < 100.0,
      s"under-quota collect added ${overheadMs}ms over a bare collect")
  }

  test("quotas charge PromQL served off a reference bucket (resourceExhausted path)") {
    import org.apache.spark.sql.functions._
    import graft.etl.ReferenceFormat
    val t0 = 1704067200000L; val day = 86400000L
    val events = graft.sources.Tables.normalizeTs(
      spark.read.parquet(s"${sf()}/events.parquet"))
    val samples = graft.model.TimeSeriesModel.samples(events)
      .filter(col("ts_ms") < t0 + 3 * day)
    val out = java.nio.file.Files.createTempDirectory("graft-refquota").toString
    ReferenceFormat.convertReference(spark, samples, out, numShards = 2)
    val meta = ReferenceFormat.bucketMeta(spark, out)
    val store = new graft.sources.FrameStore(
      ReferenceFormat.selectReferenceStore(spark, out, meta = Some(meta)),
      Some((lo, hi) =>
        ReferenceFormat.selectReferenceStore(spark, out, Nil, lo, hi, Some(meta))))
    def engine(q: Quotas) = new graft.api.PromEngine(store, lookbackMs = day, quotas = q)
    val (q, ti) = ("""sum by (__name__) ({uid!=""})""", t0 + 2 * day)

    // the range-bound store select still routes through Quotas.collect:
    // a mid-scan byte ceiling trips on the bucket's chunk bytes...
    val exB = intercept[QuotaExceededException](
      engine(Quotas(maxBytes = Some(1L << 40), maxBytesMidScan = Some(16L)))
        .instantQuery(q, ti))
    assert(exB.getMessage.contains("mid-scan quota"))
    // ...and the pre-flight row probe trips before materialization
    assertThrows[QuotaExceededException](
      engine(Quotas(maxRows = Some(1L))).instantQuery(q, ti))

    // generous quotas answer exactly like the unlimited engine
    val lim = engine(Quotas(maxBytesMidScan = Some(1L << 40))).instantQuery(q, ti)
    val free = engine(Quotas()).instantQuery(q, ti)
    assert(lim == free && lim.nonEmpty)

    // the gRPC body surface maps the same way: StoreApi over the bucket
    // frame raises QuotaExceededException (the transport's ResourceExhausted)
    val api = new graft.api.StoreApi(
      ReferenceFormat.selectReferenceStore(spark, out, meta = Some(meta)),
      quotas = Quotas(maxBytes = Some(1L << 40), maxBytesMidScan = Some(16L)))
    assertThrows[QuotaExceededException](
      api.query(graft.api.StoreApi.QueryRequest(q, timeSeconds = ti / 1000)))
  }

  test("query gate bounds concurrency and times out when saturated") {
    val gate = new QueryGate(maxConcurrent = 1)
    val r = gate.run()(42)
    assert(r == 42 && gate.available == 1)
    gate.run() {
      assertThrows[QuotaExceededException](gate.run(timeoutMs = 50)(0))
    }
    assert(gate.available == 1) // released after body
  }
}
