package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.TimeSeriesModel
import graft.promql._
import graft.sources.SeriesStore

/** Thanos Store API surface — the reference's second query entry point
  * (SURVEY §3.2; ref `api/grpc/thanos.go:376-533`): `Info`, `Series`,
  * `LabelNames`, `LabelValues`.
  *
  * Transport-agnostic by necessity (this environment ships no gRPC stack):
  * the RPC method BODIES live here behind typed request/response values
  * mirroring `storepb`, so a thin protobuf/gRPC binding — or any other
  * transport — serializes them without touching query logic. Semantics
  * mirrored from the reference:
  *
  *  - `Series` streams sorted label sets with 8h chunk frames (the layout's
  *    three chunk columns per day, ref `schema/block.go:37-76`);
  *  - `SkipChunks=true` (hints.Func == "series") short-circuits chunk
  *    materialization entirely (ref `search/materialize.go:86-89`) — the
  *    plan never projects the value column;
  *  - `WithoutReplicaLabels` mangles the label set and dedups series
  *    first-wins (ref `db/shard.go:253-268` via
  *    [[TimeSeriesModel.replicaDedup]]);
  *  - `Limit > 0` truncates the stream and appends the truncation warning
  *    (ref `api/grpc/thanos.go:414-419`).
  */
object StoreApi {
  /** querypb.QueryRequest analog (ref `api/grpc/thanos.go:235-296`):
    * PromQL-over-gRPC instant query. `lookbackDeltaSeconds = 0` keeps the
    * engine default (the reference builds PrometheusQueryOpts with the
    * request's delta, `thanos.go:249`); `replicaLabels` dedups series before
    * evaluation (`thanos.go:251` via `qs.queryable(req.ReplicaLabels...)`). */
  final case class QueryRequest(query: String, timeSeconds: Long,
                                timeoutSeconds: Long = 60L,
                                lookbackDeltaSeconds: Long = 0L,
                                replicaLabels: Seq[String] = Nil)
  /** querypb.QueryRangeRequest analog (ref `api/grpc/thanos.go:298-374`). */
  final case class QueryRangeRequest(query: String,
                                     startTimeSeconds: Long, endTimeSeconds: Long,
                                     intervalSeconds: Long,
                                     timeoutSeconds: Long = 60L,
                                     lookbackDeltaSeconds: Long = 0L,
                                     replicaLabels: Seq[String] = Nil)
  /** querypb.QueryStats analog (ref `api/grpc/thanos.go:561-566`). */
  final case class QueryStats(samplesTotal: Long, peakSamples: Long)
  /** One streamed response: the series frames, then warnings, then stats —
    * flattened here since there is no stream to interleave on. */
  final case class QueryResponse(series: Seq[PromEngine.Series],
                                 warnings: Seq[String], stats: QueryStats)

  final case class SeriesRequest(matchers: Seq[LabelMatcher],
                                 minTimeMs: Long, maxTimeMs: Long,
                                 skipChunks: Boolean = false,
                                 limit: Long = 0L,
                                 withoutReplicaLabels: Seq[String] = Nil,
                                 encodeChunks: Boolean = false)
  final case class LabelsRequest(matchers: Seq[LabelMatcher],
                                 startMs: Long, endMs: Long,
                                 label: String = "", limit: Int = 0)

  /** storepb.AggrChunk analog: a bounded frame of raw points, or — with
    * `encodeChunks` — the Gorilla/XOR chunk bytes the reference actually
    * streams (`storepb.Chunk.data`; encoding [[graft.functions.GorillaChunk]]).
    * Exactly one of `points`/`data` is populated. */
  final case class AggrChunk(minTimeMs: Long, maxTimeMs: Long,
                             points: Seq[(Long, Double)],
                             data: Array[Byte] = Array.emptyByteArray)
  final case class StoreSeries(labels: Map[String, String], chunks: Seq[AggrChunk])
  final case class SeriesResponse(series: Seq[StoreSeries], warnings: Seq[String])
  final case class LabelsResponse(values: Seq[String], warnings: Seq[String])
  final case class InfoResponse(minTimeMs: Long, maxTimeMs: Long,
                                labelNames: Seq[String])

  val TruncatedWarning = "results truncated due to limit"
  /** 8h chunk windows — three chunk columns per day (ref schema/block.go). */
  val ChunkWindowMs: Long = 8L * 3600 * 1000
}

final class StoreApi(samples: DataFrame,
                     quotas: graft.limits.Quotas = graft.limits.Quotas(),
                     gate: graft.limits.QueryGate = new graft.limits.QueryGate()) {
  import StoreApi._

  private val bookkeeping = Set("ts_ms", "value", "sample_id", "series_hash", "date")
  private def labelColsOf(df: DataFrame): Seq[String] =
    df.columns.filterNot(bookkeeping).toSeq

  private def base(withoutReplicaLabels: Seq[String]): DataFrame = {
    val present = withoutReplicaLabels.filter(samples.columns.contains)
    if (present.isEmpty) samples
    else TimeSeriesModel.replicaDedup(samples, present)
  }

  /** storepb.Store/Info: advertised time range + label surface. */
  def info(): InfoResponse = {
    val lbls = labelColsOf(samples)
    val r = samples.agg(min(col("ts_ms")).as("mn"), max(col("ts_ms")).as("mx"))
      .collect()(0)
    InfoResponse(r.getAs[Long]("mn"), r.getAs[Long]("mx"), lbls.sorted)
  }

  private def engineFor(replicaLabels: Seq[String], lookbackDeltaSeconds: Long) = {
    val lookback =
      if (lookbackDeltaSeconds > 0) lookbackDeltaSeconds * 1000L
      else graft.promql.Eval.DefaultLookbackMs
    new PromEngine(new graft.sources.FrameStore(base(replicaLabels)), lookback, quotas)
  }

  /** querypb.Query/Query: PromQL instant query over gRPC (ref
    * `api/grpc/thanos.go:235-296`). Runs under the concurrent-query gate
    * (`concurrentQuerySemaphore.Reserve`, `thanos.go:242-246`) with the
    * request timeout as the queue wait bound; quota violations surface as
    * [[graft.limits.QuotaExceededException]] — the transport maps them to
    * `codes.ResourceExhausted` like `limits.IsResourceExhausted`
    * (`thanos.go:262-265`). */
  def query(req: QueryRequest): QueryResponse = gate.run(req.timeoutSeconds * 1000L) {
    val (series, st, warns) = engineFor(req.replicaLabels, req.lookbackDeltaSeconds)
      .instantQueryWithStats(req.query, req.timeSeconds * 1000L)
    QueryResponse(series, warns, QueryStats(st.samplesTotal, st.peakSamples))
  }

  /** querypb.Query/QueryRange: PromQL range query over gRPC (ref
    * `api/grpc/thanos.go:298-374`). */
  def queryRange(req: QueryRangeRequest): QueryResponse = gate.run(req.timeoutSeconds * 1000L) {
    val (series, st, warns) = engineFor(req.replicaLabels, req.lookbackDeltaSeconds)
      .rangeQueryWithStats(req.query, req.startTimeSeconds * 1000L,
        req.endTimeSeconds * 1000L, req.intervalSeconds * 1000L)
    QueryResponse(series, warns, QueryStats(st.samplesTotal, st.peakSamples))
  }

  /** storepb.Store/Series. The DataFrame this builds for `skipChunks` never
    * references `value` — Catalyst prunes it from the scan, the analog of the
    * reference skipping chunk materialization. */
  def seriesCall(req: SeriesRequest): SeriesResponse = {
    val s = base(req.withoutReplicaLabels)
    val lbls = labelColsOf(s)
    val sel = Eval.select(s, req.matchers, req.minTimeMs, req.maxTimeMs)

    val df =
      if (req.skipChunks)
        sel.select(lbls.map(col): _*).distinct().orderBy(lbls.map(col): _*)
      else {
        // chunk frames: group points into fixed 8h windows per series, then
        // one row per series carrying its ts-ordered chunk list
        val win = (col("ts_ms") - pmod(col("ts_ms"), lit(ChunkWindowMs)))
        val framed = sel
          .groupBy((lbls.map(col) :+ win.as("__graft_win")): _*)
          .agg(min(col("ts_ms")).as("__graft_mint"),
            max(col("ts_ms")).as("__graft_maxt"),
            sort_array(collect_list(struct(col("ts_ms"), col("value"))))
              .as("__graft_pts"))
        // encodeChunks: executor-side Gorilla encode per frame — the driver
        // only ever sees the compressed bytes, like the reference's stream
        val payload =
          if (req.encodeChunks)
            graft.functions.ChunkEncode(col("__graft_pts")).as("__graft_data")
          else col("__graft_pts").as("__graft_data")
        framed
          .groupBy(lbls.map(col): _*)
          .agg(sort_array(collect_list(struct(col("__graft_win"),
            col("__graft_mint"), col("__graft_maxt"), payload)))
            .as("__graft_chunks"))
          .orderBy(lbls.map(col): _*)
      }

    val limited = if (req.limit > 0) df.limit(req.limit.toInt + 1) else df
    val rows = quotas.collect(limited).toSeq
    val truncated = req.limit > 0 && rows.size > req.limit
    val kept = if (truncated) rows.take(req.limit.toInt) else rows

    val out = kept.map { r =>
      val labelMap = lbls.flatMap(l =>
        Option(r.getAs[Any](l)).map(v => l -> v.toString)).toMap
      val chunks =
        if (req.skipChunks) Seq.empty[AggrChunk]
        else r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("__graft_chunks")
          .toSeq.map { c =>
            val (mint, maxt) =
              (c.getAs[Long]("__graft_mint"), c.getAs[Long]("__graft_maxt"))
            if (req.encodeChunks)
              AggrChunk(mint, maxt, Nil, c.getAs[Array[Byte]]("__graft_data"))
            else
              AggrChunk(mint, maxt,
                c.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("__graft_data")
                  .toSeq.map(p => (p.getLong(0), p.getDouble(1))))
          }
      StoreSeries(labelMap, chunks)
    }
    SeriesResponse(out, if (truncated) Seq(TruncatedWarning) else Nil)
  }

  /** storepb.Store/LabelNames (ref api/grpc/thanos.go:476-495). */
  def labelNames(req: LabelsRequest): LabelsResponse = labelsResponse(SeriesStore.truncated(
    engineFor(Nil, 0L).labelNames(req.matchers, req.startMs, req.endMs), req.limit))

  /** storepb.Store/LabelValues (ref api/grpc/thanos.go:497-533). */
  def labelValues(req: LabelsRequest): LabelsResponse = labelsResponse(
    engineFor(Nil, 0L).labelValues(req.label, req.matchers, req.startMs, req.endMs, req.limit))

  private def labelsResponse(answer: (Seq[String], Boolean)): LabelsResponse = {
    val (values, truncated) = answer
    LabelsResponse(values, if (truncated) Seq(TruncatedWarning) else Nil)
  }
}
