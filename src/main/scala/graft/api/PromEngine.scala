package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import graft.promql._
import graft.sources.{FrameStore, SeriesStore}

object PromEngine {
  /** A native-histogram sample at the serving boundary — the engine-side
    * analog of Prometheus' API histogram object (model/histogram
    * .FloatHistogram flattened the same way as the storage struct,
    * [[graft.promql.NativeHistograms]]). */
  final case class HistPoint(cnt: Double, hsum: Double, sch: Int, zthr: Double,
                             zcnt: Double, pos: Seq[(Int, Double)],
                             neg: Seq[(Int, Double)],
                             cb: Seq[Double] = Nil) // NHCB custom bounds

  /** `points` carries float samples, `hists` native-histogram samples — a
    * series normally has one or the other, but a type switch mid-series
    * (allowed in Prometheus) yields both, each under its own timestamps. */
  final case class Series(labels: Map[String, String], points: Seq[(Long, Double)],
                          hists: Seq[(Long, HistPoint)] = Nil)

  /** Per-query statistics, the engine-side source of the gRPC
    * `querypb.QueryStats` analog (ref `api/grpc/thanos.go:561-566`):
    * `samplesTotal` = rows produced by the parquet scans feeding the query
    * (read post-execution from the leaf nodes' `numOutputRows` SQL metric —
    * the quantity the reference's stats count as processed samples);
    * `peakSamples` = rows materialized at the driver boundary (our vectorized
    * evaluation holds the whole result grid at once, so the result IS the
    * peak). */
  final case class EngineStats(samplesTotal: Long, peakSamples: Long)
}

/** Query-engine facade: PromQL string → evaluated result rows (the driver-side
  * collect boundary — same place the reference serializes its SeriesSets,
  * `api/http/query.go:536-564`). */
final class PromEngine(store: SeriesStore,
                       lookbackMs: Long = Eval.DefaultLookbackMs,
                       quotas: graft.limits.Quotas = graft.limits.Quotas(),
                       /** Downsample layers by resolution ms — when present,
                         * aligned long-range `rate`/`increase`/`*_over_time`
                         * are served from the coarsest admissible layer
                         * (Thanos auto-downsampling; [[graft.promql
                         * .LayerRoute]]), bit-exactly, falling back to raw
                         * otherwise. */
                       layers: Map[Long, DataFrame] = Map.empty,
                       /** Native-histogram downsample layers ([[graft.etl
                         * .Downsample.histLayer]]): aligned histogram
                         * rate/increase/delta serve from these. */
                       histLayers: Map[Long, DataFrame] = Map.empty) {
  import PromEngine._

  // Frame-backed call shapes of the gateway benchmark (perfbench/), which
  // compiles against these sources; code here uses the primary constructor.
  def this(samples: DataFrame, lookbackMs: Long) =
    this(new FrameStore(samples), lookbackMs)

  def this(samples: DataFrame, lookbackMs: Long, quotas: graft.limits.Quotas,
           layers: Map[Long, DataFrame], histLayers: Map[Long, DataFrame],
           sourceByRange: Option[(Long, Long) => DataFrame]) =
    this(new FrameStore(samples, sourceByRange), lookbackMs, quotas, layers, histLayers)

  private def collectRows(df: DataFrame): Seq[Row] =
    quotas.collect(df).toSeq // pre-flight + mid-scan byte charge

  private def seriesOf(rows: Seq[Row], df: DataFrame): Seq[Series] = {
    val hasH = df.columns.contains("__graft_h")
    val lbls = Compiler.labelCols(df).filterNot(_ == "__graft_h")
    def histOf(r: Row): Option[HistPoint] =
      if (!hasH || r.isNullAt(r.fieldIndex("__graft_h"))) None
      else {
        val h = r.getAs[Row]("__graft_h")
        def side(f: String): Seq[(Int, Double)] =
          h.getAs[scala.collection.Seq[Row]](f).toSeq
            .map(b => (b.getAs[Int]("idx"), b.getAs[Double]("c")))
        Some(HistPoint(h.getAs[Double]("cnt"), h.getAs[Double]("hsum"),
          h.getAs[Int]("sch"), h.getAs[Double]("zthr"), h.getAs[Double]("zcnt"),
          side("pos"), side("neg"),
          Option(h.getAs[scala.collection.Seq[Double]]("cb"))
            .map(_.toSeq).getOrElse(Nil)))
      }
    rows
      .filter(r => !r.isNullAt(r.fieldIndex("value")))
      .groupBy(r => lbls.flatMap(l =>
        Option(r.getAs[Any](l)).map(v => l -> v.toString)).toMap)
      .map { case (labelMap, rs) =>
        val (histRows, floatRows) = rs.partition(histOf(_).isDefined)
        Series(labelMap,
          floatRows.map(r =>
            (r.getAs[Long]("step_ms"), toD(r.getAs[Any]("value")))).sortBy(_._1),
          histRows.flatMap(r => histOf(r).map(h =>
            (r.getAs[Long]("step_ms"), h))).sortBy(_._1))
      }
      .toSeq.sortBy(_.labels.toSeq.sorted.mkString(","))
  }

  /** Sum of `numOutputRows` over the executed plan's scan leaves — only
    * meaningful AFTER an action ran on this exact DataFrame. AQE wraps the
    * tree in childless `AdaptiveSparkPlanExec` / `QueryStageExec` shells, so
    * those unwrap to their inner physical plans first. */
  private def scannedRows(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec        => leaves(q.plan)
      case _ if p.children.isEmpty && p.subqueries.isEmpty => Seq(p)
      case _ => (p.children ++ p.subqueries).flatMap(leaves)
    }
    leaves(df.queryExecution.executedPlan)
      .filter(_.children.isEmpty) // scan leaves only, not unwrapped shells
      .flatMap(_.metrics.get("numOutputRows"))
      .map(_.value).sum
  }

  private def toD(v: Any): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case d: java.math.BigDecimal => d.doubleValue()
    case null => Double.NaN
  }

  def instantQuery(promql: String, tMs: Long): Seq[Series] =
    instantQueryWithStats(promql, tMs)._1

  def rangeQuery(promql: String, startMs: Long, endMs: Long, stepMs: Long): Seq[Series] =
    rangeQueryWithStats(promql, startMs, endMs, stepMs)._1

  /** Instant query + per-query stats + static analyzer warnings (the
    * annotation channel the reference streams before results,
    * `api/grpc/thanos.go:270-276`). `maxSourceResMs` caps which downsample
    * layers may serve — Thanos' `max_source_resolution` (0 ⇒ raw only). */
  def instantQueryWithStats(promql: String, tMs: Long,
                            maxSourceResMs: Long = Long.MaxValue)
      : (Seq[Series], EngineStats, Seq[String]) =
    evaluate(promql, tMs, tMs, 1000L, maxSourceResMs)

  def rangeQueryWithStats(promql: String, startMs: Long, endMs: Long, stepMs: Long,
                          maxSourceResMs: Long = Long.MaxValue)
      : (Seq[Series], EngineStats, Seq[String]) =
    evaluate(promql, startMs, endMs, stepMs, maxSourceResMs)

  /** Each query selects only its AST-derived reach ([[Compiler.timeBounds]])
    * and selector matcher sets ([[Compiler.selectorMatcherSets]] — OR of
    * per-selector ANDs is the sound prune) from the store: the per-query
    * Block mint/maxt pruning of `db/db.go:252-258`, and on a raw-block store
    * the `PostingsForMatchers` shape. */
  private def evaluate(promql: String, startMs: Long, endMs: Long, stepMs: Long,
                       maxSourceResMs: Long): (Seq[Series], EngineStats, Seq[String]) = {
    val ast = Parser.parse(promql)
    val (lo, hi) = Compiler.timeBounds(ast, startMs, endMs, lookbackMs)
    val ctx = Compiler.Ctx(store.select(lo, hi, Compiler.selectorMatcherSets(ast)),
      startMs, endMs, stepMs, lookbackMs,
      layers = layers.filter(_._1 <= maxSourceResMs),
      histLayers = histLayers.filter(_._1 <= maxSourceResMs))
    val (df, mixed) = Compiler.compileServingAnnotated(ast, ctx)
    // materialize the (tiny, usually empty) mixed-keys frame ONCE into the
    // block cache: the warning probe below warms it and the result plan's
    // anti-joins reuse it instead of re-evaluating both typed subtrees
    mixed.foreach(_.persist())
    try finish(df, Compiler.staticWarnings(ast) ++ mixedWarning(mixed))
    finally mixed.foreach(_.unpersist(false))
  }

  /** Eval-time MixedFloatsHistograms annotation (Prometheus drops an
    * aggregation group mixing sample types and warns; the keys frame is
    * tiny — empty in every pure store — so the existence probe is cheap). */
  private def mixedWarning(mixed: Option[DataFrame]): Seq[String] =
    if (mixed.exists(!_.isEmpty))
      Seq("encountered a mix of histograms and floats for aggregation; mixed groups are dropped from the result")
    else Nil

  private def finish(df: DataFrame, warnings: Seq[String])
      : (Seq[Series], EngineStats, Seq[String]) = {
    val rows = collectRows(df)
    val out = seriesOf(rows, df)
    (out, EngineStats(scannedRows(df), rows.size.toLong), warnings)
  }

  /** `/api/v1/series`: union of matcher sets (match[] = OR, ref
    * `api/http/query.go:627-633`), dedup across sets. */
  def series(matchSets: Seq[Seq[LabelMatcher]], mintMs: Long, maxtMs: Long,
             limit: Int = 0): (Seq[Map[String, String]], Boolean) =
    SeriesStore.truncated(store.series(matchSets, mintMs, maxtMs, limit), limit)

  def labelNames(matchers: Seq[LabelMatcher], mintMs: Long, maxtMs: Long): Seq[String] =
    store.labelNames(setOf(matchers), mintMs, maxtMs).sorted

  def labelValues(label: String, matchers: Seq[LabelMatcher], mintMs: Long,
                  maxtMs: Long, limit: Int = 0): (Seq[String], Boolean) =
    if (!store.labelColumns.contains(label)) (Seq.empty, false)
    else SeriesStore.truncated(
      store.labelValues(label, setOf(matchers), mintMs, maxtMs, limit), limit)

  private def setOf(matchers: Seq[LabelMatcher]): Seq[Seq[LabelMatcher]] =
    if (matchers.isEmpty) Nil else Seq(matchers)
}
