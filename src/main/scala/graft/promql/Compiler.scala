package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Det

/** PromQL → DataFrame compiler (SURVEY.md §7.1 step 3 — the substitute for
  * the embedded promql-engine, re-expressed as Catalyst plans).
  *
  * Every expression evaluates onto the query grid: a DataFrame with
  * `step_ms` + zero or more label columns + `value`. Scalars are grids with
  * no label columns. Catalyst then optimizes the composed plan as one tree —
  * filters reach the parquet scan, aggregations get partial/final hash agg,
  * vector matching becomes a hash join keyed on (labels, step).
  *
  * Range selection never materializes a `samples × steps` theta join: each
  * sample explodes to the ≤⌈window/step⌉ grid steps it can serve (bounded
  * fan-out, linear in samples — see [[Eval.rangeVectors]]).
  */
object Compiler {
  import Ast._

  final case class Ctx(samples: DataFrame, startMs: Long, endMs: Long,
                       stepMs: Long, lookbackMs: Long = Eval.DefaultLookbackMs,
                       anchorStartMs: Option[Long] = None,
                       anchorEndMs: Option[Long] = None,
                       /** Interval for `foo[30m:]` subqueries with omitted
                         * resolution. The reference pins this to a fixed 1m
                         * (cmd/serve.go:213 NoStepSubqueryIntervalFn), NOT the
                         * query step — an instant query (step 1s) must not
                         * evaluate the inner expression on a 1s grid. */
                       noStepSubqueryIntervalMs: Long = 60000L,
                       /** Downsample layers by resolution ms ([[graft.etl
                         * .Downsample]]); eligible aligned range functions
                         * are served from the coarsest admissible layer
                         * instead of raw samples ([[LayerRoute]]). */
                       layers: Map[Long, DataFrame] = Map.empty,
                       /** Native-histogram downsample layers by resolution
                         * ms ([[graft.etl.Downsample.histLayer]]); aligned
                         * `rate`/`increase`/`delta` over histogram series
                         * are served from these ([[LayerRoute
                         * .tryRouteHist]]), bit-exactly. */
                       histLayers: Map[Long, DataFrame] = Map.empty,
                       /** Opt-in for experimental PromQL functions —
                         * currently `info()` — mirroring Prometheus'
                         * `--enable-feature=promql-experimental-functions`
                         * flag: off by default, and the function errors
                         * loudly rather than silently differing. */
                       experimentalFunctions: Boolean = false,
                       /** The UNFILTERED samples frame, set when `samples`
                         * has been restricted to one sample type at the
                         * serving boundary (float/histogram split). Scalar
                         * subexpressions inside histogram arithmetic —
                         * `h * scalar(float_metric)` — must evaluate over
                         * the full frame: under the histogram-side filter
                         * the float metric has zero rows and the parameter
                         * silently becomes NaN (ADVICE r20 #1). */
                       fullSamples: Option[DataFrame] = None) {
    def nSteps: Long = (endMs - startMs) / stepMs
    /** Top-level query bounds: what `@ start()` / `@ end()` resolve to —
      * stable under the offset / subquery grid rewrites that shift
      * startMs/endMs (Prometheus: the preprocessor substitutes the outermost
      * query's timestamps, promql/parser/ast.go). */
    def qStartMs: Long = anchorStartMs.getOrElse(startMs)
    def qEndMs: Long = anchorEndMs.getOrElse(endMs)
    lazy val spark = samples.sparkSession
    /** grid of steps as a DataFrame (for scalar broadcasting). */
    def grid: DataFrame = spark.range(0, nSteps + 1)
      .select((lit(startMs) + col("id") * stepMs).as("step_ms"))
  }

  def labelCols(df: DataFrame): Seq[String] =
    df.columns.filterNot(c =>
      c == "step_ms" || c == "value" || c == OldName).toSeq

  /** Static analyzer warnings for a parsed query — the engine-side analog of
    * Prometheus' annotation channel (the reference streams these ahead of the
    * result, `api/grpc/thanos.go:270-276`). Today: out-of-range quantile φ
    * (Prometheus `InvalidQuantileWarning`) — evaluation still runs and yields
    * NaN; the warning rides alongside. */
  def staticWarnings(e: Expr): Seq[String] = {
    def fmt(d: Double): String =
      if (!d.isNaN && !d.isInfinite && d == d.toLong) d.toLong.toString else d.toString
    def phiWarn(phi: Double): Seq[String] =
      if (phi.isNaN || phi < 0 || phi > 1)
        Seq(s"quantile value should be between 0 and 1, got ${fmt(phi)}")
      else Nil
    val quantileFns = Set("quantile_over_time", "histogram_quantile")
    def walk(e: Expr): Seq[String] = e match {
      case Agg(op, _, p, child) =>
        (p match {
          case Some(NumberLit(phi)) if op == "quantile" => phiWarn(phi)
          case _ => Nil
        }) ++ p.toSeq.flatMap(walk) ++ walk(child)
      case Call(fn, args) =>
        (args.headOption match {
          case Some(NumberLit(phi)) if quantileFns(fn) => phiWarn(phi)
          case _ => Nil
        }) ++ (args match {
          // Prometheus PossibleNonCounterInfo: rate/increase over a metric
          // whose name lacks a counter suffix (promql annotations)
          case Seq(Selector(Some(n), _, Some(_), _, _))
            if Set("rate", "increase")(fn) &&
              !Seq("_total", "_sum", "_count", "_bucket").exists(n.endsWith) =>
            Seq(s"metric might not be a counter, name does not end in _total/_sum/_count/_bucket: \"$n\"")
          case _ => Nil
        }) ++ args.flatMap(walk)
      case BinOp(_, l, r, _, _) => walk(l) ++ walk(r)
      case Subquery(inner, _, _, _, _) => walk(inner)
      case _ => Nil
    }
    walk(e).distinct
  }

  /** Conservative `[earliest, latest]` sample timestamp a query can touch on
    * the grid `[startMs, endMs]` — the widest selector reach across the AST:
    * per selector, the `@`-pinned (or grid) instant minus offset minus its
    * range (or the lookback for instant selectors); subqueries recurse with
    * their own shifted interval. Bounds each query's store select in
    * [[graft.api.PromEngine]]: day-partitioned or
    * reference-bucket stores then list only the days a query can read —
    * the Block mint/maxt pruning the reference applies per query
    * (`db/db.go:252-258`). Negative offsets widen forward naturally. */
  def timeBounds(e: Expr, startMs: Long, endMs: Long,
                 lookbackMs: Long = Eval.DefaultLookbackMs): (Long, Long) = {
    var lo = Long.MaxValue; var hi = Long.MinValue
    def pin(at: Option[AtSpec], t0: Long, t1: Long): (Long, Long) = at match {
      case Some(AtTime(ms)) => (ms, ms)
      case Some(AtStart)    => (startMs, startMs)
      case Some(AtEnd)      => (endMs, endMs)
      case None             => (t0, t1)
    }
    def walk(e: Expr, t0: Long, t1: Long): Unit = e match {
      case Selector(_, _, range, off, at) =>
        val (a, b) = pin(at, t0, t1)
        lo = math.min(lo, a - off - range.getOrElse(lookbackMs))
        hi = math.max(hi, b - off)
      case Subquery(inner, range, _, off, at) =>
        val (a, b) = pin(at, t0, t1)
        walk(inner, a - off - range, b - off)
      case Call(_, args)       => args.foreach(walk(_, t0, t1))
      case Agg(_, _, p, child) => p.foreach(walk(_, t0, t1)); walk(child, t0, t1)
      case BinOp(_, l, r, _, _) => walk(l, t0, t1); walk(r, t0, t1)
      case _ => ()
    }
    walk(e, startMs, endMs)
    if (lo > hi) (startMs - lookbackMs, endMs) else (lo, hi)
  }

  /** The full matcher set (metric name included) of every vector selector
    * in the expression — the source-pushdown contract: a series can reach
    * the query only by satisfying at least ONE of these sets, so a
    * range-aware source may prune to their OR ([[Matchers
    * .mapSetsPredicate]]). Extra sets only weaken the prune, never the
    * result, so `info()`'s SYNTHESIZED info-metric selector (not an AST
    * node) is added explicitly. Empty result (a selector-free scalar
    * expression) means nothing may be pruned. */
  def selectorMatcherSets(e: Expr): Seq[Seq[LabelMatcher]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[LabelMatcher]]
    def walk(e: Expr): Unit = e match {
      case Selector(name, ms, _, _, _) =>
        out += (name.map(n => MatchEq("__name__", n)).toSeq ++ ms)
      case Subquery(inner, _, _, _, _) => walk(inner)
      case Call("info", args) =>
        args.foreach(walk)
        val infoName = args.lift(1) match {
          case Some(Selector(nameOpt, ms, _, _, _)) =>
            nameOpt.orElse(ms.collectFirst {
              case MatchEq("__name__", v) => v }).getOrElse("target_info")
          case _ => "target_info"
        }
        out += Seq(MatchEq("__name__", infoName))
      case Call(_, args)        => args.foreach(walk)
      case Agg(_, _, p, child)  => p.foreach(walk); walk(child)
      case BinOp(_, l, r, _, _) => walk(l); walk(r)
      case _ => ()
    }
    walk(e)
    out.toSeq
  }

  /** `label_replace`/`label_join` destination validation — Prometheus
    * rejects a destination that is not a valid label name (model.LabelName);
    * the engine additionally rejects its frame-reserved column names
    * (`value`, `step_ms`) LOUDLY, since stamping those would corrupt the
    * result frame (documented deviation: Prometheus permits a label
    * literally named "value"). */
  private def requireDstLabel(fn: String, dst: String): Unit = {
    if (!dst.matches("[a-zA-Z_][a-zA-Z0-9_]*"))
      throw new ParseException(s"invalid destination label name in $fn(): $dst")
    if (frameReserved(dst))
      throw new ParseException(
        s"$fn(): destination '$dst' is an engine frame column (unsupported)")
  }

  /** Column names a result frame structurally owns — a PromQL label may
    * legally be called `value` or `step_ms`, but stamping one onto a frame
    * (absent()'s label copying) would clobber the frame's own columns. All
    * other engine intermediates carry a `__graft_` prefix (gridAgg below), so
    * data-borne labels named `k`/`n_samples`/… pass through untouched. */
  private val frameReserved: Set[String] = Set("step_ms", "value")
  /** sample-frame bookkeeping columns (the storage schema's own names). */
  private val sampleReserved: Set[String] =
    Set("ts_ms", "value", "sample_id", "series_hash")

  def instant(ctx0: Ctx, expr: Expr): DataFrame = compile(expr, ctx0)

  /** Serving-boundary compile: identical to [[compile]], except a whole-query
    * plain instant selector over histogram-typed samples keeps the selected
    * native-histogram sample rows alongside under `__graft_h` — the engine
    * serializes them as Prometheus' `histogram`/`histograms` result fields
    * (the reference serves them through its vendored engine the same way;
    * float-only series in the same selection keep h null and serialize as
    * plain values). Inner expressions are unaffected: recursion stays on
    * [[compile]], so float functions over histogram series behave as
    * before. */
  def compileServing(expr: Expr, ctx: Ctx): DataFrame =
    compileServingAnnotated(expr, ctx)._1

  /** [[compileServing]] plus the eval-time annotation hook: the second
    * element, when present, is a tiny keys frame of (labels, step) groups
    * that mixed float and histogram samples. Prometheus REMOVES such a
    * group's result and emits a MixedFloatsHistograms warning annotation
    * (promql aggregations over mixed sample types have no defined value);
    * the result frame here already has those groups dropped on BOTH sides,
    * and [[graft.api.PromEngine]] surfaces the warning when the keys frame
    * is non-empty. */
  def compileServingAnnotated(expr: Expr, ctx: Ctx): (DataFrame, Option[DataFrame]) = expr match {
    case sel @ Selector(_, _, None, _, _) if hasHist(ctx) =>
      (histSelector(sel, ctx, "query"), None)
    // rate/increase/delta over a range selector, and sum/avg over any
    // histogram-servable shape, produce histogram-valued results: series
    // SPLIT by sample type — float series keep the float path verbatim,
    // histogram series evaluate bucket-wise — and the two result sets union
    // at the serving boundary. A group that would yield BOTH a float and a
    // histogram row at the same step mixed sample types: dropped, with the
    // keys exposed for the warning annotation (Prometheus semantics).
    case e if hasHist(ctx) && histServable(e) =>
      // the float side tests histogram-absence on the `cnt` LEAF (always set
      // in the model), so nested-schema pruning reads one double instead of
      // the whole bucket struct; the hist side reads `h` regardless
      val fDf = compile(e,
        ctx.copy(samples = ctx.samples.filter(col("h").getField("cnt").isNull),
          fullSamples = Some(ctx.samples)))
      val hDf = histSelector(e,
          ctx.copy(samples = ctx.samples.filter(col("h").isNotNull),
            fullSamples = Some(ctx.samples)), "query")
        .filter(col("__graft_h").isNotNull)
        .withColumn("value", lit(1.0)) // serving placeholder; __graft_h is the result
      val keyCols = (fDf.columns.toSet intersect hDf.columns.toSet)
        .diff(Set("value", "__graft_h")).toSeq.sorted
      if (keyCols.isEmpty) (fDf.unionByName(hDf, allowMissingColumns = true), None)
      else {
        // per-series shapes (rate family) never mix — a series is one type
        // per frame — so `mixed` is empty and the anti-joins are no-ops;
        // only cross-series aggregation groups (sum/avg) can collide.
        // Key comparisons must be null-safe: a group keyed by an ABSENT
        // label (NULL) is still one group — a plain equi-anti-join would
        // detect it in `mixed` yet fail to drop its rows
        val mixed = fDf.select(keyCols.map(col): _*)
          .intersect(hDf.select(keyCols.map(col): _*))
        def dropMixed(side: DataFrame): DataFrame = {
          val (sa, ma) = (side.alias("ms"), mixed.alias("mm"))
          sa.join(ma, keyCols.map(c => col(s"ms.$c") <=> col(s"mm.$c"))
            .reduce(_ && _), "left_anti")
        }
        val clean = dropMixed(fDf)
          .unionByName(dropMixed(hDf), allowMissingColumns = true)
        (clean, Some(mixed))
      }
    case _ => (compile(expr, ctx), None)
  }

  /** Shapes [[compileServing]] can evaluate histogram-typed on the hist
    * side without histSelector erroring: rate/increase/delta over a plain
    * range selector or plain-selector subquery, and sum/avg over such a
    * shape or a plain instant selector. */
  private def histServable(e: Expr): Boolean = e match {
    case Call("rate" | "increase" | "delta", args) => args.exists {
      case Selector(_, _, Some(_), _, _) => true
      case sub: Subquery => sub.expr match {
        case Selector(_, _, None, _, _) => true; case _ => false }
      case _ => false }
    case Agg("sum" | "avg", _, None, inner) => inner match {
      case Selector(_, _, None, _, _) => true
      case _ => histServable(inner) }
    case b: BinOp => histBinop(b)
    case _ => false
  }

  /** Compiled-plan cache — the prepared-statement role (r21 VERDICT order
    * #4): compiling a PromQL expression is pure driver-side Catalyst
    * analysis over deep windowed plans (~1 s for the rate family; no
    * actions run inside compile), and a serving process re-evaluating the
    * same expression re-pays it on every invocation. ONLY the logical plan
    * (a DataFrame, i.e. metadata) is memoized — every action still scans
    * the inputs. The key captures the full semantic context: the parsed
    * expression (structural case-class equality) and every Ctx field, with
    * each DataFrame keyed by REFERENCE identity — a rebuilt source frame,
    * even a logically identical one, misses and compiles fresh, so a hit
    * can never alias two different sources (the oracle gate recompiles
    * fresh semantics whenever its inputs are rebuilt). Bounded: cleared
    * past 512 entries (fuzz suites compile thousands of one-shot exprs). */
  private final class DfRef(val df: DataFrame) {
    override def equals(o: Any): Boolean = o match {
      case r: DfRef => r.df eq df
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(df)
  }
  private def ctxKey(ctx: Ctx): Any = (
    ctx.startMs, ctx.endMs, ctx.stepMs, ctx.lookbackMs,
    ctx.anchorStartMs, ctx.anchorEndMs, ctx.noStepSubqueryIntervalMs,
    ctx.experimentalFunctions,
    new DfRef(ctx.samples), ctx.fullSamples.map(new DfRef(_)),
    ctx.layers.toSeq.sortBy(_._1).map { case (k, v) => (k, new DfRef(v)) },
    ctx.histLayers.toSeq.sortBy(_._1).map { case (k, v) => (k, new DfRef(v)) })
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[(Expr, Any), DataFrame]()

  def compileCached(expr: Expr, ctx: Ctx): DataFrame = {
    if (planCache.size > 512) planCache.clear()
    planCache.computeIfAbsent((expr, ctxKey(ctx)), _ => compile(expr, ctx))
  }

  def compile(expr: Expr, ctx: Ctx): DataFrame = expr match {
    case NumberLit(v) => ctx.grid.withColumn("value", lit(v))
    case StringLit(_) => throw new ParseException("bare string is not a query")

    case Selector(_, _, Some(_), _, _) =>
      throw new ParseException("range vector must be an argument of a range function")
    case _: Subquery =>
      throw new ParseException("subquery must be an argument of a range function")

    case Selector(name, matchers, None, offsetMs, at) =>
      val ms = name.map(n => MatchEq("__name__", n) +: matchers).getOrElse(matchers)
      at match {
        case Some(spec) => // fixed-instant evaluation, broadcast to every step
          val t = resolveAt(spec, ctx) - offsetMs
          val one = Eval.rangeVectors(ctx.samples, ms, t, t, ctx.stepMs,
              ctx.lookbackMs)
            .drop("series_hash", "step_ms")
          ctx.grid.crossJoin(one)
        case None =>
          val df = Eval.rangeVectors(ctx.samples, ms, ctx.startMs - offsetMs,
              ctx.endMs - offsetMs, ctx.stepMs, ctx.lookbackMs)
            .drop("series_hash")
          if (offsetMs == 0) df
          else df.withColumn("step_ms", col("step_ms") + offsetMs)
      }

    case Call(fn, args) => compileCall(fn, args, ctx)
    case a: Agg          => compileAgg(a, ctx)
    case b: BinOp        => compileBinOp(b, ctx)
  }

  // ---------------------------------------------------------------- range fns
  private val overTimeFns = Set("sum_over_time", "avg_over_time", "min_over_time",
    "max_over_time", "count_over_time", "stddev_over_time", "stdvar_over_time",
    "mad_over_time", "present_over_time", "absent_over_time", "last_over_time",
    "first_over_time", "quantile_over_time", "ts_of_max_over_time",
    "ts_of_min_over_time", "ts_of_last_over_time", "rate", "irate", "increase",
    "delta", "idelta", "changes", "resets", "deriv", "predict_linear",
    "holt_winters", "double_exponential_smoothing")

  /** Points of a range selector: the matching raw samples. Staleness markers
    * are not samples — range vectors skip them (Prometheus matrix selection). */
  private def selectorPoints(sel: Selector, windowMs: Long, ctx: Ctx): DataFrame = {
    val ms = sel.name.map(n => MatchEq("__name__", n) +: sel.matchers).getOrElse(sel.matchers)
    ctx.samples.filter(
      Eval.timeBound(ctx.samples, ctx.startMs - windowMs + 1, ctx.endMs) &&
        Matchers.compile(ctx.samples, ms) &&
        !graft.functions.IsStale(col("value")))
  }

  /** Points of a subquery `expr[range:res]`: the inner expression evaluated
    * on a finer grid covering (start−range, end], its grid points becoming
    * the "samples" the outer range function aggregates. */
  private def subqueryPoints(sub: Subquery, ctx: Ctx): DataFrame = {
    // Prometheus aligns subquery evaluation to ABSOLUTE multiples of the
    // resolution (promql/eval.go bumps an unaligned inner start up to the
    // next multiple) — without this, inner steps float with the query
    // instant and every unaligned instant samples different points (caught
    // by the subquery differential fuzz)
    // resolutionMs == 0 is the parser's sentinel for an omitted resolution
    // (`foo[30m:]`), which resolves to the engine's fixed default interval
    // (reference cmd/serve.go:213: NoStepSubqueryIntervalFn = 1m), not the
    // outer query step
    val resMs = if (sub.resolutionMs > 0) sub.resolutionMs else ctx.noStepSubqueryIntervalMs
    require(resMs > 0, s"subquery resolution must be positive, got $resMs")
    val rawStart = ctx.startMs - sub.rangeMs
    val rem = java.lang.Math.floorMod(rawStart, resMs)
    val alignedStart = if (rem == 0) rawStart else rawStart - rem + resMs
    val innerCtx = ctx.copy(startMs = alignedStart, endMs = ctx.endMs,
      stepMs = resMs,
      anchorStartMs = Some(ctx.qStartMs), anchorEndMs = Some(ctx.qEndMs))
    val inner = compile(sub.expr, innerCtx).filter(col("value").isNotNull)
    val lbls = labelCols(inner)
    inner.withColumnRenamed("step_ms", "ts_ms")
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash",
        if (lbls.nonEmpty) xxhash64(lbls.map(col): _*) else lit(0L))
  }

  /** Expand points (with per-series lag for counter resets) onto the grid:
    * a point at ts serves step s iff s−window < ts ≤ s. One explode + one
    * hash aggregation per (series, step). */
  private def gridAgg(points: DataFrame, windowMs: Long, ctx: Ctx,
                      withDistribution: Boolean = false,
                      withSeriesList: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("series_hash")).orderBy(col("ts_ms"), col("sample_id"))
    val withPrev = points
      .withColumn("__graft_prev_val", lag(col("value"), 1).over(w))
      .withColumn("__graft_prev_ts", lag(col("ts_ms"), 1).over(w))
    def floorDiv(a: Column, b: Long) = ((a - pmod(a, lit(b))) / b).cast("long")
    val kMin = greatest(floorDiv(col("ts_ms") - ctx.startMs + ctx.stepMs - 1, ctx.stepMs), lit(0L))
    val kMax = least(floorDiv(col("ts_ms") - ctx.startMs + windowMs - 1, ctx.stepMs), lit(ctx.nSteps))
    val lbls = points.columns
      .filterNot(c => sampleReserved(c) || c == "series_hash" || c == "date" ||
        // date = partition bookkeeping; a hist-typed `h` is a sample column,
        // not a label — grouping on it would force reading the whole struct
        Eval.isHistCol(points, c) || c.startsWith("__graft_"))
      .toSeq
    withPrev
      .withColumn("__graft_k", explode(when(kMax >= kMin, sequence(kMin, kMax, lit(1L)))
        .otherwise(array().cast("array<long>"))))
      .withColumn("step_ms", lit(ctx.startMs) + col("__graft_k") * ctx.stepMs)
      .withColumn("__graft_win_lo", col("step_ms") - windowMs) // prev in window ⇔ __graft_prev_ts > __graft_win_lo
      .groupBy((col("series_hash") +: col("step_ms") +: lbls.map(col)): _*)
      .agg(count(col("value")).as("__graft_n_samples"), (Seq(
        min(col("ts_ms")).as("__graft_first_ts"), max(col("ts_ms")).as("__graft_last_ts"),
        min_by(col("value"), col("ts_ms")).as("__graft_first_val"),
        max_by(col("value"), col("ts_ms")).as("__graft_last_val"),
        // ts of the extreme sample; ties resolve to the LATER sample like
        // Prometheus funcTsOfMax/MinOverTime (>= / <= update in the scan).
        // The leading rank term keeps NaN below every real value (Spark sorts
        // NaN greatest); all-NaN windows tie on rank and take the last ts,
        // which is exactly the reference's IsNaN-replacement walk
        // `+ 0.0` normalizes -0.0 to 0.0 before the struct compare: Spark's
        // total order ranks -0.0 < 0.0, but Go's <=/>= walk treats them equal
        // (0.0 == -0.0), so a window holding both must tie-break on ts alone
        max(struct(when(isnan(col("value")), 0).otherwise(1).as("r"),
            (nanvl(col("value"), lit(0.0)) + lit(0.0)).as("v"), col("ts_ms").as("t")))
          .getField("t").as("__graft_max_val_ts"),
        max(struct(when(isnan(col("value")), 0).otherwise(1).as("r"),
            (nanvl(negate(col("value")), lit(0.0)) + lit(0.0)).as("v"), col("ts_ms").as("t")))
          .getField("t").as("__graft_min_val_ts"),
        // Det.dsum/davg: decimal-deterministic AND IEEE on non-finite values
        // (a NaN sample must make sum/avg_over_time NaN, not NULL)
        Det.dsum(col("value")).as("__graft_sum_val"),
        Det.davg(col("value")).as("__graft_avg_val"),
        // Spark min already skips NaN (sorts greatest); max must skip it
        // explicitly unless the whole window is NaN (Prometheus >= walk)
        min(col("value")).as("__graft_min_val"),
        coalesce(max(when(!isnan(col("value")), col("value"))), lit(Double.NaN))
          .as("__graft_max_val"),
        // `value < prev` must be IEEE-false when prev is NaN (Go float
        // compare) — Spark's total order ranks NaN greatest, so `x < NaN`
        // would count a reset and poison the rate correction with a NaN
        // prev. Guard explicitly (the Det.dec cast of NaN → NULL happened to
        // save the correction sum, but never rely on that).
        sum(when(col("__graft_prev_ts").isNotNull && col("__graft_prev_ts") > col("__graft_win_lo") &&
          !isnan(col("__graft_prev_val")) && col("value") < col("__graft_prev_val"),
          col("__graft_prev_val")).otherwise(lit(0.0)).cast(Det.dec))
          .cast("double").as("__graft_resets"),
        // counts over consecutive in-window pairs (PromQL changes()/resets())
        sum(when(col("__graft_prev_ts").isNotNull && col("__graft_prev_ts") > col("__graft_win_lo") &&
          !isnan(col("__graft_prev_val")) && col("value") < col("__graft_prev_val"), 1L)
          .otherwise(0L)).as("__graft_n_resets"),
        sum(when(col("__graft_prev_ts").isNotNull && col("__graft_prev_ts") > col("__graft_win_lo") &&
          !(col("value") <=> col("__graft_prev_val")), 1L).otherwise(0L)).as("__graft_n_changes"),
        // least-squares moments for deriv/predict_linear, over window-relative
        // seconds (re-centering avoids catastrophic cancellation on epoch
        // magnitudes); decimal-exact sums keep the slope deterministic
        sum(((col("ts_ms") - col("__graft_win_lo")) / lit(1000.0)).cast(Det.dec))
          .cast("double").as("__graft_sum_t"),
        sum((((col("ts_ms") - col("__graft_win_lo")) / lit(1000.0)) *
          ((col("ts_ms") - col("__graft_win_lo")) / lit(1000.0))).cast(Det.dec))
          .cast("double").as("__graft_sum_t2"),
        sum((((col("ts_ms") - col("__graft_win_lo")) / lit(1000.0)) * col("value")).cast(Det.dec))
          .cast("double").as("__graft_sum_tv"),
        expr("max_by(value - __graft_prev_val, ts_ms) FILTER (WHERE __graft_prev_ts IS NOT NULL AND __graft_prev_ts > __graft_win_lo)")
          .as("__graft_idelta_val"),
        // irate: last in-window pair — counter-reset corrected delta and dt
        expr("max_by(IF(value < __graft_prev_val, value, value - __graft_prev_val), ts_ms) " +
          "FILTER (WHERE __graft_prev_ts IS NOT NULL AND __graft_prev_ts > __graft_win_lo)").as("__graft_irate_dv"),
        expr("max_by(ts_ms - __graft_prev_ts, ts_ms) " +
          "FILTER (WHERE __graft_prev_ts IS NOT NULL AND __graft_prev_ts > __graft_win_lo)").as("__graft_irate_dt")) ++
        (if (withDistribution) // quantile/mad/stddev/stdvar_over_time pay for the list
          Seq(array_sort(collect_list(col("value"))).as("__graft_vals_sorted"))
        else Seq.empty) ++
        (if (withSeriesList) // ts-ordered values for sequential smoothers
          Seq(sort_array(collect_list(struct(col("ts_ms"), col("sample_id"),
            col("value")))).as("__graft_pts_sorted"))
        else Seq.empty)): _*)
      .drop("series_hash")
  }

  /** Prometheus' `extrapolatedRate` (promql/functions.go): extend the sampled
    * interval toward the window bounds when the first/last samples sit close
    * enough (≤1.1× the average sample spacing), clamp counters at the
    * zero-crossing, then normalize by the window for `rate`. A fixed sequence
    * of double arithmetic — deterministic and oracle-expressible. */
  private def extrapolated(windowMs: Long, isCounter: Boolean, isRate: Boolean): Column = {
    val rv = if (isCounter) col("__graft_last_val") - col("__graft_first_val") + col("__graft_resets")
             else col("__graft_last_val") - col("__graft_first_val")
    val ds0 = (col("__graft_first_ts") - (col("step_ms") - windowMs)).cast("double") / lit(1000.0)
    val de0 = (col("step_ms") - col("__graft_last_ts")).cast("double") / lit(1000.0)
    val si  = (col("__graft_last_ts") - col("__graft_first_ts")).cast("double") / lit(1000.0)
    val ai  = si / (col("__graft_n_samples") - 1)
    val thr = ai * lit(1.1)
    val dz  = si * (col("__graft_first_val") / rv)
    // Prometheus clamp order matters: boundary-extrapolation threshold FIRST,
    // then the counter zero-crossing can only shorten the result (a dz
    // between avg/2 and 1.1·avg must not survive the threshold clamp — the
    // extrapolatedRate fuzz caught the reversed order)
    val dsA = when(ds0 >= thr, ai / lit(2.0)).otherwise(ds0)
    val dsB = if (isCounter)
      when(rv > 0 && col("__graft_first_val") >= 0 && dz < dsA, dz).otherwise(dsA)
    else dsA
    val deB = when(de0 >= thr, ai / lit(2.0)).otherwise(de0)
    val inc = rv * ((si + dsB + deB) / si)
    val out = if (isRate) inc / lit(windowMs / 1000.0) else inc
    when(col("__graft_n_samples") >= 2, out)
  }

  /** Labels absent()/absent_over_time() stamp onto their synthetic series —
    * Prometheus createLabelsForAbsentFunction (promql/functions.go): only for
    * a plain (range-)selector argument; the first equality matcher per label
    * wins, any other matcher on the same label (before or after) deletes it,
    * `__name__` never copies. */
  private def absentLabels(e: Expr): Seq[(String, String)] = e match {
    case Selector(_, ms, _, _, _) =>
      val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val has = scala.collection.mutable.Set.empty[String]
      ms.foreach {
        case m if m.label == "__name__" => ()
        case MatchEq(l, v) if !has(l) => out(l) = v; has += l
        case m => out.remove(m.label)
      }
      // `value`, `step_ms`, … are valid PromQL label names but are the
      // engine's internal columns — stamping them would corrupt the schema
      out.toSeq.filterNot { case (l, _) => frameReserved(l) }
    case _ => Seq.empty // sub-expressions (incl. subqueries) carry no labels
  }

  private def compileCall(fn: String, args: Seq[Expr], ctx: Ctx): DataFrame = fn match {
    case f if overTimeFns.contains(f) =>
      // the range-vector arg is last for (quantile_over_time etc.) but first
      // for predict_linear — find it positionally
      val rangeArg: Option[Expr] = args.collectFirst {
        case s @ Selector(_, _, Some(_), _, _) => s
        case sub: Subquery => sub
      }
      val (windowMs, offsetMs, atOpt, mkPoints) = rangeArg match {
        case Some(s @ Selector(_, _, Some(r), off, at)) =>
          (r, off, at, (c: Ctx) => selectorPoints(s, r, c))
        case Some(sub: Subquery) =>
          (sub.rangeMs, sub.offsetMs, sub.at, (c: Ctx) => subqueryPoints(sub, c))
        case _ => throw new ParseException(s"$f expects a range vector, e.g. m[5m]")
      }
      // `@`: pin the evaluation instant; the single-step result is broadcast
      // back onto the requested grid at the end. offset: evaluate on the
      // shifted grid, report at the requested steps.
      val ectx = atOpt match {
        case Some(spec) =>
          val t = resolveAt(spec, ctx) - offsetMs
          ctx.copy(startMs = t, endMs = t,
            anchorStartMs = Some(ctx.qStartMs), anchorEndMs = Some(ctx.qEndMs))
        case None =>
          // pin the anchors so a nested `@ start()/end()` still resolves
          // against the outermost query bounds, not the shifted grid
          ctx.copy(startMs = ctx.startMs - offsetMs, endMs = ctx.endMs - offsetMs,
            anchorStartMs = Some(ctx.qStartMs), anchorEndMs = Some(ctx.qEndMs))
      }
      /** undo the grid rewrite: broadcast (@) or shift back (offset). */
      def restore(df: DataFrame): DataFrame =
        if (atOpt.nonEmpty) ctx.grid.crossJoin(df.drop("step_ms"))
        else if (offsetMs == 0) df
        else df.withColumn("step_ms", col("step_ms") + offsetMs)
      val smoother = f == "holt_winters" || f == "double_exponential_smoothing"
      // auto-downsampling: a plain range selector whose window and grid are
      // aligned to an available layer reads the layer, not raw — exact by
      // the left-open window convention ([[LayerRoute]]); anything else
      // falls back to the raw-scan gridAgg below
      val routed: Option[DataFrame] = rangeArg match {
        case Some(s @ Selector(_, _, Some(r), _, _)) =>
          LayerRoute.tryRoute(f, s, r, ectx)
        case _ => None
      }
      val g = routed.getOrElse(gridAgg(mkPoints(ectx), windowMs, ectx,
        withDistribution = Set("quantile_over_time", "mad_over_time",
          "stddev_over_time", "stdvar_over_time").contains(f),
        withSeriesList = smoother))
      if (f == "absent_over_time") { // 1 at steps where NO series has samples
        val out = ectx.grid.join(g.select(col("step_ms")).distinct(),
            Seq("step_ms"), "left_anti")
          .withColumn("value", lit(1.0))
        return restore(rangeArg.toSeq.flatMap(absentLabels).foldLeft(out) {
          case (df, (l, value)) => df.withColumn(l, lit(value))
        })
      }
      // engine intermediates all carry the __graft_ prefix — data-borne labels
      // literally named `__graft_n_samples`/`k`/`resets` pass through untouched
      val lbls = labelCols(g).filterNot(_.startsWith("__graft_"))
      lazy val twoPassVar: Column = expr(
        "aggregate(__graft_vals_sorted, CAST(0.0 AS DOUBLE), " +
          "(acc, x) -> acc + (x - __graft_avg_val) * (x - __graft_avg_val)) / __graft_n_samples")
      val value: Column = f match {
        case "sum_over_time"    => col("__graft_sum_val")
        case "avg_over_time"    => col("__graft_avg_val")
        case "min_over_time"    => col("__graft_min_val")
        case "max_over_time"    => col("__graft_max_val")
        case "count_over_time"  => col("__graft_n_samples").cast("double")
        // two-pass variance over the window's (small, bounded) value list:
        // Σ(x−μ)²/n is exactly 0 for constant windows, like Prometheus'
        // Welford accumulation — a one-pass decimal moment formula (the
        // unbounded group aggregations use Det.dvarPop) leaves ~1e-6
        // cancellation noise that the differential fuzzer flagged
        case "stddev_over_time" => sqrt(twoPassVar)
        case "stdvar_over_time" => twoPassVar
        case "present_over_time" => lit(1.0)
        case "last_over_time"   => col("__graft_last_val")
        case "first_over_time"  => col("__graft_first_val")
        // seconds (ms precision) of the qualifying sample, Prometheus 3.x
        case "ts_of_max_over_time"  => col("__graft_max_val_ts").cast("double") / lit(1000.0)
        case "ts_of_min_over_time"  => col("__graft_min_val_ts").cast("double") / lit(1000.0)
        case "ts_of_last_over_time" => col("__graft_last_ts").cast("double") / lit(1000.0)
        case "idelta"           => col("__graft_idelta_val")
        case "irate" => // per-second rate of the last in-window sample pair
          when(col("__graft_irate_dt").isNotNull,
            col("__graft_irate_dv") / (col("__graft_irate_dt") / lit(1000.0)))
        case "changes"          => col("__graft_n_changes").cast("double")
        case "resets"           => col("__graft_n_resets").cast("double")
        case "deriv" | "predict_linear" => // least-squares slope per second
          val n = col("__graft_n_samples").cast("double")
          val denom = n * col("__graft_sum_t2") - col("__graft_sum_t") * col("__graft_sum_t")
          val slope = (n * col("__graft_sum_tv") - col("__graft_sum_t") * col("__graft_sum_val")) / denom
          val v = if (f == "deriv") slope
          else { // value extrapolated `ahead` seconds past the eval step
            val ahead = scalarOf(args(1))
            col("__graft_sum_val") / n + slope *
              (lit(windowMs / 1000.0 + ahead) - col("__graft_sum_t") / n)
          }
          when(col("__graft_n_samples") >= 2, v)
        case "holt_winters" | "double_exponential_smoothing" =>
          // Prometheus funcDoubleExponentialSmoothing: sequential recursion
          // over the window's ts-ordered samples, expressed as a HOF fold
          // (per-(series,step) work, deterministic order)
          val sf = scalarOf(args(1)); val tf = scalarOf(args(2))
          val vs = "transform(__graft_pts_sorted, p -> p.value)"
          val bNew = s"IF(acc.i = 0, acc.b, $tf * (acc.s1 - acc.s0) + (1 - $tf) * acc.b)"
          when(col("__graft_n_samples") >= 2, expr(
            s"""aggregate(
               |  slice($vs, 2, size($vs) - 1),
               |  named_struct('s0', CAST(0.0 AS DOUBLE), 's1', $vs[0],
               |               'b', $vs[1] - $vs[0], 'i', 0),
               |  (acc, v) -> named_struct(
               |    's0', acc.s1,
               |    's1', $sf * v + (1 - $sf) * (acc.s1 + $bNew),
               |    'b',  $bNew,
               |    'i',  acc.i + 1),
               |  acc -> acc.s1)""".stripMargin))
        case "quantile_over_time" => // exact interpolated quantile of the window
          qOfSorted(col("__graft_vals_sorted"), lit(scalarOf(args.head)))
        case "mad_over_time" => // median absolute deviation about the median
          val med = qOfSorted(col("__graft_vals_sorted"), lit(0.5))
          qOfSorted(array_sort(transform(col("__graft_vals_sorted"), x => abs(x - med))),
            lit(0.5))
        case "delta"    => extrapolated(windowMs, isCounter = false, isRate = false)
        case "increase" => extrapolated(windowMs, isCounter = true, isRate = false)
        case "rate"     => extrapolated(windowMs, isCounter = true, isRate = true)
      }
      val out0 = g.withColumn("value", value)
        .select((("step_ms" +: lbls).map(col) :+ col("value")): _*)
      // range functions drop the metric name (PromQL: the value no longer IS
      // the metric) — last_over_time is the one name-preserving exception
      val out1 = if (f == "last_over_time") out0 else dropName(out0)
      // fns needing ≥2 samples yield NULL otherwise → drop those points
      val out2 = if (Set("rate", "irate", "increase", "delta", "idelta",
          "deriv", "predict_linear", "holt_winters",
          "double_exponential_smoothing").contains(f))
        out1.filter(col("value").isNotNull) else out1
      restore(out2)

    // scalar math over an instant vector (or scalar)
    case "abs" | "ceil" | "floor" | "sqrt" | "exp" | "ln" | "log2" | "log10" | "sgn" |
         "sin" | "cos" | "tan" | "asin" | "acos" | "atan" |
         "sinh" | "cosh" | "tanh" | "asinh" | "acosh" | "atanh" |
         "deg" | "rad" =>
      val v = compile(args.head, ctx)
      val f: Column => Column = fn match {
        case "abs" => abs; case "ceil" => c => ceil(c).cast("double")
        case "floor" => c => floor(c).cast("double"); case "sqrt" => sqrt
        // Go math.Log*: 0 → -Inf, negative → NaN; Spark's log family instead
        // returns NULL for any non-positive input, which would drop the sample
        case "exp" => exp
        case "ln" => goLog(c => log(c)); case "log2" => goLog(log2)
        case "log10" => goLog(log10); case "sgn" => c => signum(c)
        case "sin" => sin; case "cos" => cos; case "tan" => tan
        case "asin" => asin; case "acos" => acos; case "atan" => atan
        case "sinh" => sinh; case "cosh" => cosh; case "tanh" => tanh
        case "asinh" => c => call_function("asinh", c)
        case "acosh" => c => call_function("acosh", c)
        case "atanh" => c => call_function("atanh", c)
        case "deg" => degrees; case "rad" => radians
      }
      dropName(v.withColumn("value", f(col("value"))))
    case "pi" => ctx.grid.withColumn("value", lit(math.Pi))
    case "round" =>
      // round to multiples of to_nearest (default 1), ties toward +Inf —
      // Prometheus semantics (floor(v/n + ½)·n), not HALF_UP
      val v = compile(args.head, ctx)
      val to = if (args.length > 1) scalarOf(args(1)) else 1.0
      // to_nearest = 0: Go floor(v/0 + ½)·0 = Inf·0 = NaN (ANSI Divide errors)
      dropName(v.withColumn("value",
        if (to == 0.0) lit(Double.NaN)
        else (floor(col("value") / to + 0.5) * to).cast("double")))
    case "sort_by_label" | "sort_by_label_desc" => // presentational ordering
      val v = compile(args.head, ctx)
      val ord = args.tail.map(strOf).map(l =>
        if (fn == "sort_by_label") col(l).asc_nulls_first else col(l).desc_nulls_last)
      v.orderBy(ord: _*)
    // clamp family: Go's math.Min/Max propagate NaN (either operand), and
    // funcClamp: max < min returns the EMPTY vector (`if maxVal < minVal {
    // return enh.Out }`); a NaN bound propagates NaN through math.Max/Min
    // (the < is false for NaN, so that path never empties). Spark's
    // least/greatest instead rank NaN greatest (least() silently DROPS
    // it), so the NaN cases are guarded explicitly.
    case "clamp" =>
      val v = compile(args.head, ctx)
      val (lo, hi) = (scalarOf(args(1)), scalarOf(args(2)))
      if (hi < lo) dropName(v.filter(lit(false)))
      else {
        val out = if (lo.isNaN || hi.isNaN) lit(Double.NaN)
          else when(isnan(col("value")), lit(Double.NaN))
            .otherwise(least(greatest(col("value"), lit(lo)), lit(hi)))
        dropName(v.withColumn("value", out))
      }
    case "clamp_min" =>
      val lo = scalarOf(args(1))
      dropName(compile(args.head, ctx).withColumn("value",
        if (lo.isNaN) lit(Double.NaN)
        else greatest(col("value"), lit(lo)))) // NaN value stays NaN (greatest)
    case "clamp_max" =>
      val hi = scalarOf(args(1))
      dropName(compile(args.head, ctx).withColumn("value",
        if (hi.isNaN) lit(Double.NaN)
        else when(isnan(col("value")), lit(Double.NaN))
          .otherwise(least(col("value"), lit(hi)))))

    case "label_replace" => // (v, dst, replacement, src, regex)
      val v = compile(args.head, ctx)
      val Seq(dst, repl, src, regex) = args.tail.map(strOf)
      requireDstLabel("label_replace", dst)
      val anchored = "^(?:" + regex + ")$"
      try java.util.regex.Pattern.compile(anchored)
      catch { case e: java.util.regex.PatternSyntaxException =>
        throw new ParseException(
          s"invalid regular expression in label_replace(): $regex (${e.getDescription})")
      }
      // delayed name removal: a dropped __name__ is still readable as a src
      val srcCol =
        if (v.columns.contains(src)) coalesce(col(src), lit(""))
        else if (src == "__name__" && v.columns.contains(OldName))
          coalesce(col(OldName), lit(""))
        else lit("")
      // no match → series unchanged (dst keeps its value / stays ABSENT, not
      // ""); a replacement expanding to "" removes dst (Prometheus semantics)
      val dstCur = if (v.columns.contains(dst)) col(dst) else lit(null).cast("string")
      val replaced = regexp_replace(srcCol, anchored, repl)
      val out = v.withColumn(dst,
        when(srcCol.rlike(anchored),
          when(replaced === "", lit(null).cast("string")).otherwise(replaced))
          .otherwise(dstCur))
      // writing __name__ back clears the pending drop (upstream semantics)
      if (dst == "__name__") out.drop(OldName) else out
    case "label_join" => // (v, dst, sep, src...)
      val v = compile(args.head, ctx)
      val dst = strOf(args(1)); val sep = strOf(args(2))
      requireDstLabel("label_join", dst)
      val srcs = args.drop(3).map(strOf).map { s =>
        if (v.columns.contains(s)) coalesce(col(s), lit(""))
        else if (s == "__name__" && v.columns.contains(OldName))
          coalesce(col(OldName), lit("")) // delayed name removal
        else lit("")
      }
      val out = v.withColumn(dst, concat_ws(sep, srcs: _*))
      if (dst == "__name__") out.drop(OldName) else out

    // -------------------------------------------------- native histograms
    // Instant-vector functions over histogram-typed samples (samples frame
    // carries an `h` struct column — NativeHistograms model). The reference
    // gets these from its vendored Prometheus v3 promql engine; here each is
    // one column expression over the lookback-selected histogram.
    case "histogram_count" | "histogram_sum" | "histogram_avg"
        | "histogram_stddev" | "histogram_stdvar" =>
      val v = histSelector(args.head, ctx, fn)
      val value = fn match {
        case "histogram_count"  => NativeHistograms.hCount(col("__graft_h"))
        case "histogram_sum"    => NativeHistograms.hSum(col("__graft_h"))
        case "histogram_avg"    => NativeHistograms.hAvg(col("__graft_h"))
        case "histogram_stddev" => NativeHistograms.stddev(col("__graft_h"))
        case "histogram_stdvar" => NativeHistograms.stdvar(col("__graft_h"))
      }
      dropName(v.withColumn("value", value).drop("__graft_h"))

    case "histogram_fraction" => // (lo, hi, v) over native-histogram samples
      val lo = scalarOf(args.head); val hi = scalarOf(args(1))
      val v = histSelector(args(2), ctx, fn)
      dropName(v.withColumn("value",
          NativeHistograms.fraction(lo, hi, col("__graft_h")))
        .drop("__graft_h"))

    case "histogram_quantile" if hasHist(ctx) && isHistArg(args(1)) =>
      val phi = scalarOf(args.head)
      val native = dropName(histSelector(args(1), ctx, fn).withColumn("value",
          NativeHistograms.quantile(lit(phi), col("__graft_h"))))
      // Prometheus takes each sample by type: native histograms walk their
      // buckets, float samples carrying `le` take the classic path — a store
      // with an `h` column may hold classic bucket series as well. Only an
      // argument whose float vector keeps `le` can have a classic side.
      val floats =
        if (!ctx.samples.columns.contains("le")) None
        else Some(compile(args(1), ctx.copy(
          samples = ctx.samples.filter(col("h").getField("cnt").isNull),
          fullSamples = Some(ctx.fullSamples.getOrElse(ctx.samples)))))
          .filter(_.columns.contains("le"))
      floats match {
        case None => native.drop("__graft_h")
        case Some(v) => native.filter(col("__graft_h").isNotNull).drop("__graft_h")
          .unionByName(classicQuantile(phi, v), allowMissingColumns = true)
      }

    case "histogram_quantile" => // over a vector carrying an `le` label
      classicQuantile(scalarOf(args.head), compile(args(1), ctx))

    case "absent" => // 1 at steps where the vector has no series at all
      val v = compile(args.head, ctx)
      val out = ctx.grid
        .join(v.select(col("step_ms")).distinct(), Seq("step_ms"), "left_anti")
        .withColumn("value", lit(1.0))
      // Prometheus createLabelsForAbsentFunction: when the argument is a
      // plain selector, equality-matcher labels (never __name__, never a
      // label that appears in two matchers) are copied onto the result
      absentLabels(args.head).foldLeft(out) {
        case (df, (l, value)) => df.withColumn(l, lit(value))
      }
    case "sort" | "sort_desc" => // presentational in PromQL; order at the edge
      val v = compile(args.head, ctx)
      v.orderBy(if (fn == "sort") col("value").asc else col("value").desc)

    // Prometheus' EXPERIMENTAL info() (promql/info.go, behind
    // --enable-feature=promql-experimental-functions — mirrored by
    // Ctx.experimentalFunctions): enrich each sample of v with the DATA
    // labels of the info series — default `target_info` — sharing its
    // IDENTIFYING labels (job, instance) at the same step. The optional
    // second argument is upstream's data-label selector: `__name__`
    // matchers pick the info metric, every OTHER matcher RESTRICTS the
    // copied labels — only labels named by a matcher are copied, and only
    // where the info series' value fulfils every matcher on that label
    // (promql/info.go dataLabelMatchers). Samples with no matching info
    // series pass through unchanged; existing labels on v are never
    // overwritten; more than one info series per identity group errors
    // (stricter than upstream, which only errors on conflicting data
    // labels — documented deviation).
    case "info" =>
      if (!ctx.experimentalFunctions) throw new ParseException(
        "info() is experimental: enable Ctx.experimentalFunctions " +
          "(Prometheus: --enable-feature=promql-experimental-functions)")
      val v = compile(args.head, ctx)
      val (infoName, dataMs) = args.lift(1) match {
        case None => ("target_info", Seq.empty[LabelMatcher])
        case Some(Selector(nameOpt, ms, None, _, _)) =>
          val (nameMs, rest) = ms.partition(_.label == "__name__")
          val named = nameOpt.orElse(nameMs.collectFirst {
            case MatchEq(_, value) => value })
          if (nameOpt.isEmpty && nameMs.exists(!_.isInstanceOf[MatchEq]))
            throw new ParseException(
              "info() __name__ matcher must be an equality")
          (named.getOrElse("target_info"), rest)
        case Some(_) => throw new ParseException(
          "info() second argument must be a plain instant selector")
      }
      val infoV = compile(Selector(Some(infoName), Nil, None), ctx)
      val identity = Seq("job", "instance")
        .filter(l => labelCols(v).contains(l) && labelCols(infoV).contains(l))
      val dataLbls0 = labelCols(infoV).filterNot(c =>
        identity.contains(c) || c == "__name__" || c == "step_ms" ||
          c.startsWith("__graft_"))
      val dataLbls =
        if (dataMs.isEmpty) dataLbls0
        else dataLbls0.filter(c => dataMs.exists(_.label == c))
      if (identity.isEmpty || dataLbls.isEmpty) v
      else {
        val keys = identity :+ "step_ms"
        // per-label value gate: a restricted label is copied only where its
        // value fulfils every matcher on that label (else it's simply not
        // added — the sample itself still passes through)
        def gated(c: String): org.apache.spark.sql.Column = {
          val ms = dataMs.filter(_.label == c)
          if (ms.isEmpty) col(c)
          else when(ms.map(_.toPredicate(infoV)).reduce(_ && _), col(c))
        }
        // exact duplicates collapse first (several targets exposing the same
        // info set is normal); surviving duplicates per identity group error
        val slim = infoV.select((keys.map(col) ++
          dataLbls.map(c => gated(c).as(s"__graft_info_$c"))): _*).distinct()
        val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
        val guarded = slim
          .withColumn("__graft_card", count(lit(1)).over(w))
          .withColumn(s"__graft_info_${dataLbls.head}",
            when(col("__graft_card") > 1, raise_error(lit(
              "info(): multiple info series match one identity label set")))
              .otherwise(col(s"__graft_info_${dataLbls.head}")))
          .drop("__graft_card")
        val joined = v.join(guarded, keys, "left")
        dataLbls.foldLeft(joined) { (df, c) =>
          val merged = if (v.columns.contains(c))
            coalesce(col(c), col(s"__graft_info_$c")) else col(s"__graft_info_$c")
          df.withColumn(c, merged).drop(s"__graft_info_$c")
        }
      }

    case "vector" => compile(args.head, ctx)
    case "scalar" =>
      // NaN (not NULL / absent) when the vector hasn't exactly one series at a
      // step (Prometheus funcScalar) — NULL would vanish through arithmetic
      val v = compile(args.head, ctx)
      val one = v.groupBy(col("step_ms")).agg(
        when(count(lit(1)) === 1, first(col("value"))).as("value"))
      ctx.grid.join(one, Seq("step_ms"), "left")
        .withColumn("value", coalesce(col("value"), lit(Double.NaN)))
    case "time" => ctx.grid.withColumn("value", col("step_ms") / 1000.0)
    // calendar functions: input vector carries epoch-seconds values
    // (defaulting to vector(time())), output the UTC component
    case "minute" | "hour" | "day_of_week" | "day_of_month" | "day_of_year" |
         "month" | "year" | "days_in_month" =>
      val v = if (args.isEmpty) ctx.grid.withColumn("value", col("step_ms") / 1000.0)
              else compile(args.head, ctx)
      val t = timestamp_seconds(col("value"))
      val out = fn match {
        case "minute"        => minute(t)
        case "hour"          => hour(t)
        case "day_of_week"   => dayofweek(t) - 1 // PromQL: 0=Sunday
        case "day_of_month"  => dayofmonth(t)
        case "day_of_year"   => dayofyear(t)
        case "month"         => month(t)
        case "year"          => year(t)
        case "days_in_month" => dayofmonth(last_day(t))
      }
      dropName(v.withColumn("value", out.cast("double")))
    case "timestamp" => args.head match {
      // plain selector: the value is the selected SAMPLE's own timestamp —
      // a sample 30 s stale under lookback yields t−30, not t (Prometheus
      // funcTimestamp over the lookback-selected point)
      case Selector(name, matchers, None, offsetMs, at) =>
        val ms = name.map(n => MatchEq("__name__", n) +: matchers).getOrElse(matchers)
        def withTs(s: Long, e: Long) =
          Eval.rangeVectors(ctx.samples, ms, s, e, ctx.stepMs, ctx.lookbackMs,
              keepTs = true)
            .drop("series_hash")
            .withColumn("value", col("__graft_sample_ts") / 1000.0)
            .drop("__graft_sample_ts")
        val out = at match {
          case Some(spec) =>
            val t = resolveAt(spec, ctx) - offsetMs
            ctx.grid.crossJoin(withTs(t, t).drop("step_ms"))
          case None =>
            val df = withTs(ctx.startMs - offsetMs, ctx.endMs - offsetMs)
            if (offsetMs == 0) df
            else df.withColumn("step_ms", col("step_ms") + offsetMs)
        }
        dropName(out)
      // computed vectors: their samples are synthesized at the eval step
      case other =>
        dropName(compile(other, ctx).withColumn("value", col("step_ms") / 1000.0))
    }
    case other => throw new ParseException(s"unsupported function '$other'")
  }

  /** Classic `histogram_quantile` over a vector carrying an `le` label.
    * Prometheus bucketQuantile (promql/quantile.go): φ checked before
    * bucket validity; missing +Inf bucket, <2 buckets, or an empty
    * histogram → NaN; non-monotone cumulative counts (scrape races) are
    * repaired by a running max; rank in the +Inf bucket returns the last
    * finite bound; first-bucket ranks interpolate from an implicit 0
    * lower bound unless that bound is ≤ 0. One groupBy per histogram
    * series, then pure HOF expressions — no second shuffle. */
  private def classicQuantile(phi: Double, v0: DataFrame): DataFrame = {
    if (!v0.columns.contains("le"))
      throw new ParseException("histogram_quantile needs an 'le' label")
    val v = dropName(v0) // result series carry no metric name
    val grp = ("step_ms" +: labelCols(v).filterNot(_ == "le")).map(col)
    // Prometheus le labels are strings; "+Inf" isn't castable directly
    val leD = when(col("le").isin("+Inf", "Inf", "inf"),
      lit(Double.PositiveInfinity)).otherwise(col("le").cast("double"))
    val agged = v.groupBy(grp: _*)
      .agg(sort_array(collect_list(struct(leD.as("le"),
        col("value").cast("double").as("c")))).as("__graft_bkts"))
    if (phi.isNaN || phi < 0.0 || phi > 1.0) {
      val out = if (phi.isNaN) Double.NaN
        else if (phi < 0.0) Double.NegativeInfinity else Double.PositiveInfinity
      agged.select((grp :+ lit(out).as("value")): _*)
    } else {
      val zero = "CAST(0.0 AS DOUBLE)"
      val lo = s"IF(__graft_b = 1, $zero, element_at(__graft_bkts, __graft_b - 1).le)"
      val loCum = s"IF(__graft_b = 1, $zero, element_at(__graft_cums, __graft_b - 1))"
      agged
        .withColumn("__graft_cums", expr( // running-max repaired cumulatives
          s"""aggregate(__graft_bkts, CAST(array() AS ARRAY<DOUBLE>),
             |  (acc, x) -> concat(acc, array(greatest(x.c,
             |    IF(size(acc) = 0, $zero, element_at(acc, -1))))))""".stripMargin))
        .withColumn("__graft_total", expr("element_at(__graft_cums, -1)"))
        .withColumn("__graft_rank", col("__graft_total") * lit(phi))
        .withColumn("__graft_b", expr( // first bucket whose cum ≥ rank
          """aggregate(sequence(1, size(__graft_bkts)), size(__graft_bkts),
            |  (acc, i) -> IF(element_at(__graft_cums, i) >= __graft_rank AND i < acc, i, acc))""".stripMargin))
        .withColumn("value", expr(
          s"""CASE
             |  WHEN size(__graft_bkts) < 2 THEN CAST('NaN' AS DOUBLE)
             |  WHEN element_at(__graft_bkts, -1).le != CAST('Infinity' AS DOUBLE)
             |    THEN CAST('NaN' AS DOUBLE)
             |  WHEN __graft_total <= 0 THEN CAST('NaN' AS DOUBLE)
             |  WHEN __graft_b = size(__graft_bkts)
             |    THEN element_at(__graft_bkts, size(__graft_bkts) - 1).le
             |  WHEN __graft_b = 1 AND element_at(__graft_bkts, 1).le <= 0
             |    THEN element_at(__graft_bkts, 1).le
             |  ELSE $lo + (element_at(__graft_bkts, __graft_b).le - $lo) *
             |    IF(element_at(__graft_cums, __graft_b) - $loCum = 0,
             |       CAST('NaN' AS DOUBLE), -- 0/0 in Go: empty selected bucket
             |       (__graft_rank - $loCum) /
             |         (element_at(__graft_cums, __graft_b) - $loCum))
             |END""".stripMargin))
        .select((grp :+ col("value")): _*)
    }
  }

  /** Samples frame carries histogram-typed samples (struct column `h` —
    * a string label merely named "h" does not qualify). */
  private def hasHist(ctx: Ctx): Boolean =
    ctx.samples.columns.contains("h") && Eval.isHistCol(ctx.samples, "h")

  /** Expressions histSelector can evaluate histogram-typed: a plain instant
    * selector, or rate/increase/delta over a range selector. */
  private def isHistArg(e: Expr): Boolean = e match {
    case Selector(_, _, None, _, _) => true
    case Call("rate" | "increase" | "delta", _) => true
    case Agg("sum" | "avg", _, None, inner) => isHistArg(inner)
    case b: BinOp => histBinop(b)
    case _ => false
  }

  /** Histogram-typed binary arithmetic (promql native_histograms.test):
    * `h + h` / `h - h` (bucket-wise FloatHistogram.Add/Sub), `h * s`,
    * `s * h` and `h / s` (uniform scaling). `s / h` and every other
    * operator stay float-typed / type errors, like upstream. */
  private def histBinop(b: BinOp): Boolean = b match {
    case BinOp("+" | "-", l, r, _, false) => isHistArg(l) && isHistArg(r)
    case BinOp("*", l, r, _, false) =>
      (isHistArg(l) && isScalarExpr(r)) || (isScalarExpr(l) && isHistArg(r))
    case BinOp("/", l, r, _, false) => isHistArg(l) && isScalarExpr(r)
    case _ => false
  }

  /** Lookback-selected instant vector that carries the histogram sample
    * (`__graft_h`) alongside. histogram_* functions take the selector
    * directly (Prometheus evaluates them on the histogram sample stream);
    * computed sub-expressions are float-typed and can't carry histograms. */
  private def histSelector(e: Expr, ctx: Ctx, fn: String): DataFrame = e match {
    case Selector(name, matchers, None, offsetMs, at) if hasHist(ctx) =>
      val ms = name.map(n => MatchEq("__name__", n) +: matchers).getOrElse(matchers)
      def withH(s: Long, e: Long) =
        Eval.rangeVectors(ctx.samples, ms, s, e, ctx.stepMs, ctx.lookbackMs,
          keepH = true).drop("series_hash")
      at match {
        case Some(spec) =>
          val t = resolveAt(spec, ctx) - offsetMs
          ctx.grid.crossJoin(withH(t, t).drop("step_ms"))
        case None =>
          val df = withH(ctx.startMs - offsetMs, ctx.endMs - offsetMs)
          if (offsetMs == 0) df
          else df.withColumn("step_ms", col("step_ms") + offsetMs)
      }
    // rate/increase/delta over a histogram range selector produce a
    // histogram-valued vector the outer histogram_* function consumes
    case Call(f2 @ ("rate" | "increase" | "delta"), fargs) if hasHist(ctx) =>
      fargs.collectFirst {
        case sel @ Selector(_, _, Some(r), _, _) =>
          histRange(f2, r, sel.offsetMs, sel.at,
            c => selectorPoints(sel, r, c), ctx, Some(sel))
        case sub: Subquery =>
          histRange(f2, sub.rangeMs, sub.offsetMs, sub.at,
            c => histSubqueryPoints(sub, c), ctx)
      }.getOrElse(throw new ParseException(
        s"$fn over $f2 requires a range selector or subquery, e.g. m[5m]"))
    // sum()/avg() over a histogram-valued vector: bucket-wise histogram add
    // (FloatHistogram.Add), for avg scaled by 1/series — the canonical
    // histogram_quantile(φ, sum by (l) (rate(h[5m]))) shape
    case Agg(af @ ("sum" | "avg"), grouping, None, inner)
        if hasHist(ctx) && isHistArg(inner) =>
      val v = histSelector(inner, ctx, fn)
      val lbls = labelCols(v).filterNot(c => c.startsWith("__graft_") || c == "step_ms")
      val keep = grouping match {
        case By(ls)      => ls.filter(lbls.contains)
        case Without(ls) => lbls.filterNot(ls.contains).filterNot(_ == "__name__")
        case NoGrouping  => Nil
      }
      val keys = keep :+ "step_ms"
      val merged = NativeHistograms.merge(v, keys, hCol = "__graft_h")
      if (af == "sum") merged
      else {
        val n = v.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__graft_n"))
        merged.join(n, keys)
          .withColumn("__graft_h",
            NativeHistograms.scale(col("__graft_h"), lit(1.0) / col("__graft_n")))
          .drop("__graft_n")
      }

    // h * scalar / scalar * h / h ÷ scalar: uniform scaling of counts and
    // sum (FloatHistogram.Mul/Div); the result drops __name__ like every
    // arithmetic binop
    case BinOp(op @ ("*" | "/"), lEx, rEx, _, false)
        if hasHist(ctx) &&
          ((isHistArg(lEx) && isScalarExpr(rEx)) ||
           (op == "*" && isScalarExpr(lEx) && isHistArg(rEx))) =>
      val (hEx, sEx) = if (isScalarExpr(rEx)) (lEx, rEx) else (rEx, lEx)
      val h = dropName(histSelector(hEx, ctx, fn))
      // data-dependent scalar params (scalar(float_metric)) evaluate over
      // the UNFILTERED frame: at the serving boundary this ctx's samples
      // are restricted to histogram rows, under which the float metric has
      // zero rows and the factor would silently be NaN (ADVICE r20 #1)
      val sCtx = ctx.copy(samples = ctx.fullSamples.getOrElse(ctx.samples),
        fullSamples = None)
      val s = compile(sEx, sCtx).select(col("step_ms"), col("value").as("__graft_s"))
      val factor = if (op == "*") col("__graft_s") else lit(1.0) / col("__graft_s")
      h.join(s, Seq("step_ms"))
        .withColumn("__graft_h", NativeHistograms.scale(col("__graft_h"), factor))
        .drop("__graft_s")

    // h + h / h - h: 1:1 vector matching (union-of-labels keys, null-safe,
    // on()/ignoring() refine — same key rule as the float path), then a
    // bucket-wise FloatHistogram.Add via the group-merge (schemas reconcile
    // to the pair's minimum); subtraction is add of the (-1)-scaled rhs.
    // Duplicate series on either side error like the float guards do.
    case BinOp(op @ ("+" | "-"), lEx, rEx, matching, false)
        if hasHist(ctx) && isHistArg(lEx) && isHistArg(rEx) =>
      val l0 = histSelector(lEx, ctx, fn)
      val r1 = histSelector(rEx, ctx, fn)
      val r0 = if (op == "-") r1.withColumn("__graft_h",
        NativeHistograms.scale(col("__graft_h"), lit(-1.0))) else r1
      def lbls(df: DataFrame) = labelCols(df)
        .filterNot(c => c.startsWith("__graft_") || c == "__name__")
      val all = (lbls(l0) ++ lbls(r0)).distinct
      val keys = matching match {
        case Some(Matching(true, ls, false, false, _))  => ls
        case Some(Matching(false, ls, false, false, _)) => all.filterNot(ls.contains)
        case None => all
        case _ => throw new ParseException(
          "group_left/group_right histogram arithmetic is not supported")
      }
      val on = "step_ms" +: keys
      def prep(df: DataFrame, side: String): DataFrame = {
        val widened = keys.filterNot(df.columns.contains)
          .foldLeft(df)((d, c) => d.withColumn(c, lit(null).cast("string")))
          .select(on.map(col) :+ col("__graft_h"): _*)
        val w = Window.partitionBy(on.map(col): _*)
        widened.withColumn("__graft_c", count(lit(1)).over(w))
          .withColumn(on.head, when(col("__graft_c") > 1, raise_error(lit(
              s"found duplicate series for the match group on the $side " +
                "hand-side of the operation; many-to-many matching not " +
                "allowed: matching labels must be unique on one side"))
            .cast(widened.schema(on.head).dataType)).otherwise(col(on.head)))
          .drop("__graft_c")
      }
      // PromQL 1:1 is an INNER match: keep only (step, keys) present on both
      def semiKeys(df: DataFrame, other: DataFrame): DataFrame = {
        val (a, b) = (df.alias("gha"), other.select(on.map(col): _*).distinct().alias("ghb"))
        a.join(b, on.map(c => col(s"gha.$c") <=> col(s"ghb.$c")).reduce(_ && _),
          "left_semi")
      }
      val l2 = prep(l0, "left"); val r2 = prep(r0, "right")
      NativeHistograms.merge(
        semiKeys(l2, r2).unionByName(semiKeys(r2, l2)), on, hCol = "__graft_h")

    case _ => throw new ParseException(
      s"$fn requires a plain selector over native-histogram samples")
  }

  /** Range function over histogram-typed samples: per (series, step) the
    * window's histograms are gathered ts-sorted, reduced to a reset-
    * compensated bucket-wise delta (NativeHistograms.windowDelta), then
    * scaled by the same boundary-extrapolation factor as float counters —
    * minus the zero-crossing clamp, which Prometheus applies to float
    * counters only (promql/functions.go extrapolatedRate). */
  /** Histogram samples of a subquery `h[range:res]`: the plain inner
    * selector evaluated on the aligned subquery grid, its per-step
    * histograms becoming the samples the outer range function folds
    * (same grid alignment as the float subqueryPoints). */
  private def histSubqueryPoints(sub: Subquery, ctx: Ctx): DataFrame = {
    val resMs = if (sub.resolutionMs > 0) sub.resolutionMs else ctx.noStepSubqueryIntervalMs
    val rawStart = ctx.startMs - sub.rangeMs
    val rem = java.lang.Math.floorMod(rawStart, resMs)
    val alignedStart = if (rem == 0) rawStart else rawStart - rem + resMs
    val innerCtx = ctx.copy(startMs = alignedStart, endMs = ctx.endMs,
      stepMs = resMs,
      anchorStartMs = Some(ctx.qStartMs), anchorEndMs = Some(ctx.qEndMs))
    val inner = sub.expr match {
      case sel @ Selector(_, _, None, _, _) => histSelector(sel, innerCtx, "subquery")
      case _ => throw new ParseException(
        "histogram subquery requires a plain inner selector")
    }
    val lbls = labelCols(inner).filterNot(_.startsWith("__graft_"))
    inner.withColumnRenamed("step_ms", "ts_ms")
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash",
        if (lbls.nonEmpty) xxhash64(lbls.map(col): _*) else lit(0L))
      .withColumnRenamed("__graft_h", "h")
  }

  private def histRange(fn: String, windowMs: Long, offsetMs: Long,
                        atOpt: Option[AtSpec], mkPoints: Ctx => DataFrame,
                        ctx: Ctx, selOpt: Option[Selector] = None): DataFrame = {
    val ectx = atOpt match {
      case Some(spec) =>
        val t = resolveAt(spec, ctx) - offsetMs
        ctx.copy(startMs = t, endMs = t,
          anchorStartMs = Some(ctx.qStartMs), anchorEndMs = Some(ctx.qEndMs))
      case None =>
        ctx.copy(startMs = ctx.startMs - offsetMs, endMs = ctx.endMs - offsetMs,
          anchorStartMs = Some(ctx.qStartMs), anchorEndMs = Some(ctx.qEndMs))
    }
    // auto-downsampling for histogram series: an aligned plain range
    // selector is served from the histogram layer ([[LayerRoute
    // .tryRouteHist]]) — same per-step columns, shared extrapolation below
    val routed: Option[DataFrame] =
      selOpt.flatMap(sel => LayerRoute.tryRouteHist(fn, sel, windowMs, ectx))
    val g = routed.getOrElse {
      val pts = mkPoints(ectx)
      def floorDiv(a: Column, b: Long) = ((a - pmod(a, lit(b))) / b).cast("long")
      val kMin = greatest(floorDiv(col("ts_ms") - ectx.startMs + ectx.stepMs - 1, ectx.stepMs), lit(0L))
      val kMax = least(floorDiv(col("ts_ms") - ectx.startMs + windowMs - 1, ectx.stepMs), lit(ectx.nSteps))
      val lbls = pts.columns
        .filterNot(c => sampleReserved(c) || c == "series_hash" || c == "date" ||
          Eval.isHistCol(pts, c) || c.startsWith("__graft_")).toSeq
      pts
        .withColumn("__graft_k", explode(when(kMax >= kMin, sequence(kMin, kMax, lit(1L)))
          .otherwise(array().cast("array<long>"))))
        .withColumn("step_ms", lit(ectx.startMs) + col("__graft_k") * ectx.stepMs)
        .groupBy((col("series_hash") +: col("step_ms") +: lbls.map(col)): _*)
        .agg(count(lit(1)).as("__graft_n"),
          min(col("ts_ms")).as("__graft_first_ts"),
          max(col("ts_ms")).as("__graft_last_ts"),
          sort_array(collect_list(struct(col("ts_ms"), col("sample_id"), col("h"))))
            .as("__graft_hpts"))
        .filter(col("__graft_n") >= 2) // rate family needs two points
        .transform(NativeHistograms.stageWindowDelta(_, col("__graft_hpts"),
          isCounter = fn != "delta", "__graft_delta"))
        .drop("__graft_hpts")
    }
    val delta = col("__graft_delta")
    // boundary extrapolation (threshold clamps only; no zero-crossing)
    val ds0 = (col("__graft_first_ts") - (col("step_ms") - windowMs)).cast("double") / lit(1000.0)
    val de0 = (col("step_ms") - col("__graft_last_ts")).cast("double") / lit(1000.0)
    val si  = (col("__graft_last_ts") - col("__graft_first_ts")).cast("double") / lit(1000.0)
    val ai  = si / (col("__graft_n") - 1)
    val thr = ai * lit(1.1)
    val dsA = when(ds0 >= thr, ai / lit(2.0)).otherwise(ds0)
    val deA = when(de0 >= thr, ai / lit(2.0)).otherwise(de0)
    val factor0 = (si + dsA + deA) / si
    val factor = if (fn == "rate") factor0 / lit(windowMs / 1000.0) else factor0
    val out = g
      .withColumn("__graft_h", NativeHistograms.scale(delta, factor))
      .drop("series_hash", "__graft_n", "__graft_first_ts", "__graft_last_ts",
        "__graft_delta")
    val restored = atOpt match {
      case Some(_) => ctx.grid.crossJoin(out.drop("step_ms"))
      case None =>
        if (offsetMs == 0) out
        else out.withColumn("step_ms", col("step_ms") + offsetMs)
    }
    dropName(restored)
  }

  /** Prometheus-style interpolated quantile of a sorted values array. */
  private def qOfSorted(arr: Column, phi: Column): Column = {
    val h = phi * (size(arr) - 1)
    val lo = floor(h).cast("int")
    val vLo = element_at(arr, lo + 1) // lo+1 ≤ n always
    // lo+2 may exceed n (φ=1 or single sample): try_ under ANSI mode
    val vHi = coalesce(try_element_at(arr, lo + 2), vLo)
    // Prometheus quantile(): φ outside [0,1] → ±Inf, NaN → NaN
    when(isnan(phi), lit(Double.NaN))
      .when(phi < 0, lit(Double.NegativeInfinity))
      .when(phi > 1, lit(Double.PositiveInfinity))
      .otherwise(vLo + (h - floor(h)) * (vHi - vLo))
  }

  private def resolveAt(at: AtSpec, ctx: Ctx): Long = at match {
    case AtTime(ms) => ms
    case AtStart    => ctx.qStartMs
    case AtEnd      => ctx.qEndMs
  }

  /** Constant scalar parameter (aggregation φ/k, predict_linear's horizon,
    * smoothing factors): Prometheus accepts any scalar EXPRESSION here, so
    * fold literal arithmetic — `quantile(1-0.2, …)`, `topk(2*2, …)` — the
    * forms its own test corpus uses. Data-dependent params (`scalar(foo)`)
    * stay unsupported: they would need per-step evaluation. */
  /** Aggregation scalar parameter: a literal expression folds to a constant
    * (Right — keeps the static fast paths), while an expression containing
    * `scalar(...)` is DATA-DEPENDENT and compiles to a per-step scalar
    * frame (Left) that the aggregation joins on step_ms — upstream
    * evaluates `topk(scalar(q), v)` / `quantile(scalar(phi), v)` per step.
    * A vector-typed parameter is a type error, like upstream. */
  private def aggScalarParam(e: Expr, ctx: Ctx): Either[DataFrame, Double] = {
    def hasScalarCall(x: Expr): Boolean = x match {
      case Call("scalar", _) => true
      case BinOp(_, l, r, _, _) => hasScalarCall(l) || hasScalarCall(r)
      case Call(_, args) => args.exists(hasScalarCall)
      case _ => false
    }
    if (!isScalarExpr(e)) {
      val got = e match {
        case _: StringLit => "string"
        case _ => "instant vector"
      }
      throw new ParseException(
        s"expected type scalar in aggregation parameter, got $got")
    }
    if (hasScalarCall(e))
      Left(compile(e, ctx).select(col("step_ms"), col("value")))
    else Right(scalarOf(e))
  }

  private def scalarOf(e: Expr): Double = e match {
    case NumberLit(v) => v
    // scalar() takes an instant vector — over a literal it is an upstream
    // TYPE error, and over a vector it is data-dependent (per-step value)
    // which this constant-folding parameter path cannot express; neither
    // may silently fold (r18 folded scalar(2), accepting queries
    // Prometheus rejects)
    case Call("scalar", _) => throw new ParseException(
      "unsupported data-dependent scalar parameter: scalar(...) must be " +
        "evaluated per step (and scalar() over a literal is a type error)")
    case BinOp(op, l, r, _, _) =>
      val (a, b) = (scalarOf(l), scalarOf(r))
      op match {
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
        case "%" => a % b // JVM double % == Go math.Mod (truncated remainder)
        case "^" => math.pow(a, b)
        case _ => throw new ParseException(s"scalar literal expected, got op '$op'")
      }
    case _ => throw new ParseException("scalar literal expected")
  }
  private def strOf(e: Expr): String = e match {
    case StringLit(s) => s
    case _ => throw new ParseException("string literal expected")
  }
  /** Delayed name removal (Prometheus 3's promql-delayed-name-removal):
    * operators that "drop" `__name__` stash it in this reserved column
    * instead — invisible to matching, grouping and output ([[labelCols]]
    * excludes it) but still readable as a `label_replace`/`label_join`
    * SOURCE label, and cleared when one of them writes `__name__` back.
    * Mirrors the upstream behavior name_label_dropping.test exercises. */
  private[promql] val OldName = "__graft_oldname"

  private def dropName(df: DataFrame): DataFrame =
    if (df.columns.contains("__name__"))
      df.drop(OldName).withColumnRenamed("__name__", OldName)
    else df

  /** Static upper bound on the values a compiled frame's stashed [[OldName]]
    * column can take; `None` = unbounded. A selector with an exact
    * `__name__` matcher contributes exactly one name; regex / absent name
    * matchers and `label_replace`/`label_join` (which can rewrite
    * `__name__` data-dependently) make the bound unknown. Used by the
    * vector-matching duplicate-guard skip: a side whose stash is provably
    * single-valued cannot hold two rows differing only in the stashed name,
    * so the per-(step, visible-labelset) uniqueness argument still holds. */
  private def stashedNames(e: Expr): Option[Set[String]] = e match {
    case Selector(Some(n), _, _, _, _) => Some(Set(n))
    case Selector(None, ms, _, _, _) =>
      ms.collectFirst { case MatchEq("__name__", v) => Set(v) }
    case Call("label_replace" | "label_join", _) => None
    case Call(_, args) =>
      args.foldLeft(Option(Set.empty[String])) { (acc, a) =>
        for (s1 <- acc; s2 <- stashedNames(a)) yield s1 ++ s2 }
    case Subquery(inner, _, _, _, _) => stashedNames(inner)
    case BinOp(_, l, r, _, _) =>
      for (s1 <- stashedNames(l); s2 <- stashedNames(r)) yield s1 ++ s2
    // passthrough aggregations keep their input rows' stash column intact
    // (topk/bottomk/limitk/limit_ratio select rows, they don't re-key), so
    // the bound is the child's; value-aggregating ops drop the stash
    // (ADVICE r20 #2: `topk(3, abs({__name__=~"a|b"})) + rhs` must not skip
    // the duplicate guard)
    case Agg("topk" | "bottomk" | "limitk" | "limit_ratio", _, _, inner) =>
      stashedNames(inner)
    case _: Agg => Some(Set.empty) // aggregation output carries no stash
    case _ => Some(Set.empty) // literals carry no stash
  }

  /** Go log-family semantics over Spark's null-for-nonpositive log builtins:
    * x>0 delegates (Inf → Inf), ±0 → -Inf, negative/NaN → NaN. */
  private def goLog(f: Column => Column)(c: Column): Column =
    when(c > 0.0, f(c))
      .when(c === 0.0, lit(Double.NegativeInfinity))
      .otherwise(lit(Double.NaN))

  // ---------------------------------------------------------------- agg ops
  private def compileAgg(a: Agg, ctx: Ctx): DataFrame = {
    val child = compile(a.expr, ctx)
    val lbls = labelCols(child)
    val keep: Seq[String] = a.grouping match {
      case By(ls)      => ls.filter(lbls.contains)
      case Without(ls) => lbls.filterNot(ls.contains).filterNot(_ == "__name__")
      case NoGrouping  => Seq.empty
    }
    val grp = ("step_ms" +: keep).map(col)
    a.op match {
      case "sum"    => child.groupBy(grp: _*).agg(Det.dsum(col("value")).as("value"))
      case "avg"    => child.groupBy(grp: _*).agg(Det.davg(col("value")).as("value"))
      case "min"    => child.groupBy(grp: _*).agg(min(col("value")).as("value"))
      // Prometheus max skips NaN once any real value exists (NaN only when
      // ALL are NaN); Spark sorts NaN greatest, so aggregate the non-NaN side
      case "max"    => child.groupBy(grp: _*).agg(
        coalesce(max(when(!isnan(col("value")), col("value"))), lit(Double.NaN)).as("value"))
      case "count"  => child.groupBy(grp: _*).agg(count(col("value")).cast("double").as("value"))
      case "stddev" => child.groupBy(grp: _*).agg(Det.dstddevPop(col("value")).as("value"))
      case "stdvar" => child.groupBy(grp: _*).agg(Det.dvarPop(col("value")).as("value"))
      case "topk" | "bottomk" =>
        val p = a.param.getOrElse(throw new ParseException("topk needs k"))
        // salted partial top-k below the exact window — without it, topk with
        // no grouping sorts EVERY series of a step in one window partition
        aggScalarParam(p, ctx) match {
          case Right(k) =>
            Aggregations.topk(child, k.toInt, grp, lbls.sorted.map(col),
              desc = a.op == "topk")
          case Left(ks) => // data-dependent k, evaluated per step (upstream
            // evaluates scalar params at every step of a range query)
            val kCol = when(isnan(col("__graft_kparam")),
                raise_error(lit("Parameter value is NaN"))
                  .cast("long"))
              .otherwise(col("__graft_kparam").cast("long"))
            Aggregations.topk(
              child.join(ks.withColumnRenamed("value", "__graft_kparam"),
                Seq("step_ms")),
              kCol, grp, lbls.sorted.map(col), desc = a.op == "topk")
              .drop("__graft_kparam")
        }
      case "quantile" =>
        val p = a.param.getOrElse(throw new ParseException("quantile needs φ"))
        // hash-agg duplicate compression below the rank window (exact)
        aggScalarParam(p, ctx) match {
          case Right(phi) => Aggregations.quantile(child, phi, grp)
          case Left(ps) =>
            Aggregations.quantileBy(
              child.join(ps.withColumnRenamed("value", "__graft_phiparam"),
                Seq("step_ms")),
              col("__graft_phiparam"), grp)
        }
      case "count_values" => // value string becomes a new label; count series
        val lbl = strOf(a.param.getOrElse(throw new ParseException("count_values needs a label")))
        // Prometheus renders the label with FormatFloat('f', -1): integers
        // carry no ".0" — "30", not Spark's double-cast "30.0"
        val valueStr = when(!isnan(col("value")) &&
            col("value") === col("value").cast("long").cast("double"),
            col("value").cast("long").cast("string"))
          .otherwise(col("value").cast("string"))
        child.groupBy((grp :+ valueStr.as(lbl)): _*)
          .agg(count(lit(1)).cast("double").as("value"))
      case "group" => // all values become 1 per output group
        child.select(grp: _*).distinct().withColumn("value", lit(1.0))
      case "limitk" => // k series per group, deterministic label-hash order
        // (Prometheus's limitk keeps engine arrival order — implementation-
        // defined; we pick by series-label hash so answers are stable)
        val k = scalarOf(a.param.getOrElse(throw new ParseException("limitk needs k"))).toInt
        Aggregations.limitByOrdering(child, k, grp,
          xxhash64(lbls.sorted.map(col): _*).asc +: lbls.sorted.map(col(_).asc),
          lbls.sorted.map(col))
      case "limit_ratio" => // hash-based series sampling, Prometheus semantics:
        // r ≥ 0 keeps series with u < r; r < 0 keeps the complement (u ≥ 1+r),
        // where u is a per-series deterministic uniform from the label hash
        val r = scalarOf(a.param.getOrElse(throw new ParseException("limit_ratio needs r")))
        val u = xxhash64(lbls.sorted.map(col): _*).cast("double") /
          lit(2.0 * Long.MaxValue.toDouble) + lit(0.5)
        child.filter(if (r >= 0) u < lit(r) else u >= lit(1.0 + r))
      case other => throw new ParseException(s"unsupported aggregation '$other'")
    }
  }

  // ---------------------------------------------------------------- bin ops
  /** IEEE 754 division, which Go (and so Prometheus) follows: x/0 → ±Inf
    * (sign of x × sign of the zero), 0/0 and NaN operands → NaN. Spark's
    * `Divide` instead ERRORS on a zero divisor under ANSI mode (the Spark 4
    * default) and returns NULL under legacy — both diverge, and the error
    * fires for any flat window, not just pathological queries. The guard
    * keeps Divide from ever evaluating with a zero divisor; SimplifyConditionals
    * removes the dead branch when the divisor is a folded literal zero. */
  private def ieeeDiv(l: Column, r: Column): Column = {
    // ±0.0 divisor sign: every Spark comparison (including struct ordering)
    // normalizes -0.0 == 0.0, but the string cast preserves the sign bit —
    // the one way to see the distinction the engine needs (x / -0.0 is -Inf
    // in Go). Only reached when r == ±0.0, so startsWith("-") ⇔ r is -0.0.
    val zeroSign = when(r.cast("string").startsWith("-"), lit(-1.0)).otherwise(lit(1.0))
    when(isnan(l) || isnan(r), lit(Double.NaN))
      .when(r =!= 0.0, l / r)
      .when(l === 0.0, lit(Double.NaN)) // ±0 / ±0
      .otherwise(signum(l) * zeroSign * lit(Double.PositiveInfinity))
  }

  /** Go math.Mod: NaN when the divisor is 0 or either operand is NaN (Spark's
    * `%` errors under ANSI); otherwise Java/Go remainder semantics agree. */
  private def ieeeMod(l: Column, r: Column): Column =
    when(isnan(l) || isnan(r) || r === 0.0, lit(Double.NaN)).otherwise(l % r)

  private def arith(op: String)(l: Column, r: Column): Column = op match {
    case "+" => l + r; case "-" => l - r; case "*" => l * r
    // % is Go math.Mod (sign of the dividend), not Euclidean pmod
    case "/" => ieeeDiv(l, r); case "%" => ieeeMod(l, r); case "^" => pow(l, r)
    case "atan2" => atan2(l, r)
    // IEEE 754 comparison semantics, which Go (and so Prometheus) follows:
    // any NaN operand makes ==/>/</>=/<= FALSE and != TRUE. Spark instead
    // ranks NaN greater than every value and NaN==NaN as true, so each
    // comparison guards on isnan explicitly (isnan(NULL)=false keeps normal
    // null propagation: a NULL operand still yields NULL, not a match)
    case "==" => !(isnan(l) || isnan(r)) && (l === r)
    case "!=" => isnan(l) || isnan(r) || (l =!= r)
    case ">"  => !(isnan(l) || isnan(r)) && (l > r)
    case "<"  => !(isnan(l) || isnan(r)) && (l < r)
    case ">=" => !(isnan(l) || isnan(r)) && (l >= r)
    case "<=" => !(isnan(l) || isnan(r)) && (l <= r)
  }
  private val compOps = Set("==", "!=", ">", "<", ">=", "<=")

  /** Static PromQL expression TYPE: scalar-valued expressions are number
    * literals, scalar(), time(), pi(), and arithmetic over scalars —
    * everything else is an instant vector. The binop dispatch must use the
    * static type, not the compiled frame's label columns: a vector whose
    * labelset happens to be empty (`sum(v)`, `sum without(k) (v)`,
    * `vector(1)`) is still a VECTOR — one series with signature {} that
    * matches by signature (engine.go VectorBinop) — not a scalar broadcast.
    * `sum(v) + metric` is therefore empty (sig {} never equals {env=…}),
    * which the frame-shape dispatch silently turned into a broadcast. */
  private def isScalarExpr(e: Expr): Boolean = e match {
    case NumberLit(_)                  => true
    case Call("scalar" | "time" | "pi", _) => true
    case BinOp(op, l, r, _, _) if !Set("and", "or", "unless").contains(op) =>
      isScalarExpr(l) && isScalarExpr(r)
    case _                             => false
  }

  private def compileBinOp(b: BinOp, ctx: Ctx): DataFrame = {
    val setOp = Set("and", "or", "unless").contains(b.op)
    val lhs = compile(b.lhs, ctx)
    val rhs = compile(b.rhs, ctx)
    val lLbls = labelCols(lhs); val rLbls = labelCols(rhs)

    // PromQL matches label SETS: an absent label equals an absent label, so
    // all key comparisons must be null-safe (<=>) — plain equi-joins would
    // silently drop series whose wide-schema label columns are NULL
    def nullSafeJoin(l: DataFrame, r: DataFrame, on: Seq[String], how: String) = {
      val (la, ra) = (l.alias("gl"), r.alias("gr"))
      val cond = on.map(c => col(s"gl.$c") <=> col(s"gr.$c")).reduce(_ && _)
      (la.join(ra, cond, how), la, ra)
    }

    if (setOp) {
      // Set ops compare FULL label sets (minus __name__), not just the labels
      // both sides happen to carry: match on the UNION of label columns, with
      // a column absent on one side joining as NULL (<=> treats NULL = NULL,
      // i.e. absent == absent — PromQL label-set equality).
      val unionLbls = (lLbls ++ rLbls).distinct.filterNot(_ == "__name__")
      val keys = b.matching match {
        case Some(Matching(true, ls, _, _, _))  => ls
        case Some(Matching(false, ls, _, _, _)) => unionLbls.filterNot(ls.contains)
        case None                               => unionLbls
      }
      val on = "step_ms" +: keys
      def widen(df: DataFrame): DataFrame =
        keys.filterNot(df.columns.contains).foldLeft(df)(
          (d, c) => d.withColumn(c, lit(null).cast("string")))
      val (l2, r2) = (widen(lhs), widen(rhs))
      return b.op match {
        case "and" =>
          nullSafeJoin(l2, r2.select(on.map(col): _*).distinct(), on, "left_semi")
            ._1.select(lhs.columns.map(col): _*)
        case "unless" =>
          nullSafeJoin(l2, r2.select(on.map(col): _*).distinct(), on, "left_anti")
            ._1.select(lhs.columns.map(col): _*)
        case "or" => lhs.unionByName(
          nullSafeJoin(r2, l2.select(on.map(col): _*).distinct(), on, "left_anti")
            ._1.select(rhs.columns.map(col): _*),
          allowMissingColumns = true)
      }
    }

    (isScalarExpr(b.lhs), isScalarExpr(b.rhs)) match {
      case (true, true) => // scalar op scalar
        val r2 = rhs.withColumnRenamed("value", "rvalue")
        lhs.join(r2, Seq("step_ms"))
          .withColumn("value", toDouble(b.op, arith(b.op)(col("value"), col("rvalue")), b.bool))
          .drop("rvalue")
      case (false, true) => vectorScalar(lhs, rhs, b, flip = false)
      case (true, false) => vectorScalar(rhs, lhs, b, flip = true)
      case (false, false) =>
        val on = "step_ms" +: matchKeys(b, lLbls, rLbls)
        // a key column absent from one side joins as NULL (absent ≡ absent
        // under <=>, PromQL label-set matching — and an on() over a label
        // neither side carries matches everything, like Prometheus)
        def widenKeys(df: DataFrame): DataFrame =
          on.tail.filterNot(df.columns.contains).foldLeft(df)(
            (d, c) => d.withColumn(c, lit(null).cast("string")))
        val lhsW = widenKeys(lhs); val rhsW = widenKeys(rhs)
        val gl = b.matching.exists(_.groupLeft)
        val gr = b.matching.exists(_.groupRight)
        // label retention: comparisons (filter form) and group_left keep the
        // lhs label set; group_right keeps the rhs set; plain 1:1 keeps the
        // match keys only (PromQL drops non-matching labels and __name__)
        // group_left(inc)/group_right(inc): carry labels copied from the
        // "one" side, overwriting the many side's version (PromQL semantics)
        val inc = b.matching.map(_.include).getOrElse(Nil)
        val keepL =
          if (compOps.contains(b.op) && !b.bool) lLbls
          else if (gl) lLbls.filterNot(_ == "__name__").filterNot(inc.contains)
          else if (gr) inc.filter(lLbls.contains)
          else on.tail
        val keepR =
          if (gr) rLbls.filterNot(_ == "__name__").filterNot(inc.contains)
          else if (gl) inc.filter(rLbls.contains)
          else Seq.empty
        // delayed name removal rides along with whichever side's label set
        // the output keeps: a filter-form comparison (or group_left) passes
        // the lhs series through unchanged, so its stashed [[OldName]] must
        // stay readable downstream (label_replace source); group_right
        // symmetrically carries the rhs stash. labelCols excludes the stash
        // column, so without this the l2/r2 selects would silently drop it.
        val oldNameSide =
          if (((compOps.contains(b.op) && !b.bool) || gl) &&
              lhs.columns.contains(OldName)) 1
          else if (gr && rhs.columns.contains(OldName)) 2
          else 0
        val l2 = lhsW.select((on.map(col) ++
          (keepL.filterNot(on.contains)).map(col) ++
          (if (oldNameSide == 1) Seq(col(OldName)) else Nil) :+ col("value")): _*)
        val r2 = rhsW.select((on.map(col) ++
          (keepR.filterNot(on.contains)).map(col) ++
          (if (oldNameSide == 2) Seq(col(OldName)) else Nil) :+
          col("value").as("rvalue")): _*)
        // group_left requires the rhs (the "one" side) be UNIQUE per match
        // group — group_right symmetrically for the lhs. A many-to-many match
        // must error, not silently multiply rows (promql-engine raises
        // "matching labels must be unique on one side"; SURVEY §2.3 J3). The
        // count window shuffles on the same keys the join hashes on, so the
        // exchange is reused, not added.
        // The raise rides the JOIN KEY column (step_ms), not the value:
        // hash joins defer the STREAMED side's non-key columns until a row
        // matches, so a value-column guard silently skips duplicates whose
        // group never matches — Prometheus rejects duplicates on the hashed
        // side regardless of matching (engine.go rightSigs). Key evaluation
        // is the one thing every join strategy does for every row.
        def keyGuard(df: DataFrame, card: Column, msg: String): DataFrame =
          df.withColumn(on.head, when(card > 1,
              raise_error(lit(msg)).cast(df.schema(on.head).dataType))
            .otherwise(col(on.head)))
        def uniqueGuard(df: DataFrame): DataFrame = {
          val w = Window.partitionBy(on.map(col): _*)
          keyGuard(df.withColumn("__graft_card", count(lit(1)).over(w)),
            col("__graft_card"),
            "many-to-many matching not allowed: " +
              "matching labels must be unique on one side")
            .drop("__graft_card")
        }
        // Plain 1:1 matching (and filter-form comparisons): Prometheus
        // hashes the rhs and rejects a duplicate there WHILE BUILDING the
        // table — before knowing whether the group ever matches (engine.go
        // VectorBinop, rightSigs). Fold that check into a pre-join
        // aggregation of the rhs: one row per match group survives,
        // carrying the group's cardinality; > 1 raises in the projection,
        // which the inner join evaluates for every rhs row regardless of
        // matching. No window over the joined output — a broadcast-hash
        // join keeps its shuffle-free shape (the r18 check shuffled the
        // whole joined result when the join broadcast), and GROUP BY treats
        // NULL keys as equal, matching the <=> join semantics. In valid
        // data every group has exactly one row, so first() is exact.
        def rhsDupGuard(df: DataFrame): DataFrame = {
          val valAggs = df.columns.filterNot(on.contains).map(c =>
            first(col(c)).as(c))
          val aggs = valAggs :+ count(lit(1)).as("__graft_rc")
          keyGuard(df.groupBy(on.map(col): _*).agg(aggs.head, aggs.tail.toSeq: _*),
            col("__graft_rc"),
            "found duplicate series for the match group on the right " +
              "hand-side of the operation; many-to-many matching not " +
              "allowed: matching labels must be unique on one side")
            .drop("__graft_rc")
        }
        val plain11 = !gl && !gr
        // Static dup-impossibility: a compiled vector frame is unique per
        // (step_ms, visible labelset) — selectors read one row per series
        // per step, aggregations key their output by the grouping labels.
        // When the match keys COVER a side's whole visible label set, two
        // rows sharing the keys would be two rows sharing the full labelset
        // — impossible — so that side's duplicate check is statically
        // unnecessary and compiles to NOTHING. This keeps the default 1:1
        // binop (all labels shared, names stashed) zero-overhead; the
        // guards remain exactly where duplicates can exist: on()/ignoring()
        // projections and name-keeping comparisons. Series distinguished
        // ONLY by a stashed __name__ WOULD escape this (the stash is not a
        // visible label), so the skip additionally requires the stash be
        // statically single-valued: an exact __name__ matcher under the
        // side's function chain means every row stashes the same name and
        // two key-sharing rows are again impossible. The common hot shape
        // rate(a[5m]) / rate(b[5m]) stays zero-overhead; regex-name
        // selectors (where upstream would reject the duplicate labelsets
        // as "vector cannot contain metrics with the same labelset") keep
        // their guards and error instead of silently multiplying rows.
        def nameSafe(e: Expr, df: DataFrame): Boolean =
          !df.columns.contains(OldName) || stashedNames(e).exists(_.size <= 1)
        val lhsCovered = lLbls.forall(on.contains) && nameSafe(b.lhs, lhs)
        val rhsCovered = rLbls.forall(on.contains) && nameSafe(b.rhs, rhs)
        val l2g = if (gr && !lhsCovered) uniqueGuard(l2) else l2
        val r2g =
          if (gl && !rhsCovered) uniqueGuard(r2)
          else if (plain11 && !rhsCovered) rhsDupGuard(r2)
          else r2
        val (joined0, la, _) = nullSafeJoin(l2g, r2g, on, "inner")
        // project the lhs copy of the key columns (they are <=>-equal)
        val keyCols = on.map(c => la(c).as(c))
        val extraCols = ((keepL ++ keepR).filterNot(on.contains).distinct ++
          (if (oldNameSide != 0) Seq(OldName) else Nil)).map(col)
        val joined = joined0.select((keyCols ++ extraCols :+
          col("value") :+ col("rvalue")): _*)
        // Plain 1:1: the lhs rejects duplicates only when they MATCH — two
        // lhs samples reaching the same rhs sample error, but duplicate lhs
        // series whose group has no rhs counterpart pass silently
        // (engine.go matchedSigs: the check runs after the rightSigs
        // lookup). Detect them with a semi-join against the (small,
        // deduplicated) rhs key set, then a map-side-combinable count —
        // again no window over the joined rows; the normally-EMPTY
        // violation row is unioned into the result so the error surfaces
        // lazily at collect whatever strategy the main join picked. This
        // re-evaluates the lhs subtree once; the alternative (counting the
        // joined output) re-executes the join itself, and a pre-join lhs
        // aggregate would shuffle the full lhs a broadcast join never
        // needed.
        val joinedG =
          if (!plain11 || lhsCovered) joined
          else {
            val rKeys = r2.select(on.map(col): _*).distinct()
            val lDup = nullSafeJoin(l2, rKeys, on, "left_semi")._1
              .groupBy(on.map(col): _*).agg(count(lit(1)).as("__graft_c"))
              .filter(col("__graft_c") > 1).limit(1)
            val msg = "found duplicate series for the match group on the " +
              "left hand-side of the operation; many-to-many matching not " +
              "allowed: matching labels must be unique on one side"
            // the raise rides BOTH step_ms and value, each behind a CASE on
            // the count column, because either alone can be optimized away:
            //  - value alone: a consumer that never reads value (and/unless
            //    select only step_ms+keys before distinct; a grouped
            //    count(lit(1))) lets ColumnPruning erase the raise and leak
            //    the null-keyed sentinel row into the result;
            //  - step_ms alone: the filter-form comparison path filters on
            //    arith(value, rvalue) — with literal 0.0s there the
            //    predicate constant-folds to false and PruneFilters deletes
            //    the whole sentinel branch before step_ms is ever read.
            // step_ms is consumed by every join/grouping/output, value by
            // every arithmetic/filter evaluation — at least one survives
            // any downstream plan. The sentinel's rvalue stays non-null:
            // NullPropagation soundly folds `raise + null` to null, erasing
            // the error (caught by the continuation tranche's dup cases).
            def raiseAs(t: org.apache.spark.sql.types.DataType) =
              when(col("__graft_c") > 1, raise_error(lit(msg)).cast(t))
                .otherwise(lit(0).cast(t))
            joined.unionByName(lDup.select(joined.schema.fields.toSeq.map { f =>
              (if (f.name == "value" || f.name == "step_ms")
                 raiseAs(f.dataType)
               else if (f.name == "rvalue") lit(0.0).cast(f.dataType)
               else lit(null).cast(f.dataType)).as(f.name)
            }: _*))
          }
        val result = joinedG.withColumn("out",
          toDouble(b.op, arith(b.op)(col("value"), col("rvalue")), b.bool))
        val filtered =
          if (compOps.contains(b.op) && !b.bool)
            result.filter(arith(b.op)(col("value"), col("rvalue")))
              .withColumn("out", col("value"))
          else result
        filtered.drop("value", "rvalue").withColumnRenamed("out", "value")
    }
  }

  private def vectorScalar(v: DataFrame, s: DataFrame, b: BinOp, flip: Boolean): DataFrame = {
    val s2 = s.withColumnRenamed("value", "svalue")
    val joined = v.join(s2, Seq("step_ms"))
    val (l, r) = if (flip) (col("svalue"), col("value")) else (col("value"), col("svalue"))
    val out = joined.withColumn("out", toDouble(b.op, arith(b.op)(l, r), b.bool))
    val filterForm = compOps.contains(b.op) && !b.bool
    val res =
      if (filterForm) joined.filter(arith(b.op)(l, r)).withColumn("out", col("value"))
      else out
    val named = res.drop("value", "svalue").withColumnRenamed("out", "value")
    // filter-form comparison keeps the sample untouched INCLUDING its metric
    // name; arithmetic and `bool` drop it (PromQL operator semantics)
    if (filterForm) named else dropName(named)
  }

  private def toDouble(op: String, c: Column, bool: Boolean): Column =
    if (compOps.contains(op)) (if (bool) when(c, 1.0).otherwise(0.0) else c.cast("double"))
    else c

  /** Default 1:1 matching keys: the UNION of both sides' labels except
    * __name__ — Prometheus hashes each series' FULL label set (engine.go
    * signatureFunc: drop the name, drop `ignoring` labels), so a label
    * present on one side only still participates (absent ≡ NULL, matched
    * null-safely). Intersecting the frame columns instead — the previous
    * behavior — silently cross-matched sides with disjoint label sets
    * (`sum by (a) (l) + sum by (b) (r)` joined on step alone where
    * Prometheus returns empty). on(...)/ignoring(...) refine. */
  private def matchKeys(b: BinOp, lLbls: Seq[String], rLbls: Seq[String]): Seq[String] = {
    val all = (lLbls ++ rLbls).distinct.filterNot(_ == "__name__")
    b.matching match {
      case Some(Matching(true, ls, _, _, _))  => ls
      case Some(Matching(false, ls, _, _, _)) => all.filterNot(ls.contains)
      case None                               => all
    }
  }
}
