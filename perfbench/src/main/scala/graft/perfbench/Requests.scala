package graft.perfbench

import StoreGen._

/** What a response must contain, computed from the generator alone. */
sealed trait Expect
object Expect {
  /** PromQL result with exactly `n` series. */
  final case class Series(n: Int) extends Expect
  /** PromQL result with between `lo` and `hi` series (range `topk`). */
  final case class SeriesBetween(lo: Int, hi: Int) extends Expect
  /** `/labels` or `/label/<n>/values`: exactly these strings, in order. */
  final case class Strings(values: Seq[String]) extends Expect
  /** `/series`: exactly `n` label sets, `truncated` ⇒ a limit warning. */
  final case class LabelSets(n: Int, truncated: Boolean) extends Expect
}

/** One API request. `op` is the latency class: `instant` = `/query`,
  * `range` = `/query_range`, `meta` = labels / label values / series.
  * `shape` names the request template (stable across refreshes). */
final case class Req(op: String, shape: String, path: String,
                     params: Seq[(String, String)], expect: Expect,
                     promql: Option[String] = None,
                     startMs: Long = 0L, endMs: Long = 0L, stepMs: Long = 0L) {
  def isPromql: Boolean = promql.isDefined
}

object Req {
  private def secs(ms: Long): String =
    java.math.BigDecimal.valueOf(ms, 3).stripTrailingZeros.toPlainString

  def range(shape: String, q: String, start: Long, end: Long, step: Long, e: Expect): Req =
    Req("range", shape, "/api/v1/query_range",
      Seq("query" -> q, "start" -> secs(start), "end" -> secs(end), "step" -> secs(step)),
      e, Some(q), start, end, step)

  def instant(shape: String, q: String, t: Long, e: Expect): Req =
    Req("instant", shape, "/api/v1/query", Seq("query" -> q, "time" -> secs(t)),
      e, Some(q), t, t)

  def labels(shape: String, start: Long, end: Long, e: Expect): Req =
    Req("meta", shape, "/api/v1/labels",
      Seq("start" -> secs(start), "end" -> secs(end)), e, startMs = start, endMs = end)

  def labelValues(shape: String, label: String, sel: (String, Seq[M]),
                  start: Long, end: Long, e: Expect): Req =
    Req("meta", shape, s"/api/v1/label/$label/values",
      Seq("match[]" -> sel._1, "start" -> secs(start), "end" -> secs(end)), e,
      startMs = start, endMs = end)

  def series(shape: String, sel: (String, Seq[M]), start: Long, end: Long,
             limit: Int, e: Expect): Req =
    Req("meta", shape, "/api/v1/series",
      Seq("match[]" -> sel._1, "start" -> secs(start), "end" -> secs(end)) ++
        (if (limit > 0) Seq("limit" -> limit.toString) else Nil),
      e, startMs = start, endMs = end)
}

/** The request streams of the serving workloads. Every stream is a pure
  * function of the generator (and so of the seed). */
object Requests {
  val MinuteMs = 60000L
  val HourMs = 3600000L

  /** A Grafana-style dashboard, one `Seq` per refresh: three
    * template-variable calls, an instant stat panel and three `query_range`
    * panels over the last hour at a 60 s step. Refresh `k` slides the
    * window one step forward: the text repeats, the results do not. Every
    * viewer watches the same dashboard (same variable values, same panel
    * order), so concurrent viewers contend on the same requests in every
    * run: a varying overlap of a costly panel with a cheap one would move the
    * latency medians from run to run. */
  def dashboard(g: StoreGen, maxRefreshes: Int = 600): Iterator[Seq[Req]] = {
    val rnd = new scala.util.Random(g.seed)
    val job = Jobs(rnd.nextInt(Jobs.size))
    val region = Regions(rnd.nextInt(Regions.size))
    def refresh(k: Int): Seq[Req] = {
      val end = g.endMs - (maxRefreshes - k) * MinuteMs
      val start = end - HourMs
      def r(shape: String, q: String, e: Expect) = Req.range(shape, q, start, end, MinuteMs, e)
      val all = sel(CounterName)
      val ofJob = sel(CounterName, M("job", "=", job))
      val errs = sel(CounterName, M("code", "=", "500"))
      val varSeries = sel(CounterName, M("job", "=", job), M("code", "=", "500"))
      val nVarSeries = g.matching(varSeries._2).size
      Seq(
        // template variables first, as a dashboard resolves them before its panels
        Req.labels("var_labels", start, end, Expect.Strings(LabelNames)),
        Req.labelValues("var_instance", "instance", sel(GaugeName, M("region", "=", region)),
          start, end, Expect.Strings(
            g.matching(sel(GaugeName, M("region", "=", region))._2)
              .map(_.labels("instance")).distinct.sorted)),
        Req.series("var_series", varSeries, start, end, 20,
          Expect.LabelSets(math.min(nVarSeries, 20), nVarSeries > 20)),
        Req.instant("stat_load", s"avg(${sel(GaugeName)._1})", end, Expect.Series(1)),
        r("rate_by_code", s"sum by (code) (rate(${ofJob._1}[5m]))",
          Expect.Series(g.groups(ofJob._2, Seq("code")))),
        r("error_ratio", s"sum by (job) (rate(${errs._1}[5m])) / sum by (job) (rate(${all._1}[5m]))",
          Expect.Series(g.groups(errs._2, Seq("job")))),
        r("top_instances", s"topk(5, sum by (instance) (rate(${ofJob._1}[5m])))",
          Expect.SeriesBetween(5, g.groups(ofJob._2, Seq("instance")))))
    }
    Iterator.from(0).take(maxRefreshes).map(refresh)
  }

  /** The dashboard's first refresh, split between two clients (alternate
    * requests): sent before the timed phase, so the timed refreshes repeat
    * text the engine has already answered. */
  def dashboardWarmUp(g: StoreGen): Seq[Iterator[Seq[Req]]] = {
    val first = dashboard(g).next().zipWithIndex
    Seq(0, 1).map(c => Iterator(first.collect { case (q, i) if i % 2 == c => q }))
  }

  /** An analyst exploring, one cycle of eight shapes per `Seq`: every
    * request distinct — matcher values, quantiles and windows are drawn
    * from the seed. Every range is 18 h at a 2 min step (541 steps) and
    * range-function widths are fixed, so a cycle costs about the same under
    * every seed. */
  def adhoc(g: StoreGen, client: Int): Iterator[Seq[Req]] = {
    val rnd = new scala.util.Random(g.seed * 31 + client)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def window(): (Long, Long, Long) = {
      val hours = 18
      val step = 2 * MinuteMs
      val latestEnd = g.endMs
      val earliestStart = g.startMs + HourMs
      val span = hours * HourMs
      val end = latestEnd - rnd.nextInt(((latestEnd - earliestStart - span) / MinuteMs).toInt.max(1) + 1) * MinuteMs
      (end - span, end, step)
    }
    // four instances and two codes per regex, whichever the seed draws, so
    // a regex selects the same number of series under every seed
    def instRe(): String = rnd.shuffle(g.instanceNames).take(4).mkString("|")
    def codeRe(): String = pick(Seq("2..|5..", "2..|4..", "4..|5.."))
    // one cycle of the eight shapes per `Seq`; range-function widths are
    // fixed, the seed draws matcher values, quantiles and windows
    val shapes: Seq[() => Req] = Seq(
      () => {
        val (s, e, st) = window()
        val q = sel(GaugeName, M("job", "=", pick(Jobs)))
        Req.range("gauge_avg_over_time", s"avg by (region) (avg_over_time(${q._1}[30m]))", s, e, st,
          Expect.Series(g.groups(q._2, Seq("region"))))
      },
      () => {
        val (s, e, _) = window()
        val q = sel(GaugeName, M("instance", "=~", instRe()))
        Req.series("series_regex", q, s, e, 0, Expect.LabelSets(g.matching(q._2).size, truncated = false))
      },
      () => {
        val (s, e, st) = window()
        val q = sel(CounterName, M("instance", "=~", instRe()), M("code", "=~", codeRe()))
        Req.range("regex_rate_sum", s"sum by (instance) (rate(${q._1}[15m]))", s, e, st,
          Expect.Series(g.groups(q._2, Seq("instance"))))
      },
      () => {
        val (_, e, _) = window()
        val q = sel(GaugeName, M("job", "=", pick(Jobs)))
        val phi = pick(Seq("0.5", "0.9", "0.99"))
        Req.instant("quantile_over_time", s"quantile_over_time($phi, ${q._1}[6h])", e,
          Expect.Series(g.matching(q._2).size))
      },
      () => {
        val (s, e, _) = window()
        val q = sel(CounterName, M("region", "=", pick(Regions)))
        Req.labelValues("values_by_region", "instance", q, s, e,
          Expect.Strings(g.matching(q._2).map(_.labels("instance")).distinct.sorted))
      },
      () => {
        val (_, e, _) = window()
        val q = sel(GaugeName, M("job", "=", pick(Jobs)))
        Req.instant("topk_max_over_time", s"topk(3, max_over_time(${q._1}[6h]))", e,
          Expect.Series(math.min(3, g.matching(q._2).size)))
      },
      () => {
        val (s, e, st) = window()
        val q = sel(CounterName, M("method", "=", pick(Methods)))
        Req.range("subquery_max", s"max_over_time(sum by (job) (rate(${q._1}[5m]))[1h:5m])", s, e, st,
          Expect.Series(g.groups(q._2, Seq("job"))))
      },
      () => {
        val (s, e, st) = window()
        val q = sel(CounterName, M("job", "=", pick(Jobs)))
        Req.range("raw_dump", q._1, s, e, st, Expect.Series(g.matching(q._2).size))
      })
    Iterator.continually(shapes.map(_()))
  }
}
