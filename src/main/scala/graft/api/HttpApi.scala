package graft.api

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.limits.QueryGate
import graft.promql.{LabelMatcher, Parser, ParseException}

/** Prometheus-compatible HTTP API over the engine (ref `api/http/query.go`):
  * `/api/v1/query`, `/api/v1/query_range`, `/api/v1/series`, `/api/v1/labels`,
  * `/api/v1/label/<name>/values`, with the reference's response envelope
  * `{status, data:{resultType,result}, warnings}` and limit-truncation
  * warnings (`api/http/query.go:194-261,636-641`). JDK HttpServer — zero
  * dependencies; Spark jobs run on the shared session per request, gated by
  * the concurrency semaphore (ref 100 concurrent, `cmd/serve.go:111`). */
final class HttpApi(engine: PromEngine, port: Int = 0,
                    gate: QueryGate = new QueryGate(100)) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // non-daemon workers: stop() must shut them down or the JVM never exits
  private val executor = java.util.concurrent.Executors.newFixedThreadPool(8)

  def boundPort: Int = server.getAddress.getPort

  def start(): HttpApi = {
    server.createContext("/api/v1/query_range", handler(queryRange))
    server.createContext("/api/v1/query", handler(query))
    server.createContext("/api/v1/series", handler(series))
    server.createContext("/api/v1/labels", handler(labels))
    server.createContext("/api/v1/label/", handler(labelValues))
    server.createContext("/metrics", metricsHandler(_))
    server.setExecutor(executor)
    server.start()
    this
  }
  def stop(): Unit = {
    server.stop(0)
    executor.shutdown()
  }

  // ------------------------------------------------------------ handlers
  /** Thanos' `max_source_resolution` request parameter: caps which
    * downsample layers may serve the query ("0s"/0 ⇒ raw only; "auto" or
    * absent ⇒ any admissible layer — our admission rule is exact-alignment,
    * stricter than Thanos' step/5 heuristic, so "auto" is the identity). */
  private def maxSourceRes(p: Params): Long =
    p.get("max_source_resolution") match {
      case None | Some("auto") => Long.MaxValue
      case Some(d)             => parseStep(d)
    }

  /** One native-histogram sample in Prometheus' API encoding:
    * `[ts, {"count":…,"sum":…,"buckets":[[rule,lo,hi,count],…]}]` with
    * buckets ascending by value — negative (open-right, rule 1), zero
    * bucket (closed both, rule 3), positive (open-left, rule 0). */
  private def histJson(ts: Long, h: graft.api.PromEngine.HistPoint): String = {
    val w = math.pow(2.0, -h.sch) // log2 of the bucket growth base
    val nhcb = h.sch == -53
    def bound(i: Int) = math.pow(2.0, i * w)
    // NHCB (schema -53): bucket bounds come from the custom-bounds array —
    // upper(i) = cb(i) (+Inf past the end), lower(i) = cb(i-1) (-Inf for
    // bucket 0) — and buckets are closed-right like classic `le` buckets
    def cUp(i: Int) = if (i < h.cb.size) h.cb(i) else Double.PositiveInfinity
    def cLo(i: Int) = if (i <= 0) Double.NegativeInfinity else h.cb(i - 1)
    val negB = h.neg.sortBy(-_._1).map { case (i, c) =>
      s"""[1,"${fmt(-bound(i))}","${fmt(-bound(i - 1))}","${fmt(c)}"]""" }
    val zeroB = if (h.zcnt != 0.0)
      Seq(s"""[3,"${fmt(-h.zthr)}","${fmt(h.zthr)}","${fmt(h.zcnt)}"]""") else Nil
    val posB = h.pos.sortBy(_._1).map { case (i, c) =>
      if (nhcb) s"""[0,"${fmt(cLo(i))}","${fmt(cUp(i))}","${fmt(c)}"]"""
      else s"""[0,"${fmt(bound(i - 1))}","${fmt(bound(i))}","${fmt(c)}"]""" }
    s"""[${tsStr(ts)},{"count":"${fmt(h.cnt)}","sum":"${fmt(h.hsum)}",""" +
      s""""buckets":[${(negB ++ zeroB ++ posB).mkString(",")}]}]"""
  }

  private def query(p: Params): String = {
    val t = p.time("time").getOrElse(System.currentTimeMillis())
    val (res, _, warns) = engine.instantQueryWithStats(p.required("query"), t,
      maxSourceRes(p))
    val items = res.map { s =>
      // a series is float- or histogram-valued at an instant; on a
      // mid-series type switch the LATEST sample decides, like Prometheus
      val latestHist = s.hists.lastOption.filter { case (hts, _) =>
        s.points.lastOption.forall(_._1 <= hts) }
      latestHist match {
        case Some((ts, h)) =>
          s"""{"metric":${labelsJson(s.labels)},"histogram":${histJson(ts, h)}}"""
        case None =>
          val (ts, v) = s.points.lastOption.getOrElse((t, Double.NaN))
          s"""{"metric":${labelsJson(s.labels)},"value":[${tsStr(ts)},"${fmt(v)}"]}"""
      }
    }
    envelopeRaw(s"""{"resultType":"vector","result":[${items.mkString(",")}]}""", warns)
  }

  private def queryRange(p: Params): String = {
    val start = p.time("start").getOrElse(fail("missing start"))
    val end = p.time("end").getOrElse(fail("missing end"))
    val step = (p.get("step").map(parseStep).getOrElse(fail("missing step"))).max(1L)
    val (res, _, warns) = engine.rangeQueryWithStats(p.required("query"),
      start, end, step, maxSourceRes(p))
    val items = res.map { s =>
      val vals = s.points.map { case (ts, v) => s"""[${tsStr(ts)},"${fmt(v)}"]""" }
      val hists = s.hists.map { case (ts, h) => histJson(ts, h) }
      val fields = Seq(s"\"metric\":${labelsJson(s.labels)}") ++
        (if (vals.nonEmpty || hists.isEmpty)
           Seq(s"\"values\":[${vals.mkString(",")}]") else Nil) ++
        (if (hists.nonEmpty) Seq(s"\"histograms\":[${hists.mkString(",")}]") else Nil)
      s"{${fields.mkString(",")}}"
    }
    envelopeRaw(s"""{"resultType":"matrix","result":[${items.mkString(",")}]}""", warns)
  }

  private def series(p: Params): String = {
    val sets = p.all("match[]").map(parseMatchers)
    if (sets.isEmpty) fail("no match[] argument")
    val (rows, truncated) = engine.series(sets,
      p.time("start").getOrElse(Long.MinValue / 2), p.time("end").getOrElse(Long.MaxValue / 2),
      p.limit())
    envelopeRaw(s"[${rows.map(labelsJson).mkString(",")}]",
      if (truncated) Seq("results truncated due to limit") else Seq.empty)
  }

  private def labels(p: Params): String = {
    val ms = p.all("match[]").headOption.map(parseMatchers).getOrElse(Seq.empty)
    val names = engine.labelNames(ms,
      p.time("start").getOrElse(Long.MinValue / 2), p.time("end").getOrElse(Long.MaxValue / 2))
    // limit applies to /labels too (ref api/http/query.go limit handling);
    // label-NAME cardinality is tiny, so the take here is already bounded
    val (out, truncated) = graft.sources.SeriesStore.truncated(names, p.limit())
    envelopeRaw(s"[${out.map(jstr).mkString(",")}]",
      if (truncated) Seq("results truncated due to limit") else Seq.empty)
  }

  private def labelValues(p: Params): String = {
    // path: /api/v1/label/<name>/values
    val parts = p.path.split("/").filter(_.nonEmpty) // api, v1, label, <name>, values
    if (parts.length != 5 || parts(4) != "values") fail(s"bad path ${p.path}")
    val ms = p.all("match[]").headOption.map(parseMatchers).getOrElse(Seq.empty)
    val (vals, truncated) = engine.labelValues(parts(3), ms,
      p.time("start").getOrElse(Long.MinValue / 2), p.time("end").getOrElse(Long.MaxValue / 2),
      p.limit())
    envelopeRaw(s"[${vals.map(jstr).mkString(",")}]",
      if (truncated) Seq("results truncated due to limit") else Seq.empty)
  }

  // ------------------------------------------------------------ plumbing
  private final case class Params(path: String, map: Map[String, Seq[String]]) {
    def get(k: String): Option[String] = map.get(k).flatMap(_.headOption)
    def all(k: String): Seq[String] = map.getOrElse(k, Seq.empty)
    def required(k: String): String = get(k).getOrElse(fail(s"missing $k"))
    /** unix seconds (float) or RFC3339 (ref api/http/query.go:279-327). */
    def time(k: String): Option[Long] = get(k).map { s =>
      try {
        if (s.forall(c => c.isDigit || c == '.' || c == '-')) (s.toDouble * 1000).toLong
        else java.time.Instant.parse(s).toEpochMilli
      } catch { case _: Exception => fail(s"invalid time '$s'") }
    }
    /** `limit` param, validated centrally for every introspection endpoint
      * (Prometheus parseLimitParam): non-numeric → 400 bad_data (not a 500
      * NumberFormatException), negative → 400 "limit must be non-negative";
      * absent/0 = unlimited. */
    def limit(): Int = get("limit") match {
      case None => 0
      case Some(s) =>
        val n = try s.toInt
          catch { case _: NumberFormatException =>
            fail(s"limit must be a number: $s") }
        if (n < 0) fail("limit must be non-negative") else n
    }
  }

  private def parseStep(s: String): Long =
    try { if (s.forall(c => c.isDigit || c == '.')) (s.toDouble * 1000).toLong
          else Parser.parseDuration(s) }
    catch { case _: Exception => fail(s"invalid step '$s'") }

  private def parseMatchers(sel: String): Seq[LabelMatcher] =
    Parser.parse(sel) match {
      case graft.promql.Ast.Selector(name, ms, None, 0L, None) =>
        name.map(n => graft.promql.MatchEq("__name__", n) +: ms).getOrElse(ms)
      case _ => fail(s"match[] must be a series selector: $sel")
    }

  private final class BadRequest(val msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new BadRequest(msg)

  private def handler(f: Params => String)(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    // Prometheus status mapping: bad_data→400, unavailable→503, internal→500
    // (prometheus web/api/v1 respondError; ref api/http/query.go).
    val (code, resp) =
      try (200, gate.run() { f(params(ex)) })
      catch {
        case e: BadRequest => (400, errorJson("bad_data", e.msg))
        case e: ParseException => (400, errorJson("bad_data", e.getMessage))
        case e: graft.limits.QuotaExceededException =>
          (503, errorJson("unavailable", e.getMessage))
        case e: Exception => (500, errorJson("internal", String.valueOf(e.getMessage)))
      }
    metrics.record(code, ex.getRequestMethod, normalizePath(ex.getRequestURI.getPath),
      (System.nanoTime() - t0) / 1e9)
    val bytes = resp.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** `/api/v1/label/<name>/values` → one instrument series, like the
    * reference's route pattern (`api/http/query.go:179`). */
  private def normalizePath(p: String): String =
    if (p.startsWith("/api/v1/label/")) "/api/v1/label/:name/values" else p

  private val metrics = new ApiMetrics
  private def metricsHandler(ex: HttpExchange): Unit = {
    val bytes = metrics.render().getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4")
    ex.sendResponseHeaders(200, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def params(ex: HttpExchange): Params = {
    val fromUrl = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val fromBody =
      if (ex.getRequestMethod == "POST") new String(ex.getRequestBody.readAllBytes(), UTF_8)
      else ""
    val raw = Seq(fromUrl, fromBody).filter(_.nonEmpty).mkString("&")
    val pairs = raw.split("&").filter(_.contains("=")).toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
    }
    Params(ex.getRequestURI.getPath, pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap)
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def labelsJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
  /** epoch-millis → plain-decimal seconds (no scientific notation). */
  private def tsStr(ms: Long): String =
    if (ms % 1000 == 0) (ms / 1000).toString
    else java.math.BigDecimal.valueOf(ms, 3).stripTrailingZeros.toPlainString
  private def fmt(v: Double): String =
    if (v.isNaN) "NaN" else if (v.isPosInfinity) "+Inf" else if (v.isNegInfinity) "-Inf"
    else if (v == v.toLong.toDouble && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  private def envelope(data: String): String =
    s"""{"status":"success","data":$data}"""
  private def envelopeRaw(data: String, warnings: Seq[String]): String =
    if (warnings.isEmpty) s"""{"status":"success","data":$data}"""
    else s"""{"status":"success","warnings":[${warnings.map(jstr).mkString(",")}],"data":$data}"""
  private def errorJson(typ: String, msg: String): String =
    s"""{"status":"error","errorType":${jstr(typ)},"error":${jstr(msg)}}"""
}
