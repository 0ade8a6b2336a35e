package graft.perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.PromEngine

/** A parsed PromQL answer: label set → (ts ms, value) points. */
final case class Answer(series: Map[Map[String, String], Seq[(Long, Double)]]) {
  def points: Int = series.valuesIterator.map(_.size).sum
}

/** Outcome of one request: wall latency, response size, and `error` when
  * the request failed (transport, non-2xx, error envelope, timeout) or
  * answered wrongly. */
final case class Outcome(req: Req, ms: Double, bytes: Int, points: Int,
                         error: Option[String], answer: Option[Answer]) {
  def ok: Boolean = error.isEmpty
  /** A reply arrived but was wrong: non-2xx, an error envelope, or an
    * answer that disagrees with the generator. Transport errors and
    * timeouts are failures without being wrong. */
  def wrong: Boolean = error.exists(!_.startsWith(ApiClient.Transport))
}

/** HTTP client + answer checks. One shared JDK client; requests are plain
  * GETs with URL-encoded parameters, as Grafana sends them. */
final class ApiClient(port: Int, timeoutS: Int = 60) {
  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val mapper = new ObjectMapper()

  def uri(r: Req): URI = {
    val qs = r.params.map { case (k, v) =>
      URLEncoder.encode(k, UTF_8) + "=" + URLEncoder.encode(v, UTF_8) }.mkString("&")
    URI.create(s"http://127.0.0.1:$port${r.path}?$qs")
  }

  def send(r: Req): Outcome = {
    val t0 = System.nanoTime()
    val resp = try Right(client.send(
      HttpRequest.newBuilder(uri(r)).timeout(Duration.ofSeconds(timeoutS.toLong)).GET().build(),
      HttpResponse.BodyHandlers.ofString()))
    catch { case e: Exception => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    resp match {
      case Left(err) => Outcome(r, ms, 0, 0, Some(s"${ApiClient.Transport}$err"), None)
      case Right(h) =>
        val body = h.body()
        val bytes = body.getBytes(UTF_8).length
        if (h.statusCode() / 100 != 2)
          Outcome(r, ms, bytes, 0, Some(s"http ${h.statusCode()}: ${body.take(200)}"), None)
        else {
          val (err, ans) = check(r, body)
          Outcome(r, ms, bytes, ans.map(_.points).getOrElse(0), err, ans)
        }
    }
  }

  /** Envelope + expectation check; returns the parsed PromQL answer. */
  def check(r: Req, body: String): (Option[String], Option[Answer]) = {
    val root = try mapper.readTree(body) catch { case e: Exception => return (Some(s"bad json: $e"), None) }
    if (root.path("status").asText() != "success")
      return (Some(s"status ${root.path("status").asText()}: ${root.path("error").asText()}"), None)
    val data = root.path("data")
    def warned = root.path("warnings").elements().asScala.exists(_.asText().contains("truncated"))
    r.expect match {
      case Expect.Series(n) =>
        val a = Answers.parse(data)
        (if (a.series.size == n) None else Some(s"${a.series.size} series, expected $n"), Some(a))
      case Expect.SeriesBetween(lo, hi) =>
        val a = Answers.parse(data)
        (if (a.series.size >= lo && a.series.size <= hi) None
         else Some(s"${a.series.size} series, expected $lo..$hi"), Some(a))
      case Expect.Strings(want) =>
        val got = data.elements().asScala.map(_.asText()).toSeq
        (if (got == want) None else Some(s"got ${got.take(10)}…(${got.size}), expected ${want.take(10)}…(${want.size})"), None)
      case Expect.LabelSets(n, truncated) =>
        val got = data.size()
        (if (got == n && warned == truncated) None
         else Some(s"$got label sets (truncated=$warned), expected $n (truncated=$truncated)"), None)
    }
  }
}

object ApiClient {
  val Transport = "transport: "
}

object Answers {
  private def toMs(s: String): Long =
    new java.math.BigDecimal(s).movePointRight(3).longValueExact()
  private def num(s: String): Double = s match {
    case "NaN" => Double.NaN
    case "+Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case v => v.toDouble
  }
  private def labels(n: JsonNode): Map[String, String] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  /** `data` of a vector or matrix envelope → [[Answer]]. */
  def parse(data: JsonNode): Answer = {
    val out = data.path("result").elements().asScala.map { s =>
      val pts =
        if (s.has("values")) s.get("values").elements().asScala
          .map(p => (toMs(p.get(0).asText()), num(p.get(1).asText()))).toSeq
        else if (s.has("value")) Seq((toMs(s.get("value").get(0).asText()), num(s.get("value").get(1).asText())))
        else Seq.empty
      labels(s.path("metric")) -> pts
    }.toMap
    Answer(out)
  }

  def of(ss: Seq[PromEngine.Series]): Answer =
    Answer(ss.map(s => s.labels -> s.points).toMap)

  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)) + 1e-12

  /** Value-for-value comparison; `None` when equal within 1e-9 relative
    * (aggregation order may differ between the two plans). */
  def diff(got: Answer, want: Answer): Option[String] = {
    if (got.series.keySet != want.series.keySet)
      return Some(s"label sets differ: got ${got.series.size}, want ${want.series.size}; " +
        s"only-got ${(got.series.keySet -- want.series.keySet).take(2)}, " +
        s"only-want ${(want.series.keySet -- got.series.keySet).take(2)}")
    want.series.collectFirst {
      case (k, w) if {
        val g = got.series(k)
        g.size != w.size || g.zip(w).exists { case ((t1, v1), (t2, v2)) => t1 != t2 || !close(v1, v2) }
      } => s"series $k: got ${got.series(k).take(3)}…(${got.series(k).size}), want ${w.take(3)}…(${w.size})"
    }
  }
}
