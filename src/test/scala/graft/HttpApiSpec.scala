package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.api.{HttpApi, PromEngine}
import graft.model.TimeSeriesModel
import graft.sources.{FrameStore, Tables}

/** End-to-end HTTP surface: Prometheus-compatible endpoints + envelope
  * (ref api/http/query.go response shapes). */
class HttpApiSpec extends SparkSpec {

  private val DAY = 86400000L
  private val TI = 1704067200000L + 14 * DAY

  private lazy val api = new HttpApi(
    new PromEngine(new FrameStore(TimeSeriesModel.samples(Tables(spark, sf()).events)),
      lookbackMs = DAY)).start()
  private lazy val client = HttpClient.newHttpClient()

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)

  private def get(pathAndQuery: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.boundPort}$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("instant query returns a vector envelope") {
    val (code, body) = get(s"/api/v1/query?query=${enc("""sum by (__name__) ({uid!=""})""")}&time=${TI / 1000}")
    assert(code == 200)
    assert(body.startsWith("""{"status":"success","data":{"resultType":"vector""""))
    assert(body.contains(""""__name__":"purchase""""))
  }

  test("range query returns a matrix with per-step values") {
    val (code, body) = get(s"/api/v1/query_range?query=${enc("rate(purchase[1d])")}" +
      s"&start=${(TI - 2 * DAY) / 1000}&end=${TI / 1000}&step=6h")
    assert(code == 200)
    assert(body.contains(""""resultType":"matrix""""))
    assert(body.contains(""""values":[["""))
  }

  test("query endpoints surface analyzer warnings in the envelope") {
    val (code, body) = get(s"/api/v1/query?query=${enc("quantile(1.5, purchase)")}&time=${TI / 1000}")
    assert(code == 200)
    assert(body.contains(""""warnings":["""))
    assert(body.contains("quantile value should be between 0 and 1, got 1.5"))
  }

  test("series endpoint unions match[] sets and respects limit+warning") {
    val (code, body) = get(s"/api/v1/series?match[]=purchase&match[]=${enc("""{uid="3"}""")}")
    assert(code == 200 && body.contains(""""uid":"3""""))
    val (_, small) = get(s"/api/v1/series?match[]=${enc("""{uid!=""}""")}&limit=2")
    assert(small.contains("truncated") && small.count(_ == '{') >= 3)
  }

  test("labels and label values endpoints") {
    val (_, names) = get("/api/v1/labels")
    assert(names.contains("__name__") && names.contains("uid"))
    // limit applies to /labels too, with the truncation warning
    val (_, lim) = get("/api/v1/labels?limit=1")
    assert(lim.contains(""""data":["__name__"]""") &&
      lim.contains("results truncated due to limit"))
    val (_, vals) = get("/api/v1/label/__name__/values")
    assert(vals.contains("click") && vals.contains("purchase"))
    val (_, none) = get("/api/v1/label/nope/values")
    assert(none.contains(""""data":[]"""))
  }

  test("invalid limit params are 400 bad_data, not 500 or silently unlimited") {
    // Prometheus parseLimitParam: non-numeric and negative limits are
    // client errors on every introspection endpoint
    for (pq <- Seq("/api/v1/labels?limit=abc",
                   "/api/v1/labels?limit=-1",
                   s"/api/v1/series?match[]=purchase&limit=abc",
                   s"/api/v1/series?match[]=purchase&limit=-2",
                   "/api/v1/label/uid/values?limit=x",
                   "/api/v1/label/uid/values?limit=-1")) {
      val (code, body) = get(pq)
      assert(code == 400 && body.contains("bad_data"), s"$pq -> $code $body")
    }
    // limit=0 stays "unlimited", like Prometheus
    val (code, body) = get("/api/v1/labels?limit=0")
    assert(code == 200 && !body.contains("truncated"))
  }

  test("errors: bad promql and unknown params produce the error envelope") {
    val (code, body) = get("/api/v1/query?query=sum((")
    assert(code == 400 && body.startsWith("""{"status":"error""""))
    val (code2, _) = get("/api/v1/query_range?query=up&start=1&end=2")
    assert(code2 == 400) // missing step
  }

  test("native-histogram series serve Prometheus' histogram result encoding") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val h = struct(lit(4.0).as("cnt"), lit(5.0).as("hsum"), lit(0).as("sch"),
      lit(0.001).as("zthr"), lit(1.0).as("zcnt"),
      array(struct(lit(1).as("idx"), lit(3.0).as("c"))).as("pos"),
      array().cast("array<struct<idx:int,c:double>>").as("neg"), lit(null).cast("array<double>").as("cb"))
    val df = Seq(("hreq", "a", 1000L, 1L, 1.0))
      .toDF("__name__", "uid", "ts_ms", "sample_id", "value")
      .withColumn("series_hash", xxhash64($"__name__", $"uid"))
      .withColumn("h", h)
    val api2 = new HttpApi(new PromEngine(new FrameStore(df))).start()
    try {
      def get2(pq: String): String = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${api2.boundPort}$pq")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val body = get2(s"/api/v1/query?query=hreq&time=1")
      // zero bucket closed-both (rule 3), positive bucket (1,2] open-left
      assert(body.contains(""""histogram":[1,{"count":"4","sum":"5","buckets":""" +
        """[[3,"-0.001","0.001","1"],[0,"1","2","3"]]}]"""))
      assert(!body.contains(""""value":["""))
      val rng = get2(s"/api/v1/query_range?query=hreq&start=1&end=31&step=30")
      assert(rng.contains(""""histograms":[[1,{"count":"4"""))
      assert(rng.contains("""[31,{"count":"4""""))
      // float queries over the same store keep the plain value encoding
      val cnt = get2(s"/api/v1/query?query=${enc("histogram_count(hreq)")}&time=1")
      assert(cnt.contains(""""value":[1,"4"]"""))
      // r19: the histogram payload column is a sample VALUE, not a label —
      // it must not surface from /labels, /label values or /series
      assert(!get2("/api/v1/labels").contains("\"h\""))
      assert(get2("/api/v1/label/h/values").contains(""""data":[]"""))
      assert(!get2("/api/v1/series?match[]=hreq").contains("\"h\""))
    } finally api2.stop()
  }

  test("stop() ends the request worker threads, so an embedding JVM can exit") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    def workers(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => !t.isDaemon && t.getName.matches("pool-\\d+-thread-\\d+"))
    val before = workers()
    val df = Seq(("m", "a", 1000L, 1L, 1.0))
      .toDF("__name__", "uid", "ts_ms", "sample_id", "value")
    val api2 = new HttpApi(new PromEngine(new FrameStore(df))).start()
    client.send(HttpRequest.newBuilder(URI.create(
      s"http://127.0.0.1:${api2.boundPort}/metrics")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    val mine = workers() -- before
    assert(mine.nonEmpty, "the request ran on a pool worker")
    api2.stop()
    mine.foreach(_.join(10000))
    assert(mine.forall(!_.isAlive), s"workers alive after stop(): ${mine.filter(_.isAlive)}")
  }

  test("/metrics exposes requests_total and requests_seconds instrumentation") {
    get(s"/api/v1/query?query=${enc("vector(1)")}&time=${TI / 1000}")
    get("/api/v1/query?query=sum((") // a 400, separate series
    get("/api/v1/label/__name__/values")
    val (code, body) = get("/metrics")
    assert(code == 200)
    assert(body.contains("# TYPE requests_total counter"))
    assert(body.contains("# TYPE requests_seconds histogram"))
    assert(body.contains("""requests_total{code="200",method="GET",path="/api/v1/query"}"""))
    assert(body.contains("""requests_total{code="400",method="GET",path="/api/v1/query"}"""))
    // label-values route is normalized to one series per the route pattern
    assert(body.contains("""path="/api/v1/label/:name/values""""))
    // histogram shape: 20 finite buckets + +Inf, sum and count per series
    assert(body.contains("""le="0.1""""))
    assert(body.contains("""le="30""""))
    assert(body.contains("""le="+Inf""""))
    assert(body.contains("requests_seconds_sum") && body.contains("requests_seconds_count"))
  }
}
