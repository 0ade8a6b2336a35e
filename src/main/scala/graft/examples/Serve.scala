package graft.examples

import org.apache.spark.sql.SparkSession
import graft.api.{HttpApi, PromEngine}

/** The `serve` command analog (ref cmd/serve.go): Prometheus-compatible HTTP
  * API over a store directory in any serving layout
  * ([[graft.sources.SeriesStore.open]]).
  * `runMain graft.examples.Serve [port] [sfDir] [lookbackMs]`
  *
  * Quota env knobs, the `--select.*-quota` flag analogs (cmd/serve.go:106-110,
  * all unlimited by default like the reference):
  * `GRAFT_MAX_ROWS`, `GRAFT_MAX_SCAN_BYTES` (pre-flight estimate),
  * `GRAFT_MAX_READ_BYTES` (mid-scan charge). A tripped quota surfaces as
  * HTTP 503 `unavailable`, the ResourceExhausted mapping. */
object Serve {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(9090)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val lookback = if (args.length > 2) args(2).toLong else 86400000L
    val quotas = graft.limits.Quotas(
      maxRows = sys.env.get("GRAFT_MAX_ROWS").map(_.toLong),
      maxBytes = sys.env.get("GRAFT_MAX_SCAN_BYTES").map(_.toLong),
      maxBytesMidScan = sys.env.get("GRAFT_MAX_READ_BYTES").map(_.toLong))
    val spark = SparkSession.builder().master("local[8]")
      .appName("graft-serve")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    // production sessions run with the engine's optimizer rule active
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations ++ graft.plans.GraftRules.all
    spark.sparkContext.setLogLevel("WARN")
    // any serving layout — chunked, flat, reference bucket, raw TSDB blocks
    // or the raw fixture; see SeriesStore.open for the precedence. An open
    // raw-TSDB bucket pins a persisted refs dataset for the server's life;
    // release it on shutdown so in-JVM embedders don't leak the cache
    val store = graft.sources.SeriesStore.open(spark, sfDir)
    Runtime.getRuntime.addShutdownHook(new Thread(() => store.close()))
    // Thanos auto-downsampling: persisted downsample-<res> layers serve
    // aligned long-range queries transparently (graft.promql.LayerRoute)
    val layers = graft.etl.Downsample.discoverLayers(spark, sfDir)
    if (layers.nonEmpty)
      println(s"auto-downsampling layers: ${layers.keys.toSeq.sorted.mkString(", ")} ms")
    val histLayers = graft.etl.Downsample.discoverHistLayers(spark, sfDir)
    if (histLayers.nonEmpty)
      println(s"histogram layers: ${histLayers.keys.toSeq.sorted.mkString(", ")} ms")
    val api = new HttpApi(
      new PromEngine(store, lookback, quotas, layers, histLayers),
      port).start()
    println(s"SERVING on http://127.0.0.1:${api.boundPort}/api/v1/query")
    Thread.currentThread().join() // serve until killed
  }
}
