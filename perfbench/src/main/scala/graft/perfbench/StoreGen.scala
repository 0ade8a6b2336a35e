package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._

/** Seeded synthetic Prometheus store: two metric families over
  * `jobs × instances`, sampled every `scrapeMs` for `days` UTC days.
  *
  *  - `http_requests_total{job,instance,region,method,code}` — counters;
  *  - `node_load{job,instance,region}` — gauges.
  *
  * The series set is a pure function of (seed, instances); every sample is
  * a pure function of (seed, series, step index) through [[value]], so the
  * Spark frame, the raw TSDB blocks and the expected answers all derive
  * from the one definition. The store size is fixed for a given shape;
  * the seed moves region assignment, counter rates and every value. */
final class StoreGen(val seed: Long, val instances: Int, val days: Int,
                     val scrapeMs: Long = 60000L) extends Serializable {
  import StoreGen._

  val startMs: Long = Day0Ms
  val pointsPerSeries: Int = (days * DayMs / scrapeMs).toInt
  /** timestamp of the last sample of every series. */
  val endMs: Long = startMs + (pointsPerSeries - 1) * scrapeMs

  val instanceNames: Seq[String] = (0 until instances).map(i => f"i-$i%03d")

  /** series id → (family, labels); ids are dense from 0. */
  val series: IndexedSeq[Series] = {
    val b = IndexedSeq.newBuilder[Series]
    var id = 0
    def add(fam: Int, group: Int, lbls: Map[String, String]): Unit = {
      b += Series(id, fam, group, lbls); id += 1
    }
    var group = 0
    for (job <- Jobs; inst <- instanceNames) {
      val region = Regions(java.lang.Math.floorMod(mix(seed, job.hashCode.toLong, inst.hashCode.toLong), Regions.size.toLong).toInt)
      val base = Map("job" -> job, "instance" -> inst, "region" -> region)
      for (m <- Methods; c <- Codes)
        add(Counter, group, base ++ Map("__name__" -> CounterName, "method" -> m, "code" -> c))
      add(Gauge, group, base + ("__name__" -> GaugeName))
      group += 1
    }
    b.result()
  }

  def sampleCount: Long = series.size.toLong * pointsPerSeries

  /** Per-series counter slope: 4..11 per scrape, so a counter stays
    * strictly increasing whatever the 0..3 jitter does. */
  private def slope(s: Series): Long = 4 + java.lang.Math.floorMod(mix(seed, s.group.toLong, 17L), 8L)

  /** The sample value of series `s` at step `t` — the single definition the
    * frame, the TSDB blocks and the checks share. */
  def value(s: Series, t: Int): Double = s.family match {
    case Counter =>
      (slope(s) * t + java.lang.Math.floorMod(mix(seed, s.id.toLong, t.toLong), 4L)).toDouble
    case _ =>
      50.0 + java.lang.Math.floorMod(mix(seed, s.id.toLong, t.toLong), 5000L) / 100.0
  }

  /** The unconverted samples frame: label columns + ts_ms/value/sample_id/
    * series_hash — the engine's samples model, so a [[graft.api.PromEngine]]
    * over it is the layout-independent reference. */
  def frame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val defs = series.map(s => (s.id, LabelNames.map(l => s.labels.getOrElse(l, null)))).toSeq
      .toDF("sid", "lbls")
    val valueUdf = udf((sid: Int, t: Long) => value(series(sid), t.toInt))
    spark.range(pointsPerSeries.toLong).toDF("t")
      .crossJoin(broadcast(defs))
      .select(LabelNames.zipWithIndex.map { case (l, i) => col("lbls").getItem(i).as(l) } ++
        Seq((lit(startMs) + col("t") * scrapeMs).as("ts_ms"),
          valueUdf(col("sid"), col("t")).as("value"),
          col("t").as("sample_id"),
          xxhash64(col("sid"), lit(seed)).as("series_hash")): _*)
  }

  /** One raw TSDB block per UTC day (day index `d`), as the write path
    * [[graft.etl.TsdbBlock.writeBlock]] takes it. */
  def blockSeries(d: Int): Seq[(Map[String, String], ArrayData)] = {
    val perDay = (DayMs / scrapeMs).toInt
    series.map { s =>
      val pts = (d * perDay until (d + 1) * perDay).map { t =>
        InternalRow(startMs + t * scrapeMs, value(s, t), null)
      }
      s.labels -> (new GenericArrayData(pts.toArray[Any]): ArrayData)
    }
  }

  /** Checksum expression over any frame with the label columns + ts_ms +
    * value: (count, Σ hash(series key, ts, value) mod 2^31). Applied to the
    * generator frame and to a read-back bucket, equal pairs mean equal
    * sample multisets (up to hash collisions). */
  def checksum(df: DataFrame): (Long, Long) = {
    val key = concat_ws(",", LabelNames.map(l => coalesce(col(l), lit(""))): _*)
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(key, col("ts_ms"), col("value")), lit(2147483648L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  // ---------------------------------------------------- expected answers
  /** Series of `metric` passing every matcher (missing label ≡ ""). */
  def matching(ms: Seq[M]): Seq[Series] =
    series.filter(s => ms.forall(m => m.accepts(s.labels.getOrElse(m.label, ""))))

  /** Number of distinct `by`-projections over the matching series — the
    * result series count of `sum by (by) (f(selector))`. */
  def groups(ms: Seq[M], by: Seq[String]): Int =
    matching(ms).map(s => by.map(l => s.labels.getOrElse(l, ""))).distinct.size
}

object StoreGen {
  val DayMs = 86400000L
  /** 2024-01-01T00:00:00Z */
  val Day0Ms = 1704067200000L

  val Counter = 0; val Gauge = 1
  val CounterName = "http_requests_total"
  val GaugeName = "node_load"
  val Jobs = Seq("api", "web", "db")
  val Regions = Seq("eu", "us", "ap")
  val Methods = Seq("GET", "POST")
  val Codes = Seq("200", "404", "500")
  val LabelNames = Seq("__name__", "code", "instance", "job", "method", "region")

  final case class Series(id: Int, family: Int, group: Int, labels: Map[String, String])

  /** A label matcher owned by the benchmark: rendered into PromQL text and
    * evaluated here, independently of the engine's own matcher code. */
  final case class M(label: String, op: String, value: String) {
    private lazy val re = java.util.regex.Pattern.compile("^(?:" + value + ")$")
    def accepts(v: String): Boolean = op match {
      case "="  => v == value
      case "!=" => v != value
      case "=~" => re.matcher(v).matches()
      case "!~" => !re.matcher(v).matches()
    }
    def render: String = s"""$label$op"${value.replace("\\", "\\\\")}""""
  }
  def sel(metric: String, ms: M*): (String, Seq[M]) = {
    val all = M("__name__", "=", metric) +: ms
    val inner = ms.map(_.render).mkString(",")
    (if (inner.isEmpty) metric else s"$metric{$inner}", all)
  }

  /** splitmix64 finaliser over a combined key — cheap, seedable, stable. */
  def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
