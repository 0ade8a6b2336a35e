package graft.examples

import java.time.LocalDate
import org.apache.spark.sql.functions._
import graft.etl.{Downsample, Ingest, Planner, Retention}
import graft.sources.Tables
import graft.streaming.EventsStream

/** End-to-end ETL walkthrough over the sf0.001 fixture: convert → discover →
  * partition-pruned query → plan → retention → streaming ingest.
  * `runMain graft.examples.EtlDemo [sfDir]` — prints one DRIVE line per step. */
object EtlDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val t = Tables(spark, sfDir)
    val out = sys.env.getOrElse("GRAFT_DEMO_OUT",
      java.nio.file.Files.createTempDirectory("graft-etl-demo").toString)

    val metas = Ingest.convert(spark, t.events, out)
    println(s"DRIVE convert: ${metas.size} days, first=${metas.head}")
    println(s"DRIVE discover: ${Ingest.discoverDays(out).size} days")

    val back = Ingest.openSamples(spark, out)
    println(s"DRIVE roundtrip rows: ${back.count()} vs ${t.events.count()}")
    val pruned = back.filter(col("date") === metas.head.date)
    val planStr = pruned.queryExecution.executedPlan.toString
    println("DRIVE pruning: " + planStr.linesIterator
      .filter(_.contains("PartitionFilters")).take(1).mkString.trim.take(160))

    // chunk-file layout: Gorilla frames + decode-on-read (serve it with
    // `runMain graft.examples.Serve <port> $out/chunked`)
    Ingest.convertChunked(spark, t.events, s"$out/chunked")
    val frames = spark.read.parquet(s"$out/chunked/chunks").count()
    val cback = Ingest.openChunkedSamples(spark, s"$out/chunked").count()
    println(s"DRIVE chunked: $frames frames decode to $cback samples")

    // 1h downsample layer + reset-aware increase recomposed from it
    val layerDir = s"$out/downsample-${Downsample.Res1h}"
    Downsample.refreshDates(spark, back, layerDir, Downsample.Res1h,
      Ingest.discoverDays(out))
    val layer = Downsample.openLayer(spark, layerDir)
    println(s"DRIVE downsample: ${layer.count()} layer rows for ${back.count()} raw " +
      s"samples; increase rows=${Downsample.counterIncrease(layer).count()}")

    val plan = Planner.planDays(metas.map(m => LocalDate.parse(m.date)).toSet,
      Set(LocalDate.parse(metas.head.date)), LocalDate.of(2024, 2, 1))
    println(s"DRIVE plan(newest-first, grace, max 2): ${plan.days}")

    // discovery-driven conversion loop (advanceConversion analog): TSDB block
    // sidecars → per-stream plans → incremental converts until converged
    locally {
      import graft.etl.{ConvertLoop, TsdbDiscoverer}
      import graft.model.TimeSeriesModel
      val D = 86400000L
      val jan1 = 1704067200000L
      val tsdbRoot = java.nio.file.Files.createTempDirectory("graft-demo-tsdb").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tsdbRoot/blk1"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tsdbRoot/blk1/meta.json"),
        s"""{"ulid":"blk1","minTime":$jan1,"maxTime":${jan1 + 3 * D},
           | "stats":{"numChunks":4},
           | "thanos":{"labels":{"cluster":"demo"},"downsample":{"resolution":0}}}"""
          .stripMargin)
      val disc = new TsdbDiscoverer(tsdbRoot, now = () => jan1 + 40 * D)
      val loopOut = java.nio.file.Files.createTempDirectory("graft-demo-loop").toString
      var rounds = 0
      var last = ConvertLoop.RoundResult(Map.empty)
      while ({ last = ConvertLoop.advance(spark, disc, loopOut,
          LocalDate.of(2024, 1, 10), _ => TimeSeriesModel.samples(t.events)); rounds += 1
          !last.converged }) ()
      println(s"DRIVE convert-loop: converged after $rounds rounds, " +
        s"streams=${Ingest.discoverStreamDays(loopOut).map { case (k, v) => s"$k:${v.size}d" }.mkString(",")}")
    }

    Retention.markExpired(out, Seq(metas.head.date), nowMs = 0L)
    println(s"DRIVE retention deleted: ${Retention.deleteMarked(out, nowMs = 13L * 3600 * 1000)}")

    val src = java.nio.file.Files.createTempDirectory("graft-etl-src").toString
    t.table("events").write.parquet(s"$src/b0")
    val q = EventsStream.runToMemory(
      EventsStream.windowedCounts(EventsStream.source(spark, s"$src/*")), "demo_counts")
    q.processAllAvailable(); q.stop()
    println(s"DRIVE streaming windows emitted: ${spark.table("demo_counts").count()}")
    spark.stop()
  }
}
