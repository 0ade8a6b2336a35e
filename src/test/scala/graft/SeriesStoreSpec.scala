package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.etl.{Ingest, ReferenceFormat, TsdbBlock}
import graft.promql.{Eval, LabelMatcher, MatchEq, MatchRe}
import graft.sources.{SeriesStore, Tables, TsdbBlockReader}

/** One small events fixture written in each of the five serving layouts:
  * `SeriesStore.open` must recognize every layout (with its precedence) and
  * every store must answer `select`, `labelNames`, `labelValues` and a
  * limited `series` alike. Intervals are whole days because the raw-TSDB
  * store answers label queries at chunk granularity by contract. */
class SeriesStoreSpec extends SparkSpec {
  import spark.implicits._

  private val D = 86400000L
  private val jan1 = 1704067200000L

  /** Day 0: click × uid 0-3 and purchase × uid 0-1; day 1: click × uid
    * 2-5 only — so every answer depends on the interval. Hourly samples. */
  private lazy val rawDir: String = {
    val dir = Files.createTempDirectory("graft-stores-raw").toString
    val rows = for {
      (day, name, uids) <- Seq((0, "click", 0 to 3), (0, "purchase", 0 to 1),
                               (1, "click", 2 to 5))
      uid <- uids
      h <- 0 until 24
    } yield (name, uid.toLong, new java.sql.Timestamp(jan1 + day * D + h * 3600000L),
      (uid * 100 + h).toDouble)
    rows.zipWithIndex.map { case ((n, u, ts, v), i) => (n, u, ts, v, i.toLong) }
      .toDF("event_type", "user_id", "ts", "value", "event_id")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }
  private def events: DataFrame = Tables(spark, rawDir).events
  private def samples: DataFrame = graft.model.TimeSeriesModel.samples(events)

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** layout name → (store directory, check that `open` picked that layout) */
  private lazy val layouts: Seq[(String, String, SeriesStore => Boolean)] = {
    def filesUnder(s: SeriesStore, part: String) = {
      val fs = s.select().inputFiles
      fs.nonEmpty && fs.forall(_.contains(part))
    }
    val chunked = tmp("graft-stores-chunked")
    Ingest.convertChunked(spark, events, chunked)
    val flat = tmp("graft-stores-flat")
    Ingest.convert(spark, events, flat)
    val ref = tmp("graft-stores-ref")
    ReferenceFormat.convertReference(spark, samples, ref)
    // one raw TSDB block per day
    val tsdb = tmp("graft-stores-tsdb")
    val pts = samples.select("__name__", "uid", "ts_ms", "value").as[(String, String, Long, Double)]
      .collect().toSeq
    pts.groupBy(p => ((p._3 - jan1) / D).toInt).toSeq.sortBy(_._1).foreach { case (day, ps) =>
      val series = ps.groupBy(p => Map("__name__" -> p._1, "uid" -> p._2)).toSeq.map {
        case (lbls, sps) => lbls -> (new GenericArrayData(sps.sortBy(_._3)
          .map(p => InternalRow(p._3, p._4, null)).toArray[Any])
          : org.apache.spark.sql.catalyst.util.ArrayData)
      }
      TsdbBlock.writeBlock(tsdb, f"01HV0SERIESSTORESPECBLK$day%03d", series)
    }
    Seq(
      ("chunked", chunked, filesUnder(_, s"$chunked/chunks/")),
      ("flat", flat, filesUnder(_, s"$flat/samples/")),
      ("reference", ref, _.select().inputFiles.exists(_.endsWith(".chunks.parquet"))),
      ("raw-tsdb", tsdb, _.isInstanceOf[TsdbBlockReader.OpenTsdbBucket]),
      ("raw-fixture", rawDir, filesUnder(_, "events.parquet")))
  }

  test("open recognizes each layout, chunks before samples") {
    for ((name, dir, picked) <- layouts) {
      val s = SeriesStore.open(spark, dir)
      try {
        assert(picked(s), s"$name: wrong layout for $dir")
        assert(s.labelColumns.toSet == Set("__name__", "uid"), name)
      } finally s.close()
    }
    // a directory holding both the chunk-file and the flat layout serves
    // the chunk files
    val both = tmp("graft-stores-both")
    Ingest.convert(spark, events, both)
    Ingest.convertChunked(spark, events, both)
    val fs = SeriesStore.open(spark, both).select().inputFiles
    assert(fs.nonEmpty && fs.forall(_.contains(s"$both/chunks/")))
  }

  test("a chunk-layout store prunes each select by its bounds before decoding") {
    val (name, dir, _) = layouts.head
    assert(name == "chunked")
    val store = SeriesStore.open(spark, dir)
    val (lo, hi) = (jan1 + D, jan1 + 2 * D - 1)
    val sel = store.select(lo, hi)
    val scans = sel.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1)
    val pushed = scans.head.metadata("PushedFilters")
    for (f <- Seq(s"GreaterThanOrEqual(maxt,$lo)", s"LessThanOrEqual(mint,$hi)"))
      assert(pushed.contains(f), s"missing pushed filter $f in:\n$pushed")
    assert(scans.head.metadata("PartitionFilters").contains("date"))
    val want = samples.filter($"ts_ms".between(lo, hi)).count()
    assert(want > 0 && want < samples.count())
    assert(sel.count() == want)
  }

  test("every layout answers select and introspection alike") {
    val stores = layouts.map { case (name, dir, _) => name -> SeriesStore.open(spark, dir) }
    try {
      val clicks: Seq[Seq[LabelMatcher]] = Seq(Seq(MatchEq("__name__", "click")))
      val anyUid: Seq[Seq[LabelMatcher]] = Seq(Seq(MatchRe("uid", ".+")))
      def answers(s: SeriesStore, lo: Long, hi: Long) = {
        def rows(sets: Seq[Seq[LabelMatcher]]) = {
          val df = s.select(lo, hi, sets)
          (if (sets.isEmpty) Eval.select(df, Nil, lo, hi)
           else Eval.selectUnion(df, sets, lo, hi)).count()
        }
        Seq(rows(Nil), rows(clicks),
          s.labelNames(Nil, lo, hi), s.labelNames(clicks, lo, hi),
          s.labelValues("uid", Nil, lo, hi), s.labelValues("uid", clicks, lo, hi),
          s.labelValues("__name__", anyUid, lo, hi),
          s.labelValues("uid", Nil, lo, hi, limit = 2),
          s.series(anyUid, lo, hi), s.series(clicks, lo, hi, limit = 3))
      }
      for ((lo, hi) <- Seq((jan1, jan1 + D - 1), (jan1 + D, jan1 + 2 * D - 1),
                           (jan1, jan1 + 2 * D - 1))) {
        val want = answers(stores.last._2, lo, hi) // the raw fixture
        stores.init.foreach { case (name, s) =>
          assert(answers(s, lo, hi) == want, s"$name over [$lo, $hi]")
        }
      }
      // the day-0 expectations themselves, and the limit+1 contract
      val raw = stores.last._2
      val (lo, hi) = (jan1, jan1 + D - 1)
      assert(raw.labelValues("uid", Nil, lo, hi) == Seq("0", "1", "2", "3"))
      assert(raw.labelValues("__name__", Nil, jan1 + D, jan1 + 2 * D - 1) == Seq("click"))
      stores.foreach { case (name, s) =>
        val limited = s.series(Nil, lo, hi, limit = 3)
        assert(limited.size == 4, s"$name: limit+1 entries")
        assert(SeriesStore.truncated(limited, 3) == (limited.take(3), true), name)
        assert(SeriesStore.truncated(s.series(Nil, lo, hi, limit = 6), 6)._2 == false,
          s"$name: 6 series fit a limit of 6")
      }
    } finally stores.foreach(_._2.close())
  }

  test("a frame's empty label value is an absent label") {
    val df = Seq[(String, String, String, Long, Double)](
      ("x", "a", "", jan1 + 1000L, 1.0),
      ("x", "a", null, jan1 + 2000L, 2.0), // the same series as the row above
      ("x", "b", null, jan1 + 3000L, 3.0),
      ("y", "", "p", jan1 + 4000L, 4.0))
      .toDF("__name__", "svc", "env", "ts_ms", "value")
    val store = new graft.sources.FrameStore(df)
    val (lo, hi) = (jan1, jan1 + D - 1)
    assert(store.series(Nil, lo, hi) == Seq(
      Map("__name__" -> "x", "svc" -> "a"), Map("__name__" -> "x", "svc" -> "b"),
      Map("__name__" -> "y", "env" -> "p")))
    assert(store.labelNames(Nil, lo, hi) == Seq("__name__", "env", "svc"))
    assert(store.labelNames(Seq(Seq(MatchEq("__name__", "x"))), lo, hi) == Seq("__name__", "svc"))
    assert(store.labelNames(Seq(Seq(MatchEq("__name__", "y"))), lo, hi) == Seq("__name__", "env"))
  }
}
