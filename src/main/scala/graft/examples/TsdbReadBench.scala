package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.etl.TsdbBlock
import graft.promql.{MatchEq, MatchNotRe, MatchRe}
import graft.sources.TsdbBlockReader

/** Scale probe for the distributed TSDB-block source: one real index-v2
  * block (S series × 10 metrics × 2 days of hourly XOR chunks), then the
  * four read shapes a migration actually issues —
  *
  *   - `full`: every series, every chunk (what convert does);
  *   - `postings`: one metric via eq-matcher pushdown (readPostings →
  *     readSeriesByIds) — should cost ~1/10th of full, and DECODE exactly
  *     S/10 series entries;
  *   - `regex`: same selectivity via the value dictionary
  *     (readLabelValues + anchored RE2 → postings);
  *   - `ranged`: day 2 only — chunk-granular pruning off the index.
  *
  * With `blocks > 1` the same series set is split across N blocks (the
  * multi-block bucket shape): the read's index-parse stage runs one task
  * PER BLOCK, so wall time should approach the single-block cost of a
  * 1/N-size block, not N× it.
  *
  * A fifth shape probes the worst-case postings ALGEBRA rather than I/O:
  *
  *   - `negated`: a `!~` matcher keeping ~90% of series — the negation
  *     resolves as allIds ∖ (union of every posted value), the shape that
  *     used to materialize boxed Set[Long]s and now runs as two-pointer
  *     merges over the sorted posting arrays.
  *
  * Usage: `runMain graft.examples.TsdbReadBench [series] [repeat] [blocks]
  * [mode]` — mode `open` skips the load shapes and runs only the
  * open-bucket serving section (open cost + slice cost at three widths),
  * for block-count scaling rehearsals where writing is the bound.
  * Prints one JSON line with min-of-repeat seconds, row and decode counts.
  */
object TsdbReadBench {

  def main(args: Array[String]): Unit = {
    val nSeries = if (args.length > 0) args(0).toInt else 50000
    val repeat = if (args.length > 1) args(1).toInt else 3
    val nBlocks = if (args.length > 2) args(2).toInt else 1
    val openOnly = args.length > 3 && args(3) == "open"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jan1 = 1704067200000L
    val day = 86400000L
    val hours = 48
    val root = java.nio.file.Files.createTempDirectory("graft-tsdbbench").toString
    // 10 metrics × nSeries/10 uids, 2 days of hourly samples per series.
    // The fixture is built PER BLOCK and dropped after each write: a
    // 1M-series in-memory series list is multiple GB of InternalRows, and
    // retaining it through the timed reads puts GC drag on every number
    // this bench exists to measure.
    def mkSeries(b: Int): Seq[(Map[String, String],
        org.apache.spark.sql.catalyst.util.ArrayData)] =
      (0 until nSeries).collect { case i if i % nBlocks == b =>
        val pts = new GenericArrayData((0 until hours).map(h =>
          InternalRow(jan1 + h * 3600000L, (i % 97 + h).toDouble, null)).toArray[Any])
        Map("__name__" -> s"m${i % 10}", "uid" -> (i / 10).toString) ->
          (pts: org.apache.spark.sql.catalyst.util.ArrayData)
      }
    val w0 = System.nanoTime()
    val dirs = (0 until nBlocks).map { b =>
      val ulid = f"01HV0READBENCHBLOCK${b}%07d"
      TsdbBlock.writeBlock(root, ulid, mkSeries(b))
      s"$root/$ulid"
    }
    val writeSec = (System.nanoTime() - w0) / 1e9
    val dir: Seq[String] = dirs

    def time(fn: () => Long): (Double, Long, Long, Long, Long, Long, Long) = {
      var rows = 0L; var decoded = 0L; var idxBytes = 0L; var segBytes = 0L
      var idxReads = 0L; var promos = 0L
      val secs = (1 to repeat).map { _ =>
        val d0 = TsdbBlock.seriesDecoded.get()
        val r0 = TsdbBlockReader.rangedIndexBytes.get()
        val n0 = TsdbBlockReader.rangedIndexReads.get()
        val p0 = TsdbBlock.wholeFilePromotions.get()
        val g0 = TsdbBlockReader.segmentBytesRead.get()
        val t0 = System.nanoTime()
        // scopedLoads: each shape owns and releases its refs cache, so a
        // shape's timing never pays cache pressure from earlier shapes
        rows = TsdbBlockReader.scopedLoads(fn())
        val dt = (System.nanoTime() - t0) / 1e9
        decoded = TsdbBlock.seriesDecoded.get() - d0
        idxBytes = TsdbBlockReader.rangedIndexBytes.get() - r0
        idxReads = TsdbBlockReader.rangedIndexReads.get() - n0
        promos = TsdbBlock.wholeFilePromotions.get() - p0
        segBytes = TsdbBlockReader.segmentBytesRead.get() - g0
        dt
      }
      (secs.min, rows, decoded, idxBytes, segBytes, idxReads, promos)
    }
    val shapes = if (openOnly) Nil else Seq[(String, () => Long)](
      "full" -> (() => TsdbBlockReader.loadSamples(spark, dir).count()),
      "postings" -> (() => TsdbBlockReader.loadSamples(spark, dir,
        matchers = Map("__name__" -> Seq("m3"))).count()),
      "regex" -> (() => TsdbBlockReader.loadSamplesMatching(spark, dir,
        Seq(MatchRe("__name__", "m3"), MatchEq("uid", "0"))).count()),
      // worst-case postings algebra: !~ keeps 9 of 10 metrics, so the index
      // task unions EVERY posted __name__ list and differences against
      // allIds — the merge-algebra heap/CPU probe at broad negation
      "negated" -> (() => TsdbBlockReader.loadSamplesMatching(spark, dir,
        Seq(MatchNotRe("__name__", "m3"))).count()),
      "ranged" -> (() => TsdbBlockReader.loadSamples(spark, dir,
        jan1 + day, jan1 + 2 * day - 1).count()))
    val results = shapes.map { case (n, fn) => (n, time(fn)) }

    // open-bucket SERVING shape: open once (the index-parse cost), then
    // repeated slices answer from the cached refs — the latency a query
    // pays once a bucket is open, vs the per-load cost above. Three slice
    // widths pin that slice cost tracks the WIDTH (surviving refs), while
    // open cost tracks the BLOCK COUNT.
    val ulids = (0 until nBlocks).map(b => f"01HV0READBENCHBLOCK${b}%07d")
    val o0 = System.nanoTime()
    val bucket = TsdbBlockReader.openBucket(spark, root, ulids)
    val openSec = (System.nanoTime() - o0) / 1e9
    def sliceMin(lo: Long, hi: Long): Double =
      (1 to math.max(2, repeat)).map { _ =>
        val t0 = System.nanoTime()
        bucket.select(lo, hi).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    val slice2h = sliceMin(jan1 + day, jan1 + day + 2 * 3600000L - 1)
    val sliceSec = sliceMin(jan1 + day, jan1 + 2 * day - 1)
    val sliceFull = sliceMin(Long.MinValue, Long.MaxValue)
    // bounded introspection at bucket scale: a LIMITED matcherless /series
    // must collect ≤ limit+1 rows off the cached refs however many series
    // the bucket holds (top-K plan, never a full driver materialization)
    val seriesLimited = (1 to math.max(2, repeat)).map { _ =>
      val t0 = System.nanoTime()
      val got = bucket.series(limit = 1000)
      require(got.size == 1001, s"series limit leaked: ${got.size}")
      (System.nanoTime() - t0) / 1e9
    }.min
    val labelsSec = (1 to math.max(2, repeat)).map { _ =>
      val t0 = System.nanoTime()
      val names = bucket.labelNames()
      require(names == Seq("__name__", "uid"), s"labels: $names")
      (System.nanoTime() - t0) / 1e9
    }.min
    bucket.close()

    // streaming series-walk memory probe: consume one block's whole index
    // through the LAZY readSeries iterator, sampling heap growth over the
    // baseline as the walk advances. The walk holds the index array plus
    // one decoded entry, so the peak must stay flat as the series count
    // scales — the old materialize-the-section walk grew linearly (all
    // entries alongside the index bytes).
    val idxBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dirs.head, "index"))
    val rt = Runtime.getRuntime
    def heapUsed(): Long = { System.gc(); rt.totalMemory() - rt.freeMemory() }
    val h0 = heapUsed()
    var walked = 0L; var peakB = 0L
    val walk = TsdbBlock.readSeries(idxBytes)
    while (walk.hasNext) {
      walk.next(); walked += 1
      if (walked % 100000 == 0)
        peakB = math.max(peakB, heapUsed() - h0)
    }
    peakB = math.max(peakB, heapUsed() - h0)

    def f(v: Double) = f"$v%.2f"
    // ranged_index_mb: bytes the SELECTIVE shapes fetched from index files
    // (0 for whole-file shapes); ranged_index_gets: fetch CALLS — the GET
    // count an object store would bill, the coalescing + whole-file-
    // promotion signal (a near-full shape should show a handful of GETs,
    // not an 8 MB GET train over 90% of the file)
    val body = results.map { case (n, (s, r, d, ib, gb, ir, pr)) =>
      s""","$n":{"sec":${f(s)},"rows":$r,"series_decoded":$d""" +
        s""","ranged_index_mb":${f(ib / 1048576.0)}""" +
        s""","ranged_index_gets":$ir,"whole_file_promotions":$pr""" +
        s""","segment_mb":${f(gb / 1048576.0)}}""" }.mkString
    println(s"""{"metric":"tsdb_read_bench","unit":"sec","series":$nSeries,""" +
      s""""blocks":$nBlocks,"samples":${nSeries.toLong * hours},""" +
      s""""write_sec":${f(writeSec)},""" +
      s""""open":{"open_sec":${f(openSec)},"slice_2h_sec":${f(slice2h)},""" +
      s""""slice_sec":${f(sliceSec)},"slice_full_sec":${f(sliceFull)},""" +
      s""""series_limited_sec":${f(seriesLimited)},"labels_sec":${f(labelsSec)}},""" +
      s""""walk":{"entries":$walked,"index_mb":${f(idxBytes.length / 1048576.0)},""" +
      s""""peak_extra_heap_mb":${f(peakB / 1048576.0)}}$body}""")
    spark.stop()
  }
}
