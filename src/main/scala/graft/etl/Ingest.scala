package graft.etl

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.TimeSeriesModel

/** The `convert` ETL analog (SURVEY.md §3.3, ref `convert/convert.go`):
  * source samples → UTC-day partitions → vertical dedup → sorted, bloom'd,
  * zstd parquet, with JSON meta sidecars (meta.pb analog).
  *
  * Layout (ref `schema/block.go:159-184` mapped per SURVEY.md §1.4):
  * {{{
  *   <out>/samples/date=YYYY-MM-DD/part-*.parquet   (flattened chunks file)
  *   <out>/series/date=YYYY-MM-DD/part-*.parquet    (labels file analog)
  *   <out>/meta/YYYY-MM-DD.json                     (meta.pb analog)
  * }}}
  *
  * Scale design: `repartitionByRange(date, __name__, uid)` is the reference's
  * shard cut (`convert/convert.go:500,519-534`) — each day splits into
  * contiguous (__name__, uid) ranges, so one hot day parallelizes across the
  * cluster instead of serializing into a single writer task, and every file
  * covers a narrow label range; `sortWithinPartitions(__name__, …)` is the
  * reference's sorted-writer (`convert/convert.go:623-632`) — sorted files +
  * bloom(__name__) + zstd is what makes matcher pushdown prune pages.
  * Dynamic partition overwrite = idempotent per-day re-conversion
  * (re-running a planned day replaces exactly that day, ref upload-by-path
  * idempotency `cmd/convert.go:551-557`).
  */
object Ingest {

  final case class DayMeta(date: String, version: Int, mintMs: Long, maxtMs: Long,
                           nSeries: Long, nSamples: Long)

  /** Convert selected (or all) UTC days of an events table into the layout.
    * Returns per-day meta (also written as JSON sidecars). */
  def convert(spark: SparkSession, events: DataFrame, outDir: String,
              days: Option[Seq[String]] = None): Seq[DayMeta] =
    convertSamples(spark, TimeSeriesModel.samples(events), outDir, days)

  /** Schema-generic convert: any samples frame (label columns + ts_ms/value/
    * sample_id/series_hash, optionally a native-histogram `h` struct —
    * the reference likewise streams float and histogram chunks through the
    * same dual-file layout, schema/schema.go chunk encodings). Label columns
    * are derived structurally, so extra labels and the histogram column ride
    * through dedup, both sinks, and the parquet round-trip unchanged. */
  def convertSamples(spark: SparkSession, samples: DataFrame, outDir: String,
                     days: Option[Seq[String]] = None,
                     externalLabels: Map[String, String] = Map.empty): Seq[DayMeta] = {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // external labels become the `stream=<hash>` partition dimension — the
    // reference's block path layout (schema/block.go:37-76): one tenant/HA
    // stream per directory subtree, pruned before any file is opened
    val streamed =
      if (externalLabels.isEmpty) samples
      else {
        require(!samples.columns.contains("stream"),
          "samples already carry a 'stream' column; it is reserved for the " +
            "external-label partition dimension")
        requireNoExternalCollision(samples, externalLabels)
        externalLabels.foldLeft(samples) { case (df, (k, v)) =>
          df.withColumn(k, lit(v))
        }.withColumn("stream", lit(streamId(externalLabels)))
      }
    val all = streamed
      .withColumn("date", date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd"))
    val partCols = if (externalLabels.isEmpty) Seq("date") else Seq("stream", "date")
    val lblCols = all.columns
      .filterNot(Set("ts_ms", "value", "sample_id", "series_hash", "date", "stream"))
      .filterNot(c => graft.promql.Eval.isHistCol(all, c))
      .toSeq
    val picked = days.map(ds => all.filter(col("date").isin(ds: _*))).getOrElse(all)

    // vertical merge: dedup identical (series, ts) across source blocks
    // (ref convert/merge.go:15-121) — deterministic winner = min sample_id.
    // min_by hash-agg, not a row_number window: partial aggregation combines
    // map-side, so the shuffle carries ~unique rows, and no per-partition sort
    val pcols = picked.columns.toSeq
    val dedup = picked
      .groupBy(col("series_hash"), col("ts_ms"))
      .agg(min_by(struct(pcols.map(col): _*), col("sample_id")).as("_r"))
      .select(pcols.map(c => col(s"_r.$c")): _*)
      // three consumers (two sinks + meta agg) — materialize the merge once,
      // the Spark analog of the reference's single-pass dual-file writer (S5)
      .persist()
    try {

    val sortKeys = partCols.map(col) ++ lblCols.map(col)
    dedup
      .repartitionByRange(sortKeys: _*)
      .sortWithinPartitions(sortKeys :+ col("ts_ms"): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#__name__", "true")
      .option("maxRecordsPerFile", 1000000L) // row-group-count analog
      .parquet(s"$outDir/samples")

    dedup.select(sortKeys :+ col("series_hash"): _*).distinct()
      .repartitionByRange(sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#__name__", "true")
      .parquet(s"$outDir/series")

    val metas = dedup.groupBy(col("date")).agg(
        min(col("ts_ms")).as("mint"), max(col("ts_ms")).as("maxt"),
        count(lit(1)).as("n_samples"),
        count_distinct(col("series_hash")).as("n_series"))
      .collect()
      .map(r => DayMeta(r.getString(0), version = 1, r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(3)))
      .sortBy(_.date)
    // per-stream meta subtree when external labels cut a stream dimension —
    // sidecar catalogs must not collide across tenant/HA streams
    val metaDir =
      if (externalLabels.isEmpty) s"$outDir/meta"
      else s"$outDir/meta/${streamId(externalLabels)}"
    Files.createDirectories(Paths.get(metaDir))
    metas.foreach { m =>
      Files.writeString(Paths.get(s"$metaDir/${m.date}.json"),
        s"""{"version":${m.version},"date":"${m.date}","mint":${m.mintMs},""" +
          s""""maxt":${m.maxtMs},"n_series":${m.nSeries},"n_samples":${m.nSamples}}""")
    }
    metas.toSeq
    } finally dedup.unpersist(blocking = false)
  }

  /** Bucketed-layout variant of the dual sink: both tables hash-bucketed and
    * sorted by `series_hash`, registered in the session catalog (bucket
    * metadata lives in the catalog, as in a metastore on a real cluster).
    * This is the 100 TB answer to J1 (labels↔samples join, ref
    * `search/materialize.go:42-105` positional join): with matching bucket
    * counts on the join key the join co-locates — zero Exchange in the plan —
    * and an equality predicate on `series_hash` prunes to a single bucket
    * before any file opens. The path layout (`convertSamples`) stays the
    * interchange format; bucketed tables are the query-optimized registration
    * of the same data. */
  def convertBucketed(spark: SparkSession, events: DataFrame, baseDir: String,
                      buckets: Int = 16,
                      samplesTable: String = "samples_bucketed",
                      seriesTable: String = "series_bucketed"): Unit = {
    val samples = TimeSeriesModel.samples(events)
    val lblCols = samples.columns
      .filterNot(Set("ts_ms", "value", "sample_id", "series_hash")).toSeq
    spark.sql(s"DROP TABLE IF EXISTS $samplesTable")
    spark.sql(s"DROP TABLE IF EXISTS $seriesTable")
    samples.write.mode(SaveMode.Overwrite)
      .format("parquet").option("compression", "zstd")
      .option("path", s"$baseDir/$samplesTable")
      .bucketBy(buckets, "series_hash")
      .sortBy("series_hash", "ts_ms")
      .saveAsTable(samplesTable)
    samples.select((lblCols :+ "series_hash").map(col): _*).distinct()
      .write.mode(SaveMode.Overwrite)
      .format("parquet").option("compression", "zstd")
      .option("path", s"$baseDir/$seriesTable")
      .bucketBy(buckets, "series_hash")
      .sortBy("series_hash")
      .saveAsTable(seriesTable)
  }

  /** Chunk-file layout — the reference's ACTUAL on-disk shape
    * (`schema/block.go:37-76`: label columns + three 8h chunk-bytes columns
    * per day; here one row per (series, 8h window) with a Gorilla-encoded
    * `data` column, [[graft.functions.GorillaChunk]]). vs the flat samples
    * layout this trades row count (~1/960th at 15s cadence) and bytes
    * (XOR compression) for decode-on-read — the same trade the reference
    * makes. Encode is executor-side inside the grouping aggregate; nothing
    * uncompressed ever crosses the shuffle after the frame build. */
  def convertChunked(spark: SparkSession, events: DataFrame, outDir: String,
                     externalLabels: Map[String, String] = Map.empty): Unit = {
    val samples = TimeSeriesModel.samples(events)
    if (externalLabels.isEmpty)
      writeFrames(framesOf(samples), outDir, dynamic = false)
    else {
      // external labels cut the same stream=<hash> partition dimension as
      // the flat layout (schema/block.go:37-76): one tenant/HA stream per
      // directory subtree, vetoed before any file is listed. The labels
      // also ride as constant frame columns, so matcher compilation works
      // unchanged; a `streams/<id>.json` sidecar records the label set for
      // the select-time fold ([[selectChunkedSamples]]).
      require(!samples.columns.contains("stream"),
        "samples already carry a 'stream' column; it is reserved for the " +
          "external-label partition dimension")
      requireNoExternalCollision(samples, externalLabels)
      val id = streamId(externalLabels)
      val streamed = externalLabels.foldLeft(samples) { case (df, (k, v)) =>
        df.withColumn(k, lit(v))
      }.withColumn("stream", lit(id))
      // dynamic overwrite: converting stream B must not clear stream A
      writeFrames(framesOf(streamed), outDir, dynamic = true)
      val dir = Paths.get(s"$outDir/streams")
      Files.createDirectories(dir)
      val lbls = externalLabels.toSeq.sorted.map { case (k, v) =>
        s""""${jsonEsc(k)}":"${jsonEsc(v)}"""" }.mkString(",")
      Files.writeString(dir.resolve(s"$id.json"), s"""{"labels":{$lbls}}""")
    }
  }

  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Stream sidecars of a chunked layout: stream id → external label set. */
  def readStreamSidecars(outDir: String): Map[String, Map[String, String]] = {
    val dir = Paths.get(s"$outDir/streams")
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.filter(_.getFileName.toString.endsWith(".json"))
        .map { p =>
          val id = p.getFileName.toString.stripSuffix(".json")
          val parsed = MiniJson.parse(Files.readString(p))
            .asInstanceOf[Map[String, Any]]
          id -> parsed("labels").asInstanceOf[Map[String, Any]]
            .map { case (k, v) => k -> v.toString }
        }.toMap
      finally s.close()
    }
  }

  /** Samples → one frame row per (date, series, 8h window): the Gorilla
    * encode runs inside the grouping aggregate, executor-side.
    *
    * Two frame kinds, mirroring the reference's per-chunk encoding tag
    * (XOR vs histogram chunks side by side, `api/grpc/thanos.go:462-473`,
    * framing `convert/chunks.go:56-61`):
    *
    *  - float series → `data` = Gorilla/XOR bytes, `hdata` null;
    *  - native-histogram series (an `h` struct column matching the pinned
    *    model, [[graft.functions.HistChunk.HistType]]) → `hdata` =
    *    [[graft.functions.HistChunkEncode]] bytes carrying the
    *    (ts, value, histogram) triples, `data` null.
    *
    * A series mixing float and histogram samples inside one frame fails
    * loudly (data error), as does any OTHER struct column — it would be
    * swept into the grouping key as a "label" and shred series. */
  def framesOf(samples: DataFrame): DataFrame = {
    val structCols = samples.schema.fields.filter(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    structCols.find(f => f.name != "h" ||
      f.dataType.catalogString != graft.functions.HistChunk.HistType.catalogString)
      .foreach { f =>
        throw new IllegalArgumentException(
          s"chunked layout: struct column '${f.name}' (${f.dataType.catalogString}) " +
            "is neither float samples nor the pinned native-histogram model " +
            s"(${graft.functions.HistChunk.HistType.catalogString})")
      }
    val hasH = structCols.nonEmpty
    val lblCols = samples.columns
      .filterNot(Set("ts_ms", "value", "sample_id", "series_hash", "date", "h", "stream"))
      .toSeq
    // stream is a partition dimension like date, never a frame label
    val part = (if (samples.columns.contains("stream")) Seq(col("stream")) else Nil) ++
      Seq(col("date"), col("series_hash"))
    val win = col("ts_ms") - pmod(col("ts_ms"), lit(8L * 3600 * 1000))
    val grouped = samples
      .withColumn("date", date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd"))
      .groupBy((part ++ lblCols.map(col) :+ win.as("win")): _*)
    if (!hasH)
      grouped.agg(min(col("ts_ms")).as("mint"), max(col("ts_ms")).as("maxt"),
        count(lit(1)).as("n_samples"),
        graft.functions.ChunkEncode(
          sort_array(collect_list(struct(col("ts_ms"), col("value"))))).as("data"))
    else
      grouped.agg(min(col("ts_ms")).as("mint"), max(col("ts_ms")).as("maxt"),
        count(lit(1)).as("n_samples"),
        count(col("h")).as("__graft_n_h"),
        sort_array(collect_list(struct(col("ts_ms"), col("value"), col("h"))))
          .as("__graft_pts"))
        .withColumn("data", when(col("__graft_n_h") === 0,
            graft.functions.ChunkEncode(expr(
              "transform(__graft_pts, p -> struct(p.ts_ms AS ts_ms, p.value AS value))")))
          .otherwise(lit(null).cast("binary")))
        .withColumn("hdata",
          when(col("__graft_n_h") === col("n_samples"),
            graft.functions.HistChunkEncode(col("__graft_pts")))
          .when(col("__graft_n_h") === 0, lit(null).cast("binary"))
          .otherwise(raise_error(lit("chunked layout: series frame mixes float " +
            "and histogram samples")).cast("binary")))
        .drop("__graft_pts", "__graft_n_h")
  }

  private def writeFrames(frames: DataFrame, outDir: String, dynamic: Boolean): Unit = {
    val lblCols = frames.columns.filterNot(chunkBookkeeping).toSeq
    val partCols = if (frames.columns.contains("stream")) Seq("stream", "date") else Seq("date")
    frames
      .repartitionByRange((partCols.map(col) ++ lblCols.map(col)): _*)
      .sortWithinPartitions((partCols.map(col) ++ lblCols.map(col) :+ col("win")): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      // dynamic: only the partitions present in `frames` are replaced — the
      // merge path rewrites touched dates without clearing the layout
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#__name__", "true")
      .parquet(s"$outDir/chunks")
    // every chunk write in this codebase goes through here — drop the memoized
    // relations so the next open re-lists the changed layout (all sessions)
    frameCache.keySet.removeIf(_._2 == s"$outDir/chunks")
  }

  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The frame relation of a chunk layout with each frame's points decoded
    * beside it ([[withPoints]]), memoized: repeated selects reuse the
    * resolved schema + file listing instead of paying a fresh footer/listing
    * pass per query — the reference likewise keeps block readers open
    * across queries (`locate/locate.go`) — and add only their predicate and
    * the output projection to a plan analyzed once. Every chunk write in
    * this codebase goes through [[writeFrames]], which evicts the entry, so
    * a listing is never stale after an in-process write. */
  private def chunkPoints(spark: SparkSession, outDir: String): DataFrame =
    frameCache.computeIfAbsent((spark, s"$outDir/chunks"),
      k => withPoints(k._1.read.parquet(k._2)))

  /** Merge a batch of samples into an existing chunk layout: only the dates
    * the batch touches are re-framed (existing frames for those dates decode,
    * union with the batch, first-wins dedup per (series, ts) — the vertical
    * merge rule A1 — re-encode, dynamic-partition overwrite). Used by the
    * streaming ingest ([[graft.streaming.ChunkedIngest]]); idempotent per
    * batch, and work is proportional to touched dates, not layout size. */
  def mergeChunked(spark: SparkSession, samples: DataFrame, outDir: String): Seq[String] = {
    val (dates, merged) = mergeChunkedRetained(spark, samples, outDir)
    merged.foreach(releasePinned)
    dates
  }

  /** Free the storage blocks behind a [[mergeChunkedRetained]] result.
    * `Dataset.unpersist()` is a NO-OP for a locally-checkpointed frame (the
    * blocks belong to the internal checkpointed RDD, not the Dataset cache),
    * so a long streaming run would accumulate MEMORY_AND_DISK blocks between
    * GCs — unpersist the underlying RDD explicitly instead. The frame is
    * unusable afterwards. */
  def releasePinned(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** [[mergeChunked]] variant that also returns the merged touched-date
    * samples, persisted and materialized BEFORE the overwrite (its lineage
    * reads the pre-merge frames, which the write replaces), so same-batch
    * downstream maintenance — the streaming downsample refresh — reuses the
    * merge result instead of re-decoding the frames just written. Caller
    * unpersists. */
  def mergeChunkedRetained(spark: SparkSession, samples: DataFrame,
                           outDir: String): (Seq[String], Option[DataFrame]) = {
    val fresh = samples
      .withColumn("date", date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd"))
    val dates = fresh.select("date").distinct().collect().map(_.getString(0)).toSeq
    if (dates.isEmpty) return (Nil, None)
    val chunksDir = java.nio.file.Paths.get(s"$outDir/chunks")
    val merged =
      if (!java.nio.file.Files.isDirectory(chunksDir)) fresh
      else {
        val fr = chunkPoints(spark, outDir)
        require(!fr.columns.contains("stream"),
          "mergeChunked targets a single-stream chunk layout; this store is " +
            "stream-partitioned — merge per stream into its own subtree instead")
        val existing = pointSamples(fr.filter(col("date").isin(dates: _*)))
        // first-wins at sample grain: the stored point beats a re-delivery
        // (ref vertical merge semantics, convert/convert.go chunk dedup).
        // The histogram struct is PAYLOAD like value, never a grouping key —
        // a re-delivered sample with a different histogram must still dedup
        val hasH = existing.columns.contains("h") &&
          graft.promql.Eval.isHistCol(existing, "h")
        val lbl = existing.columns
          .filterNot(Set("ts_ms", "value", "sample_id", "series_hash", "date", "h")).toSeq
        val payload = Seq(col("value"), col("sample_id")) ++
          (if (hasH) Seq(col("h")) else Nil)
        val freshAligned = fresh.select(
          (Seq(col("date"), col("series_hash")) ++ lbl.map(col)
            :+ col("ts_ms")) ++ payload: _*)
        existing.withColumn("__graft_pri", lit(0))
          .unionByName(freshAligned.withColumn("__graft_pri", lit(1)))
          .groupBy((Seq(col("date"), col("series_hash")) ++ lbl.map(col)
            :+ col("ts_ms")): _*)
          .agg(min_by(struct(payload: _*), col("__graft_pri")).as("__graft_w"))
          .select((Seq(col("date"), col("series_hash")) ++ lbl.map(col)
            :+ col("ts_ms") :+ col("__graft_w.value").as("value")
            :+ col("__graft_w.sample_id").as("sample_id"))
            ++ (if (hasH) Seq(col("__graft_w.h").as("h")) else Nil): _*)
      }
    // localCheckpoint (eager) pins the merged rows AND severs lineage: with
    // persist(), losing a cached block after the overwrite below would
    // recompute from the already-replaced files — the values converge but
    // re-decoded rows resynthesize sample_id as ts_ms, silently diverging
    // from this batch's ids and flipping downstream first/last tie-breaks
    val pinned = merged.localCheckpoint(true)
    writeFrames(framesOf(pinned), outDir, dynamic = true)
    (dates, Some(pinned))
  }

  private val chunkBookkeeping =
    Set("win", "mint", "maxt", "n_samples", "data", "hdata", "date", "series_hash",
      "stream")

  /** Each frame row with its points decoded and exploded beside it, as the
    * `__graft_p` struct (ts_ms, value, and h on a layout with histogram
    * frames). Map-side only: the decode is the codegen'd
    * [[graft.functions.ChunkDecode]] (or [[graft.functions.HistChunkDecode]]
    * for histogram frames), no shuffle. A filter on the frame columns above
    * it pushes below the decode. */
  private def withPoints(df: DataFrame): DataFrame = {
    val pts =
      if (!df.columns.contains("hdata")) graft.functions.ChunkDecode(col("data"))
      else {
        // both branches produce array<struct<ts_ms,value,h>> so one explode
        // serves float and histogram frames alike
        val floatPts = transform(graft.functions.ChunkDecode(col("data")),
          p => struct(p.getField("ts_ms").as("ts_ms"), p.getField("value").as("value"),
            lit(null).cast(graft.functions.HistChunk.HistType).as("h")))
        when(col("data").isNotNull, floatPts)
          .otherwise(graft.functions.HistChunkDecode(col("hdata")))
      }
    df.select(col("*"), explode(pts).as("__graft_p"))
  }

  /** [[withPoints]] rows as flat samples (histogram frames come back with
    * the `h` struct column restored). Frames store no per-sample ingest id,
    * so `sample_id` — the engine's deterministic tie-break column — is
    * synthesized as `ts_ms`, the same convention the subquery grid uses
    * (`promql/Compiler.subqueryPoints`). */
  private def pointSamples(withPts: DataFrame): DataFrame = {
    val lbl = withPts.columns.filterNot(c => chunkBookkeeping(c) || c == "__graft_p").toSeq
    val h = if (withPts.columns.contains("hdata")) Seq(col("__graft_p.h").as("h")) else Nil
    withPts.select((Seq(col("date"), col("series_hash")) ++ lbl.map(col) ++
      Seq(col("__graft_p.ts_ms").as("ts_ms"), col("__graft_p.value").as("value")) ++ h
      :+ col("__graft_p.ts_ms").as("sample_id")): _*)
  }

  /** Decode-on-read over the chunk layout: explode each frame back to
    * samples. Matcher/date predicates push down to the chunk scan (label
    * columns and `date` are plain columns); a `ts_ms` bound does not — it
    * sits above the decode, so time-bounded reads go through
    * [[selectChunkedSamples]]. */
  def openChunkedSamples(spark: SparkSession, outDir: String): DataFrame =
    pointSamples(chunkPoints(spark, outDir))

  /** Pruned select over the chunk layout — the query path at 100 TB. All
    * pruning happens BEFORE any byte is decoded, mirroring the reference's
    * search pipeline (label constraints → row ranges → chunk materialization,
    * `search/materialize.go:42-105`):
    *
    *  - label matchers compile against the frame's plain label columns →
    *    parquet row-group/page/bloom pruning ([[graft.promql.Matchers]]);
    *  - the query interval becomes a frame-overlap predicate on the stored
    *    `(mint, maxt)` stats — the analog of the reference's row-range
    *    intersection (`internal/util/interval.go:8-21`) — plus a `date`
    *    bound that prunes day partitions before listing;
    *  - only surviving frames hit [[graft.functions.ChunkDecode]]; the exact
    *    `ts_ms` trim runs post-explode on the (tiny) decoded remainder.
    *
    * Result schema matches [[openChunkedSamples]], so the PromQL engine runs
    * over it unchanged; it is the chunk layout's per-query select in
    * [[graft.sources.SeriesStore.open]]. */
  def selectChunkedSamples(spark: SparkSession, outDir: String,
                           matchers: Seq[graft.promql.LabelMatcher],
                           mintMs: Long, maxtMs: Long): DataFrame = {
    val points = chunkPoints(spark, outDir)
    // same DATE-literal clamp as Eval.timeBound: partition discovery types
    // `date` as DATE; an unbounded query's ±Long bound must stay formattable
    val cap = 253402214400000L // 9999-01-01T00:00:00Z
    def day(ms: Long) = java.time.Instant.ofEpochMilli(ms.max(0L).min(cap))
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    val overlap = col("maxt") >= mintMs && col("mint") <= maxtMs &&
      col("date") >= day(mintMs) && col("date") <= day(maxtMs)
    // P10 fold over the stream dimension: a matcher on one of a stream's
    // external labels is consumed against the sidecar constant — a mismatch
    // vetoes that stream's whole subtree as a PARTITION predicate, before
    // any file is listed (ref search/search.go:356-376). Matchers on
    // non-external labels pass through to the frame scan untouched.
    val streamPred: Option[org.apache.spark.sql.Column] =
      if (!points.columns.contains("stream") || matchers.isEmpty) None
      else {
        val streams = readStreamSidecars(outDir)
        val alive = streams.collect { case (id, ext)
          if matchers.filter(m => ext.contains(m.label))
            .forall(m => m.matches(ext(m.label))) => id }.toSeq
        Some(if (alive.isEmpty) lit(false) else col("stream").isin(alive: _*))
      }
    // one filter over the memoized decoded view: the frame conjuncts push
    // below the decode, only the exact ts_ms trim stays above it
    pointSamples(points.filter(
      streamPred.map(overlap && _).getOrElse(overlap) &&
        graft.promql.Matchers.compile(points, matchers) &&
        col("__graft_p.ts_ms").between(mintMs, maxtMs)))
  }

  /** External labels must never clobber per-series labels at rest: the fold
    * writes each external label as a constant column, and `withColumn` would
    * silently REPLACE a same-named series label, permanently losing its
    * per-series values. Thanos keeps the series label and drops the
    * conflicting external one (labelpb ExtendSortedLabels); here the
    * conversion is a one-time rewrite, so fail loudly instead — the caller
    * renames one side. */
  private def requireNoExternalCollision(samples: DataFrame,
                                         externalLabels: Map[String, String]): Unit = {
    val clash = externalLabels.keySet.intersect(samples.columns.toSet)
    require(clash.isEmpty,
      s"external labels ${clash.mkString("{", ", ", "}")} collide with " +
        "existing sample columns; an external label may not overwrite a " +
        "per-series label at rest — rename one side")
  }

  /** Stable stream id for an external-label set — the path-level analog of
    * the reference's labels hash (schema/block.go:45-67); the exact hash
    * function only needs to be self-consistent. */
  def streamId(externalLabels: Map[String, String]): String = {
    val canon = externalLabels.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  /** Discovery analog (ref `locate/discover.go`): list converted days from
    * the meta sidecars (driver-side catalog refresh). */
  def discoverDays(outDir: String): Seq[String] =
    listDayJsons(Paths.get(s"$outDir/meta"))

  /** Per-stream converted-day catalog: `meta/<stream>/<date>.json` sidecars
    * written by stream-partitioned converts — the parquet-side discovery
    * input to conversion planning (ref `locate/discover.go:125-305`). */
  def discoverStreamDays(outDir: String): Map[String, Seq[String]] = {
    val meta = Paths.get(s"$outDir/meta")
    if (!Files.isDirectory(meta)) Map.empty
    else {
      val s = Files.list(meta)
      try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.filter(Files.isDirectory(_))
        .map(d => d.getFileName.toString -> listDayJsons(d))
        .toMap
      finally s.close()
    }
  }

  private def listDayJsons(dir: java.nio.file.Path): Seq[String] = {
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.map(_.getFileName.toString).filter(_.endsWith(".json"))
        .map(_.stripSuffix(".json")).toSeq.sorted
      finally s.close()
    }
  }

  /** Query-side open: partition-pruned reads over the converted layout. */
  def openSamples(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/samples")
  def openSeries(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/series")

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}
