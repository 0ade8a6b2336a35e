package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.promql.{Eval, LabelMatcher, Matchers}

/** One store behind every serving layout — the reference's storage-engine
  * contract, one operator set over one store: `Select` (`db/db.go`),
  * `LabelNames` and `LabelValues` (`search/search.go:173-201,294`), plus the
  * `/api/v1/series` label-set listing.
  *
  * Introspection contract: `limit > 0` ⇒ return AT MOST limit+1 entries in
  * canonical sorted order (one extra so the caller can flag truncation),
  * with the bound pushed into the store where it can be — never
  * materialize the full distinct set just to truncate it (the reference
  * truncates during materialization, `search/materialize.go:53-58`).
  * Canonical series order = element-wise comparison of the sorted
  * (name, value) pairs, never a concatenated string (collides). A store may
  * answer at chunk/row-group granularity (series with data NEAR the
  * interval), the same contract as the reference's dictionary-resolved
  * label_values. */
trait SeriesStore extends AutoCloseable {
  /** Label columns of the wide samples schema. */
  def labelColumns: Seq[String]

  /** Samples covering ts ∈ [mintMs, maxtMs] of the series matching the
    * union of `matcherSets` (OR of per-selector ANDs; empty = no pruning).
    * A store may return a superset — callers apply their own exact time and
    * matcher filters — so time and label pruning are optimizations only. */
  def select(mintMs: Long = Long.MinValue, maxtMs: Long = Long.MaxValue,
             matcherSets: Seq[Seq[LabelMatcher]] = Nil): DataFrame

  def labelNames(matcherSets: Seq[Seq[LabelMatcher]] = Nil,
                 mintMs: Long = Long.MinValue, maxtMs: Long = Long.MaxValue,
                 limit: Int = 0): Seq[String]

  def labelValues(label: String, matcherSets: Seq[Seq[LabelMatcher]] = Nil,
                  mintMs: Long = Long.MinValue, maxtMs: Long = Long.MaxValue,
                  limit: Int = 0): Seq[String]

  /** Distinct label sets matching the union of matcher sets. */
  def series(matcherSets: Seq[Seq[LabelMatcher]] = Nil,
             mintMs: Long = Long.MinValue, maxtMs: Long = Long.MaxValue,
             limit: Int = 0): Seq[Map[String, String]]

  override def close(): Unit = ()
}

object SeriesStore {
  /** Open `dir` in whichever layout it holds, first match wins:
    *  1. `<dir>/chunks` — the chunk-file layout, decoded on read; each
    *     query selects only the day partitions and frames its bounds
    *     overlap, before any frame is decoded;
    *  2. `<dir>/samples` — the converted flat layout;
    *  3. a thanos-parquet-gateway bucket (`<hash>/<date>/<shard>.labels
    *     .parquet`), served through the byte-level interop reader;
    *  4. a raw Prometheus/Thanos TSDB bucket (`<ulid>/{meta.json,index,
    *     chunks/}`), served straight off the blocks;
    *  5. otherwise the raw events fixture. */
  def open(spark: SparkSession, dir: String): SeriesStore =
    if (isDir(s"$dir/chunks"))
      new FrameStore(graft.etl.Ingest.openChunkedSamples(spark, dir),
        Some((lo: Long, hi: Long) => graft.etl.Ingest.selectChunkedSamples(spark, dir, Nil, lo, hi)))
    else if (isDir(s"$dir/samples"))
      new FrameStore(graft.etl.Ingest.openSamples(spark, dir))
    else if (isReferenceBucket(dir)) reference(spark, dir)
    else tsdbUlids(dir) match {
      case Nil =>
        new FrameStore(graft.model.TimeSeriesModel.samples(Tables(spark, dir).events))
      case ulids => TsdbBlockReader.openBucket(spark, dir, ulids)
    }

  /** A reference-layout bucket: store-invariant metadata (merged labels
    * schema, stream.pb) is computed ONCE and closed over; each query then
    * lists only the day directories its reach can touch (the per-query
    * Block mint/maxt pruning, `db/db.go:252-258`). */
  def reference(spark: SparkSession, dir: String): SeriesStore = {
    import graft.etl.ReferenceFormat.{bucketMeta, selectReferenceStore}
    val meta = Some(bucketMeta(spark, dir))
    new FrameStore(selectReferenceStore(spark, dir, meta = meta),
      Some((lo: Long, hi: Long) => selectReferenceStore(spark, dir, Nil, lo, hi, meta = meta)))
  }

  /** The first `limit` entries and whether more existed (limit 0 = all). */
  def truncated[T](xs: Seq[T], limit: Int): (Seq[T], Boolean) =
    if (limit > 0 && xs.size > limit) (xs.take(limit), true) else (xs, false)

  /** At most limit+1 rows — the introspection contract's bound. */
  private[sources] def bounded(df: DataFrame, limit: Int): DataFrame =
    if (limit > 0) df.limit(limit + 1) else df
  private[sources] def bounded[T](xs: Seq[T], limit: Int): Seq[T] =
    if (limit > 0) xs.take(limit + 1) else xs

  /** Spark's string order: unsigned UTF-8 bytes, as Go compares strings. */
  private[sources] val Utf8Order: Ordering[String] =
    Ordering.by[String, org.apache.spark.unsafe.types.UTF8String](
      org.apache.spark.unsafe.types.UTF8String.fromString)(
      Ordering.comparatorToOrdering(java.util.Comparator.naturalOrder()))

  private def isDir(p: String): Boolean = Files.isDirectory(Paths.get(p))

  private def isReferenceBucket(p: String): Boolean = isDir(p) && {
    val s = Files.walk(Paths.get(p), 3)
    try s.iterator().asScala.exists(_.getFileName.toString.endsWith(".labels.parquet"))
    finally s.close()
  }

  private def tsdbUlids(p: String): List[String] =
    if (!isDir(p)) Nil
    else {
      val s = Files.list(Paths.get(p))
      try s.iterator().asScala.filter(d =>
        Files.isRegularFile(d.resolve("index")) && Files.isRegularFile(d.resolve("meta.json")))
        .map(_.getFileName.toString).toList.sorted
      finally s.close()
    }
}

/** Any samples frame as a [[SeriesStore]]. With `byRange`, each select
  * binds `byRange(lo, hi)` instead of the fixed frame — a day-partitioned
  * store (the reference-bucket reader, the chunk layout) then reads only
  * the days, and for chunks only the frames, a query can touch. `samples`
  * stays the schema/metadata authority. Matcher sets are not pushed: the
  * frame is filtered by the caller's exact predicates. */
final class FrameStore(samples: DataFrame,
                       byRange: Option[(Long, Long) => DataFrame] = None)
    extends SeriesStore {
  import SeriesStore.{Utf8Order, bounded}

  /** The STRING columns minus the sample/meta payload — a native-histogram
    * column (h, struct) is a sample value, not a label. */
  lazy val labelColumns: Seq[String] = samples.schema.fields.iterator
    .filter(_.dataType == org.apache.spark.sql.types.StringType)
    .map(_.name)
    .filterNot(Set("ts_ms", "value", "sample_id", "series_hash", "date")).toSeq

  def select(mintMs: Long, maxtMs: Long,
             matcherSets: Seq[Seq[LabelMatcher]]): DataFrame =
    byRange.fold(samples)(_(mintMs, maxtMs))

  /** One interval's select frame, built once per label call, and the
    * labels side it carries if it reads a reference bucket. */
  private final class Interval(mintMs: Long, maxtMs: Long) {
    val frame: DataFrame = select(mintMs, maxtMs, Nil)
    val seriesSide: Option[DataFrame] = graft.etl.ReferenceFormat.seriesSide(frame)

    /** The footer shortcut needs a bare parquet relation; a frame with a
      * labels side is a join, so it is not tried there. */
    def footerApplies(matcherSets: Seq[Seq[LabelMatcher]]): Boolean =
      matcherSets.isEmpty && seriesSide.isEmpty

    /** Rows of the series matching `matcherSets` with samples in the
      * interval; introspection reads only their label columns. A
      * reference-bucket frame answers from its in-range days' labels files
      * instead, at day granularity. */
    def matching(matcherSets: Seq[Seq[LabelMatcher]]): DataFrame =
      seriesSide match {
        case Some(series) if matcherSets.isEmpty => series
        case Some(series) =>
          series.filter(matcherSets.map(ms => Matchers.compile(series, ms)).reduce(_ || _))
        case None if matcherSets.isEmpty => Eval.select(frame, Nil, mintMs, maxtMs)
        case None => Eval.selectUnion(frame, matcherSets, mintMs, maxtMs)
      }
  }

  /** A label's value, null where the label is absent. An empty value is an
    * absent label, as in Prometheus: a bucket's labels files can hold ""
    * where their index marks the label absent. */
  private def valueOf(label: String) = nullif(col(label), lit(""))

  /** Columns per `labelNames` count aggregate — large enough that any
    * realistic schema fits in one pass, small enough that Janino compiles
    * each batch without interpreted fallback. */
  private val LabelNamesAggBatch = 1024

  def labelNames(matcherSets: Seq[Seq[LabelMatcher]], mintMs: Long, maxtMs: Long,
                 limit: Int): Seq[String] = {
    val lbls = labelColumns
    val in = new Interval(mintMs, maxtMs)
    // footer fast path first (matcherless only): per-row-group statistics
    // prove which labels actually carry values INSIDE the interval (the
    // reference reads per-block schemas within range, search/search.go:294).
    // Non-file-backed views (decode-on-read stores) fall through to the
    // count scan — the answer must stay DATA-driven: a label column
    // existing in the schema is not a label present in range.
    val viaFooter =
      if (in.footerApplies(matcherSets))
        FooterLabelValues.labelNames(in.frame, lbls, mintMs, maxtMs)
      else None
    val names = viaFooter.getOrElse {
      val m = in.matching(matcherSets)
      // BATCHED count aggregate: a single aggregate over every label column
      // is a codegen stress at the reference's own ≤32k-column schema cap
      // (method-split churn, then interpreted fallback). Each batch's scan
      // reads only its column slice (columnar pruning), so total I/O over
      // all batches matches the one wide pass; job overhead is ~32 cheap
      // aggregates at the ceiling, zero extra at typical (<1k) widths.
      lbls.grouped(LabelNamesAggBatch).flatMap { batch =>
        val present = batch.map(l => count(valueOf(l)).as(l))
        val counts = m.agg(present.head, present.tail: _*).collect()(0)
        batch.filter(l => counts.getAs[Long](l) > 0)
      }.toSeq.sorted
    }
    bounded(names, limit)
  }

  def labelValues(label: String, matcherSets: Seq[Seq[LabelMatcher]],
                  mintMs: Long, maxtMs: Long, limit: Int): Seq[String] = {
    val in = new Interval(mintMs, maxtMs)
    // no-matcher shortcut (ref search/search.go:173-201): resolve from the
    // parquet dictionary pages + footer stats, scanning only the interval's
    // boundary files — exact, falls back to the scan when inapplicable
    val viaFooter =
      if (in.footerApplies(matcherSets))
        FooterLabelValues.labelValues(in.frame, label, mintMs, maxtMs)
      else None
    viaFooter.map(vs => bounded(vs.filter(_.nonEmpty), limit)).getOrElse {
      val vals = in.matching(matcherSets)
        .select(col(label)).filter(col(label) =!= "").distinct()
      // unlimited: every value reaches the driver anyway, so sort there —
      // a Spark orderBy would add a range-sampling job and a sort shuffle;
      // limited: orderBy + limit plans as one take-ordered step
      if (limit > 0)
        bounded(vals.orderBy(col(label)), limit).collect().map(_.getString(0)).toSeq
      else vals.collect().map(_.getString(0)).toSeq.sorted(Utf8Order)
    }
  }

  def series(matcherSets: Seq[Seq[LabelMatcher]], mintMs: Long, maxtMs: Long,
             limit: Int): Seq[Map[String, String]] = {
    val lbls = labelColumns
    // canonical order = element-wise comparison of the sorted (name, value)
    // pairs — the SAME key every store sorts by, so a limited /series
    // returns the same subset regardless of which store answers. (Ordering
    // by the raw label columns nulls-first disagrees with pair order for
    // absent labels; a concatenated string key collides.)
    val kvKey = filter(
      array(lbls.sorted.map(l =>
        struct(lit(l).as("key"), col(l).as("value"))): _*),
      e => e.getField("value").isNotNull)
    val selected = new Interval(mintMs, maxtMs).matching(matcherSets)
      .select(lbls.map(l => valueOf(l).as(l)): _*)
      .distinct().withColumn("__graft_kv", kvKey).orderBy(col("__graft_kv"))
    bounded(selected, limit).collect().toSeq.map(r =>
      lbls.flatMap(l => Option(r.getAs[Any](l)).map(v => l -> v.toString)).toMap)
  }
}
