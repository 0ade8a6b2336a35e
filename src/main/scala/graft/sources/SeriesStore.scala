package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.promql.{Eval, LabelMatcher}

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
    *  1. `<dir>/chunks` — the chunk-file layout (decode-on-read;
    *     ChunkFramePrune keeps per-query time bounds pruning frames);
    *  2. `<dir>/samples` — the converted flat layout;
    *  3. a thanos-parquet-gateway bucket (`<hash>/<date>/<shard>.labels
    *     .parquet`), served through the byte-level interop reader;
    *  4. a raw Prometheus/Thanos TSDB bucket (`<ulid>/{meta.json,index,
    *     chunks/}`), served straight off the blocks;
    *  5. otherwise the raw events fixture. */
  def open(spark: SparkSession, dir: String): SeriesStore =
    if (isDir(s"$dir/chunks"))
      new FrameStore(graft.etl.Ingest.openChunkedSamples(spark, dir))
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
  * binds `byRange(lo, hi)` instead of the fixed frame — a day-listed store
  * (the reference-bucket reader) then opens only the days a query can
  * touch. `samples` stays the schema/metadata authority. Matcher sets are
  * not pushed: the frame is filtered by the caller's exact predicates. */
final class FrameStore(samples: DataFrame,
                       byRange: Option[(Long, Long) => DataFrame] = None)
    extends SeriesStore {
  import SeriesStore.bounded

  /** The STRING columns minus the sample/meta payload — a native-histogram
    * column (h, struct) is a sample value, not a label. */
  lazy val labelColumns: Seq[String] = samples.schema.fields.iterator
    .filter(_.dataType == org.apache.spark.sql.types.StringType)
    .map(_.name)
    .filterNot(Set("ts_ms", "value", "sample_id", "series_hash", "date")).toSeq

  def select(mintMs: Long, maxtMs: Long,
             matcherSets: Seq[Seq[LabelMatcher]]): DataFrame =
    byRange.fold(samples)(_(mintMs, maxtMs))

  private def matching(matcherSets: Seq[Seq[LabelMatcher]],
                       mintMs: Long, maxtMs: Long): DataFrame = {
    val df = select(mintMs, maxtMs, matcherSets)
    if (matcherSets.isEmpty) Eval.select(df, Nil, mintMs, maxtMs)
    else Eval.selectUnion(df, matcherSets, mintMs, maxtMs)
  }

  /** Columns per `labelNames` count aggregate — large enough that any
    * realistic schema fits in one pass, small enough that Janino compiles
    * each batch without interpreted fallback. */
  private val LabelNamesAggBatch = 1024

  def labelNames(matcherSets: Seq[Seq[LabelMatcher]], mintMs: Long, maxtMs: Long,
                 limit: Int): Seq[String] = {
    val lbls = labelColumns
    // footer fast path first (matcherless only): per-row-group statistics
    // prove which labels actually carry values INSIDE the interval (the
    // reference reads per-block schemas within range, search/search.go:294).
    // Non-file-backed views (decode-on-read stores, bounded bucket frames)
    // fall through to the count scan — the answer must stay DATA-driven: a
    // label column existing in the schema is not a label present in range.
    val viaFooter =
      if (matcherSets.isEmpty)
        FooterLabelValues.labelNames(select(mintMs, maxtMs, Nil), lbls, mintMs, maxtMs)
      else None
    val names = viaFooter.getOrElse {
      val m = matching(matcherSets, mintMs, maxtMs)
      // BATCHED count aggregate: a single aggregate over every label column
      // is a codegen stress at the reference's own ≤32k-column schema cap
      // (method-split churn, then interpreted fallback). Each batch's scan
      // reads only its column slice (columnar pruning), so total I/O over
      // all batches matches the one wide pass; job overhead is ~32 cheap
      // aggregates at the ceiling, zero extra at typical (<1k) widths.
      lbls.grouped(LabelNamesAggBatch).flatMap { batch =>
        val counts = m.agg(count(col(batch.head)).as(batch.head),
          batch.tail.map(l => count(col(l)).as(l)): _*).collect()(0)
        batch.filter(l => counts.getAs[Long](l) > 0)
      }.toSeq.sorted
    }
    bounded(names, limit)
  }

  def labelValues(label: String, matcherSets: Seq[Seq[LabelMatcher]],
                  mintMs: Long, maxtMs: Long, limit: Int): Seq[String] = {
    // no-matcher shortcut (ref search/search.go:173-201): resolve from the
    // parquet dictionary pages + footer stats, scanning only the interval's
    // boundary files — exact, falls back to the scan when inapplicable
    val viaFooter =
      if (matcherSets.isEmpty)
        FooterLabelValues.labelValues(select(mintMs, maxtMs, Nil), label, mintMs, maxtMs)
      else None
    viaFooter.map(bounded(_, limit)).getOrElse {
      val vals = matching(matcherSets, mintMs, maxtMs)
        .select(col(label)).na.drop().distinct().orderBy(col(label))
      bounded(vals, limit).collect().map(_.getString(0)).toSeq
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
    val selected = matching(matcherSets, mintMs, maxtMs)
      .select(lbls.map(col): _*)
      .distinct().withColumn("__graft_kv", kvKey).orderBy(col("__graft_kv"))
    bounded(selected, limit).collect().toSeq.map(r =>
      lbls.flatMap(l => Option(r.getAs[Any](l)).map(v => l -> v.toString)).toMap)
  }
}
