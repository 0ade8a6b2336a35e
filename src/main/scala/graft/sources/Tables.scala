package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog over the driver-provided parquet directory (TESTDATA.md).
  *
  * Mirrors the reference's block discovery in spirit (locate/discover.go:125):
  * the "catalog" is a directory of parquet files keyed by table name; Spark's
  * native parquet reader (vectorized, predicate/projection pushdown) replaces
  * the reference's hand-rolled page IO (search/constraint.go, locate/bucket.go).
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = Tables.rel(spark, s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")

  /** Memoized like [[Tables.rel]] so repeat invocations hand back the SAME
    * DataFrame object — the PromQL compiled-plan cache keys source frames
    * by reference identity, and a fresh `withColumn` copy per call would
    * defeat it (plan metadata only; rows always re-scan). */
  def events: DataFrame = Tables.eventsCache.computeIfAbsent(
    (spark, s"$dir/events.parquet"),
    _ => Tables.normalizeTs(table("events")))
  lazy val documents: DataFrame  = table("documents")
  lazy val embeddings: DataFrame = table("embeddings")
}

object Tables {
  /** Resolved-relation cache: one `spark.read.parquet` per (session, path)
    * per JVM — the catalog role a metastore plays in production. Resolving a
    * parquet relation costs a file listing + footer schema read
    * (~0.1–0.5 s of driver work); a 138-query sweep re-paid it per query
    * per table. Only METADATA (file list + schema) is memoized: every
    * action still scans the parquet files — no rows, results or
    * intermediates are cached, so bench/oracle runs compute from the
    * inputs exactly as before. Nothing evicts these entries, nor the
    * derived caches keyed by the frames they hand out (`Tsdb.samplesCache`,
    * `Histograms.cumHistCache`, `Compiler.planCache`). That is correct only
    * because a `Tables` dir is an immutable fixture: generated, if at all,
    * before its first read, and never rewritten in-process. Written layouts
    * are opened through their own readers ([[graft.etl.Ingest]]), not
    * through `Tables`. */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def rel(spark: SparkSession, path: String): DataFrame =
    relCache.computeIfAbsent((spark, path), _ => spark.read.parquet(path))
  private[sources] val eventsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Normalize an events-shaped `ts` column to TimestampType (LTZ) whatever
    * physical form the driver wrote this round — the single copy both the
    * batch catalog and the streaming source go through:
    *  - TIMESTAMP(NANOS) arrives as a raw long
    *    (`spark.sql.legacy.parquet.nanosAsLong=true` in [[graft.GraftSession]]);
    *    truncate to micros — the same truncation DuckDB applies.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as TIMESTAMP_NTZ
    *    (Spark's `inferTimestampNTZ`); cast to LTZ. Session timezone is UTC in
    *    every session, so the cast preserves the stored micros bit-for-bit —
    *    exactly how DuckDB's naive TIMESTAMP treats the same column.
    * Downstream (`unix_millis`, watermarks) then works uniformly. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
}
