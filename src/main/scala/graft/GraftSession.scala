package graft

import org.apache.spark.sql.SparkSession
import graft.plans.GraftRules

/** The one session every main runs on, as the reference's `serve` and
  * `convert` commands each configure one engine and run every request
  * through it (`cmd/serve.go:201-222`). It takes no settings of its own:
  *  - `local[N]` with N shuffle partitions, N = `SPARK_GRAFT_CPUS` or
  *    min(32, nproc) when unset;
  *  - UTC session time zone (the oracle's timestamps are UTC), UI off;
  *  - `nanosAsLong`, so TIMESTAMP(NANOS) `events.ts` reads as a long
  *    ([[graft.sources.Tables.normalizeTs]]);
  *  - a 64 MB broadcast threshold, so the registry's dimension and
  *    query-set sides broadcast instead of shuffling the fact side;
  *  - the engine's optimizer rules ([[GraftRules]]) and log level WARN. */
object GraftSession {
  def apply(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .getOrCreate()
    installRules(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Append the [[GraftRules]] the session does not run yet, after any
    * rules it already has; a second call adds nothing. */
  def installRules(spark: SparkSession): Unit = {
    val have = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = have ++ GraftRules.all.filterNot(have.contains)
  }
}
