package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Det
import graft.model.TimeSeriesModel
import graft.promql._
import graft.sources.Tables

/** PromQL-surface queries over the events fixture mapped onto the TSDB model
  * (SURVEY.md §2.2-2.8). Each entry demonstrates one reference operator as an
  * idiomatic Spark plan, with a DuckDB oracle expressing identical semantics.
  *
  * Time constants: events span 2024-01 UTC; instants/grids below are chosen so
  * every series has samples in window at all scale factors.
  */
object Tsdb {

  private val DAY  = 86400000L
  private val T0   = 1704067200000L            // 2024-01-01T00:00:00Z
  private val TI   = T0 + 14 * DAY             // instant-query time
  private val LB   = DAY                       // lookback for the sparse fixture

  // memoized per (session, dir) so repeat invocations hand the SAME frame
  // object to the compiled-plan cache (identity-keyed); plan metadata only
  private val samplesCache =
    new java.util.concurrent.ConcurrentHashMap[Tables, DataFrame]()
  private def samples(t: Tables): DataFrame =
    samplesCache.computeIfAbsent(t, t => TimeSeriesModel.samples(t.events))

  /** Deterministically DENSIFIED `purchase` series for the downsample-layer
    * oracles: each base sample's rank expands to 120 twelve-minute ticks,
    * so every uid becomes a continuous 12-min-cadence series (dense enough
    * that a 1h layer clears the cost guard at benefit 5×) and both engines —
    * Spark here, DuckDB in the oracle CTE — derive the identical frame from
    * ranks alone (no timestamp arithmetic that could collide). */
  private def densePurchase(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = samples(t).filter(col("__name__") === "purchase")
    sp.withColumn("ridx", row_number().over(
        Window.partitionBy(col("uid")).orderBy(col("ts_ms"), col("sample_id")))
        .cast("long") - 1L)
      .withColumn("k", explode(sequence(lit(0L), lit(119L))))
      .select(col("__name__"), col("uid"),
        (lit(T0) + (col("ridx") * 120L + col("k")) * 720000L).as("ts_ms"),
        (col("value") + col("k") * 0.001).as("value"),
        (col("ridx") * 120L + col("k")).as("sample_id"))
      .withColumn("series_hash", xxhash64(col("__name__"), col("uid")))
  }

  /** The DuckDB mirror of [[densePurchase]]. */
  private val DENSE_CTE =
    "sp AS (SELECT uid, ts_ms, value, sample_id FROM s WHERE __name__ = 'purchase'), " +
    "rk AS (SELECT uid, value, row_number() OVER (PARTITION BY uid " +
    "ORDER BY ts_ms, sample_id) - 1 AS ridx FROM sp), " +
    "ks AS (SELECT UNNEST(range(120)) AS k), " +
    // 0.001e0 (double), NOT 0.001: DuckDB would otherwise do exact
    // DECIMAL-literal arithmetic where Spark multiplies doubles — 1-ULP
    // divergence on k*0.001 (the verify gotcha)
    s"d AS (SELECT uid, $T0 + (ridx*120 + ks.k)*720000 AS ts_ms, " +
    "value + ks.k*0.001e0 AS value, ridx*120 + ks.k AS sample_id " +
    "FROM rk CROSS JOIN ks)"

  /** DuckDB extrapolated-increase walk over the dense frame `src` on a step
    * grid — mirrors Compiler.extrapolated (no rate normalization), the raw
    * semantics every layer-routed `increase` must hit. */
  private def denseIncreaseSql(start: Long, end: Long, step: Long, win: Long,
                               src: String = "d"): String =
    s"p AS (SELECT *, lag(value) OVER w AS prev_val, lag(ts_ms) OVER w AS prev_ts FROM $src " +
    "WINDOW w AS (PARTITION BY uid ORDER BY ts_ms, sample_id)), " +
    s"g AS (SELECT UNNEST(range($start, ${end + 1}, $step)) AS step_ms), " +
    s"j AS (SELECT p.*, g.step_ms FROM p JOIN g ON p.ts_ms > g.step_ms - $win AND p.ts_ms <= g.step_ms), " +
    "a AS (SELECT uid, step_ms, count(*) AS n, min(ts_ms) AS ft, max(ts_ms) AS lt, " +
    "min_by(value, ts_ms) AS fv, max_by(value, ts_ms) AS lv, " +
    "CAST(CAST(SUM(CAST(CASE WHEN prev_ts IS NOT NULL AND " +
    s"prev_ts > step_ms - $win AND value < prev_val THEN prev_val ELSE 0 END " +
    "AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS resets FROM j GROUP BY 1, 2), " +
    "b AS (SELECT uid, step_ms, n, fv, lv - fv + resets AS rv, " +
    s"CAST(ft - (step_ms - $win) AS DOUBLE) / 1000.0e0 AS ds0, " +
    "CAST(step_ms - lt AS DOUBLE) / 1000.0e0 AS de0, " +
    "CAST(lt - ft AS DOUBLE) / 1000.0e0 AS si FROM a WHERE n >= 2), " +
    "c AS (SELECT *, si / (n - 1) AS ai, si * (fv / rv) AS dz FROM b), " +
    "dd AS (SELECT *, ai * 1.1e0 AS thr FROM c), " +
    "e AS (SELECT *, CASE WHEN ds0 >= thr THEN ai / 2.0e0 ELSE ds0 END AS dsa FROM dd), " +
    "f AS (SELECT *, CASE WHEN rv > 0 AND fv >= 0 AND dz < dsa THEN dz ELSE dsa END AS dsb, " +
    "CASE WHEN de0 >= thr THEN ai / 2.0e0 ELSE de0 END AS deb FROM e) " +
    "SELECT uid, step_ms, rv * ((si + dsb + deb) / si) AS value " +
    "FROM f ORDER BY uid, step_ms"
  private val labels = Seq(col("__name__"), col("uid"))

  /** Instant vector at TI with 24h lookback, engine-internal cols dropped. */
  private def instant(t: Tables, ms: Seq[LabelMatcher] = Nil): DataFrame =
    Eval.instantVector(samples(t), ms, TI, LB)
      .select(col("__name__"), col("uid"), col("value"), col("ts_ms"))

  // ---- shared oracle fragments -------------------------------------------
  private val S_CTE =
    "s AS (SELECT event_type AS __name__, CAST(user_id AS VARCHAR) AS uid, " +
      "epoch_ms(ts) AS ts_ms, value, event_id AS sample_id FROM events)"
  private def vCte(tms: Long = TI, lb: Long = LB) =
    s"v AS (SELECT __name__, uid, max_by(value, ts_ms) AS value, max(ts_ms) AS ts_ms " +
      s"FROM s WHERE ts_ms > ${tms - lb} AND ts_ms <= $tms GROUP BY __name__, uid)"
  private val DSUM = "CAST(CAST(SUM(CAST(value AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE)"

  /** Open-bucket cache for the serving-path queries: one
    * [[graft.sources.TsdbBlockReader.OpenTsdbBucket]] per fixture dir per
    * JVM (parse-once is the thing the query measures). */
  private val openBuckets = new java.util.concurrent.ConcurrentHashMap[
    String, graft.sources.TsdbBlockReader.OpenTsdbBucket]()

  /** The shared TSDB-block fixture opened for serving, once per JVM. */
  private def openFixtureBucket(t: Tables) = {
    val dir = tsdbBlockFixture(t)
    val (root, ulid) = (dir.substring(0, dir.lastIndexOf('/')),
      dir.substring(dir.lastIndexOf('/') + 1))
    openBuckets.computeIfAbsent(dir, _ =>
      graft.sources.TsdbBlockReader.openBucket(t.spark, root, Seq(ulid)))
  }

  /** The shared TSDB-block fixture (3-day dedup slice written as a real
    * index-v2 block); returns the block directory. The WRITER is the
    * documented driver-side seam — it bounds what it hands the driver —
    * while every READ under test stays fully distributed. Shared by
    * `s1_tsdb_block` (full-section walk) and `s1_tsdb_postings`
    * (postings-pruned walk), built once per JVM via [[FixtureCache]]. */
  private def tsdbBlockFixture(t: Tables): String = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val root = FixtureCache.dir(t.dir, "tsdbblock") { out =>
      val ded = samples(t)
        .filter(col("ts_ms") < T0 + 3 * DAY)
        .groupBy(col("__name__"), col("uid"), col("ts_ms"))
        .agg(min_by(col("value"), col("sample_id")).as("value"))
      val series = ded.collect()
        .groupBy(r => (r.getString(0), r.getString(1))).toSeq.sortBy(_._1)
        .map { case ((n, u), rs) =>
          Map("__name__" -> n, "uid" -> u) -> (new GenericArrayData(
            rs.sortBy(_.getLong(2)).map(r =>
              InternalRow(r.getLong(2), r.getDouble(3), null)).toArray[Any])
            : org.apache.spark.sql.catalyst.util.ArrayData)
        }
      graft.etl.TsdbBlock.writeBlock(out, "01HV0ORACLEBLOCK0000000000", series)
    }
    s"$root/01HV0ORACLEBLOCK0000000000"
  }

  def entries: Seq[Q] = Seq(

    // ------------------------------------------------------------------ S1
    // Gorilla/XOR chunk codec roundtrip (ref schema/block.go:37-76 stores
    // per-8h-window chunk bytes): samples → 8h chunk frames → ChunkEncode →
    // bytes → ChunkDecode → samples. The oracle is the RAW sample set, so any
    // codec bit-slip (incl. NaN payloads / -0.0) hash-mismatches. At 100 TB
    // the encode is map-side post-grouping; chunks are what you'd persist.
    Q("s1_chunk_roundtrip",
      t => {
        import graft.functions.{ChunkDecode, ChunkEncode}
        val win = col("ts_ms") - pmod(col("ts_ms"), lit(8L * 3600 * 1000))
        samples(t)
          .groupBy(col("__name__"), col("uid"), win.as("__graft_win"))
          .agg(sort_array(collect_list(struct(col("ts_ms"), col("value"))))
            .as("__graft_pts"))
          .select(col("__name__"), col("uid"),
            explode(ChunkDecode(ChunkEncode(col("__graft_pts")))).as("__graft_p"))
          .select(col("__name__"), col("uid"),
            col("__graft_p.ts_ms").as("ts_ms"), col("__graft_p.value").as("value"))
          .orderBy(col("__name__"), col("uid"), col("ts_ms"), col("value"))
      },
      Some(s"WITH $S_CTE SELECT __name__, uid, ts_ms, value FROM s " +
        "ORDER BY __name__, uid, ts_ms, value")),

    // Real Prometheus TSDB block as migration source: the samples (deduped
    // to the layout's ≤1-per-(series,ts) invariant) are written as an
    // actual TSDB block — index v2 (TOC/symbols/series/postings, CRC-32C)
    // + chunk segment file — then read back DISTRIBUTED (binaryFile index
    // parse → per-segment forward chunk scan → shared PromFramesDecode),
    // the end-to-end the reference runs via tsdb.OpenBlock
    // (cmd/convert.go:472). Oracle = the same dedup over the raw table, so
    // any index-walk slip, chunk-ref misresolution or codec bit-slip
    // hash-mismatches. Block build is the documented driver-side fixture
    // seam; the READ under test is fully distributed.
    Q("s1_tsdb_block",
      t => {
        graft.sources.TsdbBlockReader
          .loadSamples(t.spark, Seq(tsdbBlockFixture(t)))
          .groupBy(date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd").as("date"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"),
            count_distinct(col("__name__"), col("uid")).as("n_series"))
          .orderBy(col("date"))
      },
      Some(s"WITH $S_CTE, d AS (SELECT __name__, uid, ts_ms, " +
        s"min_by(value, sample_id) AS value FROM s WHERE ts_ms < ${T0 + 3 * DAY} " +
        "GROUP BY 1, 2, 3) " +
        "SELECT strftime(make_timestamp(ts_ms * 1000), '%Y-%m-%d') AS date, " +
        s"count(*) AS n, $DSUM AS sum_v, " +
        "count(DISTINCT (__name__, uid)) AS n_series FROM d GROUP BY 1 ORDER BY 1")),

    // Postings-pruned block read: the matcher set resolves INSIDE the index
    // task via the postings sections (readPostings → readSeriesByIds), so
    // only the matched metric's series entries are decoded and only their
    // chunks are fetched — the selective-read half the reference gets from
    // tsdb.OpenBlock's PostingsForMatchers. Oracle = the same dedup slice
    // filtered post-hoc, so a postings slip (wrong id space, bad
    // intersection, missed entry) hash-mismatches. Shares s1_tsdb_block's
    // cached fixture: only the READ differs between the two queries.
    Q("s1_tsdb_postings",
      t => {
        graft.sources.TsdbBlockReader
          .loadSamples(t.spark, Seq(tsdbBlockFixture(t)),
            matchers = Map("__name__" -> Seq("purchase")))
          .groupBy(col("uid"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
          .orderBy(col("uid"))
      },
      Some(s"WITH $S_CTE, d AS (SELECT __name__, uid, ts_ms, " +
        s"min_by(value, sample_id) AS value FROM s WHERE ts_ms < ${T0 + 3 * DAY} " +
        "GROUP BY 1, 2, 3) " +
        s"SELECT uid, count(*) AS n, $DSUM AS sum_v FROM d " +
        "WHERE __name__ = 'purchase' GROUP BY 1 ORDER BY 1")),

    // FULL matcher pushdown (regex + negation) through the same distributed
    // read: =~ resolves per block against the index's label-value
    // dictionary (TsdbBlock.readLabelValues) and != honors missing≡"" —
    // the PostingsForMatchers decomposition, now under the oracle gate
    // (EtlSpec pins the decode counts; this pins the VALUES). Oracle
    // filters the dedup slice post-hoc in SQL, so a dictionary slip, bad
    // anchoring, or wrong complement hash-mismatches.
    Q("s1_tsdb_matchers",
      t => {
        graft.sources.TsdbBlockReader
          .loadSamplesMatching(t.spark, Seq(tsdbBlockFixture(t)),
            Seq(graft.promql.MatchRe("__name__", "p.*|v.*"),
              graft.promql.MatchNotEq("uid", "3")))
          .groupBy(col("__name__"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
          .orderBy(col("__name__"))
      },
      Some(s"WITH $S_CTE, d AS (SELECT __name__, uid, ts_ms, " +
        s"min_by(value, sample_id) AS value FROM s WHERE ts_ms < ${T0 + 3 * DAY} " +
        "GROUP BY 1, 2, 3) " +
        s"SELECT __name__, count(*) AS n, $DSUM AS sum_v FROM d " +
        "WHERE regexp_full_match(__name__, 'p.*|v.*') AND uid <> '3' " +
        "GROUP BY 1 ORDER BY 1")),

    // serving-cache slice: an OPEN bucket (indexes parsed once per JVM,
    // refs cached — the Syncer/open-block analog) answers a day-2 time
    // slice from the cached refs alone. Oracle = the same dedup slice
    // bounded in SQL, so a refs-bound slip (off-by-one day edges, lost
    // chunk pruning) hash-mismatches.
    Q("s1_tsdb_open",
      t => openFixtureBucket(t)
        .select(T0 + DAY, T0 + 2 * DAY - 1)
        .groupBy(col("__name__"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
        .orderBy(col("__name__")),
      Some(s"WITH $S_CTE, d AS (SELECT __name__, uid, ts_ms, " +
        s"min_by(value, sample_id) AS value FROM s WHERE ts_ms < ${T0 + 3 * DAY} " +
        "GROUP BY 1, 2, 3) " +
        s"SELECT __name__, count(*) AS n, $DSUM AS sum_v FROM d " +
        s"WHERE ts_ms BETWEEN ${T0 + DAY} AND ${T0 + 2 * DAY - 1} " +
        "GROUP BY 1 ORDER BY 1")),

    // Download-then-open: the block is mirrored through BlockFetch's
    // resumable cache (the reference's convert-loop fetch,
    // cmd/convert.go:443-591) and the distributed read runs against the
    // LOCAL copy — so the driver gate also proves the fetch layer moves
    // every byte faithfully (any copy slip changes the hash). Repeat
    // invocations are zero-read cache hits on both layers.
    Q("s1_tsdb_cached",
      t => {
        val remote = tsdbBlockFixture(t)
        val ulid = remote.substring(remote.lastIndexOf('/') + 1)
        val remoteRoot = remote.substring(0, remote.lastIndexOf('/'))
        val cacheRoot = FixtureCache.dir(t.dir, "tsdbfetchcache") { _ => () }
        val local = graft.etl.BlockFetch.ensureLocal(remoteRoot, ulid, cacheRoot)
        graft.sources.TsdbBlockReader.loadSamples(t.spark, Seq(local))
          .groupBy(col("__name__"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
          .orderBy(col("__name__"))
      },
      Some(s"WITH $S_CTE, d AS (SELECT __name__, uid, ts_ms, " +
        s"min_by(value, sample_id) AS value FROM s WHERE ts_ms < ${T0 + 3 * DAY} " +
        "GROUP BY 1, 2, 3) " +
        s"SELECT __name__, count(*) AS n, $DSUM AS sum_v FROM d " +
        "GROUP BY 1 ORDER BY 1")),

    // ------------------------------------------------------------------ P1/P2
    Q("p1_matchers_select",
      t => Eval.select(samples(t),
          Seq(MatchEq("__name__", "purchase"), MatchNotEq("uid", "3")),
          T0, T0 + 31 * DAY)
        .select(col("sample_id"), col("__name__"), col("uid"), col("ts_ms"), col("value"))
        .orderBy(col("sample_id")),
      Some(s"WITH $S_CTE SELECT sample_id, __name__, uid, ts_ms, value FROM s " +
        "WHERE __name__ = 'purchase' AND uid <> '3' " +
        s"AND ts_ms BETWEEN $T0 AND ${T0 + 31 * DAY} ORDER BY sample_id")),

    // missing label ≡ "": matchers on a nonexistent column are tautologies
    Q("p2_missing_label_semantics",
      t => samples(t)
        .filter(Matchers.compile(samples(t), Seq(
          MatchEq("env", ""), MatchNotEq("env", "prod"), MatchRe("uid", ".+"))))
        .groupBy(col("__name__")).agg(count(lit(1)).as("n"))
        .orderBy(col("__name__")),
      Some(s"WITH $S_CTE SELECT __name__, count(*) AS n FROM s " +
        "WHERE regexp_full_match(uid, '.+') GROUP BY __name__ ORDER BY __name__")),

    // ------------------------------------------------------------------ P3/P4
    Q("p3_regex_anchored",
      t => samples(t)
        .filter(Matchers.compile(samples(t), Seq(MatchRe("__name__", "p.*|cl.*"))))
        .groupBy(col("__name__")).agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
        .orderBy(col("__name__")),
      Some(s"WITH $S_CTE SELECT __name__, count(*) AS n, $DSUM AS sum_v FROM s " +
        "WHERE regexp_full_match(__name__, 'p.*|cl.*') GROUP BY __name__ ORDER BY __name__")),

    Q("p3_regex_litparts",  // suffix + contains literals → pushed EndsWith/Contains
      t => samples(t)
        .filter(Matchers.compile(samples(t),
          Seq(MatchRe("__name__", ".*ck"), MatchRe("uid", ".*1.*"))))
        .groupBy(col("__name__")).agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
        .orderBy(col("__name__")),
      Some(s"WITH $S_CTE SELECT __name__, count(*) AS n, $DSUM AS sum_v FROM s " +
        "WHERE regexp_full_match(__name__, '.*ck') AND regexp_full_match(uid, '.*1.*') " +
        "GROUP BY __name__ ORDER BY __name__")),

    Q("p3_regex_setmatch",  // literal alternation → IN (pushdown-friendly)
      t => samples(t)
        .filter(Matchers.compile(samples(t), Seq(MatchRe("__name__", "click|view"))))
        .groupBy(col("__name__")).agg(count(lit(1)).as("n"))
        .orderBy(col("__name__")),
      Some(s"WITH $S_CTE SELECT __name__, count(*) AS n FROM s " +
        "WHERE __name__ IN ('click','view') GROUP BY __name__ ORDER BY __name__")),

    Q("p4_negated_matchers",
      t => samples(t)
        .filter(Matchers.compile(samples(t),
          Seq(MatchNotRe("uid", "1.*"), MatchNotEq("__name__", "error"))))
        .groupBy(col("__name__"), col("uid")).agg(count(lit(1)).as("n"))
        .orderBy(col("__name__"), col("uid")),
      Some(s"WITH $S_CTE SELECT __name__, uid, count(*) AS n FROM s " +
        "WHERE NOT regexp_full_match(uid, '1.*') AND __name__ <> 'error' " +
        "GROUP BY __name__, uid ORDER BY __name__, uid")),

    // ------------------------------------------------------------------ P10
    // external labels are per-stream constants: matcher is consumed
    // (constant-folded) and the label re-attached to output
    Q("p10_external_label_fold",
      t => samples(t).withColumn("cluster", lit("us-east"))
        .filter(col("cluster") === "us-east")
        .groupBy(col("__name__"), col("cluster")).agg(count(lit(1)).as("n"))
        .orderBy(col("__name__")),
      Some(s"WITH $S_CTE SELECT __name__, 'us-east' AS cluster, count(*) AS n " +
        "FROM s WHERE 'us-east' = 'us-east' GROUP BY __name__ ORDER BY __name__")),

    Q("p10_external_label_veto",  // non-matching external matcher vetoes scan
      t => samples(t).withColumn("cluster", lit("us-east"))
        .filter(col("cluster") === "eu-west")
        .select(col("__name__"), col("uid"), col("value")),
      Some(s"WITH $S_CTE SELECT __name__, uid, value FROM s WHERE 'us-east' = 'eu-west'")),

    // ------------------------------------------------------------------ P7/P11
    Q("p11_time_interval",
      t => Eval.select(samples(t), Nil, T0 + 7 * DAY, T0 + 14 * DAY - 1)
        .groupBy(labels: _*)
        .agg(count(lit(1)).as("n"), min(col("ts_ms")).as("min_ts"),
          max(col("ts_ms")).as("max_ts"), Det.dsum(col("value")).as("sum_v"))
        .orderBy(labels: _*),
      Some(s"WITH $S_CTE SELECT __name__, uid, count(*) AS n, min(ts_ms) AS min_ts, " +
        s"max(ts_ms) AS max_ts, $DSUM AS sum_v FROM s " +
        s"WHERE ts_ms BETWEEN ${T0 + 7 * DAY} AND ${T0 + 14 * DAY - 1} " +
        "GROUP BY __name__, uid ORDER BY __name__, uid")),

    // ------------------------------------------------------------------ J1
    // labels↔samples join on series_hash: the positional two-file join is an
    // artifact of the reference layout; here it is a broadcast hash join
    Q("j1_series_samples_join",
      t => {
        val se = TimeSeriesModel.series(t.events)
        val sa = samples(t).select(col("series_hash"), col("value"))
        broadcast(se).join(sa, "series_hash")
          .groupBy(labels: _*)
          .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
          .orderBy(labels: _*)
      },
      Some(s"WITH $S_CTE SELECT __name__, uid, count(*) AS n, $DSUM AS sum_v " +
        "FROM s GROUP BY __name__, uid ORDER BY __name__, uid")),

    // ------------------------------------------------------------------ J4/W4
    Q("j4_instant_lookback",
      t => instant(t).orderBy(col("__name__"), col("uid")),
      Some(s"WITH $S_CTE, ${vCte()} SELECT __name__, uid, value, ts_ms FROM v " +
        "ORDER BY __name__, uid")),

    Q("w4_range_grid", {
      val (start, end, step, lb) = (T0 + 9 * DAY, T0 + 19 * DAY, 21600000L, 43200000L)
      (t: Tables) => Eval.rangeVectors(samples(t), Nil, start, end, step, lb)
        .select(col("__name__"), col("uid"), col("step_ms"), col("value"))
        .orderBy(col("__name__"), col("uid"), col("step_ms"))
      },
      Some {
        val (start, end, step, lb) = (T0 + 9 * DAY, T0 + 19 * DAY, 21600000L, 43200000L)
        s"WITH $S_CTE, g AS (SELECT UNNEST(range($start, ${end + 1}, $step)) AS step_ms) " +
          "SELECT s.__name__, s.uid, g.step_ms, max_by(s.value, s.ts_ms) AS value " +
          s"FROM s JOIN g ON s.ts_ms > g.step_ms - $lb AND s.ts_ms <= g.step_ms " +
          "GROUP BY s.__name__, s.uid, g.step_ms ORDER BY s.__name__, s.uid, g.step_ms"
      }),

    // ------------------------------------------------------------------ A7
    Q("a7_rate_family",
      t => RangeFunctions.rateFamily(samples(t), DAY)
        .orderBy(col("__name__"), col("uid"), col("win_ms")),
      Some(s"WITH $S_CTE, " +
        "p AS (SELECT *, lag(value) OVER w AS prev_val, lag(ts_ms) OVER w AS prev_ts FROM s " +
        "WINDOW w AS (PARTITION BY __name__, uid ORDER BY ts_ms, sample_id)), " +
        s"b AS (SELECT *, ts_ms - (ts_ms % $DAY) AS win_ms, " +
        s"(prev_ts IS NOT NULL AND prev_ts - (prev_ts % $DAY) = ts_ms - (ts_ms % $DAY)) AS same_win FROM p), " +
        "g AS (SELECT __name__, uid, win_ms, count(*) AS n_samples, " +
        "min(ts_ms) AS first_ts, max(ts_ms) AS last_ts, " +
        "min_by(value, ts_ms) AS first_val, max_by(value, ts_ms) AS last_val, " +
        "CAST(CAST(SUM(CAST(CASE WHEN same_win AND value < prev_val THEN prev_val ELSE 0 END AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS resets, " +
        "max_by(value - prev_val, ts_ms) FILTER (WHERE same_win) AS idelta " +
        "FROM b GROUP BY __name__, uid, win_ms), " +
        // the Prometheus extrapolation walk (window (win_ms, win_ms+DAY]):
        // boundary-threshold clamp first, counter zero-crossing second —
        // mirrors RangeFunctions.rateFamily = Compiler.extrapolated
        "x1 AS (SELECT *, CAST(last_ts - first_ts AS DOUBLE)/1000.0e0 AS si, " +
        "CAST(first_ts - win_ms AS DOUBLE)/1000.0e0 AS ds0, " +
        s"CAST(win_ms + $DAY - last_ts AS DOUBLE)/1000.0e0 AS de0, " +
        "last_val - first_val + resets AS rvc, last_val - first_val AS rvg FROM g " +
        "WHERE n_samples >= 2), " +
        "x2 AS (SELECT *, si/(n_samples-1) AS ai FROM x1), " +
        "x3 AS (SELECT *, ai*1.1e0 AS thr, si*(first_val/rvc) AS dz FROM x2), " +
        "x4 AS (SELECT *, CASE WHEN ds0 >= thr THEN ai/2.0e0 ELSE ds0 END AS dsa, " +
        "CASE WHEN de0 >= thr THEN ai/2.0e0 ELSE de0 END AS deb FROM x3), " +
        "x5 AS (SELECT *, CASE WHEN rvc > 0 AND first_val >= 0 AND dz < dsa " +
        "THEN dz ELSE dsa END AS dsb FROM x4) " +
        "SELECT g.__name__, g.uid, g.win_ms, g.n_samples, " +
        "x5.rvg*((x5.si+x5.dsa+x5.deb)/x5.si) AS delta, " +
        "x5.rvc*((x5.si+x5.dsb+x5.deb)/x5.si) AS increase, " +
        s"x5.rvc*((x5.si+x5.dsb+x5.deb)/x5.si)/(CAST($DAY AS DOUBLE)/1000.0e0) AS rate, " +
        "g.idelta FROM g LEFT JOIN x5 USING (__name__, uid, win_ms) " +
        "ORDER BY __name__, uid, win_ms")),

    Q("a7_over_time",
      t => RangeFunctions.overTime(samples(t), DAY)(
          "n" -> RangeFunctions.countOverTime(col("value")),
          "sum_v" -> RangeFunctions.sumOverTime(col("value")),
          "avg_v" -> RangeFunctions.avgOverTime(col("value")),
          "min_v" -> RangeFunctions.minOverTime(col("value")),
          "max_v" -> RangeFunctions.maxOverTime(col("value")),
          "stddev_v" -> RangeFunctions.stddevOverTime(col("value")),
          "first_v" -> RangeFunctions.firstOverTime(col("value"), col("ts_ms")),
          "last_v" -> RangeFunctions.lastOverTime(col("value"), col("ts_ms")))
        .select(col("__name__"), col("uid"), col("win_ms"), col("n"), col("sum_v"),
          col("avg_v"), col("min_v"), col("max_v"), col("stddev_v"),
          col("first_v"), col("last_v"))
        .orderBy(col("__name__"), col("uid"), col("win_ms")),
      Some(s"WITH $S_CTE, b AS (SELECT *, ts_ms - (ts_ms % $DAY) AS win_ms FROM s) " +
        "SELECT __name__, uid, win_ms, count(value) AS n, " +
        s"$DSUM AS sum_v, $DSUM / count(value) AS avg_v, " +
        "min(value) AS min_v, max(value) AS max_v, " +
        "CASE WHEN count(value) > 0 THEN sqrt(greatest(0.0, " +
        "(CAST(CAST(SUM(CAST(value*value AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) " +
        s"- $DSUM * $DSUM / count(value)) / count(value))) END AS stddev_v, " +
        "min_by(value, ts_ms) AS first_v, max_by(value, ts_ms) AS last_v " +
        "FROM b GROUP BY __name__, uid, win_ms ORDER BY __name__, uid, win_ms")),

    // ------------------------------------------------------------------ A6
    Q("a6_agg_by",
      t => Aggregations.aggregate(instant(t), Seq(col("__name__")))(
          "sum_v" -> Aggregations.sumAgg(col("value")),
          "avg_v" -> Aggregations.avgAgg(col("value")),
          "min_v" -> Aggregations.minAgg(col("value")),
          "max_v" -> Aggregations.maxAgg(col("value")),
          "n" -> Aggregations.countAgg(col("value")),
          "stddev_v" -> Aggregations.stddevAgg(col("value")),
          "stdvar_v" -> Aggregations.stdvarAgg(col("value")))
        .orderBy(col("__name__")),
      Some(s"WITH $S_CTE, ${vCte()} SELECT __name__, $DSUM AS sum_v, " +
        s"$DSUM / count(value) AS avg_v, min(value) AS min_v, max(value) AS max_v, " +
        "count(value) AS n, " +
        "CASE WHEN count(value) > 0 THEN sqrt(greatest(0.0, (CAST(CAST(SUM(CAST(value*value AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) " +
        s"- $DSUM * $DSUM / count(value)) / count(value))) END AS stddev_v, " +
        "CASE WHEN count(value) > 0 THEN greatest(0.0, (CAST(CAST(SUM(CAST(value*value AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) " +
        s"- $DSUM * $DSUM / count(value)) / count(value)) END AS stdvar_v " +
        "FROM v GROUP BY __name__ ORDER BY __name__")),

    Q("a6_topk",
      t => Aggregations.topk(instant(t).select(col("__name__"), col("uid"), col("value")),
          3, Seq(col("__name__")), Seq(col("uid")))
        .orderBy(col("__name__"), col("value").desc, col("uid")),
      Some(s"WITH $S_CTE, ${vCte()} SELECT __name__, uid, value FROM v " +
        "QUALIFY row_number() OVER (PARTITION BY __name__ ORDER BY value DESC, uid) <= 3 " +
        "ORDER BY __name__, value DESC, uid")),

    Q("a6_quantile",
      t => Aggregations.quantile(instant(t).select(col("__name__"), col("value")),
          0.9e0, Seq(col("__name__")))
        .orderBy(col("__name__")),
      Some(s"WITH $S_CTE, ${vCte()}, r AS (SELECT __name__, value, " +
        "row_number() OVER (PARTITION BY __name__ ORDER BY value) - 1 AS rn, " +
        "count(*) OVER (PARTITION BY __name__) AS n FROM v) " +
        "SELECT __name__, min_by(value, rn) + (0.9e0*(n-1) - floor(0.9e0*(n-1))) * " +
        "(max_by(value, rn) - min_by(value, rn)) AS value FROM r " +
        "WHERE rn = CAST(floor(0.9e0*(n-1)) AS BIGINT) OR rn = CAST(floor(0.9e0*(n-1)) AS BIGINT) + 1 " +
        "GROUP BY __name__, n ORDER BY __name__")),

    // ------------------------------------------------------------------ J3
    Q("j3_binop_ratio",
      t => BinaryOps.binop(
          instant(t, Seq(MatchEq("__name__", "purchase"))).select(col("uid"), col("value")),
          instant(t, Seq(MatchEq("__name__", "view"))).select(col("uid"), col("value")),
          on = Seq("uid"))(_ / _)
        .select(col("uid"), col("value"))
        .orderBy(col("uid")),
      Some(s"WITH $S_CTE, ${vCte()}, " +
        "p AS (SELECT uid, value FROM v WHERE __name__ = 'purchase'), " +
        "w AS (SELECT uid, value FROM v WHERE __name__ = 'view') " +
        "SELECT p.uid, p.value / w.value AS value FROM p JOIN w USING (uid) ORDER BY uid")),

    // ------------------------------------------------------------------ U3
    Q("u3_and",
      t => BinaryOps.and(
          instant(t, Seq(MatchEq("__name__", "purchase"))).select(col("uid"), col("value")),
          instant(t, Seq(MatchEq("__name__", "error"))).select(col("uid")),
          on = Seq("uid"))
        .orderBy(col("uid")),
      Some(s"WITH $S_CTE, ${vCte()} SELECT uid, value FROM v WHERE __name__ = 'purchase' " +
        "AND uid IN (SELECT uid FROM v WHERE __name__ = 'error') ORDER BY uid")),

    Q("u3_unless",
      t => BinaryOps.unless(
          instant(t, Seq(MatchEq("__name__", "purchase"))).select(col("uid"), col("value")),
          instant(t, Seq(MatchEq("__name__", "error"))).select(col("uid")),
          on = Seq("uid"))
        .orderBy(col("uid")),
      Some(s"WITH $S_CTE, ${vCte()} SELECT uid, value FROM v WHERE __name__ = 'purchase' " +
        "AND uid NOT IN (SELECT uid FROM v WHERE __name__ = 'error') ORDER BY uid")),

    Q("u3_or",
      t => BinaryOps.or(
          instant(t, Seq(MatchEq("__name__", "purchase"))).select(col("__name__"), col("uid"), col("value")),
          instant(t, Seq(MatchEq("__name__", "error"))).select(col("__name__"), col("uid"), col("value")),
          on = Seq("uid"))
        .orderBy(col("__name__"), col("uid")),
      Some(s"WITH $S_CTE, ${vCte()} " +
        "SELECT __name__, uid, value FROM v WHERE __name__ = 'purchase' " +
        "UNION ALL SELECT __name__, uid, value FROM v WHERE __name__ = 'error' " +
        "AND uid NOT IN (SELECT uid FROM v WHERE __name__ = 'purchase') " +
        "ORDER BY __name__, uid")),

    // ------------------------------------------------------------------ U2/A1
    Q("u2_union_matchsets",  // match[] = OR of matcher sets in ONE scan
      t => Eval.selectUnion(samples(t),
          Seq(Seq(MatchRe("__name__", "p.*")), Seq(MatchEq("uid", "3"))),
          T0, T0 + 31 * DAY)
        .groupBy(col("__name__")).agg(count(lit(1)).as("n"))
        .orderBy(col("__name__")),
      Some(s"WITH $S_CTE SELECT __name__, count(*) AS n FROM s " +
        "WHERE regexp_full_match(__name__, 'p.*') OR uid = '3' " +
        "GROUP BY __name__ ORDER BY __name__")),

    Q("a1_dedup_counts",
      t => {
        val nSamples = samples(t).dropDuplicates("series_hash", "ts_ms")
          .agg(count(lit(1)).as("n_samples"))
        val nSeries = TimeSeriesModel.series(t.events).agg(count(lit(1)).as("n_series"))
        nSamples.crossJoin(nSeries)
      },
      Some("SELECT (SELECT count(*) FROM (SELECT DISTINCT event_type, user_id, epoch_ms(ts) FROM events) a) AS n_samples, " +
        "(SELECT count(DISTINCT (event_type, user_id)) FROM events) AS n_series")),

    // replica-label dedup (A2, ref db/shard.go:253-268): two synthetic HA
    // replicas of the corpus — r1 missing uid=3, r2 complete but value-shifted
    // — collapse to r1 where both exist (min replica wins) and r2 where only
    // it has the series, at series grain, replica label dropped from output
    Q("a2_replica_dedup",
      t => {
        val s = samples(t)
        val r1 = s.filter(col("uid") =!= "3").withColumn("replica", lit("r1"))
        val r2 = s.withColumn("value", col("value") + 1000.0e0)
          .withColumn("replica", lit("r2"))
        // replicaDedup reads its input twice (winner election + semi join) —
        // persist the doubled union so each pass reuses one materialization
        TimeSeriesModel.replicaDedup(r1.unionByName(r2).persist(), Seq("replica"))
          .groupBy(col("__name__"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
          .orderBy(col("__name__"))
      },
      Some(s"WITH $S_CTE, " +
        "b AS (SELECT __name__, uid, value, 'r1' AS replica FROM s WHERE uid <> '3' " +
        "UNION ALL SELECT __name__, uid, value + 1000.0e0, 'r2' FROM s), " +
        "w AS (SELECT __name__, uid, min(replica) AS win FROM b GROUP BY 1, 2) " +
        s"SELECT b.__name__, count(*) AS n, $DSUM AS sum_v " +
        "FROM b JOIN w ON b.__name__ = w.__name__ AND b.uid = w.uid AND b.replica = w.win " +
        "GROUP BY b.__name__ ORDER BY b.__name__")),

    // ------------------------------------------------------------------ A3/A4
    Q("a3_label_values",
      t => Eval.select(samples(t), Seq(MatchEq("__name__", "purchase")), T0, T0 + 31 * DAY)
        .select(col("uid")).distinct().orderBy(col("uid")).limit(100),
      Some("SELECT DISTINCT CAST(user_id AS VARCHAR) AS uid FROM events " +
        "WHERE event_type = 'purchase' ORDER BY uid LIMIT 100")),

    Q("a4_label_names",
      t => {
        val m = samples(t).filter(Matchers.compile(samples(t), Seq(MatchEq("uid", "3"))))
        m.agg(count(col("__name__")).as("c1"), count(col("uid")).as("c2"))
          .select(explode(array(
            struct(lit("__name__").as("label"), col("c1").as("c")),
            struct(lit("uid").as("label"), col("c2").as("c")))).as("x"))
          .select(col("x.label").as("label"), col("x.c").as("c"))
          .filter(col("c") > 0).select(col("label")).orderBy(col("label"))
      },
      Some("SELECT label FROM (SELECT '__name__' AS label, count(event_type) AS c FROM events WHERE user_id = 3 " +
        "UNION ALL SELECT 'uid', count(user_id) FROM events WHERE user_id = 3) t " +
        "WHERE c > 0 ORDER BY label")),

    // label_values over a RAW TSDB block through the serving store: the
    // same OPEN bucket as s1_tsdb_open answers off its cached refs alone —
    // no chunk and no index I/O per call. Oracle = distinct uid of the
    // block's 3-day slice, so a lost or duplicated series hash-mismatches.
    Q("a3_tsdb_label_values",
      t => {
        import t.spark.implicits._
        openFixtureBucket(t).labelValues("uid").toDF("uid").orderBy(col("uid"))
      },
      Some(s"WITH $S_CTE SELECT DISTINCT uid FROM s " +
        s"WHERE ts_ms < ${T0 + 3 * DAY} ORDER BY uid")),

    // label_values over a REFERENCE bucket through the serving store: the
    // in-range days' labels files answer, day-granular like the reference
    // (search/search.go:173-201) — chunks files are never opened
    // (PromXorSpec pins that by deleting them). Oracle = distinct uid of
    // the raw table, so a day-pruning slip or a lost shard hash-mismatches.
    Q("a3_reference_label_values",
      t => {
        import t.spark.implicits._
        // same 2-shard reference bucket as s5_reference_layout/select —
        // the cache builds it once per JVM, like a real bucket converted
        // once and queried many times
        val out = FixtureCache.dir(t.dir, "ref2shard") { d =>
          graft.etl.ReferenceFormat.convertReference(t.spark,
            TimeSeriesModel.samples(t.events), d, numShards = 2)
        }
        graft.sources.SeriesStore.reference(t.spark, out)
          .labelValues("uid", Nil, T0, T0 + 31 * DAY)
          .toDF("uid").orderBy(col("uid"))
      },
      Some("SELECT DISTINCT CAST(user_id AS VARCHAR) AS uid FROM events ORDER BY uid")),

    // ------------------------------------------------------------------ O1-O4
    Q("o3_series_limit",
      t => TimeSeriesModel.series(t.events)
        .select(col("__name__"), col("uid"))
        .orderBy(col("__name__"), col("uid")).limit(20),
      Some("SELECT DISTINCT event_type AS __name__, CAST(user_id AS VARCHAR) AS uid " +
        "FROM events ORDER BY 1, 2 LIMIT 20")),

    // ------------------------------------------------------------------ §2.8
    Q("f_math_scalar",
      t => instant(t)
        .select(col("__name__"), col("uid"),
          abs(col("value") - 100.0).as("abs_v"),
          // Spark ceil/floor(double) yield BIGINT; DuckDB's yield DOUBLE —
          // cast so the driver's type-sensitive hash agrees
          ceil(col("value")).cast("double").as("ceil_v"),
          floor(col("value")).cast("double").as("floor_v"),
          sqrt(col("value")).as("sqrt_v"),
          least(greatest(col("value"), lit(10.0)), lit(100.0)).as("clamp_v"),
          round(log(col("value") + 1.0), 4).as("ln_v"))
        .orderBy(col("__name__"), col("uid")),
      Some(s"WITH $S_CTE, ${vCte()} SELECT __name__, uid, abs(value - 100.0) AS abs_v, " +
        "ceil(value) AS ceil_v, floor(value) AS floor_v, sqrt(value) AS sqrt_v, " +
        "least(greatest(value, 10.0), 100.0) AS clamp_v, round(ln(value + 1.0), 4) AS ln_v " +
        "FROM v ORDER BY __name__, uid")),

    Q("f_trig",  // trig surface; 4dp rounding absorbs libm-vs-JVM last-ulp
      t => instant(t)
        .select(col("__name__"), col("uid"),
          round(sin(col("value") / 100.0), 4).as("sin_v"),
          round(cos(col("value") / 100.0), 4).as("cos_v"),
          round(tan(col("value") / 1000.0), 4).as("tan_v"),
          round(atan2(col("value"), lit(100.0)), 4).as("atan2_v"),
          round(degrees(col("value") / 100.0), 4).as("deg_v"),
          round(radians(col("value")), 4).as("rad_v"))
        .orderBy(col("__name__"), col("uid")),
      Some(s"WITH $S_CTE, ${vCte()} SELECT __name__, uid, " +
        "round(sin(value / 100.0e0), 4) AS sin_v, " +
        "round(cos(value / 100.0e0), 4) AS cos_v, " +
        "round(tan(value / 1000.0e0), 4) AS tan_v, " +
        "round(atan2(value, 100.0e0), 4) AS atan2_v, " +
        "round(degrees(value / 100.0e0), 4) AS deg_v, " +
        "round(radians(value), 4) AS rad_v " +
        "FROM v ORDER BY __name__, uid")),

    Q("f_label_replace_join",
      t => instant(t)
        .withColumn("tier",
          when(col("uid").rlike("^(?:(\\d+))$"),
            regexp_replace(col("uid"), "^(?:(\\d+))$", "t-$1")).otherwise(lit("")))
        .withColumn("joined", concat_ws("/", col("__name__"), col("uid")))
        .select(col("__name__"), col("uid"), col("tier"), col("joined"), col("value"))
        .orderBy(col("__name__"), col("uid")),
      Some(s"WITH $S_CTE, ${vCte()} SELECT __name__, uid, " +
        "CASE WHEN regexp_full_match(uid, '(\\d+)') " +
        "THEN regexp_replace(uid, '^(?:(\\d+))$', 't-\\1') ELSE '' END AS tier, " +
        "__name__ || '/' || uid AS joined, value FROM v ORDER BY __name__, uid")),

    Q("f_histogram_quantile", {
      val les = Seq(50.0, 100.0, 200.0)
      (t: Tables) => {
        val leCol = explode(array((les.map(lit) :+ lit(Double.PositiveInfinity)): _*))
        val buck = samples(t).select(col("__name__"), col("value"))
          .withColumn("le", leCol)
          .groupBy(col("__name__"), col("le"))
          .agg(count(when(col("value") <= col("le"), 1)).as("cum"))
        val w = Window.partitionBy(col("__name__")).orderBy(col("le"))
        val b = buck
          .withColumn("lo_le", lag(col("le"), 1, 0.0).over(w))
          .withColumn("lo_cum", lag(col("cum"), 1, 0L).over(w))
          .withColumn("total", max(col("cum")).over(Window.partitionBy(col("__name__"))))
        b.filter(col("cum") >= lit(0.9e0) * col("total"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("__name__"),
            when(col("le") === Double.PositiveInfinity, col("lo_le"))
              .otherwise(col("lo_le") + (col("le") - col("lo_le")) *
                (lit(0.9e0) * col("total") - col("lo_cum")) / (col("cum") - col("lo_cum")))
              .as("value"))
          .orderBy(col("__name__"))
      }},
      Some(s"WITH $S_CTE, " +
        "buck AS (SELECT __name__, le, count(CASE WHEN value <= le THEN 1 END) AS cum " +
        "FROM s CROSS JOIN (SELECT UNNEST([50.0, 100.0, 200.0, 'infinity'::DOUBLE]) AS le) l " +
        "GROUP BY __name__, le), " +
        "b AS (SELECT __name__, le, cum, " +
        "lag(le, 1, 0.0) OVER (PARTITION BY __name__ ORDER BY le) AS lo_le, " +
        "lag(cum, 1, 0) OVER (PARTITION BY __name__ ORDER BY le) AS lo_cum, " +
        "max(cum) OVER (PARTITION BY __name__) AS total FROM buck), " +
        "sel AS (SELECT *, row_number() OVER (PARTITION BY __name__ ORDER BY le) AS rk " +
        "FROM b WHERE cum >= 0.9e0*total) " +
        "SELECT __name__, CASE WHEN isinf(le) THEN lo_le ELSE lo_le + (le - lo_le) * " +
        "(0.9e0*total - lo_cum) / (cum - lo_cum) END AS value FROM sel WHERE rk = 1 " +
        "ORDER BY __name__")),

    // ------------------------------------------------------------------ S5/S6
    // the convert ETL under the gate: day-split + dedup + sorted dual-table
    // write, then read back through the partitioned layout (also the
    // BenchmarkConverter analog - bench times include the conversion).
    // Deliberately NOT FixtureCached: repeat bench invocations must re-pay
    // the conversion, since timing the ETL is what this query is for.
    Q("s5_convert_roundtrip",
      t => {
        val out = FixtureCache.scratch("convflat")
        graft.etl.Ingest.convert(t.spark, t.events, out)
        graft.etl.Ingest.openSamples(t.spark, out)
          .groupBy(col("date").cast("string").as("date"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"),
            count_distinct(col("series_hash")).as("n_series"))
          .orderBy(col("date"))
      },
      Some("SELECT strftime(ts, '%Y-%m-%d') AS date, count(*) AS n, " +
        DSUM + " AS sum_v, count(DISTINCT (event_type, user_id)) AS n_series " +
        "FROM events GROUP BY 1 ORDER BY 1")),

    // Byte-level reference interop under the gate: write the reference's
    // EXACT dual-file labels.parquet/chunks.parquet layout (___cf_meta_index
    // varints, Prometheus labels.Hash, 3×8h framed XOR chunk columns,
    // meta.pb) across 2 shards, then read it back through the serving
    // select (positional labels↔chunks zip) and hash-match the flat samples
    // per UTC day of ts_ms — proves a user with an existing
    // thanos-parquet-gateway bucket can point this engine at it (and vice
    // versa).
    Q("s5_reference_layout",
      t => {
        val out = FixtureCache.dir(t.dir, "ref2shard") { d =>
          graft.etl.ReferenceFormat.convertReference(t.spark,
            TimeSeriesModel.samples(t.events), d, numShards = 2)
        }
        graft.etl.ReferenceFormat.selectReferenceStore(t.spark, out)
          .groupBy(date_from_unix_date(floor(col("ts_ms") / DAY).cast("int"))
            .cast("string").as("date"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"),
            count_distinct(col("series_hash")).as("n_series"))
          .orderBy(col("date"))
      },
      Some("SELECT strftime(ts, '%Y-%m-%d') AS date, count(*) AS n, " +
        DSUM + " AS sum_v, count(DISTINCT (event_type, user_id)) AS n_series " +
        "FROM events GROUP BY 1 ORDER BY 1")),

    // Pruned select over the REFERENCE layout: matchers compile onto the
    // labels-file columns and the day directories outside the interval are
    // never listed — same constraint→materialize order as s5_chunked_select,
    // but against the reference's own on-disk format.
    Q("s5_reference_select",
      t => {
        val out = FixtureCache.dir(t.dir, "ref2shard") { d =>
          graft.etl.ReferenceFormat.convertReference(t.spark,
            TimeSeriesModel.samples(t.events), d, numShards = 2)
        }
        graft.etl.ReferenceFormat.selectReferenceStore(t.spark, out,
            Seq(MatchEq("__name__", "purchase"), MatchNotEq("uid", "3")),
            T0 + 7 * DAY, T0 + 14 * DAY - 1)
          .groupBy(col("uid"))
          .agg(count(lit(1)).as("n"), min(col("ts_ms")).as("min_ts"),
            max(col("ts_ms")).as("max_ts"), Det.dsum(col("value")).as("sum_v"))
          .orderBy(col("uid"))
      },
      Some(s"WITH $S_CTE SELECT uid, count(*) AS n, min(ts_ms) AS min_ts, " +
        s"max(ts_ms) AS max_ts, $DSUM AS sum_v FROM s " +
        s"WHERE __name__ = 'purchase' AND uid <> '3' " +
        s"AND ts_ms BETWEEN ${T0 + 7 * DAY} AND ${T0 + 14 * DAY - 1} " +
        "GROUP BY uid ORDER BY uid")),

    // Chunk-layout persistence roundtrip: the same day-grain audit as s5 but
    // through the Gorilla chunk files (encode → zstd parquet → scan → decode).
    // Proves the STORED bytes reconstruct every sample, not just in-plan ones.
    Q("s5_chunked_layout",
      t => {
        val out = FixtureCache.dir(t.dir, "chunked") { d =>
          graft.etl.Ingest.convertChunked(t.spark, t.events, d)
        }
        graft.etl.Ingest.openChunkedSamples(t.spark, out)
          .groupBy(col("date").cast("string").as("date"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"),
            count_distinct(col("series_hash")).as("n_series"))
          .orderBy(col("date"))
      },
      Some("SELECT strftime(ts, '%Y-%m-%d') AS date, count(*) AS n, " +
        DSUM + " AS sum_v, count(DISTINCT (event_type, user_id)) AS n_series " +
        "FROM events GROUP BY 1 ORDER BY 1")),

    // Pruned select over the chunk layout: matchers + the query interval are
    // applied to the FRAME scan (label columns, stored mint/maxt stats, date
    // partitions) before any chunk byte is decoded — the reference's
    // constraint→row-range→materialize order (search/materialize.go:42-105).
    Q("s5_chunked_select",
      t => {
        val out = FixtureCache.dir(t.dir, "chunked") { d =>
          graft.etl.Ingest.convertChunked(t.spark, t.events, d)
        }
        graft.etl.Ingest.selectChunkedSamples(t.spark, out,
            Seq(MatchEq("__name__", "purchase"), MatchNotEq("uid", "3")),
            T0 + 7 * DAY, T0 + 14 * DAY - 1)
          .groupBy(col("uid"))
          .agg(count(lit(1)).as("n"), min(col("ts_ms")).as("min_ts"),
            max(col("ts_ms")).as("max_ts"), Det.dsum(col("value")).as("sum_v"))
          .orderBy(col("uid"))
      },
      Some(s"WITH $S_CTE SELECT uid, count(*) AS n, min(ts_ms) AS min_ts, " +
        s"max(ts_ms) AS max_ts, $DSUM AS sum_v FROM s " +
        s"WHERE __name__ = 'purchase' AND uid <> '3' " +
        s"AND ts_ms BETWEEN ${T0 + 7 * DAY} AND ${T0 + 14 * DAY - 1} " +
        "GROUP BY uid ORDER BY uid")),

    // Stream dimension on the CHUNKED layout: two tenant streams carrying
    // the same events under different external labels; the select-time P10
    // fold consumes the `cluster` matcher against the stream sidecars and
    // vetoes eu-west as a stream= PARTITION predicate (EtlSpec pins the
    // plan) — without it this query would return doubled counts.
    Q("s5_chunked_streams",
      t => {
        val out = FixtureCache.dir(t.dir, "chunkstreams") { d =>
          graft.etl.Ingest.convertChunked(t.spark, t.events, d, Map("cluster" -> "us-east"))
          graft.etl.Ingest.convertChunked(t.spark, t.events, d, Map("cluster" -> "eu-west"))
        }
        graft.etl.Ingest.selectChunkedSamples(t.spark, out,
            Seq(MatchEq("__name__", "purchase"), MatchEq("cluster", "us-east")),
            T0 + 7 * DAY, T0 + 14 * DAY - 1)
          .groupBy(col("cluster"), col("uid"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
          .orderBy(col("uid"))
      },
      Some(s"WITH $S_CTE SELECT 'us-east' AS cluster, uid, count(*) AS n, " +
        s"$DSUM AS sum_v FROM s WHERE __name__ = 'purchase' " +
        s"AND ts_ms BETWEEN ${T0 + 7 * DAY} AND ${T0 + 14 * DAY - 1} " +
        "GROUP BY uid ORDER BY uid")),

    // Thanos-style 1h downsample layer (compact/downsample.go): per (series,
    // aligned hour) count/sum/min/max + first/last(+ts) + the decimal sum of
    // in-window counter drops. One aggregation pass — the long-range read
    // path then touches ~1/240th of raw at 15s cadence.
    Q("s5_downsample",
      t => graft.etl.Downsample.layer(samples(t), 3600000L)
        .select(col("__name__"), col("uid"), col("win_start"), col("n"),
          col("sum_v").cast("double").as("sum_v"), col("min_v"), col("max_v"),
          col("first_v"), col("last_v"),
          col("drop_sum").cast("double").as("drop_sum"))
        .orderBy(col("__name__"), col("uid"), col("win_start")),
      Some(s"WITH $S_CTE, " +
        "w AS (SELECT *, (ts_ms - 1) - (ts_ms - 1) % 3600000 AS win_start, " +
        "lag(value) OVER (PARTITION BY __name__, uid, (ts_ms - 1) - (ts_ms - 1) % 3600000 " +
        "ORDER BY ts_ms, sample_id) AS prev FROM s) " +
        s"SELECT __name__, uid, win_start, count(*) AS n, $DSUM AS sum_v, " +
        "min(value) AS min_v, max(value) AS max_v, " +
        "first(value ORDER BY ts_ms, sample_id) AS first_v, " +
        "last(value ORDER BY ts_ms, sample_id) AS last_v, " +
        "CAST(CAST(SUM(CAST(CASE WHEN prev IS NOT NULL AND value < prev " +
        "THEN prev - value ELSE 0 END AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS drop_sum " +
        "FROM w GROUP BY 1, 2, 3 ORDER BY 1, 2, 3")),

    // overTime recomposition under the oracle gate: 6h aggregates derived
    // from the 1h layer (never re-reading raw) vs DuckDB computing the same
    // 6h windows from raw samples — external proof the fine→coarse
    // compaction path loses nothing.
    Q("s5_downsample_overtime",
      t => graft.etl.Downsample.overTime(
          graft.etl.Downsample.layer(samples(t), 3600000L), 21600000L, 3600000L)
        .select(col("__name__"), col("uid"), col("win_start"), col("n"),
          col("sum_v").cast("double").as("sum_v"), col("min_v"), col("max_v"),
          col("first_v"), col("last_v"),
          col("drop_sum").cast("double").as("drop_sum"))
        .orderBy(col("__name__"), col("uid"), col("win_start")),
      Some(s"WITH $S_CTE, " +
        "w AS (SELECT *, (ts_ms - 1) - (ts_ms - 1) % 21600000 AS win_start, " +
        "lag(value) OVER (PARTITION BY __name__, uid, (ts_ms - 1) - (ts_ms - 1) % 21600000 " +
        "ORDER BY ts_ms, sample_id) AS prev FROM s) " +
        s"SELECT __name__, uid, win_start, count(*) AS n, $DSUM AS sum_v, " +
        "min(value) AS min_v, max(value) AS max_v, " +
        "first(value ORDER BY ts_ms, sample_id) AS first_v, " +
        "last(value ORDER BY ts_ms, sample_id) AS last_v, " +
        "CAST(CAST(SUM(CAST(CASE WHEN prev IS NOT NULL AND value < prev " +
        "THEN prev - value ELSE 0 END AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS drop_sum " +
        "FROM w GROUP BY 1, 2, 3 ORDER BY 1, 2, 3")),

    // Counter increase recomposed FROM the 1h layer vs the oracle's raw
    // per-sample scan: the layer's in-window drop sums plus boundary resets
    // recovered from first/last are the same term multiset the raw walk
    // sees, and both stay decimal until one final cast — so a downsampled
    // long-range increase() is bit-identical to raw, at 1/240th the reads.
    Q("s5_downsample_increase",
      t => graft.etl.Downsample.counterIncrease(
          graft.etl.Downsample.layer(samples(t), 3600000L))
        .orderBy(col("__name__"), col("uid")),
      Some(s"WITH $S_CTE, " +
        "d AS (SELECT *, lag(value) OVER (PARTITION BY __name__, uid " +
        "ORDER BY ts_ms, sample_id) AS prev FROM s) " +
        "SELECT __name__, uid, " +
        "(last(value ORDER BY ts_ms, sample_id) - first(value ORDER BY ts_ms, sample_id)) + " +
        "CAST(CAST(SUM(CAST(CASE WHEN prev IS NOT NULL AND value < prev " +
        "THEN prev - value ELSE 0 END AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS inc " +
        "FROM d GROUP BY __name__, uid ORDER BY __name__, uid")),

    // Auto-downsampling THROUGH the engine (Thanos querier transparent
    // downsampled-block serving): the PromQL compiler itself — handed layer
    // frames via Ctx.layers, the same path PromEngine(layers=…) uses — must
    // answer a multi-week increase() grid FROM the 1h layer (LayerRouteSpec
    // proves the plan reads only layer files) and still hash-match DuckDB's
    // raw per-sample extrapolated-increase walk. Left-open layer windows
    // ([[graft.etl.Downsample.winStartOf]]) are what make this exact.
    Q("s5_downsample_routed", {
      val (start, end, step, rng) = (T0 + 2 * DAY, T0 + 28 * DAY, 14400000L, DAY)
      (t: Tables) => {
        val spark = t.events.sparkSession
        val s = samples(t)
        val out = FixtureCache.dir(t.dir, "l1h") { d =>
          graft.etl.Downsample.writeLayer(
            graft.etl.Downsample.layer(s, 3600000L), s"$d/l1h")
        }
        val layers = Map(3600000L -> graft.etl.Downsample.openLayer(spark, s"$out/l1h"))
        Compiler.compileCached(Parser.parse("increase(purchase[1d])"),
            Compiler.Ctx(s, start, end, step, LB, layers = layers))
          .select(col("uid"), col("step_ms"), col("value"))
          .orderBy(col("uid"), col("step_ms"))
      }},
      Some {
        // mirrors Compiler.extrapolated (Prometheus extrapolatedRate), no
        // rate normalization — the raw-scan semantics the routed plan must hit
        val (start, end, step, rng) = (T0 + 2 * DAY, T0 + 28 * DAY, 14400000L, DAY)
        s"WITH $S_CTE, " +
          "sp AS (SELECT uid, ts_ms, value, sample_id FROM s WHERE __name__ = 'purchase'), " +
          "p AS (SELECT *, lag(value) OVER w AS prev_val, lag(ts_ms) OVER w AS prev_ts FROM sp " +
          "WINDOW w AS (PARTITION BY uid ORDER BY ts_ms, sample_id)), " +
          s"g AS (SELECT UNNEST(range($start, ${end + 1}, $step)) AS step_ms), " +
          s"j AS (SELECT p.*, g.step_ms FROM p JOIN g ON p.ts_ms > g.step_ms - $rng AND p.ts_ms <= g.step_ms), " +
          "a AS (SELECT uid, step_ms, count(*) AS n, min(ts_ms) AS ft, max(ts_ms) AS lt, " +
          "min_by(value, ts_ms) AS fv, max_by(value, ts_ms) AS lv, " +
          "CAST(CAST(SUM(CAST(CASE WHEN prev_ts IS NOT NULL AND " +
          s"prev_ts > step_ms - $rng AND value < prev_val THEN prev_val ELSE 0 END " +
          "AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS resets FROM j GROUP BY 1, 2), " +
          "b AS (SELECT uid, step_ms, n, fv, lv - fv + resets AS rv, " +
          s"CAST(ft - (step_ms - $rng) AS DOUBLE) / 1000.0e0 AS ds0, " +
          "CAST(step_ms - lt AS DOUBLE) / 1000.0e0 AS de0, " +
          "CAST(lt - ft AS DOUBLE) / 1000.0e0 AS si FROM a WHERE n >= 2), " +
          "c AS (SELECT *, si / (n - 1) AS ai, si * (fv / rv) AS dz FROM b), " +
          "d AS (SELECT *, ai * 1.1e0 AS thr FROM c), " +
          "e AS (SELECT *, CASE WHEN ds0 >= thr THEN ai / 2.0e0 ELSE ds0 END AS dsa FROM d), " +
          "f AS (SELECT *, CASE WHEN rv > 0 AND fv >= 0 AND dz < dsa THEN dz ELSE dsa END AS dsb, " +
          "CASE WHEN de0 >= thr THEN ai / 2.0e0 ELSE de0 END AS deb FROM e) " +
          "SELECT uid, step_ms, rv * ((si + dsb + deb) / si) AS value " +
          "FROM f ORDER BY uid, step_ms"
      }),

    // Binary op over TWO layer-routed range functions — the dashboard shape
    // `rate(a)/rate(b)`: tryRoute fires per selector, so both operands serve
    // from the 1h layer (LayerRouteSpec pins zero raw files in this plan);
    // the oracle recomputes both sides from raw samples in DuckDB.
    Q("s5_routed_binop", {
      val (start, end, step, rng) = (T0 + 2 * DAY, T0 + 28 * DAY, 14400000L, DAY)
      (t: Tables) => {
        val spark = t.events.sparkSession
        val s = samples(t)
        // same 1h layer as s5_downsample_routed; built once
        val out = FixtureCache.dir(t.dir, "l1h") { d =>
          graft.etl.Downsample.writeLayer(
            graft.etl.Downsample.layer(s, 3600000L), s"$d/l1h")
        }
        val layers = Map(3600000L -> graft.etl.Downsample.openLayer(spark, s"$out/l1h"))
        Compiler.compileCached(
            Parser.parse("sum_over_time(purchase[1d]) / count_over_time(purchase[1d])"),
            Compiler.Ctx(s, start, end, step, LB, layers = layers))
          .select(col("uid"), col("step_ms"), col("value"))
          .orderBy(col("uid"), col("step_ms"))
      }},
      Some {
        val (start, end, step, rng) = (T0 + 2 * DAY, T0 + 28 * DAY, 14400000L, DAY)
        s"WITH $S_CTE, " +
          "sp AS (SELECT uid, ts_ms, value FROM s WHERE __name__ = 'purchase'), " +
          s"g AS (SELECT UNNEST(range($start, ${end + 1}, $step)) AS step_ms), " +
          s"j AS (SELECT sp.*, g.step_ms FROM sp JOIN g ON sp.ts_ms > g.step_ms - $rng AND sp.ts_ms <= g.step_ms), " +
          s"a AS (SELECT uid, step_ms, $DSUM AS sv, count(*) AS cv FROM j GROUP BY 1, 2) " +
          "SELECT uid, step_ms, sv / cv AS value FROM a ORDER BY uid, step_ms"
      }),

    // Hybrid auto-downsampling for an UNALIGNED grid (the common dashboard
    // shape: start = "now", arbitrary step): each step serves its interior
    // whole 1h windows from the layer and reads raw only the two partial
    // boundary slices — [[graft.promql.LayerRoute.hybridGridAgg]] — and must
    // STILL hash-match DuckDB's raw per-sample extrapolated-increase walk.
    // The fixture densifies `purchase` to an exact 6-minute cadence (ranks ×
    // 240 six-minute ticks — deterministic in both engines, and dense enough
    // that the 1h layer clears the cost guard with benefit 10×).
    Q("s5_downsample_unaligned", {
      val (start, step, win) = (T0 + 6 * DAY + 3 * 3600000L + 13 * 60000L + 7000L,
        5 * 3600000L + 11 * 60000L, 4 * DAY)
      val end = start + 12 * 3600000L
      (t: Tables) => {
        val spark = t.events.sparkSession
        // half the series: the layer write + hybrid read shape is identical,
        // the in-query fixture build stays bench-friendly
        val dense = densePurchase(t).filter(col("uid").cast("long") % 2 === 0)
        val out = FixtureCache.dir(t.dir, "l1h-dense-half") { d =>
          graft.etl.Downsample.writeLayer(
            graft.etl.Downsample.layer(dense, 3600000L), s"$d/l1h")
        }
        val layers = Map(3600000L -> graft.etl.Downsample.openLayer(spark, s"$out/l1h"))
        Compiler.compileCached(Parser.parse("increase(purchase[4d])"),
            Compiler.Ctx(dense, start, end, step, LB, layers = layers))
          .select(col("uid"), col("step_ms"), col("value"))
          .orderBy(col("uid"), col("step_ms"))
      }},
      Some {
        val (start, step, win) = (T0 + 6 * DAY + 3 * 3600000L + 13 * 60000L + 7000L,
          5 * 3600000L + 11 * 60000L, 4 * DAY)
        val end = start + 12 * 3600000L
        s"WITH $S_CTE, $DENSE_CTE, " +
          "d2 AS (SELECT * FROM d WHERE CAST(uid AS BIGINT) % 2 = 0), " +
          denseIncreaseSql(start, end, step, win, src = "d2")
      }),

    // The AT-SCALE composition in one store, through the Serve path: a
    // CHUNKED layout (decode-on-read Gorilla frames) with a persisted
    // `downsample-<res>` layer beside it, wired by discoverLayers — so the
    // same directory serves short-range queries from chunks (the select
    // binds the query's reach, so only overlapping days and frames are
    // decoded; LayerRouteSpec pins both plans) and aligned long-range
    // increase() from the 1h layer, hash-matching DuckDB's raw
    // extrapolated walk over the identical dense series.
    Q("s5_chunked_layers", {
      val (start, step, win) = (T0 + 6 * DAY, 6 * 3600000L, DAY)
      val end = T0 + 12 * DAY
      (t: Tables) => {
        val spark = t.events.sparkSession
        val out = FixtureCache.dir(t.dir, "chl") { d =>
          // a quarter of the series keeps the fixture ETL (chunk write +
          // decode + layer build) bench-friendly; the shape is unchanged
          graft.etl.Ingest.mergeChunked(spark,
            densePurchase(t).filter(col("uid").cast("long") % 4 === 0), d)
          graft.etl.Downsample.writeLayer(
            graft.etl.Downsample.layer(
              graft.etl.Ingest.openChunkedSamples(spark, d).drop("date"), 3600000L),
            s"$d/downsample-3600000")
        }
        val ast = Parser.parse("increase(purchase[1d])")
        val (lo, hi) = Compiler.timeBounds(ast, start, end, LB)
        val chunked = graft.etl.Ingest.selectChunkedSamples(spark, out, Nil, lo, hi)
        val layers = graft.etl.Downsample.discoverLayers(spark, out)
        Compiler.compileCached(ast,
            Compiler.Ctx(chunked, start, end, step, LB, layers = layers))
          .select(col("uid"), col("step_ms"), col("value"))
          .orderBy(col("uid"), col("step_ms"))
      }},
      Some {
        val (start, step, win) = (T0 + 6 * DAY, 6 * 3600000L, DAY)
        val end = T0 + 12 * DAY
        s"WITH $S_CTE, $DENSE_CTE, " +
          "d4 AS (SELECT * FROM d WHERE CAST(uid AS BIGINT) % 4 = 0), " +
          denseIncreaseSql(start, end, step, win, src = "d4")
      }),

    // --------------------------------------------------------- PromQL engine
    // parser+compiler end-to-end under the oracle gate: the engine's answer
    // for a PromQL string must hash-match the hand-written SQL semantics
    Q("promql_at_modifier",  // @ pins the eval instant; broadcast to all steps
      t => Compiler.compileCached(Parser.parse(
          s"""last_over_time({__name__="purchase"}[1d] @ ${TI / 1000})"""),
          Compiler.Ctx(samples(t), TI, TI + 2000L, 1000L, LB))
        .select(col("step_ms"), col("__name__"), col("uid"), col("value"))
        .orderBy(col("step_ms"), col("uid")),
      Some(s"WITH $S_CTE, " +
        "l AS (SELECT __name__, uid, max_by(value, ts_ms) AS value FROM s " +
        s"WHERE __name__ = 'purchase' AND ts_ms > ${TI - DAY} AND ts_ms <= $TI " +
        "GROUP BY __name__, uid), " +
        s"g AS (SELECT UNNEST([$TI, ${TI + 1000L}, ${TI + 2000L}]) AS step_ms) " +
        "SELECT g.step_ms, l.__name__, l.uid, l.value FROM g CROSS JOIN l " +
        "ORDER BY step_ms, uid")),

    Q("promql_irate",  // last-pair instant rate with counter-reset correction
      t => Compiler.compileCached(Parser.parse("""irate({__name__="purchase"}[1d])"""),
          Compiler.Ctx(samples(t), TI, TI, 1000L, LB))
        .select(col("uid"), col("value")).orderBy(col("uid")),
      Some(s"WITH $S_CTE, " +
        s"w AS (SELECT * FROM s WHERE __name__ = 'purchase' AND ts_ms >= ${TI - DAY + 1} AND ts_ms <= $TI), " +
        "p AS (SELECT *, lag(value) OVER win AS pv, lag(ts_ms) OVER win AS pt FROM w " +
        "WINDOW win AS (PARTITION BY uid ORDER BY ts_ms, sample_id)), " +
        "l AS (SELECT *, row_number() OVER (PARTITION BY uid ORDER BY ts_ms DESC, sample_id DESC) AS rn FROM p) " +
        "SELECT uid, (CASE WHEN value < pv THEN value ELSE value - pv END) " +
        "/ ((ts_ms - pt) / 1000.0e0) AS value " +
        "FROM l WHERE rn = 1 AND pt IS NOT NULL ORDER BY uid")),

    // `or` with differing label sets: full-label-set matching keeps both sides
    Q("promql_or_labelsets",
      t => Compiler.compileCached(Parser.parse(
          """sum by (uid) ({__name__="purchase"}) or sum by (__name__) ({__name__="view"})"""),
          Compiler.Ctx(samples(t), TI, TI, 1000L, LB))
        .select(col("uid"), col("__name__"), col("value"))
        .orderBy(col("uid"), col("__name__")),
      Some(s"WITH $S_CTE, ${vCte()} " +
        "SELECT uid, CAST(NULL AS VARCHAR) AS __name__, " +
        "CAST(CAST(SUM(CAST(value AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS value " +
        "FROM v WHERE __name__ = 'purchase' GROUP BY uid " +
        "UNION ALL " +
        "SELECT CAST(NULL AS VARCHAR) AS uid, __name__, " +
        "CAST(CAST(SUM(CAST(value AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS value " +
        "FROM v WHERE __name__ = 'view' GROUP BY __name__ " +
        "ORDER BY uid, __name__")),

    Q("promql_sum_by",
      t => Compiler.compileCached(Parser.parse("""sum by (__name__) ({uid!=""})"""),
          Compiler.Ctx(samples(t), TI, TI, 1000L, LB))
        .select(col("__name__"), col("value")).orderBy(col("__name__")),
      Some(s"WITH $S_CTE, ${vCte()} SELECT __name__, $DSUM AS value FROM v " +
        "GROUP BY __name__ ORDER BY __name__")),

    Q("promql_binop_on",
      t => Compiler.compileCached(
          Parser.parse("""{__name__="purchase"} / on(uid) {__name__="view"}"""),
          Compiler.Ctx(samples(t), TI, TI, 1000L, LB))
        .select(col("uid"), col("value")).orderBy(col("uid")),
      Some(s"WITH $S_CTE, ${vCte()}, " +
        "p AS (SELECT uid, value FROM v WHERE __name__ = 'purchase'), " +
        "w AS (SELECT uid, value FROM v WHERE __name__ = 'view') " +
        "SELECT p.uid, p.value / w.value AS value FROM p JOIN w USING (uid) ORDER BY uid")),

    Q("promql_topk",
      t => Compiler.compileCached(Parser.parse("""topk(3, {__name__=~".+"})"""),
          Compiler.Ctx(samples(t), TI, TI, 1000L, LB))
        .select(col("__name__"), col("uid"), col("value"))
        .orderBy(col("value").desc, col("__name__"), col("uid")),
      Some(s"WITH $S_CTE, ${vCte()} SELECT __name__, uid, value FROM v " +
        "QUALIFY row_number() OVER (ORDER BY value DESC, __name__, uid) <= 3 " +
        "ORDER BY value DESC, __name__, uid")),

    Q("promql_rate_range", {
      val (start, end, step, rng) = (T0 + 9 * DAY, T0 + 19 * DAY, 21600000L, 21600000L)
      (t: Tables) => Compiler.compileCached(Parser.parse("rate(purchase[6h])"),
          Compiler.Ctx(samples(t), start, end, step, LB))
        .select(col("uid"), col("step_ms"), col("value"))
        .orderBy(col("uid"), col("step_ms"))
      },
      Some {
        // mirrors Compiler.extrapolated (Prometheus extrapolatedRate) exactly
        val (start, end, step, rng) = (T0 + 9 * DAY, T0 + 19 * DAY, 21600000L, 21600000L)
        s"WITH $S_CTE, " +
          "sp AS (SELECT uid, ts_ms, value, sample_id FROM s WHERE __name__ = 'purchase'), " +
          "p AS (SELECT *, lag(value) OVER w AS prev_val, lag(ts_ms) OVER w AS prev_ts FROM sp " +
          "WINDOW w AS (PARTITION BY uid ORDER BY ts_ms, sample_id)), " +
          s"g AS (SELECT UNNEST(range($start, ${end + 1}, $step)) AS step_ms), " +
          s"j AS (SELECT p.*, g.step_ms FROM p JOIN g ON p.ts_ms > g.step_ms - $rng AND p.ts_ms <= g.step_ms), " +
          "a AS (SELECT uid, step_ms, count(*) AS n, min(ts_ms) AS ft, max(ts_ms) AS lt, " +
          "min_by(value, ts_ms) AS fv, max_by(value, ts_ms) AS lv, " +
          "CAST(CAST(SUM(CAST(CASE WHEN prev_ts IS NOT NULL AND " +
          s"prev_ts > step_ms - $rng AND value < prev_val THEN prev_val ELSE 0 END " +
          "AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS resets FROM j GROUP BY 1, 2), " +
          "b AS (SELECT uid, step_ms, n, fv, lv - fv + resets AS rv, " +
          s"CAST(ft - (step_ms - $rng) AS DOUBLE) / 1000.0e0 AS ds0, " +
          "CAST(step_ms - lt AS DOUBLE) / 1000.0e0 AS de0, " +
          "CAST(lt - ft AS DOUBLE) / 1000.0e0 AS si FROM a WHERE n >= 2), " +
          "c AS (SELECT *, si / (n - 1) AS ai, si * (fv / rv) AS dz FROM b), " +
          "d AS (SELECT *, ai * 1.1e0 AS thr FROM c), " +
          "e AS (SELECT *, CASE WHEN ds0 >= thr THEN ai / 2.0e0 ELSE ds0 END AS dsa FROM d), " +
          "f AS (SELECT *, CASE WHEN rv > 0 AND fv >= 0 AND dz < dsa THEN dz ELSE dsa END AS dsb, " +
          "CASE WHEN de0 >= thr THEN ai / 2.0e0 ELSE de0 END AS deb FROM e) " +
          s"SELECT uid, step_ms, (rv * ((si + dsb + deb) / si)) / ${rng / 1000.0}e0 AS value " +
          "FROM f ORDER BY uid, step_ms"
      }),

    Q("promql_timestamp",  // sample's own time, not the eval step's
      t => Compiler.compileCached(Parser.parse("""timestamp({__name__="purchase"})"""),
          Compiler.Ctx(samples(t), TI, TI, 1000L, LB))
        .select(col("uid"), col("value")).orderBy(col("uid")),
      Some(s"WITH $S_CTE, ${vCte()} SELECT uid, " +
        "CAST(ts_ms AS DOUBLE) / 1000.0e0 AS value FROM v " +
        "WHERE __name__ = 'purchase' ORDER BY uid")),

    // ts_of_{max,min,last}_over_time (Prometheus 3.x): the TIME of the
    // qualifying sample, ties to the later sample
    Q("promql_ts_of_extremes", {
      t => {
        def run(q: String, as: String) =
          Compiler.compileCached(Parser.parse(q), Compiler.Ctx(samples(t), TI, TI, 1000L, LB))
            .select(col("uid"), col("value").as(as))
        run("""ts_of_max_over_time({__name__="purchase"}[1d])""", "ts_max")
          .join(run("""ts_of_min_over_time({__name__="purchase"}[1d])""", "ts_min"), Seq("uid"))
          .join(run("""ts_of_last_over_time({__name__="purchase"}[1d])""", "ts_last"), Seq("uid"))
          .orderBy(col("uid"))
      }},
      Some(s"WITH $S_CTE, " +
        s"w AS (SELECT * FROM s WHERE __name__ = 'purchase' AND ts_ms >= ${TI - DAY + 1} AND ts_ms <= $TI), " +
        "mx AS (SELECT uid, CAST(ts_ms AS DOUBLE) / 1000.0e0 AS ts_max FROM w " +
        "QUALIFY row_number() OVER (PARTITION BY uid ORDER BY value DESC, ts_ms DESC, sample_id DESC) = 1), " +
        "mn AS (SELECT uid, CAST(ts_ms AS DOUBLE) / 1000.0e0 AS ts_min FROM w " +
        "QUALIFY row_number() OVER (PARTITION BY uid ORDER BY value ASC, ts_ms DESC, sample_id DESC) = 1), " +
        "lt AS (SELECT uid, CAST(max(ts_ms) AS DOUBLE) / 1000.0e0 AS ts_last FROM w GROUP BY uid) " +
        "SELECT uid, ts_max, ts_min, ts_last FROM mx JOIN mn USING (uid) JOIN lt USING (uid) " +
        "ORDER BY uid")),

    // subquery `inner[range:res]`: inner expr evaluated on its own grid whose
    // steps align to ABSOLUTE multiples of res (Compiler.subqueryPoints —
    // Prometheus bumps an unaligned start up to the next multiple), the grid
    // values then feeding the outer range function as samples. Range 20h with
    // res 6h makes the alignment bump observable: rawStart=ti−20h sits 4h past
    // a multiple, so the inner grid starts at ti−18h (4 steps, not 5).
    Q("promql_subquery", {
      val ti = T0 + 19 * DAY                   // ti % 6h == 0
      val rng = 21600000L                      // inner rate window, 6h
      (t: Tables) => Compiler.compileCached(
          Parser.parse("max_over_time(rate(purchase[6h])[20h:6h])"),
          Compiler.Ctx(samples(t), ti, ti, 1000L, LB))
        .select(col("uid"), col("value")).orderBy(col("uid"))
      },
      Some {
        val ti = T0 + 19 * DAY
        val rng = 21600000L
        val (h18, h20) = (64800000L, 72000000L)
        // inner grid: aligned steps ti−18h .. ti; per-step rate mirrors
        // Compiler.extrapolated exactly (same CTE chain as promql_rate_range)
        s"WITH $S_CTE, " +
          "sp AS (SELECT uid, ts_ms, value, sample_id FROM s WHERE __name__ = 'purchase'), " +
          "p AS (SELECT *, lag(value) OVER w AS prev_val, lag(ts_ms) OVER w AS prev_ts FROM sp " +
          "WINDOW w AS (PARTITION BY uid ORDER BY ts_ms, sample_id)), " +
          s"g AS (SELECT UNNEST(range(${ti - h18}, ${ti + 1}, $rng)) AS step_ms), " +
          s"j AS (SELECT p.*, g.step_ms FROM p JOIN g ON p.ts_ms > g.step_ms - $rng AND p.ts_ms <= g.step_ms), " +
          "a AS (SELECT uid, step_ms, count(*) AS n, min(ts_ms) AS ft, max(ts_ms) AS lt, " +
          "min_by(value, ts_ms) AS fv, max_by(value, ts_ms) AS lv, " +
          "CAST(CAST(SUM(CAST(CASE WHEN prev_ts IS NOT NULL AND " +
          s"prev_ts > step_ms - $rng AND value < prev_val THEN prev_val ELSE 0 END " +
          "AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS resets FROM j GROUP BY 1, 2), " +
          "b AS (SELECT uid, step_ms, n, fv, lv - fv + resets AS rv, " +
          s"CAST(ft - (step_ms - $rng) AS DOUBLE) / 1000.0e0 AS ds0, " +
          "CAST(step_ms - lt AS DOUBLE) / 1000.0e0 AS de0, " +
          "CAST(lt - ft AS DOUBLE) / 1000.0e0 AS si FROM a WHERE n >= 2), " +
          "c AS (SELECT *, si / (n - 1) AS ai, si * (fv / rv) AS dz FROM b), " +
          "d AS (SELECT *, ai * 1.1e0 AS thr FROM c), " +
          "e AS (SELECT *, CASE WHEN ds0 >= thr THEN ai / 2.0e0 ELSE ds0 END AS dsa FROM d), " +
          "f AS (SELECT *, CASE WHEN rv > 0 AND fv >= 0 AND dz < dsa THEN dz ELSE dsa END AS dsb, " +
          "CASE WHEN de0 >= thr THEN ai / 2.0e0 ELSE de0 END AS deb FROM e), " +
          s"r AS (SELECT uid, step_ms, (rv * ((si + dsb + deb) / si)) / 21600.0e0 AS value FROM f) " +
          // outer max_over_time over the subquery window (ti−20h, ti]
          s"SELECT uid, max(value) AS value FROM r WHERE step_ms > ${ti - h20} AND step_ms <= $ti " +
          "GROUP BY uid ORDER BY uid"
      }),

    // ------------------------------------------------------------------ T-ops
    // sessionization: the batch/window form of stateful stream grouping
    // (mapGroupsWithState analog, but shuffle-once and restart-free)
    Q("t6_sessionize", {
      val gapMs = 1800000L
      (t: Tables) => {
        val w = Window.partitionBy(col("uid")).orderBy(col("ts_ms"), col("sample_id"))
        val sess = samples(t)
          .withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull || col("ts_ms") - col("prev_ts") > gapMs, 1).otherwise(0))
          .withColumn("sess_no",
            sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        sess.groupBy(col("uid"), col("sess_no"))
          .agg(min(col("ts_ms")).as("sess_start"), max(col("ts_ms")).as("sess_end"),
            count(lit(1)).as("n_events"))
          .orderBy(col("uid"), col("sess_no"))
      }},
      Some(s"WITH $S_CTE, " +
        "p AS (SELECT *, lag(ts_ms) OVER (PARTITION BY uid ORDER BY ts_ms, sample_id) AS prev_ts FROM s), " +
        "n AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000 THEN 1 ELSE 0 END AS new_sess FROM p), " +
        // CAST: DuckDB integer window-sum yields HUGEINT, Spark yields BIGINT
        "c AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY uid ORDER BY ts_ms, sample_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no FROM n) " +
        "SELECT uid, sess_no, min(ts_ms) AS sess_start, max(ts_ms) AS sess_end, count(*) AS n_events " +
        "FROM c GROUP BY uid, sess_no ORDER BY uid, sess_no")),

    // ------------------------------------------------------------------ W1
    Q("w1_8h_windows",
      t => samples(t)
        .withColumn("day", ((col("ts_ms") - pmod(col("ts_ms"), lit(DAY))) / DAY).cast("long"))
        .withColumn("win8", floor(pmod(col("ts_ms"), lit(DAY)) / lit(28800000.0)).cast("long"))
        .groupBy(col("__name__"), col("uid"), col("day"), col("win8"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
        .orderBy(col("__name__"), col("uid"), col("day"), col("win8")),
      Some(s"WITH $S_CTE SELECT __name__, uid, " +
        s"CAST((ts_ms - ts_ms % $DAY) / $DAY AS BIGINT) AS day, " +
        s"CAST(floor((ts_ms % $DAY) / 28800000.0) AS BIGINT) AS win8, " +
        s"count(*) AS n, $DSUM AS sum_v FROM s " +
        "GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4"))
  )
}
