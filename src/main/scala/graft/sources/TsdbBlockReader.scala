package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{TsdbBlock, TsdbStream}
import graft.functions.{PromFramesDecode, PromLabelsHash}

/** Distributed read of Prometheus TSDB blocks into the engine's samples
  * model — the migration-loop source the reference implements with
  * `tsdb.OpenBlock` on one node (`cmd/convert.go:472`); here each stage is
  * a cluster job:
  *
  *   1. index parse: `binaryFile` puts each block's `index` on ONE executor
  *      task ([[TsdbBlock.readSeries]] walks TOC → symbols → series
  *      section); output is small ref rows (labels + chunk time range +
  *      segment/offset), never chunk bytes — so a 1000-block bucket parses
  *      1000 indexes in parallel with no driver involvement;
  *   2. label-name union: one tiny aggregate over the ref rows (the
  *      dynamic samples-model schema — label COUNT is bounded, label rows
  *      are not);
  *   3. chunk fetch: refs RANGE-partition on (block, segment, offset) and
  *      sort by offset, so a huge segment fans out across tasks as
  *      contiguous offset slices and each task forward-scans its byte
  *      range through an ADAPTIVE look-ahead buffer (64 KB, doubling to
  *      4 MB while the scan stays sequential, reset on seek) — a dense
  *      migration reads each byte once in large ranged GETs, a selective
  *      load fetches ~matched bytes. Each chunk is CRC-checked and re-framed
  *      into the reference layout's frame cell, and the SAME codegen'd
  *      [[PromFramesDecode]] the serving path uses explodes it to points —
  *      no second decode surface;
  *   4. model projection: label strings to columns, `ts_ms` doubling as
  *      the ingest tie-break `sample_id` (the layout stores ≤1 sample per
  *      series-ts), `series_hash` = Prometheus `labels.Hash()`.
  *
  * Scale notes: per-task memory is one index file (step 1) or one chunk
  * (step 3) — upstream blocks cap indexes well under the 2 GB `binaryFile`
  * row limit, and segment files cap at 512 MB with ~tens of KB chunks.
  * Overlapping blocks are fine: the convert sink's vertical-merge dedup
  * (min `sample_id`) collapses duplicate (series, ts) pairs exactly as the
  * reference's compact-on-convert does. */
object TsdbBlockReader {

  // -------------------------------------------------- refs cache lifecycle
  // Each load persists its refs dataset (consumed twice: label-name union +
  // chunk fetch). Ownership is PER LOAD, never a shared slot — a shared
  // "previous" slot let a concurrent load unpersist another load's refs
  // mid-consumption and silently re-parse every index. Two release paths:
  //   - [[scopedLoads]]: the caller (the migration loop) brackets
  //     load+materialize and every refs persisted inside the bracket is
  //     unpersisted on exit — the reference analog is each convert step
  //     owning its blocks (`cmd/convert.go:273-304`);
  //   - unscoped loads (ad-hoc/registry queries) enter a bounded FIFO: the
  //     newest `MaxUnscopedRefs` stay cached, older ones unpersist. Cache
  //     growth stays bounded across rounds — the window is deliberately
  //     SMALL, because each retained load of a big bucket pins tens of
  //     millions of Ref rows (a 1M-series × 24-chunk block is ~24M rows;
  //     an 8-deep window measurably slowed the 4-shape read bench) — and
  //     concurrent loads are safe up to the window size (a stale unpersist
  //     can only cost a recompute, never wrong results).
  private val MaxUnscopedRefs = 2
  private val unscopedRefs =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Dataset[Ref]]()
  private val scopeRefs =
    new ThreadLocal[scala.collection.mutable.Buffer[org.apache.spark.sql.Dataset[Ref]]]()

  /** Run `body`; every refs cache persisted by loads STARTED ON THIS THREAD
    * inside `body` is unpersisted when it completes (success or failure).
    * Wrap a load-then-materialize round in this so each migration round
    * owns — and releases — exactly its own index parses. */
  def scopedLoads[T](body: => T): T = {
    val outer = scopeRefs.get()
    val mine = scala.collection.mutable.Buffer
      .empty[org.apache.spark.sql.Dataset[Ref]]
    scopeRefs.set(mine)
    try body
    finally {
      scopeRefs.set(outer)
      mine.foreach(_.unpersist(blocking = false))
    }
  }

  private def trackRefs(refs: org.apache.spark.sql.Dataset[Ref]): Unit = {
    val scope = scopeRefs.get()
    if (scope != null) scope += refs
    else {
      unscopedRefs.add(refs)
      while (unscopedRefs.size > MaxUnscopedRefs) {
        val old = unscopedRefs.poll()
        if (old != null) old.unpersist(blocking = false)
      }
    }
  }

  /** Hadoop Configuration is not Serializable; ship it by key-value. */
  private final class SerializableConf(@transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Index-derived chunk pointer (public: Catalyst's generated encoder code
    * must be able to construct it). `sref` = the series id tombstones
    * address. */
  final case class Ref(block: String, segment: Int, offset: Long,
                       mint: Long, maxt: Long, sref: Long,
                       labels: Map[String, String])

  /** All samples of the given block directories with ts ∈ [mintMs, maxtMs],
    * as the samples model: one string column per label name seen in any
    * block, plus `ts_ms, value, h, sample_id, series_hash`. Time pruning is
    * CHUNK-granular off the index alone — refs whose [mint, maxt] miss the
    * interval never reach the segment fetch (the reference's block scan
    * filters to series with ≥1 chunk in range the same way,
    * `convert/convert.go:419-436`), so a day-incremental migration over a
    * multi-week block pays one day's chunk I/O, not the block's. Surviving
    * chunks additionally header-skip inside [[PromFramesDecode]] and the
    * exact bound applies post-decode. Feed the result straight to
    * `ConvertLoop.advance*` via [[loader]]/[[rangedLoader]]. */
  /** `matchers` (optional): label name → allowed values, the eq/set(IN)
    * matcher forms a partial migration pushes down. Resolved INSIDE the
    * per-block index task via the index's postings sections
    * ([[TsdbBlock.readPostings]]): only matching series entries are
    * decoded, so a 1-metric pull from a 10M-series block decodes that
    * metric's series, not 10M — and non-matching series never produce
    * refs, never reach the shuffle or the chunk fetch. Value `""` keeps
    * missing≡"" semantics (selects series WITHOUT the label). */
  /** Bytes fetched by SELECTIVE (ranged) index reads in this JVM — specs
    * pin that a matcher-pushdown load touches sections (TOC, symbols,
    * offset tables, matched postings + entries), not whole index files. */
  private[graft] val rangedIndexBytes = new java.util.concurrent.atomic.AtomicLong()

  /** Ranged index READS (fetch calls) in this JVM — specs pin that batched
    * posting-list/series fetches COALESCE (a broad matcher's many tiny
    * lists must not mean one GET per list on an object store). */
  private[graft] val rangedIndexReads = new java.util.concurrent.atomic.AtomicLong()

  /** Segment (chunk-file) bytes fetched in this JVM, refills + direct
    * reads — pins that the adaptive look-ahead keeps a selective load's
    * chunk I/O near the matched bytes, not 4 MB per matched chunk. */
  private[graft] val segmentBytesRead = new java.util.concurrent.atomic.AtomicLong()

  /** How an index task turns a block's index into series entries. */
  private sealed trait EntrySource extends Serializable
  /** Whole-file streaming walk (no matchers): `binaryFile` reads the index
    * once and [[TsdbBlock.readSeries]] streams every entry. */
  private case object FullWalk extends EntrySource
  /** Matcher-pushed: positional reads fetch ONLY the touched index
    * sections — at bucket scale a 1-metric pull reads kilobytes of a
    * multi-hundred-MB index instead of the whole file. */
  private final case class Selective(
    resolve: TsdbBlock.IndexReadAt => Iterator[TsdbBlock.SeriesEntry])
    extends EntrySource

  def loadSamples(spark: SparkSession, blockDirs: Seq[String],
                  mintMs: Long = Long.MinValue,
                  maxtMs: Long = Long.MaxValue,
                  matchers: Map[String, Seq[String]] = Map.empty): DataFrame =
    loadImpl(spark, blockDirs, mintMs, maxtMs,
      if (matchers.isEmpty) FullWalk
      else Selective(ix => TsdbBlock.readSeriesByIdsAt(ix,
        TsdbBlock.readPostingsAt(ix, matchers))))

  /** [[loadSamples]] with FULL matcher semantics pushed into the index
    * task — eq resolves directly on the postings sections; regex and
    * negated matchers resolve per block by enumerating the label's value
    * dictionary ([[TsdbBlock.readLabelValues]]) and filtering with the
    * engine's anchored-RE2 matcher, then intersecting posting lists — the
    * `PostingsForMatchers` decomposition upstream performs. The missing
    * label ≡ "" rule holds exactly: "" is offered to every matcher, and an
    * accepting matcher keeps the series WITHOUT that label. */
  def loadSamplesMatching(spark: SparkSession, blockDirs: Seq[String],
                          ms: Seq[graft.promql.LabelMatcher],
                          mintMs: Long = Long.MinValue,
                          maxtMs: Long = Long.MaxValue): DataFrame =
    loadImpl(spark, blockDirs, mintMs, maxtMs,
      if (ms.isEmpty) FullWalk
      else Selective { ix =>
        val constraints = ms.groupBy(_.label).map { case (name, mset) =>
          val vals = (TsdbBlock.readLabelValuesAt(ix, name) :+ "").distinct
          name -> vals.filter(v => mset.forall(_.matches(v)))
        }
        if (constraints.values.exists(_.isEmpty)) Iterator.empty
        else TsdbBlock.readSeriesByIdsAt(ix,
          TsdbBlock.readPostingsAt(ix, constraints))
      })

  private def loadImpl(spark: SparkSession, blockDirs: Seq[String],
                       mintMs: Long, maxtMs: Long,
                       source: EntrySource): DataFrame = {
    import spark.implicits._
    require(blockDirs.nonEmpty, "no TSDB block directories to read")
    val confBc = spark.sparkContext.broadcast(
      new SerializableConf(spark.sparkContext.hadoopConfiguration))

    // local def (not an object method): the executor closures below must
    // not capture the TsdbBlockReader module, which is deliberately
    // non-Serializable (it owns the refs-cache queue)
    def refRows(block: String, s: TsdbBlock.SeriesEntry): Iterator[Ref] =
      s.chunks.iterator
        .filter(c => c.maxt >= mintMs && c.mint <= maxtMs)
        .map(c => Ref(block, c.segment, c.offset, c.mint, c.maxt, s.ref,
          s.labels))

    // refs are consumed TWICE — the label-name union below and the chunk
    // fetch — so persist them: one index parse per block per load, not two
    // (the reference parses each index once, `tsdb.OpenBlock` via
    // `cmd/convert.go:472`). Refs are ~48 B + labels per chunk, bounded far
    // below the raw index bytes; MEMORY_AND_DISK so an outsized block
    // spills instead of evicting. The labelNames collect materializes the
    // cache before the fetch plan is even built.
    val refs = (source match {
      case FullWalk => fullWalkRefs(spark, blockDirs, mintMs, maxtMs)
      case Selective(resolve) =>
        // positional reads, one task per block: TOC + offset tables +
        // matched posting lists + coalesced matched entries — the index
        // I/O of a selective migration scales with what it MATCHES, not
        // with index size (a 1-metric pull from a 10k-block bucket reads
        // MBs of index, where whole-file reads would move terabytes)
        spark.createDataset(blockDirs)
          .repartition(blockDirs.size)
          .mapPartitions { dirs =>
            val conf = confBc.value.value
            // entries STREAM out of the positional reader (a match-all
            // selective read must not re-materialize what the full walk
            // streams), so index streams stay open until the task ends —
            // at one block per partition that is one open stream
            val open = scala.collection.mutable.ArrayBuffer
              .empty[org.apache.hadoop.fs.FSDataInputStream]
            Option(org.apache.spark.TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit] { _ =>
                open.foreach(s => try s.close() catch { case _: Exception => () })
              })
            dirs.flatMap { d =>
              val dir = new Path(d)
              val fs = dir.getFileSystem(conf)
              val block = fs.makeQualified(dir).toString
              val p = new Path(s"$block/index")
              val len = fs.getFileStatus(p).getLen
              val in = fs.open(p)
              open += in
              val ix = new TsdbBlock.IndexReadAt((pos, n) => {
                val b = new Array[Byte](n)
                in.readFully(pos, b, 0, n)
                rangedIndexBytes.addAndGet(n.toLong)
                rangedIndexReads.incrementAndGet()
                b
              }, len)
              resolve(ix).flatMap(refRows(block, _))
            }
          }
    })
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trackRefs(refs)
    samplesFromRefs(spark, refs, readStones(spark, blockDirs),
      mintMs, maxtMs, confBc)
  }

  /** Whole-index refs build: whole-file read is RIGHT for a full walk —
    * it touches every byte of the symbols + series sections anyway, and
    * binaryFile gives one executor task per block with the streamed entry
    * walk on top. */
  private def fullWalkRefs(spark: SparkSession, blockDirs: Seq[String],
                           mintMs: Long, maxtMs: Long)
      : org.apache.spark.sql.Dataset[Ref] = {
    import spark.implicits._
    def refRows(block: String, s: TsdbBlock.SeriesEntry): Iterator[Ref] =
      s.chunks.iterator
        .filter(c => c.maxt >= mintMs && c.mint <= maxtMs)
        .map(c => Ref(block, c.segment, c.offset, c.mint, c.maxt, s.ref,
          s.labels))
    spark.read.format("binaryFile")
      .load(blockDirs.map(d => s"$d/index"): _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val block = path.stripSuffix("/index")
        TsdbBlock.readSeries(bytes).flatMap(refRows(block, _))
      }
  }

  /** Driver-side tombstones read: per-block deleted (series, interval)
    * pairs — the reference applies them through tsdb.OpenBlock's querier,
    * so a faithful read drops the covered samples. Files are tiny
    * (bounded by delete requests). */
  private def readStones(spark: SparkSession, blockDirs: Seq[String])
      : Seq[(String, Long, Long, Long)] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    blockDirs.flatMap { d =>
      val p = new Path(s"$d/tombstones")
      val fs = p.getFileSystem(hconf)
      // key by the QUALIFIED dir — the refs' `block` comes from
      // binaryFile's fully-qualified path strings
      val qd = fs.makeQualified(new Path(d)).toString
      if (!fs.exists(p)) Nil
      else {
        val in = fs.open(p)
        try {
          val len = fs.getFileStatus(p).getLen.toInt
          val buf = new Array[Byte](len)
          in.readFully(0, buf, 0, len)
          TsdbBlock.readTombstones(buf).toSeq.flatMap { case (ref, ivs) =>
            ivs.map { case (lo, hi) => (qd, ref, lo, hi) }
          }
        } finally in.close()
      }
    }
  }

  /** The pipeline downstream of a (persisted) refs dataset: label-name
    * union, range-partitioned chunk fetch, decode, tombstone mask, model
    * projection. Callers own the refs' persist lifecycle. */
  private def samplesFromRefs(spark: SparkSession,
                              refs: org.apache.spark.sql.Dataset[Ref],
                              stones: Seq[(String, Long, Long, Long)],
                              mintMs: Long, maxtMs: Long,
                              confBc: org.apache.spark.broadcast.Broadcast[SerializableConf],
                              labelNamesKnown: Option[Seq[String]] = None)
      : DataFrame = {
    import spark.implicits._
    val labelNames = labelNamesKnown.getOrElse(
      refs.select(explode(map_keys(col("labels"))).as("n"))
        .distinct().as[String].collect().sorted.toSeq)

    // RANGE partition on (block, segment, offset): the global sorted order
    // splits into contiguous offset slices, so a single huge segment fans
    // out across tasks (hash-by-segment would pin it to ONE task) while
    // every task still forward-scans one contiguous byte range — the
    // sequential-ranged-GET pattern an object store wants
    val frames = refs
      .repartitionByRange(col("block"), col("segment"), col("offset"))
      .sortWithinPartitions(col("block"), col("segment"), col("offset"))
      .as[Ref]
      .mapPartitions { it =>
        val conf = confBc.value.value
        // per-(block, segment) forward scan; streams close on key change
        // and at task end. Reads go through a 4 MB look-ahead buffer:
        // ascending offsets make refills strictly sequential, so each
        // segment byte is read ONCE in large blocks — per-chunk positional
        // reads on a checksummed/remote FS would re-fetch and re-verify
        // the surrounding window for every one of the millions of chunks
        var curBlock: String = null
        var segNames: IndexedSeq[String] = IndexedSeq.empty
        var curSeg = -1
        var in: org.apache.hadoop.fs.FSDataInputStream = null
        var fileLen = 0L
        val look = new LookAheadBuffer(4 << 20)
        var rawRead: (Long, Array[Byte], Int) => Unit = null
        def closeIn(): Unit = if (in != null) { in.close(); in = null }
        def readAt(pos: Long, dst: Array[Byte], n: Int): Unit =
          look.readAt(rawRead, fileLen, pos, dst, n)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeIn()))
        it.map { r =>
          if (r.block != curBlock) {
            closeIn()
            val chunksDir = new Path(s"${r.block}/chunks")
            val fs = chunksDir.getFileSystem(conf)
            segNames = fs.listStatus(chunksDir).map(_.getPath.getName)
              .sorted.toIndexedSeq
            curBlock = r.block; curSeg = -1
          }
          if (r.segment != curSeg) {
            closeIn()
            val p = new Path(s"${r.block}/chunks/${segNames(r.segment)}")
            val fs = p.getFileSystem(conf)
            fileLen = fs.getFileStatus(p).getLen
            val inSeg = fs.open(p)
            in = inSeg
            rawRead = (pos, arr, n) => {
              inSeg.readFully(pos, arr, 0, n)
              segmentBytesRead.addAndGet(n.toLong)
            }
            curSeg = r.segment
            look.reset()
          }
          val frame = TsdbBlock.readChunkFrame(readAt,
            fileLen, r.offset, r.mint, r.maxt)
          (r.block, r.sref, r.labels, frame)
        }
      }
      .toDF("block", "sref", "labels", "frame")

    // series_hash and the per-label extraction are functions of `labels`
    // ALONE, so they compute here — once per CHUNK row — and ride through
    // the explode as plain attributes, instead of once per decoded SAMPLE
    // (~120× per chunk, each with its own map-entries sort; at a 100 TB
    // migration that is 48M vs 400k hash+sort evaluations per 48M samples).
    // Two selects on purpose: a single select(exprs…, explode(…)) has
    // ExtractGenerator place the OTHER expressions in a Project ABOVE the
    // Generate — i.e. per sample, exactly what this hoist removes — while
    // an explode over plain attributes leaves the projection below.
    // Internal `_g_…` names sidestep collisions with user label names
    // ("block", "series_hash", …) until the final rename.
    val perChunk = frames.select(
      col("block") +: col("sref") +: col("frame") +:
        PromLabelsHash(array_sort(map_entries(col("labels"))))
          .as("_g_series_hash") +:
        labelNames.zipWithIndex.map { case (n, i) =>
          try_element_at(col("labels"), lit(n)).as(s"_g_l$i") }: _*)
    val pts = perChunk
      .select(col("*"),
        explode(PromFramesDecode(col("frame"), mintMs, maxtMs)).as("p"))
      .drop("frame")
    // deleted intervals drop via a broadcast ANTI join on (block, series):
    // the stone side is tiny, the equi keys make it a hash anti join, and
    // with no tombstones anywhere the plan is untouched
    val masked =
      if (stones.isEmpty) pts
      else {
        val sdf = broadcast(stones.toDF("s_block", "s_ref", "s_mint", "s_maxt"))
        pts.join(sdf,
          col("block") === col("s_block") && col("sref") === col("s_ref") &&
            col("p.ts_ms").between(col("s_mint"), col("s_maxt")),
          "left_anti")
      }
    masked.select(
      labelNames.zipWithIndex.map { case (n, i) => col(s"_g_l$i").as(n) } ++ Seq(
        col("p.ts_ms").as("ts_ms"),
        col("p.value").as("value"),
        col("p.h").as("h"),
        col("p.ts_ms").as("sample_id"),
        col("_g_series_hash").as("series_hash")): _*)
      .filter(col("ts_ms").between(mintMs, maxtMs))
  }

  /** `loadSamples` shaped as `ConvertLoop.advance*`'s `loadSamples`
    * parameter: reads the stream's discovered blocks under `<root>/<ulid>`.
    * With this, `advanceReference(spark, discoverer, out, today,
    * TsdbBlockReader.loader(spark, root), ...)` migrates an actual
    * Prometheus/Thanos bucket end-to-end. */
  def loader(spark: SparkSession, root: String,
             matchers: Map[String, Seq[String]] = Map.empty)
      : TsdbStream => DataFrame =
    stream => loadSamples(spark, stream.metas.map(m => s"$root/${m.ulid}"),
      matchers = matchers)

  /** Ranged form for `ConvertLoop.advance*`'s `loadSamplesRanged`
    * parameter: only blocks overlapping the planned interval are opened at
    * all, and inside them only overlapping chunk refs are fetched — the
    * incremental migration's per-round I/O tracks the PLANNED days, not
    * the blocks' full spans. */
  def rangedLoader(spark: SparkSession, root: String,
                   matchers: Map[String, Seq[String]] = Map.empty)
      : (TsdbStream, Long, Long) => DataFrame = (stream, mintMs, maxtMs) => {
    val dirs = stream.metas
      .filter(m => m.maxTime > mintMs && m.minTime <= maxtMs)
      .map(m => s"$root/${m.ulid}")
    loadSamples(spark, dirs, mintMs, maxtMs, matchers)
  }

  /** An OPEN raw-TSDB bucket for repeated serving — the Syncer/open-block
    * cache analog (`locate/syncer.go:115-218`): every block's index parses
    * ONCE at open (refs persisted + materialized), the label schema and
    * tombstones resolve once, and each query slices the CACHED refs by its
    * time bounds — serving a query against an open bucket re-reads no
    * index file. `close()` releases the refs cache. */
  final class OpenTsdbBucket private[sources] (
      spark: SparkSession,
      metas: Seq[graft.etl.TsdbBlockMeta],
      refs: org.apache.spark.sql.Dataset[Ref],
      stones: Seq[(String, Long, Long, Long)],
      /** the bucket-wide label schema, so every slice binds the same columns */
      val labelColumns: Seq[String],
      confBc: org.apache.spark.broadcast.Broadcast[SerializableConf])
      extends SeriesStore {
    import SeriesStore.bounded

    /** Cached refs of the series matching `matcherSets` with a chunk
      * overlapping [mintMs, maxtMs] — chunk-granular pruning via the refs'
      * bounds (which subsumes block mint/maxt pruning: a non-overlapping
      * block contributes no surviving ref).
      *
      * `matcherSets` (OR of per-selector ANDs — see
      * [[graft.promql.Compiler.selectorMatcherSets]]) prune AT THE REFS,
      * before any segment I/O — a 1-series query over an open
      * million-series bucket fetches that series' chunks, not the
      * window's. This is the serving-side `PostingsForMatchers` analog;
      * with the refs already parsed and cached, a map-predicate scan of
      * the in-memory refs replaces the postings algebra. */
    private def live(mintMs: Long, maxtMs: Long,
                     matcherSets: Seq[Seq[graft.promql.LabelMatcher]]) =
      refs.filter(col("maxt") >= mintMs && col("mint") <= maxtMs &&
        graft.promql.Matchers.mapSetsPredicate(col("labels"), matcherSets))

    /** Samples with ts ∈ [mintMs, maxtMs] of the [[live]] refs. */
    def select(mintMs: Long, maxtMs: Long,
               matcherSets: Seq[Seq[graft.promql.LabelMatcher]]): DataFrame =
      samplesFromRefs(spark, live(mintMs, maxtMs, matcherSets),
        stones, mintMs, maxtMs, confBc, Some(labelColumns))
    def blockCount: Int = metas.size

    /** Distinct values of `label` among the [[live]] refs — answered
      * ENTIRELY off the cached refs: zero chunk I/O, zero index I/O (the
      * reference's label_values is likewise dictionary-resolved, chunk/
      * row-group granular rather than per-sample —
      * `search/search.go:173-201`). */
    def labelValues(label: String,
                    matcherSets: Seq[Seq[graft.promql.LabelMatcher]],
                    mintMs: Long, maxtMs: Long, limit: Int): Seq[String] = {
      import spark.implicits._
      bounded(live(mintMs, maxtMs, matcherSets)
        .select(try_element_at(col("labels"), lit(label)).as("v"))
        .filter(col("v").isNotNull)
        .distinct().orderBy(col("v")), limit).as[String].collect().toSeq
    }

    /** Distinct label names, same refs-only contract as [[labelValues]]. */
    def labelNames(matcherSets: Seq[Seq[graft.promql.LabelMatcher]],
                   mintMs: Long, maxtMs: Long, limit: Int): Seq[String] = {
      import spark.implicits._
      bounded(live(mintMs, maxtMs, matcherSets)
        .select(explode(map_keys(col("labels"))).as("n"))
        .distinct().orderBy(col("n")), limit).as[String].collect().toSeq
    }

    /** Distinct label SETS matching the union of matcher sets — the
      * `/api/v1/series` answer, same refs-only zero-decode contract.
      *
      * `limit > 0` bounds the DRIVER collect to `limit + 1` rows with both
      * the canonical sort and the limit pushed into the DataFrame — the
      * reference likewise truncates during materialization, before
      * serialization (`search/materialize.go:53-58`,
      * `api/http/query.go:636-641`); a matcherless `/series` against a
      * 100M-series bucket must never materialize the full label-set
      * universe on the driver. */
    def series(matcherSets: Seq[Seq[graft.promql.LabelMatcher]],
               mintMs: Long, maxtMs: Long, limit: Int)
        : Seq[Map[String, String]] = {
      import spark.implicits._
      seriesFrame(mintMs, maxtMs, matcherSets, limit)
        .as[Seq[(String, String)]].collect().map(_.toMap).toSeq
    }

    /** The bounded `/series` plan (test-observable: `limit > 0` puts a
      * GlobalLimit of limit+1 ABOVE the sort in the optimized plan, so the
      * executed shape is a top-K per partition + a (limit+1)-row collect,
      * never a full global sort or a full driver materialization).
      *
      * Ordering: the sorted entry ARRAY is both the distinct key and the
      * canonical order — element-wise (name, value) pair comparison, the
      * same key every backend sorts by. A concatenated-string key would
      * collide across different label sets (("a","b,c") vs ("a,b","c")). */
    private[graft] def seriesFrame(mintMs: Long, maxtMs: Long,
        matcherSets: Seq[Seq[graft.promql.LabelMatcher]], limit: Int)
        : DataFrame =
      bounded(live(mintMs, maxtMs, matcherSets)
        // set-ops don't support MapType: canonicalize to sorted entry arrays
        .select(array_sort(map_entries(col("labels"))).as("kv"))
        .distinct().orderBy(col("kv")), limit)

    /** Release the refs cache. Idempotent; a closed bucket's `select` still
      * answers (the refs dataset recomputes uncached) — close is a resource
      * release, not an invalidation. */
    override def close(): Unit = refs.unpersist(blocking = false)
    /** Test-observable: NONE once [[close]] released the cache. */
    private[graft] def refsStorageLevel: org.apache.spark.storage.StorageLevel =
      refs.storageLevel
  }

  /** Open `<root>/<ulid>` blocks for serving; see [[OpenTsdbBucket]]. */
  def openBucket(spark: SparkSession, root: String,
                 ulids: Seq[String]): OpenTsdbBucket = {
    import spark.implicits._
    require(ulids.nonEmpty, "no TSDB blocks to serve")
    val conf = spark.sparkContext.hadoopConfiguration
    val confBc = spark.sparkContext.broadcast(
      new SerializableConf(conf))
    val metas = ulids.map { u =>
      val p = new Path(s"$root/$u/meta.json")
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024, false)
        graft.etl.TsdbBlockMeta.parse(out.toString("UTF-8"))
      } finally in.close()
    }
    val dirs = ulids.map(u => s"$root/$u")
    val refs = fullWalkRefs(spark, dirs, Long.MinValue, Long.MaxValue)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materializes the cache AND resolves the bucket-wide label schema
    val labelNames = refs.select(explode(map_keys(col("labels"))).as("n"))
      .distinct().as[String].collect().sorted.toSeq
    new OpenTsdbBucket(spark, metas, refs, readStones(spark, dirs),
      labelNames, confBc)
  }

  /** `loadSamplesRanged` loader backed by [[OpenTsdbBucket]]s: a
    * multi-round migration over the same blocks parses each index ONCE
    * TOTAL — rounds slice the cached refs — instead of once per
    * overlapping round. Buckets key on the stream's ULID set; when
    * discovery changes the set (new/vanished blocks), the stale bucket
    * closes and a fresh one opens. Single-converter-per-loader, like the
    * reference's convert process. */
  def openRangedLoader(spark: SparkSession, root: String)
      : (TsdbStream, Long, Long) => DataFrame = {
    val cache = scala.collection.mutable.Map.empty[Seq[String], OpenTsdbBucket]
    (stream, mintMs, maxtMs) => {
      val ulids = stream.metas.map(_.ulid).sorted
      val bucket = cache.synchronized {
        cache.get(ulids) match {
          case Some(b) => b
          case None =>
            // the stream's block set changed: this loader is single-converter
            // (one discovery state at a time, like the reference's convert
            // process), so EVERY previously open bucket is superseded —
            // normal compaction churn replaces some blocks while adding
            // others, an overlapping-but-neither set that a subset/superset
            // test would leak forever, each leak pinning a persisted refs
            // dataset. Evict-all-then-open keeps the cache at exactly one
            // live bucket. Look-up / evict / open / put are separate steps:
            // never mutate a map inside its own getOrElseUpdate default.
            cache.values.foreach(_.close())
            cache.clear()
            val b = openBucket(spark, root, ulids)
            cache.update(ulids, b)
            b
        }
      }
      bucket.select(mintMs, maxtMs)
    }
  }

  /** [[loader]] with FULL matcher semantics ([[loadSamplesMatching]]):
    * a partial migration driven by `=~`/`!~`/`!=` matchers pushes them into
    * each block's index task (value-dictionary resolve → postings
    * intersection), so `ConvertLoop.advance*` with this loader decodes and
    * fetches ONLY the matching slice of every source block — the reference
    * analog is `PostingsForMatchers` taking full matchers. */
  def matchingLoader(spark: SparkSession, root: String,
                     ms: Seq[graft.promql.LabelMatcher])
      : TsdbStream => DataFrame =
    stream => loadSamplesMatching(spark,
      stream.metas.map(m => s"$root/${m.ulid}"), ms)

  /** Ranged form of [[matchingLoader]] for `loadSamplesRanged`: block list
    * prunes to the planned interval AND matchers push into the index. */
  def matchingRangedLoader(spark: SparkSession, root: String,
                           ms: Seq[graft.promql.LabelMatcher])
      : (TsdbStream, Long, Long) => DataFrame = (stream, mintMs, maxtMs) => {
    val dirs = stream.metas
      .filter(m => m.maxTime > mintMs && m.minTime <= maxtMs)
      .map(m => s"$root/${m.ulid}")
    loadSamplesMatching(spark, dirs, ms, mintMs, maxtMs)
  }
}
