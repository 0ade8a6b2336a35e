package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{PromFrameCols, PromFramesDecode, PromLabelIndex, PromLabelsHash}

/** Byte-level interop with the reference's on-disk bucket layout — the
  * dual-file `labels.parquet`/`chunks.parquet` pair the Go converter writes
  * and the gateway serves (ref `schema/block.go:69-76,179-196`):
  *
  * {{{
  *   <out>/<extLabelsHash>/<YYYY-MM-DD>/<shard>.labels.parquet
  *   <out>/<extLabelsHash>/<YYYY-MM-DD>/<shard>.chunks.parquet
  *   <out>/[<extLabelsHash>/]<YYYY-MM-DD>/meta.pb        (proto, hash elided when 0)
  *   <out>/<extLabelsHash>/stream.pb                     (when external labels set)
  *   <out>/<extLabelsHash>/<YYYY-MM-DD>/_graft_float_only (engine-side, empty)
  *   <out>/_graft_bucket_meta.json                       (engine-side label union)
  * }}}
  *
  * `_graft_float_only` proves the day holds no native-histogram sample:
  * [[convertReference]] writes it after the day's parquet files when none
  * of the day's samples carries `h`, and a re-convert clears it with the
  * day directory. It counts only while no `*.parquet` file of the day is
  * newer than it, so a foreign converter uploading into the day demotes
  * it. A read whose days all carry a valid marker omits the `h` column
  * and is served on the plain float path; buckets from other writers
  * have no markers and keep `h`.
  *
  * labels file columns (ref `schema/schema.go:83-99`, parquet-go sorts group
  * fields by name): `___cf_meta_index` (varint presence list,
  * `internal/encoding/label_column_index.go:13-28`) then one optional string
  * column `___cf_meta_label_<name>` per label. chunks file: `___cf_meta_hash`
  * (Prometheus labels.Hash) + three 8h `___cf_meta_chunk_k` cells framed
  * `[enc u32][zigzag mint u64][zigzag maxt u64][len u32][bytes]` holding
  * Prometheus XOR chunks (`convert/chunks.go:46-63`). The two files carry the
  * SAME rows in the SAME order — the reference zips them positionally, so
  * both sinks here shuffle and sort by one total key and the reader joins on
  * `(file stem, _metadata.row_index)`.
  *
  * A bucket is read one way: [[selectReferenceStore]] (day- and
  * cell-pruned, matchers on the labels side). Label introspection reads
  * the labels side of that same frame ([[seriesSide]]), so it never opens
  * a chunks file; [[graft.sources.SeriesStore.reference]] wraps both.
  *
  * Scale design: the per-(series, day) chunk build is a grouping aggregate
  * (map-side partials, executor-side encode — nothing uncompressed crosses
  * the shuffle after the frame build); sharding is hash-of-series (each
  * series whole within one shard — any series partition is format-valid, the
  * gateway merges shards at query time); each (date, shard) pair lands in
  * exactly one task, so a 1000-day bucket converts day-parallel. The rename
  * pass to the reference's exact filenames is driver-side but bounded by
  * days × shards, not data.
  *
  * Chunk encodings: float samples frame as Prometheus XOR chunks (enc 1),
  * native-histogram samples (an `h` struct column in the pinned
  * [[graft.functions.HistChunk.HistType]] model) as Prometheus integer /
  * float histogram chunks (enc 2/3) — the full encoding set the gateway
  * frames (`api/grpc/thanos.go:462-473`); see
  * [[graft.functions.PromHistChunk]]. Custom-bound (NHCB) schema −53
  * still fails loudly on both paths.
  */
object ReferenceFormat {

  private val Book = Set("ts_ms", "value", "sample_id", "series_hash", "date", "stream")
  val LabelPrefix = "___cf_meta_label_"
  val IndexCol = "___cf_meta_index"
  val HashCol = "___cf_meta_hash"
  val ChunkCols: Seq[String] = (0 until 3).map(i => s"___cf_meta_chunk_$i")
  /** ref `locate/deletion.go:22`. */
  val DeletionMarkerName = "deletion-marker.pb"
  /** Engine-side bucket-meta sidecar (underscore-prefixed: Spark file
    * indexes and the gateway both ignore it): the union of label columns
    * ever written, so opening an OWN bucket needs no footer union. */
  val BucketMetaFile = "_graft_bucket_meta.json"
  /** Engine-side per-day marker (empty, underscore-prefixed like the
    * sidecar): the day holds no native-histogram sample, so a read of only
    * such days needs no `h` column. Valid only while no `*.parquet` file of
    * the day is newer than it (see [[DayFacts.floatOnly]]). */
  val FloatOnlyMarker = "_graft_float_only"

  /** xxhash64(seed 0) over sorted key‖value — schema.ExternalLabels.Hash()
    * (ref `schema/block.go:44-67`); 0 when empty. */
  def externalLabelsHash(lbls: Map[String, String]): Long =
    if (lbls.isEmpty) 0L
    else {
      val bytes = lbls.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => (k + v).getBytes("UTF-8").toSeq }.toArray
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 0L)
    }

  private def hashStr(h: Long): String = java.lang.Long.toUnsignedString(h)

  /** Convert model samples (label cols + ts_ms/value/sample_id/series_hash)
    * into the reference's dual-file layout. Returns the written dates.
    *
    * `days` restricts conversion to those UTC dates — the reference's
    * convert-loop unit of work (`cmd/convert.go` plans and converts one day
    * at a time): a day re-converts by overwriting exactly its own
    * `<hash>/<date>/` files, so re-running a planned day after a re-delivery
    * is idempotent and touches nothing else. */
  def convertReference(spark: SparkSession, samples: DataFrame, outDir: String,
                       externalLabels: Map[String, String] = Map.empty,
                       numShards: Int = 1,
                       days: Option[Seq[String]] = None): Seq[String] = {
    require(numShards >= 1, "numShards must be >= 1")
    val hasH = samples.columns.contains("h") &&
      samples.schema("h").dataType.catalogString ==
        graft.functions.HistChunk.HistType.catalogString
    samples.schema.fields
      .find(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] &&
        !(hasH && f.name == "h"))
      .foreach { f =>
        throw new IllegalArgumentException(
          s"struct column '${f.name}' is neither float samples nor the pinned " +
            s"native-histogram model (${graft.functions.HistChunk.HistType.catalogString})")
      }
    val lblCols = samples.columns
      .filterNot(c => Book(c) || (hasH && c == "h")).toSeq.sorted
    require(lblCols.nonEmpty, "samples carry no label columns")

    // day restriction FIRST: date is a pure function of the dedup grouping
    // key ts_ms, so filtering before the vertical merge is identical — and
    // an incremental advanceReference round then shuffles only the planned
    // days, not the stream's whole history
    val dated = samples
      .withColumn("date", date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd"))
    val picked = days.map(ds => dated.filter(col("date").isin(ds: _*))).getOrElse(dated)

    // vertical merge, as convertSamples: deterministic winner = min sample_id
    val pcols = picked.columns.toSeq
    val dedup = picked
      .groupBy(col("series_hash"), col("ts_ms"))
      .agg(min_by(struct(pcols.map(col): _*), col("sample_id")).as("_r"))
      .select(pcols.map(c => col(s"_r.$c")): _*)

    val lblArr = filter(
      array(lblCols.map(n => struct(lit(n).as("name"),
        col(n).cast("string").as("value"))): _*),
      x => x.getField("value").isNotNull && x.getField("value") =!= "")
    val flags = array(lblCols.map(n =>
      col(n).isNotNull && col(n).cast("string") =!= ""): _*)

    val hCol = if (hasH) col("h")
               else lit(null).cast(graft.functions.HistChunk.HistType)
    // `_has_h` rides along (never written) so the float-only proof below
    // reads the cached rows instead of re-running the dedup shuffle
    val rows = dedup
      .groupBy(col("date") +: lblCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("ts_ms"),
        col("value").cast("double").as("value"), hCol.as("h")))).as("pts"),
        max(hCol.isNotNull).as("_has_h"))
      .withColumn("frames", PromFrameCols(col("pts"))).drop("pts")
      .withColumn(HashCol, PromLabelsHash(lblArr))
      .withColumn(IndexCol, PromLabelIndex(flags))
      .withColumn("shard",
        pmod(xxhash64(lblCols.map(n => coalesce(col(n).cast("string"), lit(""))): _*),
          lit(numShards.toLong)).cast("int"))
      .select(Seq(col("date"), col("shard"), col(HashCol), col(IndexCol), col("_has_h")) ++
        ChunkCols.zipWithIndex.map { case (c, i) =>
          element_at(col("frames"), i + 1).as(c) } ++
        lblCols.map(n => col(n).cast("string").as(LabelPrefix + n)): _*)
      .persist()
    try {
      val eh = hashStr(externalLabelsHash(externalLabels))
      val tmpL = s"$outDir/_tmp_ref_labels"
      val tmpC = s"$outDir/_tmp_ref_chunks"
      // the alignment sort key must be TOTAL: the label columns themselves
      // (distinct series differ in at least one) — a concatenated key is NOT
      // collision-free when a label value contains the separator, and a
      // collision would zip series A's chunks onto series B's labels
      val sortKey = lblCols.map(n => col(LabelPrefix + n)) :+ col(HashCol)
      writeAligned(rows, sortKey,
        Seq(col(IndexCol)) ++ lblCols.map(n => col(LabelPrefix + n)), tmpL)
      writeAligned(rows, sortKey, col(HashCol) +: ChunkCols.map(col), tmpC)

      val fs = FileSystem.get(new Path(outDir).toUri, spark.sparkContext.hadoopConfiguration)
      // the labels pass clears each rewritten day dir first, so a re-convert
      // that now produces fewer populated shards cannot leave a stale
      // <shard>.*.parquet pair behind (day-overwrite idempotency)
      val dates = renameShards(fs, tmpL, outDir, eh, "labels.parquet", clearDay = true)
      renameShards(fs, tmpC, outDir, eh, "chunks.parquet", clearDay = false)
      fs.delete(new Path(tmpL), true); fs.delete(new Path(tmpC), true)

      // meta.pb advertises `shards = numShards` and the gateway opens every
      // pair 0..shards-1 (locate/syncer.go readShard) — a day whose series
      // hash into fewer shards still needs an empty schema-bearing pair for
      // each unpopulated shard, or the bucket is unreadable by its target
      val missing = dates.flatMap(d => (0 until numShards).map(s => (d, s)))
        .filterNot { case (d, s) =>
          fs.exists(new Path(s"$outDir/$eh/$d/$s.labels.parquet")) }
      if (missing.nonEmpty) {
        val conf = spark.sparkContext.hadoopConfiguration
        def emptyFile(proj: Seq[Column], tmp: String): Path = {
          rows.limit(0).select(proj: _*).coalesce(1)
            .write.mode("overwrite").option("compression", "zstd").parquet(tmp)
          fs.listStatus(new Path(tmp)).map(_.getPath)
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(s"no empty part file in $tmp"))
        }
        val el = emptyFile(Seq(col(IndexCol)) ++
          lblCols.map(n => col(LabelPrefix + n)), s"$outDir/_tmp_ref_el")
        val ec = emptyFile(col(HashCol) +: ChunkCols.map(col), s"$outDir/_tmp_ref_ec")
        missing.foreach { case (d, s) =>
          org.apache.hadoop.fs.FileUtil.copy(fs, el, fs,
            new Path(s"$outDir/$eh/$d/$s.labels.parquet"), false, conf)
          org.apache.hadoop.fs.FileUtil.copy(fs, ec, fs,
            new Path(s"$outDir/$eh/$d/$s.chunks.parquet"), false, conf)
        }
        fs.delete(new Path(s"$outDir/_tmp_ref_el"), true)
        fs.delete(new Path(s"$outDir/_tmp_ref_ec"), true)
      }

      // float-only proof, per written day: after the day's parquet files
      // (so the marker is never older than them) and before the sidecar
      // stamp; the day-dir clear above already removed a previous marker
      val histDays: Set[String] =
        if (!hasH) Set.empty
        else rows.filter(col("_has_h")).select("date").distinct()
          .collect().map(_.getString(0)).toSet
      dates.filterNot(histDays).foreach { d =>
        writeBytes(fs, new Path(s"$outDir/$eh/$d/$FloatOnlyMarker"), Array.emptyByteArray)
      }

      dates.foreach { d =>
        val dayStart = java.time.LocalDate.parse(d)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
        val metaPath =
          if (externalLabels.isEmpty) new Path(s"$outDir/$d/meta.pb")
          else new Path(s"$outDir/$eh/$d/meta.pb")
        writeBytes(fs, metaPath,
          metaProto(dayStart, dayStart + 86400000L, numShards.toLong, version = 2L))
      }
      if (externalLabels.nonEmpty)
        writeBytes(fs, new Path(s"$outDir/$eh/stream.pb"), streamProto(externalLabels))
      // stamp/refresh the bucket-meta sidecar: label-set union over every
      // convert (incremental days and multi-stream buckets accumulate), so
      // bucketMeta reads one tiny JSON instead of unioning footers — a
      // retention-shrunk label set over-approximates, which is harmless
      // (an all-null label column ≡ the label missing everywhere)
      updateBucketMetaSidecar(spark, fs, outDir, lblCols.map(LabelPrefix + _))
      dates
    } finally rows.unpersist(blocking = false)
  }

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Single-writer assumption: the sidecar is a read-modify-write union, so
    * two concurrent convertReference runs into the SAME bucket can lose one
    * run's labels (last stamp wins) — same single-converter-per-bucket
    * contract the reference's convert loop has. The loss is self-healing:
    * the lost run's day files are then NEWER than the winning stamp, so
    * [[bucketMeta]]'s staleness guard demotes the sidecar to the footer
    * union until the next re-stamp. */
  private def updateBucketMetaSidecar(spark: SparkSession, fs: FileSystem,
                                      dir: String, cols: Seq[String]): Unit = {
    val p = new Path(s"$dir/$BucketMetaFile")
    val existing = readSidecarCols(fs, p).getOrElse {
      // first stamp of a bucket that predates the sidecar (or lost it):
      // seed with the one-time footer union so the invariant
      // sidecar ⊇ every label column in the bucket holds from here on
      // (the catalog listing names the files: no glob for spark.read to
      // fail on, and an empty bucket skips the read cleanly)
      val files = servableDays(fs, dir).flatMap(_.labelsFiles)
      if (files.isEmpty) Nil
      else scala.util.Try(
        spark.read.option("mergeSchema", "true").parquet(files: _*)
          .schema.fieldNames.filter(_.startsWith(LabelPrefix)).toSeq)
        .getOrElse(Seq.empty[String])
    }
    val union = (existing ++ cols).distinct.sorted
    writeBytes(fs, p,
      ("{\"labels\":[" + union.map(jsonStr).mkString(",") + "]}").getBytes("UTF-8"))
  }

  private def readSidecarCols(fs: FileSystem, p: Path): Option[Seq[String]] =
    if (!fs.exists(p)) None
    else scala.util.Try {
      MiniJson.parse(new String(readAllBytes(fs, p), "UTF-8"))
        .asInstanceOf[Map[String, Any]]("labels")
        .asInstanceOf[Vector[Any]].map(_.toString).toSeq
    }.toOption

  /** Both files must carry identical row order: one hash shuffle on
    * (date, shard) — each combo whole in one task — then a TOTAL
    * sortWithinPartitions key (the label columns + hash; one series-day =
    * one row, and distinct series differ in some label column). Sort-only
    * columns ride under reserved temp names and drop before the write. */
  private def writeAligned(rows: DataFrame, sortKey: Seq[Column],
                           cols: Seq[Column], tmpDir: String): Unit = {
    val sortNames = sortKey.indices.map(i => s"__graft_sort_$i")
    val tagged = rows.select(Seq(col("date"), col("shard")) ++
      sortKey.zip(sortNames).map { case (c, n) => c.as(n) } ++ cols: _*)
    tagged
      .repartition(col("date"), col("shard"))
      .sortWithinPartitions(col("date") +: col("shard") +: sortNames.map(col): _*)
      .drop(sortNames: _*)
      .write.mode("overwrite").partitionBy("date", "shard")
      .option("compression", "zstd")
      .option(s"parquet.bloom.filter.enabled#${LabelPrefix}__name__", "true")
      .parquet(tmpDir)
  }

  /** `date=D/shard=S/part-*.parquet` → `<eh>/<D>/<S>.<suffix>`; exactly one
    * part file per combo by construction (fails loudly otherwise). */
  private def renameShards(fs: FileSystem, tmpDir: String, outDir: String,
                           eh: String, suffix: String,
                           clearDay: Boolean): Seq[String] = {
    val dates = fs.listStatus(new Path(tmpDir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
    dates.map { dd =>
      val date = dd.getPath.getName.stripPrefix("date=")
      // a deletion marker survives the day overwrite: the reference's
      // converter uploads into the dir without clearing it, so a marked
      // day stays invisible even if the planner re-converts it before the
      // deleter runs (locate/deletion.go marker lifecycle)
      val markerPath = new Path(s"$outDir/$eh/$date/$DeletionMarkerName")
      val marker = if (clearDay && fs.exists(markerPath))
        Some(readAllBytes(fs, markerPath)) else None
      if (clearDay) fs.delete(new Path(s"$outDir/$eh/$date"), true)
      fs.mkdirs(new Path(s"$outDir/$eh/$date"))
      marker.foreach(writeBytes(fs, markerPath, _))
      for (sd <- fs.listStatus(dd.getPath)
           if sd.isDirectory && sd.getPath.getName.startsWith("shard=")) {
        val shard = sd.getPath.getName.stripPrefix("shard=")
        val parts = fs.listStatus(sd.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        require(parts.length == 1,
          s"expected exactly one part file in ${sd.getPath}, found ${parts.length}")
        val dst = new Path(s"$outDir/$eh/$date/$shard.$suffix")
        fs.delete(dst, false)
        require(fs.rename(parts.head.getPath, dst), s"rename to $dst failed")
      }
      date
    }.sorted
  }

  private def writeBytes(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val os = fs.create(p, true)
    try os.write(bytes) finally os.close()
  }

  private def readAllBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toByteArray
    } finally in.close()
  }

  // ------------------------------------------------------------------- proto
  // Hand-rolled proto3 (no protobuf runtime in the environment): varint
  // fields mint=1 maxt=2 shards=3 version=5 (ref proto/metapb/meta.proto).
  private[graft] def metaProto(mint: Long, maxt: Long, shards: Long, version: Long): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    def vint(tag: Int, v: Long): Unit =
      if (v != 0L) { b.write(tag << 3); putUvarint(b, v) }
    vint(1, mint); vint(2, maxt); vint(3, shards); vint(5, version)
    b.toByteArray
  }

  /** StreamDescriptor{map<string,string> externalLabels = 1}
    * (ref proto/streampb/stream.proto): each entry a nested message
    * key=1/value=2, both length-delimited. */
  private[graft] def streamProto(lbls: Map[String, String]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    lbls.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val kb = k.getBytes("UTF-8"); val vb = v.getBytes("UTF-8")
      val entry = new java.io.ByteArrayOutputStream()
      entry.write(0x0A); putUvarint(entry, kb.length.toLong); entry.write(kb)
      entry.write(0x12); putUvarint(entry, vb.length.toLong); entry.write(vb)
      b.write(0x0A); putUvarint(b, entry.size().toLong)
      entry.writeTo(b)
    }
    b.toByteArray
  }

  private[graft] def parseStreamProto(bytes: Array[Byte]): Map[String, String] = {
    var off = 0
    def uv(): Long = {
      var v = 0L; var shift = 0; var x = 0L
      do {
        require(off < bytes.length, s"truncated stream.pb varint at $off")
        // shift cap: a ≥10-byte varint would wrap `<< shift` (shift mod 64)
        // and could assemble a value that defeats the bounds check below
        require(shift < 64, s"corrupt stream.pb: oversized varint at $off")
        x = bytes(off).toLong & 0xFF; off += 1; v |= (x & 0x7F) << shift; shift += 7
      } while ((x & 0x80) != 0)
      v
    }
    // every length field is untrusted until bounds-checked: a flipped bit
    // must become a clean corruption error, not an out-of-bounds access.
    // Overflow-safe form: `off + len` wraps negative for a near-MaxLong
    // varint and would pass `<= bytes.length` (ADVICE r20 #3)
    def boundedLen(what: String): Int = {
      val len = uv()
      require(len >= 0 && len <= bytes.length - off,
        s"corrupt stream.pb: $what claims $len bytes at $off (${bytes.length} total)")
      len.toInt
    }
    val out = Map.newBuilder[String, String]
    while (off < bytes.length) {
      val tag = uv()
      require(tag == 0x0A, s"unexpected stream.pb tag $tag")
      val end = off + boundedLen("entry")
      var k = ""; var v = ""
      while (off < end) {
        val t = uv(); val len = boundedLen("field")
        val s = new String(bytes, off, len, "UTF-8"); off += len
        if (t == 0x0A) k = s else if (t == 0x12) v = s
      }
      out += k -> v
    }
    out.result()
  }

  private def putUvarint(b: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while (java.lang.Long.compareUnsigned(v, 0x80L) >= 0) {
      b.write(((v & 0x7F) | 0x80).toInt); v >>>= 7
    }
    b.write((v & 0x7F).toInt)
  }

  // -------------------------------------------------------------------- read
  /** `___cf_meta_hash` when stored (V2), else Prometheus labels.Hash
    * recomputed over the present labels — identical bytes-in, so V1 and V2
    * rows of the same series carry one hash. */
  private def seriesHashOf(df: DataFrame, lbls: Seq[(String, Column)]): Column = {
    val arr = filter(
      array(lbls.map { case (n, c) => struct(lit(n).as("name"), c.as("value")) }: _*),
      x => x.getField("value").isNotNull && x.getField("value") =!= "")
    coalesce(col(HashCol), PromLabelsHash(arr))
  }

  /** Store-invariant bucket metadata, computed ONCE and reused across
    * per-query reads ([[selectReferenceStore]]'s `meta` parameter): the
    * MERGED labels-file schema over every day (real gateway buckets have
    * per-shard data-driven schemas, `schema/schema.go:82-97` — inferring
    * from one sampled file would silently fold a label missing there to
    * "absent" and drop matching series of other days) and the stream.pb
    * descriptors. */
  final case class BucketMeta(labelsSchema: org.apache.spark.sql.types.StructType,
                              streams: Map[String, Map[String, String]])

  def bucketMeta(spark: SparkSession, dir: String): BucketMeta = {
    import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
    val fs = FileSystem.get(new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)
    // own buckets: the stamped sidecar replaces the footer union — open-time
    // cost is one flat listing + one small read, independent of days ×
    // shards; foreign buckets (gateway-written, no sidecar) fall back to
    // mergeSchema. Staleness guard: the sidecar's "⊇ every label column"
    // invariant only holds when all writes go through convertReference
    // (which re-stamps after each day write); a gateway/Go-converter
    // writing into the same bucket after the stamp could introduce a label
    // column the sidecar under-reports — and the imposed schema would
    // silently read that label as absent. Day files newer than the sidecar
    // therefore demote it to the footer union (the catalog listing happens
    // at open anyway, so the guard is ~free).
    val sidecarPath = new Path(s"$dir/$BucketMetaFile")
    val catalog = scanCatalog(fs, dir)
    val sidecarFresh = readSidecarCols(fs, sidecarPath).filter { _ =>
      val stampMs = fs.getFileStatus(sidecarPath).getModificationTime
      catalog.values.forall(_.maxFileMtime <= stampMs)
    }
    val schema = sidecarFresh match {
      case Some(cols) =>
        StructType(StructField(IndexCol, BinaryType) +:
          cols.map(c => StructField(c, StringType)))
      case None =>
        // the files the catalog listed (see updateBucketMetaSidecar)
        val files = servableDays(dir, catalog).flatMap(_.labelsFiles)
        if (files.isEmpty) new StructType()
        else scala.util.Try(
          spark.read.option("mergeSchema", "true").parquet(files: _*).schema)
          .getOrElse(new StructType())
    }
    BucketMeta(schema, readStreamDescriptors(spark, dir))
  }

  /** The chunks-file schema is FIXED by the format (hash + 3 chunk cells);
    * imposing it makes V1 files (no hash column) read hash as null. */
  private val ChunksSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(StructField(HashCol, LongType) +:
      ChunkCols.map(c => StructField(c, BinaryType)))
  }

  /** Matcher + time-pruned select over a reference bucket — the serving
    * path for an EXISTING thanos-parquet-gateway store: day directories
    * outside [mintMs, maxtMs] are never listed into the read (the layout's
    * `<hash>/<date>/` partition pruning, driver-bounded by day count, ref
    * `locate/discover.go:125-305` lists the same way), label matchers
    * compile onto the labels-file columns and filter BEFORE any chunk cell
    * is decoded (the reference's constraint→row-range→materialize order,
    * `search/materialize.go:42-105`), and only surviving rows pay the XOR
    * decode + ts filter. Output shape = the engine's samples model
    * (label cols + ts_ms/value/sample_id/series_hash), so
    * [[graft.api.PromEngine]] serves PromQL straight off the bucket.
    *
    * Scale shape of the positional zip: with selective matchers the
    * filtered labels side is small and AQE converts the (stem, row_index)
    * join to a broadcast at runtime — the chunks scan is then never
    * shuffled, only filtered; an unselective select shuffles both sides
    * once on the zip key, which is the relational cost of the format's
    * row-position coupling (the reference pays the analogous cost as
    * row-range materialization I/O). */
  def selectReferenceStore(spark: SparkSession, dir: String,
                           matchers: Seq[graft.promql.LabelMatcher] = Nil,
                           mintMs: Long = Long.MinValue,
                           maxtMs: Long = Long.MaxValue,
                           meta: Option[BucketMeta] = None): DataFrame = {
    val fs = FileSystem.get(new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)
    val (loD, hiD) = (dayStr(mintMs), dayStr(maxtMs))
    // one listing pass gated on discovery hygiene (meta.pb present, no
    // deletion marker — ref Discoverer + DeletionMarkerFilter); the bounded
    // subset selects in memory
    val allDays = servableDays(fs, dir)
    val inRange = allDays.filter(d => d.date >= loD && d.date <= hiD)
    // schema-correct empty result when no day overlaps: run the same
    // pipeline over one arbitrary day with an impossible time bound, so
    // callers keep the full samples-model columns (an AnalysisException on
    // a merely-empty interval would be wrong); a bucket with no days at
    // all yields the minimal bookkeeping schema
    val days = if (inRange.nonEmpty) inRange else allDays.take(1)
    val emptyRange = inRange.isEmpty
    if (days.isEmpty)
      return spark.range(0).select(col("id").as("series_hash"),
        col("id").as("ts_ms"), col("id").cast("double").as("value"),
        col("id").as("sample_id"))

    // the store-wide MERGED labels schema is imposed on every read: a label
    // column absent from the listed days' files reads as null (= missing),
    // instead of vanishing from the frame and folding matchers to false
    val m = meta.getOrElse(bucketMeta(spark, dir))
    val lbl = spark.read.schema(m.labelsSchema)
      .parquet(days.flatMap(_.labelsFiles): _*)
      .withColumn("_stem", regexp_replace(col("_metadata.file_path"),
        lit("\\.labels\\.parquet$"), lit("")))
      .withColumn("_ri", col("_metadata.row_index"))
    // chunk-cell projection: cell k of day D holds the chunks STARTING in
    // [D+8h·k, D+8h·(k+1)) (convert/chunks.go:53-55) and the reference reads
    // only ChunkColumnIndex(mint)..ChunkColumnIndex(maxt)
    // (search/materialize.go:317-333) — untouched cells never reach the
    // parquet scan (a sub-8h query pays one cell's I/O+decode, not three).
    // Day groups: first/last day may touch fewer cells than interior days,
    // so ≤3 distinct ranges union below.
    // Bug-compatible fidelity: a FOREIGN chunk spanning an 8h boundary
    // (the Go converter places by MinTime, convert/chunks.go:53-55) is
    // invisible to an interval touching only the later window — the
    // reference's ChunkColumnIndex read misses it identically (pinned in
    // PromXorSpec "foreign boundary-spanning chunk"); own-writer buckets
    // cut chunks at window boundaries and are exact.
    val colMs = 8L * 3600000L
    def cellRange(d: Day): (Int, Int) = {
      if (emptyRange) return (0, 0)
      val dayStart = java.time.LocalDate.parse(d.date)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      val lo = if (mintMs <= dayStart) 0
               else math.min(((mintMs - dayStart) / colMs).toInt, 2)
      val hi = if (maxtMs >= dayStart + 86400000L) 2
               else math.max(lo, math.min(((maxtMs - dayStart) / colMs).toInt, 2))
      (lo, hi)
    }
    val chk = days.groupBy(cellRange).map { case ((cLo, cHi), ds) =>
      spark.read.schema(ChunksSchema)
        .parquet(ds.flatMap(_.chunksFiles): _*)
        .withColumn("_stem", regexp_replace(col("_metadata.file_path"),
          lit("\\.chunks\\.parquet$"), lit("")))
        .withColumn("_ri", col("_metadata.row_index"))
        .select(Seq(col("_stem"), col("_ri"), col(HashCol)) ++
          ChunkCols.zipWithIndex.map { case (c, k) =>
            if (k >= cLo && k <= cHi) coalesce(col(c), lit(Array.empty[Byte])).as(c)
            else lit(Array.empty[Byte]).as(c)
          }: _*)
    }.reduce(_ unionByName _)

    val lblNames = lbl.columns.filter(_.startsWith(LabelPrefix)).toSeq.sorted
    val plainNames = lblNames.map(_.stripPrefix(LabelPrefix))
    // file-borne matchers compile on PLAIN label names over the labels scan —
    // pushed to parquet (dictionary/bloom pruning) before the zip and decode
    val plain = lbl.select(Seq(col("_stem"), col("_ri")) ++
      lblNames.map(c => col(c).as(c.stripPrefix(LabelPrefix))): _*)
    // stream.pb external labels fold in as path-derived columns (file label
    // wins on collision, the P10 precedence) so matchers on them veto
    // streams — same semantics as the gateway attaching stream ext labels
    val streams = m.streams
    val extKeys = streams.values.flatMap(_.keys).toSeq.distinct.sorted
      .filterNot(plainNames.contains)
    val withExt = extKeys.foldLeft(plain) { (df, k) =>
      val byHash = streams.collect { case (h, m) if m.contains(k) => (h, m(k)) }.toSeq
      df.withColumn(k, byHash.foldLeft(lit(null).cast("string")) {
        case (acc, (h, v)) =>
          when(element_at(split(col("_stem"), "/"), -3) === h, lit(v)).otherwise(acc)
      })
    }
    val filtered =
      if (matchers.isEmpty) withExt
      else withExt.filter(graft.promql.Matchers.compile(withExt, matchers))

    // frame-header time skip inside surviving cells: frames whose
    // [mint, maxt] header misses the interval never pay the bit-stream
    // decode (the native layout's `mint`/`maxt` frame prune)
    val pts = explode(concat(
      ChunkCols.map(c => PromFramesDecode(col(c), mintMs, maxtMs)): _*))
    // days proven float-only read without `h`: the frame then has the
    // float-only raw shape, and the engine compiles no histogram side
    val hCols = if (days.forall(_.facts.floatOnly)) Nil else Seq(col("_p.h").as("h"))
    // the labels side carries a name, so label introspection over this
    // frame can read the in-range days' series without the chunk zip and
    // decode ([[seriesSide]]); an empty interval reads a stand-in day, so
    // it carries none
    val zipped = (if (emptyRange) filtered else filtered.as(SeriesSide))
      .join(chk, Seq("_stem", "_ri"))
    zipped
      .withColumn("_p", pts)
      .select((plainNames ++ extKeys).map(col) ++
        Seq(seriesHashOf(zipped, plainNames.map(c => (c, col(c)))).as("series_hash"),
          col("_p.ts_ms").as("ts_ms"), col("_p.value").as("value")) ++ hCols: _*)
      .filter(if (emptyRange) lit(false)
              else col("ts_ms").between(mintMs, maxtMs))
      // the layout stores ≤1 sample per (series, ts); ts doubles as the
      // deterministic ingest-order tie-break the model asks for
      .withColumn("sample_id", col("ts_ms"))
  }

  /** Name of the labels side inside a [[selectReferenceStore]] frame. */
  private val SeriesSide = "__graft_series"

  /** The labels-file rows (label columns, matchers applied) of the days a
    * [[selectReferenceStore]] frame reads: what label introspection needs,
    * without the chunk zip and decode. Day granularity — the reference
    * resolves label names and values from the in-range days' labels files
    * the same way. None for any other frame, or one holding several. */
  def seriesSide(samples: DataFrame): Option[DataFrame] =
    samples.queryExecution.analyzed.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
        if s.alias == SeriesSide => s.child
    } match {
      case Seq(side) => Some(org.apache.spark.sql.graftshim.ofRows(samples.sparkSession, side))
      case _ => None
    }

  // ------------------------------------------------------------ catalog
  /** The UTC day (`YYYY-MM-DD`, a bucket's day-directory name) holding
    * `ms`, clamped to the years 1970–9999. */
  private def dayStr(ms: Long): String = {
    val cap = 253402214400000L
    java.time.Instant.ofEpochMilli(ms.max(0L).min(cap))
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
  }

  private val DateRe = "\\d{4}-\\d{2}-\\d{2}".r

  /** Visibility facts for one (hash, date) block, folded out of a single
    * flat listing. `meta`/`marked` honor BOTH the hash-0 top-level spot
    * (`MetaFileNameForBlock` elides the zero hash) and the `0/<date>/`
    * shard spot, exactly as [[blockVisible]]-era discovery did;
    * `labelsFiles`/`chunksFiles` are the shard file names under
    * `<hash>/<date>/`, read as listed (no glob, no second listing);
    * `shardMarkerMtime` is the `deletion-marker.pb` modification time at
    * the shard spot only — the one the deleter ages against. */
  private case class DayFacts(meta: Boolean = false, marked: Boolean = false,
                              shardMarkerMtime: Option[Long] = None,
                              maxFileMtime: Long = 0L,
                              maxParquetMtime: Long = 0L,
                              floatOnlyMtime: Option[Long] = None,
                              labelsFiles: Vector[String] = Vector.empty,
                              chunksFiles: Vector[String] = Vector.empty) {
    /** The [[FloatOnlyMarker]] is present and no parquet file of the day is
      * newer than it (its own `.crc` is not a parquet file). */
    def floatOnly: Boolean = floatOnlyMtime.exists(_ >= maxParquetMtime)
  }

  /** A servable day directory and its facts. */
  private final case class Day(path: String, date: String, facts: DayFacts) {
    def labelsFiles: Seq[String] = facts.labelsFiles.sorted.map(f => s"$path/$f")
    def chunksFiles: Seq[String] = facts.chunksFiles.sorted.map(f => s"$path/$f")
  }

  /** Logical list RPCs issued by discovery since JVM start. Pinned by
    * EtlSpec: opening an N-day bucket must cost O(1) listings, not the
    * 2–3 `exists` HEADs per day the pre-r15 discoverer issued (a 1000-day
    * S3 bucket would otherwise pay ~3000 sequential HEADs per open). */
  private[graft] val discoveryListCalls = new java.util.concurrent.atomic.AtomicLong

  /** One recursive listing of the bucket → per-(hash, date) [[DayFacts]].
    * The reference's discoverer parses exactly one flat bucket listing
    * (`locate/discover.go:125-305`); on an object store this is one
    * paginated LIST instead of a HEAD fan.
    *
    * Local-FS fast path (r21): `fs.listFiles(recursive)` produces
    * LocatedFileStatus, and Hadoop's local FS computes per-file block
    * locations — measured 5.7 ms/FILE, ~0.9 s for a 31-day bucket, paid 2×
    * per store query (servableDays + bucketMeta). A plain listStatus walk
    * yields the same FileStatus facts in ~9 ms. Object-store schemes keep
    * the single flat LIST (a per-directory walk would multiply round
    * trips); either way this remains ONE logical discovery listing
    * (`discoveryListCalls` counts exactly as before). */
  private def scanCatalog(fs: FileSystem, dir: String): Map[(String, String), DayFacts] = {
    val base = new Path(dir)
    discoveryListCalls.incrementAndGet()
    if (!fs.exists(base)) return Map.empty
    val basePath = fs.makeQualified(base).toUri.getPath.stripSuffix("/")
    val facts = scala.collection.mutable.Map.empty[(String, String), DayFacts]
    def upd(hash: String, date: String)(f: DayFacts => DayFacts): Unit =
      facts((hash, date)) = f(facts.getOrElse((hash, date), DayFacts()))
    val it: Iterator[org.apache.hadoop.fs.FileStatus] =
      if (fs.getUri.getScheme == "file") {
        def walk(p: Path): Iterator[org.apache.hadoop.fs.FileStatus] =
          fs.listStatus(p).iterator.flatMap(s =>
            if (s.isDirectory) walk(s.getPath) else Iterator.single(s))
        walk(base)
      } else {
        val lf = fs.listFiles(base, true)
        new Iterator[org.apache.hadoop.fs.FileStatus] {
          def hasNext: Boolean = lf.hasNext
          def next(): org.apache.hadoop.fs.FileStatus = lf.next()
        }
      }
    while (it.hasNext) {
      val st = it.next()
      val rel = fs.makeQualified(st.getPath).toUri.getPath
        .stripPrefix(basePath).stripPrefix("/")
      rel.split('/') match {
        case Array(date, fname) if DateRe.matches(date) =>
          if (fname == "meta.pb") upd("0", date)(_.copy(meta = true))
          else if (fname == DeletionMarkerName) upd("0", date)(_.copy(marked = true))
        case Array(hash, date, fname)
            if hash.nonEmpty && hash.forall(_.isDigit) && DateRe.matches(date) =>
          val m = st.getModificationTime
          if (fname == DeletionMarkerName)
            upd(hash, date)(_.copy(marked = true, shardMarkerMtime = Some(m)))
          else upd(hash, date) { f0 =>
            val f = f0.copy(maxFileMtime = math.max(f0.maxFileMtime, m))
            if (fname == "meta.pb") f.copy(meta = true)
            else if (fname == FloatOnlyMarker) f.copy(floatOnlyMtime = Some(m))
            else if (!fname.endsWith(".parquet")) f
            else {
              val p = f.copy(maxParquetMtime = math.max(f.maxParquetMtime, m))
              if (fname.endsWith(".labels.parquet")) p.copy(labelsFiles = p.labelsFiles :+ fname)
              else if (fname.endsWith(".chunks.parquet")) p.copy(chunksFiles = p.chunksFiles :+ fname)
              else p
            }
          }
        case _ => ()
      }
    }
    facts.toMap
  }

  /** Converted-day catalog of a reference bucket: ext-labels-hash string →
    * sorted distinct dates, a day counting as converted iff its `meta.pb`
    * exists (a meta-less day is a half-written convert,
    * `locate/discover.go:238-245`) and it carries no deletion marker
    * (`DeletionMarkerFilter.ShouldUnload`, `locate/deletion.go:24-28`).
    * Keyed by (hash, date) so the hash-0 top-level meta and its `0/<date>/`
    * shard dir fold into ONE entry, never a duplicate date. */
  def discoverDays(spark: SparkSession, dir: String): Map[String, Seq[String]] = {
    val fs = FileSystem.get(new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)
    scanCatalog(fs, dir).toSeq
      .collect { case ((hash, date), f) if f.meta && !f.marked => (hash, date) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
  }

  /** Day directories (`<dir>/<hash>/<date>`) that serving may read: the
    * shard files always live under the hash directory; visible iff meta
    * present, unmarked, and a labels file is there. One flat listing,
    * driver-side. */
  private def servableDays(fs: FileSystem, dir: String): Seq[Day] =
    servableDays(dir, scanCatalog(fs, dir))

  private def servableDays(dir: String, catalog: Map[(String, String), DayFacts]): Seq[Day] =
    catalog.toSeq
      .collect { case ((hash, date), f) if f.meta && !f.marked && f.labelsFiles.nonEmpty =>
        Day(s"$dir/$hash/$date", date, f) }
      .sortBy(_.path)

  // -------------------------------------------------------------- retention
  /** `metapb.DeletionMark{reason = 1}` (ref proto/metapb/meta.proto). */
  private[graft] def deletionMarkProto(reason: String): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val rb = reason.getBytes("UTF-8")
    if (rb.nonEmpty) { b.write(0x0A); putUvarint(b, rb.length.toLong); b.write(rb) }
    b.toByteArray
  }

  /** MarkExpiredStreams analog (ref `locate/deletion.go:132-169`): every
    * discovered day strictly older than `cutoffDate` (UTC day string) gets a
    * `deletion-marker.pb` under its hash directory. Already-marked and
    * meta-less days are left alone (discovery no longer reports them).
    * Returns the (hash, date) pairs marked this pass. */
  def markExpiredDays(spark: SparkSession, dir: String,
                      cutoffDate: String,
                      reason: String = "Retention duration expired"): Seq[(String, String)] = {
    val fs = FileSystem.get(new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)
    discoverDays(spark, dir).toSeq.flatMap { case (hash, dates) =>
      dates.filter(_ < cutoffDate).map { d =>
        writeBytes(fs, new Path(s"$dir/$hash/$d/$DeletionMarkerName"),
          deletionMarkProto(reason))
        (hash, d)
      }
    }.sorted
  }

  /** DeleteMarkedStreams analog (ref `locate/deletion.go:40-103`): drop the
    * block files of every day whose marker is older than
    * `consistencyDelayMs` (default the reference's 12h) — meta first (the
    * day turns undiscoverable immediately even on partial failure), then
    * the shard pairs, the marker last so an interrupted delete resumes.
    * Returns the (hash, date) pairs deleted. */
  def deleteMarkedDays(spark: SparkSession, dir: String, nowMs: Long,
                       consistencyDelayMs: Long = 12L * 3600 * 1000): Seq[(String, String)] = {
    val fs = FileSystem.get(new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)
    val marked = scanCatalog(fs, dir).toSeq.collect {
      case ((hash, date), f)
          if f.shardMarkerMtime.exists(nowMs - _ >= consistencyDelayMs) =>
        (hash, date)
    }
    marked.foreach { case (hash, d) =>
      fs.delete(new Path(s"$dir/$hash/$d/meta.pb"), false)
      if (hash == "0") fs.delete(new Path(s"$dir/$d/meta.pb"), false)
      fs.listStatus(new Path(s"$dir/$hash/$d")).toSeq
        .filter(f => f.getPath.getName.endsWith(".labels.parquet") ||
          f.getPath.getName.endsWith(".chunks.parquet"))
        .foreach(f => fs.delete(f.getPath, false))
      fs.delete(new Path(s"$dir/$hash/$d/$DeletionMarkerName"), false)
      // empty dirs cleaned opportunistically — an object store has none
      fs.delete(new Path(s"$dir/$hash/$d"), true)
      if (hash == "0") fs.delete(new Path(s"$dir/$d"), true)
    }
    marked.sorted
  }

  /** stream.pb sidecars: hash string (directory name) → external label set. */
  def readStreamDescriptors(spark: SparkSession, dir: String): Map[String, Map[String, String]] = {
    val fs = FileSystem.get(new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)
    val base = new Path(dir)
    if (!fs.exists(base)) return Map.empty
    fs.listStatus(base).toSeq.filter(_.isDirectory).flatMap { d =>
      val sp = new Path(d.getPath, "stream.pb")
      if (fs.exists(sp))
        Some(d.getPath.getName -> parseStreamProto(readAllBytes(fs, sp)))
      else None
    }.toMap
  }
}
