package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Dictionary/footer fast path for matcherless `label_values(x)` — the
  * reference's no-matcher LabelValues shortcut (`search/search.go:173-201`:
  * with no constraints, the distinct values of a label are read from the
  * parquet DICTIONARY pages, never touching data pages).
  *
  * Spark-first form, exact rather than block-granular: the work distributes
  * over the relation's files; each task opens only the FOOTER of its files
  * and classifies them —
  *
  *  - a file fully inside the query interval (ts_ms column statistics) whose
  *    label chunks are dictionary-encoded in every row group contributes its
  *    dictionary entries directly (parquet-mr builds dictionaries from the
  *    values actually written, and falls back to plain pages mid-row-group
  *    only in ways `EncodingStats.hasNonDictionaryEncodedPages` reports);
  *  - a boundary file (straddles the interval), a file without usable
  *    stats/encoding info, or a non-dictionary chunk routes that FILE to an
  *    ordinary pruned column scan.
  *
  * So the scan shrinks to the interval's boundary files — at 100 TB a
  * whole-retention `label_values()` reads a few KB of footers per file plus
  * the dictionary pages, instead of scanning a column through every row
  * group. Exactness is per-file, never approximated: the union of
  * dictionary files + scanned files is exactly the matcherless select.
  *
  * Applicability is conservative: the samples view must be a single plain
  * parquet relation (no decode-on-read transforms) and the label a string
  * column stored in the files (not a partition directory column); anything
  * else returns None and the caller keeps its scan path. In practice that
  * is the flat samples layout: a reference bucket's frame is a labels ↔
  * chunks join, and its label questions go to the bucket's labels side
  * instead ([[graft.etl.ReferenceFormat.seriesSide]]).
  */
object FooterLabelValues {

  /** Time-pruned file enumeration: when the relation is date-partitioned
    * (`date=YYYY-MM-DD`, the converted layout), push the query interval as
    * a partition filter into `FileIndex.listFiles` so only the overlapping
    * days' files ever materialize on the driver — a whole-retention label
    * query over millions of files must not allocate the full path list for
    * a one-day interval. Unpartitioned (or stream-partitioned) relations
    * fall back to the full listing, which is then the true candidate set. */
  private def prunedFiles(
      fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
      mintMs: Long, maxtMs: Long): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
    val cap = 253402214400000L // 9999-01-01, the engine's DATE-literal clamp
    def day(ms: Long) = java.time.Instant.ofEpochMilli(ms.max(0L).min(cap))
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
    val filters = fs.partitionSchema.fields.find(_.name == "date").toSeq.flatMap { f =>
      // partition values infer as DateType or StringType depending on the
      // session; ISO day strings compare lexicographically = chronologically
      val (lo, hi) = f.dataType match {
        case org.apache.spark.sql.types.DateType =>
          (Literal(day(mintMs).toEpochDay.toInt, f.dataType),
            Literal(day(maxtMs).toEpochDay.toInt, f.dataType))
        case _ =>
          (Literal(org.apache.spark.unsafe.types.UTF8String.fromString(day(mintMs).toString), f.dataType),
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(day(maxtMs).toString), f.dataType))
      }
      val attr = AttributeReference("date", f.dataType)()
      Seq(And(GreaterThanOrEqual(attr, lo), LessThanOrEqual(attr, hi)))
    }
    fs.location.listFiles(filters, Nil)
      .flatMap(_.files.map(_.getPath.toString))
  }

  /** Distinct values of `label` among samples with ts_ms ∈ [mintMs, maxtMs],
    * resolved footer-first. None = not applicable (caller falls back). */
  def labelValues(samples: DataFrame, label: String,
                  mintMs: Long, maxtMs: Long): Option[Seq[String]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val rel = samples.queryExecution.optimizedPlan match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation
          if fs.fileFormat.toString.toLowerCase.contains("parquet") => Some(fs)
        case _ => None
      }
      case _ => None
    }
    rel.flatMap { fs =>
      // label must live in the data files; a partition-directory column has
      // no pages to read (and the engine never treats those as labels)
      if (!fs.dataSchema.fieldNames.contains(label) ||
          !fs.dataSchema.fieldNames.contains("ts_ms")) None
      else {
        val spark = samples.sparkSession
        val files = prunedFiles(fs, mintMs, maxtMs)
        if (files.isEmpty) Some(Seq.empty)
        else {
        val par = math.max(1, math.min(files.size,
          spark.sparkContext.defaultParallelism))
        // per-file footer classification, distributed; the SESSION's Hadoop
        // conf rides to executors via broadcast so the fast path works on
        // non-default filesystems (custom fs.* settings, credentials)
        val bc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sessionState.newHadoopConf()))
        val classified = spark.sparkContext.parallelize(files, par)
          .mapPartitions { it =>
            it.map(f => classify(f, label, mintMs, maxtMs, bc.value.value)) }
          .collect()
        if (classified.exists(_ == null)) None // unusable column type etc.
        else {
          val dictVals = classified.iterator.flatMap(_.values).toSet
          val scanFiles = classified.filter(_.needsScan).map(_.path)
          val scanned: Seq[String] =
            if (scanFiles.isEmpty) Nil
            else spark.read.schema(fs.dataSchema).parquet(scanFiles: _*)
              .filter(col("ts_ms").between(mintMs, maxtMs))
              .select(col(label)).na.drop().distinct()
              .collect().map(_.getString(0)).toSeq
          Some((dictVals ++ scanned).toSeq.sorted)
        }
        }
      }
    }
  }

  /** Matcherless `label_names()` footer analog (the reference resolves
    * LabelNames from per-block schemas inside the interval,
    * `search/search.go:294`): a label is PRESENT iff some row in
    * [mintMs, maxtMs] carries a non-null value for it. Footer-first proof:
    * a row group whose ts_ms statistics lie fully inside the interval and
    * whose label chunk reports `valueCount − numNulls > 0` proves presence
    * without touching data pages; labels not proven by any covered row
    * group are resolved by scanning ONLY the boundary/statless files — and
    * when every candidate is already proven, no data page is read at all.
    * None = not applicable (caller falls back to its scan or schema path). */
  def labelNames(samples: DataFrame, labels: Seq[String],
                 mintMs: Long, maxtMs: Long): Option[Seq[String]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val rel = samples.queryExecution.optimizedPlan match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation
          if fs.fileFormat.toString.toLowerCase.contains("parquet") => Some(fs)
        case _ => None
      }
      case _ => None
    }
    rel.flatMap { fs =>
      // every candidate label must live in the data files (a partition
      // directory column has no chunk stats — engine labels never are)
      if (!fs.dataSchema.fieldNames.contains("ts_ms") ||
          !labels.forall(fs.dataSchema.fieldNames.contains)) None
      else {
        val spark = samples.sparkSession
        val files = prunedFiles(fs, mintMs, maxtMs)
        if (files.isEmpty) Some(Seq.empty)
        else {
          val par = math.max(1, math.min(files.size,
            spark.sparkContext.defaultParallelism))
          val bc = spark.sparkContext.broadcast(
            new org.apache.spark.util.SerializableConfiguration(
              spark.sessionState.newHadoopConf()))
          val lbls = labels.toArray
          val classified = spark.sparkContext.parallelize(files, par)
            .mapPartitions { it =>
              it.map(f => classifyNames(f, lbls, mintMs, maxtMs, bc.value.value)) }
            .collect()
          val proven = classified.iterator.flatMap(_.present).toSet
          val remaining = labels.filterNot(proven)
          val scanFiles = classified.filter(_.needsScan).map(_.path).toSeq
          val scanned: Set[String] =
            if (remaining.isEmpty || scanFiles.isEmpty) Set.empty
            else {
              val df = spark.read.schema(fs.dataSchema).parquet(scanFiles: _*)
                .filter(col("ts_ms").between(mintMs, maxtMs))
              val counts = df.agg(
                org.apache.spark.sql.functions.count(col(remaining.head)).as(remaining.head),
                remaining.tail.map(l =>
                  org.apache.spark.sql.functions.count(col(l)).as(l)): _*).head()
              remaining.filter(l => counts.getAs[Long](l) > 0).toSet
            }
          Some(labels.filter(l => proven(l) || scanned(l)).sorted)
        }
      }
    }
  }

  private final case class FileNames(path: String, present: Seq[String],
                                     needsScan: Boolean)

  /** Per-file presence proof from footer statistics alone. */
  private def classifyNames(path: String, labels: Array[String], mintMs: Long,
                            maxtMs: Long,
                            conf: org.apache.hadoop.conf.Configuration): FileNames = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
    try {
      val present = scala.collection.mutable.Set.empty[String]
      var needsScan = false
      reader.getFooter.getBlocks.asScala.foreach { bm =>
        val byPath = bm.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
        val tsCc = byPath.getOrElse("ts_ms", null)
        val st = if (tsCc == null) null else tsCc.getStatistics
        if (st == null || !st.hasNonNullValue) needsScan = true
        else {
          val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
          val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
          if (mx >= mintMs && mn <= maxtMs) { // overlapping row group
            val covered = mn >= mintMs && mx <= maxtMs
            labels.foreach { l =>
              byPath.get(l) match {
                case Some(cc) =>
                  val ls = cc.getStatistics
                  if (covered && ls != null && ls.isNumNullsSet &&
                      cc.getValueCount - ls.getNumNulls > 0) present += l
                  else if (!covered || ls == null || !ls.isNumNullsSet)
                    needsScan = true
                  // covered + stats say all-null: proven ABSENT here, and
                  // other row groups/files still get their say
                case None => () // label column absent from this file: no rows
              }
            }
          }
        }
      }
      FileNames(path, present.toSeq, needsScan)
    } finally reader.close()
  }

  /** One file's contribution: dictionary values (file fully covered &
    * dictionary-only) and/or a needs-scan flag. `null` poisons the whole
    * fast path (e.g. the label isn't a BINARY column). */
  private final case class FileValues(path: String, values: Seq[String],
                                      needsScan: Boolean)

  private def classify(path: String, label: String, mintMs: Long, maxtMs: Long,
                       conf: org.apache.hadoop.conf.Configuration): FileValues = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val desc = schema.getColumns.asScala
        .find(d => d.getPath.toSeq == Seq(label)).orNull
      if (desc == null ||
          desc.getPrimitiveType.getPrimitiveTypeName != PrimitiveTypeName.BINARY)
        return null // not a string label in this file → fast path off
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      var needsScan = false
      val out = Seq.newBuilder[String]
      blocks.foreach { bm =>
        val tsCc = bm.getColumns.asScala.find(_.getPath.toDotString == "ts_ms").orNull
        val lblCc = bm.getColumns.asScala.find(_.getPath.toDotString == label).orNull
        if (tsCc == null || lblCc == null) needsScan = true
        else {
          val st = tsCc.getStatistics
          val overlap = st == null || !st.hasNonNullValue || {
            val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
            val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
            mx >= mintMs && mn <= maxtMs
          }
          if (overlap) {
            val covered = st != null && st.hasNonNullValue && {
              val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
              val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
              mn >= mintMs && mx <= maxtMs
            }
            val es = lblCc.getEncodingStats
            if (!covered || es == null || es.hasNonDictionaryEncodedPages)
              needsScan = true
            else {
              // getDictionaryReader's concrete class is package-private;
              // talk to it through the public DictionaryPageReadStore face
              val dicts: org.apache.parquet.column.page.DictionaryPageReadStore =
                reader.getDictionaryReader(bm)
              val page = dicts.readDictionaryPage(desc)
              if (page == null) {
                // dictionary-encoded per stats but no page? be safe
                needsScan = true
              } else {
                val dict = page.getEncoding.initDictionary(desc, page)
                var id = 0
                while (id <= dict.getMaxId) {
                  out += dict.decodeToBinary(id).toStringUsingUTF8
                  id += 1
                }
              }
            }
          } // non-overlapping row group contributes nothing
        }
      }
      FileValues(path, out.result().distinct, needsScan)
    } finally reader.close()
  }
}
