package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.etl.ReferenceFormat
import graft.functions.PromXorChunk

/** Prometheus XOR chunk + reference dual-file layout interop coverage:
  * pinned byte vectors (the format is public and fixed — these bytes must
  * never change), bit-exact fuzz roundtrips, frame/column placement, varint
  * index + label-hash codecs, and the full convert→open store roundtrip. */
class PromXorSpec extends SparkSpec {

  private def arr(pts: Seq[(Long, Double)]) =
    new GenericArrayData(pts.map { case (t, v) => InternalRow(t, v, null) }.toArray[Any])

  private def decodeChunk(bytes: Array[Byte]): Seq[(Long, Double)] = {
    val n = PromXorChunk.sampleCount(bytes, 0)
    val out = new Array[Any](n)
    PromXorChunk.decodeChunkInto(bytes, 0, out, 0)
    out.toSeq.map { case r: InternalRow => (r.getLong(0), r.getDouble(1)) }
  }

  private def roundtrip(pts: Seq[(Long, Double)]): Seq[(Long, Double)] =
    decodeChunk(PromXorChunk.encodeChunk(arr(pts), 0, pts.size))

  private def sameBits(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.size == b.size && a.zip(b).forall { case ((t1, v1), (t2, v2)) =>
      t1 == t2 && java.lang.Double.doubleToRawLongBits(v1) ==
        java.lang.Double.doubleToRawLongBits(v2)
    }

  // ------------------------------------------------------ pinned byte vectors
  test("pinned bytes: single sample (uint16 header, zigzag-varint t, raw f64)") {
    val bytes = PromXorChunk.encodeChunk(arr(Seq((1000L, 1.0))), 0, 1)
    // header 0x0001; PutVarint(1000) = uvarint(2000) = D0 0F; 1.0 = 3FF0...
    assert(bytes.toSeq == Seq(0x00, 0x01, 0xD0, 0x0F,
      0x3F, 0xF0, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00).map(_.toByte))
  }

  test("pinned bytes: repeated value is one zero bit per sample") {
    val bytes = PromXorChunk.encodeChunk(arr(
      Seq((1000L, 1.0), (2000L, 1.0), (3000L, 1.0))), 0, 3)
    // sample1: uvarint(1000)=E8 07, then '0' (same value);
    // sample2: dod=0 → '0', value same → '0'  ⇒ trailing byte 0b000_00000
    assert(bytes.toSeq == Seq(0x00, 0x03, 0xD0, 0x0F,
      0x3F, 0xF0, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
      0xE8, 0x07, 0x00).map(_.toByte))
  }

  test("pinned: asymmetric dod buckets — +8192 fits 14 bits, −8192 does not") {
    // deltas: 10000, then 18192 (dod=+8192: '10'+14 bits), then 10000
    // (dod=−8192: must take the 17-bit bucket, NOT 14)
    val pts = Seq((0L, 0.0), (10000L, 0.0), (28192L, 0.0), (38192L, 0.0))
    val enc = PromXorChunk.encodeChunk(arr(pts), 0, 4)
    assert(sameBits(decodeChunk(enc), pts))
    // bit-level pin of the two control codes: after header+varint(0)=0x00+
    // f64(0)+uvarint(10000)=[90 4E]+'0' value bit, stream is:
    //   10 10000000000000 0   (dod=+8192 in 14 bits, value same)
    //   110 11110000000000000 0 (dod=−8192 in 17 bits: 131072−8192=0x1E000)
    val bits = enc.drop(13).flatMap(b =>
      (7 to 0 by -1).map(i => (b >> i) & 1)).mkString
    assert(bits.startsWith("0" + "10" + "10000000000000" + "0" +
      "110" + "11110000000000000" + "0"))
  }

  test("special values survive bit-exactly") {
    val pts = Seq((1000L, Double.NaN), (2000L, graft.functions.IsStale.StaleNaN),
      (3000L, Double.PositiveInfinity), (4000L, Double.NegativeInfinity),
      (5000L, -0.0), (6000L, 0.0))
    assert(sameBits(roundtrip(pts), pts))
  }

  test("property: random sorted series roundtrips bit-exactly") {
    val special = Seq(Double.NaN, graft.functions.IsStale.StaleNaN,
      Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0)
    val genV = Gen.oneOf(Gen.oneOf(special), Gen.chooseNum(-1e12, 1e12),
      Gen.chooseNum(-1.0, 1.0))
    val genD = Gen.oneOf(Gen.const(15000L), Gen.chooseNum(1L, 10000000L))
    val gen = for {
      n <- Gen.chooseNum(1, 300)
      t0 <- Gen.chooseNum(0L, 1800000000000L)
      ds <- Gen.listOfN(n - 1, genD)
      vs <- Gen.listOfN(n, genV)
    } yield ds.scanLeft(t0)(_ + _).zip(vs)
    val prop = Prop.forAll(gen) { pts => sameBits(roundtrip(pts), pts) }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  // ---------------------------------------------------------------- framing
  test("frame columns: 8h placement and concat roundtrip") {
    val day = 1704067200000L // 2024-01-01 UTC
    val pts = (0 until 24).map(h => (day + h * 3600000L + 7L, h.toDouble))
    val cols = PromXorChunk.encodeColumns(arr(pts))
    assert(cols.numElements() == 3)
    def dec(i: Int): Seq[(Long, Double)] = {
      val d = PromXorChunk.decodeFrames(cols.getBinary(i))
      (0 until d.numElements()).map { j =>
        val r = d.getStruct(j, 3); (r.getLong(0), r.getDouble(1))
      }
    }
    // hours 0-7 → col 0, 8-15 → col 1, 16-23 → col 2
    assert(dec(0).map(_._2) == (0 until 8).map(_.toDouble))
    assert(dec(1).map(_._2) == (8 until 16).map(_.toDouble))
    assert(dec(2).map(_._2) == (16 until 24).map(_.toDouble))
    assert(sameBits(dec(0) ++ dec(1) ++ dec(2), pts))
    // frame header of col 0: enc=1 u32, zigzag mint, zigzag maxt; 2h cut
    // ⇒ 4 frames in an 8h column at 1h cadence
    val b = cols.getBinary(0)
    assert(b.slice(0, 4).toSeq == Seq(0, 0, 0, 1).map(_.toByte))
    var off = 0; var frames = 0
    while (off < b.length) {
      val len = ((b(off + 20) & 0xFF) << 24) | ((b(off + 21) & 0xFF) << 16) |
        ((b(off + 22) & 0xFF) << 8) | (b(off + 23) & 0xFF)
      frames += 1; off += 24 + len
    }
    assert(frames == 4)
  }

  test("decodeFrames rejects unknown encodings loudly") {
    val bad = Array[Byte](0, 0, 0, 5) ++ new Array[Byte](20)
    val e = intercept[IllegalArgumentException](PromXorChunk.decodeFrames(bad))
    assert(e.getMessage.contains("unsupported chunk encoding 5"))
  }

  // ---------------------------------------------------- index + hash codecs
  test("pinned: label column index varint bytes (ref label_column_index.go)") {
    val flags = new GenericArrayData(Array[Any](true, false, true))
    // present columns 1 and 3: PutVarint(2)=04, PutVarint(1)=02, PutVarint(3)=06
    assert(PromXorChunk.encodeLabelIndex(flags).toSeq ==
      Seq(0x04, 0x02, 0x06).map(_.toByte))
    assert(PromXorChunk.decodeLabelIndex(Array(0x04, 0x02, 0x06).map(_.toByte))
      .toSeq == Seq(1, 3))
  }

  test("labels hash: XXH64 seed 0, 0xff-separated (no boundary collisions)") {
    def h(lbls: (String, String)*): Long =
      PromXorChunk.labelsHash(new GenericArrayData(
        lbls.map { case (n, v) => InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(n),
          org.apache.spark.unsafe.types.UTF8String.fromString(v))
        }.toArray[Any]))
    // XXH64("") seed 0 — the canonical test vector pins algorithm + seed
    assert(h() == 0xEF46DB3751D8E999L)
    // 0xff separators: moving a char across the name/value boundary differs
    assert(h("a" -> "bc") != h("ab" -> "c"))
    assert(h("a" -> "b", "c" -> "d") != h("a" -> "bc", "" -> "d"))
  }

  test("external labels hash: sorted key‖value, 0 when empty") {
    assert(ReferenceFormat.externalLabelsHash(Map.empty) == 0L)
    assert(ReferenceFormat.externalLabelsHash(Map("a" -> "1", "b" -> "2")) ==
      ReferenceFormat.externalLabelsHash(Map("b" -> "2", "a" -> "1")))
    assert(ReferenceFormat.externalLabelsHash(Map("a" -> "1")) !=
      ReferenceFormat.externalLabelsHash(Map("a" -> "2")))
  }

  test("meta.pb / stream.pb proto roundtrip") {
    val m = Map("cluster" -> "us-east", "replica" -> "a")
    assert(ReferenceFormat.parseStreamProto(ReferenceFormat.streamProto(m)) == m)
    // metaProto: varint fields in tag order — spot-pin a tiny message
    assert(ReferenceFormat.metaProto(1, 2, 1, 2).toSeq ==
      Seq(0x08, 0x01, 0x10, 0x02, 0x18, 0x01, 0x28, 0x02).map(_.toByte))
  }

  // ------------------------------------------------------- store roundtrip
  test("convertReference → selectReferenceStore roundtrips the samples") {
    import org.apache.spark.sql.functions._
    val events = graft.sources.Tables.normalizeTs(
      spark.read.parquet(s"${sf()}/events.parquet"))
    val samples = graft.model.TimeSeriesModel.samples(events)
    val out = java.nio.file.Files.createTempDirectory("graft-ref").toString
    val dates = ReferenceFormat.convertReference(spark, samples, out, numShards = 2)
    assert(dates.nonEmpty)

    // exact reference filenames: <hash=0>/<date>/<shard>.{labels,chunks}.parquet
    val d0 = dates.head
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/0/$d0/0.labels.parquet")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/0/$d0/1.chunks.parquet")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/$d0/meta.pb")))

    // labels file schema: index column + prefixed label columns, no chunks
    val lblSchema = spark.read.parquet(s"$out/0/$d0/0.labels.parquet").schema
    assert(lblSchema.fieldNames.contains("___cf_meta_index"))
    assert(lblSchema.fieldNames.contains("___cf_meta_label___name__"))
    assert(!lblSchema.fieldNames.exists(_.startsWith("___cf_meta_chunk")))

    val got = ReferenceFormat.selectReferenceStore(spark, out)
      .select(col("__name__"), col("uid"), col("ts_ms"), col("value"))
    val want = samples
      .groupBy(col("series_hash"), col("ts_ms"))
      .agg(min_by(struct(col("__name__"), col("uid"), col("value")), col("sample_id")).as("r"))
      .select(col("r.__name__"), col("r.uid"), col("ts_ms"), col("r.value"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("selectReferenceStore: matcher + day pruning, then PromQL off the bucket") {
    import org.apache.spark.sql.functions._
    import graft.promql.{MatchEq, MatchRe}
    val events = graft.sources.Tables.normalizeTs(
      spark.read.parquet(s"${sf()}/events.parquet"))
    val samples = graft.model.TimeSeriesModel.samples(events)
    val out = java.nio.file.Files.createTempDirectory("graft-refsel").toString
    ReferenceFormat.convertReference(spark, samples, out, numShards = 2)

    val t0 = 1704067200000L; val day = 86400000L
    val (lo, hi) = (t0 + 2 * day, t0 + 9 * day - 1)
    val got = ReferenceFormat.selectReferenceStore(spark, out,
        Seq(MatchEq("__name__", "purchase"), MatchRe("uid", "[0-4]")), lo, hi)
      .groupBy(col("uid")).agg(count(lit(1)).as("n"), graft.functions.Det.dsum(col("value")).as("s"))
    val want = samples
      .filter(col("__name__") === "purchase" && col("uid").rlike("^(?:[0-4])$") &&
        col("ts_ms").between(lo, hi))
      .groupBy(col("uid")).agg(count(lit(1)).as("n"), graft.functions.Det.dsum(col("value")).as("s"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty && got.count() > 0)

    // PromQL served straight off the reference bucket equals the engine
    // over the original samples frame
    val engBucket = new graft.api.PromEngine(
      new graft.sources.FrameStore(ReferenceFormat.selectReferenceStore(spark, out)),
      lookbackMs = day)
    val engRaw = new graft.api.PromEngine(new graft.sources.FrameStore(samples), lookbackMs = day)
    val q = """sum by (__name__) ({uid!=""})"""
    val ti = t0 + 14 * day
    def res(e: graft.api.PromEngine) =
      e.instantQuery(q, ti).map(s => s.labels("__name__") -> s.points.head._2).toMap
    val (a, b) = (res(engBucket), res(engRaw))
    assert(a.keySet == b.keySet && a.keySet.nonEmpty)
    a.keySet.foreach(k => assert(math.abs(a(k) - b(k)) < 1e-9, s"$k: ${a(k)} vs ${b(k)}"))
  }

  test("heterogeneous per-day schemas: merged labels schema spans every read") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t0 = 1704067200000L; val day = 86400000L
    def mk(rows: Seq[(String, String, Long, Double)], withB: Boolean) = {
      val df = rows.toDF("a", "b", "ts_ms", "value")
      (if (withB) df else df.drop("b"))
        .withColumn("sample_id", col("ts_ms"))
        .withColumn("series_hash", xxhash64(col("a")))
    }
    val out = java.nio.file.Files.createTempDirectory("graft-refhet").toString
    // day 1 carries labels {a,b}; day 2 only {a} — per-day schemas differ,
    // like a real bucket's per-shard data-driven schemas
    ReferenceFormat.convertReference(spark,
      mk(Seq(("s1", "y", t0 + 1000L, 1.0)), withB = true), out)
    ReferenceFormat.convertReference(spark,
      mk(Seq(("s1", "", t0 + day + 1000L, 2.0)), withB = false), out,
      days = Some(Seq("2024-01-02")))

    // full open: b reads null on day 2, not vanished
    val all = ReferenceFormat.selectReferenceStore(spark, out)
    assert(all.columns.contains("b") && all.count() == 2)
    assert(all.filter(col("b").isNull).count() == 1)

    // a day-2-bounded read still carries column b (imposed merged schema):
    // the matcher b="y" folds to FALSE by VALUE, not by AnalysisException,
    // and b="" matches the missing label
    import graft.promql.MatchEq
    val d2 = ReferenceFormat.selectReferenceStore(spark, out,
      Seq(MatchEq("b", "y")), t0 + day, t0 + 2 * day - 1)
    assert(d2.columns.contains("b") && d2.count() == 0)
    val d2b = ReferenceFormat.selectReferenceStore(spark, out,
      Seq(MatchEq("b", "")), t0 + day, t0 + 2 * day - 1)
    assert(d2b.count() == 1)
    // and the PromEngine metadata surface works on the bounded frame
    val eng = new graft.api.PromEngine(
      graft.sources.SeriesStore.reference(spark, out), lookbackMs = day)
    val (names, _) = (eng.labelNames(Nil, t0 + day, t0 + 2 * day - 1), ())
    assert(names.contains("a") && !names.contains("b"),
      s"day-2 label names must not claim b: $names")
    val (vals, _2) = eng.labelValues("b", Nil, t0, t0 + 2 * day - 1)
    assert(vals == Seq("y"))
  }

  test("range-aware source: queries bind only their AST-derived reach") {
    import org.apache.spark.sql.functions._
    import graft.promql.{Compiler, Parser}
    val t0 = 1704067200000L; val day = 86400000L
    // timeBounds: instant lookback, range windows, offsets (both signs),
    // @-pins, nested subqueries
    def tb(q: String, s: Long, e: Long) =
      Compiler.timeBounds(Parser.parse(q), s, e, lookbackMs = 300000L)
    assert(tb("m", t0, t0) == (t0 - 300000L, t0))
    assert(tb("rate(m[1h])", t0, t0 + day) == (t0 - 3600000L, t0 + day))
    assert(tb("m offset 1h", t0, t0) == (t0 - 3600000L - 300000L, t0 - 3600000L))
    assert(tb("m offset -1h", t0, t0) == (t0 + 3600000L - 300000L, t0 + 3600000L))
    assert(tb(s"rate(m[5m] @ ${t0 / 1000})", t0 + 30 * day, t0 + 30 * day) ==
      (t0 - 300000L, t0))
    assert(tb("max_over_time(rate(m[5m])[1h:1m])", t0, t0) ==
      (t0 - 3600000L - 300000L, t0))
    assert(tb("rate(m[1d]) / rate(m[2d] offset 1d)", t0 + 10 * day, t0 + 10 * day) ==
      (t0 + 7 * day, t0 + 10 * day))

    // a PromEngine with a recording range source must answer exactly like
    // the fixed-frame engine while binding only the derived interval
    val events = graft.sources.Tables.normalizeTs(
      spark.read.parquet(s"${sf()}/events.parquet"))
    val samples = graft.model.TimeSeriesModel.samples(events)
    var asked = List.empty[(Long, Long)]
    val src = (lo: Long, hi: Long) => {
      asked ::= (lo, hi)
      samples.filter(col("ts_ms").between(lo, hi))
    }
    val full = new graft.api.PromEngine(new graft.sources.FrameStore(samples), lookbackMs = day)
    val ranged = new graft.api.PromEngine(
      new graft.sources.FrameStore(samples, Some(src)), lookbackMs = day)
    val ti = t0 + 14 * day
    for (q <- Seq("sum by (__name__) ({uid!=\"\"})",
                  "rate({__name__=\"purchase\"}[2d])")) {
      val a = full.instantQuery(q, ti).map(s => s.labels -> s.points).toMap
      val b = ranged.instantQuery(q, ti).map(s => s.labels -> s.points).toMap
      assert(a == b && a.nonEmpty, q)
    }
    // the recorded bounds are the reach, not the whole retention
    assert(asked.contains((ti - day, ti)))      // instant: lookback
    assert(asked.contains((ti - 2 * day, ti))) // rate window
  }

  test("alignment survives separator-colliding label values; empty shards get pairs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // {a="x", b="yÿz"} and {a="xÿy", b="z"} concatenate identically under a
    // U+00FF-joined key — the total (per-column) sort key must keep each
    // series' chunks zipped to its own labels
    val t0 = 1704067200000L
    val rows = Seq(
      ("x", "yÿz", t0 + 1000L, 1.5), ("x", "yÿz", t0 + 2000L, 2.5),
      ("xÿy", "z", t0 + 1000L, 10.5), ("xÿy", "z", t0 + 2000L, 20.5))
    val samples = rows.toDF("a", "b", "ts_ms", "value")
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash", xxhash64(col("a"), col("b")))
    val out = java.nio.file.Files.createTempDirectory("graft-refcoll").toString
    // numShards > series count: some shards are empty, yet the gateway
    // opens every pair 0..shards-1 advertised by meta.pb
    ReferenceFormat.convertReference(spark, samples, out, numShards = 8)
    for (s <- 0 until 8) {
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$out/0/2024-01-01/$s.labels.parquet")), s"labels $s")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$out/0/2024-01-01/$s.chunks.parquet")), s"chunks $s")
    }
    val got = ReferenceFormat.selectReferenceStore(spark, out)
      .select("a", "b", "ts_ms", "value").as[(String, String, Long, Double)]
      .collect().toSet
    assert(got == rows.toSet, s"cross-zipped labels/chunks: $got")
  }

  test("per-day incremental conversion: day overwrite is idempotent and isolated") {
    import org.apache.spark.sql.functions._
    val t0 = 1704067200000L; val day = 86400000L
    val events = graft.sources.Tables.normalizeTs(
      spark.read.parquet(s"${sf()}/events.parquet"))
    val samples = graft.model.TimeSeriesModel.samples(events)
      .filter(col("ts_ms") < t0 + 2 * day)
    val (d1, d2) = ("2024-01-01", "2024-01-02")
    val out = java.nio.file.Files.createTempDirectory("graft-refdays").toString

    assert(ReferenceFormat.convertReference(spark, samples, out,
      days = Some(Seq(d1))) == Seq(d1))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/0/$d1/0.labels.parquet")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/0/$d2")))

    ReferenceFormat.convertReference(spark, samples, out, days = Some(Seq(d2)))
    val both = ReferenceFormat.selectReferenceStore(spark, out)
      .select("__name__", "uid", "ts_ms", "value").collect().toSet
    // re-delivery of day 1: same samples, same store — idempotent, and day 2
    // untouched
    ReferenceFormat.convertReference(spark, samples, out, days = Some(Seq(d1)))
    val after = ReferenceFormat.selectReferenceStore(spark, out)
      .select("__name__", "uid", "ts_ms", "value").collect().toSet
    assert(after == both && after.nonEmpty)
    // and the incremental result equals a one-shot conversion
    val once = java.nio.file.Files.createTempDirectory("graft-refonce").toString
    ReferenceFormat.convertReference(spark, samples, once)
    val oneShot = ReferenceFormat.selectReferenceStore(spark, once)
      .select("__name__", "uid", "ts_ms", "value").collect().toSet
    assert(oneShot == both)
  }

  test("schema V1 bucket (no ___cf_meta_hash): hash recomputed from labels") {
    import org.apache.spark.sql.functions._
    val events = graft.sources.Tables.normalizeTs(
      spark.read.parquet(s"${sf()}/events.parquet")).limit(800)
    val samples = graft.model.TimeSeriesModel.samples(events)
    val out = java.nio.file.Files.createTempDirectory("graft-refv1").toString
    ReferenceFormat.convertReference(spark, samples, out)
    val v2 = ReferenceFormat.selectReferenceStore(spark, out)
      .select("__name__", "uid", "ts_ms", "value", "series_hash").collect().toSet

    // strip the V2 hash column from every chunks file in place → a V1 bucket
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val chunkFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val todo = scala.collection.mutable.ArrayBuffer[String]()
    chunkFiles.forEachRemaining(p =>
      if (p.toString.endsWith(".chunks.parquet")) todo += p.toString)
    todo.foreach { f =>
      val df = spark.read.parquet(f).drop("___cf_meta_hash")
      val tmp = f + ".v1tmp"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      fs.delete(new org.apache.hadoop.fs.Path(f), false)
      fs.rename(part, new org.apache.hadoop.fs.Path(f))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    val v1 = ReferenceFormat.selectReferenceStore(spark, out)
      .select("__name__", "uid", "ts_ms", "value", "series_hash").collect().toSet
    // identical rows INCLUDING the hash: the recomputed Prometheus
    // labels.Hash equals the stored one byte-for-byte
    assert(v1 == v2 && v1.nonEmpty)
  }

  test("native-histogram chunks roundtrip through the reference bucket") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t0 = 1704067200000L
    // two series: "x" integral counts (enc 2) with a mid-day counter reset;
    // "y" fractional counts (enc 3); both spanning two 8h cells
    val rows = for { s <- Seq("x", "y"); k <- 0 until 12 } yield (s, k)
    val base = rows.toDF("svc", "k")
      .withColumn("ts_ms", lit(t0) + col("k") * lit(3600000L))
    val cnt = when(col("svc") === "x",
        when(col("k") < 6, col("k") + 10).otherwise(col("k") - 3).cast("double"))
      .otherwise(col("k") * 1.0 + 10.5)
    val emptyB = array().cast("array<struct<idx:int,c:double>>")
    val samples = base.select(
      col("svc"), col("ts_ms"), cnt.as("value"), col("ts_ms").as("sample_id"),
      xxhash64(col("svc")).as("series_hash"),
      struct(cnt.as("cnt"), (col("k") * 1.25).as("hsum"),
        lit(0).as("sch"), lit(0.001953125).as("zthr"),
        lit(1.0).as("zcnt"),
        array(struct(lit(0).as("idx"), cnt.as("c")),
          struct(lit(3).as("idx"), (cnt + 1.0).as("c"))).as("pos"),
        emptyB.as("neg"), lit(null).cast("array<double>").as("cb")).as("h"))
    val out = java.nio.file.Files.createTempDirectory("graft-refnh").toString
    ReferenceFormat.convertReference(spark, samples, out, numShards = 2)

    // frames carry enc 2 AND enc 3 on disk (mixed bucket)
    val chunkBytes = spark.read
      .parquet(s"$out/0/2024-01-01/0.chunks.parquet", s"$out/0/2024-01-01/1.chunks.parquet")
      .select("___cf_meta_chunk_0").collect()
      .flatMap(r => Option(r.getAs[Array[Byte]](0))).filter(_.nonEmpty)
    val encs = chunkBytes.flatMap { b =>
      var off = 0; val tags = scala.collection.mutable.ArrayBuffer[Int]()
      while (off < b.length) {
        tags += ((b(off) & 0xFF) << 24 | (b(off + 1) & 0xFF) << 16 |
          (b(off + 2) & 0xFF) << 8 | (b(off + 3) & 0xFF))
        val len = (b(off + 20) & 0xFF) << 24 | (b(off + 21) & 0xFF) << 16 |
          (b(off + 22) & 0xFF) << 8 | (b(off + 23) & 0xFF)
        off += 24 + len
      }
      tags
    }.toSet
    assert(encs == Set(2, 3), s"expected mixed enc 2/3 frames, got $encs")

    val got = ReferenceFormat.selectReferenceStore(spark, out)
      .select(col("svc"), col("ts_ms"), col("value"),
        col("h.cnt"), col("h.hsum"), col("h.sch"), col("h.zthr"), col("h.zcnt"),
        col("h.pos"), col("h.neg"))
    val want = samples
      .select(col("svc"), col("ts_ms"), col("value"),
        col("h.cnt"), col("h.hsum"), col("h.sch"), col("h.zthr"), col("h.zcnt"),
        col("h.pos"), col("h.neg"))
    assert(got.count() == 24)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "histogram fields must roundtrip exactly through the reference bucket")

    // time-bounded select decodes only in-range histogram samples
    val sub = ReferenceFormat.selectReferenceStore(spark, out,
      Nil, t0 + 2 * 3600000L, t0 + 4 * 3600000L)
    assert(sub.count() == 6 && sub.filter(col("h").isNull).count() == 0)
  }

  test("bucket-meta sidecar: schema without footer reads; seeded rebuild; foreign fallback") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t0 = 1704067200000L; val day = 86400000L
    def mk(rows: Seq[(String, String, Long, Double)], withB: Boolean) = {
      val df = rows.toDF("a", "b", "ts_ms", "value")
      (if (withB) df else df.drop("b"))
        .withColumn("sample_id", col("ts_ms"))
        .withColumn("series_hash", xxhash64(col("a")))
    }
    val out = java.nio.file.Files.createTempDirectory("graft-refside").toString
    ReferenceFormat.convertReference(spark,
      mk(Seq(("s1", "y", t0 + 1000L, 1.0)), withB = true), out)
    ReferenceFormat.convertReference(spark,
      mk(Seq(("s1", "", t0 + day + 1000L, 2.0)), withB = false), out,
      days = Some(Seq("2024-01-02")))
    val sidecar = java.nio.file.Paths.get(s"$out/_graft_bucket_meta.json")
    assert(java.nio.file.Files.isRegularFile(sidecar))

    val labelFields = Set("___cf_meta_index", "___cf_meta_label_a", "___cf_meta_label_b")
    val mSide = ReferenceFormat.bucketMeta(spark, out)
    assert(mSide.labelsSchema.fieldNames.toSet == labelFields)

    // fallback (sidecar gone = foreign bucket): footer union, same fields
    java.nio.file.Files.delete(sidecar)
    val mMerge = ReferenceFormat.bucketMeta(spark, out)
    assert(mMerge.labelsSchema.fieldNames.toSet == labelFields)

    // an incremental convert re-stamps the sidecar SEEDED from the footer
    // union — day 3 carries only {a}, yet b survives in the sidecar
    ReferenceFormat.convertReference(spark,
      mk(Seq(("s1", "", t0 + 2 * day + 1000L, 3.0)), withB = false), out,
      days = Some(Seq("2024-01-03")))
    assert(ReferenceFormat.bucketMeta(spark, out)
      .labelsSchema.fieldNames.toSet == labelFields)

    // staleness guard: a FOREIGN writer dropping a new day (with a label
    // column the sidecar has never seen) after the stamp must demote the
    // sidecar to the footer union — the imposed schema would otherwise
    // silently read label c as absent everywhere
    val foreignDf = Seq(("s9", "zz")).toDF("a", "c")
      .select(lit(Array[Byte](2, 1, 2)).as("___cf_meta_index"),
        col("a").as("___cf_meta_label_a"), col("c").as("___cf_meta_label_c"))
    val ftmp = java.nio.file.Files.createTempDirectory("graft-foreign").toString
    foreignDf.coalesce(1).write.mode("overwrite").parquet(ftmp)
    val part = {
      var found: java.nio.file.Path = null
      java.nio.file.Files.list(java.nio.file.Paths.get(ftmp)).iterator()
        .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .forEachRemaining(p => if (p.toString.endsWith(".parquet")) found = p)
      found
    }
    val fday = java.nio.file.Paths.get(s"$out/0/2024-01-04")
    java.nio.file.Files.createDirectories(fday)
    java.nio.file.Files.copy(part, fday.resolve("0.labels.parquet"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$out/2024-01-04"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$out/2024-01-02/meta.pb"),
      java.nio.file.Paths.get(s"$out/2024-01-04/meta.pb"))
    assert(ReferenceFormat.bucketMeta(spark, out)
      .labelsSchema.fieldNames.toSet == (labelFields + "___cf_meta_label_c"))
    // remove the foreign day: everything left predates the stamp again
    org.apache.commons.io.FileUtils.deleteDirectory(fday.toFile)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$out/2024-01-04/meta.pb"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$out/2024-01-04"))

    // the FRESH sidecar path reads NO parquet footer: corrupt every labels
    // file in place (mtimes pinned back before the stamp, so the guard
    // still sees an untouched bucket); bucketMeta must produce the full
    // schema from the JSON alone
    val stamp = java.nio.file.Files.getLastModifiedTime(sidecar)
    val older = java.nio.file.attribute.FileTime.fromMillis(
      stamp.toMillis - 60000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      .forEachRemaining { p =>
        if (p.toString.endsWith(".labels.parquet")) {
          java.nio.file.Files.write(p, Array[Byte](1, 2, 3))
          java.nio.file.Files.setLastModifiedTime(p, older)
        }
      }
    assert(ReferenceFormat.bucketMeta(spark, out)
      .labelsSchema.fieldNames.toSet == labelFields)
  }

  test("NHCB histograms roundtrip through the reference bucket (enc 2 custom values)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val day = 1704067200000L
    val df = Seq((day + 1000L, 4.0, 2.0), (day + 2000L, 7.0, 4.0), (day + 3000L, 9.0, 5.0))
      .toDF("ts_ms", "cnt", "b0")
      .select(lit("lat").as("__name__"), col("ts_ms"), col("cnt").as("value"),
        col("ts_ms").as("sample_id"), xxhash64(lit("lat")).as("series_hash"),
        struct(col("cnt").as("cnt"), (col("cnt") * 0.5).as("hsum"),
          lit(-53).as("sch"), lit(0.0).as("zthr"), lit(0.0).as("zcnt"),
          array(struct(lit(0).as("idx"), col("b0").as("c")),
            struct(lit(3).as("idx"), (col("cnt") - col("b0")).as("c"))).as("pos"),
          array().cast("array<struct<idx:int,c:double>>").as("neg"),
          array(lit(0.5), lit(1.0), lit(5.0)).as("cb")).as("h"))
    val out = java.nio.file.Files.createTempDirectory("graft-refnhcb").toString
    ReferenceFormat.convertReference(spark, df, out)
    val got = ReferenceFormat.selectReferenceStore(spark, out)
      .orderBy("ts_ms").collect()
    assert(got.length == 3)
    got.zip(Seq((4.0, 2.0), (7.0, 4.0), (9.0, 5.0))).foreach { case (r, (cnt, b0)) =>
      val h = r.getStruct(r.fieldIndex("h"))
      assert(h.getAs[Int]("sch") == -53)
      assert(h.getAs[Double]("cnt") == cnt)
      assert(h.getAs[scala.collection.Seq[Double]]("cb").toSeq == Seq(0.5, 1.0, 5.0))
      val pos = h.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("pos")
        .map(b => (b.getAs[Int]("idx"), b.getAs[Double]("c"))).toSeq
      assert(pos == Seq((0, b0), (3, cnt - b0)))
    }
  }

  test("reference label_values/names: labels files only — chunks files can be gone") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val day = 1704067200000L
    val D = 86400000L
    val df = Seq(
      ("a", "x", day + 1000L, 1.0),
      ("b", "", day + 2000L, 2.0),          // empty ≡ missing: never a value
      ("b", "y", day + D + 1000L, 3.0))     // env=y exists only on day 2
      .toDF("svc", "env", "ts_ms", "value")
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash", xxhash64(col("svc"), col("env")))
    val out = java.nio.file.Files.createTempDirectory("graft-reflvn").toString
    ReferenceFormat.convertReference(spark, df, out,
      externalLabels = Map("cluster" -> "us"), numShards = 1)

    // the store's label paths read labels files ONLY (the reference's
    // no-constraint shortcut, search/search.go:173-201, is block-granular
    // the same way): delete every chunks file — if any path touched one,
    // it would throw
    java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      .forEachRemaining { p =>
        if (p.toString.endsWith(".chunks.parquet")) java.nio.file.Files.delete(p)
      }

    val store = graft.sources.SeriesStore.reference(spark, out)
    assert(store.labelValues("svc") == Seq("a", "b"))
    assert(store.labelValues("env") == Seq("x", "y"))
    // stream ext label folds in; file labels + ext labels in the name set
    assert(store.labelValues("cluster") == Seq("us"))
    assert(store.labelNames() == Seq("cluster", "env", "svc"))
    // day-granular interval pruning: day 1 never sees env=y
    assert(store.labelValues("env", Nil, day, day + D - 1) == Seq("x"))
    assert(store.labelValues("env", Nil, day + D, day + 2 * D - 1) == Seq("y"))
    // series and label names read the stored env="" of svc=b as absent too
    val onB = Seq(Seq(graft.promql.MatchEq("svc", "b")))
    assert(store.series(onB, day, day + D - 1) == Seq(Map("svc" -> "b", "cluster" -> "us")))
    assert(store.labelNames(onB, day, day + D - 1) == Seq("cluster", "svc"))
  }

  test("engine label introspection off a reference bucket reads labels files, day-granular") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.promql.MatchEq
    val day = 1704067200000L
    val D = 86400000L
    val df = Seq(
      ("x", "a", "p", day + 1000L, 1.0),
      ("x", "b", "q", day + 2000L, 2.0),
      ("y", "a", null, day + D + 1000L, 3.0))
      .toDF("__name__", "svc", "env", "ts_ms", "value")
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash", xxhash64(col("__name__"), col("svc"), col("env")))
    val out = java.nio.file.Files.createTempDirectory("graft-refintro").toString
    ReferenceFormat.convertReference(spark, df, out, numShards = 1)
    val store = graft.sources.SeriesStore.reference(spark, out)
    val bucket = new graft.api.PromEngine(store)
    val raw = new graft.api.PromEngine(new graft.sources.FrameStore(df))

    // whole days: the same answers as the raw frame
    val (lo, hi) = (day, day + 2 * D - 1)
    val onX = Seq(MatchEq("__name__", "x"))
    assert(bucket.labelNames(Nil, lo, hi) == raw.labelNames(Nil, lo, hi))
    assert(bucket.labelNames(onX, lo, hi) == raw.labelNames(onX, lo, hi))
    assert(bucket.labelValues("svc", onX, lo, hi) == raw.labelValues("svc", onX, lo, hi))
    assert(bucket.labelValues("env", Nil, lo, hi, limit = 1) ==
      raw.labelValues("env", Nil, lo, hi, limit = 1))
    assert(bucket.series(Seq(onX), lo, hi) == raw.series(Seq(onX), lo, hi))

    // day granularity, as the reference answers from the in-range days'
    // labels files: y's day counts in a window holding none of its samples
    val (wLo, wHi) = (day + D + 3600000L, day + D + 7200000L)
    assert(bucket.labelValues("__name__", Nil, wLo, wHi)._1 == Seq("y"))
    assert(raw.labelValues("__name__", Nil, wLo, wHi)._1.isEmpty)
    // the series side reads labels files only; an empty interval has none
    val side = ReferenceFormat.seriesSide(store.select(lo, hi))
    assert(side.exists(_.inputFiles.forall(_.endsWith(".labels.parquet"))))
    assert(ReferenceFormat.seriesSide(store.select(day + 9 * D, day + 10 * D)).isEmpty)
    assert(bucket.labelValues("__name__", Nil, day + 9 * D, day + 10 * D)._1.isEmpty)
  }

  test("bucket label calls bind their select frame once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.promql.MatchEq
    val day = 1704067200000L
    val D = 86400000L
    val df = Seq(("x", "a", day + 1000L, 1.0), ("y", "b", day + 2000L, 2.0))
      .toDF("__name__", "svc", "ts_ms", "value")
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash", xxhash64(col("__name__"), col("svc")))
    val out = java.nio.file.Files.createTempDirectory("graft-refbind").toString
    ReferenceFormat.convertReference(spark, df, out, numShards = 1)
    val meta = Some(ReferenceFormat.bucketMeta(spark, out))
    val binds = new java.util.concurrent.atomic.AtomicInteger()
    val store = new graft.sources.FrameStore(
      ReferenceFormat.selectReferenceStore(spark, out, meta = meta),
      Some { (lo: Long, hi: Long) =>
        binds.incrementAndGet()
        ReferenceFormat.selectReferenceStore(spark, out, Nil, lo, hi, meta = meta)
      })
    val (lo, hi) = (day, day + D - 1)
    val onX = Seq(Seq(MatchEq("__name__", "x")))
    for ((call, answer) <- Seq[(String, () => Seq[Any])](
      "labelNames" -> (() => store.labelNames(Nil, lo, hi)),
      "labelNames{x}" -> (() => store.labelNames(onX, lo, hi)),
      "labelValues" -> (() => store.labelValues("svc", Nil, lo, hi)),
      "labelValues{x}" -> (() => store.labelValues("svc", onX, lo, hi)),
      "series" -> (() => store.series(Nil, lo, hi)),
      "series{x}" -> (() => store.series(onX, lo, hi)))) {
      val b0 = binds.get()
      assert(answer().nonEmpty, call)
      assert(binds.get() - b0 == 1, s"$call bound ${binds.get() - b0} select frames")
    }
  }

  test("bug-compatible: foreign boundary-spanning chunk invisible to cell-pruned reads") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val day = 1704067200000L
    val h = 3600000L
    // own store with one series, sample in hour 7 → structure with cell 0
    val out = java.nio.file.Files.createTempDirectory("graft-refspan").toString
    val seed = Seq(("a", day + 7 * h, 1.0)).toDF("svc", "ts_ms", "value")
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash", xxhash64(col("svc")))
    ReferenceFormat.convertReference(spark, seed, out)

    // foreign-style chunk: the Go converter places a chunk by MinTime
    // (convert/chunks.go:53-55), so a chunk STARTING in hour 7 lands whole
    // in cell 0 even when it runs into hour 8 — our own writer would have
    // cut it at the window boundary instead
    val pts = Seq((day + 7 * h + 1000L, 7.5), (day + 8 * h + 1000L, 8.5))
    val chunk = PromXorChunk.encodeChunk(arr(pts), 0, 2)
    val frame = java.nio.ByteBuffer.allocate(24 + chunk.length)
    frame.putInt(1) // enc XOR
    frame.putLong(PromXorChunk.zigzag(day + 7 * h + 1000L))
    frame.putLong(PromXorChunk.zigzag(day + 8 * h + 1000L))
    frame.putInt(chunk.length)
    frame.put(chunk)
    val chunksPath = s"$out/0/2024-01-01/0.chunks.parquet"
    val hash = spark.read.parquet(chunksPath).select("___cf_meta_hash").head.getLong(0)
    val tmp = java.nio.file.Files.createTempDirectory("graft-refspan-tmp").toString
    Seq((hash, frame.array(), Array.empty[Byte], Array.empty[Byte]))
      .toDF("___cf_meta_hash", "___cf_meta_chunk_0", "___cf_meta_chunk_1",
        "___cf_meta_chunk_2")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = {
      var found: java.nio.file.Path = null
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).iterator()
        .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .forEachRemaining(p => if (p.toString.endsWith(".parquet")) found = p)
      found
    }
    java.nio.file.Files.copy(part, java.nio.file.Paths.get(chunksPath),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the Hadoop LocalFileSystem checksum sidecar the nio copy bypassed
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$out/0/2024-01-01/.0.chunks.parquet.crc"))

    // an interval inside hour 8 selects cell 1 only (ChunkColumnIndex,
    // search/materialize.go:317-333): the spanning chunk in cell 0 is
    // INVISIBLE — the reference misses these samples identically, and this
    // pin keeps the engines bug-compatible rather than "fixed" on one side
    assert(ReferenceFormat.selectReferenceStore(spark, out,
      Nil, day + 8 * h, day + 9 * h).count() == 0)
    // an interval touching hour 7 reads cell 0: both samples serve
    val both = ReferenceFormat.selectReferenceStore(spark, out,
      Nil, day + 7 * h, day + 9 * h)
    assert(both.select("ts_ms", "value").orderBy("ts_ms").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((day + 7 * h + 1000L, 7.5), (day + 8 * h + 1000L, 8.5)))

    // an OWN-writer bucket never hits this: encodeColumns cuts at the 8h
    // boundary, so the same two samples convert into separate cells and the
    // hour-8 interval serves the hour-8 sample
    val out2 = java.nio.file.Files.createTempDirectory("graft-refspan2").toString
    val own = Seq(("a", day + 7 * h + 1000L, 7.5), ("a", day + 8 * h + 1000L, 8.5))
      .toDF("svc", "ts_ms", "value")
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash", xxhash64(col("svc")))
    ReferenceFormat.convertReference(spark, own, out2)
    assert(ReferenceFormat.selectReferenceStore(spark, out2,
      Nil, day + 8 * h, day + 9 * h).count() == 1)
  }

  test("chunk-cell projection: a sub-8h query scans one chunk column") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t0 = 1704067200000L
    val samples = (0 until 24).map(h => ("svc1", t0 + h * 3600000L, h.toDouble))
      .toDF("svc", "ts_ms", "value")
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash", xxhash64(col("svc")))
    val out = java.nio.file.Files.createTempDirectory("graft-refcell").toString
    ReferenceFormat.convertReference(spark, samples, out)

    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansOf(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case q: QueryStageExec        => scansOf(q.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case _ => (p.children ++ p.subqueries).flatMap(scansOf)
      }
    def chunkColsRead(df: org.apache.spark.sql.DataFrame): Set[String] = {
      df.collect()
      scansOf(df.queryExecution.executedPlan)
        .flatMap(_.requiredSchema.fieldNames)
        .filter(_.startsWith("___cf_meta_chunk")).toSet
    }

    // hours 9–10 live in cell 1 (chunk starts 8h–16h); only that column scans
    val sub = ReferenceFormat.selectReferenceStore(spark, out,
      Nil, t0 + 9 * 3600000L, t0 + 10 * 3600000L)
    assert(sub.count() == 2)
    assert(chunkColsRead(sub) == Set("___cf_meta_chunk_1"))

    // a full-day query still reads all three cells
    val full = ReferenceFormat.selectReferenceStore(spark, out,
      Nil, t0, t0 + 86400000L - 1)
    assert(full.count() == 24)
    assert(chunkColsRead(full) ==
      Set("___cf_meta_chunk_0", "___cf_meta_chunk_1", "___cf_meta_chunk_2"))
  }

  private val histT0 = 1704067200000L

  /** Two cumulative (counter) native histogram series `m{svc}`, hourly
    * over a day — enc 2 chunks in a bucket. */
  private def nativeHistSamples(): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = for { s <- Seq("x", "y"); k <- 0 until 24 } yield (s, k)
    val base = rows.toDF("svc", "k")
      .withColumn("ts_ms", lit(histT0) + col("k") * lit(3600000L))
    val mult = when(col("svc") === "x", 2.0).otherwise(5.0)
    val cnt = (col("k") + 1) * mult
    val emptyB = array().cast("array<struct<idx:int,c:double>>")
    base.select(
      lit("m").as("__name__"), col("svc"), col("ts_ms"), cnt.as("value"),
      col("ts_ms").as("sample_id"),
      xxhash64(lit("m"), col("svc")).as("series_hash"),
      struct(cnt.as("cnt"), (cnt * 3.5).as("hsum"),
        lit(0).as("sch"), lit(0.001953125).as("zthr"), lit(0.0).as("zcnt"),
        array(struct(lit(1).as("idx"), cnt.as("c"))).as("pos"),
        emptyB.as("neg"), lit(null).cast("array<double>").as("cb")).as("h"))
  }

  /** Classic `req_seconds_bucket{job, le}` series, per minute for 4 h:
    * cumulative per-minute increments 2, 6, 9.5, 10 across the le bounds
    * (×3 for db), so the 0.9 rank interpolates inside (0.5, 1]. */
  private def classicBucketSamples(): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val les = Seq("0.1", "0.5", "1", "+Inf")
    val rows = for { job <- Seq("api", "db"); (le, i) <- les.zipWithIndex
                     k <- 0 until 240 } yield (job, le, i, k)
    rows.toDF("job", "le", "i", "k")
      .select(lit("req_seconds_bucket").as("__name__"), col("job"), col("le"),
        (lit(histT0) + col("k") * lit(60000L)).as("ts_ms"),
        (col("k") * element_at(typedLit(Seq(2.0, 6.0, 9.5, 10.0)), col("i") + 1) *
          when(col("job") === "api", 1.0).otherwise(3.0)).as("value"))
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash", xxhash64(col("__name__"), col("job"), col("le")))
  }

  private def sameSeries(q: String, a: Seq[graft.api.PromEngine.Series],
                         b: Seq[graft.api.PromEngine.Series]): Unit = {
    val (ma, mb) = (a.map(s => s.labels -> s.points).toMap,
                    b.map(s => s.labels -> s.points).toMap)
    assert(ma.keySet == mb.keySet && ma.nonEmpty, s"$q: ${ma.keySet} vs ${mb.keySet}")
    ma.keySet.foreach { k =>
      val (pa, pb) = (ma(k), mb(k))
      assert(pa.map(_._1) == pb.map(_._1), s"$q/$k timestamps")
      pa.zip(pb).foreach { case ((_, va), (_, vb)) =>
        assert(va == vb || math.abs(va - vb) < 1e-9, s"$q/$k: $va vs $vb") }
    }
  }

  test("PromQL histogram functions served off a reference bucket match the raw frame") {
    val t0 = histT0
    // rate()/histogram_count/sum route through the real compiler path on
    // BOTH engines
    val samples = nativeHistSamples()
    val out = java.nio.file.Files.createTempDirectory("graft-refnhq").toString
    ReferenceFormat.convertReference(spark, samples, out, numShards = 2)

    val engBucket = new graft.api.PromEngine(
      graft.sources.SeriesStore.reference(spark, out), lookbackMs = 3600000L)
    val engRaw = new graft.api.PromEngine(new graft.sources.FrameStore(samples), lookbackMs = 3600000L)
    val ti = t0 + 20 * 3600000L
    for (q <- Seq("histogram_count(rate(m[4h]))", "histogram_sum(rate(m[4h]))",
                  "histogram_quantile(0.9, sum by (svc) (rate(m[4h])))"))
      sameSeries(q, engBucket.instantQuery(q, ti), engRaw.instantQuery(q, ti))
  }

  test("classic-bucket histogram_quantile off a reference bucket matches the raw frame") {
    val t0 = histT0
    // classic `le` buckets only: the float-only bucket serves without `h`;
    // without its markers (a foreign bucket) it carries `h` all null,
    // which must not trip the native quantile's bucket walk over empty
    // arrays
    val samples = classicBucketSamples()
    val out = java.nio.file.Files.createTempDirectory("graft-refclassic").toString
    ReferenceFormat.convertReference(spark, samples, out, numShards = 2)
    val engBucket = new graft.api.PromEngine(
      graft.sources.SeriesStore.reference(spark, out), lookbackMs = 3600000L)
    val engRaw = new graft.api.PromEngine(new graft.sources.FrameStore(samples), lookbackMs = 3600000L)
    val q = "histogram_quantile(0.9, sum by (le, job) (rate(req_seconds_bucket[5m])))"
    val (ti, end) = (t0 + 2 * 3600000L, t0 + 3 * 3600000L)
    def norm(ss: Seq[graft.api.PromEngine.Series]) =
      ss.map(s => s.labels -> s.points).toMap
    val want = norm(engRaw.instantQuery(q, ti))
    assert(want.size == 2 && want.values.forall(_.nonEmpty))
    assert(norm(engBucket.instantQuery(q, ti)) == want)
    assert(norm(engBucket.rangeQuery(q, ti, end, 600000L)) ==
      norm(engRaw.rangeQuery(q, ti, end, 600000L)))
    dropFloatOnlyMarkers(out)
    assert(norm(engBucket.instantQuery(q, ti)) == want)
  }

  test("native and classic histograms in one reference bucket: each quantile takes its own path") {
    val native = nativeHistSamples()
    val classic = classicBucketSamples()
    val out = java.nio.file.Files.createTempDirectory("graft-refmixedh").toString
    ReferenceFormat.convertReference(spark,
      native.unionByName(classic, allowMissingColumns = true), out, numShards = 2)
    def eng(store: graft.sources.SeriesStore) =
      new graft.api.PromEngine(store, lookbackMs = 3600000L)
    val engBucket = eng(graft.sources.SeriesStore.reference(spark, out))
    val (engNative, engClassic) =
      (eng(new graft.sources.FrameStore(native)), eng(new graft.sources.FrameStore(classic)))
    // native queries grouping away `le` answer as over the native series
    // alone — the bucket's `le` column must not pull in a classic side
    val tn = histT0 + 20 * 3600000L
    for (q <- Seq("histogram_quantile(0.9, sum by (svc) (rate(m[4h])))",
                  "histogram_quantile(0.9, sum(rate(m[4h])))"))
      sameSeries(q, engBucket.instantQuery(q, tn), engNative.instantQuery(q, tn))
    // the classic query over the same bucket matches the classic frame
    val q = "histogram_quantile(0.9, sum by (le, job) (rate(req_seconds_bucket[5m])))"
    val (tc, end) = (histT0 + 2 * 3600000L, histT0 + 3 * 3600000L)
    sameSeries(q, engBucket.instantQuery(q, tc), engClassic.instantQuery(q, tc))
    sameSeries(q, engBucket.rangeQuery(q, tc, end, 600000L),
      engClassic.rangeQuery(q, tc, end, 600000L))
  }

  /** Float counter `x{l}`, two series per minute over the first 4 h of the
    * histogram fixture's day: no `h` column, the float-only raw shape. */
  private def floatSamples(): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = for { l <- Seq("a", "b"); k <- 0 until 240 } yield (l, k)
    rows.toDF("l", "k")
      .select(lit("x").as("__name__"), col("l"),
        (lit(histT0) + col("k") * lit(60000L)).as("ts_ms"),
        (col("k") * when(col("l") === "a", 1.5).otherwise(2.0) + 1.0).as("value"))
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash", xxhash64(col("__name__"), col("l")))
  }

  private def markerOf(out: String, date: String): java.nio.file.Path =
    java.nio.file.Paths.get(s"$out/0/$date/${ReferenceFormat.FloatOnlyMarker}")

  /** A bucket as older code or the Go converter leaves it: no markers. */
  private def dropFloatOnlyMarkers(out: String): Unit = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
    try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]].forEachRemaining { p =>
      if (p.getFileName.toString.contains(ReferenceFormat.FloatOnlyMarker))
        java.nio.file.Files.delete(p)
    } finally s.close()
  }

  test("float-only marker: written per float day, dropped by a histogram re-convert or a newer parquet") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    val D = 86400000L
    val (d1, d2) = ("2024-01-01", "2024-01-02")
    val hist2 = nativeHistSamples().withColumn("ts_ms", col("ts_ms") + D)
      .withColumn("sample_id", col("ts_ms"))
    val out = Files.createTempDirectory("graft-reffloat").toString
    ReferenceFormat.convertReference(spark,
      floatSamples().unionByName(hist2, allowMissingColumns = true), out)
    assert(Files.size(markerOf(out, d1)) == 0 && !Files.exists(markerOf(out, d2)))
    def hasH(lo: Long, hi: Long): Boolean =
      ReferenceFormat.selectReferenceStore(spark, out, Nil, lo, hi).columns.contains("h")
    val (day1, day2) = ((histT0, histT0 + D - 1), (histT0 + D, histT0 + 2 * D - 1))
    assert(!hasH(day1._1, day1._2), "a float-only day reads without h")
    assert(hasH(day2._1, day2._2), "a histogram day keeps h")
    assert(hasH(day1._1, day2._2), "a range spanning both kinds keeps h")

    // a parquet file newer than the marker (a foreign upload into the day)
    // demotes it; one no newer than it leaves the proof standing
    val stamp = Files.getLastModifiedTime(markerOf(out, d1)).toMillis
    val chunks = java.nio.file.Paths.get(s"$out/0/$d1/0.chunks.parquet")
    Files.setLastModifiedTime(chunks, java.nio.file.attribute.FileTime.fromMillis(stamp + 60000L))
    assert(hasH(day1._1, day1._2))
    Files.setLastModifiedTime(chunks, java.nio.file.attribute.FileTime.fromMillis(stamp))
    assert(!hasH(day1._1, day1._2))

    // re-converting the float day with histogram samples removes its marker
    ReferenceFormat.convertReference(spark, nativeHistSamples(), out, days = Some(Seq(d1)))
    assert(!Files.exists(markerOf(out, d1)) && hasH(day1._1, day1._2))
  }

  test("float-only bucket: plain float plan, raw-frame answers, no FileStreamSink warnings") {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Intersect, Join}
    import graft.promql.{Compiler, Parser}
    val samples = floatSamples()
    val out = java.nio.file.Files.createTempDirectory("graft-reffloatq").toString
    ReferenceFormat.convertReference(spark, samples, out)
    val store = graft.sources.SeriesStore.reference(spark, out)
    val engBucket = new graft.api.PromEngine(store, lookbackMs = 3600000L)
    val engRaw = new graft.api.PromEngine(new graft.sources.FrameStore(samples), lookbackMs = 3600000L)
    val ti = histT0 + 3 * 3600000L
    val rate = "sum by (l) (rate(x[5m]))"

    // every WARN of Spark's FileStreamSink metadata probe while querying
    val sinkWarnings = new java.util.concurrent.atomic.AtomicInteger
    val appender = new AbstractAppender("sink-warnings", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("FileStreamSink") && e.getLevel == Level.WARN)
          sinkWarnings.incrementAndGet()
    }
    appender.start()
    val logCtx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    logCtx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    logCtx.updateLoggers()
    try {
      for (q <- Seq("avg(x)", rate, "x"))
        sameSeries(q, engBucket.instantQuery(q, ti), engRaw.instantQuery(q, ti))
    } finally {
      logCtx.getConfiguration.getRootLogger.removeAppender("sink-warnings")
      logCtx.updateLoggers()
      appender.stop()
    }
    assert(sinkWarnings.get == 0, "bucket reads must name files, not globs")

    // the served plan is the plain float one: no histogram side, no
    // mixed-type intersect, no anti-joins
    val ast = Parser.parse(rate)
    val (lo, hi) = Compiler.timeBounds(ast, ti, ti, 3600000L)
    val (df, mixed) = Compiler.compileServingAnnotated(ast, Compiler.Ctx(
      store.select(lo, hi, Compiler.selectorMatcherSets(ast)), ti, ti, 1000L, 3600000L))
    // (the optimizer rewrites an Intersect into a semi join, so look for
    // it before optimization)
    val qe = df.queryExecution
    assert(qe.analyzed.collect { case i: Intersect => i }.isEmpty, qe.analyzed.toString)
    assert(qe.optimizedPlan.collect { case j: Join if j.joinType == LeftAnti => j }.isEmpty,
      qe.optimizedPlan.toString)
    assert(mixed.isEmpty)

    // without markers (older code, the Go converter) the bucket keeps h;
    // the classic-bucket test above checks answers in that shape
    dropFloatOnlyMarkers(out)
    assert(store.select(lo, hi).columns.contains("h"))
  }

  test("mixed V1/V2 shards in one bucket: one series identity at query granularity") {
    import org.apache.spark.sql.functions._
    import graft.promql.MatchEq
    val t0 = 1704067200000L; val day = 86400000L
    val events = graft.sources.Tables.normalizeTs(
      spark.read.parquet(s"${sf()}/events.parquet"))
    val samples = graft.model.TimeSeriesModel.samples(events)
      .filter(col("ts_ms") < t0 + 2 * day)
    val out = java.nio.file.Files.createTempDirectory("graft-refmix").toString
    ReferenceFormat.convertReference(spark, samples, out, numShards = 2)
    val pure = ReferenceFormat.selectReferenceStore(spark, out,
        Seq(MatchEq("__name__", "purchase")), t0, t0 + 2 * day - 1)
      .select("uid", "ts_ms", "value", "series_hash").collect().toSet

    // strip ___cf_meta_hash from DAY 1's chunks files only → V1 day beside
    // a V2 day in one bucket (schema/schema.go:38-49 version skew)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    for (s <- 0 until 2) {
      val f = s"$out/0/2024-01-01/$s.chunks.parquet"
      val df = spark.read.parquet(f).drop("___cf_meta_hash")
      val tmp = f + ".v1tmp"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      fs.delete(new org.apache.hadoop.fs.Path(f), false)
      fs.rename(part, new org.apache.hadoop.fs.Path(f))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }

    val mixed = ReferenceFormat.selectReferenceStore(spark, out,
      Seq(MatchEq("__name__", "purchase")), t0, t0 + 2 * day - 1)
    // identical rows INCLUDING series_hash: the V1 day's recomputed
    // Prometheus labels.Hash equals the V2 day's stored one, so one series
    // spanning both days keeps ONE identity
    assert(mixed.select("uid", "ts_ms", "value", "series_hash")
      .collect().toSet == pure && pure.nonEmpty)
    val multiId = mixed.groupBy(col("uid"))
      .agg(count_distinct(col("series_hash")).as("n")).filter(col("n") > 1)
    assert(multiId.isEmpty, "a series split identities across V1/V2 days")
    // a lookback-crossing PromQL query stitches the two days into one series
    val eng = new graft.api.PromEngine(new graft.sources.FrameStore(mixed), lookbackMs = day)
    val res = eng.instantQuery("""count by (__name__) ({__name__="purchase"})""",
      t0 + 2 * day - 1)
    assert(res.size == 1)
  }

  test("varint index: empty-vs-absent labels and boundary-byte values through the store") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.promql.MatchEq
    val t0 = 1704067200000L
    // b="" (empty ≡ absent), b missing (null), b="ÿ" (U+00FF — the char
    // whose UTF-8 bytes sit next to the 0xff hash separator), and a pair
    // that would collide under a naive separator-less hash
    val rows = Seq(
      ("s1", "", t0 + 1000L, 1.0), ("s2", null, t0 + 2000L, 2.0),
      ("s3", "ÿ", t0 + 3000L, 3.0), ("sÿ4", "v", t0 + 4000L, 4.0),
      ("s", "ÿ4v", t0 + 5000L, 5.0))
    val samples = rows.toDF("a", "b", "ts_ms", "value")
      .withColumn("sample_id", col("ts_ms"))
      .withColumn("series_hash", xxhash64(col("a"), col("b")))
    val out = java.nio.file.Files.createTempDirectory("graft-refidx").toString
    ReferenceFormat.convertReference(spark, samples, out)

    // the stored varint index flags exactly the NON-EMPTY labels: schema is
    // [index, a, b] → positions 1=a, 2=b; b="" and b=null both omit 2
    val lbl = spark.read.parquet(s"$out/0/2024-01-01/0.labels.parquet")
    val idx = lbl.select("___cf_meta_index", "___cf_meta_label_a")
      .collect().map { r =>
        r.getString(1) ->
          PromXorChunk.decodeLabelIndex(r.getAs[Array[Byte]](0)).toSeq
      }.toMap
    def ixOf(a: String) = idx(a)
    assert(ixOf("s1") == Seq(1), s"empty b must be absent from the index: $idx")
    assert(ixOf("s2") == Seq(1))
    assert(ixOf("s3") == Seq(1, 2))
    assert(ixOf("sÿ4") == Seq(1, 2))
    assert(ixOf("s") == Seq(1, 2))

    // query granularity: b="" matches the empty AND the missing label;
    // b="ÿ" only its own series; the ÿ-boundary trio keeps 3 identities
    def sel(ms: graft.promql.LabelMatcher*) =
      ReferenceFormat.selectReferenceStore(spark, out, ms.toSeq)
    assert(sel(MatchEq("b", "")).select("a").as[String].collect().toSet ==
      Set("s1", "s2"))
    assert(sel(MatchEq("b", "ÿ")).select("a").as[String].collect().toSet == Set("s3"))
    assert(sel().select("series_hash").distinct().count() == 5)
    // the three ÿ-boundary series carry three DISTINCT Prometheus hashes
    assert(sel(MatchEq("b", "ÿ")).union(sel(MatchEq("a", "sÿ4")))
      .union(sel(MatchEq("a", "s")))
      .select("series_hash").distinct().count() == 3)
  }

  test("external labels: stream.pb fold + hashed directory") {
    import org.apache.spark.sql.functions._
    val events = graft.sources.Tables.normalizeTs(
      spark.read.parquet(s"${sf()}/events.parquet")).limit(500)
    val samples = graft.model.TimeSeriesModel.samples(events)
    val out = java.nio.file.Files.createTempDirectory("graft-refext").toString
    val ext = Map("cluster" -> "us-east")
    ReferenceFormat.convertReference(spark, samples, out, externalLabels = ext)
    val eh = java.lang.Long.toUnsignedString(ReferenceFormat.externalLabelsHash(ext))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/$eh/stream.pb")))
    val got = ReferenceFormat.selectReferenceStore(spark, out)
    assert(got.columns.contains("cluster"))
    assert(got.select("cluster").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("us-east"))
    assert(got.count() == samples.select("series_hash", "ts_ms").distinct().count())
  }
}
