package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Byte-exact Prometheus XOR chunk + thanos-parquet-gateway frame codec —
  * the reference's ON-DISK interop format, distinct from [[GorillaChunk]]
  * (the engine's internal chunk layout, which uses a fixed 32-bit count
  * header and two's-complement dod buckets).
  *
  * A chunk is Prometheus `tsdb/chunkenc` XOR (public format, Gorilla §4.1
  * with Prometheus' framing choices):
  *   - bytes[0:2]   big-endian uint16 sample count;
  *   - sample 0     zigzag-varint t, then 64 raw bits of the float;
  *   - sample 1     uvarint (t − t₀), then the XOR value write;
  *   - sample ≥2    delta-of-delta, control codes 0 / 10+14 / 110+17 /
  *                  1110+20 / 1111+64 where the n-bit buckets hold the
  *                  ASYMMETRIC range [−(2ⁿ⁻¹−1), 2ⁿ⁻¹] (the decoder
  *                  subtracts 2ⁿ when the field exceeds 2ⁿ⁻¹ — NOT sign
  *                  extension), then the XOR value write;
  *   - value write  '0' when identical bits; '10' + significant bits inside
  *                  the previous leading/trailing window; '11' + 5-bit
  *                  leading (clamped to 31) + 6-bit significant-bit count
  *                  (64 encodes as 0, unreachable) + the bits.
  *
  * The gateway stores up-to-a-day of such chunks in three 8h parquet columns
  * (ref `schema/schema.go:28-36`), each cell a frame list
  * `[enc u32][zigzag(mint) u64][zigzag(maxt) u64][len u32][bytes]` in
  * big-endian (ref `convert/chunks.go:56-61`), chunk column index
  * `(UTC hour of chunk mint / 8) mod 3` (ref `convert/chunks.go:53-55`).
  *
  * Label-set hash (`___cf_meta_hash`) is Prometheus `labels.Hash()`:
  * XXH64(seed 0) over `name 0xff value 0xff` per label in name order —
  * reproduced here via Spark's own XXH64 so joins against files the Go
  * converter wrote line up bit-for-bit. The label-presence index
  * (`___cf_meta_index`) is a varint list: count then each labels-file
  * column position (ref `internal/encoding/label_column_index.go:13-28`).
  */
object PromXorChunk {

  val EncXor = 1           // chunkenc.EncXOR
  val EncHistogram = 2     // chunkenc.EncHistogram
  val EncFloatHistogram = 3 // chunkenc.EncFloatHistogram

  // ------------------------------------------------------------ bit streams
  private[functions] final class BitWriter(cap: Int) {
    private[PromXorChunk] var buf = new Array[Byte](cap)
    private[PromXorChunk] var bitPos = 0
    private def ensure(bits: Int): Unit = {
      val needBytes = (bitPos + bits + 7) >>> 3
      if (needBytes > buf.length) {
        val n = new Array[Byte](math.max(buf.length * 2, needBytes))
        System.arraycopy(buf, 0, n, 0, buf.length)
        buf = n
      }
    }
    def writeBits(v: Long, n: Int): Unit = {
      ensure(n)
      var i = n - 1
      while (i >= 0) {
        if (((v >>> i) & 1L) != 0L)
          buf(bitPos >>> 3) = (buf(bitPos >>> 3) | (0x80 >>> (bitPos & 7))).toByte
        bitPos += 1
        i -= 1
      }
    }
    /** Go binary.PutUvarint byte-for-byte (always byte-aligned when called:
      * varints only occur at samples 0/1, before any sub-byte field). */
    def writeUvarint(v0: Long): Unit = {
      var v = v0
      while (java.lang.Long.compareUnsigned(v, 0x80L) >= 0) {
        writeBits((v & 0x7FL) | 0x80L, 8)
        v >>>= 7
      }
      writeBits(v & 0x7FL, 8)
    }
    /** Go binary.PutVarint = uvarint of the zigzag. */
    def writeVarint(v: Long): Unit = writeUvarint(zigzag(v))
    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, (bitPos + 7) >>> 3)
  }

  private[functions] final class BitReader(bytes: Array[Byte], startByte: Int) {
    private var bitPos = startByte * 8
    def bytePos: Int = (bitPos + 7) >>> 3
    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) {
        v = (v << 1) | ((bytes(bitPos >>> 3) >>> (7 - (bitPos & 7))) & 1L)
        bitPos += 1
        i += 1
      }
      v
    }
    def readUvarint(): Long = {
      var v = 0L; var shift = 0
      var b = 0L
      do {
        b = readBits(8)
        v |= (b & 0x7FL) << shift
        shift += 7
      } while ((b & 0x80L) != 0L)
      v
    }
    def readVarint(): Long = unzigzag(readUvarint())
  }

  def zigzag(x: Long): Long = (x << 1) ^ (x >> 63) // ref internal/encoding/zigzag.go:7
  def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  // ------------------------------------------------------------ chunk codec
  /** Encode points[from, until) (ts-sorted, ≤65535) as one XOR chunk.
    * Points are the 3-field model structs (ts_ms, value, h); h is ignored. */
  def encodeChunk(points: ArrayData, from: Int, until: Int): Array[Byte] = {
    val n = until - from
    require(n >= 0 && n <= 0xFFFF, s"XOR chunk sample count $n out of uint16")
    val w = new BitWriter(16 + n * 2)
    w.writeBits(n.toLong, 16) // big-endian uint16 header
    var prevTs = 0L; var prevDelta = 0L; var prevBits = 0L
    var leading = 0xFF; var trailing = 0
    var i = from
    while (i < until) {
      val p = points.getStruct(i, 3)
      val ts = p.getLong(0)
      val bits = java.lang.Double.doubleToRawLongBits(p.getDouble(1))
      if (i == from) {
        w.writeVarint(ts)
        w.writeBits(bits, 64)
      } else if (i == from + 1) {
        w.writeUvarint(ts - prevTs)
        prevDelta = ts - prevTs
        // value XOR write
        val r = xorWrite(w, bits, prevBits, leading, trailing)
        leading = r >>> 8; trailing = r & 0xFF
      } else {
        val delta = ts - prevTs
        val dod = delta - prevDelta
        if (dod == 0L) w.writeBits(0L, 1)
        else if (bitRange(dod, 14)) { w.writeBits(0x2L, 2); w.writeBits(dod & 0x3FFFL, 14) }
        else if (bitRange(dod, 17)) { w.writeBits(0x6L, 3); w.writeBits(dod & 0x1FFFFL, 17) }
        else if (bitRange(dod, 20)) { w.writeBits(0xEL, 4); w.writeBits(dod & 0xFFFFFL, 20) }
        else { w.writeBits(0xFL, 4); w.writeBits(dod, 64) }
        prevDelta = delta
        val r = xorWrite(w, bits, prevBits, leading, trailing)
        leading = r >>> 8; trailing = r & 0xFF
      }
      prevTs = ts; prevBits = bits
      i += 1
    }
    w.toBytes
  }

  /** Prometheus' asymmetric bucket test: −(2ⁿ⁻¹−1) ≤ x ≤ 2ⁿ⁻¹. */
  private[functions] def bitRange(x: Long, nbits: Int): Boolean =
    -((1L << (nbits - 1)) - 1) <= x && x <= (1L << (nbits - 1))

  /** Returns (leading << 8) | trailing after the write. */
  private[functions] def xorWrite(w: BitWriter, bits: Long, prevBits: Long,
                       leading: Int, trailing: Int): Int = {
    val delta = bits ^ prevBits
    if (delta == 0L) { w.writeBits(0L, 1); return (leading << 8) | trailing }
    w.writeBits(1L, 1)
    var newLead = java.lang.Long.numberOfLeadingZeros(delta)
    val newTrail = java.lang.Long.numberOfTrailingZeros(delta)
    if (newLead >= 32) newLead = 31
    if (leading != 0xFF && newLead >= leading && newTrail >= trailing) {
      w.writeBits(0L, 1)
      w.writeBits(delta >>> trailing, 64 - leading - trailing)
      (leading << 8) | trailing
    } else {
      w.writeBits(1L, 1)
      w.writeBits(newLead.toLong, 5)
      val sigbits = 64 - newLead - newTrail
      w.writeBits(sigbits.toLong & 0x3FL, 6) // 64 → 0, unreachable (delta ≠ 0)
      w.writeBits(delta >>> newTrail, sigbits)
      (newLead << 8) | newTrail
    }
  }

  /** Decode one XOR chunk at bytes[off, off+len) into `out` starting at
    * `outPos` as 3-field model rows (ts, value, h=null); returns the new
    * outPos. */
  def decodeChunkInto(bytes: Array[Byte], off: Int, out: Array[Any], outPos0: Int): Int = {
    val n = ((bytes(off) & 0xFF) << 8) | (bytes(off + 1) & 0xFF)
    var outPos = outPos0
    if (n == 0) return outPos
    val r = new BitReader(bytes, off + 2)
    var ts = r.readVarint()
    var bits = r.readBits(64)
    out(outPos) = InternalRow(ts, java.lang.Double.longBitsToDouble(bits), null); outPos += 1
    if (n == 1) return outPos
    var delta = r.readUvarint()
    ts += delta
    var leading = 0; var trailing = 0
    var st = xorRead(r, bits, leading, trailing)
    bits = st._1; leading = st._2; trailing = st._3
    out(outPos) = InternalRow(ts, java.lang.Double.longBitsToDouble(bits), null); outPos += 1
    var i = 2
    while (i < n) {
      var sz = 0
      var dod = 0L
      if (r.readBits(1) != 0L) {
        if (r.readBits(1) == 0L) sz = 14
        else if (r.readBits(1) == 0L) sz = 17
        else if (r.readBits(1) == 0L) sz = 20
        else dod = r.readBits(64)
      }
      if (sz != 0) {
        var v = r.readBits(sz)
        // asymmetric bucket: values above 2^(sz-1) are negative
        if (v > (1L << (sz - 1))) v -= (1L << sz)
        dod = v
      }
      delta += dod
      ts += delta
      st = xorRead(r, bits, leading, trailing)
      bits = st._1; leading = st._2; trailing = st._3
      out(outPos) = InternalRow(ts, java.lang.Double.longBitsToDouble(bits), null); outPos += 1
      i += 1
    }
    outPos
  }

  private[functions] def xorRead(r: BitReader, prevBits: Long, leading: Int,
                      trailing: Int): (Long, Int, Int) = {
    if (r.readBits(1) == 0L) return (prevBits, leading, trailing)
    var lead = leading; var trail = trailing
    if (r.readBits(1) != 0L) {
      lead = r.readBits(5).toInt
      var mbits = r.readBits(6).toInt
      if (mbits == 0) mbits = 64
      trail = 64 - lead - mbits
    }
    val mbits = 64 - lead - trail
    val bits = r.readBits(mbits)
    (prevBits ^ (bits << trail), lead, trail)
  }

  def sampleCount(bytes: Array[Byte], off: Int): Int =
    ((bytes(off) & 0xFF) << 8) | (bytes(off + 1) & 0xFF)

  // ------------------------------------------------------------- frame codec
  private val DayMs = 86400000L
  private val ChunkLenMs = 2 * 3600000L // Prometheus-typical 2h chunk cut
  private val ColLenMs = 8 * 3600000L   // schema.ChunkColumnLength

  private def putU32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    b.write(((v >>> 24) & 0xFF).toInt); b.write(((v >>> 16) & 0xFF).toInt)
    b.write(((v >>> 8) & 0xFF).toInt); b.write((v & 0xFF).toInt)
  }
  private def putU64(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var i = 56
    while (i >= 0) { b.write(((v >>> i) & 0xFF).toInt); i -= 8 }
  }

  /** points (ts-sorted, one UTC day, 3-field model structs with a nullable
    * native-histogram `h`) → the 3 framed 8h chunk-column cells
    * (ref convert/chunks.go:46-63): chunks cut at 2h boundaries (and the
    * uint16 cap), each framed [enc][zz mint][zz maxt][len][bytes] into the
    * column picked by the chunk's first-sample UTC hour. Float runs frame as
    * enc=1 XOR chunks; histogram runs as enc=2 (integer) or enc=3 (float)
    * Prometheus histogram chunks, cut additionally on kind change, layout
    * change (schema / zero threshold) and counter resets — the same events
    * that end a chunk in the upstream appender
    * (prometheus tsdb/chunkenc/histogram.go AppendHistogram's appendable
    * contract; the gateway frames whatever encodings the TSDB handed it,
    * ref api/grpc/thanos.go:462-473). */
  def encodeColumns(points: ArrayData): ArrayData = {
    val n = points.numElements()
    val cols = Array.fill(3)(new java.io.ByteArrayOutputStream())
    var i = 0
    var prevCutReason = 0 // 0 first-ever, 1 boundary, 2 layout, 3 reset, 4 kind
    while (i < n) {
      val p0 = points.getStruct(i, 3)
      val mint = p0.getLong(0)
      val isHist = !p0.isNullAt(2)
      val cut = (Math.floorDiv(mint, ChunkLenMs) + 1) * ChunkLenMs
      var j = i + 1
      // 0 first-ever, 1 boundary/cap (series continues), 2 layout change,
      // 3 counter reset, 4 kind change (float↔hist or int↔float — no
      // appendable continuity exists, so the next header must be Unknown)
      var cutReason = 1
      if (!isHist) {
        var go = true
        while (go && j < n && j - i < 0xFFFF) {
          val pj = points.getStruct(j, 3)
          if (pj.getLong(0) >= cut) go = false
          else if (!pj.isNullAt(2)) go = false
          else j += 1
        }
        // a histogram chunk after a float chunk has no histogram predecessor
        // to be "not reset" against — upstream stamps Unknown
        cutReason = 4
      } else {
        var go = true
        while (go && j < n && j - i < 0xFFFF) {
          val pj = points.getStruct(j, 3)
          if (pj.getLong(0) >= cut || pj.isNullAt(2)) { go = false; cutReason = 1 }
          else if (PromHistChunk.sampleIntegral(pj.getStruct(2, graft.functions.HistChunk.HistArity)) !=
            PromHistChunk.sampleIntegral(points.getStruct(j - 1, 3).getStruct(2, graft.functions.HistChunk.HistArity))) {
            go = false; cutReason = 4 // int↔float type change, upstream cut
          } else if (!PromHistChunk.sameLayoutKnobs(
            points.getStruct(j - 1, 3).getStruct(2, graft.functions.HistChunk.HistArity), pj.getStruct(2, graft.functions.HistChunk.HistArity))) {
            go = false; cutReason = 2
          } else if (PromHistChunk.isCounterReset(
            points.getStruct(j - 1, 3).getStruct(2, graft.functions.HistChunk.HistArity), pj.getStruct(2, graft.functions.HistChunk.HistArity))) {
            go = false; cutReason = 3
          } else j += 1
        }
        // the run can also end at the 2h boundary, the uint16 cap or a kind
        // change with the NEXT sample still being an actual counter reset —
        // upstream checks appendability at every append, so a reset that
        // coincides with a boundary cut still yields a CounterReset header
        if ((cutReason == 1 || cutReason == 4) && j < n) {
          val pj = points.getStruct(j, 3)
          if (!pj.isNullAt(2)) {
            val prevH = points.getStruct(j - 1, 3).getStruct(2, graft.functions.HistChunk.HistArity)
            val nextH = pj.getStruct(2, graft.functions.HistChunk.HistArity)
            if (PromHistChunk.isCounterReset(prevH, nextH)) cutReason = 3
            else if (PromHistChunk.sampleIntegral(prevH) !=
              PromHistChunk.sampleIntegral(nextH)) cutReason = 4
          } else cutReason = 4 // float sample follows: kind change
        }
      }
      val maxt = points.getStruct(j - 1, 3).getLong(0)
      val (enc, chunk) =
        if (!isHist) (EncXor, encodeChunk(points, i, j))
        else {
          // counter-reset header of THIS chunk reflects why the previous
          // chunk ended (the upstream head appender's hinting)
          val header = prevCutReason match {
            case 0 | 2 | 4 => PromHistChunk.UnknownCounterReset
            case 1         => PromHistChunk.NotCounterReset
            case _         => PromHistChunk.CounterReset
          }
          val float = !PromHistChunk.allIntegral(points, i, j)
          (if (float) EncFloatHistogram else EncHistogram,
            PromHistChunk.encodeChunk(points, i, j, header, float))
        }
      val colIdx = ((Math.floorMod(mint, DayMs) / ColLenMs) % 3).toInt
      val b = cols(colIdx)
      putU32(b, enc.toLong)
      putU64(b, zigzag(mint))
      putU64(b, zigzag(maxt))
      putU32(b, chunk.length.toLong)
      b.write(chunk, 0, chunk.length)
      prevCutReason = cutReason
      i = j
    }
    new GenericArrayData(Array[Any](cols(0).toByteArray, cols(1).toByteArray,
      cols(2).toByteArray))
  }

  /** One framed chunk-column cell → its samples as 3-field model rows
    * (ts, value, h), in frame order. Frames whose [mint, maxt] header lies
    * entirely outside [tMin, tMax] are skipped on the 20-byte header alone —
    * no bit-stream decode (the reference format's analog of the native
    * layout's `mint`/`maxt` frame prune in `Ingest.selectChunkedSamples`).
    * Histogram frames (enc 2/3) decode to the pinned model struct with
    * value = count. */
  def decodeFrames(bytes: Array[Byte], tMin: Long, tMax: Long): ArrayData = {
    if (bytes == null || bytes.length == 0) return new GenericArrayData(new Array[Any](0))
    // first pass: total sample count over surviving frames
    var off = 0; var total = 0
    while (off < bytes.length) {
      if (off + 24 > bytes.length)
        throw new IllegalArgumentException(
          s"truncated frame header at cell offset $off (${bytes.length} bytes)")
      val enc = readU32(bytes, off)
      if (enc != EncXor && enc != EncHistogram && enc != EncFloatHistogram)
        throw new IllegalArgumentException(
          s"unsupported chunk encoding $enc (XOR/1, histogram/2 and " +
            "float-histogram/3 are implemented)")
      val fmint = unzigzag(readU64(bytes, off + 4))
      val fmaxt = unzigzag(readU64(bytes, off + 12))
      val len = readU32(bytes, off + 20)
      // a corrupt frame length would walk `off` backwards (infinite loop)
      // or past the cell — fail cleanly instead. Valid chunk data always
      // starts with the 2-byte sample count, so len < 2 is also corrupt.
      if (len < 2 || off + 24 + len > bytes.length)
        throw new IllegalArgumentException(
          s"corrupt frame length $len at cell offset $off (${bytes.length} bytes)")
      if (fmaxt >= tMin && fmint <= tMax) total += sampleCount(bytes, off + 24)
      off += 24 + len
    }
    val out = new Array[Any](total)
    off = 0; var pos = 0
    while (off < bytes.length) {
      val enc = readU32(bytes, off)
      val fmint = unzigzag(readU64(bytes, off + 4))
      val fmaxt = unzigzag(readU64(bytes, off + 12))
      val len = readU32(bytes, off + 20)
      if (fmaxt >= tMin && fmint <= tMax)
        pos =
          if (enc == EncXor) decodeChunkInto(bytes, off + 24, out, pos)
          else PromHistChunk.decodeChunkInto(bytes, off + 24, out, pos,
            float = enc == EncFloatHistogram)
      off += 24 + len
    }
    new GenericArrayData(out)
  }

  def decodeFrames(bytes: Array[Byte]): ArrayData =
    decodeFrames(bytes, Long.MinValue, Long.MaxValue)

  private def readU32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  private def readU64(b: Array[Byte], off: Int): Long = {
    var v = 0L; var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xFFL); i += 1 }
    v
  }

  // ------------------------------------------------- label hash + index codec
  /** Prometheus labels.Hash(): XXH64(seed 0) over name 0xff value 0xff per
    * label in name order — `___cf_meta_hash` (ref convert/tsdb.go:132). */
  def labelsHash(lbls: ArrayData): Long = {
    val n = lbls.numElements()
    var size = 0
    var i = 0
    while (i < n) {
      val s = lbls.getStruct(i, 2)
      size += s.getUTF8String(0).numBytes() + s.getUTF8String(1).numBytes() + 2
      i += 1
    }
    val buf = new Array[Byte](size)
    var pos = 0
    i = 0
    while (i < n) {
      val s = lbls.getStruct(i, 2)
      val nb = s.getUTF8String(0).getBytes
      val vb = s.getUTF8String(1).getBytes
      System.arraycopy(nb, 0, buf, pos, nb.length); pos += nb.length
      buf(pos) = 0xFF.toByte; pos += 1
      System.arraycopy(vb, 0, buf, pos, vb.length); pos += vb.length
      buf(pos) = 0xFF.toByte; pos += 1
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, buf.length, 0L)
  }

  /** presence flags (schema-sorted label order) → ___cf_meta_index varint
    * list: zigzag-varint count, then each present label's labels-file column
    * position (1-based: the index column itself is column 0)
    * (ref internal/encoding/label_column_index.go:13-28). */
  def encodeLabelIndex(flags: ArrayData): Array[Byte] = {
    val n = flags.numElements()
    val b = new java.io.ByteArrayOutputStream()
    var cnt = 0
    var i = 0
    while (i < n) { if (flags.getBoolean(i)) cnt += 1; i += 1 }
    putVarintB(b, cnt.toLong)
    i = 0
    while (i < n) {
      if (flags.getBoolean(i)) putVarintB(b, (i + 1).toLong)
      i += 1
    }
    b.toByteArray
  }

  def decodeLabelIndex(bytes: Array[Byte]): Array[Int] = {
    var off = 0
    def uv(): Long = {
      var v = 0L; var shift = 0; var b = 0L
      do { b = bytes(off).toLong & 0xFF; off += 1; v |= (b & 0x7F) << shift; shift += 7 }
      while ((b & 0x80) != 0)
      v
    }
    val n = unzigzag(uv()).toInt
    Array.fill(n)(unzigzag(uv()).toInt)
  }

  private def putVarintB(b: java.io.ByteArrayOutputStream, x: Long): Unit = {
    var v = zigzag(x)
    while (java.lang.Long.compareUnsigned(v, 0x80L) >= 0) {
      b.write(((v & 0x7F) | 0x80).toInt); v >>>= 7
    }
    b.write((v & 0x7F).toInt)
  }

  /** The 3-field model point (ts_ms, value, nullable native-histogram h). */
  val PointType: StructType = HistChunk.PointType
  val LabelType: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))
}

/** array<struct<ts_ms,value,h>> (ts-sorted, one UTC day) → the 3 framed 8h
  * chunk-column cells of the reference layout (XOR + histogram chunks). */
case class PromFrameCols(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "prom_frame_cols"
  override def nullSafeEval(in: Any): Any =
    PromXorChunk.encodeColumns(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PromXorChunk.encodeColumns($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PromFrameCols {
  def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim
    graftshim.toColumn(PromFrameCols(graftshim.toExpression(c)))
  }
}

/** One framed chunk-column cell → array<struct<ts_ms,value,h>>. Frames
  * entirely outside [tMin, tMax] skip on the frame header without decode. */
case class PromFramesDecode(child: Expression,
                            tMin: Long = Long.MinValue,
                            tMax: Long = Long.MaxValue) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(PromXorChunk.PointType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "prom_frames_decode"
  override def nullSafeEval(in: Any): Any =
    PromXorChunk.decodeFrames(in.asInstanceOf[Array[Byte]], tMin, tMax)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PromXorChunk.decodeFrames($c, ${tMin}L, ${tMax}L)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PromFramesDecode {
  def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    apply(c, Long.MinValue, Long.MaxValue)
  def apply(c: org.apache.spark.sql.Column, tMin: Long, tMax: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim
    graftshim.toColumn(PromFramesDecode(graftshim.toExpression(c), tMin, tMax))
  }
}

/** array<struct<name,value>> (name-sorted, present labels only) →
  * Prometheus labels.Hash() int64. */
case class PromLabelsHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "prom_labels_hash"
  override def nullSafeEval(in: Any): Any =
    PromXorChunk.labelsHash(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PromXorChunk.labelsHash($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PromLabelsHash {
  def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim
    graftshim.toColumn(PromLabelsHash(graftshim.toExpression(c)))
  }
}

/** array<boolean> presence flags (schema-sorted labels) → ___cf_meta_index
  * varint bytes. */
case class PromLabelIndex(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "prom_label_index"
  override def nullSafeEval(in: Any): Any =
    PromXorChunk.encodeLabelIndex(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PromXorChunk.encodeLabelIndex($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PromLabelIndex {
  def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim
    graftshim.toColumn(PromLabelIndex(graftshim.toExpression(c)))
  }
}
