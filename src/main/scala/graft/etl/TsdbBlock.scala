package graft.etl

import java.util.zip.CRC32C
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.functions.PromXorChunk

/** The public Prometheus TSDB block format — index file (TOC, symbol table,
  * series section, label/postings offset tables) and chunk segment files —
  * as pure byte codecs, so the migration loop can ingest an ACTUAL
  * Prometheus/Thanos bucket instead of requiring a user-supplied sample
  * loader (the reference opens blocks with `tsdb.OpenBlock`,
  * `cmd/convert.go:472`, after download/repair `cmd/convert.go:443-591`).
  *
  * Format source: the published Prometheus TSDB docs
  * (`tsdb/docs/format/index.md`, `tsdb/docs/format/chunks.md`) — index
  * version 2, chunk-segment version 1. All checksums are CRC-32C
  * (Castagnoli), big-endian section framing, Go-style varints.
  *
  * The struct here is deliberately split:
  *   - [[readSeries]] / [[readChunkFrame]] are executor-safe pure byte
  *     functions — [[graft.sources.TsdbBlockReader]] distributes them
  *     (one task per index file, one forward scan per chunk segment);
  *   - [[writeBlock]] is the driver-side fixture/interop writer (writing
  *     TSDB blocks is not a serving-path operation; blocks are bounded —
  *     the reference's converter likewise opens one block per node). It
  *     reuses [[PromXorChunk.encodeColumns]] for the chunk cut points
  *     (2h boundary, uint16 cap, histogram kind/layout/reset), so written
  *     chunks carry the same upstream-appender cut semantics and
  *     counter-reset headers as the engine's reference-bucket sink.
  */
object TsdbBlock {

  val IndexMagic = 0xBAAAD700
  val IndexVersion = 2
  val ChunksMagic = 0x85BD40DD
  val ChunksVersion = 1
  val TombstonesMagic = 0x0130BA30
  /** TOC size: 6 u64 section refs + CRC32. */
  private val TocLen = 6 * 8 + 4

  /** One chunk's index entry: time range + packed ref
    * (segment-position << 32 | byte offset of the chunk's len field). */
  final case class ChunkRef(mint: Long, maxt: Long, ref: Long) {
    def segment: Int = (ref >>> 32).toInt
    def offset: Long = ref & 0xFFFFFFFFL
  }

  /** One decoded series-section entry; `ref` is the series id
    * (entry offset / 16) — the key tombstones address series by. */
  final case class SeriesEntry(ref: Long, labels: Map[String, String],
                               chunks: Seq[ChunkRef])

  // ------------------------------------------------------------ primitives
  private def crc32c(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32C()
    c.update(bytes, off, len)
    c.getValue.toInt
  }

  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
      ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)

  private def be64(b: Array[Byte], o: Int): Long =
    (0 until 8).foldLeft(0L)((a, i) => (a << 8) | (b(o + i) & 0xFFL))

  /** Growable byte sink with big-endian + Go-varint writers. */
  private final class Buf {
    private val out = new java.io.ByteArrayOutputStream()
    def size: Int = out.size()
    def putByte(v: Int): Unit = out.write(v & 0xFF)
    def putU32(v: Long): Unit = {
      out.write(((v >>> 24) & 0xFF).toInt); out.write(((v >>> 16) & 0xFF).toInt)
      out.write(((v >>> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    def putU64(v: Long): Unit = { var i = 56; while (i >= 0) { out.write(((v >>> i) & 0xFF).toInt); i -= 8 } }
    def putUvarint(v0: Long): Unit = {
      var v = v0
      while (java.lang.Long.compareUnsigned(v, 0x80L) >= 0) {
        out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7
      }
      out.write((v & 0x7F).toInt)
    }
    def putVarint(v: Long): Unit = putUvarint(PromXorChunk.zigzag(v))
    def putBytes(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    def putString(s: String): Unit = {
      val b = s.getBytes("UTF-8"); putUvarint(b.length.toLong); putBytes(b)
    }
    /** zero-pad so the next write lands on a multiple of `n`. */
    def align(n: Int): Unit = while (size % n != 0) out.write(0)
    def toBytes: Array[Byte] = out.toByteArray
  }

  /** Go-varint reader over a byte array with an external cursor. */
  private final class Cursor(val b: Array[Byte], var pos: Int) {
    def uvarint(): Long = {
      var v = 0L; var shift = 0; var x = 0L
      do { x = b(pos).toLong & 0xFF; pos += 1; v |= (x & 0x7F) << shift; shift += 7 }
      while ((x & 0x80) != 0)
      v
    }
    def varint(): Long = PromXorChunk.unzigzag(uvarint())
  }

  // ---------------------------------------------------------------- reader
  /** How many times [[readSeries]] has run in this JVM — local-mode specs
    * pin that a block load parses each index ONCE (the refs dataset is
    * consumed twice but persisted, so the parse must not repeat). */
  private[graft] val seriesParses = new java.util.concurrent.atomic.AtomicLong()

  /** How many series ENTRIES were decoded in this JVM — local-mode specs
    * pin that a postings-pruned load decodes only the matching series, not
    * the whole section. */
  private[graft] val seriesDecoded = new java.util.concurrent.atomic.AtomicLong()

  /** How many selective index views PROMOTED to a whole-file fetch (the
    * near-full fallback) in this JVM — specs pin that a negated matcher
    * keeping ~all series promotes, and a narrow pull never does. */
  private[graft] val wholeFilePromotions = new java.util.concurrent.atomic.AtomicLong()

  /** Positional view of an index file for SELECTIVE reads: `fetch(pos, n)`
    * must return exactly n bytes. [[IndexReadAt.ofBytes]] wraps a whole
    * in-memory file (the full-walk path); the distributed matcher path
    * ([[graft.sources.TsdbBlockReader]]) wraps Hadoop positional reads so
    * only the TOUCHED sections of a multi-hundred-MB index are ever
    * fetched — TOC, symbols, the offset tables, the matched posting lists
    * and the matched series entries — instead of the whole file. */
  final class IndexReadAt(fetch0: (Long, Int) => Array[Byte], val length: Long,
                          whole: Boolean = false) {
    private var f = fetch0
    private var isWhole = whole
    private var fetched = 0L
    // one cached contiguous TAIL window (offset tables + TOC), built LAZILY
    // on the first read that lands in the tail region — an eager prefetch
    // wasted the whole span on blocks whose dictionary resolves a matcher
    // to nothing and never touch the postings offset table
    private var winStart = -1L
    private var win: Array[Byte] = _
    private[TsdbBlock] var tailStart = -1L
    def fetch(pos: Long, n: Int): Array[Byte] = {
      require(pos >= 0 && n >= 0 && pos + n <= length,
        s"index read out of bounds ($pos+$n > $length)")
      if (win == null && !isWhole && tailStart >= 0 && pos >= tailStart &&
          length - tailStart <= 8L * 1024 * 1024) {
        // first tail hit: one ranged GET covers the offset tables + TOC
        // (Prometheus layout: … postings, label offset table, postings
        // offset table, TOC) — every later offset-table section is served
        // from it instead of two ranged reads per table, the metadata
        // cold-start cost a 10k-block bucket pays per block
        val span = (length - tailStart).toInt
        win = fetch0(tailStart, span)
        winStart = tailStart
        fetched += span
      }
      if (win != null && pos >= winStart && pos + n <= winStart + win.length) {
        val lo = (pos - winStart).toInt
        return java.util.Arrays.copyOfRange(win, lo, lo + n)
      }
      fetched += n
      f(pos, n)
    }
    /** TOC parse memoized per view (a selective read resolves the TOC from
      * several directions — dictionary, postings, series fetch). */
    private[TsdbBlock] var tocCache: Array[Long] = _
    /** Whole-file fallback for NEAR-FULL selective reads: when the bytes a
      * read has already fetched plus the bytes it is ABOUT to fetch reach
      * half the file, one sequential whole-file GET beats dozens-to-hundreds
      * of ranged GETs on an object store (a negated matcher keeping 90% of
      * a block fetched 246 MB of a 286 MB index as ranged reads — r18 bench).
      * Subsequent fetches serve from the in-memory copy; counters see ONE
      * underlying read of `length` bytes. No-op for views already backed by
      * whole files and for indexes too large to buffer (>~2 GB: outside the
      * upstream block-size envelope; such a read stays ranged). */
    private[TsdbBlock] def promoteIfNearFull(plannedBytes: Long): Unit =
      if (!isWhole && length <= (Int.MaxValue - 64).toLong &&
          (fetched + plannedBytes) * 2 >= length) {
        val all = fetch0(0, length.toInt)
        f = (p, n) => java.util.Arrays.copyOfRange(all, p.toInt, p.toInt + n)
        isWhole = true
        wholeFilePromotions.incrementAndGet()
      }
    /** Symbol-table parse memoized per view: one matcher-pushed read
      * touches symbols from several directions (value dictionary resolve,
      * series decode), and re-parsing a multi-MB table per direction is
      * pure waste. A view is per-task per-block — no sharing, no races. */
    private[TsdbBlock] var symCacheOff: Long = -1L
    private[TsdbBlock] var symCache: Array[String] = _
  }
  object IndexReadAt {
    def ofBytes(b: Array[Byte]): IndexReadAt =
      new IndexReadAt((p, n) =>
        java.util.Arrays.copyOfRange(b, p.toInt, p.toInt + n), b.length.toLong,
        whole = true)
  }

  /** Validated TOC: the 6 section offsets
    * (symbols, series, label indices, label offset table, postings,
    * postings offset table). */
  private def tocOffsetsAt(ix: IndexReadAt): Array[Long] = {
    if (ix.tocCache != null) return ix.tocCache
    require(ix.length > 5 + TocLen, s"index file too short (${ix.length} bytes)")
    val head = ix.fetch(0, 5)
    require(be32(head, 0) == IndexMagic,
      f"bad index magic 0x${be32(head, 0)}%08x (want 0xbaaad700)")
    require((head(4) & 0xFF) == IndexVersion,
      s"unsupported index version ${head(4) & 0xFF} (only v2)")
    val tocOff = ix.length - TocLen
    val toc = ix.fetch(tocOff, TocLen)
    require(be32(toc, 48) == crc32c(toc, 0, 48), "index TOC CRC mismatch")
    val out = Array.tabulate(6)(i => be64(toc, 8 * i)) :+ tocOff
    ix.tocCache = out
    // arm the lazy tail window: POT (always the last section) and, when the
    // label offset table sits after the postings section (the upstream
    // on-disk order), LOT too
    ix.tailStart = if (out(3) > out(4)) out(3) else out(5)
    out
  }

  private def tocOffsets(idx: Array[Byte]): Array[Long] =
    tocOffsetsAt(IndexReadAt.ofBytes(idx))

  /** One `len u32 | content | crc32c(content)` section, CRC-checked;
    * returns the CONTENT bytes. */
  private def sectionAt(ix: IndexReadAt, off: Long, what: String): Array[Byte] = {
    val len = be32(ix.fetch(off, 4), 0)
    val body = ix.fetch(off + 4, len + 4)
    require(be32(body, len) == crc32c(body, 0, len),
      s"$what CRC mismatch at offset $off")
    java.util.Arrays.copyOfRange(body, 0, len)
  }

  /** Symbol table at `symOff`: len | #symbols | (uvarint len, utf8)… | crc. */
  private def symbolsAt(ix: IndexReadAt, symOff: Long): Array[String] = {
    if (ix.symCacheOff == symOff && ix.symCache != null) return ix.symCache
    val content = sectionAt(ix, symOff, "index symbol table")
    val nSym = be32(content, 0)
    val symbols = new Array[String](nSym)
    val sc = new Cursor(content, 4)
    var i = 0
    while (i < nSym) {
      val l = sc.uvarint().toInt
      symbols(i) = new String(content, sc.pos, l, "UTF-8")
      sc.pos += l
      i += 1
    }
    ix.symCacheOff = symOff
    ix.symCache = symbols
    symbols
  }

  private def readSymbols(idx: Array[Byte], symOff: Int): Array[String] =
    symbolsAt(IndexReadAt.ofBytes(idx), symOff.toLong)

  /** Decode ONE series entry from `buf` at local offset `pos`; `absPos` is
    * its absolute file offset (id = absPos/16 — the postings address
    * space, and the key tombstones use). */
  private def readSeriesEntry(buf: Array[Byte], symbols: Array[String],
                              pos: Int, absPos: Long): SeriesEntry = {
    seriesDecoded.incrementAndGet()
    val c = new Cursor(buf, pos)
    val len = c.uvarint().toInt
    val contentStart = c.pos
    // the len field is read BEFORE its CRC can vouch for it — bound it
    // against the buffer before indexing, or a flipped bit turns into an
    // arbitrary out-of-bounds access instead of a clean corruption error
    // overflow-safe form: `contentStart + len + 4 <= buf.length` wraps
    // negative for an adversarial near-MaxInt len and would pass — subtract
    // on the known-small side instead (ADVICE r20 #3)
    require(len >= 0 && len <= buf.length - contentStart - 4,
      s"truncated/corrupt series entry at offset $absPos " +
        s"(claims $len bytes, ${buf.length - contentStart} available)")
    require(be32(buf, contentStart + len) == crc32c(buf, contentStart, len),
      s"series entry CRC mismatch at offset $absPos")
    val nLbl = c.uvarint().toInt
    val lbls = Map.newBuilder[String, String]
    var j = 0
    while (j < nLbl) {
      val n = symbols(c.uvarint().toInt)
      val v = symbols(c.uvarint().toInt)
      lbls += n -> v
      j += 1
    }
    val nChk = c.uvarint().toInt
    val chunks = Seq.newBuilder[ChunkRef]
    var prevMaxt = 0L; var prevRef = 0L
    j = 0
    while (j < nChk) {
      val mint = if (j == 0) c.varint() else prevMaxt + c.varint()
      val maxt = mint + c.uvarint()
      val ref = if (j == 0) c.uvarint() else prevRef + c.varint()
      chunks += ChunkRef(mint, maxt, ref)
      prevMaxt = maxt; prevRef = ref
      j += 1
    }
    SeriesEntry(absPos / 16, lbls.result(), chunks.result())
  }

  /** One CRC-checked postings list at `off`: ascending series ids. */
  private def postingListAt(ix: IndexReadAt, off: Long): Array[Long] = {
    val content = sectionAt(ix, off, "postings list")
    val n = be32(content, 0)
    Array.tabulate(n)(i => be32(content, 4 + 4 * i).toLong & 0xFFFFFFFFL)
  }

  /** Many posting lists with COALESCED ranged reads (the same 256 KB-gap /
    * 8 MB-cap clustering as [[readSeriesByIdsAt]]): a broad regex on a
    * high-cardinality label matches tens of thousands of values, and lists
    * sit adjacent in (name, value) order in the postings section — one
    * ranged GET per tiny list would be tens of thousands of GETs where a
    * handful of sequential fetches moves the same bytes. Lists whose tail
    * guess truncates re-fetch exactly. Order of the returned lists is
    * unspecified (callers union/intersect — commutative). */
  private def postingListsAt(ix: IndexReadAt, offs: Seq[Long]): Seq[Array[Long]] = {
    if (offs.isEmpty) return Seq.empty
    if (offs.size == 1) return Seq(postingListAt(ix, offs.head))
    val Gap = 256L * 1024
    val MaxFetch = 8L * 1024 * 1024
    val Tail = 4096L
    val sorted = offs.toArray
    java.util.Arrays.sort(sorted)
    val starts = scala.collection.mutable.ArrayBuffer(0)
    var i = 1
    while (i < sorted.length) {
      if (sorted(i) - sorted(i - 1) > Gap ||
          sorted(i) - sorted(starts.last) > MaxFetch - Tail) starts += i
      i += 1
    }
    starts += sorted.length
    // near-full read? one sequential whole-file fetch instead of many GETs
    ix.promoteIfNearFull((0 until starts.length - 1).map { k =>
      val start = sorted(starts(k))
      math.min(sorted(starts(k + 1) - 1) - start + Tail, ix.length - start)
    }.sum)
    (0 until starts.length - 1).flatMap { k =>
      val lo = starts(k); val hi = starts(k + 1)
      val start = sorted(lo)
      val span = math.min(sorted(hi - 1) - start + Tail, ix.length - start).toInt
      val buf = ix.fetch(start, span)
      (lo until hi).map { j =>
        val local = (sorted(j) - start).toInt
        if (local + 8 > buf.length) postingListAt(ix, sorted(j))
        else {
          val len = be32(buf, local)
          // a corrupt NEGATIVE len must not sneak past the window check into
          // a negative array index — route it to the exact-fetch path, whose
          // bounds require turns it into a clean corruption error
          if (len < 0 || local + 8 + len > buf.length) postingListAt(ix, sorted(j))
          else {
            require(be32(buf, local + 4 + len) == crc32c(buf, local + 4, len),
              s"postings list CRC mismatch at offset ${sorted(j)}")
            val n = be32(buf, local + 4)
            Array.tabulate(n)(x =>
              be32(buf, local + 8 + 4 * x).toLong & 0xFFFFFFFFL)
          }
        }
      }
    }
  }

  // Postings algebra over ASCENDING Array[Long] lists (the on-disk order) —
  // two-pointer merges, zero boxing. Upstream evaluates the same algebra
  // lazily over index.Postings iterators (Intersect/Merge/Without); eager
  // primitive arrays give the same O(n) passes without per-element iterator
  // dispatch, and a broad or negated matcher on an upstream-max ~10M-series
  // block stays ~80 MB of longs instead of hundreds of MB of boxed Set nodes.

  /** Merge-union of two ascending, duplicate-free arrays (output likewise). */
  private[graft] def unionSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      val av = a(i); val bv = b(j)
      if (av < bv) { out(k) = av; i += 1 }
      else if (av > bv) { out(k) = bv; j += 1 }
      else { out(k) = av; i += 1; j += 1 }
      k += 1
    }
    while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
    while (j < b.length) { out(k) = b(j); j += 1; k += 1 }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** Merge-intersection of two ascending arrays. */
  private[graft] def intersectSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.isEmpty || b.isEmpty) return Array.emptyLongArray
    val out = new Array[Long](math.min(a.length, b.length))
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      val av = a(i); val bv = b(j)
      if (av < bv) i += 1
      else if (av > bv) j += 1
      else { out(k) = av; i += 1; j += 1; k += 1 }
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** Merge-difference a ∖ b of two ascending arrays. */
  private[graft] def diffSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.isEmpty || b.isEmpty) return a
    val out = new Array[Long](a.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length) {
      val av = a(i)
      while (j < b.length && b(j) < av) j += 1
      if (j >= b.length || b(j) != av) { out(k) = av; k += 1 }
      i += 1
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** Union of k ascending lists, paired divide-and-conquer: O(n log k)
    * total, so a negation that unions EVERY posted value of a
    * high-cardinality name doesn't degrade to O(n·k) repeated re-merges. */
  private[graft] def unionAllSorted(lists: Seq[Array[Long]]): Array[Long] =
    lists.size match {
      case 0 => Array.emptyLongArray
      case 1 => lists.head
      case n =>
        val (l, r) = lists.splitAt(n / 2)
        unionSorted(unionAllSorted(l), unionAllSorted(r))
    }

  /** Series ids satisfying the label constraints, off the index's postings
    * sections ALONE — no series entry is decoded (the selective-read half
    * the reference leaves to `tsdb.OpenBlock`'s PostingsForMatchers).
    * `constraints` maps label name → allowed values: union within a name,
    * intersection across names — the eq and set(IN) matcher forms, which is
    * what a partial migration pushes down. An allowed value of `""` keeps
    * the engine's missing≡"" semantics: it selects the series WITHOUT that
    * label (all-postings minus the union of every posted value of the
    * name). Empty constraints → every series (the all-postings entry). */
  def readPostings(idx: Array[Byte],
                   constraints: Map[String, Seq[String]]): Seq[Long] =
    readPostingsAt(IndexReadAt.ofBytes(idx), constraints)

  /** [[readPostings]] over a positional view — the selective path fetches
    * the postings offset table and ONLY the matched posting lists. */
  def readPostingsAt(ix: IndexReadAt,
                     constraints: Map[String, Seq[String]]): Seq[Long] = {
    val toc = tocOffsetsAt(ix)
    // postings offset table: len | #entries | (nkeys=2, name, value, off)… | crc
    val pot = sectionAt(ix, toc(5), "postings offset table")
    val nEnt = be32(pot, 0)
    val c = new Cursor(pot, 4)
    // name → (value → postings section offset), insertion = on-disk order
    val table = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[String, Long]]
    var i = 0
    while (i < nEnt) {
      val nk = c.uvarint().toInt
      require(nk == 2, s"postings offset table entry with $nk keys (want 2)")
      val nl = c.uvarint().toInt
      val name = new String(pot, c.pos, nl, "UTF-8"); c.pos += nl
      val vl = c.uvarint().toInt
      val value = new String(pot, c.pos, vl, "UTF-8"); c.pos += vl
      val off = c.uvarint()
      table.getOrElseUpdate(name, scala.collection.mutable.Map.empty)
        .update(value, off)
      i += 1
    }
    def allIds: Array[Long] =
      table.get("").flatMap(_.get("")).map(postingListAt(ix, _))
        .getOrElse(Array.empty[Long])
    if (constraints.isEmpty) return allIds.toSeq
    // per-name union, cross-name intersection — two-pointer merges over the
    // ascending on-disk lists (see the postings algebra above); the result
    // stays ascending end-to-end, so no terminal sort either
    val perName = constraints.toSeq.map { case (name, values) =>
      val posted = table.getOrElse(name,
        scala.collection.mutable.Map.empty[String, Long])
      val (missing, present) = values.distinct.partition(_.isEmpty)
      val union = unionAllSorted(
        postingListsAt(ix, present.flatMap(posted.get)))
      if (missing.isEmpty) union
      else { // value "" ⇒ series lacking the label entirely
        val anyValue = unionAllSorted(
          postingListsAt(ix, posted.values.toSeq))
        unionSorted(union, diffSorted(allIds, anyValue))
      }
    }
    perName.reduce(intersectSorted).toSeq
  }

  /** Distinct values of label `name` in the block, off the label-index
    * section alone (the per-label value dictionary upstream's
    * `index.LabelValues` reads) — no series entry is decoded. Lets regex /
    * negated matchers be resolved to a value SET per block, which
    * [[readPostings]] then intersects, the same decomposition upstream's
    * `PostingsForMatchers` performs. */
  def readLabelValues(idx: Array[Byte], name: String): Seq[String] =
    readLabelValuesAt(IndexReadAt.ofBytes(idx), name)

  /** [[readLabelValues]] over a positional view — fetches the label offset
    * table, ONE label-index section and the symbol table. */
  def readLabelValuesAt(ix: IndexReadAt, name: String): Seq[String] = {
    val toc = tocOffsetsAt(ix)
    // label offset table: len | #entries | (nkeys=1, name, offset)… | crc
    val lot = sectionAt(ix, toc(3), "label offset table")
    val n = be32(lot, 0)
    val c = new Cursor(lot, 4)
    var found = -1L
    var i = 0
    while (i < n && found < 0) {
      val nk = c.uvarint().toInt
      require(nk == 1, s"label offset table entry with $nk keys (want 1)")
      val nl = c.uvarint().toInt
      val nm = new String(lot, c.pos, nl, "UTF-8"); c.pos += nl
      val off = c.uvarint()
      if (nm == name) found = off
      i += 1
    }
    if (found < 0) Seq.empty
    else {
      // label index section: len | #names | #entries | symbol refs… | crc
      val li = sectionAt(ix, found, "label index")
      val symbols = symbolsAt(ix, toc(0))
      val width = be32(li, 0)
      require(width == 1, s"label index with $width names per entry (want 1)")
      val cnt = be32(li, 4)
      (0 until cnt).map(j => symbols(be32(li, 8 + 4 * j)))
    }
  }

  /** Decode ONLY the series entries with the given ids (id = entry offset /
    * 16 — the postings address space), 16-byte-aligned direct seeks instead
    * of a full section walk, streamed lazily. Pair with [[readPostings]]
    * for matcher-pushdown block reads. */
  def readSeriesByIds(idx: Array[Byte], ids: Seq[Long]): Iterator[SeriesEntry] =
    readSeriesByIdsAt(IndexReadAt.ofBytes(idx), ids)

  /** [[readSeriesByIds]] over a positional view. Sorted ids COALESCE into
    * ranged fetches: labels sort `__name__` first, so one metric's series
    * are CONTIGUOUS in the labelset-sorted section and a matched run
    * usually collapses into a single ranged read — clusters split when the
    * gap exceeds 256 KB (don't drag unmatched middle) or a fetch would
    * pass 8 MB (bound per-read memory). The final entry of a cluster reads
    * a 4 KB tail guess and re-fetches exactly if it overflows. */
  def readSeriesByIdsAt(ix: IndexReadAt, ids: Seq[Long]): Iterator[SeriesEntry] = {
    seriesParses.incrementAndGet()
    if (ids.isEmpty) return Iterator.empty
    val toc = tocOffsetsAt(ix)
    val symbols = symbolsAt(ix, toc(0))
    val Gap = 256L * 1024
    val MaxFetch = 8L * 1024 * 1024
    val Tail = 4096L
    // primitive sort over the (already near-sorted) id array — a broad or
    // negated matcher passes MILLIONS of ids through here, so no boxing
    val sorted: Array[Long] = ids.toArray
    java.util.Arrays.sort(sorted)
    // clusters as index RANGES over `sorted` (no per-id boxed buffers)
    val starts = scala.collection.mutable.ArrayBuffer(0)
    var ci = 1
    while (ci < sorted.length) {
      if (sorted(ci) * 16 - sorted(ci - 1) * 16 > Gap ||
          sorted(ci) * 16 - sorted(starts.last) * 16 > MaxFetch - Tail)
        starts += ci
      ci += 1
    }
    starts += sorted.length
    // near-full read (broad/negated matchers keeping most series)? one
    // sequential whole-file fetch instead of dozens of 8 MB ranged GETs
    ix.promoteIfNearFull((0 until starts.length - 1).map { k =>
      val start = sorted(starts(k)) * 16
      math.min(sorted(starts(k + 1) - 1) * 16 - start + Tail, ix.length - start)
    }.sum)
    (0 until starts.length - 1).iterator.flatMap { k =>
      val lo = starts(k); val hi = starts(k + 1)
      val start = sorted(lo) * 16
      val span = math.min(sorted(hi - 1) * 16 - start + Tail,
        ix.length - start).toInt
      val buf = ix.fetch(start, span)
      (lo until hi).iterator.map { j =>
        val pos = sorted(j) * 16
        val local = (pos - start).toInt
        // entry = uvarint len | content | crc32c(content); if the tail
        // guess truncated this entry, re-fetch exactly its span
        var len = 0L; var shift = 0; var w = local; var more = true
        while (more) {
          val x = buf(w).toLong & 0xFF; w += 1
          len |= (x & 0x7F) << shift; shift += 7
          more = (x & 0x80) != 0
        }
        val end = w - local + len.toInt + 4
        if (local + end <= buf.length) readSeriesEntry(buf, symbols, local, pos)
        else {
          val exact = ix.fetch(pos, end)
          readSeriesEntry(exact, symbols, 0, pos)
        }
      }
    }
  }

  /** Parse a whole index file's series section: every series' label set +
    * chunk refs, in on-disk (labelset-sorted) order, as a LAZY iterator —
    * a task mapping a 10M-series block's index holds the index byte array
    * plus ONE decoded entry at a time, never the whole entry list (upstream
    * streams the same way: `indexReaderSeries.Next()`,
    * `convert/convert.go:161-183`). Walks the series section directly off
    * the TOC — postings are not needed for a full-block read, which is the
    * only read conversion does (the reference converter also iterates ALL
    * series of a block). CRCs are verified on the TOC, symbol table and
    * every series entry as the walk reaches it. */
  def readSeries(idx: Array[Byte]): Iterator[SeriesEntry] = {
    seriesParses.incrementAndGet() // test-observable (local-mode) parse count
    val toc = tocOffsets(idx)
    val symbols = readSymbols(idx, toc(0).toInt)
    val seriesOff = toc(1).toInt
    // the series section is bounded by whichever section follows it
    val seriesEnd = toc.drop(2).filter(o => o > seriesOff && o > 0).min.toInt

    // series section: 16-aligned entries, id = offset / 16
    new Iterator[SeriesEntry] {
      private var pos = seriesOff
      private var pending: SeriesEntry = _
      private def advance(): Unit = {
        pending = null
        while (pending == null && pos + 1 < seriesEnd) {
          val c = new Cursor(idx, pos)
          val len = c.uvarint().toInt
          if (len == 0) pos = seriesEnd // trailing padding
          else {
            pending = readSeriesEntry(idx, symbols, pos, pos.toLong)
            pos = ((c.pos + len + 4 + 15) / 16) * 16
          }
        }
      }
      advance()
      def hasNext: Boolean = pending != null
      def next(): SeriesEntry = {
        if (pending == null) throw new NoSuchElementException("series section exhausted")
        val e = pending; advance(); e
      }
    }
  }

  /** Parse a block's `tombstones` file (`tsdb/docs/format/tombstones.md`):
    * magic u32, version 1, then per stone `series ref uvarint | mint varint
    * | maxt varint`, closed by CRC-32C over the stones region. Returns
    * series ref → deleted [mint, maxt] intervals (inclusive, as upstream
    * `intervals.IsInRange`); an absent/empty file means no deletions. The
    * reference's converter applies these through `tsdb.OpenBlock`'s
    * querier, so a faithful block read must drop the covered samples. */
  def readTombstones(bytes: Array[Byte]): Map[Long, Seq[(Long, Long)]] = {
    if (bytes == null || bytes.length == 0) return Map.empty
    require(bytes.length >= 9, // magic + version + CRC
      s"truncated tombstones file (${bytes.length} bytes)")
    require(be32(bytes, 0) == TombstonesMagic,
      f"bad tombstones magic 0x${be32(bytes, 0)}%08x")
    require((bytes(4) & 0xFF) == 1, s"unsupported tombstones version ${bytes(4)}")
    val end = bytes.length - 4
    require(be32(bytes, end) == crc32c(bytes, 5, end - 5), "tombstones CRC mismatch")
    val c = new Cursor(bytes, 5)
    val out = scala.collection.mutable.Map.empty[Long, List[(Long, Long)]]
    while (c.pos < end) {
      val ref = c.uvarint()
      val mint = c.varint()
      val maxt = c.varint()
      out(ref) = (mint, maxt) :: out.getOrElse(ref, Nil)
    }
    out.view.mapValues(_.reverse.toSeq).toMap
  }

  /** Write a `tombstones` file (fixture side of [[readTombstones]];
    * `stones` = (series ref, mint, maxt) with inclusive bounds). */
  def writeTombstones(root: String, ulid: String,
                      stones: Seq[(Long, Long, Long)],
                      conf: Configuration = new Configuration()): Unit = {
    val p = new Path(s"$root/$ulid/tombstones")
    val fs = FileSystem.get(p.toUri, conf)
    val b = new Buf
    b.putU32(TombstonesMagic.toLong)
    b.putByte(1)
    stones.foreach { case (ref, mint, maxt) =>
      b.putUvarint(ref); b.putVarint(mint); b.putVarint(maxt)
    }
    val body = b.toBytes
    val out = new Buf
    out.putBytes(body)
    out.putU32(crc32c(body, 5, body.length - 5).toLong & 0xFFFFFFFFL)
    writeFile(fs, p, out.toBytes)
  }

  /** Read ONE chunk out of a segment file via positional reads and wrap it
    * as a reference-layout frame `[enc u32][zz mint][zz maxt][len u32]
    * [data]`, so [[graft.functions.PromFramesDecode]] — the same codegen'd
    * decoder the reference-bucket serving path uses — decodes it with no
    * new decode surface. Segment chunk layout (`tsdb/docs/format/
    * chunks.md`): `len uvarint | encoding 1B | data | CRC32C(enc+data)`.
    * `readAt(filePos, dst, dstLen)` must fill dst[0, dstLen). */
  def readChunkFrame(readAt: (Long, Array[Byte], Int) => Unit, fileLen: Long,
                     offset: Long, mint: Long, maxt: Long): Array[Byte] = {
    val headLen = math.min(8L, fileLen - offset).toInt
    require(headLen > 0, s"chunk offset $offset beyond segment end $fileLen")
    val head = new Array[Byte](headLen)
    readAt(offset, head, headLen)
    var dataLen = 0L; var shift = 0; var w = 0; var more = true
    while (more) {
      require(w < headLen, s"truncated chunk length varint at offset $offset")
      val x = head(w).toLong & 0xFF; w += 1
      dataLen |= (x & 0x7F) << shift; shift += 7
      more = (x & 0x80) != 0
    }
    // dataLen comes from an UNCHECKSUMMED varint (the CRC covers enc+data,
    // not the length): bound it against the file before allocating, or a
    // flipped bit becomes a negative/multi-GB allocation instead of an
    // error. Overflow-safe form: `offset + w + 1 + dataLen + 4` wraps
    // negative for a huge 8-byte varint and would pass the `<= fileLen`
    // comparison — keep the untrusted value alone on one side (ADVICE r20 #3)
    require(dataLen >= 0 && dataLen <= fileLen - offset - w - 5,
      s"corrupt chunk length $dataLen at offset $offset (segment is $fileLen bytes)")
    val body = new Array[Byte]((1 + dataLen + 4).toInt) // enc + data + crc
    readAt(offset + w, body, body.length)
    require(be32(body, 1 + dataLen.toInt) == crc32c(body, 0, 1 + dataLen.toInt),
      s"chunk CRC mismatch at segment offset $offset")
    val enc = body(0) & 0xFF
    require(enc == PromXorChunk.EncXor || enc == PromXorChunk.EncHistogram ||
      enc == PromXorChunk.EncFloatHistogram, s"unsupported chunk encoding $enc")
    val f = new Buf
    f.putU32(enc.toLong)
    f.putU64(PromXorChunk.zigzag(mint))
    f.putU64(PromXorChunk.zigzag(maxt))
    f.putU32(dataLen)
    val frame = new Array[Byte](24 + dataLen.toInt)
    System.arraycopy(f.toBytes, 0, frame, 0, 24)
    System.arraycopy(body, 1, frame, 24, dataLen.toInt)
    frame
  }

  // ---------------------------------------------------------------- writer
  private final case class RawChunk(enc: Int, mint: Long, maxt: Long, data: Array[Byte])

  /** Unpack one frame cell back into raw chunks (writer-internal: the frame
    * codec owns the cut logic; the block writer just re-frames). */
  private def unpackFrames(cell: Array[Byte]): Seq[RawChunk] = {
    var off = 0
    val out = Seq.newBuilder[RawChunk]
    while (off < cell.length) {
      val enc = be32(cell, off)
      val mint = PromXorChunk.unzigzag(be64(cell, off + 4))
      val maxt = PromXorChunk.unzigzag(be64(cell, off + 12))
      val len = be32(cell, off + 20)
      out += RawChunk(enc, mint, maxt, java.util.Arrays.copyOfRange(cell, off + 24, off + 24 + len))
      off += 24 + len
    }
    out.result()
  }

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Write one complete TSDB block `<root>/<ulid>/{meta.json, index,
    * chunks/000001}` from model points (the 3-field ts/value/h structs,
    * ts-sorted per series). Series are sorted into on-disk labelset order;
    * the index carries the full v2 surface — symbols, 16-aligned series
    * entries, per-label value indices + label offset table, per-(label,
    * value) postings plus the all-postings `("", "")` entry, postings
    * offset table, TOC — all CRC-32C checksummed, so foreign readers (and
    * [[readSeries]]) open it as a regular Prometheus block. */
  def writeBlock(root: String, ulid: String,
                 series: Seq[(Map[String, String], ArrayData)],
                 externalLabels: Map[String, String] = Map.empty,
                 conf: Configuration = new Configuration(),
                 segmentBytes: Long = 512L * 1024 * 1024): Unit = {
    require(series.nonEmpty, "a TSDB block must contain at least one series")
    val dir = new Path(s"$root/$ulid")
    val fs = FileSystem.get(dir.toUri, conf)

    val sorted = series.map { case (lbls, pts) => (lbls.toSeq.sortBy(_._1), pts) }
      .sortBy(_._1.map { case (n, v) => n + "\u0000" + v }.mkString("\u0001"))

    // ---- chunks/000001..N: cut via the shared frame encoder, re-framed
    // raw; a new segment file starts when the current one would exceed
    // `segmentBytes` (upstream caps segments at 512 MB). A ref's upper 32
    // bits are the POSITION in the name-sorted segment list, exactly how
    // upstream readers resolve them.
    val segs = scala.collection.mutable.ArrayBuffer.empty[Buf]
    def newSeg(): Buf = {
      val b = new Buf
      b.putU32(ChunksMagic.toLong)
      b.putByte(ChunksVersion)
      b.putByte(0); b.putByte(0); b.putByte(0)
      segs += b
      b
    }
    var seg = newSeg()
    var numChunks = 0L; var numSamples = 0L
    val perSeries: Seq[Seq[ChunkRef]] = sorted.map { case (_, pts) =>
      numSamples += pts.numElements()
      val cols = PromXorChunk.encodeColumns(pts)
      val raw = (0 until 3).flatMap(i => unpackFrames(cols.getBinary(i)))
        .sortBy(c => (c.mint, c.maxt))
      raw.map { c =>
        val need = 5L + 1L + c.data.length + 4L
        if (seg.size > 8 && seg.size + need > segmentBytes) seg = newSeg()
        val segIdx = (segs.size - 1).toLong
        val off = seg.size.toLong
        seg.putUvarint(c.data.length.toLong)
        seg.putByte(c.enc)
        seg.putBytes(c.data)
        val crcBuf = new Array[Byte](1 + c.data.length)
        crcBuf(0) = c.enc.toByte
        System.arraycopy(c.data, 0, crcBuf, 1, c.data.length)
        seg.putU32(crc32c(crcBuf, 0, crcBuf.length).toLong & 0xFFFFFFFFL)
        numChunks += 1
        ChunkRef(c.mint, c.maxt, (segIdx << 32) | off)
      }
    }
    segs.zipWithIndex.foreach { case (b, i) =>
      writeFile(fs, new Path(dir, f"chunks/${i + 1}%06d"), b.toBytes)
    }

    // ---- index
    val names = sorted.flatMap(_._1.map(_._1)).distinct.sorted
    val symbols = sorted.flatMap(_._1.flatMap { case (n, v) => Seq(n, v) }).distinct.sorted
    val symIdx = symbols.zipWithIndex.toMap

    val ix = new Buf
    ix.putU32(IndexMagic.toLong)
    ix.putByte(IndexVersion)

    // symbol table
    val symOff = ix.size
    val symContent = new Buf
    symContent.putU32(symbols.size.toLong)
    symbols.foreach(symContent.putString)
    writeSection(ix, symContent)

    // series entries, 16-aligned; id = offset / 16
    ix.align(16)
    val seriesOff = ix.size
    val seriesIds = new Array[Long](sorted.size)
    sorted.zipWithIndex.foreach { case ((lbls, _), si) =>
      ix.align(16)
      seriesIds(si) = ix.size.toLong / 16
      val e = new Buf
      e.putUvarint(lbls.size.toLong)
      lbls.foreach { case (n, v) =>
        e.putUvarint(symIdx(n).toLong); e.putUvarint(symIdx(v).toLong)
      }
      val chunks = perSeries(si)
      e.putUvarint(chunks.size.toLong)
      var prevMaxt = 0L; var prevRef = 0L
      chunks.zipWithIndex.foreach { case (c, j) =>
        if (j == 0) { e.putVarint(c.mint); e.putUvarint(c.maxt - c.mint); e.putUvarint(c.ref) }
        else { e.putVarint(c.mint - prevMaxt); e.putUvarint(c.maxt - c.mint); e.putVarint(c.ref - prevRef) }
        prevMaxt = c.maxt; prevRef = c.ref
      }
      val content = e.toBytes
      ix.putUvarint(content.length.toLong)
      ix.putBytes(content)
      ix.putU32(crc32c(content, 0, content.length).toLong & 0xFFFFFFFFL)
    }
    ix.align(16)

    // one pass over the series: per-label value sets and per-(label, value)
    // series-id lists (a 100k-series fixture block writes in seconds, not
    // the minutes a rescan-per-pair would take)
    val valuesByName = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.SortedSet[String]]
    val idsByPair = scala.collection.mutable.Map
      .empty[(String, String), scala.collection.mutable.ArrayBuffer[Long]]
    sorted.zipWithIndex.foreach { case ((lbls, _), si) =>
      lbls.foreach { case (n, v) =>
        valuesByName.getOrElseUpdate(n, scala.collection.mutable.SortedSet.empty) += v
        idsByPair.getOrElseUpdate((n, v), scala.collection.mutable.ArrayBuffer.empty) +=
          seriesIds(si)
      }
    }

    // per-label value indices + offsets for the label offset table
    val labelIndicesOff = ix.size
    val labelSectionOff = names.map { n =>
      val off = ix.size
      val vals = valuesByName(n).toSeq
      val c = new Buf
      c.putU32(1L)
      c.putU32(vals.size.toLong)
      vals.foreach(v => c.putU32(symIdx(v).toLong))
      writeSection(ix, c)
      n -> off
    }

    // label offset table
    val labelOffTableOff = ix.size
    val lot = new Buf
    lot.putU32(names.size.toLong)
    labelSectionOff.foreach { case (n, off) =>
      lot.putUvarint(1L); lot.putString(n); lot.putUvarint(off.toLong)
    }
    writeSection(ix, lot)

    // postings: the all-postings ("","") entry first, then (name, value)
    val postingsOff = ix.size
    val pairs = ("" -> "") +: names.flatMap(n => valuesByName(n).toSeq.map(n -> _))
    val postingSectionOff = pairs.map { case (n, v) =>
      val off = ix.size
      val ids =
        if (n.isEmpty && v.isEmpty) seriesIds.toSeq.sorted
        else idsByPair((n, v)).toSeq.sorted
      val c = new Buf
      c.putU32(ids.size.toLong)
      ids.foreach(id => c.putU32(id))
      writeSection(ix, c)
      (n, v, off)
    }

    // postings offset table
    val postingsOffTableOff = ix.size
    val pot = new Buf
    pot.putU32(pairs.size.toLong)
    postingSectionOff.foreach { case (n, v, off) =>
      pot.putUvarint(2L); pot.putString(n); pot.putString(v); pot.putUvarint(off.toLong)
    }
    writeSection(ix, pot)

    // TOC
    val tocStart = ix.size
    ix.putU64(symOff.toLong)
    ix.putU64(seriesOff.toLong)
    ix.putU64(labelIndicesOff.toLong)
    ix.putU64(labelOffTableOff.toLong)
    ix.putU64(postingsOff.toLong)
    ix.putU64(postingsOffTableOff.toLong)
    val all = ix.toBytes
    val withCrc = new Buf
    withCrc.putBytes(all)
    withCrc.putU32(crc32c(all, tocStart, 48).toLong & 0xFFFFFFFFL)
    writeFile(fs, new Path(dir, "index"), withCrc.toBytes)

    // every real block carries a tombstones file, even when empty
    writeTombstones(root, ulid, Nil, conf)

    // ---- meta.json (Thanos-shaped: TsdbBlockMeta.parse reads this back)
    val mint = perSeries.flatten.map(_.mint).min
    val maxt = perSeries.flatten.map(_.maxt).max + 1
    val extJson = externalLabels.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString(",")
    val meta =
      s"""{"ulid":${jsonStr(ulid)},"minTime":$mint,"maxTime":$maxt,"version":1,
         | "stats":{"numSamples":$numSamples,"numSeries":${sorted.size},"numChunks":$numChunks},
         | "compaction":{"level":1,"sources":[${jsonStr(ulid)}]},
         | "thanos":{"labels":{$extJson},"downsample":{"resolution":0}}}""".stripMargin
    writeFile(fs, new Path(dir, "meta.json"), meta.getBytes("UTF-8"))
  }

  /** `len u32 | content | crc32c(content)` section framing. */
  private def writeSection(ix: Buf, content: Buf): Unit = {
    val b = content.toBytes
    ix.putU32(b.length.toLong)
    ix.putBytes(b)
    ix.putU32(crc32c(b, 0, b.length).toLong & 0xFFFFFFFFL)
  }

  private def writeFile(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }
}
