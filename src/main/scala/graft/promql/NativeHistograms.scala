package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Prometheus native (exponential/sparse) histograms as a first-class column
  * type.
  *
  * The reference streams native-histogram chunks through unchanged
  * (api/grpc/thanos.go:462-473 maps chunkenc.EncHistogram /
  * EncFloatHistogram to store-API chunk encodings) and gets the
  * histogram_* PromQL functions from the vendored Prometheus v3 engine
  * (promql/quantile.go). Here the same sample type is a Spark struct
  * column — sparse index→count bucket arrays with the standard exponential
  * mapping — and the functions are Catalyst column expressions built from
  * higher-order array functions (no UDFs), so they stay inside codegen'd
  * projections and distribute trivially.
  *
  * Model (mirrors prometheus/model/histogram.FloatHistogram, flattened):
  * {{{
  *   h: struct<
  *     cnt:  double,                          // total observation count
  *     hsum: double,                          // sum of observations
  *     sch:  int,                             // resolution schema; base = 2^(2^-sch)
  *     zthr: double,                          // zero-bucket threshold
  *     zcnt: double,                          // zero-bucket count
  *     pos:  array<struct<idx:int,c:double>>, // sorted asc by idx; bucket idx
  *                                            //   covers (base^(idx-1), base^idx]
  *     neg:  array<struct<idx:int,c:double>>  // sorted asc by idx; bucket idx
  *                                            //   covers [-base^idx, -base^(idx-1))
  *   >
  * }}}
  *
  * Quantile/fraction semantics follow Prometheus v3 (the version the
  * reference vendors, go.mod: prometheus v0.306.0): exponential
  * interpolation inside exponential buckets, linear interpolation inside
  * the zero bucket, zero-bucket bounds clamped to the observed sign range
  * (promql/quantile.go histogramQuantile/histogramFraction).
  */
object NativeHistograms {

  /** Bucket growth exponent: log2(base) = 2^-sch. Exact for |sch| ≤ 10. */
  private def w(h: Column): Column = pow(lit(2.0), -h.getField("sch").cast("double"))

  def hCount(h: Column): Column = h.getField("cnt")
  def hSum(h: Column): Column   = h.getField("hsum")
  /** sum/count; an observation-free histogram is NaN (0/0 in Prometheus's
    * float arithmetic) — guarded explicitly because Spark's ANSI mode turns
    * the bare division into a query-aborting DIVIDE_BY_ZERO. */
  def hAvg(h: Column): Column   =
    when(h.getField("cnt") === 0.0, lit(Double.NaN))
      .otherwise(h.getField("hsum") / h.getField("cnt"))
  def nBuckets(h: Column): Column = size(h.getField("pos")) + size(h.getField("neg"))

  private def totalOf(buckets: Column): Column =
    aggregate(buckets, lit(0.0), (a, x) => a + x.getField("c"))

  private def sumArr(doubles: Column): Column =
    aggregate(doubles, lit(0.0), (a, x) => a + x)

  /** First bucket (walking `buckets` in array order) whose running count
    * reaches `target`, as struct(idx, c, cum); falls back to the last bucket
    * when fp drift pushes `target` past the final cumulative. Running counts
    * are exact (integer-valued doubles), so the O(n²) slice-sum over ≤64
    * buckets is both cheap and order-stable. */
  private def crossing(buckets: Column, target: Column): Column = {
    val cums = transform(buckets, (_, i) =>
      aggregate(slice(buckets, lit(1), i + 1), lit(0.0), (a, y) => a + y.getField("c")))
    val z = zip_with(buckets, cums, (b, cum) =>
      struct(b.getField("idx").as("idx"), b.getField("c").as("c"), cum.as("cum")))
    // try_: an empty bucket array yields null instead of an ANSI
    // out-of-bounds error; the callers' CASE guards decide the value
    val hit = try_element_at(filter(z, e => e.getField("cum") >= target), lit(1))
    coalesce(hit, try_element_at(z, lit(-1)))
  }

  /** Zero-bucket bounds, clamped to the observed sign range like
    * promql/quantile.go: [-zthr, zthr], but 0 replaces the side that has no
    * exponential buckets. */
  private def zeroBounds(h: Column): (Column, Column) = {
    val zthr = h.getField("zthr")
    val lower = when(size(h.getField("neg")) === 0 && size(h.getField("pos")) > 0, lit(0.0))
      .otherwise(-zthr)
    val upper = when(size(h.getField("pos")) === 0 && size(h.getField("neg")) > 0, lit(0.0))
      .otherwise(zthr)
    (lower, upper)
  }

  /** histogram_quantile(φ, h) for CUSTOM-bucket histograms (NHCB, schema
    * −53): the classic `bucketQuantile` walk over `cb` upper bounds —
    * rank in the +Inf bucket (idx = len(cb)) returns the last finite
    * bound, rank in bucket 0 with a non-positive bound returns that bound,
    * otherwise LINEAR interpolation between the bucket's bounds with
    * bucket 0 starting at 0 (promql/quantile.go's custom-values path
    * reproduces classic semantics). Absent sparse buckets count 0 — they
    * can't hold a rank crossing, so the walk over present buckets is the
    * walk over all. */
  private def nhcbQuantile(phi: Column, h: Column): Column = {
    val cnt = h.getField("cnt")
    val pos = h.getField("pos")
    val cb = h.getField("cb")
    val m = size(cb)
    val rank = phi * cnt
    val hit = crossing(pos, rank)
    val idx = hit.getField("idx")
    val upper = element_at(cb, idx + 1) // cb[idx], 1-based accessor
    val lower = when(idx <= 0, lit(0.0)).otherwise(element_at(cb, idx))
    val prevCum = hit.getField("cum") - hit.getField("c")
    val interp = lower + (upper - lower) * ((rank - prevCum) / hit.getField("c"))
    when(isnan(phi) || cnt === 0.0 || m === 0, lit(Double.NaN))
      .when(phi < 0.0, lit(Double.NegativeInfinity))
      .when(phi > 1.0, lit(Double.PositiveInfinity))
      .when(idx >= m, element_at(cb, m)) // +Inf bucket → last finite bound
      .when(idx === 0 && element_at(cb, 1) <= 0.0, element_at(cb, 1))
      .otherwise(interp)
  }

  /** histogram_quantile(φ, h) for native histograms.
    * Walks buckets in value order (most-negative → zero → positive), finds
    * the bucket holding rank φ·count, then interpolates: exponentially
    * inside exponential buckets (value = 2^(w·(idx−1+f)) on the positive
    * side, mirrored on the negative side), linearly inside the zero bucket.
    * Custom-bucket histograms (schema −53) route to [[nhcbQuantile]]. */
  def quantile(phi: Column, h: Column): Column = {
    val cnt  = h.getField("cnt")
    val zcnt = h.getField("zcnt")
    val pos  = h.getField("pos")
    val neg  = h.getField("neg")
    val ww   = w(h)
    val negTot = totalOf(neg)
    val rank   = phi * cnt

    // negative region: walk from the most negative bucket (= reversed array)
    val negHit = crossing(reverse(neg), rank)
    val fNeg = (rank - (negHit.getField("cum") - negHit.getField("c"))) / negHit.getField("c")
    val qNeg = -pow(lit(2.0), (negHit.getField("idx").cast("double") - fNeg) * ww)

    // zero bucket: linear between the clamped bounds
    val (zLo, zUp) = zeroBounds(h)
    val f0 = (rank - negTot) / zcnt
    val q0 = zLo + (zUp - zLo) * f0

    // positive region
    val target = rank - negTot - zcnt
    val posHit = crossing(pos, target)
    val fPos = (target - (posHit.getField("cum") - posHit.getField("c"))) / posHit.getField("c")
    val qPos = pow(lit(2.0), (posHit.getField("idx").cast("double") - 1.0 + fPos) * ww)

    when(h.getField("sch") === lit(-53), nhcbQuantile(phi, h))
      .when(isnan(phi) || cnt === 0.0, lit(Double.NaN))
      .when(phi < 0.0, lit(Double.NegativeInfinity))
      .when(phi > 1.0, lit(Double.PositiveInfinity))
      .when(rank <= negTot && size(neg) > 0, qNeg)
      .when(rank <= negTot + zcnt && zcnt > 0.0, q0)
      .otherwise(qPos)
  }

  /** Estimated number of observations ≤ v (the inverse of quantile —
    * promql/quantile.go histogramFraction's rank walk). `logAbs` must be
    * log2(|v|), passed in so callers can supply an exactly shared constant
    * (the oracle SQL inlines the same JVM-computed literal).
    *
    * Determinism note: full buckets contribute integer-valued doubles
    * (order-free exact sum); at most ONE bucket straddles v and contributes
    * a fractional term, added after the integer sums — so the result is a
    * fixed sequence of fp ops, reproducible across engines. */
  private def rankAt(v: Column, logAbs: Column, h: Column): Column = {
    val zcnt = h.getField("zcnt")
    val pos  = h.getField("pos")
    val neg  = h.getField("neg")
    val ww   = w(h)
    val negTot = totalOf(neg)
    val (zLo, zUp) = zeroBounds(h)

    // Each bucket contributes its own ≤-v overlap independently (Prometheus
    // histogramFraction walks AllBucketIterator the same way) — no routing
    // by region, so histograms whose zero bucket overlaps an exponential
    // bucket degrade exactly like the reference's engine.

    // negative side: bucket idx covers |v| ∈ (2^((idx-1)w), 2^(idx·w)];
    // the ≤-v count excludes buckets closer to zero and the straddler's
    // above-v part
    val negFull = totalOf(filter(neg, b => b.getField("idx").cast("double") * ww <= logAbs))
    val negStraddle = sumArr(transform(
      filter(neg, b => b.getField("idx").cast("double") * ww > logAbs &&
        (b.getField("idx").cast("double") - 1.0) * ww < logAbs),
      b => b.getField("c") * (logAbs - (b.getField("idx").cast("double") - 1.0) * ww) / ww))
    val negPart = when(v >= 0.0, negTot).otherwise((negTot - negFull) - negStraddle)

    // zero bucket: linear overlap of [zLo, zUp] with (-∞, v]
    val zeroPart = when(zUp > zLo,
        zcnt * greatest(lit(0.0), least(lit(1.0), (v - zLo) / (zUp - zLo))))
      .otherwise(when(v >= zUp, zcnt).otherwise(lit(0.0)))

    // positive side: full buckets below v (exact integer sum) plus at most
    // one straddling fractional term
    val posFull = totalOf(filter(pos, b => b.getField("idx").cast("double") * ww <= logAbs))
    val posStraddle = sumArr(transform(
      filter(pos, b => b.getField("idx").cast("double") * ww > logAbs &&
        (b.getField("idx").cast("double") - 1.0) * ww < logAbs),
      b => b.getField("c") * (logAbs - (b.getField("idx").cast("double") - 1.0) * ww) / ww))
    val posFullG = when(v <= 0.0, lit(0.0)).otherwise(posFull)
    val posStraddleG = when(v <= 0.0, lit(0.0)).otherwise(posStraddle)

    // association matters for oracle determinism: integer-valued parts sum
    // exactly first, the single fractional straddle term is added last
    when(h.getField("sch") === lit(-53), nhcbRankAt(v, h))
      .otherwise(((negPart + zeroPart) + posFullG) + posStraddleG)
  }

  /** ≤-v rank for custom-bucket histograms: full counts for buckets whose
    * `cb` upper bound ≤ v, plus one linearly-interpolated straddler —
    * bucket 0 starts at 0 and the +Inf bucket (idx = len(cb)) contributes
    * nothing partial (its width is infinite), matching [[nhcbQuantile]]'s
    * classic-compatible interpolation. */
  private def nhcbRankAt(v: Column, h: Column): Column = {
    val pos = h.getField("pos")
    val cb = h.getField("cb")
    val m = size(cb)
    def up(b: Column): Column =
      when(b.getField("idx") >= m, lit(Double.PositiveInfinity))
        .otherwise(element_at(cb, least(b.getField("idx"), m - 1) + 1))
    def lo(b: Column): Column =
      when(b.getField("idx") <= 0, lit(0.0))
        .otherwise(element_at(cb, least(b.getField("idx"), m)))
    val full = totalOf(filter(pos, b => up(b) <= v))
    val straddle = sumArr(transform(
      filter(pos, b => lo(b) < v && up(b) > v),
      b => b.getField("c") * (v - lo(b)) / (up(b) - lo(b))))
    full + straddle
  }

  /** histogram_fraction(lo, hi, h): estimated fraction of observations in
    * [lo, hi]. Literal-bounds overload: log2 constants are computed once on
    * the JVM so oracle SQL can inline the identical literals. */
  def fraction(lo: Double, hi: Double, h: Column): Column =
    fractionWithLogs(lit(lo), lit(log2c(lo)), lit(hi), lit(log2c(hi)), h)

  /** log2(|v|) as the JVM computes it; exposed so query oracles can embed
    * the very same constant. */
  def log2c(v: Double): Double = math.log(math.abs(v)) / math.log(2.0)

  def fractionWithLogs(lo: Column, logLo: Column, hi: Column, logHi: Column, h: Column): Column = {
    val cnt = h.getField("cnt")
    when(isnan(lo) || isnan(hi) || cnt === 0.0, lit(Double.NaN))
      .when(lo >= hi, lit(0.0))
      .otherwise(greatest(lit(0.0), least(lit(1.0),
        (rankAt(hi, logHi, h) - rankAt(lo, logLo, h)) / cnt)))
  }

  /** Estimated variance of the observations (histogram_stdvar): every
    * observation in an exponential bucket is assumed at the bucket's
    * geometric midpoint √(lower·upper) (mirrored for negative buckets, 0 for
    * the zero bucket — promql/functions.go funcHistogramStdDev/StdVar), and
    * the population variance Σ c·(mid − mean)² / count is taken against the
    * true mean sum/count. */
  def stdvar(h: Column): Column =
    // cnt = 0 → NaN up front: both divisions below would otherwise abort
    // the query under Spark ANSI mode (CaseWhen keeps them unevaluated)
    when(h.getField("cnt") === 0.0, lit(Double.NaN)).otherwise(stdvar0(h))

  private def stdvar0(h: Column): Column = {
    val ww = w(h)
    val mean = h.getField("hsum") / h.getField("cnt")
    def term(mid: Column, c: Column) = c * (mid - mean) * (mid - mean)
    // geometric midpoint of (2^((i-1)w), 2^(i·w)] is 2^((i-1/2)·w)
    val posV = aggregate(h.getField("pos"), lit(0.0), (acc, b) =>
      acc + term(pow(lit(2.0), (b.getField("idx").cast("double") - 0.5) * ww), b.getField("c")))
    val negV = aggregate(h.getField("neg"), lit(0.0), (acc, b) =>
      acc + term(-pow(lit(2.0), (b.getField("idx").cast("double") - 0.5) * ww), b.getField("c")))
    val zeroV = term(lit(0.0), h.getField("zcnt"))
    (posV + negV + zeroV) / h.getField("cnt")
  }

  /** histogram_stddev: √stdvar. */
  def stddev(h: Column): Column = sqrt(stdvar(h))

  // ------------------------------------------------- counter-window algebra
  // rate/increase/delta over histogram-typed samples: bucket-wise last−first
  // with counter-reset compensation (histogram.FloatHistogram.Sub/Add +
  // DetectReset in the vendored Prometheus; promql/functions.go
  // histogramRate). Sparse bucket arrays become int→double maps for the
  // arithmetic and are rebuilt sorted afterwards.

  private val emptyBucketsT = "array<struct<idx:int,c:double>>"
  private def bmap(buckets: Column): Column = map_from_entries(buckets)
  private def mAdd(a: Column, b: Column): Column =
    map_zip_with(a, b, (_, v1, v2) => coalesce(v1, lit(0.0)) + coalesce(v2, lit(0.0)))
  private def mSub(a: Column, b: Column): Column =
    map_zip_with(a, b, (_, v1, v2) => coalesce(v1, lit(0.0)) - coalesce(v2, lit(0.0)))
  private def mToBuckets(m: Column): Column =
    sort_array(transform(filter(map_entries(m), e => e.getField("value") =!= 0.0),
      e => struct(e.getField("key").as("idx"), e.getField("value").as("c"))))

  // ------------------------------------------------- schema (resolution) mixing
  // Native histograms may change resolution mid-series (the scraper reduces
  // the schema as bucket counts grow). Window algebra over mixed schemas
  // converts everything to the COARSEST (minimum) schema first — Prometheus'
  // reduction rule (model/histogram: a bucket at schema s maps into the
  // coarser schema t by targetIdx = ((idx−1) >> (s−t)) + 1, exact because
  // coarser buckets are unions of 2^(s−t) finer ones).

  private def floorDivC(a: Column, b: Column): Column = (a - pmod(a, b)) / b

  /** Coarsen a sorted bucket array by `shift` schema steps (shift ≤ 0 is the
    * identity). Source buckets fold in ascending idx order, so counts
    * landing in the same target bucket add in a deterministic order. */
  private def reduceBuckets(arr: Column, shift: Column): Column = {
    val emptyM = map_from_entries(array().cast(emptyBucketsT))
    val two = pow(lit(2.0), shift.cast("double")).cast("int")
    when(shift <= 0, arr).otherwise(
      mToBuckets(aggregate(arr, emptyM, (acc, b) => mAdd(acc,
        map((floorDivC(b.getField("idx") - 1, two) + 1).cast("int"),
          b.getField("c"))))))
  }

  /** `h` converted to (coarser-or-equal) schema `sch`. Custom-bucket
    * histograms (schema −53) never mix with exponential schemas — upstream
    * treats the combination as an error/reset — so `cb` passes through. */
  def toSchema(h: Column, sch: Column): Column =
    when(h.getField("sch") <=> sch, h).otherwise(struct(
      h.getField("cnt").as("cnt"), h.getField("hsum").as("hsum"),
      sch.as("sch"), h.getField("zthr").as("zthr"),
      h.getField("zcnt").as("zcnt"),
      reduceBuckets(h.getField("pos"), h.getField("sch") - sch).as("pos"),
      reduceBuckets(h.getField("neg"), h.getField("sch") - sch).as("neg"),
      h.getField("cb").as("cb")))

  /** A counter reset happened iff any count shrank (total, zero bucket, or
    * any exponential bucket — a vanished bucket counts as a drop). Mixed
    * resolutions: a schema INCREASE (finer than the predecessor) can only
    * mean a restart — counters only ever coarsen — so it is a reset; a
    * schema reduction compares bucket-wise after coarsening the
    * predecessor to the current schema.
    *
    * Zero-threshold changes (Prometheus FloatHistogram.DetectReset):
    *  - a zthr DECREASE is a reset (the zero bucket can only ever widen);
    *  - a zthr increase first reconciles: prev buckets lying entirely
    *    inside curr's wider zero bucket fold into prev's zero count before
    *    the zcnt comparison and are excluded from the bucket-wise compare;
    *    a populated prev bucket STRADDLING the new threshold cannot be
    *    split, so that is a reset too. The fold/trim runs at prev's
    *    original schema (bucket bounds are schema-dependent), then the
    *    trimmed remainder coarsens for the compare. */
  def detectReset(curr: Column, prev: Column): Column = {
    def drop(p: Column, c: Column): Column =
      aggregate(p, lit(false), (acc, pb) => acc ||
        coalesce(element_at(bmap(c), pb.getField("idx")), lit(0.0)) < pb.getField("c"))
    def drops(p: Column): Column =
      drop(p.getField("pos"), curr.getField("pos")) ||
        drop(p.getField("neg"), curr.getField("neg"))
    val cz = curr.getField("zthr"); val pz = prev.getField("zthr")
    val pSch = prev.getField("sch")
    // exponential-bucket |bound|: upper(idx) = 2^(idx / 2^sch)
    def ub(idx: Column): Column =
      pow(lit(2.0), idx.cast("double") / pow(lit(2.0), pSch.cast("double")))
    def foldZ(bs: Column): Column =
      aggregate(bs, lit(0.0), (acc, b) =>
        acc + when(ub(b.getField("idx")) <= cz, b.getField("c")).otherwise(lit(0.0)))
    def straddles(bs: Column): Column =
      aggregate(bs, lit(false), (acc, b) => acc ||
        (b.getField("c") =!= 0.0 &&
          ub(b.getField("idx") - 1) < cz && ub(b.getField("idx")) > cz))
    val widened = cz > pz
    val foldedZ = when(widened,
      foldZ(prev.getField("pos")) + foldZ(prev.getField("neg"))).otherwise(lit(0.0))
    def trim(bs: Column): Column =
      when(widened, filter(bs, b => ub(b.getField("idx")) > cz)).otherwise(bs)
    val prevT = struct(
      prev.getField("cnt").as("cnt"), prev.getField("hsum").as("hsum"),
      pSch.as("sch"), pz.as("zthr"), prev.getField("zcnt").as("zcnt"),
      trim(prev.getField("pos")).as("pos"), trim(prev.getField("neg")).as("neg"),
      prev.getField("cb").as("cb"))
    // custom-bounds mismatch (incl. NHCB↔exponential switches) is a reset —
    // upstream FloatHistogram.DetectReset's UsesCustomBuckets/
    // FloatBucketsMatch guard
    !(curr.getField("cb") <=> prev.getField("cb")) ||
      curr.getField("sch") > prev.getField("sch") ||
      curr.getField("cnt") < prev.getField("cnt") ||
      cz < pz ||
      when(widened,
        straddles(prev.getField("pos")) || straddles(prev.getField("neg")))
        .otherwise(lit(false)) ||
      curr.getField("zcnt") < prev.getField("zcnt") + foldedZ ||
      // equal schemas (the overwhelmingly common case) compare directly;
      // the coarsening conversion only evaluates on actual mixed pairs
      when(curr.getField("sch") <=> prev.getField("sch"), drops(prevT))
        .otherwise(drops(toSchema(prevT, curr.getField("sch"))))
  }

  /** Ts-ordered pre-reset histograms over the consecutive pairs of `sorted`
    * (ts-ascending array of struct(ts_ms, sample_id, h)) — the additive
    * reset-compensation terms of the counter-increase convention, EXPOSED so
    * the downsample layer can persist them per window
    * ([[graft.etl.Downsample.histLayer]]): a fold over a recomposed
    * window-ordered concatenation of these lists replays the raw scan's
    * float additions in the same order, which is what keeps layer-served
    * histogram rates bit-identical (float addition does not associate, so
    * partial SUMS could not be stored — the term lists can). */
  def resetList(sorted: Column): Column = {
    val n = size(sorted)
    val prevs = slice(sorted, lit(1), greatest(n - 1, lit(0)))
    val currs = slice(sorted, lit(2), greatest(n - 1, lit(0)))
    filter(zip_with(prevs, currs, (a, b) =>
      when(detectReset(b.getField("h"), a.getField("h")), a.getField("h"))),
      x => x.isNotNull)
  }

  /** Bucket-wise `last − first` plus the left-fold of the (already
    * schema-normalized) pre-reset histograms `rp`. The fold order is the
    * Prometheus scan order — callers recomposing from a layer must
    * concatenate per-window lists and boundary terms in ts order to stay
    * bit-identical. Inputs MUST share one schema (see [[stageDelta]]). */
  private def deltaCore(first: Column, last: Column, rp: Column): Column = {
    val emptyM = map_from_entries(array().cast(emptyBucketsT))
    def sumF(f: String) = aggregate(rp, lit(0.0), (acc, x) => acc + x.getField(f))
    def sumM(f: String) = aggregate(rp, emptyM, (acc, x) => mAdd(acc, bmap(x.getField(f))))
    struct(
      (last.getField("cnt") - first.getField("cnt") + sumF("cnt")).as("cnt"),
      (last.getField("hsum") - first.getField("hsum") + sumF("hsum")).as("hsum"),
      last.getField("sch").as("sch"),
      last.getField("zthr").as("zthr"),
      (last.getField("zcnt") - first.getField("zcnt") + sumF("zcnt")).as("zcnt"),
      mToBuckets(mAdd(mSub(bmap(last.getField("pos")), bmap(first.getField("pos"))), sumM("pos"))).as("pos"),
      mToBuckets(mAdd(mSub(bmap(last.getField("neg")), bmap(first.getField("neg"))), sumM("neg"))).as("neg"),
      last.getField("cb").as("cb"))
  }

  /** Mixed-resolution window delta, staged through NAMED columns: every
    * participant coarsens to the window's MINIMUM schema ([[toSchema]] —
    * Prometheus' reduction rule), then [[deltaCore]] runs over the
    * converted attributes. Staging matters: inlining the conversion as one
    * Column expression duplicates the fold trees into every consumer
    * (deltaCore reads `rp` five times, toSchema reads its input seven) and
    * the multiplied tree reached tens of MiB of task binary; Catalyst's
    * CollapseProject keeps non-cheap ALIASES shared, so the staged form
    * stays small. Intermediates are dropped; `out` carries the delta. */
  def stageDelta(df: DataFrame, first0: Column, last0: Column, rp0: Column,
                 out: String): DataFrame = {
    val tmp = Seq("__h_first0", "__h_last0", "__h_rp0", "__h_minsch",
      "__h_first", "__h_last", "__h_rp")
    df.withColumn("__h_first0", first0)
      .withColumn("__h_last0", last0)
      .withColumn("__h_rp0", rp0)
      .withColumn("__h_minsch", least(
        col("__h_first0").getField("sch"), col("__h_last0").getField("sch"),
        array_min(transform(col("__h_rp0"), x => x.getField("sch")))))
      .withColumn("__h_first", toSchema(col("__h_first0"), col("__h_minsch")))
      .withColumn("__h_last", toSchema(col("__h_last0"), col("__h_minsch")))
      .withColumn("__h_rp",
        transform(col("__h_rp0"), x => toSchema(x, col("__h_minsch"))))
      .withColumn(out, deltaCore(col("__h_first"), col("__h_last"), col("__h_rp")))
      .drop(tmp: _*)
  }

  private def emptyHArr: Column = array().cast(
    org.apache.spark.sql.types.ArrayType(graft.functions.HistChunk.HistType))

  /** Replay a win_start-SORTED array of window summaries — struct fields
    * `fh` (first histogram), `lh` (last), `rs` (in-window pre-reset list) —
    * into the flat ts-ordered pre-reset list of the whole span: per window,
    * the boundary reset against the previous window's last sample (when
    * [[detectReset]] fires) precedes the window's own list, exactly the
    * positions those pairs hold in a raw scan. Shared by the layer query
    * route and the fine→coarse layer compaction, which is what keeps both
    * bit-identical to raw. `hT` is the store's h struct type. */
  def replayResets(ws: Column, hT: org.apache.spark.sql.types.DataType): Column = {
    val hArrT = org.apache.spark.sql.types.ArrayType(hT)
    aggregate(ws,
      struct(array().cast(hArrT).as("arr"), lit(null).cast(hT).as("pl")),
      (acc, w) => struct(
        concat(acc.getField("arr"),
          when(acc.getField("pl").isNotNull &&
            detectReset(w.getField("fh"), acc.getField("pl")),
            array(acc.getField("pl"))).otherwise(array().cast(hArrT)),
          w.getField("rs")).as("arr"),
        w.getField("lh").as("pl"))).getField("arr")
  }

  /** [[stageDelta]] over a ts-sorted sample array column (struct(ts_ms,
    * sample_id, h)); for counters, each reset adds the pre-reset histogram
    * back (the Prometheus counter-increase convention). */
  def stageWindowDelta(df: DataFrame, sorted: Column, isCounter: Boolean,
                       out: String): DataFrame =
    stageDelta(df, element_at(sorted, 1).getField("h"),
      element_at(sorted, -1).getField("h"),
      if (isCounter) resetList(sorted) else emptyHArr, out)

  /** Single-Column form of the window delta (tests / small plans). Prefer
    * [[stageWindowDelta]] in engine paths — see the staging note. */
  def windowDelta(sorted: Column, isCounter: Boolean): Column = {
    val first = element_at(sorted, 1).getField("h")
    val last  = element_at(sorted, -1).getField("h")
    val rp0 = if (isCounter) resetList(sorted) else emptyHArr
    val minSch = least(first.getField("sch"), last.getField("sch"),
      array_min(transform(rp0, x => x.getField("sch"))))
    deltaCore(toSchema(first, minSch), toSchema(last, minSch),
      transform(rp0, x => toSchema(x, minSch)))
  }

  /** Uniformly scale a histogram's counts and sum (rate's ÷range and the
    * extrapolation multiplier). */
  def scale(h: Column, f: Column): Column = struct(
    (h.getField("cnt") * f).as("cnt"),
    (h.getField("hsum") * f).as("hsum"),
    h.getField("sch").as("sch"),
    h.getField("zthr").as("zthr"),
    (h.getField("zcnt") * f).as("zcnt"),
    transform(h.getField("pos"), b =>
      struct(b.getField("idx").as("idx"), (b.getField("c") * f).as("c"))).as("pos"),
    transform(h.getField("neg"), b =>
      struct(b.getField("idx").as("idx"), (b.getField("c") * f).as("c"))).as("neg"),
    h.getField("cb").as("cb"))

  /** Build per-group native histograms from non-negative integer
    * observations (`obsUnits`, e.g. cents), schema 0 (base-2 buckets).
    * Integer-domain throughout — bucket index is the bit length of obs−1
    * (obs ∈ (2^(i−1), 2^i] ⇔ i = bitlen(obs−1)), counts and sums are exact
    * longs — so any engine derives the identical histogram. The single
    * closing division by `unitScale` is the only fp op.
    *
    * This is the ingest-side shape a 100 TB corpus needs: one hash
    * aggregation at (group, idx) grain, one at group grain — no sort, no
    * per-row state. */
  def fromObservations(df: DataFrame, keyCols: Seq[String], obsUnits: Column,
                       unitScale: Double, zthr: Double = 0.001953125): DataFrame = {
    val key = keyCols.map(col)
    val base = df.select(key :+ obsUnits.cast("long").as("__graft_obs"): _*)
    val idx = when(col("__graft_obs") === 1L, 0)
      .otherwise(length(conv((col("__graft_obs") - 1L).cast("string"), 10, 2)))
      .cast("int")
    val posm = base.filter(col("__graft_obs") > 0L)
      .groupBy(key :+ idx.as("__graft_idx"): _*)
      .agg(count(lit(1)).cast("double").as("__graft_c"))
      .groupBy(key: _*)
      .agg(sort_array(collect_list(struct(
        col("__graft_idx").as("idx"), col("__graft_c").as("c")))).as("pos"))
    val scal = base.groupBy(key: _*).agg(
      count(lit(1)).cast("double").as("cnt"),
      sum(col("__graft_obs")).as("__graft_usum"),
      sum(when(col("__graft_obs") === 0L, 1L).otherwise(0L)).cast("double").as("zcnt"))
    scal.join(posm, keyCols, "left")
      .select(key :+ struct(
        col("cnt"),
        (col("__graft_usum").cast("double") / unitScale).as("hsum"),
        lit(0).as("sch"),
        lit(zthr).as("zthr"),
        col("zcnt"),
        coalesce(col("pos"), array().cast("array<struct<idx:int,c:double>>")).as("pos"),
        array().cast("array<struct<idx:int,c:double>>").as("neg"),
        lit(null).cast("array<double>").as("cb")).as("h"): _*)
  }

  /** Bucket-wise histogram sum across rows of a group (the `sum()` PromQL
    * aggregation over histogram-typed series, FloatHistogram.Add). Schemas
    * must match (callers built via fromObservations always do); zthr merges
    * by max. Three hash aggregations at group/(group,idx) grain — the
    * natural scale-safe merge shape. */
  def merge(df: DataFrame, keyCols: Seq[String], hCol: String = "h"): DataFrame = {
    val key = keyCols.map(col)
    // Bucket indices at different schemas are incomparable: every
    // participant coarsens to the GROUP's minimum schema before the
    // bucket-wise addition (FloatHistogram.Add's reduction rule), staged
    // once per row — toSchema reads its input many times.
    val win = org.apache.spark.sql.expressions.Window.partitionBy(key: _*)
    val src = df
      .withColumn("__graft_minsch", min(col(s"$hCol.sch")).over(win))
      .withColumn("__graft_hm", toSchema(col(hCol), col("__graft_minsch")))
      .drop("__graft_minsch")
    def side(field: String): DataFrame =
      src.select(key :+ explode(col(s"__graft_hm.$field")).as("b"): _*)
        .groupBy(key :+ col("b.idx").as("__graft_idx"): _*)
        .agg(sum(col("b.c")).as("__graft_c"))
        // compaction: a bucket whose counts cancel to exactly 0 is removed,
        // like FloatHistogram.Compact — visible only under subtraction
        // (positive addends never sum to 0), where upstream prunes too
        .filter(col("__graft_c") =!= 0.0)
        .groupBy(key: _*)
        .agg(sort_array(collect_list(struct(
          col("__graft_idx").as("idx"), col("__graft_c").as("c")))).as(field))
    val scal = src.groupBy(key: _*).agg(
      sum(col("__graft_hm.cnt")).as("cnt"),
      sum(col("__graft_hm.hsum")).as("hsum"),
      min(col("__graft_hm.sch")).as("sch"),
      max(col("__graft_hm.zthr")).as("zthr"),
      sum(col("__graft_hm.zcnt")).as("zcnt"),
      // NHCB participants of one group must share bounds (upstream Add
      // errors on a custom-bounds mismatch), so any row's copy is THE copy
      first(col("__graft_hm.cb")).as("cb"))
    val empty = array().cast("array<struct<idx:int,c:double>>")
    scal.join(side("pos"), keyCols, "left").join(side("neg"), keyCols, "left")
      .select(key :+ struct(
        col("cnt"), col("hsum"), col("sch"), col("zthr"), col("zcnt"),
        coalesce(col("pos"), empty).as("pos"),
        coalesce(col("neg"), empty).as("neg"), col("cb")).as(hCol): _*)
  }

}
