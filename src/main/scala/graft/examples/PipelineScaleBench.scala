package graft.examples

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{TextOps, VectorOps}
import graft.sources.Tables

/** Scale rehearsal for the LLM-pipeline dedup/ANN/text families — the
  * [[TsdbReadBench]] analog for the other half of the repo. The registry's
  * correctness fixtures are 500 docs / 200 vectors; this bench synthesizes
  * millions of documents and vectors (sparse planted near-duplicates, the
  * distribution dedup actually faces) and runs the REGISTRY entries
  * end-to-end, instrumented:
  *
  *   - wall seconds per query (result consumed with count(), never collect),
  *   - total shuffle read/write bytes (SparkListener task metrics),
  *   - peak per-task record count (a skew/explosion canary),
  *   - total task-result bytes returned to the driver (must stay ~0: the
  *     whole point of the r18/r19 scale-killer hunts),
  *   - LSH candidate-pair counts, asserted SUB-QUADRATIC in corpus size —
  *     the single number that decides whether a dedup survives 100 TB.
  *
  * Two deliberate scale notes (measured, not hidden):
  *   - `dd_embed_cosine` as registered blocks on a FIXED 8-bit hyperplane
  *     signature: candidate pairs grow ~37·n²/256, fine at fixture scale,
  *     quadratic at millions. The bench runs it verbatim at `smallVecs` and
  *     runs the same operator WIDENED (24-bit signature via the existing
  *     `VectorOps.lshBucket(dim, planes)` knob, candidates joined as bare
  *     (id, probe) pairs with vectors fetched per-candidate afterwards — the
  *     dd_minhash_lsh verify shape) at the full vector count: ~301·n²/2²⁴
  *     candidates, sub-quadratic head-room to billions by adding planes.
  *   - `dd_cluster` bands a 64-bit simhash into 4×16 bits: random collisions
  *     ~4·n²/2¹⁶ — it runs here at 1M docs; wider/fewer bands is the same
  *     knob at larger n.
  *
  * Usage: `runMain graft.examples.PipelineScaleBench [docs] [vecs]
  * [clusterDocs] [smallVecs]` (defaults 5M / 1M / 1M / 32k).
  * Prints one JSON line; exits nonzero on any assertion failure.
  * `SPARK_PIPESCALE_ROOT=<dir>` pins the corpus location (generated only
  * when absent, so long runs can be split); `SPARK_PIPESCALE_ONLY=a,b`
  * restricts to the named phases (`gen`, query names, `minhash_cands`,
  * `embed24`).
  */
object PipelineScaleBench {

  private final class MetricsListener extends SparkListener {
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val peakTaskRecords = new AtomicLong
    val resultBytes = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        resultBytes.addAndGet(m.resultSize)
        val rec = math.max(m.shuffleReadMetrics.recordsRead, m.inputMetrics.recordsRead)
        var p = peakTaskRecords.get()
        while (rec > p && !peakTaskRecords.compareAndSet(p, rec)) p = peakTaskRecords.get()
      }
    }
    def reset(): Unit = {
      shuffleRead.set(0); shuffleWrite.set(0); peakTaskRecords.set(0); resultBytes.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toInt else 5000000
    val nVecs = if (args.length > 1) args(1).toInt else 1000000
    val nClusterDocs = if (args.length > 2) args(2).toInt else 1000000
    val nSmallVecs = if (args.length > 3) args(3).toInt else 32768
    val spark = graft.GraftSession()
    // Scale-adaptive partitioning (guide §2.2/§9): the former fixed
    // shuffle.partitions=32 sized reduce partitions at data-size/32 — at
    // 5M docs dd_ngram_jaccard's ~13 GB posting-list exchange meant ~420 MB
    // of sort state per task × 32 concurrent tasks on one 8 GB heap =
    // UNABLE_TO_ACQUIRE_MEMORY (measured, r22). 256 initial partitions cap
    // per-task state at ~50 MB there, and AQE coalescing (on by default,
    // advisory 64 MB) folds small shuffles back down, so tiny stages don't
    // pay 256 tasks. This is the bench harness config, not a query change;
    // `Bench` at sf0.1 keeps partitions = cpus.
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    // ---------------------------------------------------------- generators
    // Documents: mostly-unique synthetic text (hashed 200k-word vocabulary,
    // 40–80 words/doc) with SPARSE planted near-duplicates — in every block
    // of 20 ids, id%20==1 is a near-copy of the block leader (same seed, one
    // extra variant token → shingle-jaccard ≈ 0.85). Everything is hash
    // expressions: the generator is itself distributed, zero driver loops.
    def writeDocs(dir: String, n: Long): Unit = {
      val seed0 = when(pmod(col("id"), lit(20)) <= 1,
        col("id") - pmod(col("id"), lit(20))).otherwise(col("id"))
      // benchmark-contamination plants (r22, for the hygiene family): per
      // 1000 ids, id%1000==2/502 are HELD-OUT docs (sources src0/src1 — the
      // names tx_contamination/tx_bloom_decontam treat as the benchmark)
      // and id%1000==3/503 are TRAINING docs with the identical text (same
      // seed ⇒ every 8-gram overlaps). Disjoint from the %20 near-dup
      // scheme (2, 3 mod 20 are plain ids there).
      val seed = when(pmod(col("id"), lit(1000)).isin(3, 503), col("id") - 1)
        .otherwise(seed0)
      spark.range(n)
        .withColumn("seed", seed)
        .withColumn("nw", (pmod(hash(col("seed")), lit(41)) + lit(40)).cast("int"))
        .withColumn("words", transform(sequence(lit(1), col("nw")),
          i => concat(lit("w"), pmod(hash(col("seed"), i), lit(200000)).cast("string"))))
        .withColumn("words", when(pmod(col("id"), lit(20)) === 1,
            concat(col("words"), array(concat(lit("x"), col("id").cast("string")))))
          .otherwise(col("words")))
        .withColumn("text", concat_ws(" ", col("words")))
        .select(col("id").as("doc_id"), col("text"),
          element_at(array(lit("en"), lit("de"), lit("fr"), lit("es")),
            (pmod(hash(col("id"), lit(7)), lit(4)) + 1).cast("int")).as("lang"),
          when(pmod(col("id"), lit(1000)) === 2, lit("src0"))
            .when(pmod(col("id"), lit(1000)) === 502, lit("src1"))
            .otherwise(element_at(array(lit("web"), lit("wiki"), lit("news")),
              (pmod(hash(col("id"), lit(13)), lit(3)) + 1).cast("int"))).as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    // Embeddings: random-direction 64-dim vectors (pairwise cosine ~N(0,1/8),
    // so genuine near-dups are rare) with the same sparse planted-dup scheme:
    // id%20==1 copies id-1 plus 1% noise (cosine ≈ 0.999).
    def writeVecs(dir: String, n: Long): Unit = {
      val seed = when(pmod(col("id"), lit(20)) === 1, col("id") - 1).otherwise(col("id"))
      spark.range(n)
        .withColumn("seed", seed)
        .withColumn("embedding", transform(sequence(lit(1), lit(64)),
          j => (sin(hash(col("seed"), j).cast("double")) +
            when(pmod(col("id"), lit(20)) === 1,
              sin(hash(col("id"), j).cast("double")) * lit(0.01e0))
              .otherwise(lit(0.0e0))).cast("float")))
        .select(col("id").as("vec_id"), col("embedding"),
          pmod(col("id"), lit(256)).cast("int").as("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }

    val only = sys.env.get("SPARK_PIPESCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    def phase(name: String): Boolean = only.isEmpty || only(name)
    val (dirA, dirB) = sys.env.get("SPARK_PIPESCALE_ROOT") match {
      case Some(root) =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
        (s"$root/a", s"$root/b")
      case None =>
        (java.nio.file.Files.createTempDirectory("graft-pipescale-a").toString,
         java.nio.file.Files.createTempDirectory("graft-pipescale-b").toString)
    }
    val g0 = System.nanoTime()
    if (phase("gen") &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dirB/embeddings.parquet"))) {
      writeDocs(dirA, nDocs); writeVecs(dirA, nVecs)
      writeDocs(dirB, nClusterDocs); writeVecs(dirB, nSmallVecs)
    }
    val genSec = (System.nanoTime() - g0) / 1e9

    // ------------------------------------------------------------- harness
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    // driver-result cap: broadcast builds legitimately collect their small
    // side to the driver (bounded by design), so the cap has headroom above
    // the broadcast threshold — it exists to catch an UNBOUNDED full-result
    // materialization, which at these corpus sizes would be gigabytes
    def timed(name: String, maxResultMb: Double = 256.0)(df: => DataFrame): Long = {
      spark.catalog.clearCache()
      listener.reset()
      val t0 = System.nanoTime()
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are posted asynchronously; give the bus a beat
      Thread.sleep(300)
      val resMb = listener.resultBytes.get / 1e6
      if (resMb > maxResultMb)
        failures += f"$name: $resMb%.1f MB returned to the driver (cap $maxResultMb)"
      results(name) = Map(
        "sec" -> math.rint(sec * 100) / 100, "rows" -> rows,
        "shuffle_read_mb" -> math.rint(listener.shuffleRead.get / 1e4) / 100,
        "shuffle_write_mb" -> math.rint(listener.shuffleWrite.get / 1e4) / 100,
        "peak_task_rows" -> listener.peakTaskRecords.get,
        "driver_result_mb" -> math.rint(resMb * 100) / 100)
      println(s"[pipescale] $name: ${results(name)}")
      rows
    }
    def q(name: String, dir: String): DataFrame = graft.SparkEntry.queries(name)(spark, dir)

    // noop-sink variant (guide §1.4) for the r22 phases: count() lets the
    // optimizer PRUNE derived columns and whole subtrees — tx_quality's
    // entire expression stack and dd_line_dedup's reassembly vanish under
    // count(), so those walls would measure the scan, not the operator.
    // The noop write computes every column of every row. Row counts for
    // assertions come from an untimed count() afterwards (per-query
    // persists are still cached then); the returned shuffle and peak-task
    // figures are snapshots taken before it, so bounds checked against
    // them measure the noop write alone.
    // The r21-comparable phases above keep count() so their cross-round
    // rows stay like-for-like.
    final case class NoopRun(rows: Long, shuffleWrite: Long, peakTaskRows: Long)
    def timedNoop(name: String, needRows: Boolean = false,
                  maxResultMb: Double = 256.0)(df: => DataFrame): NoopRun = {
      spark.catalog.clearCache()
      listener.reset()
      val t0 = System.nanoTime()
      val d = df // construction (incl. any bloom/count dispatch) is timed
      d.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      val resMb = listener.resultBytes.get / 1e6
      if (resMb > maxResultMb)
        failures += f"$name: $resMb%.1f MB returned to the driver (cap $maxResultMb)"
      val (shuf, peak) = (listener.shuffleWrite.get, listener.peakTaskRecords.get)
      results(name) = Map(
        "sec" -> math.rint(sec * 100) / 100,
        "shuffle_read_mb" -> math.rint(listener.shuffleRead.get / 1e4) / 100,
        "shuffle_write_mb" -> math.rint(shuf / 1e4) / 100,
        "peak_task_rows" -> peak,
        "driver_result_mb" -> math.rint(resMb * 100) / 100)
      val rows = if (needRows) d.count() else -1L
      if (needRows) results(name) = results(name) + ("rows" -> rows)
      println(s"[pipescale] $name: ${results(name)}")
      NoopRun(rows, shuf, peak)
    }

    // ------------------------------------------------ registry entries
    if (phase("tx_unigram_freq")) timed("tx_unigram_freq")(q("tx_unigram_freq", dirA))
    if (phase("dd_minhash_lsh")) {
      val minhashRows = timed("dd_minhash_lsh")(q("dd_minhash_lsh", dirA))
      if (minhashRows < nDocs / 40)
        failures += s"dd_minhash_lsh found too few planted dups: $minhashRows"
    }
    if (phase("dd_cluster")) timed("dd_cluster")(q("dd_cluster", dirB))
    if (phase("dd_cluster_wide")) timed("dd_cluster_wide")(q("dd_cluster_wide", dirB))
    if (phase("ss_ivf_topk")) timed("ss_ivf_topk")(q("ss_ivf_topk", dirA))
    if (phase("dd_embed_cosine_8bit_small"))
      timed("dd_embed_cosine_8bit_small")(q("dd_embed_cosine", dirB))

    // --------------------------- hygiene family at corpus scale (r21 #5)
    // tx_contamination / tx_bloom_decontam: the benchmark side is the
    // planted src0/src1 slice (~nDocs/500 docs); the train side must stay
    // map-side up to the per-doc hit count — assert the shuffle moves hit
    // rows (~overlapping docs × shingles), never the exploded train corpus
    // (~60·nDocs rows ≈ 25 B each). dd_line_dedup: the C4 segment-dedup
    // window legitimately shuffles every segment ONCE — assert it stays
    // within a small multiple of the corpus bytes and that no task sees a
    // super-linear row count (skew canary).
    if (phase("tx_contamination")) {
      val NoopRun(rows, shuf, _) =
        timedNoop("tx_contamination", needRows = true)(q("tx_contamination", dirA))
      if (rows < nDocs / 1000)
        failures += s"tx_contamination missed planted contaminated docs: $rows"
      if (shuf > 16L * nDocs) // exploded train side would be ~1.5 KB/doc
        failures += s"tx_contamination shuffled the train corpus: $shuf B"
    }
    if (phase("tx_bloom_decontam")) {
      val NoopRun(rows, shuf, _) =
        timedNoop("tx_bloom_decontam", needRows = true)(q("tx_bloom_decontam", dirA))
      if (rows < nDocs / 2) // returns every train doc with its flag
        failures += s"tx_bloom_decontam lost train docs: $rows"
      if (shuf > 16L * nDocs)
        failures += s"tx_bloom_decontam shuffled past the bloom prefilter: $shuf B"
    }
    if (phase("dd_line_dedup")) {
      val NoopRun(rows, shuf, peak) =
        timedNoop("dd_line_dedup", needRows = true)(q("dd_line_dedup", dirA))
      if (rows != nDocs)
        failures += s"dd_line_dedup row count: $rows != $nDocs"
      val corpusBytes = 450L * nDocs // ~60 words × ~7 chars
      if (shuf > 8L * corpusBytes)
        failures += s"dd_line_dedup shuffle super-linear: $shuf B"
      if (peak > math.max(4L * 8 * nDocs / 32, 1L << 22))
        failures += s"dd_line_dedup skewed task: $peak rows"
    }
    if (phase("dd_ngram_jaccard")) {
      val shuf = timedNoop("dd_ngram_jaccard")(q("dd_ngram_jaccard", dirA)).shuffleWrite
      val corpusBytes = 450L * nDocs
      if (shuf > 16L * corpusBytes)
        failures += s"dd_ngram_jaccard shuffle super-linear: $shuf B"
    }
    // per-task CPU probes for the codegen'd token counters (r21 #3): pure
    // map-side queries, so the noop wall IS the per-task expression cost.
    // The *_hof twins run the r21 interpreted-lambda formulation (bench-only
    // baseline; the registry runs the codegen form) — same split/trim/lower
    // inputs, so the wall delta isolates the counting expressions.
    if (phase("tx_quality")) timedNoop("tx_quality")(q("tx_quality", dirA))
    if (phase("tx_gopher_filter")) timedNoop("tx_gopher_filter")(q("tx_gopher_filter", dirA))
    val STOP_IN = Seq("the", "a", "and", "of", "to", "in", "is")
      .map(s => s"'$s'").mkString(", ")
    if (phase("tx_quality_hof")) timedNoop("tx_quality_hof") {
      val toks = split(lower(trim(col("text"))), "\\s+")
      val nTok = size(toks)
      val nStop = size(expr(
        s"filter(split(lower(trim(text)), '\\\\s+'), x -> x IN ($STOP_IN))"))
      val nAlpha = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
      Tables(spark, dirA).documents.select(
          col("doc_id"), nTok.cast("long").as("n_tok"),
          (nStop.cast("double") / nTok).as("stop_ratio"),
          (nAlpha.cast("double") / length(col("text"))).as("alpha_ratio"))
        .withColumn("quality",
          lit(0.5e0) * col("stop_ratio") + lit(0.5e0) * col("alpha_ratio"))
        .orderBy(col("doc_id")) // registry twin has the same sort
    }
    if (phase("tx_gopher_filter_hof")) timedNoop("tx_gopher_filter_hof") {
      val toksLower = split(lower(trim(col("text"))), "\\s+")
      val nTok = size(toksLower).cast("long")
      val meanWordLen = length(regexp_replace(trim(col("text")), "\\s+", "")).cast("double") / nTok
      val nAlphaWord = size(expr(
        "filter(split(trim(text), '\\\\s+'), x -> x rlike '[A-Za-z]')"))
      Tables(spark, dirA).documents.select(
          col("doc_id"), nTok.as("n_tok"), meanWordLen.as("mean_wlen"),
          (nAlphaWord.cast("double") / nTok).as("alpha_word_ratio"),
          (size(array_distinct(toksLower)).cast("double") / nTok).as("ttr"))
        .withColumn("keep",
          col("n_tok") >= 10L && col("mean_wlen") >= 3.0e0 && col("mean_wlen") <= 10.0e0 &&
            col("alpha_word_ratio") > 0.8e0 && col("ttr") > 0.2e0)
        .orderBy(col("doc_id")) // registry twin has the same sort
    }

    // candidate-pair probe for dd_minhash_lsh: the band self-join BEFORE the
    // jaccard verify — the count that must stay sub-quadratic
    var minhashCands = -1L
    if (phase("minhash_cands")) {
      spark.catalog.clearCache()
      val sets = TextOps.shingleHashSets(Tables(spark, dirA).documents)
        .select(col("doc_id"), col("hs")).persist()
      val bands = TextOps.lshBands(TextOps.minhashSignatureOf(sets))
      minhashCands = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
      sets.unpersist()
      spark.catalog.clearCache()
      if (minhashCands > 10L * nDocs)
        failures += s"dd_minhash_lsh candidates super-linear: $minhashCands > 10*$nDocs"
    }

    // --------------------- wide-signature embed near-dup (the 1M-scale path)
    // same operator, two scale knobs turned: 24 hyperplanes instead of 8
    // (candidates ~301·n²/2²⁴), and the probe explode carries bare
    // (id, probe) pairs — vectors are fetched per-CANDIDATE afterwards, so
    // the 301× explode shuffles 16-byte rows, not 512-byte vectors.
    var embedCands = 0L
    if (phase("embed24")) timed("dd_embed_cosine_24bit_full") {
      val e = VectorOps.withNormalized(
        Tables(spark, dirA).embeddings
          .select(col("vec_id"), VectorOps.vec(col("embedding")).as("v")))
        .withColumn("bucket", VectorOps.lshBucket(col("v"), 64, 24))
        .select(col("vec_id"), col("vn"), col("bucket"))
        .persist()
      val masks = VectorOps.probeMasks(24, 2)
      val a = e.select(col("vec_id").as("id1"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("probe"))
      val b = e.select(col("vec_id").as("id2"), col("bucket").as("probe"))
      val cands = a.join(b, Seq("probe")).filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"))
      embedCands = cands.count()
      cands
        .join(e.select(col("vec_id").as("id1"), col("vn").as("va")), "id1")
        .join(e.select(col("vec_id").as("id2"), col("vn").as("vb")), "id2")
        .withColumn("cos", VectorOps.dot(col("va"), col("vb")))
        .filter(col("cos") >= 0.35e0)
        .select(col("id1"), col("id2"), col("cos"))
    }
    if (phase("embed24")) {
      if (embedCands > 50L * nVecs)
        failures += s"24-bit embed candidates super-linear: $embedCands > 50*$nVecs"
      val embedHits = results("dd_embed_cosine_24bit_full")("rows").asInstanceOf[Long]
      if (embedHits < nVecs / 40)
        failures += s"24-bit embed found too few planted dups: $embedHits"
    }

    // ----------------------------------------------------------- one JSON line
    def j(v: Any): String = v match {
      case m: Map[_, _] => m.map { case (k, x) => s""""$k":${j(x)}""" }.mkString("{", ",", "}")
      case s: String => "\"" + s + "\""
      case x => String.valueOf(x)
    }
    val line = s"""{"metric":"pipeline_scale","docs":$nDocs,"vecs":$nVecs,""" +
      s""""cluster_docs":$nClusterDocs,"small_vecs":$nSmallVecs,""" +
      s""""gen_sec":${math.rint(genSec * 10) / 10},""" +
      s""""minhash_cands":$minhashCands,"embed24_cands":$embedCands,""" +
      s""""queries":${j(results.toMap)},""" +
      s""""failures":[${failures.map("\"" + _ + "\"").mkString(",")}]}"""
    println(line)
    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[pipescale] FAIL $f"))
      sys.exit(1)
    }
  }
}
