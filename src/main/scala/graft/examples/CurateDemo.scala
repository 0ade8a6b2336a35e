package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{GraphOps, TextOps}
import graft.sources.Tables

/** End-to-end training-corpus curation: the registry's operators composed as
  * the pipeline a real 100 TB pretraining-data run chains together —
  *
  *   quality filter → exact dedup → near-dup cluster dedup →
  *   benchmark-contamination filter → PII scrub →
  *   temperature-weighted sampling → sequence packing
  *
  * Every stage is the same Spark plan the corresponding oracle-gated registry
  * query uses (C4 heuristics, fingerprint first-wins, simhash Hamming bands +
  * connected components, 8-gram benchmark overlap, regex redaction, n^(1/2)
  * mixture weights, per-source token windows). `run` returns the per-stage
  * frames so tests can assert the funnel; `main` prints one DRIVE line each.
  *
  * `runMain graft.examples.CurateDemo [sfDir] [benchSources…]`
  */
object CurateDemo {

  final case class Funnel(input: Long, quality: Long, exact: Long,
                          nearDup: Long, clean: Long, sampled: Long,
                          sequences: Long)

  def run(spark: SparkSession, sfDir: String,
          benchSources: Seq[String] = Seq("src0", "src1")): (DataFrame, Funnel) = {
    val docs = Tables(spark, sfDir).documents
    val nIn = docs.count()
    val cached = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try runStages(spark, sfDir, benchSources, docs, nIn, cached)
    finally cached.foreach(_.unpersist()) // the returned frame stays cached;
    // intermediates must not accumulate executor storage across invocations
  }

  private def runStages(spark: SparkSession, sfDir: String,
                        benchSources: Seq[String], docs: DataFrame, nIn: Long,
                        cached: scala.collection.mutable.ListBuffer[DataFrame])
      : (DataFrame, Funnel) = {

    // 1. C4-style quality gate (cheap map-side signals)
    val toks = split(lower(trim(col("text"))), "\\s+")
    val nTok = size(toks).cast("long")
    val meanWordLen = length(regexp_replace(trim(col("text")), "\\s+", "")).cast("double") / nTok
    val quality = docs.filter(nTok.between(10L, 10000L) && meanWordLen < 12.0e0)
    val nQuality = quality.count()

    // 2. exact dedup: normalized 48-bit fingerprint, first-wins
    val fp = conv(substring(md5(
      lower(regexp_replace(trim(col("text")), "\\s+", " "))), 1, 12), 16, 10).cast("long")
    val exact = quality.withColumn("__fp", fp)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__fp")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__fp", "__rn")
      .persist() // simhash + cluster + downstream all read this
    cached += exact
    val nExact = exact.count()

    // 3. near-dup dedup: simhash Hamming-band candidates → connected
    // components → keep each cluster's canonical (min doc_id) member
    val sig = TextOps.simhash(exact.select("doc_id", "text"))
      .join(exact.select("doc_id", "lang", "source"), Seq("doc_id"))
    val banded = sig.select(col("doc_id"), col("lang"), col("source"), col("simhash"),
      posexplode(array((0 until 12).map(j =>
        shiftright(col("simhash"), j * 4).bitwiseAND(lit(15L))): _*))
        .as(Seq("band", "bkey")))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 10)
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst")).distinct()
    val canon = GraphOps.connectedComponents(
        exact.select(col("doc_id").as("id")), pairs)
      .filter(col("id") === col("root")).select(col("id").as("doc_id"))
    val nearDup = exact.join(canon, Seq("doc_id")).persist()
    cached += nearDup
    val nNearDup = nearDup.count()

    // 4. benchmark contamination: drop docs sharing any 8-gram with the
    // held-out sources. Two-phase at scale (tx_bloom_decontam): the bench
    // grams fold into a ~0.5 MiB bloom sketch that prunes the training side
    // MAP-SIDE, so only bloom-flagged candidates pay the explode + exact
    // broadcast join (no false negatives — might_contain misses nothing)
    val sh = nearDup.select(col("doc_id"),
      graft.functions.WordNGramHashes(split(lower(trim(col("text"))), "\\s+"), 8).as("hs"))
    val benchGrams = Tables(spark, sfDir).documents
      .filter(col("source").isin(benchSources: _*))
      .select(explode(graft.functions.WordNGramHashes(
        split(lower(trim(col("text"))), "\\s+"), 8)).as("shh")).distinct()
    val bloom = {
      import org.apache.spark.sql.graftshim
      benchGrams.agg(graftshim.bloomFilterAgg(col("shh"), 1L << 18, 1L << 22).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    }
    val dirty = sh
      .filter(exists(col("hs"), h =>
        org.apache.spark.sql.graftshim.bloomMightContain(bloom, h)))
      .select(col("doc_id"), explode(col("hs")).as("shh"))
      .join(broadcast(benchGrams), Seq("shh"))
      .select("doc_id").distinct()
    val decon = nearDup.join(dirty, Seq("doc_id"), "left_anti")
      .filter(!col("source").isin(benchSources: _*)) // benchmark never trains

    // 5. PII scrub (map-side redaction)
    val scrubbed = decon.withColumn("text",
      regexp_replace(regexp_replace(col("text"),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\b\\d{1,3}(?:\\.\\d{1,3}){3}\\b", "<IP>"))
      .persist()
    cached += scrubbed
    val nClean = scrubbed.count()

    // 6. temperature-weighted sampling: per-lang keep-rate ∝ sqrt(share),
    // decided map-side by content hash (deterministic, shuffle-free)
    val perLang = scrubbed.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("w", sqrt(col("n").cast("double")))
    val totW = perLang.agg(sum(col("w")).as("tw"))
    val rates = perLang.crossJoin(broadcast(totW))
      .select(col("lang"), least(lit(1.0),
        col("w") / col("tw") * lit(2.0)).as("keep_rate"))
    val sampled = scrubbed.join(broadcast(rates), Seq("lang"))
      .filter(pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("long"), lit(1000L)) < col("keep_rate") * 1000.0)
    val nSampled = sampled.count()

    // 7. sequence packing: per-source 2048-token windows
    val packed = sampled
      .withColumn("n_tok", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("off", sum(col("n_tok")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Long.MinValue, -1)))
      .withColumn("seq_no", floor(coalesce(col("off"), lit(0L)) / 2048.0).cast("long"))
      .persist() // survives the finally-unpersist; callers unpersist when done
    val nSeq = packed.select(col("source"), col("seq_no")).distinct().count()

    (packed, Funnel(nIn, nQuality, nExact, nNearDup, nClean, nSampled, nSeq))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val bench = if (args.length > 1) args.drop(1).toSeq else Seq("src0", "src1")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val (packed, f) = run(spark, sfDir, bench)
    println(s"DRIVE input:     ${f.input} docs")
    println(s"DRIVE quality:   ${f.quality} kept")
    println(s"DRIVE exact:     ${f.exact} kept")
    println(s"DRIVE near-dup:  ${f.nearDup} kept")
    println(s"DRIVE clean:     ${f.clean} kept (deconned + scrubbed)")
    println(s"DRIVE sampled:   ${f.sampled} kept")
    println(s"DRIVE packed:    ${f.sequences} sequences")
    val out = java.nio.file.Files.createTempDirectory("graft-curated").toString
    packed.select("doc_id", "text", "lang", "source", "seq_no")
      .repartitionByRange(col("source"), col("seq_no"))
      .write.mode("overwrite").option("compression", "zstd")
      .partitionBy("source").parquet(out)
    println(s"DRIVE wrote curated corpus to $out")
    packed.unpersist()
    spark.stop()
  }
}
