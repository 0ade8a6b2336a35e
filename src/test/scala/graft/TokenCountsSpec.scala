package graft

import org.apache.spark.sql.functions._
import graft.functions.{CountAlphaTokens, CountInSet}

/** Equivalence pins for the codegen'd token counters that replaced the
  * interpreted HOF lambdas in the tx_ quality family (r22), plus the
  * dd_minhash_lsh fetch dispatch (broadcast vs bloom-prefilter branch). */
class TokenCountsSpec extends SparkSpec {
  import spark.implicits._

  private val STOP = Seq("the", "a", "and", "of", "to", "in", "is")
  private def stopIn =
    s"filter(split(lower(trim(text)), '\\\\s+'), x -> x IN (${STOP.map(s => s"'$s'").mkString(", ")}))"

  // fixed-seed fuzz corpus: whitespace runs, unicode, empties, stopwords in
  // every case, tokens with/without ASCII letters
  private def corpus: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val words = Seq("the", "The", "THE", "a", "and", "of", "to", "in", "is",
      "fox", "Fox123", "123", "—", "héllo", "ŧøk", "...", "a1", "Z", "ß",
      "the.", "", "наука", "日本語", "x")
    (1 to 300).map { _ =>
      val n = rnd.nextInt(12)
      (1 to n).map(_ => words(rnd.nextInt(words.size)))
        .mkString(Seq(" ", "  ", "\t", " \n ")(rnd.nextInt(4)))
    } ++ Seq("", " ", "the the the", "\t\n", "no stops here at all")
  }

  test("CountInSet ≡ size(filter(toks, x -> x IN (...)))") {
    val df = corpus.toDF("text")
    val got = df.select(
      CountInSet(split(lower(trim(col("text"))), "\\s+"), STOP).as("c"),
      size(expr(stopIn)).as("e"))
    assert(got.filter(col("c") =!= col("e")).count() === 0)
    assert(got.agg(sum("c")).head.getLong(0) > 0) // corpus exercises hits
  }

  test("CountAlphaTokens ≡ size(filter(toks, x -> x rlike '[A-Za-z]'))") {
    val df = corpus.toDF("text")
    val got = df.select(
      CountAlphaTokens(split(trim(col("text")), "\\s+")).as("c"),
      size(expr("filter(split(trim(text), '\\\\s+'), x -> x rlike '[A-Za-z]')")).as("e"))
    assert(got.filter(col("c") =!= col("e")).count() === 0)
    assert(got.agg(sum("c")).head.getLong(0) > 0)
    // null elements never match (filter drops `null rlike …`): every "fox"
    // token nulled out, plus a trailing null
    val withNulls = df.select(expr("concat(transform(split(trim(text), " +
      "'\\\\s+'), x -> nullif(x, 'fox')), array(CAST(NULL AS STRING)))").as("toks"))
    val gotN = withNulls.select(CountAlphaTokens(col("toks")).as("c"),
      size(expr("filter(toks, x -> x rlike '[A-Za-z]')")).as("e"))
    assert(gotN.filter(col("c") =!= col("e")).count() === 0)
    assert(gotN.agg(sum("c")).head.getLong(0) > 0)
  }

  test("CountAlphaChars ≡ length(regexp_replace(s, '[^A-Za-z]', ''))") {
    val df = corpus.toDF("text")
    val got = df.select(
      graft.functions.CountAlphaChars(col("text")).as("c"),
      length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("e"))
    assert(got.filter(col("c") =!= col("e")).count() === 0)
    assert(got.agg(sum("c")).head.getLong(0) > 0)
  }

  test("null input propagates like size(filter(null)) with sizeOfNull off") {
    val df = Seq[Option[String]](None, Some("the fox")).toDF("text")
    val got = df.select(
      CountInSet(split(lower(trim(col("text"))), "\\s+"), STOP).as("c"),
      CountAlphaTokens(split(trim(col("text")), "\\s+")).as("a"))
      .collect().sortBy(r => r.isNullAt(0))
    assert(!got(0).isNullAt(0) && got(0).getInt(0) === 1 && got(0).getInt(1) === 2)
    assert(got(1).isNullAt(0) && got(1).isNullAt(1))
  }

  test("lshPairFetch: bloom-prefilter branch ≡ broadcast branch") {
    val sets = Seq(
      (1L, Seq(10L, 11L, 12L)), (2L, Seq(10L, 11L, 13L)),
      (3L, Seq(20L, 21L)), (4L, Seq(20L, 21L, 22L)), (5L, Seq(30L))
    ).toDF("doc_id", "hs")
    val cands = Seq((1L, 2L), (3L, 4L), (1L, 4L)).toDF("id1", "id2")
    def run(maxBcast: String) = {
      spark.conf.set("spark.graft.lsh.broadcastMaxCands", maxBcast)
      try queries.Pipeline.lshPairFetch(sets, cands)
        .orderBy("id1", "id2").collect().map(_.toSeq).toSeq
      finally spark.conf.unset("spark.graft.lsh.broadcastMaxCands")
    }
    val broadcastBranch = run("1000000")
    val bloomBranch = run("0") // force the prefilter fallback
    assert(broadcastBranch === bloomBranch)
    assert(broadcastBranch.size === 3) // every candidate pair regrouped once
    spark.catalog.clearCache()
  }
}
