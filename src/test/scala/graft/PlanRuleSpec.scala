package graft

import org.apache.spark.sql.functions._
import graft.model.TimeSeriesModel
import graft.queries.Registry
import graft.plans.{GraftRules, PrefixRegexRewrite}
import graft.promql.{Matchers, MatchRe, MatchNotRe}
import graft.sources.Tables

/** PrefixRegexRewrite: correctness-preserving, and the rewritten predicate
  * reaches the Parquet scan as a pushed StringStartsWith filter. */
class PlanRuleSpec extends SparkSpec {

  private def withRule[A](body: => A): A = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ PrefixRegexRewrite
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == PrefixRegexRewrite)
  }

  test("GraftExtensions registers the engine expressions as SQL functions") {
    import org.apache.spark.sql.SparkSession
    // a genuinely new session (shared SparkContext) so injectFunction applies;
    // never .stop() it — that would stop the JVM-wide context. Force the
    // suite-shared session into existence FIRST, or it would lazily resolve
    // to this extended session and poison the no-rule baselines below.
    val shared = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[8]")
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    try {
      val r = s2.sql(
        "SELECT word_ngram_hashes(split('a b c d', ' '), 3) AS g3, " +
          "minhash_sig(word_ngram_hashes(split('a b c d e', ' '), 3), 4) AS sig, " +
          "simhash48(split('a b c', ' ')) AS sh, " +
          "rolling_fp('abcdefghij', 8) AS fp, " +
          "dot_product(array(double(1.0), double(2.0)), array(double(3.0), double(4.0))) AS dp, " +
          "is_stale(double('NaN')) AS st").collect()(0)
      assert(r.getAs[scala.collection.Seq[Long]]("g3").length == 2)
      assert(r.getAs[scala.collection.Seq[Long]]("sig").length == 4)
      assert(r.getAs[Double]("dp") == 11.0)
      assert(!r.getAs[Boolean]("st")) // plain NaN is not the staleness marker
      // SQL function ≡ the Column API expression it wraps
      import s2.implicits._
      val viaCol = Seq("a b c").toDF("t")
        .select(graft.functions.SimHash48(split(col("t"), " ")).as("sh"))
        .collect()(0).getLong(0)
      assert(r.getAs[Long]("sh") == viaCol)
      // the optimizer rule rides along in the same extensions entry point
      assert(s2.sessionState.optimizer.batches.flatMap(_.rules)
        .contains(PrefixRegexRewrite))
      // wrong arity fails analysis with a named error, not an index crash
      val err = intercept[Exception] {
        s2.sql("SELECT dot_product(array(double(1.0)))").collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
      assert(messages(err).exists(m =>
        m != null && m.contains("dot_product expects 2 arguments, got 1")))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("prefix regex matcher is rewritten to a pushed StartsWith filter") {
    def build() = {
      val ev = Tables(spark, sf()).table("events")
      ev.filter(MatchRe("event_type", "pur.*").toPredicate(ev))
        .select(col("event_id"))
    }
    val before = build().queryExecution.executedPlan.toString
    assert(before.contains("RLIKE") && !before.contains("StartsWith"))
    withRule {
      val plan = build().queryExecution.executedPlan.toString // fresh plan: QE caches
      assert(plan.contains("StartsWith"), plan)
      assert(plan.contains("StringStartsWith"), plan) // pushed to the scan
    }
  }

  test("suffix and contains regexes are rewritten to pushed EndsWith/Contains filters") {
    def build(pat: String) = {
      val ev = Tables(spark, sf()).table("events")
      ev.filter(MatchRe("event_type", pat).toPredicate(ev)).select(col("event_id"))
    }
    withRule {
      val suffix = build(".*chase").queryExecution.executedPlan.toString
      assert(suffix.contains("EndsWith") && suffix.contains("StringEndsWith"), suffix)
      val middle = build(".*urcha.*").queryExecution.executedPlan.toString
      assert(middle.contains("Contains") && middle.contains("StringContains"), middle)
    }
  }

  test("rewrite preserves results, including negated and non-prefix patterns") {
    val samples = TimeSeriesModel.samples(Tables(spark, sf()).events)
    val queries = Seq(
      Matchers.compile(samples, Seq(MatchRe("__name__", "pur.*"))),
      Matchers.compile(samples, Seq(MatchNotRe("__name__", "cli.*"))),
      Matchers.compile(samples, Seq(MatchRe("__name__", "p.*|cl.*"))), // not a prefix → untouched
      Matchers.compile(samples, Seq(MatchRe("uid", "1.*"))),
      Matchers.compile(samples, Seq(MatchRe("__name__", ".*ase"))),
      Matchers.compile(samples, Seq(MatchNotRe("__name__", ".*ick"))),
      Matchers.compile(samples, Seq(MatchRe("__name__", ".*urch.*"))),
      Matchers.compile(samples, Seq(MatchNotRe("uid", ".*1.*"))))
    queries.foreach { pred =>
      val plain = samples.filter(pred).count()
      val ruled = withRule(samples.filter(pred).count())
      assert(plain == ruled)
      assert(plain > 0)
    }
  }

  test("plan audit: small sides broadcast, pushdown reaches the scan") {
    val t = Tables(spark, sf())
    // dimension joins: every dim side of q_broadcast_dims broadcasts —
    // no shuffle of the lineitem fact table for join co-location
    val dims = Registry.all.find(_.name == "q_broadcast_dims").get
      .fn(spark, sf()).queryExecution.executedPlan.toString
    assert(dims.contains("BroadcastHashJoin"), dims.take(2000))
    assert(!dims.contains("SortMergeJoin"), dims.take(2000))
    // ANN query sets broadcast against the corpus side
    val ann = Registry.all.find(_.name == "ss_brute_topk").get
      .fn(spark, sf()).queryExecution.executedPlan.toString
    assert(ann.contains("BroadcastNestedLoopJoin") || ann.contains("BroadcastHashJoin"), ann.take(2000))
    // near-dup pair generation must stay blocked — an all-pairs
    // BroadcastNestedLoopJoin would be O(n²) at any scale. dd_embed_cosine
    // blocks via the probe equi-join; dd_simhash_pairs (r21) generates pairs
    // INSIDE each grouped band bucket via the codegen'd hamming_near_pairs
    // loop — no join at all.
    Seq("dd_embed_cosine", "dd_simhash_pairs").foreach { qn =>
      val p = Registry.all.find(_.name == qn).get
        .fn(spark, sf()).queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$qn:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), s"$qn:\n${p.take(2000)}")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin") ||
        p.contains("hamming_near_pairs"), s"$qn:\n${p.take(2000)}")
    }
    // corpus-hygiene plans: the benchmark shingle set and the unigram vocab
    // are the SMALL sides — both must broadcast, never shuffle the corpus.
    // Same for the t-digest rank gate: the per-source digests (one row per
    // source) broadcast back over the corpus for the rank count.
    Seq("tx_contamination", "tx_unigram_freq", "tx_len_quantiles_td").foreach { qn =>
      val p = Registry.all.find(_.name == qn).get
        .fn(spark, sf()).queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$qn:\n${p.take(2000)}")
      assert(!p.contains("SortMergeJoin"), s"$qn:\n${p.take(2000)}")
    }
    // match[] union compiles to ONE scan with an OR predicate, not two scans
    // + a dedup shuffle
    val u2 = Registry.all.find(_.name == "u2_union_matchsets").get
      .fn(spark, sf()).queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllMatchIn(u2).size == 1, u2.take(2000))
    // projection pruning: a two-column query reads a two-column schema
    val scan = t.documents.select(col("doc_id"), length(col("text")).as("n"))
      .queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), scan.take(2000))
    // predicate pushdown: equality filters appear as PushedFilters
    val filt = t.table("lineitem").filter(col("l_suppkey") === 5L)
      .select(col("l_orderkey")).queryExecution.executedPlan.toString
    assert(filt.contains("PushedFilters: [IsNotNull(l_suppkey), EqualTo(l_suppkey,5)]"),
      filt.take(2000))
  }

  test("NULL labels keep PromQL semantics under the rule (negated prefix must match missing)") {
    import spark.implicits._
    val df = Seq(Some("purchase"), Some("click"), None).toDF("lbl")
    val pred = MatchNotRe("lbl", "pur.*").toPredicate(df)
    def got() = df.filter(pred).select(coalesce(col("lbl"), lit("<null>")))
      .as[String].collect().toSet
    val plain = got()
    val ruled = withRule(got())
    assert(plain == Set("click", "<null>")) // missing ≡ "" matches !~
    assert(ruled == plain)
  }

  test("GraftSession installs each GraftRules rule once, however often it runs") {
    val before = spark.experimental.extraOptimizations
    try {
      GraftSession.installRules(spark)
      GraftSession.installRules(spark)
      val rules = spark.experimental.extraOptimizations
      GraftRules.all.foreach(r => assert(rules.count(_ == r) == 1, r.ruleName))
      assert(rules.take(before.size) == before) // appended after what it had
    } finally spark.experimental.extraOptimizations = before
  }

  test("only GraftSession builds a session or sets optimizer rules in src/main") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("SparkSession.builder") || line.contains("extraOptimizations")
    } yield s"$f:${i + 1}"
    assert(hits.nonEmpty, s"no session builder under $root")
    assert(hits.forall(_.contains("/GraftSession.scala:")), hits.mkString("\n"))
  }
}
