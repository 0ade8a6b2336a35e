package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{And, Coalesce, Contains, EndsWith, Expression, IsNotNull, Literal, RLike, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: anchored literal prefix/suffix/contains regexes →
  * `StartsWith`/`EndsWith`/`Contains`.
  *
  * The matcher compiler emits `rlike("^(?:re)$")` for `=~`/`!~`
  * ([[graft.promql.Matchers]]). Spark never pushes RLike into a Parquet scan,
  * but `StartsWith` becomes a pushed `StringStartsWith` filter, which prunes
  * row groups/pages via min/max stats on our `__name__`-sorted files — the
  * Spark analog of the reference's sorted-page binary search for prefix
  * regexes (`search/constraint.go:342-382`).
  *
  * `^(?:foo.*)$` ≡ startsWith("foo") up to one corner: regex `.` does not
  * match `\n` (both in Java regex and the reference's RE2), so a label value
  * like "foo\nbar" matches startsWith but not the regex. Label values with
  * newlines don't occur in the TSDB model (Prometheus forbids them in metric
  * names; they are pathological in labels), matching the reference's own
  * prefix-extraction tradeoff.
  *
  * Every main runs it through [[graft.GraftSession]], which installs
  * [[GraftRules]]; other sessions register it with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object PrefixRegexRewrite extends Rule[LogicalPlan] {

  private val Anchored = "\\^\\(\\?:(.*)\\)\\$".r
  private val meta = ".+*?()[]{}^$\\|".toSet

  /** Pushable string-filter shapes a literal regex body can reduce to —
    * all three translate to pushed Parquet filters (`StringStartsWith`,
    * `StringEndsWith`, `StringContains`). The contains/suffix forms mirror
    * Prometheus' FastRegexMatcher `containsStringMatcher` /
    * literal-suffix optimizations the reference inherits. */
  private sealed trait Shape { def lit: String }
  private final case class Prefix(lit: String) extends Shape
  private final case class Suffix(lit: String) extends Shape
  private final case class Middle(lit: String) extends Shape

  private def literalShape(inner: String): Option[Shape] = {
    def isLit(s: String) = s.nonEmpty && s.forall(c => !meta.contains(c))
    if (inner.startsWith(".*") && inner.endsWith(".*") && inner.length > 4 &&
      isLit(inner.substring(2, inner.length - 2)))
      Some(Middle(inner.substring(2, inner.length - 2)))
    else if (inner.endsWith(".*") && isLit(inner.dropRight(2)))
      Some(Prefix(inner.dropRight(2)))
    else if (inner.startsWith(".*") && isLit(inner.drop(2)))
      Some(Suffix(inner.drop(2)))
    else None
  }

  /** Our matchers wrap labels as `coalesce(col, "")` (missing ≡ "").
    * For a NON-empty literal, `coalesce(col,'') <op> lit` ≡
    * `col IS NOT NULL AND col <op> lit` — never NULL, so it stays correct
    * under negation (`!~` must MATCH missing labels), and both conjuncts are
    * expressions the Parquet pushdown translator accepts on a bare column. */
  private def rewriteChild(child: Expression, shape: Shape): Expression = {
    val lit = Literal(UTF8String.fromString(shape.lit),
      org.apache.spark.sql.types.StringType)
    def op(c: Expression): Expression = shape match {
      case Prefix(_) => StartsWith(c, lit)
      case Suffix(_) => EndsWith(c, lit)
      case Middle(_) => Contains(c, lit)
    }
    child match {
      case Coalesce(Seq(a, Literal(s: UTF8String, _))) if s.toString.isEmpty =>
        And(IsNotNull(a), op(a))
      case other => op(other) // same NULL behavior as the RLike
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case rl @ RLike(child, Literal(pat: UTF8String, _)) =>
      pat.toString match {
        case Anchored(inner) =>
          literalShape(inner).map(s => rewriteChild(child, s)).getOrElse(rl)
        case _ => rl
      }
  }
}

/** Every production optimizer rule of the engine, in application order —
  * `GraftSession` and `GraftExtensions` register from this one list so a new
  * rule cannot be active in some entry points and missing in others. */
object GraftRules {
  val all: Seq[Rule[LogicalPlan]] = Seq(PrefixRegexRewrite)
}

/** `spark.sql.extensions`-compatible registration: the optimizer rules plus
  * the engine's codegen'd expressions as SQL functions, so `spark.sql(...)`
  * users get the same primitives the DataFrame API uses (no UDF penalty). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import graft.functions._

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _)  => v
    case Literal(v: Long, _) => v.toInt
    case _ => throw new IllegalArgumentException(
      s"$fn: expected an integer literal, got $e")
  }

  /** (name, arity, builder): arity is checked before the builder indexes into
    * the args, so a misuse like `dot_product(v)` fails analysis with a named
    * arity error instead of a raw IndexOutOfBoundsException. */
  private def fns: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("is_stale",          1, a => IsStale(a.head)),
    ("dot_product",       2, a => DotProduct(a(0), a(1))),
    ("simhash48",         1, a => SimHash48(a.head)),
    ("word_ngrams",       2, a => WordNGrams(a(0), intLit(a(1), "word_ngrams"))),
    ("word_ngram_hashes", 2, a => WordNGramHashes(a(0), intLit(a(1), "word_ngram_hashes"))),
    ("minhash_sig",       2, a => MinHashSig(a(0), intLit(a(1), "minhash_sig"))),
    ("rolling_fp",        2, a => RollingFingerprint(a(0), intLit(a(1), "rolling_fp"))),
    ("chunk_encode",      1, a => ChunkEncode(a.head)),
    ("chunk_decode",      1, a => ChunkDecode(a.head)))

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftRules.all.foreach(r => e.injectOptimizerRule(_ => r))
    fns.foreach { case (name, arity, builder) =>
      val checked: Seq[Expression] => Expression = { args =>
        if (args.length != arity)
          throw new IllegalArgumentException(
            s"$name expects $arity argument${if (arity == 1) "" else "s"}, got ${args.length}")
        builder(args)
      }
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), checked))
    }
  }
}
