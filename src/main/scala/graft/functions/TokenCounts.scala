package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd token counters replacing the interpreted higher-order-function
  * hot path of the tx_ quality family (tx_quality, tx_langid, tx_c4_filter,
  * tx_gopher_filter, tx_linear_score, dd_keep_best).
  *
  * `size(filter(toks, x -> x IN (...)))` and
  * `size(filter(toks, x -> x rlike '[A-Za-z]'))` run the lambda INTERPRETED
  * per array element (HigherOrderFunction is CodegenFallback): per token the
  * IN form walks a ~50-literal equality chain through expression eval, and
  * the rlike form enters the regex engine. At 100 TB that is the per-task
  * CPU of every quality gate. These expressions do the same counts as one
  * static call per row — a hash-set probe / ASCII byte scan per token —
  * inside whole-stage codegen (the WordNGrams / HammingNearPairs pattern).
  */

/** Count of array elements equal to one of `keys` — exactly
  * `size(filter(arr, x -> x IN (keys...)))` for a non-null string array
  * with non-null elements (split() output): IN over string literals is
  * binary equality, which is UTF8String equals. Null array → null (like
  * size(null) with legacy sizeOfNull off). */
case class CountInSet(child: Expression, keys: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "count_in_set"

  @transient private lazy val set = CountInSet.buildSet(keys)

  override def nullSafeEval(in: Any): Any =
    CountInSet.compute(in.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("keySet", set, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CountInSet.compute($c, $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CountInSet {
  def buildSet(keys: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(16, keys.size * 2))
    keys.foreach(k => s.add(UTF8String.fromString(k)))
    s
  }

  /** Static entry point shared by eval and generated code. */
  def compute(toks: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val sz = toks.numElements()
    var n = 0
    var i = 0
    while (i < sz) {
      if (set.contains(toks.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }

  def apply(tokens: Column, keys: Seq[String]): Column =
    graftshim.toColumn(CountInSet(graftshim.toExpression(tokens), keys))
}

/** Count of array elements containing at least one ASCII letter — exactly
  * `size(filter(arr, x -> x rlike '[A-Za-z]'))`, where a null element never
  * matches: the regex finds any char in
  * the class anywhere in the token; in UTF-8 an A–Z/a–z byte value occurs
  * only as that standalone ASCII char (continuation bytes are ≥ 0x80), so a
  * byte scan decides it without decoding. */
case class CountAlphaTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "count_alpha_tokens"

  override def nullSafeEval(in: Any): Any =
    CountAlphaTokens.compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CountAlphaTokens.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of ASCII letters in a string — exactly
  * `length(regexp_replace(s, '[^A-Za-z]', ''))`: the replace keeps only
  * A–Za–z chars and length() counts chars; each surviving char is one
  * ASCII byte, and (UTF-8 again) an A–Za–z byte value occurs only as that
  * standalone char — so the count is a byte scan, no regex pass. */
case class CountAlphaChars(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "count_alpha_chars"

  override def nullSafeEval(in: Any): Any =
    CountAlphaChars.compute(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CountAlphaChars.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CountAlphaChars {
  /** Static entry point shared by eval and generated code. */
  def compute(s: UTF8String): Int = {
    val b = s.getBytes
    var n = 0
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) n += 1
      i += 1
    }
    n
  }

  def apply(text: Column): Column =
    graftshim.toColumn(CountAlphaChars(graftshim.toExpression(text)))
}

object CountAlphaTokens {
  /** Static entry point shared by eval and generated code. A null element
    * counts as no match, like `null rlike …` inside filter(). */
  def compute(toks: ArrayData): Int = {
    val sz = toks.numElements()
    var n = 0
    var i = 0
    while (i < sz) {
      if (!toks.isNullAt(i)) {
        val b = toks.getUTF8String(i).getBytes
        var j = 0
        var hit = false
        while (!hit && j < b.length) {
          val c = b(j)
          hit = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
          j += 1
        }
        if (hit) n += 1
      }
      i += 1
    }
    n
  }

  def apply(tokens: Column): Column =
    graftshim.toColumn(CountAlphaTokens(graftshim.toExpression(tokens)))
}
