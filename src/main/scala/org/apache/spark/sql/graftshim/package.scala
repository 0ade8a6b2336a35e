package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.BinaryType

/** Minimal bridge into `private[sql]` Catalyst plumbing: Column ⇄ Expression
  * conversion for our custom expressions (Spark 4 removed the public
  * `new Column(expr)` constructor in favor of backend-agnostic ColumnNodes). */
package object graftshim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over an (analyzed) logical plan. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark's own runtime-filter bloom aggregate (`private[sql]`), exposed for
    * corpus-hygiene prefilters: aggregates xxhash64-style Long hashes into a
    * serialized `BloomFilter` (binary). Mergeable map-side partials — the
    * same sketch `InjectRuntimeFilter` ships across a 1000-executor shuffle. */
  def bloomFilterAgg(hashedLong: Column, estimatedItems: Long, numBits: Long): Column =
    toColumn(new BloomFilterAggregate(toExpression(hashedLong),
      Literal(estimatedItems), Literal(numBits)).toAggregateExpression())

  /** `might_contain(serializedBloom, hashedLong)` — false ⇒ definitely absent
    * (no false negatives); the bloom side must be a constant, mirroring how
    * Spark plants its runtime-filter blooms as scalar subquery results. */
  def bloomMightContain(serialized: Array[Byte], hashedLong: Column): Column =
    toColumn(BloomFilterMightContain(Literal(serialized, BinaryType),
      toExpression(hashedLong)))
}
