package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.{AbstractDataType, AnyDataType, BooleanType, Decimal, DecimalType}

/**
 * The parts of Spark's `Sum` that [[graft.agg.MultiQueryPartial]] reuses
 * rather than re-derives — its input-type collection and its decimal
 * overflow rule — which are `private[sql]`, hence this package.
 */
object SumBridge {
  private lazy val sumInput: AbstractDataType = Sum(Literal(0L)).inputTypes.head

  /** Input types of `numGates` boolean gates, then one input per
    * `numeric` flag: `Sum`'s own collection (so the analyzer casts as it
    * does for `sum`) where set, any type elsewhere. */
  def inputTypes(numGates: Int, numeric: Seq[Boolean]): Seq[AbstractDataType] =
    Seq.fill(numGates)(BooleanType) ++ numeric.map(n => if (n) sumInput else AnyDataType)

  /** `d` at `dt`, or null when it does not fit — as writing it into
    * `Sum`'s buffer row nulls it. */
  def fit(d: Decimal, dt: DecimalType): Decimal =
    d.toPrecision(dt.precision, dt.scale, Decimal.ROUND_HALF_UP, nullOnOverflow = true)

  /** `Sum`'s final value for a non-empty decimal sum `d` (null once it
    * overflowed), as its `CheckOverflowInSum`: under ANSI an overflow
    * raises, otherwise it gives null. */
  def finish(d: Decimal, dt: DecimalType, ansi: Boolean): Decimal =
    if (d == null) {
      if (ansi) throw QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum") else null
    } else d.toPrecision(dt.precision, dt.scale, Decimal.ROUND_HALF_UP, nullOnOverflow = !ansi)
}
