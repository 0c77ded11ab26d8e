package graft.operators

import graft.agg.SketchPartial
import graft.compile.QueryCompiler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Per-group COUNT_DISTINCT — the reference's Theta-sketch count-distinct
 * aggregation (SURVEY §2.4, global only) extended to grouped form:
 * `groupBy(keys).agg(theta)`, one sketch per group.
 *
 * Scale shape vs the obvious `groupBy(keys ++ fields).count` +
 * `groupBy(keys).count` double shuffle: ONE shuffle, O(2^lgK) bounded
 * state per group (not O(distinct values)), partials combine map-side and
 * merge associatively — per-key distinct-user counts over arbitrarily
 * many keys at 100 TB. Exact while each group's cardinality stays within
 * the sketch's exact regime (≤ 2^lgK nominal entries); beyond that the
 * Theta estimate's ~1.6/√2^lgK RSE applies per group.
 */
object GroupedCountDistinct {

  /** Distinct count of the `fields` tuple per group. Output: keys ++
    * `name`. Tuple encoding is the engine-wide injective JSON composite
    * key ([[QueryCompiler.compositeKey]]). */
  def countDistinct(df: DataFrame, keys: Seq[String], fields: Seq[String],
                    name: String = "count", lgK: Int = 17): DataFrame = {
    require(keys.nonEmpty, "grouped count-distinct needs at least one key")
    require(fields.nonEmpty, "grouped count-distinct needs at least one field")
    df.groupBy(keys.map(col): _*).agg(SketchPartial.col(
      QueryCompiler.compositeKey(df, fields), SketchPartial.ThetaEstimate(lgK)).as(name))
  }
}
