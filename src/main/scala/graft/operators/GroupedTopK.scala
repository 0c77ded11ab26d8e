package graft.operators

import graft.agg.SketchPartial
import graft.compile.QueryCompiler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Per-group TOP_K — the reference's FrequentItems heavy-hitters
 * aggregation (SURVEY §2.4, global only) extended to grouped form:
 * `groupBy(keys).agg(freqItems)`, one sketch per group, completing the
 * grouped-sketch family (grouped COUNT_DISTINCT, grouped DISTRIBUTION).
 *
 * Scale shape vs the obvious `groupBy(keys ++ fields).count` + per-key
 * window rank (TWO shuffles, state O(distinct tuples)): ONE shuffle,
 * O(maxMapSize) bounded state per group, partials combine map-side. Exact
 * while each group's distinct-tuple count stays within the sketch's exact
 * regime (≲ 0.75 × maxMapSize); beyond it counts are NO_FALSE_NEGATIVES
 * estimates, like the reference's global TOP_K. Ties order by the
 * stringified key (deterministic on any engine).
 */
object GroupedTopK {

  /** Top `k` most frequent `fields` tuples per group. Output columns:
    * keys ++ field aliases ++ `countName`. */
  def topK(df: DataFrame, keys: Seq[String], fields: Seq[(String, String)],
           k: Int, countName: String = "count", threshold: Long = 0L,
           maxMapSize: Int = 1024): DataFrame = {
    require(keys.nonEmpty, "grouped top-k needs at least one key")
    require(fields.nonEmpty, "grouped top-k needs at least one field")
    val rows = df.groupBy(keys.map(col): _*)
      .agg(SketchPartial.col(QueryCompiler.compositeKey(df, fields.map(_._1)),
        SketchPartial.FreqItemsTopK(k, threshold, maxMapSize)).as("__rows"))
      .select(keys.map(col) :+ explode(col("__rows")).as("__r"): _*)
    val keyCols = fields.zipWithIndex.map { case ((_, alias), i) =>
      QueryCompiler.keyElement(col("__r.key"), i + 1).as(alias)
    }
    rows.select(keys.map(col) ++ keyCols :+ col("__r.count").as(countName): _*)
  }
}
