package graft.operators

import graft.agg.SketchPartial
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Per-group DISTRIBUTION — the reference's quantile aggregation
 * (SURVEY §2.4, global only) extended to grouped form: one KLL sketch per
 * group key, exactly `groupBy(keys).agg(kll)`.
 *
 * Scale shape: sketch state is O(k) per GROUP (not per row), partials
 * combine map-side and merge associatively like every other sketch here,
 * so the shuffle carries one sketch per (partition, group). Exact while
 * each group's row count stays ≤ k; beyond that the KLL error bounds
 * apply per group. This is the standard way to compute per-key latency /
 * size percentiles over arbitrarily many keys at 100 TB.
 */
object GroupedDistribution {

  /** Per-group quantile values at the given ranks. Output: keys ++
    * (Quantile, Value), one row per (group, rank).
    *
    * `requireExact = true` additionally asserts — at run time, inside the
    * same aggregate (one extra count column, no extra pass) — that every
    * group's row count is ≤ k, i.e. the KLL sketch never left its exact
    * level-0 regime. Callers that pin results against an exact
    * percentile_disc oracle set this so a fixture growing past k fails
    * loudly instead of silently drifting to approximate quantiles. */
  def quantiles(df: DataFrame, keys: Seq[String], field: String,
                probs: Seq[Double], k: Int = 2048,
                requireExact: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "grouped distribution needs at least one key")
    val agg = SketchPartial.col(col(field).cast("double"),
      SketchPartial.KllDistribution("QUANTILE", probs, k)).as("rows")
    // the exactness-gate count column is only aggregated when a caller
    // asked for the gate — the default path shuffles nothing extra
    val aggCols =
      if (requireExact) Seq(agg, count(col(field)).as("__n"))
      else Seq(agg)
    val agged = df.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    val checked =
      if (!requireExact) agged
      else agged.filter(assert_true(col("__n") <= k,
        concat(lit(s"group row count "), col("__n"),
          lit(s" exceeds KLL k=$k: quantiles are no longer exact"))).isNull)
        .drop("__n")
    checked
      .select(keys.map(col) :+ explode(col("rows")).as("r"): _*)
      .select(keys.map(col) :+ col("r.quantile").as("Quantile") :+
        col("r.value").as("Value"): _*)
  }

  /** Keep rows whose `field` is at or above their OWN group's p-quantile —
    * "top half by quality per language", the standard per-source selection
    * step of a pretraining mix.
    *
    * Two passes, no global sort: (1) one sketch aggregation computes a
    * per-group threshold (O(k) state per group), (2) the tiny threshold
    * table broadcasts back and the corpus streams through a filter. The
    * obvious alternative — `percent_rank() OVER (PARTITION BY group)` —
    * sorts every group inside one task and dies on any group that doesn't
    * fit one executor; this shape scales to arbitrarily large groups.
    * Thresholds are actual data values (KLL INCLUSIVE search), so `>=`
    * keeps at least the exact top (1-p) fraction; exact percentile_disc
    * semantics while each group's n ≤ k. */
  def filterAtOrAboveQuantile(df: DataFrame, keys: Seq[String], field: String,
                              p: Double, k: Int = 2048,
                              requireExact: Boolean = false): DataFrame = {
    // null-SAFE key equality: groupBy keeps a null-key group and computes
    // its threshold, so the join-back must match it too — a plain equi-join
    // (null != null) would silently delete every null-key row instead of
    // filtering it by its own group's quantile
    val renamed = keys.zipWithIndex.map { case (kk, i) => kk -> s"__k$i" }
    val th = quantiles(df, keys, field, Seq(p), k, requireExact)
      .select(renamed.map { case (kk, a) => col(kk).as(a) } :+
        col("Value").as("__threshold"): _*)
    val cond = renamed.map { case (kk, a) => df(kk) <=> th(a) }.reduce(_ && _)
    df.join(broadcast(th), cond)
      .filter(col(field) >= col("__threshold"))
      .drop("__threshold" +: renamed.map(_._2): _*)
  }
}
