package graft.operators

import graft.agg.{BufSerde, SketchPartial, ThetaBuf, ThetaMergeEstimateAgg}
import graft.compile.QueryCompiler
import org.apache.datasketches.theta.{CompactSketch, SetOperation}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * Theta-sketch SET OPERATIONS between segment audiences: distinct-value
 * intersection / difference / union cardinalities between two segments of
 * one scan — "how many users who clicked also purchased" at 100 TB.
 *
 * This is the set-expression side of the reference's Theta count-distinct
 * (SURVEY §2.4; DataSketches theta supports union/intersection/A-not-B on
 * the same sketch family — the reason bullet chose theta over HLL). The
 * plan is ONE shuffle: per-segment theta partials combine map-side
 * ([[SketchPartial]] — O(2^lgK) state per task, never O(distinct)), one
 * final sketch per segment lands at the driver (two bounded rows), and
 * the set algebra runs on the two compact sketches there. Exact while
 * both segments stay inside the sketch exact regime (≤ 2^lgK retained
 * entries — probed per SF like every sketch entry); beyond it, theta's
 * documented set-operation error bounds apply.
 */
object SketchSetOps {

  /** The ONE definition of the theta set algebra every overlap surface
    * shares (the audited-for-drift core): cardinalities
    * (n_a, n_b, n_union, n_intersect, n_a_not_b, n_b_not_a) of two
    * compact sketches at the given nominal entries. */
  private[operators] def thetaAlgebra(a: CompactSketch, b: CompactSketch,
                                      lgK: Int): (Long, Long, Long, Long, Long, Long) = {
    val union = SetOperation.builder().setNominalEntries(1 << lgK).buildUnion()
    union.union(a); union.union(b)
    val inter = SetOperation.builder().setNominalEntries(1 << lgK).buildIntersection()
    inter.intersect(a); inter.intersect(b)
    def est(s: CompactSketch): Long = Math.round(s.getEstimate)
    (est(a), est(b), est(union.getResult), est(inter.getResult),
      est(SetOperation.builder().buildANotB().aNotB(a, b)),
      est(SetOperation.builder().buildANotB().aNotB(b, a)))
  }

  /** The empty sketch at the given nominal entries. */
  private[operators] def emptySketch(lgK: Int): CompactSketch =
    SetOperation.builder().setNominalEntries(1 << lgK).buildUnion().getResult

  /** One row of audience-overlap cardinalities between `segA` and `segB`:
    * `n_a, n_b, n_union, n_intersect, n_a_not_b, n_b_not_a`. `fields` is
    * the identity tuple (composite-keyed like every grouped sketch). */
  def distinctOverlap(df: DataFrame, segCol: String, fields: Seq[String],
                      segA: String, segB: String, lgK: Int = 18): DataFrame = {
    require(segA != segB, "overlap of a segment with itself is just its cardinality")
    // one scan, one shuffle to exactly two reducer keys
    val partials = df.filter(col(segCol).isin(segA, segB))
      .groupBy(col(segCol).as("seg"))
      .agg(SketchPartial.col(QueryCompiler.compositeKey(df, fields),
        SketchPartial.Theta(lgK)).as("sk"))
      .collect() // bounded: ≤ 2 rows of ≤ 2^lgK·8 bytes
      .map(r => r.getString(0) -> BufSerde.de[ThetaBuf](r.getAs[Array[Byte]](1)).result)
      .toMap
    def sketchOf(seg: String): CompactSketch =
      partials.getOrElse(seg, emptySketch(lgK))
    val (nA, nB, nU, nI, nAB, nBA) =
      thetaAlgebra(sketchOf(segA), sketchOf(segB), lgK)
    val row = Row(segA, segB, nA, nB, nU, nI, nAB, nBA)
    val schema = StructType(Seq(
      StructField("seg_a", StringType), StructField("seg_b", StringType),
      StructField("n_a", LongType), StructField("n_b", LongType),
      StructField("n_union", LongType), StructField("n_intersect", LongType),
      StructField("n_a_not_b", LongType), StructField("n_b_not_a", LongType)))
    df.sparkSession.createDataFrame(
      java.util.Collections.singletonList(row), schema)
  }

  /** Per-segment theta partials as a (seg, sk) frame — `sk` is the
    * serialized sketch buffer, persistable as a parquet BINARY column.
    * One scan + one shuffle; each row is O(2^lgK) bytes max. */
  def thetaPartials(df: DataFrame, segCol: String, fields: Seq[String],
                    lgK: Int = 18): DataFrame = {
    df.groupBy(col(segCol).as("seg"))
      .agg(SketchPartial.col(QueryCompiler.compositeKey(df, fields),
        SketchPartial.Theta(lgK)).as("sk"))
  }

  /** Merge any union of [[thetaPartials]] tables (several snapshots of
    * the same segments) into per-segment distinct estimates — the
    * incremental count-distinct read path: history is merged as KBs of
    * sketch bytes, never re-scanned. Distributed: one shuffle on `seg`,
    * map-side partial merges. Exact inside the sketch's exact regime. */
  def mergedDistinct(parts: DataFrame, lgK: Int = 18): DataFrame = {
    val agg = udaf(new ThetaMergeEstimateAgg(lgK), Encoders.BINARY)
    parts.groupBy("seg").agg(agg(col("sk")).as("n_distinct"))
  }

  /** Per-segment KLL quantile-sketch partials as a (seg, sk) frame —
    * the DISTRIBUTION family's persistable form, mirroring
    * [[thetaPartials]]: `sk` is the serialized sketch buffer, a parquet
    * BINARY column of O(k) bytes per segment per snapshot. One scan +
    * one shuffle. */
  def kllPartials(df: DataFrame, segCol: String, valCol: String,
                  k: Int = 2048): DataFrame = {
    df.groupBy(col(segCol).as("seg"))
      .agg(SketchPartial.col(col(valCol).cast("double"), SketchPartial.Kll(k)).as("sk"))
  }

  /** Merge any union of [[kllPartials]] tables (several snapshots of the
    * same segments) into per-segment quantiles at `points` — incremental
    * percentiles over a growing corpus: each nightly run sketches only
    * its delta, the read path merges KBs of sketch bytes. Output one row
    * per (seg, quantile): (seg, quantile, value). A segment whose merged
    * sketch saw no (non-null) values keeps ONE marker row
    * (seg, NULL, NULL) — posexplode_outer, so a dead segment never
    * silently vanishes from the report. Exact (percentile_disc parity,
    * INCLUSIVE rank search) while each segment's TOTAL row count across
    * merged snapshots stays ≤ k — the same probed exact-regime contract
    * as every sketch entry. */
  def mergedQuantiles(parts: DataFrame, points: Seq[Double],
                      k: Int = 2048): DataFrame = {
    require(points.nonEmpty && points.forall(p => p >= 0.0 && p <= 1.0),
      "quantile points must be in [0, 1]")
    val agg = udaf(new graft.agg.KllMergeQuantilesAgg(points.toArray, k),
      Encoders.BINARY)
    // the agg emits (quantile, value) PAIRS so the explode carries its
    // own rank — see the aggregator's note on posexplode_outer's
    // non-nullable pos attribute
    parts.groupBy("seg").agg(agg(col("sk")).as("vals"))
      .select(col("seg"), explode_outer(col("vals")).as("qv"))
      .select(col("seg"), col("qv._1").as("quantile"),
        col("qv._2").as("value"))
  }

  /** Per-segment set algebra between TWO persisted [[thetaPartials]]
    * tables — "users present in both January and February, per event
    * type" computed from stored sketch bytes, with neither month
    * re-scanned. For every segment in either table:
    * (seg, n_a, n_b, n_union, n_intersect, n_a_not_b, n_b_not_a).
    *
    * Distributed, collect-free: the two partial tables (one row per
    * segment each) full-outer-join on seg, then ONE narrow typed map
    * runs the theta set algebra per row — an absent side is the empty
    * sketch. `seg` is emitted as STRING (non-string segment keys are
    * cast — the same stringify convention the sketches themselves use),
    * and a NULL segment merges into ONE row like every groupBy-based
    * sibling (a raw full-outer join would leave the two null rows
    * unmatched). Exact while both sides' segments stay in the exact
    * regime (≤ 2^lgK retained entries, probed per SF); beyond it
    * theta's documented set-operation error bounds apply. */
  def overlapFromPartials(a: DataFrame, b: DataFrame,
                          lgK: Int = 18): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    // join-side sentinel: SQL join keys never match on NULL, but a null
    // segment is ONE segment (every merged* sibling groups it as one)
    val sentinel = "\u0000__null_seg__"
    def keyed(df: DataFrame, skName: String) = df.select(
      coalesce(col("seg").cast("string"), lit(sentinel)).as("seg"),
      col("sk").as(skName))
    val joined = keyed(a, "sk_a")
      .join(keyed(b, "sk_b"), Seq("seg"), "full_outer")
      .as[(String, Array[Byte], Array[Byte])]
    joined.map { case (seg, ba, bb) =>
      def sk(bytes: Array[Byte]): CompactSketch =
        if (bytes == null) emptySketch(lgK)
        else BufSerde.de[ThetaBuf](bytes).result
      val (nA, nB, nU, nI, nAB, nBA) = thetaAlgebra(sk(ba), sk(bb), lgK)
      (if (seg == sentinel) null else seg, nA, nB, nU, nI, nAB, nBA)
    }.toDF("seg", "n_a", "n_b", "n_union", "n_intersect",
      "n_a_not_b", "n_b_not_a")
  }

  /** Per-segment FrequentItems partials as a (seg, sk) frame — the
    * TOP_K family's persistable form, completing the trio with
    * [[thetaPartials]] and [[kllPartials]]. A NULL item counts under
    * the reference's `"null"` key ([[graft.agg.SketchAggregators.NullString]])
    * instead of silently vanishing — null items are data, and dropping
    * them would diverge from any GROUP BY twin that keeps the NULL
    * group. */
  def freqPartials(df: DataFrame, segCol: String, itemCol: String,
                   maxMapSize: Int = 1024): DataFrame = {
    df.groupBy(col(segCol).as("seg"))
      .agg(SketchPartial.col(coalesce(col(itemCol).cast("string"),
        lit(graft.agg.SketchAggregators.NullString)), SketchPartial.FreqItems(maxMapSize)).as("sk"))
  }

  /** Merge any union of [[freqPartials]] tables into per-segment top-k
    * item counts — incremental heavy hitters over a growing corpus.
    * Output one row per (seg, key): (seg, key, count), ordered
    * (-count, key) within each segment by construction. Zero-error
    * while distinct keys per segment stay under the purge load
    * (~0.75 · maxMapSize) across ALL merged snapshots — the same probed
    * exact-regime contract as every sketch entry. */
  def mergedTopK(parts: DataFrame, k: Int, threshold: Long = 0L,
                 maxMapSize: Int = 1024): DataFrame = {
    val agg = udaf(new graft.agg.FreqItemsMergeTopKAgg(k, threshold, maxMapSize),
      Encoders.BINARY)
    parts.groupBy("seg").agg(agg(col("sk")).as("rows"))
      .select(col("seg"), explode(col("rows")).as("r"))
      .select(col("seg"), col("r.key").as("key"), col("r.count").as("count"))
  }

  /** Per-segment HLL partials as a (seg, sk) frame — the fourth
    * persistable sketch family, this one riding Spark's own
    * `hll_sketch_agg` (DataSketches HLL_4 under the hood). HLL unions
    * losslessly but supports no
    * intersection/A-not-B — when set algebra is needed, use
    * [[thetaPartials]]; when only incremental distinct counts are, HLL
    * is ~4× smaller per segment at the same accuracy. One scan + one
    * shuffle; each row is O(2^lgK · 4 bits). */
  def hllPartials(df: DataFrame, segCol: String, fields: Seq[String],
                  lgK: Int = 16): DataFrame = {
    require(lgK >= 4 && lgK <= 21, s"hll lgK must be in [4, 21], got $lgK")
    df.groupBy(col(segCol).as("seg"))
      .agg(hll_sketch_agg(QueryCompiler.compositeKey(df, fields), lit(lgK))
        .as("sk"))
  }

  /** Merge any union of [[hllPartials]] tables (several snapshots of
    * the same segments) into per-segment distinct estimates — the HLL
    * twin of [[mergedDistinct]]: history merges as KBs of sketch bytes,
    * never re-scanned. Distributed: one shuffle on `seg`, map-side
    * partial unions. Estimates are HLL-approximate at EVERY cardinality
    * (unlike theta there is no exact regime), so callers that need a
    * hash-stable answer must gate the estimate against an exact twin —
    * see the `q_sketch_hll_persist` entry. */
  def mergedHllDistinct(parts: DataFrame): DataFrame =
    parts.groupBy("seg")
      .agg(round(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))))
        .cast("long").as("n_est"))
}
