package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Inclusion-dependency (foreign-key) discovery: for every ordered pair
 * of candidate columns, how much of column A's value set lives inside
 * column B's — `containment = |A ∩ B| / |A|`. A containment of 1.0
 * with |A| < |B| is the classic FK signature; this is how a catalog
 * profiles an undocumented warehouse into an ER diagram.
 *
 * Plan shape: every candidate column reduces to its DISTINCT value set
 * tagged with the column id (one union of per-column distincts — each
 * a map-side-combined aggregate), then ONE self-equi-join on the value
 * computes every pairwise intersection simultaneously — n² pair
 * cardinalities out of a single shuffle by value, never n² scans or
 * joins. Distinct counts ride the same pass. At 100 TB, swap the exact
 * distinct sets for theta sketches per column ([[SketchSetOps]]) and
 * intersect sketch-side — identical report shape with bounded state;
 * the exact form here is the oracle-checkable reference.
 *
 * NULLs carry no referential signal and are excluded from both sides
 * (SQL FK semantics: NULL references nothing).
 */
object KeyDiscovery {

  /** `cols`: (label, frame, column) candidates. Output one row per
    * ORDERED pair (a, b): (col_a, col_b, n_a, n_b, n_common,
    * containment = n_common/n_a) — only pairs that share ≥ 1 value
    * appear (a zero-overlap pair is noise, not a candidate). */
  def containmentReport(cols: Seq[(String, DataFrame, String)]): DataFrame = {
    require(cols.size >= 2, "need at least two candidate columns")
    require(cols.map(_._1).distinct.size == cols.size,
      "candidate labels must be unique")
    // persisted: the sizes aggregate and the self-join both consume the
    // value sets — un-persisted, every candidate column's scan+distinct
    // re-executes per consumer (the double-execution class; only the
    // identical a/b join sides get exchange reuse). Spillable/evictable.
    val valueSets = cols.map { case (label, df, c) =>
      df.filter(col(c).isNotNull)
        .select(lit(label).as("cid"), col(c).cast("string").as("v"))
        .distinct()
    }.reduce(_ unionByName _)
      .transform(graft.plans.CacheScope.persistTracked)
    val sizes = valueSets.groupBy("cid").agg(count(lit(1)).as("n"))
    val pairs = valueSets.as("a")
      .join(valueSets.as("b"),
        col("a.v") === col("b.v") && col("a.cid") =!= col("b.cid"))
      .groupBy(col("a.cid").as("col_a"), col("b.cid").as("col_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select(col("cid").as("col_a"), col("n").as("n_a")), "col_a")
      .join(sizes.select(col("cid").as("col_b"), col("n").as("n_b")), "col_b")
      .select(col("col_a"), col("col_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (col("n_common").cast("double") / col("n_a")).as("containment"))
  }

  /**
   * The 100 TB form: identical report from per-column THETA sketches —
   * each candidate column folds to one O(2^lgK)-byte sketch (one
   * map-side-combined aggregate per column, a bounded collect of
   * |cols| rows), and every pairwise intersection runs sketch-side on
   * the driver. No value shuffle at all; the data is read once per
   * column and never co-shuffled. Exact while every column's distinct
   * count stays inside the sketch exact regime (≤ 2^lgK retained
   * entries — the same probed contract as every sketch operator);
   * beyond it theta's documented intersection error bounds apply.
   * Same output shape and same zero-overlap suppression as
   * [[containmentReport]] — the exact form is its oracle.
   */
  def containmentReportSketched(cols: Seq[(String, DataFrame, String)],
                                lgK: Int = 16): DataFrame = {
    require(cols.size >= 2, "need at least two candidate columns")
    require(cols.map(_._1).distinct.size == cols.size,
      "candidate labels must be unique")
    val spark = cols.head._2.sparkSession
    val sketches = cols.map { case (label, df, c) =>
      val bytes = df.filter(col(c).isNotNull)
        .select(graft.agg.SketchPartial.col(col(c).cast("string"),
          graft.agg.SketchPartial.Theta(lgK)).as("sk"))
        .head.getAs[Array[Byte]](0) // bounded: ONE row per column
      label -> graft.agg.BufSerde.de[graft.agg.ThetaBuf](bytes).result
    }
    val rows = for {
      (la, sa) <- sketches
      (lb, sb) <- sketches if la != lb
      inter = {
        val i = org.apache.datasketches.theta.SetOperation.builder()
          .setNominalEntries(1 << lgK).buildIntersection()
        i.intersect(sa); i.intersect(sb)
        Math.round(i.getResult.getEstimate)
      } if inter > 0
    } yield org.apache.spark.sql.Row(la, lb,
      Math.round(sa.getEstimate), Math.round(sb.getEstimate), inter,
      inter.toDouble / Math.round(sa.getEstimate))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("col_a",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("col_b",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_common",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("containment",
          org.apache.spark.sql.types.DoubleType))))
  }
}
