package graft.operators

import graft.agg.{BufSerde, SketchPartial, ThetaBuf}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/**
 * Pre-join cardinality advisory — the "how big will this join be"
 * report a pipeline runs BEFORE committing a 100 TB shuffle, the
 * companion to the skew advisor ([[Skew]]): rather than discovering a
 * 10¹²-row join output from a dying stage, measure both key domains
 * first and decide (broadcast? pre-aggregate? bloom-prune? abort?)
 * from numbers.
 *
 * One single-pass aggregate per side (row count + theta key sketch,
 * map-side partial combine — the frame shuffles to ONE bounded row per
 * side), theta set algebra on the two compact sketches at the driver
 * (KBs), and the classic uniform-multiplicity estimate:
 *
 *   est_join_rows = (rows_a / ndv_a) · (rows_b / ndv_b) · ndv_∩
 *
 * — average multiplicity per side times the number of matching keys
 * (System-R's containment estimate, refined by MEASURING the key
 * intersection instead of assuming containment). Exact while both key
 * domains stay in the sketch exact regime (≤ 2^lgK, probed per SF);
 * beyond it theta's documented set-operation bounds apply — the
 * estimate degrades, never the job. The IEEE division/multiplication
 * order is fixed (left-assoc) so the emitted double replays
 * bit-identically on any engine.
 *
 * Skewed keys make the uniform estimate optimistic — pair with
 * [[Skew.report]], which measures per-key multiplicity directly.
 */
object JoinAdvisor {

  /** One row: (rows_a, rows_b, ndv_a, ndv_b, ndv_intersect,
    * est_join_rows). */
  def report(a: DataFrame, keyA: String, b: DataFrame, keyB: String,
             lgK: Int = 18): DataFrame = {
    def side(df: DataFrame, key: String): (Long, org.apache.datasketches.theta.CompactSketch) = {
      val r = df.agg(count(lit(1)).as("n"),
        SketchPartial.col(col(key).cast("string"), SketchPartial.Theta(lgK)).as("sk"))
        .head() // bounded: ONE row
      (r.getLong(0), BufSerde.de[ThetaBuf](r.getAs[Array[Byte]](1)).result)
    }
    // the two side scans are independent actions — submit them
    // CONCURRENTLY so advisor latency is max(scanA, scanB), not the sum
    // (Spark schedules concurrent jobs from separate threads fine)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fA = Future(side(a, keyA))
    val fB = Future(side(b, keyB))
    val (rowsA, skA) = Await.result(fA, Duration.Inf)
    val (rowsB, skB) = Await.result(fB, Duration.Inf)
    // same set-algebra core as every overlap surface (one definition)
    val (ndvA, ndvB, _, nInt, _, _) =
      SketchSetOps.thetaAlgebra(skA, skB, lgK)
    // fixed left-assoc IEEE order — replayable cross-engine
    val est =
      if (ndvA == 0 || ndvB == 0) 0.0
      else rowsA.toDouble * rowsB / ndvA / ndvB * nInt
    val row = Row(rowsA, rowsB, ndvA, ndvB, nInt, est)
    val schema = StructType(Seq(
      StructField("rows_a", LongType), StructField("rows_b", LongType),
      StructField("ndv_a", LongType), StructField("ndv_b", LongType),
      StructField("ndv_intersect", LongType),
      StructField("est_join_rows", DoubleType)))
    a.sparkSession.createDataFrame(
      java.util.Collections.singletonList(row), schema)
  }
}
