package graft.compile

import graft.agg._
import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/**
 * Compiles a [[QuerySpec]] into a DataFrame transformation (batch mode; the
 * streaming runner reuses the same pieces per micro-batch).
 *
 * The plan shape is always `filter(raw-record predicate) → project →
 * aggregate → post-aggregations`, mirroring the reference's evaluation order
 * (filter on the RAW record BEFORE projection — FilterBoltTest.java:349-393).
 * Everything is declarative DataFrame API: Catalyst handles partial/final agg
 * split, predicate pushdown into the scan, and column pruning.
 */
object QueryCompiler {
  import SketchAggregators.NullString

  /** Apply the full query to a batch DataFrame. */
  def run(df: DataFrame, q: QuerySpec): DataFrame = {
    val schema = Some(df.schema)
    val filtered = q.filter.map(f => df.filter(ExprCompiler.compile(f, schema))).getOrElse(df)
    val projected = q.projection match {
      case Some(fields) =>
        filtered.select(fields.map { case (n, e) => ExprCompiler.compile(e, schema).as(n) }: _*)
      case None => filtered
    }
    q.aggregation match {
      case Raw(size) =>
        // Deterministic RAW: an ORDER BY post-aggregation is applied BEFORE
        // the size cap so the kept rows are well-defined. Spark compiles
        // orderBy+limit to TakeOrderedAndProject (per-partition top-k heap +
        // driver merge of k rows) — no global sort materializes, scale-safe.
        // The reference's RAW keeps an arbitrary first-`size` subset
        // (JoinBoltTest.java:644-660); ordering is a determinism upgrade.
        val (orderPosts, rest) = q.postAggregations.partition(_.isInstanceOf[OrderBy])
        val ordered = orderPosts.foldLeft(projected)(applyPost)
        rest.foldLeft(ordered.limit(size))(applyPost)
      case agg =>
        q.postAggregations.foldLeft(aggregate(projected, agg))(applyPost)
    }
  }

  /** Field reference that treats a field the input lacks as a typed null —
    * the reference's schemaless-record semantics (FilterBoltTest.java:
    * 827-828) — instead of an analysis error. */
  private def fieldOrNull(df: DataFrame, name: String): Column =
    if (df.schema.fieldNames.contains(name)) col(name) else lit(null)

  /** Stringify a group value the way the reference does: null → "null",
    * everything else via toString (FilterBoltTest.java:827-828). */
  private def strKey(df: DataFrame, name: String): Column =
    coalesce(fieldOrNull(df, name).cast(StringType), lit(NullString))

  /** Composite key for sketch updates over field tuples, serialized as a
    * JSON string array — injective for any key content (no separator to
    * collide with), cheap to parse back. A missing/null field contributes
    * the literal "null", so the tuple is never silently shortened. */
  def compositeKey(df: DataFrame, fields: Seq[String]): Column =
    to_json(array(fields.map(strKey(df, _)): _*))

  /** Recover the i-th (1-based) tuple element from a [[compositeKey]]. */
  def keyElement(key: Column, i: Int): Column =
    element_at(from_json(key, ArrayType(StringType)), i)

  /** As [[compositeKey]] but over arbitrary pre-stringified expressions. */
  def compositeKeyOf(cols: Seq[Column]): Column =
    to_json(array(cols.map(c => coalesce(c.cast(StringType), lit(NullString))): _*))

  def aggregate(df: DataFrame, agg: Aggregation): DataFrame = agg match {
    case Raw(size) =>
      df.limit(size)

    case GroupAll(ops) =>
      df.agg(groupCols(df, ops).head, groupCols(df, ops).tail: _*)

    case GroupBy(fields, ops, entries) =>
      // Exact while |groups| ≤ entries — the reference's Tuple-sketch exact
      // regime. Beyond the cap we keep the first `entries` groups in key
      // order (deterministic; the sketch samples instead — documented
      // deviation, same bounded-memory guarantee via partial agg + limit).
      val keyed = fields.foldLeft(df) { case (d, (f, alias)) =>
        d.withColumn(alias, strKey(df, f))
      }
      val out = keyed
        .groupBy(fields.map { case (_, alias) => col(alias) }: _*)
        .agg(groupCols(df, ops).head, groupCols(df, ops).tail: _*)
      out.orderBy(fields.map { case (_, alias) => col(alias) }: _*).limit(entries)

    case CountDistinct(fields, name, lgK) =>
      df.agg(SketchPartial.col(compositeKey(df, fields), SketchPartial.ThetaEstimate(lgK)).as(name))

    case Distribution(field, dtype, points, k, numPoints) =>
      val kind = SketchPartial.KllDistribution(dtype.toString, points, k, numPoints.getOrElse(0))
      val rows = df.agg(SketchPartial.col(fieldOrNull(df, field).cast("double"), kind).as("rows"))
        .select(explode(col("rows")).as("r"))
      dtype match {
        case DistributionType.QUANTILE =>
          rows.select(col("r.quantile").as("Quantile"), col("r.value").as("Value"))
        case _ =>
          rows.select(col("r.range").as("Range"), col("r.count").as("Count"),
            col("r.probability").as("Probability"))
      }

    case TopK(fields, k, countName, threshold, maxMapSize) =>
      val kind = SketchPartial.FreqItemsTopK(k, threshold.getOrElse(0L), maxMapSize)
      val rows = df.agg(SketchPartial.col(compositeKey(df, fields.map(_._1)), kind).as("rows"))
        .select(explode(col("rows")).as("r"))
      val keyCols = fields.zipWithIndex.map { case ((_, alias), i) =>
        keyElement(col("r.key"), i + 1).as(alias)
      }
      rows.select(keyCols :+ col("r.count").as(countName): _*)
  }

  private def groupCols(df: DataFrame, ops: Seq[GroupOp]): Seq[Column] = ops.map { op =>
    import GroupOpType._
    def f = fieldOrNull(df, op.field.get)
    val c = op.op match {
      case COUNT       => count(lit(1))
      case COUNT_FIELD => count(f)
      case SUM         => sum(f)
      case MIN         => min(f)
      case MAX         => max(f)
      case AVG         => avg(f)
    }
    c.as(op.name)
  }

  private def applyPost(df: DataFrame, post: PostAggregation): DataFrame = post match {
    case Having(e)       => df.filter(ExprCompiler.compile(e, Some(df.schema)))
    case OrderBy(fields) => df.orderBy(fields.map { case (f, asc) =>
      if (asc) col(f).asc else col(f).desc }: _*)
    case Computation(fs) => fs.foldLeft(df) { case (d, (n, e)) =>
      d.withColumn(n, ExprCompiler.compile(e, Some(d.schema))) }
    case Culling(names)  => df.drop(names: _*)
  }
}
