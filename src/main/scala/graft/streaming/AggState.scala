package graft.streaming

import graft.agg._
import graft.model._

import scala.collection.mutable

/**
 * Driver-held, mergeable per-query aggregation state — the combiner half of
 * the two-phase contract (reference Querier Mode.ALL, JoinBolt.java:147-164).
 * Each micro-batch contributes one partial (serialized sketch bytes, capped
 * record lists, or additive metric rows); state merges them and can finish
 * to result records (JSON object strings) at window emits or query end.
 *
 * Memory: every variant is bounded — O(sketch) or O(cap/entries) — never
 * O(stream).
 */
sealed trait AggState {
  /** Result records as JSON object strings. */
  def finishRecords(): Seq[String]
  /** Drop accumulated state (tumbling-window emit; additive windows skip). */
  def reset(): Unit
  /** Extra result metadata (e.g. sketch estimation info). */
  def metaEntries: Map[String, Any] = Map.empty
}

/** RAW: capped list of pre-rendered JSON records. */
final class RawState(cap: Int) extends AggState {
  private val buf = mutable.ArrayBuffer.empty[String]
  def remaining: Int = cap - buf.size
  def add(records: Seq[String]): Unit =
    buf ++= records.take(math.max(0, cap - buf.size))
  def size: Int = buf.size
  def isFull: Boolean = buf.size >= cap
  def finishRecords(): Seq[String] = buf.toSeq
  def reset(): Unit = buf.clear()
}

/** GROUP metric accumulator: per GroupOp, the batches' partial
  * accumulators folded by [[MultiQueryPartial.combine]], so a value keeps
  * the type, ordering and overflow rule of one Spark aggregate over every
  * batch. COUNT is the matched count; AVG divides its sum at finish. */
final class MetricsAcc(ops: Seq[GroupOp]) {
  private var matched = 0L
  private val acc = new Array[MultiQueryPartial.Acc](ops.size)

  /** Folds one batch's partial in; raises when a value cannot combine
    * with the state's, which FAILs the query alone. */
  def update(p: MultiQueryPartial.Partial): Unit = {
    matched += p.matched
    p.accs.indices.foreach { i =>
      val a = p.accs(i)
      if (a != null && a.n > 0)
        acc(i) = MultiQueryPartial.combine(Option(acc(i)), a)
    }
  }

  def results: Seq[(String, Any)] = ops.indices.map { i =>
    import GroupOpType._
    val a = acc(i)
    ops(i).name -> (ops(i).op match {
      case COUNT          => matched
      case COUNT_FIELD    => if (a == null) 0L else a.n
      case _ if a == null => null
      case AVG => a.value match { case s: Number => s.doubleValue / a.n; case _ => null }
      case _   => a.value
    })
  }
}

/** GROUP(all): one record of named metrics. */
final class GroupAllState(ops: Seq[GroupOp]) extends AggState {
  var acc = new MetricsAcc(ops)
  def finishRecords(): Seq[String] = Seq(Json.obj(acc.results: _*))
  def reset(): Unit = acc = new MetricsAcc(ops)
}

/** GROUP BY: key-tuple → metrics, capped at `entries` (smallest keys kept —
  * deterministic deviation from the reference's Tuple-sketch sampling). */
final class GroupByState(fields: Seq[(String, String)], ops: Seq[GroupOp],
                         entries: Int) extends AggState {
  val groups = mutable.SortedMap.empty[Seq[String], MetricsAcc](
    Ordering.Implicits.seqOrdering[Seq, String])
  def accFor(key: Seq[String]): MetricsAcc =
    groups.getOrElseUpdate(key, new MetricsAcc(ops))
  private def cap(): Unit =
    while (groups.size > entries) groups.remove(groups.lastKey)
  def finishRecords(): Seq[String] = {
    cap()
    groups.map { case (key, m) =>
      val keyFields = fields.map(_._2).zip(key)
      Json.obj(keyFields ++ m.results: _*)
    }.toSeq
  }
  def reset(): Unit = groups.clear()
}

/** COUNT_DISTINCT: Theta sketch buffer + estimation metadata. */
final class CountDistinctState(spec: CountDistinct) extends AggState {
  var buf = new ThetaBuf(spec.lgK)
  def finishRecords(): Seq[String] =
    Seq(Json.obj(spec.name -> SketchAggregators.thetaEstimate(buf)))
  override def metaEntries: Map[String, Any] = {
    val s = buf.result
    Map("estimation" -> Map(
      "estimate" -> s.getEstimate,
      "lower_bound_2sd" -> s.getLowerBound(2),
      "upper_bound_2sd" -> s.getUpperBound(2),
      "was_estimated" -> s.isEstimationMode))
  }
  def reset(): Unit = buf = new ThetaBuf(spec.lgK)
}

/** DISTRIBUTION: KLL buffer; finishes through the same function as the
  * batch aggregate ([[SketchAggregators.distRows]]). */
final class DistributionState(spec: Distribution) extends AggState {
  var buf = new KllBuf(spec.k)
  def finishRecords(): Seq[String] =
    SketchAggregators.distRows(buf, spec.dtype.toString, spec.points,
      spec.numPoints.getOrElse(0)).map { r =>
      spec.dtype match {
        case DistributionType.QUANTILE =>
          Json.obj("Quantile" -> r.quantile, "Value" -> r.value)
        case _ =>
          Json.obj("Range" -> r.range, "Count" -> r.count, "Probability" -> r.probability)
      }
    }
  def reset(): Unit = buf = new KllBuf(spec.k)
}

/** TOP_K: FrequentItems buffer; finishes through the same function as the
  * batch aggregate ([[SketchAggregators.topKRows]]). */
final class TopKState(spec: TopK) extends AggState {
  var buf = new FreqItemsBuf(spec.maxMapSize)
  def finishRecords(): Seq[String] =
    SketchAggregators.topKRows(buf, spec.k, spec.threshold.getOrElse(0L)).map { row =>
      val keys = graft.compile.CompositeKeys.parse(row.key)
      val keyFields = spec.fields.map(_._2).zip(keys)
      Json.obj(keyFields :+ (spec.countName -> row.count): _*)
    }
  def reset(): Unit = buf = new FreqItemsBuf(spec.maxMapSize)
}

object AggState {
  def forSpec(agg: Aggregation): AggState = forQuery(QuerySpec("_", aggregation = agg))

  /** Window-aware state: a RAW RECORD window `every N include first M` with
    * M < N caps each window's collected records at M exactly — the finest
    * granularity the reference's include-first surface offers. Other
    * aggregations and TIME include are gated per batch by the runner
    * (QueryRunner.includeOpenNow — batch-granularity, the coalescing
    * deviation of SURVEY §7.3). M == N is the plain sliding window: no
    * cap, so the per-batch coalesced emit keeps every matched record. */
  /** The effective RAW take-n cap for a spec — shared by the driver-held
    * [[RawState]] and the transformWithState twin ([[RawTws]]) so the
    * two backends agree on the window-include interaction. */
  def rawCap(spec: QuerySpec): Int = spec.aggregation match {
    case Raw(size) => spec.window match {
      case Some(w) if w.emitUnit == WindowUnit.RECORD &&
          w.includeUnit == WindowUnit.RECORD &&
          w.includeFirst > 0 && w.includeFirst < w.emitEvery =>
        math.min(size.toLong, w.includeFirst).toInt
      case _ => size
    }
    case _ => throw new IllegalArgumentException(s"not a RAW spec: ${spec.id}")
  }

  def forQuery(spec: QuerySpec): AggState = spec.aggregation match {
    case _: Raw => new RawState(rawCap(spec))
    case GroupAll(ops)        => new GroupAllState(ops)
    case GroupBy(f, ops, e)   => new GroupByState(f, ops, e)
    case cd: CountDistinct    => new CountDistinctState(cd)
    case d: Distribution      => new DistributionState(d)
    case tk: TopK             => new TopKState(tk)
  }
}
