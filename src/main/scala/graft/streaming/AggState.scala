package graft.streaming

import graft.agg._
import graft.agg.MultiQueryPartial.{Acc, State}
import graft.model._

import scala.collection.mutable

/**
 * One query's driver-held state — the combiner half of the two-phase
 * contract (reference Querier Mode.ALL, JoinBolt.java:147-164): its
 * aggregation's entry state, one [[MultiQueryPartial.State]], or for GROUP
 * BY a sorted map of them by group key. Each batch's state for the query's
 * class folds in through [[MultiQueryPartial.mergeEntry]], the entry merge
 * that combines the tasks' states, so a value keeps the type, ordering and
 * overflow rule of one Spark aggregate over every batch. The state is
 * built from the spec alone and only reads a batch's state, which the
 * members of a class share. It finishes to result records (JSON object
 * strings) at window emits or query end.
 *
 * Memory: O(sketch) or O(cap/entries), never O(stream).
 */
final class AggState(spec: QuerySpec) {
  import AggState._

  /** The entry's sketch kind (RAW's over the whole cap); null for metrics. */
  private val kind: SketchPartial.Kind[AnyRef] = (spec.aggregation match {
    case _: Raw                => SketchPartial.Capped(rawCap(spec))
    case cd: CountDistinct     => SketchPartial.Theta(cd.lgK)
    case d: Distribution       => SketchPartial.Kll(d.k)
    case tk: TopK              => SketchPartial.FreqItems(tk.maxMapSize)
    case _: GroupAll | _: GroupBy => null
  }).asInstanceOf[SketchPartial.Kind[AnyRef]]

  private def fresh(): State = spec.aggregation match {
    case GroupAll(ops)      => new State(new Array[Acc](ops.size), null)
    case GroupBy(_, ops, _) => new State(new Array[Acc](ops.size), null)
    case _                  => new State(null, kind.zero())
  }

  /** The ungrouped state (unused for GROUP BY). */
  private[graft] var entry: State = fresh()
  private val groups = mutable.SortedMap.empty[Seq[String], State](
    Ordering.Implicits.seqOrdering[Seq, String])

  /** Folds one batch's state for the query's class in; raises when a
    * value cannot combine with the state's, which FAILs the query alone. */
  def merge(p: State): Unit = into(entry, p)

  /** [[merge]] for the group `key`. */
  def mergeGroup(key: Seq[String], p: State): Unit = into(groups.getOrElseUpdate(key, fresh()), p)

  private def into(st: State, p: State): Unit = {
    MultiQueryPartial.mergeEntry(st, p, kind)
    MultiQueryPartial.check(st)
  }

  private def records: SketchPartial.CappedBuf = entry.sketch.asInstanceOf[SketchPartial.CappedBuf]
  /** RAW: the records still to collect. */
  def remaining: Int = rawCap(spec) - records.n
  /** A RAW query whose buffer holds its cap. */
  def isFull: Boolean = spec.aggregation.isInstanceOf[Raw] && remaining <= 0

  /** Result records as JSON object strings. */
  def finishRecords(): Seq[String] = spec.aggregation match {
    case _: Raw => records.records
    case GroupAll(ops) => Seq(Json.obj(metrics(ops, entry): _*))
    case GroupBy(fields, ops, entries) =>
      // key-tuple → metrics, capped at `entries` (smallest keys kept —
      // deterministic deviation from the reference's Tuple-sketch sampling)
      while (groups.size > entries) groups.remove(groups.lastKey)
      groups.map { case (key, st) => Json.obj(fields.map(_._2).zip(key) ++ metrics(ops, st): _*) }.toSeq
    case cd: CountDistinct =>
      Seq(Json.obj(cd.name -> SketchAggregators.thetaEstimate(entry.sketch.asInstanceOf[ThetaBuf])))
    case d: Distribution =>
      SketchAggregators.distRows(entry.sketch.asInstanceOf[KllBuf], d.dtype.toString, d.points,
        d.numPoints.getOrElse(0)).map { r =>
        d.dtype match {
          case DistributionType.QUANTILE =>
            Json.obj("Quantile" -> r.quantile, "Value" -> r.value)
          case _ =>
            Json.obj("Range" -> r.range, "Count" -> r.count, "Probability" -> r.probability)
        }
      }
    case tk: TopK =>
      SketchAggregators.topKRows(entry.sketch.asInstanceOf[FreqItemsBuf], tk.k,
        tk.threshold.getOrElse(0L)).map { row =>
        val keys = graft.compile.CompositeKeys.parse(row.key)
        Json.obj(tk.fields.map(_._2).zip(keys) :+ (tk.countName -> row.count): _*)
      }
  }

  /** Drops the accumulated state (tumbling-window emit; additive windows skip). */
  def reset(): Unit = { entry = fresh(); groups.clear() }

  /** Extra result metadata: COUNT_DISTINCT's estimation info. */
  def metaEntries: Map[String, Any] = spec.aggregation match {
    case _: CountDistinct =>
      val s = entry.sketch.asInstanceOf[ThetaBuf].result
      Map("estimation" -> Map(
        "estimate" -> s.getEstimate,
        "lower_bound_2sd" -> s.getLowerBound(2),
        "upper_bound_2sd" -> s.getUpperBound(2),
        "was_estimated" -> s.isEstimationMode))
    case _ => Map.empty
  }
}

object AggState {
  /** GROUP metrics of one entry state, named: COUNT is the matched count;
    * AVG divides its sum at finish. */
  private[graft] def metrics(ops: Seq[GroupOp], st: State): Seq[(String, Any)] = ops.indices.map { i =>
    import GroupOpType._
    val a = st.accs(i)
    ops(i).name -> (ops(i).op match {
      case COUNT          => st.matched
      case COUNT_FIELD    => if (a == null) 0L else a.n
      case _ if a == null => null
      case AVG => a.value match { case s: Number => s.doubleValue / a.n; case _ => null }
      case _   => a.value
    })
  }

  /** The effective RAW take-n cap for a spec — shared by the driver-held
    * state and the transformWithState twin ([[RawTws]]) so the two
    * backends agree on the window-include interaction. A RAW RECORD window
    * `every N include first M` with M < N caps each window's collected
    * records at M exactly — the finest granularity the reference's
    * include-first surface offers. Other aggregations and TIME include are
    * gated per batch by the runner (QueryRunner.includeOpenNow —
    * batch-granularity, the coalescing deviation of SURVEY §7.3). M == N
    * is the plain sliding window: no cap, so the per-batch coalesced emit
    * keeps every matched record. */
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
}
