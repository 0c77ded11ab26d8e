package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.datasketches.kll.KllSketch

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One rendered result clip (`Clip.asJson`) and the step whose batch was the
  * last one merged before it was emitted. */
final case class Emitted(json: String, step: Int)

/**
 * Independent plain-Scala recomputation of every query result.
 *
 * A window clip emitted at step `s` covers the batches from the step after
 * the query's previous result (or its registration step) through `s`:
 * the runner emits only after a batch has merged. For each covered range
 * the oracle recomputes the answer from the generated records and compares:
 * COUNT, MIN, MAX, GROUP BY groups, COUNT DISTINCT and TOP K exactly, SUM to
 * a relative 1e-9, quantiles within twice the KLL sketch's 99%-confidence
 * single-rank error, and RAW as min(limit, matched) records, each one a
 * matching generated record.
 */
object Oracle {
  private val mapper = new ObjectMapper()

  /** Matched records of one query over a range of batches, with indexes
    * that make `user_id == k` and `value > t` queries cheap to select. */
  private final class Range(events: Array[Event]) {
    lazy val byUser: Map[Long, Array[Event]] = events.groupBy(_.userId)
    lazy val byValue: Array[Event] = events.sortBy(_.value)
    lazy val byId: Map[Long, Event] = events.iterator.map(e => e.eventId -> e).toMap
    private val byKey = mutable.HashMap.empty[String, IndexedSeq[Event]]
    def matched(q: Query): IndexedSeq[Event] = (q.eqUser, q.valueAbove) match {
      case (Some(k), _) => byUser.getOrElse(k, Array.empty[Event]).toIndexedSeq
      case (_, Some(t)) =>
        var lo = 0; var hi = byValue.length
        while (lo < hi) { val mid = (lo + hi) >>> 1; if (byValue(mid).value > t) hi = mid else lo = mid + 1 }
        byValue.view.slice(lo, byValue.length).toIndexedSeq
      case _ => q.predKey match {
        case Some(k) => byKey.getOrElseUpdate(k, events.filter(q.pred).toIndexedSeq)
        case None    => events.filter(q.pred).toIndexedSeq
      }
    }
  }

  /** Checks every emitted clip; returns one message per mismatch. */
  def check(queries: collection.Map[String, Query], registeredAt: collection.Map[String, Int],
            emitted: Seq[Emitted], batches: IndexedSeq[Array[Event]]): Seq[String] = {
    val errors = mutable.ArrayBuffer.empty[String]
    val ranges = mutable.HashMap.empty[(Int, Int), Range]
    def range(from: Int, to: Int): Range =
      ranges.getOrElseUpdate((from, to), new Range(batches.slice(from, to + 1).flatten.toArray))
    val coveredFrom = mutable.HashMap.empty[String, Int] ++ registeredAt
    // Queries with the same predicate and aggregation that return the same
    // records over the same batches need only one check.
    val passed = mutable.HashSet.empty[(String, Agg, Int, Int, String)]
    val ended = mutable.HashSet.empty[String]
    emitted.foreach { em =>
      val clip = mapper.readTree(em.json)
      val meta = clip.get("meta")
      val id = meta.get("query_id").asText()
      val signal = Option(meta.get("signal")).map(_.asText())
      queries.get(id) match {
        case None => errors += s"$id: result for a query the benchmark never registered"
        case Some(q) => signal match {
          case Some("FAIL") => errors += s"$id: FAIL ${meta.get("errors")}"; ended += id
          case Some("KILL") => ended += id
          case _ =>
            val from = coveredFrom(id)
            val records = clip.get("records")
            val key = q.predKey.map(k => (k, q.agg, from, em.step, records.toString))
            if (!key.exists(passed)) {
              val errs = compare(q, records.elements().asScala.toSeq, range(from, em.step), from, em.step)
              errors ++= errs
              if (errs.isEmpty) key.foreach(passed += _)
            }
            coveredFrom(id) = em.step + 1
            if (signal.contains("COMPLETE")) ended += id
        }
      }
    }
    queries.keys.filterNot(ended).foreach(id => errors += s"$id: no final result")
    errors.toSeq
  }

  private def num(n: JsonNode): Option[Double] =
    Option(n).filterNot(_.isNull).map(_.asDouble())

  private def compare(q: Query, rs: Seq[JsonNode], r: Range, from: Int, to: Int): Seq[String] = {
    val m = r.matched(q)
    val where = s"${q.id} batches $from..$to"
    def err(msg: String) = Seq(s"$where: $msg")
    q.agg match {
      case Agg.Stats(cnt, sv, mn, mx) =>
        if (rs.size != 1) return err(s"expected one record, got ${rs.size}")
        val rec = rs.head
        val out = mutable.ArrayBuffer.empty[String]
        if (rec.get(cnt).asLong() != m.size) out ++= err(s"count ${rec.get(cnt)} != ${m.size}")
        if (m.isEmpty) {
          if (Seq(Some(sv), mn, mx).flatten.exists(f => num(rec.get(f)).isDefined))
            out ++= err(s"aggregates of no records must be null: $rec")
        } else {
          val sum = m.iterator.map(_.value).sum
          val got = num(rec.get(sv)).getOrElse(Double.NaN)
          if (!(math.abs(got - sum) <= 1e-9 * math.abs(sum))) out ++= err(s"sum $got != $sum")
          mn.foreach(f => if (num(rec.get(f)) != Some(m.iterator.map(_.value).min))
            out ++= err(s"min ${rec.get(f)} != ${m.iterator.map(_.value).min}"))
          mx.foreach(f => if (num(rec.get(f)) != Some(m.iterator.map(_.value).max))
            out ++= err(s"max ${rec.get(f)} != ${m.iterator.map(_.value).max}"))
        }
        out.toSeq
      case Agg.Distinct(name) =>
        val want = m.iterator.map(_.userId).toSet.size
        if (rs.size != 1 || rs.head.get(name).asLong() != want)
          err(s"count distinct ${rs.map(_.get(name))} != $want") else Nil
      case Agg.Top(k, alias, countName) =>
        val counts = m.groupBy(_.eventType).map { case (t, es) => t -> es.size.toLong }
        val got = rs.map(x => x.get(alias).asText() -> x.get(countName).asLong())
        val kept = got.map(_._1).toSet
        val floor = if (got.isEmpty) Long.MaxValue else got.map(_._2).min
        if (got.size != math.min(k, counts.size)) err(s"top-$k size ${got.size} of ${counts.size} items")
        else if (got.exists { case (t, c) => !counts.get(t).contains(c) })
          err(s"top-$k counts $got != $counts")
        else if (counts.exists { case (t, c) => !kept(t) && c > floor })
          err(s"top-$k $got omits a more frequent item of $counts")
        else Nil
      case Agg.Quantiles(points, k) =>
        val sorted = m.iterator.map(_.value).toArray.sorted
        if (sorted.isEmpty) return Nil // an empty sketch has no quantiles to check
        val eps = 2 * KllSketch.getNormalizedRankError(k, false)
        val n = sorted.length.toDouble
        if (rs.size != points.size) return err(s"${rs.size} quantiles for ${points.size} points")
        rs.flatMap { x =>
          val p = x.get("Quantile").asDouble()
          val v = x.get("Value").asDouble()
          val below = lowerBound(sorted, v) / n
          val atOrBelow = upperBound(sorted, v) / n
          if (points.contains(p) && p >= below - eps && p <= atOrBelow + eps) Nil
          else err(s"quantile $p value $v has rank [$below, $atOrBelow], bound $eps")
        }
      case Agg.Records(limit, fields) =>
        val want = math.min(limit, m.size)
        if (rs.size != want) return err(s"RAW returned ${rs.size} records, expected $want")
        rs.flatMap { x =>
          r.byId.get(x.get("event_id").asLong()) match {
            case None => err(s"RAW record $x is not in the covered batches")
            case Some(e) =>
              val full = Map[String, Any]("event_id" -> e.eventId, "ts" -> e.ts,
                "user_id" -> e.userId, "event_type" -> e.eventType, "value" -> e.value,
                "props" -> e.props)
              val names = fields.getOrElse(full.keys.toSeq)
              val same = x.size == names.size && names.forall { f =>
                val g = x.get(f)
                g != null && (full(f) match {
                  case s: String => g.asText() == s
                  case d: Double => g.asDouble() == d
                  case l: Long   => g.asLong() == l
                })
              }
              if (!q.pred(e)) err(s"RAW record $x fails the filter")
              else if (!same) err(s"RAW record $x differs from the generated record $e")
              else Nil
          }
        }
      case Agg.ByType(alias, cnt, sv, havingAbove) =>
        val want = m.groupBy(_.eventType).filter(_._2.size > havingAbove.getOrElse(0L))
        val got = rs.map(x => x.get(alias).asText() -> x).toMap
        val counts = rs.map(_.get(cnt).asLong())
        if (got.keySet != want.keySet) err(s"groups ${got.keySet} != ${want.keySet}")
        else if (havingAbove.isDefined && counts != counts.sorted.reverse)
          err(s"groups not ordered by count descending: $counts")
        else got.toSeq.flatMap { case (t, x) =>
          val es = want(t)
          val sum = es.iterator.map(_.value).sum
          val s = num(x.get(sv)).getOrElse(Double.NaN)
          if (x.get(cnt).asLong() != es.size) err(s"group $t count ${x.get(cnt)} != ${es.size}")
          else if (!(math.abs(s - sum) <= 1e-9 * math.abs(sum))) err(s"group $t sum $s != $sum")
          else Nil
        }
    }
  }

  /** Number of elements < v / <= v in an ascending array. */
  private def lowerBound(a: Array[Double], v: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) < v) lo = mid + 1 else hi = mid }
    lo
  }
  private def upperBound(a: Array[Double], v: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) <= v) lo = mid + 1 else hi = mid }
    lo
  }
}
