package perfbench

import java.util.SplittableRandom

import graft.model._
import graft.streaming.{Json, QueryJson}

/** What a query computes, in the benchmark's own terms, so that [[Oracle]]
  * can recompute it from the generated records without the engine. */
sealed trait Agg
object Agg {
  /** GROUP(all): COUNT(*) and SUM (and optionally MIN, MAX) of `value`. */
  final case class Stats(count: String, sum: String, min: Option[String], max: Option[String])
      extends Agg
  /** COUNT DISTINCT user_id. */
  final case class Distinct(name: String) extends Agg
  /** TOP K event_type, rendered as `alias`. */
  final case class Top(k: Int, alias: String, countName: String) extends Agg
  /** QUANTILE of `value` from a KLL sketch of size `k`. */
  final case class Quantiles(points: Seq[Double], k: Int) extends Agg
  /** RAW: up to `limit` matching records (`fields` = projection, None = all). */
  final case class Records(limit: Int, fields: Option[Seq[String]]) extends Agg
  /** GROUP BY event_type: COUNT(*) and SUM(value); with `havingAbove`, only
    * groups whose count exceeds it, ordered by count descending. */
  final case class ByType(alias: String, count: String, sum: String,
                          havingAbove: Option[Long] = None) extends Agg
}

/** One benchmark query: the control message that registers it, and an
  * independent plain-Scala predicate for the oracle. `eqUser` and
  * `valueAbove` restate the predicate as an index lookup when it is
  * `user_id == k` or `value > t`, so the oracle stays fast at 10k queries.
  * Queries with the same `predKey` have the same predicate, so the oracle
  * selects their records once. */
final case class Query(id: String, message: String, pred: Event => Boolean, agg: Agg,
                       eqUser: Option[Long] = None, valueAbove: Option[Double] = None,
                       predKey: Option[String] = None)

/** The control messages of one workload: the queries registered at set-up,
  * then per step the ids to KILL and the queries to register. Steps are
  * generated in order from the seed, so any prefix is deterministic. */
trait ControlPlan {
  def initial: Seq[Query]
  def at(step: Int): (Seq[String], Seq[Query])
}

/** One workload: the stream's shape (with the open-loop period
  * `stream.periodMs`) and the control messages drawn from the seed. */
final case class Workload(name: String, stream: Gen.Stream, plan: Long => ControlPlan)

object Workloads {
  val DurationMs = 3600000L

  def register(spec: QuerySpec): String =
    s"""{"type":"REGISTER","query":${QueryJson.render(spec)}}"""
  def registerBql(id: String, bql: String): String =
    Json.obj("type" -> "REGISTER_BQL", "id" -> id, "bql" -> bql)
  def kill(id: String): String = Json.obj("type" -> "KILL", "id" -> id)

  private final class Static(qs: Seq[Query]) extends ControlPlan {
    def initial: Seq[Query] = qs
    def at(step: Int): (Seq[String], Seq[Query]) = (Nil, Nil)
  }

  private val countSum = Seq(
    GroupOp(GroupOpType.COUNT, None, "cnt"), GroupOp(GroupOpType.SUM, Some("value"), "sv"))

  /** b11's query set: 1000 queries over all six aggregation kinds, seven
    * `user_id % 7` filters. The set is fixed; the seed only moves the data. */
  def mixedQueries: Seq[Query] = (0 until 1000).map { i =>
    val r = i.toLong % 7
    val filter = Binary(Binary(Field("user_id"), Lit(7L), BinOp.MOD), Lit(r), BinOp.EQUALS)
    val (agg, mine): (Aggregation, Agg) = i % 6 match {
      case 0 => (GroupAll(countSum), Agg.Stats("cnt", "sv", None, None))
      case 1 => (CountDistinct(Seq("user_id"), lgK = 14), Agg.Distinct("count"))
      case 2 => (TopK(Seq("event_type" -> "et"), k = 3, countName = "cnt", maxMapSize = 64),
        Agg.Top(3, "et", "cnt"))
      case 3 => (Distribution("value", DistributionType.QUANTILE, Seq(0.1, 0.5, 0.9), k = 1024),
        Agg.Quantiles(Seq(0.1, 0.5, 0.9), 1024))
      case 4 => (Raw(100), Agg.Records(100, None))
      case _ => (GroupBy(Seq("event_type" -> "et"), countSum, entries = 32),
        Agg.ByType("et", "cnt", "sv"))
    }
    val id = s"mx$i"
    Query(id, register(QuerySpec(id, filter = Some(filter), aggregation = agg,
      durationMs = DurationMs)), e => e.userId % 7 == r, mine, predKey = Some(s"mod7=$r"))
  }

  /** 8000 `user_id == k` and 2000 `value > t` GROUP(all) queries: all of
    * them fold into the equality and range partitioners. */
  def eqRangeQueries(seed: Long): Seq[Query] = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val ops = countSum ++ Seq(GroupOp(GroupOpType.MIN, Some("value"), "mn"),
      GroupOp(GroupOpType.MAX, Some("value"), "mx"))
    val stats = Agg.Stats("cnt", "sv", Some("mn"), Some("mx"))
    def spec(id: String, f: Expr) =
      register(QuerySpec(id, filter = Some(f), aggregation = GroupAll(ops), durationMs = DurationMs))
    val eq = (0 until 8000).map { i =>
      val k = i.toLong
      Query(s"eq$i", spec(s"eq$i", Binary(Field("user_id"), Lit(k), BinOp.EQUALS)),
        e => e.userId == k, stats, eqUser = Some(k))
    }
    val range = (0 until 2000).map { i =>
      val t = rnd.nextInt(2000) / 20.0
      Query(s"rg$i", spec(s"rg$i", Binary(Field("value"), Lit(t), BinOp.GREATER_THAN)),
        e => e.value > t, stats, valueAbove = Some(t))
    }
    eq ++ range
  }

  /** The `n`-th BQL query: aggregation kind `n % 5` and filter shape `n % 3`
    * (so any 15 consecutive queries hold the same mix), with literals drawn
    * from `rnd`; TIME-windowed to emit once per batch period. GROUP BY queries carry
    * HAVING and ORDER BY, so every window runs the post-aggregations.
    * COUNT DISTINCT is left to mixed_1000q: BQL gives it the engine's
    * default 2^17-entry sketch, whose buffers alone would dominate. */
  def bqlQuery(n: Int, rnd: SplittableRandom, periodMs: Long): Query = {
    val id = s"bq$n"
    val m = Seq(3L, 5L, 7L, 11L, 13L)(rnd.nextInt(5))
    val r = rnd.nextLong(m)
    val t = rnd.nextInt(200) / 2.0
    val et = Gen.EventTypes(rnd.nextInt(Gen.EventTypes.length))
    val (where, pred): (String, Event => Boolean) = n % 3 match {
      case 0 => (s"user_id % $m = $r", e => e.userId % m == r)
      case 1 => (s"event_type = '$et' AND value > $t", e => e.eventType == et && e.value > t)
      case _ => (s"user_id % $m = $r AND value < $t", e => e.userId % m == r && e.value < t)
    }
    val window = s"WINDOWING EVERY $periodMs TIME DURATION $DurationMs"
    val having = rnd.nextInt(20).toLong
    val (select, agg): (String, Agg) = n % 5 match {
      case 0 => ("SELECT COUNT(*) AS cnt, SUM(value) AS sv, MIN(value) AS mn, MAX(value) AS mx",
        Agg.Stats("cnt", "sv", Some("mn"), Some("mx")))
      case 1 => ("SELECT TOP(3, event_type) AS cnt", Agg.Top(3, "event_type", "cnt"))
      case 2 => ("SELECT QUANTILE(value, [0.1, 0.5, 0.9])", Agg.Quantiles(Seq(0.1, 0.5, 0.9), 2048))
      case 3 => ("SELECT event_type AS et, COUNT(*) AS cnt, SUM(value) AS sv",
        Agg.ByType("et", "cnt", "sv", Some(having)))
      case _ => ("SELECT event_id, user_id, value",
        Agg.Records(20, Some(Seq("event_id", "user_id", "value"))))
    }
    val tail = agg match {
      case _: Agg.ByType  => s" GROUP BY event_type HAVING cnt > $having ORDER BY cnt DESC"
      case _: Agg.Records => " LIMIT 20"
      case _              => ""
    }
    val bql = s"$select FROM STREAM WHERE $where$tail $window"
    Query(id, registerBql(id, bql), pred, agg)
  }

  /** `live` BQL queries; every step KILLs the `replace` oldest and registers
    * as many new ones, so each query lives `live / replace` steps and the
    * live set always holds the same mix of kinds. */
  private final class Churn(seed: Long, live: Int, replace: Int, periodMs: Long)
      extends ControlPlan {
    private val rnd = new SplittableRandom(seed ^ 0xc4a27L)
    private var next = 0
    private def fresh(): Query = { next += 1; bqlQuery(next, rnd, periodMs) }
    private val alive = scala.collection.mutable.Queue.empty[String]
    val initial: Seq[Query] = Seq.fill(live)(fresh())
    alive ++= initial.map(_.id)
    private var last = 0
    def at(step: Int): (Seq[String], Seq[Query]) = {
      require(step == last + 1, s"churn steps must be drawn in order ($step after $last)")
      last = step
      val kills = Seq.fill(replace)(alive.dequeue())
      val added = Seq.fill(replace)(fresh())
      alive ++= added.map(_.id)
      (kills, added)
    }
  }

  private val ChurnPeriodMs = 3000L

  // Periods sit at 1.5-2x each workload's median step time on a 4-core x86
  // VM, so the open loop stays below capacity when other tenants slow the
  // host by a fifth or more; see perfbench/NOTES.md.
  val all: Seq[Workload] = Seq(
    Workload("mixed_1000q", Gen.Stream(keys = 8000, zipfS = 0.9, batchRecords = 2000,
      periodMs = 1200), _ => new Static(mixedQueries)),
    Workload("eq_range_10k", Gen.Stream(keys = 8000, zipfS = 0.9, batchRecords = 2000,
      periodMs = 1700), seed => new Static(eqRangeQueries(seed))),
    Workload("churn_bql", Gen.Stream(keys = 8000, zipfS = 0.9, batchRecords = 500,
      periodMs = ChurnPeriodMs),
      seed => new Churn(seed, live = 40, replace = 4, ChurnPeriodMs)))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
