package perfbench

import graft.streaming.Clip
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own invariants: seeded inputs, the tail-percentile rule,
  * span self-time arithmetic, and an oracle that catches a wrong answer. */
class SelfSpec extends AnyFunSuite {
  private val stream = Gen.Stream(keys = 100, zipfS = 0.9, batchRecords = 50, periodMs = 100)

  test("the same seed gives identical batches, another seed different ones") {
    val a = Gen.batches(7L, 4, stream)
    val b = Gen.batches(7L, 4, stream)
    val c = Gen.batches(8L, 4, stream)
    assert(a.map(_.toSeq) == b.map(_.toSeq))
    assert(a.map(_.toSeq) != c.map(_.toSeq))
    // a prefix does not depend on how many batches are generated
    assert(Gen.batches(7L, 2, stream).map(_.toSeq) == a.take(2).map(_.toSeq))
  }

  test("query plans are seeded too") {
    def ids(seed: Long) = {
      val p = Workloads.byName("churn_bql").plan(seed)
      (p.initial ++ (1 to 3).flatMap(k => p.at(k)._2)).map(_.message)
    }
    assert(ids(3L) == ids(3L))
    assert(ids(3L) != ids(4L))
  }

  test("a tail percentile needs at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tailPercentile(xs, 90).contains(90.0))
    assert(Stats.tailPercentile(xs.take(99), 90).isEmpty)
    assert(Stats.tailPercentile(xs.take(20), 50).contains(10.0))
    assert(Stats.tailPercentile(xs.take(19), 50).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time is the span minus the union of its children, clipped") {
    assert(Stats.unionLength(Seq((1.0, 3.0), (2.0, 5.0), (8.0, 12.0))) == 8.0)
    assert(Stats.selfTime(0, 10, Seq((1.0, 3.0), (2.0, 5.0), (8.0, 12.0))) == 4.0)
    assert(Stats.selfTime(0, 10, Nil) == 10.0)
    assert(Stats.selfTime(0, 10, Seq((-5.0, 20.0))) == 0.0)
  }

  test("the layer table attributes self time to each span name") {
    val spans = IndexedSeq(
      Span("step", 0, 0, 10, -1),
      Span("runner.processBatch", 0, 1, 9, 0),
      Span("spark.job", 0, 2, 5, 1),
      Span("spark.job", 0, 4, 7, 1))
    val t = Tracer.layerTable(spans, 0, 10).map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(t("step") == ((1, 10.0, 2.0)))
    assert(t("runner.processBatch") == ((1, 8.0, 3.0)))
    assert(t("spark.job") == ((2, 6.0, 6.0)))
  }

  test("the oracle accepts right answers and rejects a planted wrong one") {
    val batches = Gen.batches(1L, 2, stream)
    val all = batches.flatten
    val pred = (e: Event) => e.userId % 3 == 0
    val m = all.filter(pred)
    val stats = Query("s", "", pred, Agg.Stats("cnt", "sv", Some("mn"), Some("mx")))
    val raw = Query("r", "", pred, Agg.Records(5, Some(Seq("event_id", "user_id", "value"))))
    def statsClip(cnt: Long, sum: Double) = Clip("s", Map("query_id" -> "s", "signal" -> "COMPLETE"),
      Seq(graft.streaming.Json.obj("cnt" -> cnt, "sv" -> sum,
        "mn" -> m.map(_.value).min, "mx" -> m.map(_.value).max))).asJson
    def rawClip(es: Seq[Event]) = Clip("r", Map("query_id" -> "r", "signal" -> "COMPLETE"),
      es.map(e => graft.streaming.Json.obj("event_id" -> e.eventId, "user_id" -> e.userId,
        "value" -> e.value))).asJson
    val queries = Map("s" -> stats, "r" -> raw)
    val reg = Map("s" -> 0, "r" -> 0)
    def check(clips: String*) = Oracle.check(queries, reg, clips.map(Emitted(_, 1)), batches)

    val good = Seq(statsClip(m.size, m.map(_.value).sum), rawClip(m.take(5)))
    assert(check(good: _*).isEmpty)
    assert(check(statsClip(m.size + 1, m.map(_.value).sum), good(1)).nonEmpty)
    assert(check(statsClip(m.size, m.map(_.value).sum * (1 + 1e-6)), good(1)).nonEmpty)
    assert(check(good(0), rawClip(m.take(4))).nonEmpty)
    assert(check(good(0), rawClip(all.filterNot(pred).take(5))).nonEmpty)
    assert(check(good(0)).exists(_.contains("no final result")))
  }
}
