package graft

import graft.model._
import graft.compile.QueryCompiler
import graft.streaming._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Conformance tests for the streaming multi-query runner, mirroring the
  * reference's FilterBolt/JoinBolt round-trips (duration expiry, window
  * emit+reset, duplicate suppression, rate-limit kill, error clips, and
  * cross-batch partial merging). */
class QueryRunnerSpec extends SparkTestBase {

  private val mapper = new ObjectMapper()
  private def parse(json: String): Map[String, Any] =
    mapper.readValue(json, classOf[java.util.Map[String, Any]]).asScala.toMap

  private lazy val events = {
    val s = spark
    import s.implicits._
    (1L to 100L).map { i =>
      (i, if (i % 3 == 0) "click" else "view", i.toDouble, s"u${i % 7}")
    }.toDF("event_id", "etype", "value", "user")
  }

  private def clickCountSpec(id: String, durationMs: Long = 10000L,
                             window: Option[WindowSpec] = None,
                             rateLimit: Option[Long] = None) = QuerySpec(
    id = id,
    filter = Some(Binary(Field("etype"), Lit("click"), BinOp.EQUALS)),
    aggregation = GroupAll(Seq(
      GroupOp(GroupOpType.COUNT, None, "cnt"),
      GroupOp(GroupOpType.SUM, Some("value"), "sv"),
      GroupOp(GroupOpType.AVG, Some("value"), "av"))),
    window = window, durationMs = durationMs, rateLimitMaxEmit = rateLimit)

  test("batch equivalence: runner results match QueryCompiler for every aggregation type") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    val specs = Seq(
      clickCountSpec("g_all"),
      QuerySpec("g_by", aggregation = GroupBy(Seq("etype" -> "e"),
        Seq(GroupOp(GroupOpType.COUNT, None, "cnt"), GroupOp(GroupOpType.SUM, Some("value"), "sv")))),
      QuerySpec("cd", aggregation = CountDistinct(Seq("user"))),
      QuerySpec("tk", aggregation = TopK(Seq("user" -> "u"), k = 2, countName = "cnt")),
      QuerySpec("dist", aggregation = Distribution("value", DistributionType.QUANTILE, Seq(0.0, 0.5, 1.0), k = 1024)),
      QuerySpec("raw", filter = Some(Binary(Field("event_id"), Lit(95L), BinOp.GREATER_THAN)),
        aggregation = Raw(100)))
    specs.foreach(s => assert(runner.register(s).isEmpty))
    runner.processBatch(events)
    clock.advance(20000)
    val clips = runner.onTick()
    assert(clips.size === specs.size)
    val byId = clips.map(c => c.queryId -> c).toMap
    assert(byId.values.forall(_.signal.contains("COMPLETE")))

    // compare against the batch compiler, record by record
    def recordsOf(id: String) = byId(id).records.map(parse)
    val gAll = recordsOf("g_all").head
    assert(gAll("cnt") === 33)           // 33 clicks in 1..100
    assert(gAll("sv").asInstanceOf[Number].doubleValue ===
      (3 to 99 by 3).map(_.toDouble).sum)
    assert(gAll("av").asInstanceOf[Number].doubleValue ===
      (3 to 99 by 3).map(_.toDouble).sum / 33)

    val gBy = recordsOf("g_by").map(r => r("e") -> r("cnt")).toMap
    assert(gBy === Map("click" -> 33, "view" -> 67))

    assert(recordsOf("cd").head("count") === 7)

    val tk = recordsOf("tk").map(r => (r("u"), r("cnt")))
    val expectTk = QueryCompiler.run(events,
      QuerySpec("x", aggregation = TopK(Seq("user" -> "u"), k = 2, countName = "cnt")))
      .collect().map(r => (r.getString(0), r.getLong(1).toInt)).toSeq
    assert(tk === expectTk)

    val dist = recordsOf("dist").map(r => r("Quantile") -> r("Value")).toMap
    assert(dist === Map(0.0 -> 1.0, 0.5 -> 50.0, 1.0 -> 100.0))

    assert(recordsOf("raw").size === 5)
    assert(recordsOf("raw").forall(_("event_id").asInstanceOf[Number].longValue > 95))
  }

  test("no plan processBatch runs holds a ScalaAggregator: partials are native aggregates") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.aggregate.ScalaAggregator
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[LogicalPlan]())
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.analyzed)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.analyzed)
    }
    val runner = new QueryRunner(spark, new ManualClock(0))
    Seq(
      QuerySpec("cd", aggregation = CountDistinct(Seq("user"))),
      QuerySpec("q", aggregation = Distribution("value", DistributionType.QUANTILE,
        Seq(0.5), k = 1024)),
      QuerySpec("tk", aggregation = TopK(Seq("user" -> "u"), k = 2, countName = "cnt")),
      QuerySpec("raw", aggregation = Raw(5)),
      clickCountSpec("g_all"),
      QuerySpec("g_by", aggregation = GroupBy(Seq("etype" -> "e"),
        Seq(GroupOp(GroupOpType.COUNT, None, "cnt"))))
    ).foreach(s => assert(runner.register(s).isEmpty))
    spark.listenerManager.register(listener)
    try {
      runner.processBatch(events)
      // listener events dispatch asynchronously; wait until the capture
      // count stabilizes (two consecutive equal reads 200 ms apart)
      var prev = -1
      var waited = 0
      while (plans.size() != prev && waited < 10000) {
        prev = plans.size(); Thread.sleep(200); waited += 200
      }
    } finally spark.listenerManager.unregister(listener)
    assert(runner.lastBatchJobs.keySet === Set(QueryRunner.JobKind.Shared,
      QueryRunner.JobKind.Grouped))
    val exprs = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.sql.catalyst.expressions.Expression]
    plans.asScala.foreach(_.foreach(_.expressions.foreach(_.foreach(exprs += _))))
    assert(exprs.exists(_.isInstanceOf[graft.agg.SketchPartial[_]]),
      "the listener captured no shared-pass plan")
    val udafs = exprs.collect { case a: ScalaAggregator[_, _, _] => a.nodeName }
    assert(udafs.isEmpty, s"processBatch ran udaf(Aggregator) columns: $udafs")
  }

  test("cross-batch partial merge equals single-batch result") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("q"))
    runner.register(QuerySpec("cd", aggregation = CountDistinct(Seq("user"))))
    val b1 = events.filter(col("event_id") <= 50)
    val b2 = events.filter(col("event_id") > 50)
    runner.processBatch(b1)
    runner.processBatch(b2)
    clock.advance(20000)
    val clips = runner.onTick()
    val byId = clips.map(c => c.queryId -> c).toMap
    val r = parse(byId("q").records.head)
    assert(r("cnt") === 33)
    assert(parse(byId("cd").records.head)("count") === 7)
  }

  test("no consumption after done: expired query ignores later batches") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("q", durationMs = 1000))
    runner.processBatch(events)
    clock.advance(2000)
    val clips = runner.onTick()
    assert(clips.size === 1 && clips.head.signal.contains("COMPLETE"))
    assert(parse(clips.head.records.head)("cnt") === 33)
    // a later batch must not produce anything for q
    assert(runner.processBatch(events).isEmpty)
    assert(runner.activeQueryIds.isEmpty)
  }

  test("duplicate registration is suppressed and counted") {
    val runner = new QueryRunner(spark, new ManualClock(0))
    assert(runner.register(clickCountSpec("dup")).isEmpty)
    assert(runner.register(clickCountSpec("dup")).isEmpty)
    assert(runner.duplicatesSuppressed === 1)
    assert(runner.activeQueryIds === Seq("dup"))
  }

  test("invalid query yields an error Clip with FAIL signal") {
    val runner = new QueryRunner(spark, new ManualClock(0))
    val bad = QuerySpec("bad",
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.SUM, None, "s"))))
    val clip = runner.register(bad)
    assert(clip.isDefined)
    assert(clip.get.signal.contains("FAIL"))
    assert(clip.get.meta("errors").asInstanceOf[Seq[String]].exists(_.contains("SUM")))
    assert(runner.activeQueryIds.isEmpty)
    // the envelope renders as {meta, records}
    val json = parse(clip.get.asJson)
    assert(json.contains("meta") && json.contains("records"))
  }

  test("KILL removes the query and emits a KILL clip") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("k"))
    runner.processBatch(events)
    val clip = runner.kill("k")
    assert(clip.isDefined && clip.get.signal.contains("KILL"))
    assert(runner.activeQueryIds.isEmpty)
    assert(runner.kill("k").isEmpty)
  }

  test("rate limit: burst inside one check interval → KILL clip") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock, rateCheckIntervalMs = 1000)
    // every record-window emission emits one record; 3 emits in one check
    // interval > limit 2 → killed at the interval boundary
    runner.register(clickCountSpec("rl", durationMs = 100000,
      window = Some(WindowSpec(WindowUnit.RECORD, 10, WindowUnit.RECORD, 10)),
      rateLimit = Some(2L)))
    runner.processBatch(events) // 33 matched → window emit (1 record)
    runner.processBatch(events)
    runner.processBatch(events) // 3 emitted inside the interval
    clock.advance(1000)         // check fires: 3 > 2 → kill
    runner.onTick()
    val kills = runner.results.filter(_.signal.contains("KILL"))
    assert(kills.size === 1)
    assert(kills.head.meta("errors").asInstanceOf[Seq[String]].head.contains("rate limit"))
    assert(runner.activeQueryIds.isEmpty)
  }

  test("rate limit is a RATE: steady low-rate query survives past the old cumulative cap") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock, rateCheckIntervalMs = 1000)
    runner.register(clickCountSpec("steady", durationMs = 1000000,
      window = Some(WindowSpec(WindowUnit.RECORD, 10, WindowUnit.RECORD, 10)),
      rateLimit = Some(2L)))
    // 6 window emissions, one per check interval: lifetime total (6) is far
    // past the per-interval limit (2), but the per-interval rate (1) is under
    // it — the query must stay alive (reference JoinBolt.java:199-208).
    (1 to 6).foreach { _ =>
      runner.processBatch(events) // 33 matched → one window emit (1 record)
      clock.advance(1000)
      runner.onTick()
    }
    assert(runner.results.count(_.signal.contains("KILL")) === 0)
    assert(runner.activeQueryIds === Seq("steady"))
  }

  test("streaming post-aggregations match the batch compiler path") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    val spec = QuerySpec("pa",
      aggregation = GroupBy(Seq("user" -> "u"), Seq(
        GroupOp(GroupOpType.COUNT, None, "cnt"),
        GroupOp(GroupOpType.MIN, Some("value"), "mn"))),
      postAggregations = Seq(
        Having(Binary(Field("cnt"), Lit(14L), BinOp.GREATER_OR_EQUALS)),
        Computation(Seq("ratio" -> Binary(Field("cnt"), Lit(2.0), BinOp.DIV))),
        Culling(Seq("mn")),
        OrderBy(Seq("cnt" -> false, "u" -> true))))
    runner.register(spec)
    runner.processBatch(events)
    clock.advance(20000)
    val clips = runner.onTick()
    assert(clips.size === 1)
    val got = clips.head.records.map(parse)
    val expected = QueryCompiler.run(events, spec).collect().map { r =>
      Map("u" -> r.getAs[String]("u"), "cnt" -> r.getAs[Long]("cnt"),
        "ratio" -> r.getAs[Double]("ratio"))
    }.toSeq
    assert(got.map(r => (r("u"), r("cnt"), r("ratio"))) ===
      expected.map(r => (r("u"), r("cnt"), r("ratio"))))
    // culled column is gone
    assert(got.forall(!_.contains("mn")))
  }

  test("streaming HAVING filters windowed emissions too") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(QuerySpec("wh",
      aggregation = GroupBy(Seq("etype" -> "e"),
        Seq(GroupOp(GroupOpType.COUNT, None, "cnt"))),
      window = Some(WindowSpec(WindowUnit.TIME, 1000, WindowUnit.TIME, 1000)),
      durationMs = 100000,
      postAggregations = Seq(Having(Binary(Field("cnt"), Lit(50L), BinOp.GREATER_THAN)))))
    runner.processBatch(events) // click=33, view=67 → only view survives HAVING
    clock.advance(1000)
    val w1 = runner.onTick()
    assert(w1.size === 1)
    val recs = w1.head.records.map(parse)
    assert(recs.size === 1 && recs.head("e") === "view" && recs.head("cnt") === 67)
  }

  test("RAW early termination: full buffer finishes before duration expiry") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(QuerySpec("raw_full",
      filter = Some(Binary(Field("etype"), Lit("click"), BinOp.EQUALS)),
      aggregation = Raw(10), durationMs = 1000000))
    // 33 clicks > cap 10 → COMPLETE immediately inside processBatch
    val clips = runner.processBatch(events)
    assert(clips.size === 1 && clips.head.signal.contains("COMPLETE"))
    assert(clips.head.records.size === 10)
    assert(runner.activeQueryIds.isEmpty)
  }

  test("GROUP BY record-window counts matched records beyond the entries cap") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // 7 distinct users but entries cap 2: the kept top-2 groups cover only a
    // fraction of the 100 matched records; the RECORD window (and metrics)
    // must still see all 100.
    runner.register(QuerySpec("gw",
      aggregation = GroupBy(Seq("user" -> "u"),
        Seq(GroupOp(GroupOpType.COUNT, None, "cnt")), entries = 2),
      window = Some(WindowSpec(WindowUnit.RECORD, 100, WindowUnit.RECORD, 100)),
      durationMs = 100000))
    val emitted = runner.processBatch(events) // 100 matched ≥ 100 → emit
    assert(emitted.size === 1, "record window must fire from the ungrouped matched count")
    assert(runner.queryStats("gw").get("records_seen") === 100L)
  }

  test("filter-latency gauge: per-batch wall delta accumulates per query") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("lat", durationMs = 100000))
    runner.processBatch(events)
    val s1 = runner.queryStats("lat").get
    // a real Spark job ran between batch start and the merge — the gauge
    // must be a positive wall-ms reading, independent of the ManualClock
    assert(s1("batches_seen") === 1L)
    assert(s1("filter_latency_ms_last") > 0L, s1.toString)
    assert(s1("filter_latency_ms_total") === s1("filter_latency_ms_last"))
    runner.processBatch(events)
    val s2 = runner.queryStats("lat").get
    assert(s2("batches_seen") === 2L)
    assert(s2("filter_latency_ms_total") ===
      s1("filter_latency_ms_total") + s2("filter_latency_ms_last"))
  }

  test("tumbling time window: emit + reset per interval") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("w", durationMs = 100000,
      window = Some(WindowSpec(WindowUnit.TIME, 1000, WindowUnit.TIME, 1000))))
    runner.processBatch(events)
    clock.advance(1000)
    val w1 = runner.onTick()
    assert(w1.size === 1)
    assert(parse(w1.head.records.head)("cnt") === 33)
    assert(w1.head.meta("window_number") === 1L)
    // next window: state was reset, no new data → zero counts
    runner.processBatch(events.filter(col("event_id") <= 9)) // 3 clicks
    clock.advance(1000)
    val w2 = runner.onTick()
    assert(w2.size === 1)
    assert(parse(w2.head.records.head)("cnt") === 3)
  }

  test("additive window accumulates across emissions (no reset)") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("a", durationMs = 100000,
      window = Some(WindowSpec(WindowUnit.TIME, 1000, WindowUnit.ALL, 0))))
    runner.processBatch(events.filter(col("event_id") <= 30)) // 10 clicks
    clock.advance(1000)
    assert(parse(runner.onTick().head.records.head)("cnt") === 10)
    runner.processBatch(events.filter(col("event_id") > 30)) // 23 clicks
    clock.advance(1000)
    assert(parse(runner.onTick().head.records.head)("cnt") === 33)
  }

  test("record window: emits once enough matched records accumulate") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("r", durationMs = 100000,
      window = Some(WindowSpec(WindowUnit.RECORD, 20, WindowUnit.RECORD, 20))))
    val none = runner.processBatch(events.filter(col("event_id") <= 30)) // 10 clicks < 20
    assert(none.isEmpty)
    val emitted = runner.processBatch(events.filter(col("event_id") > 30)) // +23 ≥ 20
    assert(emitted.size === 1)
    assert(parse(emitted.head.records.head)("cnt") === 33)
  }

  test("COUNT_DISTINCT clip carries sketch estimation metadata") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(QuerySpec("cd", aggregation = CountDistinct(Seq("user")), durationMs = 1))
    runner.processBatch(events)
    clock.advance(10)
    val clip = runner.onTick().head
    val est = clip.meta("estimation").asInstanceOf[Map[String, Any]]
    assert(est("estimate").asInstanceOf[Double] === 7.0)
    assert(est("was_estimated") === false)
  }

  test("shared pass: 20 concurrent queries in one batch, all correct") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    (0 until 20).foreach { i =>
      runner.register(QuerySpec(s"q$i",
        filter = Some(Binary(Binary(Field("event_id"), Lit(7L), BinOp.MOD), Lit(i.toLong % 7), BinOp.EQUALS)),
        aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    }
    runner.processBatch(events)
    clock.advance(20000)
    val clips = runner.onTick()
    assert(clips.size === 20)
    clips.foreach { c =>
      val i = c.queryId.drop(1).toInt % 7
      val expected = (1L to 100L).count(_ % 7 == i)
      assert(parse(c.records.head)("cnt") === expected, s"query ${c.queryId}")
    }
  }

  test("sliding-record RAW window emits the collected records, then resets") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(QuerySpec("sr",
      filter = Some(Binary(Field("etype"), Lit("click"), BinOp.EQUALS)),
      aggregation = Raw(100),
      window = Some(WindowSpec(WindowUnit.RECORD, 5, WindowUnit.RECORD, 5)),
      durationMs = 100000))
    // 10 matched records ≥ 5 → one (coalesced) window emit with the records
    val w1 = runner.processBatch(events.filter(col("event_id") <= 30))
    assert(w1.size === 1)
    assert(w1.head.records.size === 10)
    // reset: 3 matched < 5 → nothing
    assert(runner.processBatch(events.filter(col("event_id").between(31, 40))).isEmpty)
    // +4 matched crosses the threshold → emits the 7 buffered records
    val w2 = runner.processBatch(events.filter(col("event_id").between(41, 52)))
    assert(w2.size === 1)
    assert(w2.head.records.size === 7)
  }

  test("equality partitioner: value-partitioned queries match the generic path") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // 7 queries `user == 'uX'` with one shared signature → ONE groupBy job
    (0 until 7).foreach { i =>
      runner.register(QuerySpec(s"eq$i",
        filter = Some(Binary(Field("user"), Lit(s"u$i"), BinOp.EQUALS)),
        aggregation = GroupAll(Seq(
          GroupOp(GroupOpType.COUNT, None, "cnt"),
          GroupOp(GroupOpType.SUM, Some("value"), "sv")))))
    }
    // a watched value with zero records in the batch
    runner.register(QuerySpec("eq_miss",
      filter = Some(Binary(Field("user"), Lit("nope"), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    // generic-path and grouped queries coexist in the same batch
    runner.register(clickCountSpec("generic"))
    runner.processBatch(events)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    (0 until 7).foreach { i =>
      val expect = (1L to 100L).filter(_ % 7 == i)
      val r = parse(byId(s"eq$i").records.head)
      assert(r("cnt") === expect.size, s"eq$i")
      assert(r("sv").asInstanceOf[Number].doubleValue === expect.map(_.toDouble).sum)
    }
    assert(parse(byId("eq_miss").records.head)("cnt") === 0)
    assert(parse(byId("generic").records.head)("cnt") === 33)
  }

  test("equality partitioner: multi-field AND conjunctions fold into one tuple job") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // (etype, user) tuple queries in both operand orders + one tuple with
    // zero matching records; all share one groupBy(etype, user) job
    runner.register(QuerySpec("mf_click_u0",
      filter = Some(NAry(NAryOp.AND, Seq(
        Binary(Field("etype"), Lit("click"), BinOp.EQUALS),
        Binary(Field("user"), Lit("u0"), BinOp.EQUALS)))),
      aggregation = GroupAll(Seq(
        GroupOp(GroupOpType.COUNT, None, "cnt"),
        GroupOp(GroupOpType.SUM, Some("value"), "sv")))))
    runner.register(QuerySpec("mf_view_u1",
      filter = Some(Binary( // Binary-AND form, reversed operand order
        Binary(Field("user"), Lit("u1"), BinOp.EQUALS),
        Binary(Field("etype"), Lit("view"), BinOp.EQUALS), BinOp.AND)),
      aggregation = GroupAll(Seq(
        GroupOp(GroupOpType.COUNT, None, "cnt"),
        GroupOp(GroupOpType.SUM, Some("value"), "sv")))))
    runner.register(QuerySpec("mf_miss",
      filter = Some(NAry(NAryOp.AND, Seq(
        Binary(Field("etype"), Lit("click"), BinOp.EQUALS),
        Binary(Field("user"), Lit("nope"), BinOp.EQUALS)))),
      aggregation = GroupAll(Seq(
        GroupOp(GroupOpType.COUNT, None, "cnt"),
        GroupOp(GroupOpType.SUM, Some("value"), "sv")))))
    runner.processBatch(events)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    val clickU0 = (1L to 100L).filter(i => i % 3 == 0 && i % 7 == 0)
    val viewU1 = (1L to 100L).filter(i => i % 3 != 0 && i % 7 == 1)
    val r0 = parse(byId("mf_click_u0").records.head)
    assert(r0("cnt") === clickU0.size)
    assert(r0("sv").asInstanceOf[Number].doubleValue === clickU0.map(_.toDouble).sum)
    val r1 = parse(byId("mf_view_u1").records.head)
    assert(r1("cnt") === viewU1.size)
    assert(r1("sv").asInstanceOf[Number].doubleValue === viewU1.map(_.toDouble).sum)
    assert(parse(byId("mf_miss").records.head)("cnt") === 0)
  }

  test("500 mixed queries complete through one shared pass (query-count scale)") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    (0 until 500).foreach { i =>
      val filter = i % 4 match {
        case 0 => Some(Binary(Field("user"), Lit(s"u${i % 7}"), BinOp.EQUALS))
        case 1 => Some(NAry(NAryOp.AND, Seq(
          Binary(Field("etype"), Lit(if (i % 2 == 0) "click" else "view"), BinOp.EQUALS),
          Binary(Field("user"), Lit(s"u${i % 7}"), BinOp.EQUALS))))
        case 2 => Some(Binary(Field("value"), Lit(50.0), BinOp.GREATER_THAN))
        case _ => None
      }
      val agg: Aggregation = i % 3 match {
        case 0 => GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))
        case 1 => GroupBy(Seq("etype" -> "et"),
          Seq(GroupOp(GroupOpType.COUNT, None, "cnt")), entries = 8)
        case _ => CountDistinct(Seq("user"), lgK = 12)
      }
      runner.register(QuerySpec(s"scale$i", filter = filter, aggregation = agg))
    }
    runner.processBatch(events)
    val clips = runner.finishAll()
    assert(clips.size === 500)
    assert(clips.forall(_.signal.contains("COMPLETE")))
    // spot-check one of each filter family against known fixture counts
    val byId = clips.map(c => c.queryId -> c).toMap
    assert(parse(byId("scale0").records.head)("cnt") ===
      (1L to 100L).count(_ % 7 == 0)) // user == u0, GroupAll
    assert(parse(byId("scale6").records.head)("cnt") === 50) // value > 50, GroupAll
    assert(parse(byId("scale3").records.head)("cnt") === 100) // no filter, GroupAll
    assert(parse(byId("scale9").records.head)("cnt") === // view AND u2 tuple, GroupAll
      (1L to 100L).count(i => i % 3 != 0 && i % 7 == 2))
  }

  test("equality partitioner: repeated field in the conjunction stays generic") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // `user == u0 AND user == u1` matches nothing and must NOT be
    // tuple-partitioned (no single partition value for `user`); pair it
    // with another query so the eq group would otherwise form
    runner.register(QuerySpec("rep_contradiction",
      filter = Some(NAry(NAryOp.AND, Seq(
        Binary(Field("user"), Lit("u0"), BinOp.EQUALS),
        Binary(Field("user"), Lit("u1"), BinOp.EQUALS)))),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    runner.register(QuerySpec("rep_sane",
      filter = Some(Binary(Field("user"), Lit("u2"), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    runner.processBatch(events)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    assert(parse(byId("rep_contradiction").records.head)("cnt") === 0)
    assert(parse(byId("rep_sane").records.head)("cnt") ===
      (1L to 100L).count(_ % 7 == 2))
  }

  test("equality partitioner: mixed aggregation signatures and numeric literals") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // same field, different signatures (COUNT vs COUNT_DISTINCT), and a
    // long literal against the long event_id column
    runner.register(QuerySpec("sig_a",
      filter = Some(Binary(Field("user"), Lit("u1"), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    runner.register(QuerySpec("sig_b",
      filter = Some(Binary(Field("user"), Lit("u1"), BinOp.EQUALS)),
      aggregation = CountDistinct(Seq("etype"), name = "de")))
    runner.register(QuerySpec("num_a",
      filter = Some(Binary(Field("event_id"), Lit(42L), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    runner.register(QuerySpec("num_b",
      filter = Some(Binary(Field("event_id"), Lit(43L), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    runner.processBatch(events)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    val u1 = (1L to 100L).filter(_ % 7 == 1)
    assert(parse(byId("sig_a").records.head)("cnt") === u1.size)
    // u1 ids: some %3==0 (click) and some not (view) → 2 distinct etypes
    assert(parse(byId("sig_b").records.head)("de") ===
      u1.map(i => if (i % 3 == 0) "click" else "view").distinct.size)
    assert(parse(byId("num_a").records.head)("cnt") === 1)
    assert(parse(byId("num_b").records.head)("cnt") === 1)
  }

  test("fused GROUP BY queries with a shared signature stay independently correct") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    val filter = Some(Binary(Field("etype"), Lit("click"), BinOp.EQUALS))
    runner.register(QuerySpec("f1", filter = filter,
      aggregation = GroupBy(Seq("user" -> "u"),
        Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    runner.register(QuerySpec("f2", filter = filter,
      aggregation = GroupBy(Seq("user" -> "u"),
        Seq(GroupOp(GroupOpType.SUM, Some("value"), "sv")), entries = 3)))
    runner.register(QuerySpec("f3", // different signature: no filter, other keys
      aggregation = GroupBy(Seq("etype" -> "e"),
        Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    runner.processBatch(events)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    val clicks = (1L to 100L).filter(_ % 3 == 0)
    val f1 = byId("f1").records.map(parse).map(r => r("u") -> r("cnt")).toMap
    assert(f1 === clicks.groupBy(i => s"u${i % 7}").view.mapValues(_.size).toMap)
    val f2 = byId("f2").records.map(parse)
    assert(f2.size === 3) // entries cap respected despite fusion with f1
    val expectedSums = clicks.groupBy(i => s"u${i % 7}")
      .view.mapValues(_.map(_.toDouble).sum).toMap
    f2.foreach { r =>
      assert(r("sv").asInstanceOf[Number].doubleValue === expectedSums(r("u").toString))
    }
    val f3 = byId("f3").records.map(parse).map(r => r("e") -> r("cnt")).toMap
    assert(f3 === Map("click" -> 33, "view" -> 67))
  }

  test("post-finish grace: late partials merge into the final result") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock, postFinishGraceMs = 1000)
    runner.register(clickCountSpec("g", durationMs = 100))
    runner.processBatch(events.filter(col("event_id") <= 30)) // 10 clicks
    clock.advance(200) // expired → grace opens, no COMPLETE yet
    assert(runner.onTick().isEmpty)
    assert(runner.activeQueryIds === Seq("g"))
    // straggler batch lands inside the grace window and still merges
    runner.processBatch(events.filter(col("event_id") > 30)) // +23 clicks
    clock.advance(1000) // grace elapses
    val clips = runner.onTick()
    assert(clips.size === 1 && clips.head.signal.contains("COMPLETE"))
    assert(parse(clips.head.records.head)("cnt") === 33)
  }

  test("RAW RECORD window `every N include first M`: emits only the first M records") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // emit every 5 matched records, but each window keeps only the first 3
    runner.register(QuerySpec("inc",
      filter = Some(Binary(Field("etype"), Lit("click"), BinOp.EQUALS)),
      aggregation = Raw(100),
      window = Some(WindowSpec(WindowUnit.RECORD, 5, WindowUnit.RECORD, 3)),
      durationMs = 100000))
    val w1 = runner.processBatch(events.filter(col("event_id") <= 30)) // 10 clicks ≥ 5
    assert(w1.size === 1)
    assert(w1.head.records.size === 3)
    // reset, next window caps again
    val w2 = runner.processBatch(events.filter(col("event_id") > 30)) // 23 clicks
    assert(w2.size === 1)
    assert(w2.head.records.size === 3)
  }

  test("RECORD `every N include first M` on a metric aggregation: state absorbs only the first M") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // emit every 4 matched records; each window aggregates only its first 2
    runner.register(QuerySpec("minc",
      filter = Some(Binary(Field("etype"), Lit("click"), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(
        GroupOp(GroupOpType.COUNT, None, "cnt"),
        GroupOp(GroupOpType.SUM, Some("value"), "sv"))),
      window = Some(WindowSpec(WindowUnit.RECORD, 4, WindowUnit.RECORD, 2)),
      durationMs = 100000))
    // single-click batches make the batch-granularity gate exact
    def one(id: Long) = events.filter(col("event_id") === id)
    val w1 = Seq(3L, 6L, 9L, 12L).flatMap(id => runner.processBatch(one(id)))
    assert(w1.size === 1, "window must fire at the 4-record boundary")
    assert(parse(w1.head.records.head)("cnt") === 2)   // only ids 3, 6 included
    assert(parse(w1.head.records.head)("sv") === 9.0)  // 3 + 6
    // the emit boundary counted ALL 4 matched records, included or not
    assert(runner.queryStats("minc").get("records_seen") === 4L)
    // reset: the next window gates afresh
    val w2 = Seq(15L, 18L, 21L, 24L).flatMap(id => runner.processBatch(one(id)))
    assert(w2.size === 1)
    assert(parse(w2.head.records.head)("cnt") === 2)
    assert(parse(w2.head.records.head)("sv") === 33.0) // 15 + 18
  }

  test("TIME `every E include first M ms`: only batches in the window's first M ms merge") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("tinc", durationMs = 100000,
      window = Some(WindowSpec(WindowUnit.TIME, 10000, WindowUnit.TIME, 5000))))
    clock.advance(1000)
    runner.processBatch(events.filter(col("event_id") <= 30))  // 10 clicks, t=1000: included
    clock.advance(6000)                                        // t=7000 ≥ 5000 into the window
    runner.processBatch(events.filter(col("event_id") > 30))   // 23 clicks: gated out of state
    clock.advance(3000)                                        // t=10000 → boundary
    val w1 = runner.onTick()
    assert(w1.size === 1)
    assert(parse(w1.head.records.head)("cnt") === 10)
    // matched counters stayed exact through the closed gate
    assert(runner.queryStats("tinc").get("records_seen") === 33L)
    // window 2 opens at t=10000: a batch 2 s in is inside the include span
    clock.advance(2000)
    runner.processBatch(events.filter(col("event_id") <= 9))   // 3 clicks, included
    clock.advance(8000)                                        // t=20000 → boundary
    val w2 = runner.onTick()
    assert(w2.size === 1)
    assert(parse(w2.head.records.head)("cnt") === 3)
  }

  test("include-first gate matches the batch-granularity model under random batch splits") {
    // For ANY split of the stream into batches, the runner must follow the
    // documented model exactly: a batch's matched records enter window
    // state iff the window's matched count BEFORE the batch is < M; the
    // window emits (once per processBatch) when the count reaches N, then
    // resets. Replaying that model in plain Scala pins the implementation
    // against regressions for every split, not just the hand-picked ones.
    val rnd = new scala.util.Random(4242)
    (1 to 4).foreach { trial =>
      val clock = new ManualClock(0)
      val runner = new QueryRunner(spark, clock)
      runner.register(QuerySpec("m",
        filter = Some(Binary(Field("etype"), Lit("click"), BinOp.EQUALS)),
        aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt"))),
        window = Some(WindowSpec(WindowUnit.RECORD, 7, WindowUnit.RECORD, 3)),
        durationMs = 1000000))
      // split event ids 1..100 into random contiguous batches
      var start = 1L
      val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      while (start <= 100L) {
        val len = 1 + rnd.nextInt(17)
        batches += ((start, math.min(start + len - 1, 100L)))
        start += len
      }
      // model state
      var winMatched = 0L
      var stateCnt = 0L
      val expectedEmits = scala.collection.mutable.ArrayBuffer.empty[Long]
      val actualEmits = scala.collection.mutable.ArrayBuffer.empty[Long]
      batches.foreach { case (lo, hi) =>
        val m = (lo to hi).count(_ % 3 == 0).toLong // clicks in this batch
        if (winMatched < 3) stateCnt += m           // gate open at batch start
        winMatched += m
        val clips = runner.processBatch(
          events.filter(col("event_id").between(lo, hi)))
        if (winMatched >= 7) {                      // one emission per pass
          expectedEmits += stateCnt
          winMatched = 0; stateCnt = 0
        }
        clips.filter(_.queryId == "m").foreach(c =>
          actualEmits += parse(c.records.head)("cnt").toString.toLong)
      }
      assert(actualEmits.toSeq === expectedEmits.toSeq,
        s"trial $trial with splits ${batches.toSeq}")
    }
  }

  test("GROUP BY RECORD `every N include first M`: grouped job honors the same gate") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(QuerySpec("ginc",
      filter = Some(Binary(Field("etype"), Lit("click"), BinOp.EQUALS)),
      aggregation = GroupBy(Seq("user" -> "u"),
        Seq(GroupOp(GroupOpType.COUNT, None, "cnt"))),
      window = Some(WindowSpec(WindowUnit.RECORD, 4, WindowUnit.RECORD, 2)),
      durationMs = 100000))
    def one(id: Long) = events.filter(col("event_id") === id)
    // ids 3, 6, 9, 12 → users u3, u6, u2, u5; only the first two group
    val w = Seq(3L, 6L, 9L, 12L).flatMap(id => runner.processBatch(one(id)))
    assert(w.size === 1)
    val groups = w.head.records.map(parse).map(r => r("u") -> r("cnt")).toMap
    assert(groups === Map("u3" -> 1, "u6" -> 1))
    assert(runner.queryStats("ginc").get("records_seen") === 4L)
  }

  test("duplicate-spec queries share one computation class and all get exact results") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // three IDENTICAL GroupAll specs (one spec class), two identical
    // GroupBy specs, one distinct query — every member must receive the
    // full, correct result (spec-class CSE computes per class and fans
    // out; a broken rep alias would throw or zero a member's state)
    (1 to 3).foreach(i => runner.register(clickCountSpec(s"dup_$i", durationMs = 60000)))
    def gspec(id: String) = QuerySpec(id,
      aggregation = GroupBy(Seq("user" -> "u"),
        Seq(GroupOp(GroupOpType.COUNT, None, "cnt"),
          GroupOp(GroupOpType.SUM, Some("value"), "sv"))),
      durationMs = 60000)
    runner.register(gspec("gdup_1"))
    runner.register(gspec("gdup_2"))
    runner.register(QuerySpec("loner",
      filter = Some(Binary(Field("etype"), Lit("view"), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt"))),
      durationMs = 60000))
    runner.processBatch(events)
    runner.processBatch(events.filter(col("event_id") <= 30)) // cumulative state per query
    val byId = runner.finishAll().map(c => c.queryId -> c).toMap
    // 33 + 10 clicks across the two batches, identical for every duplicate
    (1 to 3).foreach { i =>
      val r = parse(byId(s"dup_$i").records.head)
      assert(r("cnt") === 43, s"dup_$i: $r")
    }
    val g1 = byId("gdup_1").records.map(parse).map(r => r("u") -> r("cnt")).toMap
    val g2 = byId("gdup_2").records.map(parse).map(r => r("u") -> r("cnt")).toMap
    assert(g1 === g2)
    assert(g1.values.map(_.toString.toInt).sum === 130) // 100 + 30 rows
    assert(parse(byId("loner").records.head)("cnt") === 87) // 67 + 20 views
  }

  test("window include validation: mixed units and include > every are rejected") {
    val runner = new QueryRunner(spark, new ManualClock(0))
    // include unit must match the emit unit (or be ALL) — the reference
    // Window surface has no TIME-emit/RECORD-include combination
    val clip2 = runner.register(QuerySpec("bad_inc2", aggregation = Raw(100),
      window = Some(WindowSpec(WindowUnit.TIME, 1000, WindowUnit.RECORD, 10))))
    assert(clip2.isDefined && clip2.get.signal.contains("FAIL"))
    // include-first beyond the emit boundary can never be reached
    val clip4 = runner.register(clickCountSpec("bad_inc4", durationMs = 10000,
      window = Some(WindowSpec(WindowUnit.RECORD, 5, WindowUnit.RECORD, 9))))
    assert(clip4.isDefined && clip4.get.signal.contains("FAIL"))
    // unsupported ops inside post-aggregations FAIL at register instead of
    // throwing at emit time inside lifecycle()
    val clip3 = runner.register(QuerySpec("bad_post",
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt"))),
      postAggregations = Seq(Computation(Seq(
        "t" -> NAry(NAryOp.UNIX_TIMESTAMP, Seq.empty))))))
    assert(clip3.isDefined && clip3.get.signal.contains("FAIL"))
    assert(runner.activeQueryIds.isEmpty)
  }

  test("distribution validation: QUANTILE ranks outside [0,1] and oversized points FAIL at register") {
    val runner = new QueryRunner(spark, new ManualClock(0))
    // a BQL REGION typo like QUANTILE(v, 0, 100, 25) produces ranks > 1 —
    // the sketch would throw at emit; must be rejected at registration
    val bad = runner.register(QuerySpec("bad_q",
      aggregation = Distribution("value", DistributionType.QUANTILE, Seq(0.0, 25.0, 100.0))))
    assert(bad.isDefined && bad.get.signal.contains("FAIL"))
    val big = runner.register(QuerySpec("big_q",
      aggregation = Distribution("value", DistributionType.PMF, Nil, numPoints = Some(2000000))))
    assert(big.isDefined && big.get.signal.contains("FAIL"))
    assert(runner.activeQueryIds.isEmpty)
    // a runaway REGION control message is rejected before allocating
    intercept[IllegalArgumentException](
      graft.streaming.QueryJson.regionToPoints(0.0, 1e18, 1.0))
    // the REGION cap agrees with the 10000-point register cap: 9999 steps
    // → 10000 points passes BOTH; 10000 steps → 10001 points is rejected
    // HERE, not later at register
    assert(graft.streaming.QueryJson.regionToPoints(0.0, 9999.0, 1.0).size === 10000)
    intercept[IllegalArgumentException](
      graft.streaming.QueryJson.regionToPoints(0.0, 10000.0, 1.0))
  }

  test("a throwing sink does not lose clips or break other sinks") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    runner.onResult(_ => throw new java.io.IOException("disk full"))
    runner.onResult(c => seen += c.queryId)
    runner.register(clickCountSpec("s_ok", durationMs = 100))
    runner.processBatch(events)
    clock.advance(200)
    val clips = runner.onTick()
    assert(clips.size === 1 && clips.head.signal.contains("COMPLETE"))
    assert(runner.results.size === 1)  // recorded despite the failing sink
    assert(seen === Seq("s_ok"))       // later sinks still delivered
    assert(runner.sinkErrors === 1L)
  }

  test("eq partitioner skips type-mismatched literals (string literal, numeric column)") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // string literals against the LONG event_id column: compiled predicates
    // coerce ("42" matches 42L); the partitioner's native lookup would not —
    // these must take the generic path and still count correctly
    runner.register(QuerySpec("str_a",
      filter = Some(Binary(Field("event_id"), Lit("42"), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    runner.register(QuerySpec("str_b",
      filter = Some(Binary(Field("event_id"), Lit("43"), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    runner.processBatch(events)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    assert(parse(byId("str_a").records.head)("cnt") === 1)
    assert(parse(byId("str_b").records.head)("cnt") === 1)
  }

  test("Meta concepts: configured keys nest query metadata in result clips") {
    // mirrors JoinBoltTest.java:570-616 (testMultipleMeta): QUERY_METADATA
    // envelope + id/object/string/receive/finish concept keys, unknown
    // concepts ignored
    val clock = new ManualClock(1234)
    val runner = new QueryRunner(spark, clock)
    runner.configureMeta(Map(
      "QUERY_METADATA" -> "meta", "QUERY_ID" -> "id",
      "QUERY_OBJECT" -> "query object", "QUERY_STRING" -> "query string",
      "QUERY_RECEIVE_TIME" -> "created", "QUERY_FINISH_TIME" -> "finished",
      "foo" -> "bar")) // unknown concept: ignored
    runner.handleMessage(
      """{"type":"REGISTER","queryString":"SELECT COUNT then some","query":""" +
        """{"id":"m1","durationMs":1000,"aggregation":{"type":"GROUP_ALL","ops":""" +
        """[{"op":"COUNT","name":"cnt"}]}}}""")
    runner.processBatch(events)
    clock.advance(2000)
    val clip = runner.onTick().head
    val qm = clip.meta("meta").asInstanceOf[Map[String, Any]]
    assert(qm("id") === "m1")
    assert(qm("query string") === "SELECT COUNT then some")
    assert(qm("created") === 1234L)
    assert(qm("finished") === 3234L)
    assert(qm("query object").toString.contains("\"GROUP_ALL\""))
    assert(!qm.contains("bar"))
    // envelope absent when QUERY_METADATA is not configured
    val clock2 = new ManualClock(0)
    val r2 = new QueryRunner(spark, clock2)
    r2.register(clickCountSpec("m2", durationMs = 1))
    r2.processBatch(events)
    clock2.advance(10)
    assert(!r2.onTick().head.meta.contains("meta"))
  }

  test("JsonLinesSink persists every emitted Clip as one JSON line") {
    val dir = java.nio.file.Files.createTempDirectory("graft-results").toString
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    val sink = new graft.streaming.JsonLinesSink(spark, dir)
    runner.onResult(sink)
    runner.register(clickCountSpec("s1", durationMs = 1000,
      window = Some(WindowSpec(WindowUnit.TIME, 500, WindowUnit.TIME, 500))))
    runner.processBatch(events)
    clock.advance(500); runner.onTick()  // window emit
    clock.advance(600); runner.onTick()  // duration expiry → COMPLETE
    sink.close()
    val lines = scala.io.Source.fromFile(
      new java.io.File(new java.net.URI(sink.file).getPath)).getLines().toSeq
    assert(lines.size === runner.results.size)
    assert(lines.forall(l => parse(l).contains("meta")))
  }

  test("registry persistence: a restarted runner resumes registered queries") {
    val dir = java.nio.file.Files.createTempDirectory("graft-registry").toString
    val clock = new ManualClock(0)
    val r1 = new QueryRunner(spark, clock)
    r1.enableRegistryPersistence(dir)
    r1.register(clickCountSpec("survivor", durationMs = 10000))
    r1.register(clickCountSpec("killed", durationMs = 10000))
    r1.kill("killed")
    r1.processBatch(events.filter(col("event_id") <= 30)) // 10 clicks pre-crash
    clock.advance(5000)

    // "crash": rebuild from the same directory; killed query must NOT revive
    val r2 = new QueryRunner(spark, clock)
    r2.enableRegistryPersistence(dir)
    assert(r2.activeQueryIds === Seq("survivor"))
    // original registration time is honored: 5s remain, not a fresh 10s
    r2.processBatch(events.filter(col("event_id") > 30)) // 23 clicks post-restart
    clock.advance(5000) // t = 10000 = original expiry
    val clips = r2.onTick()
    assert(clips.size === 1 && clips.head.signal.contains("COMPLETE"))
    // pre-crash partials are lost by design (state rebuilds from the stream):
    // only the post-restart batch counts
    assert(parse(clips.head.records.head)("cnt") === 23)
    // COMPLETE removed it from the persisted registry too
    val r3 = new QueryRunner(spark, clock)
    r3.enableRegistryPersistence(dir)
    assert(r3.activeQueryIds.isEmpty)
  }

  test("Kafka-shape source e2e: runStream + checkpoint restart resumes without replay") {
    // The DSLSpout-parity path end to end: a Kafka-shaped stream (a
    // `value` payload column decoded by JsonRecords.fromKafka — identical
    // frame shape to readStream.format("kafka")) through runStream with a
    // checkpoint, results through JsonLinesSink, runner KILLED mid-stream
    // and restarted on the same checkpoint. The restarted runner must
    // (a) re-arm the registered query from the persisted registry and
    // (b) resume the SOURCE from committed offsets — file1 must not
    // replay, which the totals prove exactly.
    val inDir = java.nio.file.Files.createTempDirectory("graft-kafka-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kafka-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-kafka-out").toString
    val ddl = "event_id LONG, etype STRING, value DOUBLE, user STRING"
    def payload(id: Long, et: String): String =
      s"""{"value": "{\\"event_id\\": $id, \\"etype\\": \\"$et\\", \\"value\\": $id.0, \\"user\\": \\"u${id % 7}\\"}"}"""
    def writeFile(name: String, lines: Seq[String]): Unit = {
      val tmp = java.nio.file.Paths.get(inDir, s".$name.tmp")
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(inDir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def pipeline: org.apache.spark.sql.DataFrame =
      graft.sources.JsonRecords.fromKafka(
        spark.readStream.schema("value STRING").json(inDir), ddl)
        .select(col("record.*"))
    def awaitUntil(deadlineMs: Long)(cond: => Boolean): Boolean = {
      val deadline = System.currentTimeMillis() + deadlineMs
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      cond
    }
    val spec = QuerySpec("kafka_raw",
      filter = Some(Binary(Field("etype"), Lit("click"), BinOp.EQUALS)),
      aggregation = Raw(5), durationMs = 600000L)
    val cntSpec = clickCountSpec("kafka_cnt", durationMs = 600000L)

    // phase 1: register, stream file1 (3 clicks), then KILL the runner
    val r1 = new QueryRunner(spark)
    val sq1 = r1.runStream(pipeline, Some(ckpt), triggerMs = 200, tickIntervalMs = 100)
    try {
      r1.register(spec)
      r1.register(cntSpec)
      writeFile("f1.json", (1L to 9L).map(i =>
        payload(i, if (i % 3 == 0) "click" else "view"))) // clicks: 3, 6, 9
      assert(awaitUntil(30000)(
        r1.queryStats("kafka_cnt").exists(_("records_seen") == 3L)),
        s"file1 not consumed: ${r1.queryStats("kafka_cnt")}")
      // the batch's offsets commit AFTER foreachBatch returns — killing
      // the runner before the commit log catches up would replay file1 on
      // restart (at-least-once). A graceful shutdown drains in-flight
      // commits first; emulate it by awaiting commits == offsets.
      def logMax(sub: String): Long = {
        val files = Option(new java.io.File(s"$ckpt/$sub").list()).getOrElse(Array.empty)
        files.filter(_.forall(_.isDigit)).map(_.toLong).foldLeft(-1L)(math.max)
      }
      assert(awaitUntil(30000)(logMax("commits") >= logMax("offsets")),
        s"offset commit never landed: offsets=${logMax("offsets")} commits=${logMax("commits")}")
    } finally sq1.stop()
    assert(r1.results.isEmpty, "nothing should have completed pre-crash")

    // file2 lands while the runner is down (5 clicks)
    writeFile("f2.json", (10L to 24L).map(i =>
      payload(i, if (i % 3 == 0) "click" else "view"))) // clicks: 12,15,18,21,24

    // phase 2: fresh runner, SAME checkpoint — registry re-arms the
    // queries, the source resumes after file1
    val r2 = new QueryRunner(spark)
    val sink2 = new JsonLinesSink(spark, outDir)
    r2.onResult(sink2)
    val sq2 = r2.runStream(pipeline, Some(ckpt), triggerMs = 200, tickIntervalMs = 100)
    try {
      assert(awaitUntil(30000)(r2.activeQueryIds.nonEmpty || r2.results.nonEmpty),
        "registry did not re-arm the persisted queries")
      // RAW 5 completes exactly when file2's 5 clicks arrive — possible
      // only if file1 did NOT replay (a replay would complete it with
      // file1's clicks in the buffer first)
      assert(awaitUntil(30000)(r2.results.exists(c =>
        c.queryId == "kafka_raw" && c.signal.contains("COMPLETE"))),
        s"raw query did not complete post-restart: ${r2.results.map(_.queryId)}")
    } finally sq2.stop()
    val raw = r2.results.find(_.queryId == "kafka_raw").get
    assert(raw.records.size === 5)
    assert(raw.records.map(parse).forall(_("etype") == "click"))
    assert(raw.records.map(parse).map(_("event_id").toString.toLong).toSet ===
      Set(12L, 15L, 18L, 21L, 24L), "file1 replayed or file2 incomplete")
    // the counting query saw ONLY file2's clicks post-restart (5, not 8)
    val cnt = r2.finishAll().find(_.queryId == "kafka_cnt").get
    assert(parse(cnt.records.head)("cnt") === 5)
    // every clip is durable in the JSON-lines sink
    sink2.close()
    val lines = scala.io.Source.fromFile(
      new java.io.File(new java.net.URI(sink2.file).getPath)).getLines().toSeq
    assert(lines.exists(_.contains("kafka_raw")))
  }

  test("tick thread finishes an expired query with no data flowing") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val runner = new QueryRunner(spark) // real clock
    runner.register(clickCountSpec("idle_q", durationMs = 500))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double, String)]
    val sq = runner.runStream(mem.toDF().toDF("event_id", "etype", "value", "user"),
      triggerMs = 100, tickIntervalMs = 50)
    try {
      val deadline = System.currentTimeMillis() + 10000
      while (runner.results.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally sq.stop()
    // never received a record; duration expiry came from the tick thread
    val clips = runner.results
    assert(clips.size === 1 && clips.head.signal.contains("COMPLETE"))
    assert(parse(clips.head.records.head)("cnt") === 0)
  }

  test("streaming from a file source directory, files arriving across batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("file_q"))
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val sq = runner.runStream(stream, triggerMs = 100)
    try {
      events.filter(col("event_id") <= 50).write.mode("append").parquet(dir)
      sq.processAllAvailable()
      events.filter(col("event_id") > 50).write.mode("append").parquet(dir)
      sq.processAllAvailable()
    } finally sq.stop()
    clock.advance(20000)
    val clips = runner.onTick()
    assert(clips.size === 1)
    assert(parse(clips.head.records.head)("cnt") === 33)
  }

  test("streaming end-to-end via MemoryStream + foreachBatch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("stream_q"))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double, String)]
    val sq = runner.runStream(mem.toDF().toDF("event_id", "etype", "value", "user"), triggerMs = 50)
    try {
      mem.addData((1L, "click", 1.0, "u1"), (2L, "view", 2.0, "u2"))
      sq.processAllAvailable()
      mem.addData((3L, "click", 3.0, "u3"))
      sq.processAllAvailable()
    } finally sq.stop()
    clock.advance(20000)
    val clips = runner.onTick()
    assert(clips.size === 1)
    assert(parse(clips.head.records.head)("cnt") === 2)
  }

  test("stream-static enrichment: dim columns group-able through runStream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(QuerySpec("bytier",
      aggregation = GroupBy(Seq("tier" -> "tier"), Seq(
        GroupOp(GroupOpType.COUNT, None, "cnt"),
        GroupOp(GroupOpType.SUM, Some("value"), "sv")))))
    val dim = Seq(("u1", "gold"), ("u2", "basic"), ("u3", "gold"))
      .toDF("user", "tier")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double, String)]
    val enriched = mem.toDF().toDF("event_id", "etype", "value", "user")
      .join(broadcast(dim), "user") // stream-static join, re-planned per batch
    val sq = runner.runStream(enriched, triggerMs = 50)
    try {
      mem.addData((1L, "click", 1.0, "u1"), (2L, "view", 2.0, "u2"))
      sq.processAllAvailable()
      mem.addData((3L, "click", 4.0, "u3"))
      sq.processAllAvailable()
    } finally sq.stop()
    clock.advance(20000)
    val recs = runner.onTick().head.records.map(parse)
    val byTier = recs.map(r => r("tier") -> r).toMap
    assert(byTier("gold")("cnt") === 2 && byTier("gold")("sv") === 5.0)
    assert(byTier("basic")("cnt") === 1 && byTier("basic")("sv") === 2.0)
  }

  test("empty n-ary conjunction is rejected at register, not at batch time") {
    val runner = new QueryRunner(spark, new ManualClock(0))
    val clip = runner.register(QuerySpec("e0",
      filter = Some(NAry(NAryOp.AND, Seq.empty)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    assert(clip.exists(_.signal.contains("FAIL")))
    assert(runner.activeQueryIds.isEmpty)
  }

  test("EXPLODE inside a filter is rejected at register") {
    val runner = new QueryRunner(spark, new ManualClock(0))
    val clip = runner.register(QuerySpec("xf",
      filter = Some(Binary(Explode(Field("tags")), Lit("a"), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    assert(clip.exists(_.signal.contains("FAIL")))
    assert(runner.activeQueryIds.isEmpty)
  }

  test("EXPLODE nested under ElementAt in a projection is rejected at register") {
    val runner = new QueryRunner(spark, new ManualClock(0))
    val clip = runner.register(QuerySpec("xp",
      projection = Some(Seq("x" -> ElementAt(Explode(Field("tags")), 0))),
      aggregation = Raw(10)))
    assert(clip.exists(_.signal.contains("FAIL")))
    assert(runner.activeQueryIds.isEmpty)
  }

  test("a query failing at batch time FAILs alone; co-registered queries are unaffected") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("good"))
    // subfield access on a string column: validate can't see types, so the
    // analysis error only surfaces inside the shared pass at batch time —
    // it must FAIL this query, not abort the micro-batch for `good`
    runner.register(QuerySpec("bad",
      filter = Some(Binary(Field("etype", Some("k")), Lit("x"), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    runner.processBatch(events)
    val failed = runner.results.filter(_.queryId == "bad")
    assert(failed.size === 1 && failed.head.signal.contains("FAIL"))
    assert(failed.head.meta("errors").asInstanceOf[Seq[String]]
      .exists(_.contains("batch evaluation")))
    assert(runner.activeQueryIds === Seq("good"))
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    assert(parse(byId("good").records.head)("cnt") === 33)
  }

  test("a transient batch failure propagates and does NOT deregister the query") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("survivor", durationMs = 20000L))
    // a runtime failure that is NOT a plan/analysis error stands in for a
    // cluster fault (executor loss, fetch failure): the batch must be
    // retriable, so processBatch rethrows instead of FAILing the query
    TransientPoison.armed.set(true)
    val poisoned = events.withColumn("etype", TransientPoison.boom(col("etype")))
    intercept[Exception] { runner.processBatch(poisoned) }
    assert(runner.activeQueryIds === Seq("survivor"))
    assert(!runner.results.exists(_.queryId == "survivor"))
    // the "replayed" batch (fault cleared) merges normally
    TransientPoison.armed.set(false)
    runner.processBatch(events)
    clock.advance(30000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    assert(parse(byId("survivor").records.head)("cnt") === 33)
  }

  /** `events` rebuilt on a range (not a LocalRelation, which
    * ConvertToLocalRelation would evaluate eagerly for EVERY plan) with
    * `poison` wrapped around the etype column, so only a job that reads
    * etype, or materializes the cached batch, evaluates it. */
  private def poisonedEvents(poison: Column => Column): DataFrame =
    spark.range(1, 101)
      .select(col("id").as("event_id"),
        poison(when(col("id") % 3 === 0, "click").otherwise("view")).as("etype"),
        col("id").cast("double").as("value"),
        concat(lit("u"), col("id") % 7).as("user"))

  test("a transient fault that clears by the per-query retry merges without a FAIL") {
    // one case per job kind, each kind's job reading etype: fail only the
    // FIRST evaluation — the job dies, the per-query isolate retry then
    // succeeds — no FAIL clip, and every query merges exactly once
    import QueryRunner.JobKind._
    val cnt = GroupOp(GroupOpType.COUNT, None, "cnt")
    def eqQ(id: String, v: String) = QuerySpec(id,
      filter = Some(Binary(Field("etype"), Lit(v), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(cnt)), durationMs = 20000L)
    def rangeQ(id: String, op: BinOp.Value) = QuerySpec(id,
      filter = Some(Binary(Field("value"), Lit(50.0), op)),
      aggregation = GroupAll(Seq(cnt, GroupOp(GroupOpType.COUNT_FIELD, Some("etype"), "ne"))),
      durationMs = 20000L)
    def groupQ(id: String, f: Option[Expr]) = QuerySpec(id, filter = f,
      aggregation = GroupBy(Seq("etype" -> "e"), Seq(cnt)), durationMs = 20000L)
    // (kind, queries, each query's matched records)
    val cases = Seq(
      (Shared, Seq(clickCountSpec("retryok", durationMs = 20000L)), Seq(33L)),
      (Equality, Seq(eqQ("eq_c", "click"), eqQ("eq_v", "view")), Seq(33L, 67L)),
      (Range, Seq(rangeQ("rg_gt", BinOp.GREATER_THAN), rangeQ("rg_le", BinOp.LESS_OR_EQUALS)),
        Seq(50L, 50L)),
      (Grouped, Seq(groupQ("gb_all", None),
        groupQ("gb_hi", Some(Binary(Field("value"), Lit(50.0), BinOp.GREATER_THAN)))),
        Seq(100L, 50L)))
    cases.foreach { case (kind, specs, matched) =>
      val clock = new ManualClock(0)
      val runner = new QueryRunner(spark, clock)
      specs.foreach(s0 => assert(runner.register(s0).isEmpty))
      TransientPoison.armed.set(true)
      TransientPoison.failures.set(1)
      try runner.processBatch(poisonedEvents(TransientPoison.boomOnce(_)))
      finally TransientPoison.armed.set(false)
      assert(TransientPoison.failures.get() <= 0, s"$kind: the fault never fired")
      assert(runner.lastBatchJobs.contains(kind), s"$kind: jobs ${runner.lastBatchJobs}")
      assert(runner.activeQueryIds === specs.map(_.id), kind)
      assert(!runner.results.exists(_.signal.contains("FAIL")), kind)
      specs.zip(matched).foreach { case (s0, n) =>
        val st = runner.queryStats(s0.id).get
        assert(st("batches_seen") === 1 && st("records_seen") === n, s"$kind ${s0.id}: $st")
      }
      clock.advance(30000)
      val byId = runner.onTick().map(c => c.queryId -> c).toMap
      specs.zip(matched).foreach { case (s0, n) =>
        val total = byId(s0.id).records.map(parse(_)("cnt").asInstanceOf[Number].longValue).sum
        assert(total === n, s"$kind ${s0.id}: merged more than once")
      }
    }
  }

  test("a fault that stays 'transient' forever FAILs the query after bounded replays") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    runner.register(clickCountSpec("cursed", durationMs = 60000L))
    runner.register(QuerySpec("healthy",
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt"))),
      durationMs = 60000L))
    // poison never clears: an IOException on EVERY evaluation looks
    // transient but is deterministic. The first MaxTransientStrikes-1
    // batches rethrow (stream would replay); the strike limit then
    // overrules the diagnosis and FAILs the one query, keeping the
    // stream — and every other query — alive. Only cursed's filter reads
    // the poisoned column; healthy's pruned plan never evaluates it.
    TransientPoison.armed.set(true)
    try {
      val poisoned = poisonedEvents(TransientPoison.boom(_))
      intercept[Exception] { runner.processBatch(poisoned) } // strike 1
      intercept[Exception] { runner.processBatch(poisoned) } // strike 2
      runner.processBatch(poisoned)                          // strike 3 → FAIL
    } finally TransientPoison.armed.set(false)
    assert(!runner.activeQueryIds.contains("cursed"))
    val failClip = runner.results.find(_.queryId == "cursed")
    assert(failClip.exists(_.signal.contains("FAIL")))
    // the un-poisoned query survived all three batches
    assert(runner.activeQueryIds === Seq("healthy"))

    // A fused GROUP BY pair rides two jobs (the shared pass for its
    // counts, one grouped job), so the batch is cached and an executor
    // poison would reach both members. The fault here is per query
    // instead: g_cursed extracts a subfield of the string column
    // `FetchFailed`, and the analysis error names that column, which
    // isTransientFailure reads as a shuffle fetch failure — a
    // deterministic error dressed as a transient one.
    val runner2 = new QueryRunner(spark, clock)
    def gb(id: String, f: Expr) = QuerySpec(id, filter = Some(f),
      aggregation = GroupBy(Seq("user" -> "u"), Seq(GroupOp(GroupOpType.COUNT, None, "cnt"))),
      durationMs = 60000L)
    runner2.register(gb("g_cursed", Binary(Field("FetchFailed", Some("k")), Lit("x"), BinOp.EQUALS)))
    runner2.register(gb("g_partner", Binary(Field("value"), Lit(50.0), BinOp.GREATER_THAN)))
    val withBadColumn = events.withColumn("FetchFailed", lit("x"))
    intercept[Exception] { runner2.processBatch(withBadColumn) } // strike 1
    intercept[Exception] { runner2.processBatch(withBadColumn) } // strike 2
    runner2.processBatch(withBadColumn)                          // strike 3 → FAIL
    assert(runner2.lastBatchJobs ===
      Map(QueryRunner.JobKind.Shared -> 1, QueryRunner.JobKind.Grouped -> 1))
    val cursedClips = runner2.results.filter(_.queryId == "g_cursed")
    assert(cursedClips.size === 1 && cursedClips.head.signal.contains("FAIL"), cursedClips)
    assert(runner2.activeQueryIds === Seq("g_partner"))
    // the partner merged the completed batch once, and merges the next once
    assert(runner2.queryStats("g_partner").get("batches_seen") === 1)
    runner2.processBatch(withBadColumn)
    assert(runner2.queryStats("g_partner").get("batches_seen") === 2)
    val groups = runner2.finishAll().head.records.map(parse)
    assert(groups.map(_("cnt").asInstanceOf[Number].longValue).sum === 100L,
      "ids 51..100, two batches")
  }

  test("a range-fold error FAILs its query alone and never escapes the batch half-merged") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    val cnt = GroupOp(GroupOpType.COUNT, None, "cnt")
    def ranged(id: String, t: Double, ops: GroupOp*) = QuerySpec(id,
      filter = Some(Binary(Field("value"), Lit(t), BinOp.GREATER_THAN)),
      aggregation = GroupAll(ops), durationMs = 600000L)
    runner.register(ranged("r10", 10.0, cnt))
    runner.register(ranged("r50", 50.0, cnt))
    // Spark takes a string MIN per bucket, but the driver's numeric
    // prefix/suffix fold cannot combine two strings (50.0 is a data
    // value, so even alone this query folds two buckets)
    runner.register(ranged("rbad", 50.0, cnt, GroupOp(GroupOpType.MIN, Some("etype"), "me")))
    runner.register(QuerySpec("all", aggregation = GroupAll(Seq(cnt)), durationMs = 600000L))
    runner.processBatch(events)
    assert(runner.lastBatchJobs ===
      Map(QueryRunner.JobKind.Shared -> 1, QueryRunner.JobKind.Range -> 1))
    val failed = runner.results.filter(_.queryId == "rbad")
    assert(failed.size === 1 && failed.head.signal.contains("FAIL"))
    assert(failed.head.meta("errors").asInstanceOf[Seq[String]]
      .exists(_.contains("batch evaluation")))
    assert(runner.activeQueryIds === Seq("r10", "r50", "all"))
    val want = Map("r10" -> 90L, "r50" -> 50L, "all" -> 100L)
    want.foreach { case (id, n) =>
      val st = runner.queryStats(id).get
      assert(st("batches_seen") === 1 && st("records_seen") === n, s"$id: $st")
    }
    clock.advance(700000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    want.foreach { case (id, n) => assert(parse(byId(id).records.head)("cnt") === n, id) }
  }

  test("cross-filter GROUP BY fusion: each query sees only ITS groups, values exact") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // same key fields, three DIFFERENT filters → one fused job; the
    // disjoint-filter query must NOT acquire groups that only matched the
    // others (a spurious zero-count group is the fusion failure mode)
    def spec(id: String, f: Expr) = QuerySpec(id, filter = Some(f),
      aggregation = GroupBy(Seq("etype" -> "e"), Seq(
        GroupOp(GroupOpType.COUNT, None, "cnt"),
        GroupOp(GroupOpType.SUM, Some("value"), "sv"),
        GroupOp(GroupOpType.MIN, Some("value"), "mn"),
        GroupOp(GroupOpType.AVG, Some("value"), "av"))))
    runner.register(spec("clicks", Binary(Field("etype"), Lit("click"), BinOp.EQUALS)))
    runner.register(spec("views", Binary(Field("etype"), Lit("view"), BinOp.EQUALS)))
    runner.register(spec("high", Binary(Field("value"), Lit(90.0), BinOp.GREATER_THAN)))
    runner.processBatch(events)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    def groups(id: String) = byId(id).records.map(parse).map(r => r("e") ->
      ((r("cnt"), r("sv").asInstanceOf[Number].doubleValue))).toMap
    val clicks = groups("clicks")
    assert(clicks.keySet === Set("click"))
    assert(clicks("click") === ((33, (3 to 99 by 3).map(_.toDouble).sum)))
    val views = groups("views")
    assert(views.keySet === Set("view"))
    assert(views("view")._1 === 67)
    // value > 90 matches both types: ids 91..100 → 3 clicks (93,96,99)
    val high = groups("high")
    assert(high.keySet === Set("click", "view"))
    assert(high("click")._1 === 3 && high("view")._1 === 7)
    assert(parse(byId("high").records.find(parse(_)("e") == "click").get)("mn") === 93.0)
    // AVG rides per-query gated (sum, count) pairs — the count must be the
    // query's OWN matched-value count, not the group's total row count
    val avClick = parse(byId("clicks").records.head)("av").asInstanceOf[Number].doubleValue
    assert(math.abs(avClick - (3 to 99 by 3).map(_.toDouble).sum / 33) < 1e-9)
    val avHigh = parse(byId("high").records.find(parse(_)("e") == "view").get)("av")
      .asInstanceOf[Number].doubleValue
    assert(math.abs(avHigh - Seq(91, 92, 94, 95, 97, 98, 100).map(_.toDouble).sum / 7) < 1e-9)
  }

  test("fused cap hit → per-query fallback: no query's groups are crowded out") {
    val s = spark
    import s.implicits._
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // A matches ONLY late-sorting groups f..j, B only a..e. entries = 2
    // each → union cap 4; the 4 smallest union keys are all B's, so a
    // truncated fused collect would leave A with NOTHING. The cap-hit
    // fallback must give each query its OWN smallest-2 groups.
    val df = (0 until 100).map { i =>
      val grp = ('a' + i % 10).toChar.toString
      (i.toLong, if (i % 10 >= 5) 200.0 else 50.0, grp)
    }.toDF("id", "k", "grp")
    def gb(id: String, f: Expr) = QuerySpec(id, filter = Some(f),
      aggregation = GroupBy(Seq("grp" -> "g"),
        Seq(GroupOp(GroupOpType.COUNT, None, "cnt")), entries = 2))
    runner.register(gb("hiQ", Binary(Field("k"), Lit(100.0), BinOp.GREATER_THAN)))
    runner.register(gb("loQ", Binary(Field("k"), Lit(100.0), BinOp.LESS_OR_EQUALS)))
    runner.processBatch(df)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    def keys(id: String) = byId(id).records.map(parse).map(_("g")).toSet
    assert(keys("hiQ") === Set("f", "g"), "high query lost its groups to the union cap")
    assert(keys("loQ") === Set("a", "b"))
  }

  test("missing fields: filter matches nothing, group key becomes the string null") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    // reference schemaless semantics (FilterBoltTest.java:827-828): a field
    // the record lacks is a typed null, never an analysis error
    runner.register(QuerySpec("mf",
      filter = Some(Binary(Field("no_such_field"), Lit("x"), BinOp.EQUALS)),
      aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    runner.register(QuerySpec("mk",
      aggregation = TopK(Seq("no_such_field" -> "k"), k = 1, countName = "cnt")))
    runner.processBatch(events)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    assert(parse(byId("mf").records.head)("cnt") === 0)
    val tk = parse(byId("mk").records.head)
    assert(tk("k") === "null")
    assert(tk("cnt") === 100)
  }

  test("equality partitioner precision: Long literals beyond 2^53 stay distinct") {
    val s = spark
    import s.implicits._
    val big = 1L << 60 // big and big+1 collapse to the SAME Double image
    val df = Seq(big, big + 1, big + 1).toDF("uid")
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    Seq(("b0", big, 1), ("b1", big + 1, 2)).foreach { case (id, v, _) =>
      runner.register(QuerySpec(id,
        filter = Some(Binary(Field("uid"), Lit(v), BinOp.EQUALS)),
        aggregation = GroupAll(Seq(GroupOp(GroupOpType.COUNT, None, "cnt")))))
    }
    runner.processBatch(df)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    assert(parse(byId("b0").records.head)("cnt") === 1)
    assert(parse(byId("b1").records.head)("cnt") === 2)
  }

  test("range partitioner: threshold queries match the generic path (all ops, boundaries, both field types)") {
    // every (op, threshold) combination incl. thresholds EXACTLY equal
    // to data values (the point-bucket boundary cases), folded 8-at-a-
    // time on one field vs each query alone in its own runner (a single
    // query per field never folds -> the generic compiled path)
    val clock = new ManualClock(0)
    def spec(id: String, field: String, op: BinOp.Value, v: Any) = QuerySpec(id,
      filter = Some(Binary(Field(field), Lit(v), op)),
      aggregation = GroupAll(Seq(
        GroupOp(GroupOpType.COUNT, None, "cnt"),
        GroupOp(GroupOpType.SUM, Some("value"), "sv"),
        GroupOp(GroupOpType.MIN, Some("value"), "mv"),
        GroupOp(GroupOpType.MAX, Some("value"), "xv"),
        GroupOp(GroupOpType.AVG, Some("value"), "av"))),
      durationMs = 600000L)
    val specs =
      Seq(BinOp.GREATER_THAN, BinOp.GREATER_OR_EQUALS,
          BinOp.LESS_THAN, BinOp.LESS_OR_EQUALS).zipWithIndex.flatMap {
        case (op, i) => Seq(
          spec(s"rv_$i", "value", op, 50.0),        // exact data value
          spec(s"rv2_$i", "value", op, 33.5),       // between data values
          spec(s"re_$i", "event_id", op, 97L),      // long field, long literal
          spec(s"re2_$i", "event_id", op, 1L))      // boundary at the edge
      } :+ spec("rv_dup", "value", BinOp.GREATER_THAN, 50.0) // duplicate threshold
    val folded = new QueryRunner(spark, clock)
    specs.foreach(s0 => assert(folded.register(s0).isEmpty))
    // two batches: the fold must merge partials across batches like the
    // generic path does
    folded.processBatch(events.filter(col("event_id") <= 60))
    folded.processBatch(events.filter(col("event_id") > 60))
    clock.advance(700000); val foldedClips = folded.onTick()
    val foldedById = foldedClips.map(c => c.queryId -> c).toMap
    specs.foreach { s0 =>
      val solo = new QueryRunner(spark, new ManualClock(0))
      assert(solo.register(s0).isEmpty)
      solo.processBatch(events.filter(col("event_id") <= 60))
      solo.processBatch(events.filter(col("event_id") > 60))
      val want = solo.finishAll().head
      val got = foldedById(s0.id)
      assert(got.records.map(parse) === want.records.map(parse),
        s"${s0.id}: folded ${got.records} != generic ${want.records}")
      // matched-record metrics must fold identically too
      assert(got.meta("records_seen") === want.meta("records_seen"), s0.id)
    }
  }

  test("range partitioner: 20 same-field threshold queries ride the bucketed fold") {
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    (0 until 20).foreach { i =>
      runner.register(QuerySpec(s"rj_$i",
        filter = Some(Binary(Field("value"), Lit(i * 4.0), BinOp.GREATER_THAN)),
        aggregation = GroupAll(Seq(
          GroupOp(GroupOpType.COUNT, None, "cnt"),
          GroupOp(GroupOpType.SUM, Some("value"), "sv"))),
        durationMs = 600000L))
    }
    runner.processBatch(events)
    // the fold is result-identical to the generic path by design, so
    // the structural probe is what proves it ENGAGED (and stays
    // engaged — a silently-narrowed admission rule fails here): one
    // range job and no shared pass means all 20 rode the fold
    assert(runner.lastBatchJobs === Map(QueryRunner.JobKind.Range -> 1),
      s"all 20 threshold queries must ride the bucketed fold, " +
        s"jobs ${runner.lastBatchJobs}")
    // and the answers are right: query i counts values > 4i among 1..100
    clock.advance(700000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    (0 until 20).foreach { i =>
      val cnt = parse(byId(s"rj_$i").records.head)("cnt").asInstanceOf[Number].longValue
      assert(cnt === (100 - i * 4).toLong, s"rj_$i")
    }
  }

  test("range partitioner differential: random ops/thresholds/nulls/NaN vs the generic path") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(424242L)
    // data with nulls, NaN, -0.0, +0.0, exact-threshold hits
    val data = ((1 to 120).map { i =>
      (i.toLong, if (i % 11 == 0) null.asInstanceOf[java.lang.Double]
        else if (i % 17 == 0) java.lang.Double.valueOf(Double.NaN)
        else if (i % 23 == 0) java.lang.Double.valueOf(-0.0)
        else java.lang.Double.valueOf((i % 40).toDouble / 2))
    }).toDF("event_id", "value")
    val allOps = Seq(BinOp.GREATER_THAN, BinOp.GREATER_OR_EQUALS,
      BinOp.LESS_THAN, BinOp.LESS_OR_EQUALS)
    val specs = (0 until 24).map { i =>
      val t: Any = rnd.nextInt(4) match {
        case 0 => (rnd.nextInt(40).toDouble / 2)  // exact data value
        case 1 => 0.0
        case 2 => rnd.nextDouble() * 20
        case _ => rnd.nextInt(20).toLong          // integral literal, double col
      }
      QuerySpec(s"rd_$i",
        filter = Some(Binary(Field("value"), Lit(t), allOps(rnd.nextInt(4)))),
        aggregation = GroupAll(Seq(
          GroupOp(GroupOpType.COUNT, None, "cnt"),
          GroupOp(GroupOpType.SUM, Some("event_id"), "se"))),
        durationMs = 600000L)
    }
    val clock = new ManualClock(0)
    val folded = new QueryRunner(spark, clock)
    specs.foreach(s0 => assert(folded.register(s0).isEmpty))
    folded.processBatch(data)
    clock.advance(700000)
    val foldedById = folded.onTick().map(c => c.queryId -> c).toMap
    specs.foreach { s0 =>
      val solo = new QueryRunner(spark, new ManualClock(0))
      assert(solo.register(s0).isEmpty)
      solo.processBatch(data)
      val want = solo.finishAll().head
      assert(foldedById(s0.id).records.map(parse) === want.records.map(parse),
        s"${s0.id} (${s0.filter}): folded=${foldedById(s0.id).records} " +
          s"generic=${want.records}")
    }
  }

  test("RAW tws backend (flagged): parity with the driver-held RawState path + restart") {
    // The scale-out RAW backend (QueryRunner.runStreamRawTws -> RawTws:
    // per-query take-n counts in transformWithState ValueState, records
    // straight to the sink) against the default driver-held RawState on
    // the SAME specs and batches. Rendering and caps are shared code, so
    // under-cap queries must agree record-for-record and an over-cap
    // query must stop at exactly the cap on both; the checkpointed
    // per-query count must survive a restart (a capped query never
    // takes again).
    val inP = java.nio.file.Files.createTempDirectory("tws_in").toString
    val outP = java.nio.file.Files.createTempDirectory("tws_out").toString
    val ckP = java.nio.file.Files.createTempDirectory("tws_ck").toString
    val specs = Seq(
      // 5 matches < cap 100: record-for-record parity
      QuerySpec("r_under",
        filter = Some(Binary(Field("event_id"), Lit(95L), BinOp.GREATER_THAN)),
        aggregation = Raw(100), durationMs = 600000L),
      // 33 clicks > cap 7: both backends stop at exactly 7
      QuerySpec("r_over",
        filter = Some(Binary(Field("etype"), Lit("click"), BinOp.EQUALS)),
        aggregation = Raw(7), durationMs = 600000L),
      // computed projection: identical compiled rendering on both paths
      QuerySpec("r_proj",
        filter = Some(Binary(Field("event_id"), Lit(90L), BinOp.GREATER_THAN)),
        projection = Some(Seq("eid" -> Field("event_id"),
          "double_v" -> Binary(Field("value"), Lit(2.0), BinOp.MUL))),
        aggregation = Raw(100), durationMs = 600000L))
    val b1 = events.filter(col("event_id") <= 50)
    val b2 = events.filter(col("event_id") > 50)

    // driver-held path
    val clock = new ManualClock(0)
    val drv = new QueryRunner(spark, clock)
    specs.foreach(s => assert(drv.register(s).isEmpty))
    drv.processBatch(b1); drv.processBatch(b2)
    drv.finishAll()
    def drvRecords(id: String): Seq[String] =
      drv.results.filter(_.queryId == id).flatMap(_.records)

    // tws path over the same batches as a file stream
    val tws = new QueryRunner(spark)
    specs.foreach(s => assert(tws.register(s).isEmpty))
    val ddl = "event_id LONG, etype STRING, value DOUBLE, user STRING"
    def stream = spark.readStream.schema(ddl).json(inP)
    val sq = tws.runStreamRawTws(stream, outP, ckP)
    try {
      b1.write.mode("append").json(inP); sq.processAllAvailable()
      b2.write.mode("append").json(inP); sq.processAllAvailable()
    } finally sq.stop()
    def twsRecords(id: String): Seq[String] = spark.read.parquet(outP)
      .filter(col("query_id") === id).select("record")
      .collect().map(_.getString(0)).toSeq

    assert(twsRecords("r_under").sorted === drvRecords("r_under").sorted,
      "under-cap RAW must agree record-for-record")
    assert(twsRecords("r_proj").sorted === drvRecords("r_proj").sorted,
      "projected RAW must render identically on both backends")
    assert(drvRecords("r_over").size === 7 && twsRecords("r_over").size === 7,
      "over-cap RAW must stop at exactly the cap on both backends")

    // restart on the same checkpoint: r_over is at cap, so a batch of
    // fresh clicks (ids <= 90: matches r_over ONLY) must add zero rows
    val spark2 = spark
    import spark2.implicits._
    val before = spark.read.parquet(outP).count()
    val b3 = (60L to 80L).map(i => (i, "click", i.toDouble, s"u${i % 7}"))
      .toDF("event_id", "etype", "value", "user")
    val sq2 = tws.runStreamRawTws(stream, outP, ckP)
    try {
      b3.write.mode("append").json(inP); sq2.processAllAvailable()
    } finally sq2.stop()
    assert(spark.read.parquet(outP).count() === before,
      "a capped query must take nothing after restart (persisted count)")
  }
}

/** Executor-side fault injection for the transient-failure tests: an
  * IOException (what a fetch/disk/network fault surfaces as) stands in
  * for executor loss / shuffle fetch failure — the class
  * QueryRunner.isTransientFailure recognizes as retriable. Static
  * state — local-mode tasks share the JVM. */
object TransientPoison {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val failures = new java.util.concurrent.atomic.AtomicInteger(0)
  import org.apache.spark.sql.functions.udf
  val boom = udf((s: String) => {
    if (armed.get) throw new java.io.IOException("simulated executor fault")
    s
  })
  val boomOnce = udf((s: String) => {
    if (armed.get && failures.get() > 0 && failures.getAndDecrement() > 0)
      throw new java.io.IOException("simulated executor fault (once)")
    s
  })
}
