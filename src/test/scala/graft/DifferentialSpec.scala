package graft

import graft.compile.QueryCompiler
import graft.model._
import graft.streaming.{ManualClock, QueryRunner}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/**
 * Randomized differential conformance: N randomly generated query specs
 * (filter grammar × every aggregation family) registered into ONE runner
 * and evaluated in a single shared micro-batch pass — so the eq
 * partitioner, GROUP BY fusion, and the generic compiled path all engage
 * under random mixtures — then every query's emitted records are compared
 * against `QueryCompiler.run` on the same frame as canonical multisets.
 * A few fixed specs ride along with every random mix so that each of the
 * runner's four job kinds (shared, equality, range, grouped) is sure to
 * run, and each test asserts that all four did.
 *
 * The fixture's numeric column is integral-valued so double sums are
 * order-insensitive (exact in any addition order below 2^53): any
 * discrepancy is a semantics bug, never float noise. TopK uses k ≥
 * distinct keys (no tie-broken boundary), sketches stay in their exact
 * regimes (n ≪ k), so equality is exact.
 */
class DifferentialSpec extends SparkTestBase {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def parse(json: String): Map[String, Any] =
    mapper.readValue(json, classOf[java.util.Map[String, Any]]).asScala.toMap

  private lazy val events = {
    val s = spark
    import s.implicits._
    (1L to 100L).map { i =>
      (i, if (i % 3 == 0) "click" else "view", i.toDouble, s"u${i % 7}")
    }.toDF("event_id", "etype", "value", "user")
  }

  /** Normalize any numeric to Long when integral (mirrors JSON's
    * int/double split) so Jackson-parsed records compare against Row
    * values. */
  private def canon(v: Any): Any = v match {
    case null => null
    case n: java.lang.Number =>
      val d = n.doubleValue
      if (d.isWhole && math.abs(d) < 9e15) n.longValue else d
    case other => other
  }

  private def canonRecords(recs: Seq[Map[String, Any]]): Map[Map[String, Any], Int] =
    recs.map(_.map { case (k, v) => k -> canon(v) })
      .groupBy(identity).map { case (k, vs) => k -> vs.size }

  private def batchRecords(spec: QuerySpec): Seq[Map[String, Any]] = {
    val df = QueryCompiler.run(events, spec)
    val names = df.schema.fieldNames
    df.collect().toSeq.map(r => names.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap)
  }

  private def randomSpec(id: String, rnd: scala.util.Random): QuerySpec = {
    def lit: (String, Expr) = rnd.nextInt(4) match {
      case 0 => "etype" -> Lit(Seq("click", "view", "purchase")(rnd.nextInt(3)))
      case 1 => "user" -> Lit(s"u${rnd.nextInt(9)}") // u7/u8 absent
      case 2 => "value" -> Lit(rnd.nextInt(120).toDouble)
      case _ => "event_id" -> Lit(rnd.nextInt(120).toLong)
    }
    def leaf: Expr = {
      val (f, v) = lit
      val op = Seq(BinOp.EQUALS, BinOp.NOT_EQUALS, BinOp.GREATER_THAN,
        BinOp.LESS_THAN)(rnd.nextInt(4))
      Binary(Field(f), v, op)
    }
    def pred(depth: Int): Expr =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf
      else NAry(Seq(NAryOp.AND, NAryOp.OR)(rnd.nextInt(2)),
        Seq(pred(depth - 1), pred(depth - 1)))
    val filter = rnd.nextInt(5) match {
      case 0 => None
      case 1 => Some(leaf) // plenty of plain `field == lit` for the eq path
      case _ => Some(pred(2))
    }
    val aggregation: Aggregation = rnd.nextInt(5) match {
      case 0 =>
        val pool = Seq(
          GroupOp(GroupOpType.COUNT, None, "cnt"),
          GroupOp(GroupOpType.SUM, Some("value"), "sv"),
          GroupOp(GroupOpType.MIN, Some("value"), "mn"),
          GroupOp(GroupOpType.MAX, Some("event_id"), "mx"),
          GroupOp(GroupOpType.AVG, Some("value"), "av"))
        GroupAll(rnd.shuffle(pool).take(1 + rnd.nextInt(pool.size)))
      case 1 =>
        val keys = Seq(Seq("etype" -> "e"), Seq("user" -> "u"),
          Seq("etype" -> "e", "user" -> "u"))(rnd.nextInt(3))
        GroupBy(keys, Seq(
          GroupOp(GroupOpType.COUNT, None, "cnt"),
          GroupOp(GroupOpType.SUM, Some("value"), "sv")), entries = 32)
      case 2 =>
        CountDistinct(Seq(Seq("user"), Seq("etype", "user"))(rnd.nextInt(2)))
      case 3 =>
        TopK(Seq("user" -> "u"), k = 8, countName = "cnt", maxMapSize = 64)
      case _ =>
        if (rnd.nextBoolean())
          Distribution("value", DistributionType.QUANTILE,
            Seq(0.0, 0.25, 0.5, 0.75, 1.0), k = 1024)
        else
          Distribution("value", DistributionType.PMF,
            Seq(25.0, 75.0), k = 1024)
    }
    QuerySpec(id, filter = filter, aggregation = aggregation)
  }

  /** One or two specs per job kind, whatever the random mix holds. */
  private val fixedSpecs: Seq[QuerySpec] = {
    def gAll(ops: GroupOp*) = GroupAll(ops)
    val cnt = GroupOp(GroupOpType.COUNT, None, "cnt")
    def cmp(f: String, v: Any, op: BinOp.Value) = Some(Binary(Field(f), Lit(v), op))
    Seq(
      QuerySpec("fx_shared", aggregation = CountDistinct(Seq("user"))),
      QuerySpec("fx_eq_click", filter = cmp("etype", "click", BinOp.EQUALS),
        aggregation = gAll(cnt, GroupOp(GroupOpType.SUM, Some("value"), "sv"))),
      QuerySpec("fx_eq_view", filter = cmp("etype", "view", BinOp.EQUALS),
        aggregation = gAll(cnt)),
      QuerySpec("fx_rng_lo", filter = cmp("value", 40.0, BinOp.LESS_THAN),
        aggregation = gAll(cnt, GroupOp(GroupOpType.MIN, Some("value"), "mn"))),
      QuerySpec("fx_rng_hi", filter = cmp("value", 60.0, BinOp.GREATER_THAN),
        aggregation = gAll(cnt, GroupOp(GroupOpType.MAX, Some("event_id"), "mx"),
          GroupOp(GroupOpType.AVG, Some("value"), "av"))),
      QuerySpec("fx_grouped", aggregation = GroupBy(Seq("etype" -> "e"),
        Seq(cnt, GroupOp(GroupOpType.SUM, Some("value"), "sv")), entries = 32)))
  }

  private def assertAllKindsRan(runner: QueryRunner): Unit =
    assert(runner.lastBatchJobs.keySet === QueryRunner.JobKind.values.toSet,
      s"jobs ${runner.lastBatchJobs}")

  test("50 random specs across THREE micro-batches: merged partials equal one batch pass") {
    val rnd = new scala.util.Random(20260813L)
    val specs = (0 until 50).map(i => randomSpec(s"xb$i", rnd)) ++ fixedSpecs
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    specs.foreach(s => assert(runner.register(s).isEmpty, s"${s.id} failed validation"))
    // uneven batch split exercises empty-match and single-row partials
    runner.processBatch(events.filter(col("event_id") <= 40))
    runner.processBatch(events.filter(col("event_id") > 40 && col("event_id") <= 45))
    runner.processBatch(events.filter(col("event_id") > 45))
    assertAllKindsRan(runner)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    specs.foreach { spec =>
      val clip = byId(spec.id)
      assert(clip.signal.contains("COMPLETE"), spec.id)
      // RAW truncation order across batches is arrival-defined, not
      // comparable to the batch compiler's — randomSpec generates no RAW
      val got = canonRecords(clip.records.map(parse))
      val want = canonRecords(batchRecords(spec))
      assert(got === want,
        s"${spec.id} diverged across batches\n  spec: $spec\n  runner: $got\n  batch: $want")
    }
  }

  test("80 random specs: one shared runner pass equals the batch compiler, query by query") {
    val rnd = new scala.util.Random(20260812L)
    val specs = (0 until 80).map(i => randomSpec(s"rq$i", rnd)) ++ fixedSpecs
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    specs.foreach(s => assert(runner.register(s).isEmpty, s"${s.id} failed validation"))
    runner.processBatch(events)
    assertAllKindsRan(runner)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    assert(byId.size === specs.size)
    specs.foreach { spec =>
      val clip = byId(spec.id)
      assert(clip.signal.contains("COMPLETE"), spec.id)
      val got = canonRecords(clip.records.map(parse))
      val want = canonRecords(batchRecords(spec))
      assert(got === want,
        s"${spec.id} diverged\n  spec: $spec\n  runner: $got\n  batch: $want")
    }
  }

  test("same 80 specs split across two micro-batches still equal the batch compiler") {
    val rnd = new scala.util.Random(8670L)
    val specs = (0 until 80).map(i => randomSpec(s"xq$i", rnd)) ++ fixedSpecs
    val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    specs.foreach(s => assert(runner.register(s).isEmpty, s"${s.id} failed validation"))
    runner.processBatch(events.filter(col("event_id") <= 50))
    runner.processBatch(events.filter(col("event_id") > 50))
    assertAllKindsRan(runner)
    clock.advance(20000)
    val byId = runner.onTick().map(c => c.queryId -> c).toMap
    specs.foreach { spec =>
      val got = canonRecords(byId(spec.id).records.map(parse))
      val want = canonRecords(batchRecords(spec))
      assert(got === want,
        s"${spec.id} diverged across batches\n  spec: $spec\n  runner: $got\n  batch: $want")
    }
  }
}
