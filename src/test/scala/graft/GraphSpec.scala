package graft

import graft.pipeline.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkTestBase {

  // triangle a-b-c plus pendant c-d
  private def fixture = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
  }

  test("cooccurrenceEdges emits each within-group pair once, ordered a < b") {
    val s = spark
    import s.implicits._
    val m = Seq((10L, 3L), (10L, 1L), (10L, 2L), (20L, 1L), (20L, 3L),
      (30L, 1L), (30L, 3L), (10L, 3L)).toDF("g", "i") // dup membership row
    val got = Graph.cooccurrenceEdges(m, "g", "i")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // group 10 clique on {1,2,3}; groups 20 and 30 both yield (1,3) — once
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("triangleCounts: K4 has 4 triangles, every node in 3") {
    val s = spark
    import s.implicits._
    val k4 = (for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield (a, b)).toDF("a", "b")
    val got = Graph.triangleCounts(k4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: pendant edge joins no triangle; open wedge counts zero") {
    val s = spark
    import s.implicits._
    // triangle {1,2,3} + pendant 3-4 + open wedge 4-5, 5-6
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val got = Graph.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("degrees: triangle nodes have 2 (3 for the hub), pendant has 1") {
    val got = Graph.degrees(fixture, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
  }

  test("pageRank single iteration matches hand computation") {
    val got = Graph.pageRank(fixture, "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // deg: 1->2, 2->2, 3->3, 4->1; all start at 1
    val e1 = 0.15 + 0.85 * (1.0 / 2 + 1.0 / 3) // from 2 and 3
    val e3 = 0.15 + 0.85 * (1.0 / 2 + 1.0 / 2 + 1.0) // from 1, 2 and 4
    val e4 = 0.15 + 0.85 * (1.0 / 3)
    assert(math.abs(got(1L) - e1) < 1e-12)
    assert(math.abs(got(2L) - e1) < 1e-12)
    assert(math.abs(got(3L) - e3) < 1e-12)
    assert(math.abs(got(4L) - e4) < 1e-12)
  }

  test("rank mass is conserved across iterations on a symmetrized graph") {
    val ranks = Graph.pageRank(fixture, "src", "dst", iters = 5)
      .agg(sum("rank")).head.getDouble(0)
    assert(math.abs(ranks - 4.0) < 1e-9, s"mass drifted: $ranks")
  }

  test("checkpointEvery bounds plan depth at 20 iterations without changing ranks") {
    val deep = Graph.pageRank(fixture, "src", "dst", iters = 20, checkpointEvery = 5)
    // lineage truncation: the optimized plan must be the tail-of-loop
    // shape (O(checkpointEvery) operators over a LogicalRDD), ~9k chars
    // here, independent of iters — NOT 20 unrolled join+agg rounds,
    // whose plan string grows without bound and whose optimization alone
    // takes minutes.
    val planChars = deep.queryExecution.optimizedPlan.toString.length
    assert(planChars < 20000, s"plan not truncated: $planChars chars")
    val got = deep.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size === 4 && got.values.forall(v => v > 0 && v < 4))
    // checkpointing must not change the arithmetic: compare at a depth
    // the unrolled plan still optimizes quickly
    val got10 = Graph.pageRank(fixture, "src", "dst", iters = 10, checkpointEvery = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want10 = Graph.pageRank(fixture, "src", "dst", iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    want10.foreach { case (k, v) => assert(math.abs(got10(k) - v) < 1e-9) }
  }

  test("hub outranks leaf; plan has no cartesian product") {
    val pr = Graph.pageRank(fixture, "src", "dst", iters = 3)
    val got = pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(3L) > got(1L) && got(1L) > got(4L))
    val p = pr.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("triangleCountsByDegree equals triangleCounts on K4, wedges, and a hub graph") {
    val s = spark
    import s.implicits._
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 + pendant + open wedge
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L), (7L, 8L)).toDF("a", "b")
    assert(counts(Graph.triangleCountsByDegree(k4)) === counts(Graph.triangleCounts(k4)))
    // one hub (0) adjacent to everything + a path closing fan triangles:
    // the id-oriented form's worst case, the degree orientation's point
    val hub = ((1L to 40L).map(i => (0L, i)) ++
      (1L until 40L).map(i => (i, i + 1))).toDF("a", "b")
    val byDeg = counts(Graph.triangleCountsByDegree(hub))
    assert(byDeg === counts(Graph.triangleCounts(hub)))
    assert(byDeg(0L) === 39L) // hub sits in every fan triangle
    assert(byDeg(2L) === 2L && byDeg(1L) === 1L)
  }

  test("triangleCountsByDegree differential: random graphs across densities match id-oriented") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 4) {
      val n = 15 + trial * 10
      val p = 0.08 * trial
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < p
      } yield (a, b)).toDF("a", "b")
      val byDeg = Graph.triangleCountsByDegree(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val byId = Graph.triangleCounts(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byDeg === byId, s"trial $trial (n=$n, p=$p) diverged")
    }
  }

  test("triangleCountsByDegree: plan carries the degree join, no nested loop") {
    val s = spark
    import s.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val p = Graph.triangleCountsByDegree(e).queryExecution.optimizedPlan.toString
    // the orientation joins a count-per-node aggregate onto BOTH endpoints
    // (r14: `oriented` is persisted, so the degree joins live inside the
    // InMemoryRelation's cached physical plan — match the physical
    // HashAggregate form producing da/db instead of the logical alias)
    assert(p.linesIterator.exists(l => l.contains("count(1)") && l.contains(" da#")) &&
      p.linesIterator.exists(l => l.contains("count(1)") && l.contains(" db#")),
      "orientation must join endpoint degrees:\n" + p.take(1500))
    val phys = Graph.triangleCountsByDegree(e).queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") &&
      !phys.contains("BroadcastNestedLoopJoin"),
      "wedge closing must stay an equi-join")
  }

  test("kCore differential: random graphs across densities match a local reference peel") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(4242L)
    for ((n, m, k) <- Seq((30, 40, 2), (40, 120, 3), (25, 180, 5))) {
      val edgeSet = scala.collection.mutable.Set.empty[(Long, Long)]
      while (edgeSet.size < m) {
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        if (a != b) edgeSet += ((math.min(a, b), math.max(a, b)))
      }
      // local reference: peel until fixpoint
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
        .withDefaultValue(Set.empty)
      edgeSet.foreach { case (a, b) =>
        adj(a) = adj(a) + b; adj(b) = adj(b) + a
      }
      var nodes = adj.keySet.toSet
      var changed = true
      while (changed) {
        val keep = nodes.filter(u => (adj(u) & nodes).size >= k)
        changed = keep != nodes
        nodes = keep
      }
      val expected = nodes.map(u => u -> (adj(u) & nodes).size.toLong)
        .filter(_._2 >= 1).toMap
      val got = graft.pipeline.Graph.kCore(edgeSet.toSeq.toDF("a", "b"), "a", "b", k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"(n=$n m=$m k=$k) got $got expected $expected")
    }
  }

  test("coreness differential: peel and h-index agree with a local reference on random graphs") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(777L)
    for ((n, m) <- Seq((25, 40), (35, 140), (20, 150))) {
      val edgeSet = scala.collection.mutable.Set.empty[(Long, Long)]
      while (edgeSet.size < m) {
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        if (a != b) edgeSet += ((math.min(a, b), math.max(a, b)))
      }
      // local reference: min-degree peel with per-node removal level
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
        .withDefaultValue(Set.empty)
      edgeSet.foreach { case (a, b) =>
        adj(a) = adj(a) + b; adj(b) = adj(b) + a
      }
      val expected = scala.collection.mutable.Map.empty[Long, Long]
      var nodes = adj.keySet.toSet
      var k = 2L
      while (nodes.nonEmpty) {
        val peelable = nodes.filter(u => (adj(u) & nodes).size < k)
        if (peelable.isEmpty) k += 1
        else {
          peelable.foreach(u => expected(u) = k - 1)
          nodes = nodes -- peelable
        }
      }
      val df = edgeSet.toSeq.toDF("a", "b")
      val viaPeel = graft.pipeline.Graph.coreness(df, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaH = graft.pipeline.Graph.corenessHIndex(df, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaPeel === expected.toMap, s"(n=$n m=$m) peel mismatch")
      assert(viaH === expected.toMap, s"(n=$n m=$m) h-index mismatch")
    }
  }

  test("coreness: hand example — K4 with a pendant tail decomposes into shells") {
    val s2 = spark
    import s2.implicits._
    // K4 on 1-4 (coreness 3), tail 4-5-6 (coreness 1)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val expected = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L, 6L -> 1L)
    assert(graft.pipeline.Graph.coreness(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
    assert(graft.pipeline.Graph.corenessHIndex(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
  }

  test("personalizedPageRank differential: random graph matches a local reference") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(77L)
    val edgeSet = scala.collection.mutable.Set.empty[(Long, Long)]
    while (edgeSet.size < 90) {
      val a = rnd.nextInt(35).toLong
      val b = rnd.nextInt(35).toLong
      if (a != b) edgeSet += ((math.min(a, b), math.max(a, b)))
    }
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edgeSet.foreach { case (a, b) => adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    val seedSet = adj.keySet.filter(_ % 7 == 0).toSet
    var ref = adj.keys.map(v => v -> (if (seedSet(v)) 1.0 else 0.0)).toMap
    for (_ <- 1 to 3) {
      ref = adj.keys.map { v =>
        val in = adj(v).toSeq.sorted.map(u => ref(u) / adj(u).size).sum
        v -> ((if (seedSet(v)) 0.15 else 0.0) + 0.85 * in)
      }.toMap
    }
    val got = graft.pipeline.Graph.personalizedPageRank(
        edgeSet.toSeq.toDF("a", "b"), "a", "b",
        seedSet.toSeq.toDF("node"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === ref.keySet)
    ref.foreach { case (v, r) =>
      assert(math.abs(got(v) - r) < 1e-9, s"node $v: got ${got(v)}, ref $r")
    }
  }

  test("personalizedPageRank: hand computation on an edge; trust decays with seed distance") {
    val s2 = spark
    import s2.implicits._
    // single edge 1-2, seed {1}: r1 = (0.15, 0.85), r2 = (0.8725, 0.1275)
    val edge = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r2 = graft.pipeline.Graph.personalizedPageRank(edge, "src", "dst",
        seeds, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(r2(1L) - 0.8725) < 1e-12 && math.abs(r2(2L) - 0.1275) < 1e-12,
      r2.toString)
    // path 1-2-3-4-5 seeded at 1: match a local reference computation
    // exactly (rank OSCILLATES with parity at low iteration counts —
    // a naive "decays with distance" assertion is wrong on paths)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val pr = graft.pipeline.Graph.personalizedPageRank(path, "src", "dst",
        seeds, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L, 4L),
      4L -> Seq(3L, 5L), 5L -> Seq(4L))
    var ref = Map(1L -> 1.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0, 5L -> 0.0)
    for (_ <- 1 to 4) {
      ref = adj.map { case (v, _) =>
        val in = adj.filter(_._2.contains(v)).keys
          .map(u => ref(u) / adj(u).size).sum
        v -> ((if (v == 1L) 0.15 else 0.0) + 0.85 * in)
      }
    }
    adj.keys.foreach(v => assert(math.abs(pr(v) - ref(v)) < 1e-9,
      s"node $v: got ${pr(v)}, ref ${ref(v)}"))
    // the seed holds the maximum rank
    assert(pr(1L) == pr.values.max)
    // an unknown seed id contributes nothing (no edges): all-zero ranks
    val cold = graft.pipeline.Graph.personalizedPageRank(edge, "src", "dst",
        Seq(99L).toDF("node"), iters = 2)
      .collect().map(_.getDouble(1))
    assert(cold.forall(_ == 0.0))
  }

  test("kCore: cascade peel — K4 survives 2-core, tail chain peels over multiple rounds") {
    val s2 = spark
    import s2.implicits._
    // K4 on 1..4 plus a chain 4-5-6-7: the chain needs THREE peel
    // rounds (7 drops, then 6, then 5 — each removal exposes the next),
    // so a single-pass degree filter would keep 5 and 6 wrongly
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    val core = graft.pipeline.Graph.kCore(edges, "a", "b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), core.toString)
    // k above the max core empties out
    assert(graft.pipeline.Graph.kCore(edges, "a", "b", k = 4).count() === 0)
    // k=1 keeps everything with an edge
    assert(graft.pipeline.Graph.kCore(edges, "a", "b", k = 1).count() === 7)
  }

  test("kCore with broadcasts disabled (threshold -1): same core, no BroadcastExchange") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val s2 = spark
    import s2.implicits._
    // K4 + chain 4-5-6-7; at k = 4 the first round keeps no node, the
    // survivor count a row-bounded broadcast hint would fire on
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    def cores() = Seq(2, 4).map(k => graft.pipeline.Graph.kCore(edges, "a", "b", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val expected = cores()
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    spark.listenerManager.register(listener)
    val got = try {
      val r = cores()
      // listener events dispatch asynchronously; wait until the capture
      // count stabilizes (two consecutive equal reads 200 ms apart)
      var prev = -1
      var waited = 0
      while (plans.size() != prev && waited < 10000) {
        prev = plans.size(); Thread.sleep(200); waited += 200
      }
      r
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set(key, saved)
    }
    assert(got === expected)
    assert(expected.head === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(expected(1).isEmpty)
    val all = plans.toArray.map(_.toString)
    assert(all.nonEmpty, "listener captured no plans")
    assert(!all.exists(_.contains("BroadcastExchange")),
      all.find(_.contains("BroadcastExchange")).getOrElse("").take(1500))
  }

  test("core family canonicalizes orientation: a pre-symmetrized input does not double degrees") {
    val s2 = spark
    import s2.implicits._
    // K4 + pendant, fed with BOTH orientations of every edge (the way a
    // caller who already symmetrized would): before canonicalization,
    // .distinct() kept both rows and every degree doubled — the pendant
    // node read degree 2 and wrongly survived the 2-core
    val oneWay = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("a", "b")
    val bothWays = oneWay.unionByName(
      oneWay.select(col("b").as("a"), col("a").as("b")))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kc = toMap(graft.pipeline.Graph.kCore(bothWays, "a", "b", k = 2))
    assert(kc === toMap(graft.pipeline.Graph.kCore(oneWay, "a", "b", k = 2)))
    assert(!kc.contains(5L), s"pendant must peel at k=2, got $kc")
    assert(toMap(graft.pipeline.Graph.coreness(bothWays, "a", "b")) ===
      toMap(graft.pipeline.Graph.coreness(oneWay, "a", "b")))
    assert(toMap(graft.pipeline.Graph.corenessHIndex(bothWays, "a", "b")) ===
      toMap(graft.pipeline.Graph.corenessHIndex(oneWay, "a", "b")))
  }
}
