package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed graph scoring over edge lists — the link-analysis signals a
 * curation pipeline derives from relationships between items (duplicate
 * graphs, citation/link graphs, co-occurrence graphs): node degrees and
 * fixed-iteration PageRank.
 *
 * Everything is edge-list relational algebra — one shuffle-join + one
 * aggregation per PageRank iteration, keyed on node id. No graph library,
 * no driver-side adjacency: the same plan a Pregel superstep lowers to.
 * Iterations are unrolled into the logical plan; `pageRank`'s
 * `checkpointEvery` truncates lineage every few rounds for deep
 * iteration counts, and at scale pre-partition the symmetrized edges
 * and degrees by source so every superstep reuses one exchange.
 */
object Graph {

  /** Symmetrized (both-directions) edge view of an undirected edge list.
    * Input pairs must be distinct; each undirected edge contributes one
    * row per direction. */
  private def symmetrize(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).as("s"), col(dstCol).as("t"))
      .union(edges.select(col(dstCol).as("s"), col(srcCol).as("t")))

  /** One row per undirected edge regardless of input orientation:
    * least/greatest canonicalization before the distinct, self-loops
    * dropped. Without this, an already-symmetrized input holding both
    * (a, b) and (b, a) survives `.distinct()` as TWO rows and silently
    * doubles every degree the core family computes — the
    * canonicalization is one narrow projection, noise next to a peel. */
  private def canonicalEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Per-node degree of an undirected edge list: (node, degree). */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    symmetrize(edges, srcCol, dstCol)
      .groupBy(col("s").as("node")).agg(count(lit(1)).as("degree"))

  /**
   * Fixed-iteration PageRank on an UNDIRECTED edge list (each edge walks
   * both ways, so there are no dangling nodes): starts every node at
   * rank 1, then `iters` rounds of
   * `r'(v) = (1 - damping) + damping · Σ_{(u,v)∈E} r(u) / deg(u)`.
   * Returns (node, rank) with the RAW double rank — fixed iterations
   * (not convergence-tested) keep the result a pure deterministic
   * function of the edge list, so an oracle can replay the identical
   * unrolled arithmetic; round before comparing across engines (float
   * summation order differs).
   *
   * Scale shape per iteration: one join of the edge list with the rank
   * frame on the source node and one aggregation by destination — both
   * hash-partitioned on node id, the degree join riding the same key.
   * Edges dominate and are never reshaped; ranks are O(nodes).
   *
   * `checkpointEvery` > 0 `localCheckpoint`s the rank frame every that
   * many rounds (same lineage-truncation pattern as
   * [[graft.pipeline.Similarity.coresetFPS]]): without it the unrolled
   * plan grows with `iters` — exponential-ish for the optimizer past
   * ~10 rounds and fully re-executed on any task retry. Leave 0 only
   * for shallow, oracle-replayable iteration counts.
   *
   * EAGER AT CALL TIME (r14, documented per ADVICE): the node universe
   * materializes via `localCheckpoint(true)` when this method is
   * CALLED, so plan-only callers (explain, tests inspecting
   * queryExecution) execute real Spark jobs here; the edge persist also
   * registers with the caller's CacheScope (or follows the session
   * clearCache contract outside one). The returned rank frame itself
   * stays lazy.
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85,
               checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0 (0 = off)")
    // loop invariants materialize ONCE (r14): left lazy, every iteration
    // re-derived all three from the raw edge input — the executed plan
    // carried 20 scans of the edge source at iters=3 (scan_baseline).
    // sym is edge-sized → spillable persist; nodes is consumed per
    // iteration → eager localCheckpoint; deg stays lazy (a single
    // map-side aggregate off the cached sym — a checkpoint job costs
    // more than the recompute it saves, measured r14).
    val sym = graft.plans.CacheScope.persistTracked(
      symmetrize(edges, srcCol, dstCol))
    val deg = sym.groupBy("s").agg(count(lit(1)).cast("double").as("d"))
    val nodes = sym.select(col("s").as("node")).distinct()
      .localCheckpoint(true)
    var r = nodes.withColumn("r", lit(1.0))
    for (i <- 1 to iters) {
      val contrib = sym.join(r.withColumnRenamed("node", "s"), "s")
        .join(deg, "s")
        .groupBy(col("t").as("node"))
        .agg(sum(col("r") / col("d")).as("c"))
      // every node has degree >= 1 in a symmetrized graph, but a LEFT
      // join + coalesce keeps isolated-node behavior well-defined if a
      // caller ever feeds a directed list through a custom symmetrize
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(1 - damping) + lit(damping) * coalesce(col("c"), lit(0.0))).as("r"))
      // truncate lineage so plan depth stays O(checkpointEvery), not O(iters)
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        r = r.localCheckpoint()
    }
    r.select(col("node"), col("r").as("rank"))
  }

  /**
   * Personalized PageRank / TrustRank (Gyöngyi, Garcia-Molina & Pedersen,
   * VLDB 2004): [[pageRank]] with the restart mass concentrated on a
   * SEED set instead of spread uniformly — r'(v) = (1−d)·seed(v) +
   * d·Σ r(u)/deg(u). Rank flows outward from the seeds, so distance-
   * from-trust becomes a score: the standard spam-demotion /
   * topical-authority signal a curation pipeline runs over a link or
   * co-occurrence graph with a small hand-audited seed list.
   *
   * Same superstep algebra as [[pageRank]] (one edge⋈rank join + one
   * by-destination aggregation per iteration). The seed indicator frame
   * is consumed every iteration, so it is materialized ONCE
   * (`localCheckpoint`) — node-sized, never corpus-sized. Seeds are a
   * DataFrame with a `node` column; unknown seed ids are ignored
   * (they have no edges to flow through). Like [[pageRank]], calling
   * this method EXECUTES jobs (the seed-indicator checkpoint) — see the
   * eager-at-call-time note there.
   */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, iters: Int,
                           damping: Double = 0.85,
                           checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0 (0 = off)")
    // loop invariants materialize ONCE — see [[pageRank]] (r14)
    val sym = graft.plans.CacheScope.persistTracked(
      symmetrize(edges, srcCol, dstCol))
    val deg = sym.groupBy("s").agg(count(lit(1)).cast("double").as("d"))
    val nodes = sym.select(col("s").as("node")).distinct()
    val sInd = nodes
      .join(broadcast(seeds.select(col("node")).distinct()
        .withColumn("__s", lit(1.0))), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0.0)).as("ind"))
      .localCheckpoint(true) // consumed once per iteration + the init
    var r = sInd.select(col("node"), col("ind").as("r"))
    for (i <- 1 to iters) {
      val contrib = sym.join(r.withColumnRenamed("node", "s"), "s")
        .join(deg, "s")
        .groupBy(col("t").as("node"))
        .agg(sum(col("r") / col("d")).as("c"))
      r = sInd.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(1 - damping) * col("ind") +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("r"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        r = r.localCheckpoint()
    }
    r.select(col("node"), col("r").as("rank"))
  }

  /** Distinct undirected co-occurrence edges: items sharing a group form
    * a clique; emitted once each as (a, b) with a < b. The pair explosion
    * is quadratic in GROUP size, not corpus size (a 10⁶-item group is
    * 5·10¹¹ pairs), so the bound is ENFORCED, not advisory: any group
    * over `maxGroupSize` fails the job loudly via `assert_true` riding
    * the plan — the same discipline as `semanticDedup`'s cell guard and
    * the n-gram path's maxDocFreq. Truly pathological groups should be
    * filtered or capped upstream as an explicit modeling decision. */
  def cooccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
                        maxGroupSize: Long = 1L << 16): DataFrame = {
    val m = guardGroupSize(
      df.select(col(groupCol).as("g"), col(itemCol).as("i")).distinct(),
      maxGroupSize, "cooccurrenceEdges")
    m.as("x").join(m.as("y"), col("x.g") === col("y.g") && col("x.i") < col("y.i"))
      .select(col("x.i").as("a"), col("y.i").as("b"))
      .distinct()
  }

  /**
   * k-core membership (Seidman 1983): iteratively peel nodes of degree
   * < k until the fixpoint; returns (node, degree) for the surviving
   * core, degree measured INSIDE the core. The standard dense-community
   * signal — link-spam farms and boilerplate mirror clusters live in
   * high cores; peripheral one-link noise dies in round one — and the
   * cheap preconditioner before triangle/clique work.
   *
   * Scale shape: a driver loop of bounded rounds, each round ONE
   * map-side-combined degree aggregate + two semi-joins keyed on the
   * node id, with the edge frame re-materialized per round
   * (`localCheckpoint`) so round i+1 reads a flat scan, not an
   * ever-deeper lineage (the PageRank `checkpointEvery` discipline,
   * forced every round because the frame SHRINKS — peeling only
   * removes rows). The node set is monotone decreasing, so an
   * unchanged survivor COUNT is the fixpoint proof — one cheap count
   * per round, no set comparison. `maxIters` bounds the loop loudly;
   * real graphs converge in a handful of rounds (each round removes
   * every currently-peelable node at once).
   */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIters: Int = 50): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(maxIters >= 1, s"kCore: maxIters must be >= 1")
    val e0 = canonicalEdges(edges, srcCol, dstCol)
      .localCheckpoint(true)
    // the fixpoint-confirm round's degree frame IS the answer (r15,
    // VERDICT r14 item 6): at the fixpoint every node of the surviving
    // edge frame has degree >= k and the confirm round just aggregated
    // exactly those degrees — peel returns that frame instead of the
    // edges, so the former degrees(peel(...)) re-aggregation (one more
    // edge-sized shuffle over the final core) is gone.
    peel(e0, k, maxIters)._2
  }

  /** Peel a normalized, localCheckpoint'ed (a, b) edge frame at `k` to
    * the fixpoint: (surviving edge frame, its (node, degree) frame —
    * the fixpoint-confirm round's degree aggregate, already
    * materialized). One map-side-combined degree aggregate + two
    * semi-joins per round, survivor COUNT stability as the fixpoint
    * proof (the node set is monotone decreasing); [[coreness]] fuses
    * its own variant that shares the degree frame across level
    * advances. */
  private def peel(e0: DataFrame, k: Int, maxIters: Int): (DataFrame, DataFrame) = {
    // broadcast bound for the survivor semi-joins, derived from the
    // fixpoint counter we pay for anyway: keep is node-sized and its
    // EXACT count is in hand each round, but it sits behind a
    // localCheckpoint the planner can't size (defaultSizeInBytes →
    // sort-merge, an edge-sized exchange per side per round). ~16 bytes
    // per (long) node row against the session's broadcast threshold —
    // scale-adaptive: a 100 TB graph's node set blows the bound and
    // degrades to the shuffled semi-join, never the other way round. A
    // threshold <= 0 disables broadcasts, so this hint never fires then.
    val threshold = e0.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val bcastRows = if (threshold <= 0) 0L else math.max(1L, threshold / 16)
    var e = e0
    var prev = -1L
    var rounds = 0
    while (true) {
      // LAZY checkpoints: the count below is the single scheduled job
      // per round — it materializes deg AND the previous round's pending
      // e in one pass (eager checkpoints cost 3 jobs per cascade wave;
      // lineage still truncates at materialization, so plans stay flat).
      // deg (not keep) is the checkpointed frame, so the confirm round's
      // aggregate survives as the returned degree frame; keep is a
      // narrow filter over the cached deg, recomputed per semi-join side
      // for pennies.
      val deg = degrees(e, "a", "b").localCheckpoint(false)
      val n = deg.filter(col("degree") >= k).count()
      // monotone set + equal count = fixpoint
      if (n == prev) return (e, deg)
      require(rounds < maxIters,
        s"kCore: no fixpoint after $maxIters peel rounds — raise " +
          "maxIters (each round removes every peelable node, so this " +
          "means a pathologically deep core hierarchy, not slow progress)")
      prev = n
      val keep0 = deg.filter(col("degree") >= k).select("node")
      val keep = if (bcastRows > 0 && n <= bcastRows) broadcast(keep0) else keep0
      e = e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint(false)
      rounds += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /**
   * Full k-core DECOMPOSITION: (node, coreness) for every node with at
   * least one edge, where coreness(v) = the largest k such that v
   * survives the k-core peel — the standard per-node graph-quality
   * signal (Seidman 1983; the "which shell does this page live in"
   * number a curation mix card thresholds on), where [[kCore]] only
   * answers membership at one fixed k.
   *
   * Computed by ascending-k peeling that REUSES each level's surviving
   * edge frame: the k-core is a subgraph of the (k−1)-core, so level k
   * peels the previous level's survivors, never the original edges —
   * total work is the telescoping Σ_k |E_{k-1}-core| rather than
   * maxK·|E|, and the edge frame shrinks monotonically. Each level is
   * one [[peel]] fixpoint (bounded rounds, localCheckpoint'ed per round
   * so lineage stays flat); nodes dropped between level k−1 and level k
   * carry coreness k−1. `maxK` bounds the level loop LOUDLY — a
   * decomposition deeper than maxK means a denser core than the caller
   * budgeted for, and the remedy (raise maxK) is stated in the error.
   */
  def coreness(edges: DataFrame, srcCol: String, dstCol: String,
               maxK: Int = 64, maxIters: Int = 50): DataFrame = {
    require(maxK >= 1, s"coreness: maxK must be >= 1, got $maxK")
    require(maxIters >= 1, s"coreness: maxIters must be >= 1")
    var e = canonicalEdges(edges, srcCol, dstCol)
      .localCheckpoint(true)
    // (node, degree) of the current surviving subgraph — checkpointed,
    // so the per-round threshold tests below are filter+count over a
    // flat scan, and ADVANCING k when a level is stable re-reads this
    // same frame instead of re-shuffling degrees (the level-k fixpoint
    // confirm and the level-(k+1) opening round are the same degree
    // aggregate; fusing them halves the shuffle count of the naive
    // peel-per-level loop)
    var deg = degrees(e, "a", "b").localCheckpoint(true)
    // accumulated (node, coreness) rows. Folded into an EAGER checkpoint
    // every few waves: each wave's dropped-set is a lazy anti-join over
    // that wave's deg frames, and letting ~100 waves' local-checkpoint
    // blocks stay live until one terminal union widens the
    // lost-block-fails-the-job window ~100x (localCheckpoint is not
    // fault-tolerant). The fold costs one tiny job per `foldEvery`
    // waves and bounds the live window to that many frames.
    var acc: DataFrame = null
    var wavesSinceFold = 0
    val foldEvery = 16
    var k = 2
    var roundsAtK = 0
    var done = false
    while (!done) {
      // ONE small job answers both round questions over the checkpointed
      // deg frame: is anything peelable at k, and is the graph exhausted
      val probe = deg.agg(
        count(when(col("degree") < k, 1)).as("peelable"),
        count(lit(1)).as("n")).head()
      if (probe.getLong(1) == 0L) done = true
      else {
        require(k - 1 <= maxK,
          s"coreness: the decomposition exceeds maxK=$maxK levels — the " +
            "graph holds a denser core than budgeted (a clique of n nodes " +
            "alone reaches coreness n-1); raise maxK if that density is " +
            "expected")
        if (probe.getLong(0) == 0L) {
          // level-k fixpoint (nothing peelable): everyone survives into
          // the k-core — advance the threshold on the SAME deg frame
          k += 1
          roundsAtK = 0
        } else {
          require(roundsAtK < maxIters,
            s"coreness: no fixpoint after $maxIters peel rounds at k=$k — " +
              "raise maxIters (each round removes every peelable node, so " +
              "this means a pathologically deep cascade, not slow progress)")
          val keep = deg.filter(col("degree") >= k).select("node")
          // LAZY checkpoints: the next round's probe agg is the single
          // job that materializes e, newDeg, and the two counts at once
          // (an eager checkpoint pair costs 3 scheduled jobs per cascade
          // wave, and deep cascades run ~100 waves — measured 3x wall
          // on the co-occurrence fixture); lineage still truncates at
          // materialization, so plans stay flat
          e = e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
            .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
            .localCheckpoint(false)
          val newDeg = degrees(e, "a", "b").localCheckpoint(false)
          // every node peeled while thresholding at k has coreness k−1,
          // whichever cascade round it falls in. Dropped = old nodes minus
          // new nodes — NOT `degree < k`: a node can pass the degree
          // filter yet lose its last edge because every neighbor dropped,
          // and it must still be credited here.
          val dropped = deg.join(newDeg, Seq("node"), "left_anti")
            .select(col("node"), lit((k - 1).toLong).as("coreness"))
          acc = if (acc == null) dropped else acc.unionByName(dropped)
          wavesSinceFold += 1
          if (wavesSinceFold >= foldEvery) {
            acc = acc.localCheckpoint(true)
            wavesSinceFold = 0
          }
          deg = newDeg
          roundsAtK += 1
        }
      }
    }
    Option(acc)
      .getOrElse(deg.select(col("node"), lit(0L).as("coreness")).filter(lit(false)))
  }

  /**
   * k-core decomposition by the H-INDEX fixpoint (Lü, Zhou, Zhang &
   * Stanley 2016, "The H-index of a network node and its relation to
   * degree and coreness", Nat. Commun. 7:10168): start every node at
   * its degree and repeatedly replace each node's value with the
   * h-index of its neighbors' values (the largest h such that ≥ h
   * neighbors hold value ≥ h); the unique fixpoint is exactly the
   * coreness. Identical answer to [[coreness]] — the peel is the
   * audit/differential twin — but the round count is the VALUE-
   * propagation radius of the graph (typically a handful) instead of
   * the peel's one-Spark-round-per-cascade-wave (measured ~100 waves on
   * the co-occurrence fixture), and each round is ONE join + ONE
   * windowed aggregate keyed on the node: the Pregel-superstep shape
   * that holds at any scale.
   *
   * Convergence detection is one cheap aggregate: values are monotone
   * non-increasing per node, so Σc strictly decreases until the
   * fixpoint — a stable sum IS the proof. `maxIters` bounds the loop
   * loudly (propagation radius can reach O(n) on path-like graphs).
   */
  def corenessHIndex(edges: DataFrame, srcCol: String, dstCol: String,
                     maxIters: Int = 100): DataFrame =
    corenessHIndexWithRounds(edges, srcCol, dstCol, maxIters)._1

  /** [[corenessHIndex]] plus the number of h-operator rounds applied
    * before the sum stabilized — the figure an unrolled external replay
    * (the oracle) needs; extra rounds are no-ops at the fixpoint. */
  private[graft] def corenessHIndexWithRounds(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 100): (DataFrame, Int) = {
    require(maxIters >= 1, s"corenessHIndex: maxIters must be >= 1")
    val sym = symmetrize(canonicalEdges(edges, srcCol, dstCol), "a", "b")
      .localCheckpoint(true)
    var c = sym.groupBy(col("s").as("node")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    var prevSum = -1L
    var rounds = 0
    var done = false
    while (!done) {
      // single job: materializes the lazily-checkpointed c and probes it
      val sum = c.agg(coalesce(org.apache.spark.sql.functions.sum(col("c")), lit(0L)))
        .head().getLong(0)
      if (sum == prevSum) done = true
      else {
        require(rounds < maxIters,
          s"corenessHIndex: no fixpoint after $maxIters rounds — the " +
            "value-propagation radius exceeds the budget (path-like " +
            "graphs propagate one hop per round); raise maxIters or use " +
            "the peel form [[coreness]]")
        prevSum = sum
        val nbr = sym.join(c.select(col("node").as("t"), col("c").as("cv")), "t")
          .select(col("s"), col("cv"))
        val byS = org.apache.spark.sql.expressions.Window
          .partitionBy("s").orderBy(col("cv").desc)
        c = nbr.withColumn("rn", row_number().over(byS).cast("long"))
          .groupBy(col("s").as("node"))
          .agg(max(least(col("rn"), col("cv"))).as("c"))
          .localCheckpoint(false)
        rounds += 1
      }
    }
    // the last round was the stable confirm — it applied the operator to
    // an already-converged state
    (c.select(col("node"), col("c").as("coreness")), rounds)
  }

  /** Enforce a per-group membership bound on a (g, i) frame: any group
    * larger than `maxGroupSize` fails the job at run time with a
    * message naming the group. */
  private[pipeline] def guardGroupSize(m: DataFrame, maxGroupSize: Long,
                                       op: String): DataFrame = {
    require(maxGroupSize >= 1, s"$op: maxGroupSize must be >= 1")
    val byG = org.apache.spark.sql.expressions.Window.partitionBy("g")
    m.withColumn("__gs", count(lit(1)).over(byG))
      .filter(assert_true(col("__gs") <= maxGroupSize,
        concat(lit(s"$op group "), col("g"), lit(" holds "), col("__gs"),
          lit(s" items > maxGroupSize=$maxGroupSize: the pair explosion " +
            "is quadratic per group — cap or filter pathological groups " +
            "upstream"))).isNull)
      .drop("__gs")
  }

  /**
   * Per-node triangle participation counts over a distinct (a, b), a < b
   * undirected edge list: two self-joins enumerate each triangle exactly
   * once as a < b < c (wedge a–b–c closed by edge a–c), then each corner
   * credits its node. Returns (node, n_triangles) for nodes in ≥ 1
   * triangle.
   *
   * Scale shape: wedge volume is Σ_b deg(b)² on the join key, so the
   * id-ordering here is the oracle-replayable form for roughly uniform
   * graphs; [[triangleCountsByDegree]] is the skew-safe default for
   * real (power-law) degree distributions — same answer, wedge volume
   * bounded by the degree orientation.
   */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /**
   * Skew-safe triangle participation counts: the compact-forward
   * orientation (Schank–Wagner / Cohen's MapReduce form). Each
   * undirected edge re-orients from its LOWER-(degree, id) endpoint to
   * its higher one before the same two-self-join wedge enumeration as
   * [[triangleCounts]]. Every wedge now pivots at a node whose
   * out-degree in the oriented graph is O(√|E|) — a hub of degree d no
   * longer contributes d² wedges, because almost all of its edges point
   * INTO it (its neighbors have lower degree). Wedge volume drops from
   * Σ deg(b)² (quadratic in the hub) to O(|E|^1.5) worst-case — the
   * difference between "one key gets the square of the hub" and a
   * balanced shuffle on a power-law graph.
   *
   * Same answer as the id-oriented form (each triangle is still
   * enumerated exactly once — the orientation is acyclic, so every
   * triangle has exactly one source-of-two node); [[triangleCounts]]
   * remains the oracle-replayable twin. Cost of the safety: one degree
   * aggregation plus two broadcast-or-shuffle joins to attach endpoint
   * degrees before orienting.
   */
  def triangleCountsByDegree(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val deg = degrees(e, "a", "b").withColumnRenamed("degree", "__deg")
    // orient each edge lower (deg, id) → higher: a total order, so the
    // oriented graph is acyclic and every triangle keeps exactly one
    // node with two outgoing edges (the wedge pivot)
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("__deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("__deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // each oriented edge carries its HEAD's degree so wedges can
    // canonicalize their closing lookup without another degree join
    // oriented feeds THREE plan references (both wedge sides + the
    // closing-edge lookup) — left lazy, each re-derived the degree
    // aggregation + both degree joins from the raw edge input (30 scans
    // in q_triangles_skew's executed plan, scan_baseline r13). Edge-sized
    // → spillable persist (r14).
    val oriented = graft.plans.CacheScope.persistTracked(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("s"),
      when(aFirst, col("b")).otherwise(col("a")).as("t"),
      when(aFirst, col("db")).otherwise(col("da")).as("dt")))
    // wedge s→u, s→v (dedup via the (deg, id) order on the heads): the
    // closing edge between u and v — the orientation being total —
    // runs from the lower-(deg, id) head to the higher, so ordering the
    // wedge heads the same way turns the closing lookup into a pure
    // equi-join (an OR of directions would plan as a nested loop)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") &&
          (col("e1.dt") < col("e2.dt") ||
            (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t"))))
      .select(col("e1.s").as("x"), col("e1.t").as("lo"), col("e2.t").as("hi"))
      .join(oriented.select(col("s").as("lo"), col("t").as("hi")),
        Seq("lo", "hi"))
      .select(col("x"), col("lo").as("y"), col("hi").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
