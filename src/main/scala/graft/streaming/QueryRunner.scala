package graft.streaming

import graft.agg._
import graft.compile.{ExprCompiler, QueryCompiler}
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** Processing-time clock, injectable for tests (the reference drives all
  * timing off processing-time ticks — SURVEY §2.8). */
trait Clock { def now(): Long }
object SystemClock extends Clock { def now(): Long = System.currentTimeMillis() }
final class ManualClock(start: Long = 0L) extends Clock {
  private var t = start
  def now(): Long = t
  def advance(ms: Long): Unit = t += ms
}

/**
 * The streaming multi-query runner — the engine's core component (SURVEY §3):
 * N forward-looking queries evaluated over ONE shared pass per micro-batch.
 *
 * Execution shape, re-expressed Spark-first from the reference's
 * FilterBolt/JoinBolt split:
 *
 *  - **Shared pass** (= FilterBolt partials): all active non-grouped queries
 *    compile into conditional aggregate expressions over one `df.agg(...)` —
 *    each query's filter becomes `when(pred, input)` gating its aggregator
 *    input, so a 100-query workload costs ONE scan of the batch, not 100
 *    jobs. Sketch aggregations emit their partial as serialized bytes
 *    (the native [[graft.agg.SketchPartial]] aggregate, which also
 *    collects RAW records), exactly the reference's `byte[]` DATA_STREAM
 *    tuples (FilterBolt.java:187-199). Spark's partial/final agg split runs inside
 *    the batch; GROUP BY key-sets each add one grouped job over the same
 *    (cached) batch.
 *  - **Driver combine** (= JoinBolt): [[AggState]] merges per-batch partials
 *    across batches (`Querier.combine`, JoinBolt.java:154-155), owns window
 *    emission + reset (JoinBolt.java:252-259), duration expiry
 *    (JoinBolt.java:214-233), rate-limit kills (JoinBolt.java:199-208),
 *    duplicate suppression (FilterBolt.java:117-124), and error Clips
 *    (JoinBolt.java:297-308). Driver state is O(queries × sketch), never
 *    O(data).
 *
 * Failure contract. Each micro-batch builds ONE ordered job list — the
 * shared pass, then equality-partitioned, range-partitioned and fused
 * GROUP BY jobs — and runs it in two phases. COLLECT: every job, and every
 * driver-side fold over its rows (equality routing, range prefix/suffix
 * folds, the grouped cap check), finishes before any query state changes.
 * A job that throws, or whose fused grouped rows hit the union cap, is
 * re-collected one query at a time: a deterministic error FAILs that one
 * query; a transient one (executor loss, fetch failure) is retried once,
 * then rethrows so the stream replays the batch — up to
 * [[QueryRunner.MaxTransientStrikes]] replays, after which the query
 * FAILs. APPLY: the merges run in list order, and one that throws FAILs
 * its query alone. So a replayed batch never merges twice.
 *
 * At 100 TB/1000 executors: the batch scan distributes; only O(bytes-per-
 * sketch × queries) crosses to the driver per batch. Queries prune from the
 * plan the batch after they complete (early termination, FilterBolt.java:
 * 160-163).
 *
 * Window semantics: processing-time, micro-batch granularity. RECORD
 * windows emit when ≥ `emitEvery` matched records have accumulated (the
 * reference's per-record emission coalesces to per-batch — documented
 * deviation, SURVEY §7.3); TIME windows emit when the wall/manual clock
 * passes the boundary, aligned to the registration instant; `include ALL`
 * (additive) skips the reset.
 */
final class QueryRunner(spark: SparkSession, clock: Clock = SystemClock,
                        postFinishGraceMs: Long = 0L,
                        rateCheckIntervalMs: Long = 1000L) {

  private final class RQ(val spec: QuerySpec, val registeredAt: Long,
                         val queryString: Option[String] = None) {
    val state: AggState = AggState.forQuery(spec)
    var emitted: Long = 0L          // total records emitted (metrics)
    var emittedSinceRateCheck: Long = 0L // rate-limit window accumulator
    var lastRateCheckAt: Long = registeredAt
    var recordsSinceEmit: Long = 0L // RECORD-window accumulator
    var lastEmitAt: Long = registeredAt
    var windowsEmitted: Long = 0L
    var done: Boolean = false
    /** Set when duration expired but the post-finish grace buffer is still
      * open (the reference's straggler budget, JoinBolt.java:214-233):
      * late partials keep merging until the grace elapses. */
    var finishingSince: Option[Long] = None
    var recordsSeen: Long = 0L // total matched records (metrics surface)
    var batchesSeen: Long = 0L
    /** Consecutive batches whose isolated retry ALSO failed transiently —
      * a genuinely transient fault clears within a batch or two; one that
      * survives [[QueryRunner.MaxTransientStrikes]] replays is
      * deterministic in disguise (e.g. an input that throws IOException
      * on every read) and must FAIL this query instead of crash-looping
      * the whole stream through checkpoint restarts forever. */
    var transientStrikes: Int = 0
    /** Per-batch include gate for `include first M` windows, evaluated
      * ONCE at batch start (so the shared pass and the grouped job see
      * the same decision): while open the batch's partials merge into
      * window state; once the window has its first M (records or ms) the
      * gate closes and later batches only advance the matched counters.
      * Batch-granularity semantics — an included batch that crosses the
      * M boundary contributes whole for sketch/group aggregations (RAW
      * caps exactly at M via its state cap) — the same coalescing
      * deviation as the per-record sliding window (SURVEY §7.3). */
    var includeOpen: Boolean = true
    /** Filter latency (reference bullet_filter_latency): wall ms from
      * batch-processing start to this query's partial merging into
      * state, last batch + running total (avg = total / batches_seen). */
    var filterLatencyMsLast: Long = 0L
    var filterLatencyMsTotal: Long = 0L
    def isGrouped: Boolean = spec.aggregation.isInstanceOf[GroupBy]
    /** Cached eq-partition tuple — pure function of the immutable spec,
      * but consulted several times per batch per query (partitioner
      * routing, type alignment, group lookup); computing it once matters
      * at thousands of registered queries. */
    lazy val eqKeys: Option[Seq[(String, Any)]] = computeEqPartitionKeys(spec)
  }

  /** How many jobs of each kind the LAST batch ran — a test observable
    * (the equality, range and grouped jobs are result-identical to the
    * generic path by design, so only a structural probe can prove they
    * engaged). */
  private[graft] var lastBatchJobs: Map[QueryRunner.JobKind.Value, Int] = Map.empty

  /** Set at [[processBatch]] entry; read by [[mergePartial]] for the
    * per-batch filter-latency gauge. Guarded by the runner lock. */
  private var batchStartNanos: Long = System.nanoTime()

  private val queries = mutable.LinkedHashMap.empty[String, RQ]
  private val emissions = mutable.ArrayBuffer.empty[Clip]
  private val sinks = mutable.ArrayBuffer.empty[Clip => Unit]
  var duplicatesSuppressed: Long = 0L

  /** Configurable Meta concept → emitted key names, the reference's
    * `bullet.result.metadata.metrics` mapping (JoinBoltTest.java:524-616):
    * when QUERY_METADATA is mapped, every result clip nests the other
    * mapped concepts under its key. Unknown concept names are ignored
    * (testUnknownConceptMetadata). */
  @volatile private var metaConcepts: Map[String, String] = Map.empty
  def configureMeta(concepts: Map[String, String]): Unit = metaConcepts = concepts

  object Concepts {
    val QueryMetadata = "QUERY_METADATA"
    val QueryId = "QUERY_ID"
    val QueryObject = "QUERY_OBJECT"
    val QueryString = "QUERY_STRING"
    val QueryReceiveTime = "QUERY_RECEIVE_TIME"
    val QueryFinishTime = "QUERY_FINISH_TIME"
  }

  private def conceptMeta(rq: RQ, finishTime: Option[Long]): Map[String, Any] =
    metaConcepts.get(Concepts.QueryMetadata) match {
      case None => Map.empty
      case Some(envelopeKey) =>
        val inner = mutable.LinkedHashMap.empty[String, Any]
        metaConcepts.get(Concepts.QueryId).foreach(k => inner += k -> rq.spec.id)
        metaConcepts.get(Concepts.QueryObject)
          .foreach(k => inner += k -> QueryJson.render(rq.spec))
        metaConcepts.get(Concepts.QueryString)
          .foreach(k => rq.queryString.foreach(s => inner += k -> s))
        metaConcepts.get(Concepts.QueryReceiveTime)
          .foreach(k => inner += k -> rq.registeredAt)
        finishTime.foreach(t =>
          metaConcepts.get(Concepts.QueryFinishTime).foreach(k => inner += k -> t))
        Map(envelopeKey -> inner.toMap)
    }

  def activeQueryIds: Seq[String] = synchronized(queries.keys.toSeq)
  def results: Seq[Clip] = synchronized(emissions.toSeq)

  /** Result sink (reference ResultBolt, ResultBolt.java:38-43): every Clip
    * the engine emits — window results, finals, errors — flows to each
    * registered callback (publish to Kafka/REST/file from here). */
  def onResult(cb: Clip => Unit): Unit = sinks += cb

  /** Count of sink callbacks that threw (results are still recorded in
    * [[results]] and delivered to the remaining sinks — one failing sink
    * must not lose COMPLETE clips of already-deregistered queries or abort
    * the micro-batch for every other query). */
  var sinkErrors: Long = 0L

  private def record(c: Clip): Clip = {
    emissions += c
    sinks.foreach { s =>
      try s(c) catch { case scala.util.control.NonFatal(_) => sinkErrors += 1 }
    }
    c
  }

  // -------------------------------------------------------------------------
  // Registration / control plane
  // -------------------------------------------------------------------------

  /** Register a query. Invalid specs produce an error Clip with FAIL
    * (JoinBolt.java:297-308); duplicate ids are suppressed and counted
    * (FilterBolt.java:117-124). Returns the FAIL clip if rejected.
    * `queryString` is the original query text (BQL or control JSON) echoed
    * back through the QUERY_STRING Meta concept when configured. */
  def register(spec: QuerySpec, queryString: Option[String] = None): Option[Clip] = synchronized {
    if (queries.contains(spec.id)) { duplicatesSuppressed += 1; return None }
    val errors = validate(spec)
    if (errors.nonEmpty) {
      Some(record(Clip(spec.id, baseMeta(spec.id, clock.now()) ++
        Map("signal" -> Signal.FAIL.toString, "errors" -> errors), Seq.empty)))
    } else {
      queries += spec.id -> new RQ(spec, clock.now(), queryString)
      persistRegistry()
      None
    }
  }

  /** External KILL signal: remove the query everywhere, emit a KILL clip. */
  def kill(id: String): Option[Clip] = synchronized(queries.remove(id).map { rq =>
    persistRegistry()
    record(Clip(id, baseMeta(id, rq.registeredAt) ++
      Map("signal" -> Signal.KILL.toString, "finish_time" -> clock.now()), Seq.empty))
  })

  /** Control-plane entry: queries and signals as JSON data (the reference's
    * PubSub query channel, QuerySpout.java:113-148). Malformed messages
    * produce an error Clip instead of failing silently. */
  def handleMessage(json: String): Option[Clip] = synchronized {
    try {
      QueryJson.parseMessage(json) match {
        case RegisterQuery(spec, qs) => register(spec, qs)
        case KillQuery(id)           => kill(id)
      }
    } catch {
      // a failed BQL parse knows its submitted id — attribute the error
      // clip so a subscriber watching that id learns registration failed
      case e: graft.streaming.BqlParseException =>
        Some(record(Clip(e.queryId, Map(
          "query_id" -> e.queryId,
          "signal" -> Signal.FAIL.toString,
          "errors" -> Seq(e.getMessage)), Seq.empty)))
      case e: Exception =>
        Some(record(Clip("unknown", Map(
          "query_id" -> "unknown",
          "signal" -> Signal.FAIL.toString,
          "errors" -> Seq(s"malformed control message: ${e.getMessage}")), Seq.empty)))
    }
  }

  /** Attach the control plane to a streaming source of JSON messages. */
  def runControlStream(control: org.apache.spark.sql.Dataset[String],
                       triggerMs: Long = 200L): org.apache.spark.sql.streaming.StreamingQuery =
    control.writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[String], _: Long) => {
        b.collect().foreach(handleMessage); ()
      })
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
      .start()

  /** Registry snapshot as JSON lines — the reference's query-replay storage
    * (ReplayBolt/StorageManager) collapses to this in Spark: persist the
    * lines next to the checkpoint; on restart [[restoreRegistry]] re-arms
    * the queries and aggregation state rebuilds from the stream. */
  def snapshotRegistry(): Seq[String] =
    synchronized(queries.values.map(rq => QueryJson.render(rq.spec)).toSeq)

  def restoreRegistry(lines: Seq[String]): Unit =
    lines.foreach(l => register(QueryJson.parse(l)))

  // ---- durable registry (ReplayBolt.java:111-143 analog) ------------------
  // When enabled (runStream wires it under `<checkpoint>/graft-registry`),
  // every registry change rewrites one small JSON-lines file (tmp + rename):
  // `{"registeredAt": t, "query": {...}}` per active query. On restart the
  // queries re-arm with their ORIGINAL registration time, so remaining
  // duration is honored; aggregation state rebuilds from the stream (the
  // reference replays queries, not partials, on worker loss). All I/O goes
  // through the Hadoop FileSystem API so the registry lives WHEREVER the
  // checkpoint lives — hdfs://, s3a://, or local — not a driver-local path
  // that vanishes when the driver moves nodes.

  private var registryFs: Option[(org.apache.hadoop.fs.FileSystem,
                                  org.apache.hadoop.fs.Path)] = None

  /** Enable persistence under `dir` (any Hadoop-resolvable URI): restore
    * any previous registry first, then keep the file in sync with every
    * register/kill/finish. */
  def enableRegistryPersistence(dir: String): Unit = synchronized {
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(hPath)
    registryFs = None // restore without re-persisting per line
    val f = new org.apache.hadoop.fs.Path(hPath, "registry.jsonl")
    if (fs.exists(f)) {
      val in = fs.open(f)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      content.split('\n').foreach { line =>
        if (line.nonEmpty) {
          val n = mapper.readTree(line)
          val spec = QueryJson.parseSpec(n.get("query"))
          val qs = Option(n.get("queryString")).filterNot(_.isNull).map(_.asText())
          if (!queries.contains(spec.id))
            queries += spec.id -> new RQ(spec, n.get("registeredAt").asLong(), qs)
        }
      }
    }
    registryFs = Some((fs, hPath))
    persistRegistry()
  }

  private def persistRegistry(): Unit = registryFs.foreach { case (fs, dir) =>
    val lines = queries.values.map { rq =>
      val qs = rq.queryString
        .map(s => s""""queryString":${Json.render(s)},""").getOrElse("")
      s"""{"registeredAt":${rq.registeredAt},$qs"query":${QueryJson.render(rq.spec)}}"""
    }.mkString("", "\n", "\n")
    val tmp = new org.apache.hadoop.fs.Path(dir, "registry.jsonl.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.getBytes("UTF-8")) finally out.close()
    val dest = new org.apache.hadoop.fs.Path(dir, "registry.jsonl")
    if (fs.exists(dest)) fs.delete(dest, false)
    fs.rename(tmp, dest)
  }

  def validate(spec: QuerySpec): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (spec.id == null || spec.id.isEmpty) errs += "query id must be non-empty"
    if (spec.durationMs <= 0) errs += "durationMs must be positive"
    // EXPLODE is a row generator: fine in the batch compiler, but the
    // streaming RAW collector packs the projection into one struct per
    // record, and generators are invalid inside a filter predicate in any
    // engine — reject loudly at register instead of failing at plan time
    // (a plan-time AnalysisException inside the shared pass would abort
    // the micro-batch for every co-registered query).
    def hasExplode(e: Expr): Boolean = subExprs(e).exists(_.isInstanceOf[Explode])
    // a degenerate n-ary with no operands has no value; the compiler's
    // reduce would throw at batch time — reject at register instead
    def hasEmptyNAry(e: Expr): Boolean =
      subExprs(e).exists { case NAry(_, xs) => xs.isEmpty; case _ => false }
    if (spec.filter.exists(hasEmptyNAry) ||
        spec.projection.exists(_.exists(p => hasEmptyNAry(p._2))))
      errs += "n-ary expression with no operands"
    if (spec.projection.exists(_.exists(p => hasExplode(p._2))))
      errs += "EXPLODE projections are not supported on the streaming path"
    if (spec.filter.exists(hasExplode))
      errs += "EXPLODE is not valid inside a filter"
    // post-aggregation expressions run in PostAggEval at emit time — an
    // unsupported op must FAIL at register, not throw inside lifecycle()
    // and kill the whole stream
    def unsupportedPost(e: Expr): Boolean = subExprs(e).exists {
      case Explode(_) | NAry(NAryOp.UNIX_TIMESTAMP, _) => true
      case _                                           => false
    }
    val postExprs = spec.postAggregations.flatMap {
      case Having(e)       => Seq(e)
      case Computation(fs) => fs.map(_._2)
      case _               => Nil
    }
    if (postExprs.exists(unsupportedPost))
      errs += "EXPLODE/UNIX_TIMESTAMP are not supported in streaming post-aggregations"
    spec.aggregation match {
      case Raw(s) if s <= 0 => errs += "RAW size must be positive"
      case GroupAll(ops) => errs ++= opErrors(ops)
      case GroupBy(f, ops, e) =>
        if (f.isEmpty) errs += "GROUP BY needs at least one field"
        if (e <= 0) errs += "GROUP BY entries cap must be positive"
        errs ++= opErrors(ops)
      case CountDistinct(f, _, _) if f.isEmpty => errs += "COUNT_DISTINCT needs fields"
      case d: Distribution =>
        if (d.points.isEmpty && !d.numPoints.exists(_ >= 1))
          errs += "DISTRIBUTION needs explicit points or numPoints >= 1"
        if (d.numPoints.exists(_ > 10000) || d.points.size > 10000)
          errs += "DISTRIBUTION points are capped at 10000"
        // QUANTILE points are normalized ranks; the sketch throws outside
        // [0,1] at emit time — reject at registration instead
        if (d.dtype == DistributionType.QUANTILE &&
            d.points.exists(v => v < 0.0 || v > 1.0))
          errs += "QUANTILE points must be ranks in [0, 1]"
      case TopK(f, k, _, _, _) =>
        if (f.isEmpty) errs += "TOP_K needs fields"
        if (k <= 0) errs += "TOP_K k must be positive"
      case _ =>
    }
    spec.window.foreach { w =>
      if (w.emitEvery <= 0) errs += "window emitEvery must be positive"
      // `every N include first M` (M < N): supported for EVERY aggregation
      // type when the include unit matches the emit unit — the window
      // absorbs its first M records/ms and emits at the N boundary
      // (per-batch gate in processBatch; RAW additionally caps exactly at
      // M via its state cap). Mixed units (TIME emit with RECORD include
      // or vice versa) are outside the reference Window surface
      // (bullet-core restricts include to the emit unit or ALL) — reject
      // loudly rather than guess semantics. M > N would make the include
      // cap unreachable before the reset — also rejected.
      val additive = w.includeUnit == WindowUnit.ALL
      if (!additive && w.includeFirst > 0) {
        if (w.includeUnit != w.emitUnit)
          errs += "window include unit must match the emit unit (or be ALL)"
        else if (w.includeFirst > w.emitEvery)
          errs += "window include-first must be <= emit-every"
      }
    }
    errs.toSeq
  }

  /** `e` and every expression nested in it, pre-order. */
  private def subExprs(e: Expr): Iterator[Expr] = Iterator.single(e) ++ (e match {
    case Unary(_, x)     => subExprs(x)
    case Binary(l, r, _) => subExprs(l) ++ subExprs(r)
    case NAry(_, xs)     => xs.iterator.flatMap(subExprs)
    case Cast(x, _)      => subExprs(x)
    case ListExpr(xs)    => xs.iterator.flatMap(subExprs)
    case ElementAt(x, _) => subExprs(x)
    case Explode(x)      => subExprs(x)
    case _               => Iterator.empty
  })

  private def opErrors(ops: Seq[GroupOp]): Seq[String] = {
    val needField = ops.filter(o => o.op != GroupOpType.COUNT && o.field.isEmpty)
    (if (ops.isEmpty) Seq("GROUP needs at least one operation") else Nil) ++
      needField.map(o => s"${o.op} '${o.name}' needs a field")
  }

  // -------------------------------------------------------------------------
  // Micro-batch processing
  // -------------------------------------------------------------------------

  /** Equality-partitioner keys (reference SimpleEqualityPartitioner takes a
    * FIELD LIST, SURVEY §4): a query whose whole filter is a conjunction of
    * `field == literal` terms over distinct fields is a candidate for
    * value-partitioned evaluation. Fields are sorted so `a==1 AND b==2`
    * and `b==2 AND a==1` share a partitioning signature. */
  private def computeEqPartitionKeys(spec: QuerySpec): Option[Seq[(String, Any)]] = {
    def flat(e: Expr): Option[Seq[(String, Any)]] = e match {
      case Binary(Field(f, None), Lit(v), BinOp.EQUALS) if v != null => Some(Seq(f -> v))
      case Binary(l, r, BinOp.AND) =>
        for { a <- flat(l); b <- flat(r) } yield a ++ b
      case NAry(NAryOp.AND, xs) =>
        xs.foldLeft(Option(Seq.empty[(String, Any)])) { (acc, x) =>
          for { a <- acc; b <- flat(x) } yield a ++ b
        }
      case _ => None
    }
    spec.filter.flatMap(flat).flatMap { kvs =>
      val sorted = kvs.sortBy(_._1)
      // a repeated field (`a==1 AND a==2`) has no single partition value;
      // an empty conjunction (degenerate AND with no operands) has no
      // partition fields at all
      if (sorted.nonEmpty && sorted.map(_._1).distinct.size == sorted.size)
        Some(sorted)
      else None
    }
  }

  /** One Spark job of a micro-batch: its member queries and its kind's
    * `collect`, which runs the job AND every driver-side fold over the
    * collected rows, then returns one merge per member, in member order —
    * or None when the rows cannot be trusted (a fused grouped job hit its
    * union cap). `collect` serves any member subset: the per-query
    * fallback is `collect(Seq(rq), df)`. A merge only mutates its query's
    * state; it never touches the cluster. */
  private final class Job(val kind: QueryRunner.JobKind.Value, val rqs: Seq[RQ],
                          val collect: (Seq[RQ], DataFrame) => Option[Seq[() => Unit]])

  /** Process one micro-batch: shared partial pass + driver combine + window
    * and lifecycle evaluation. Returns the Clips emitted for this batch. */
  def processBatch(batch: DataFrame): Seq[Clip] = synchronized {
    // per-batch record-latency gauge anchor (reference
    // bullet_filter_latency, FilterBolt.java:201-207): every query whose
    // partials merge from this batch records now → merge-complete as the
    // batch's filter latency. Wall clock, not the injected tick clock —
    // latency is a real-time observable even under ManualClock tests.
    batchStartNanos = System.nanoTime()
    val active = queries.values.filter(!_.done).toSeq
    active.foreach(rq => rq.includeOpen = includeOpenNow(rq))
    val grouped = active.filter(_.isGrouped)
    // Candidate-set pruning — the full query-partitioner analog: ≥2
    // non-grouped, non-RAW queries whose filters are conjunctions of
    // `field == value` over the SAME field list share ONE
    // groupBy(fields) job; per-record cost is a single hash probe
    // regardless of the number of such queries (the reference routes
    // records to only the queries whose partition tuple matches —
    // SimpleEqualityPartitioner over a field list). RAW stays on the
    // generic path (per-query collect caps).
    // The literal's type must align with the column's: the driver-side
    // group lookup compares natively, and a string literal against a
    // numeric column (which compiled predicates coerce) would silently
    // match nothing — such queries stay on the generic compiled path.
    def eqTypeAligned(rq: RQ): Boolean = rq.eqKeys.exists(_.forall { case (f, v) =>
      // normValue collapses whole numbers to Long through a Double image,
      // which is lossy past 2^53 — two distinct Longs could collide on one
      // group row. Such literals take the generic compiled path instead.
      val preciseMagnitude = v match {
        case n: Number => math.abs(n.doubleValue) < 9.007199254740992e15 // 2^53
        case _         => true
      }
      preciseMagnitude && batch.schema.find(_.name == f).exists { sf =>
        (sf.dataType, v) match {
          case (org.apache.spark.sql.types.StringType, _: String)  => true
          case (org.apache.spark.sql.types.BooleanType, _: Boolean) => true
          case (_: org.apache.spark.sql.types.NumericType,
                _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) => true
          case _ => false
        }
      }
    })
    val eqByField = active
      .filter(rq => !rq.isGrouped && !rq.spec.aggregation.isInstanceOf[Raw] &&
        eqTypeAligned(rq))
      .groupBy(rq => rq.eqKeys.get.map(_._1))
      .filter(_._2.size >= 2)
    val eqSet = eqByField.values.flatten.toSet
    // RANGE partitioner (the equality partitioner generalized, r14): ≥2
    // ungrouped GROUP(all) queries whose whole filter is `field op
    // numeric-literal` (op ∈ >, >=, <, <=) over the SAME numeric field
    // share ONE bucketed groupBy job — per-record cost is a single
    // binary search over the group's distinct thresholds, and every
    // query reads its answer from driver-side prefix/suffix folds of
    // ≤ 2·thresholds+1 bucket rows (see collectRangePartitioned).
    val rangeByField = active
      .filter(rq => !rq.isGrouped && !eqSet.contains(rq) &&
        rangeKeyOf(rq, batch.schema).isDefined)
      .groupBy(rq => rangeKeyOf(rq, batch.schema).get._1)
      .filter(_._2.size >= 2)
    val rangeSet = rangeByField.values.flatten.toSet
    // grouped queries stay in the shared pass for their UNGROUPED matched
    // counts (partialColumns emits only the count column for GroupBy)
    val simple = active.filterNot(rq => eqSet.contains(rq) || rangeSet.contains(rq))
    // GROUP BY fusion: queries with the same (key fields, projection)
    // share one grouped job regardless of filter — each query's metric
    // columns are gated by its OWN predicate inside the shared aggregate
    // (same conditional-aggregation trick as the ungrouped shared pass),
    // and a per-query matched count tells the driver which groups exist
    // for which query. N same-key queries = ONE scan + ONE shuffle, where
    // filter-partitioned jobs paid N scans. Distinct key sets still need
    // their own job (different keys can't share a grouping).
    val groupedSigs = grouped.groupBy(rq =>
      (rq.spec.aggregation.asInstanceOf[GroupBy].fields, rq.spec.projection))
      .values.map(_.toSeq).toSeq
    import QueryRunner.JobKind._
    val jobs: Seq[Job] =
      (if (simple.isEmpty) Nil else Seq(new Job(Shared, simple, collectShared))) ++
        eqByField.toSeq.map { case (f, rqs) => new Job(Equality, rqs.toSeq, collectEqPartitioned(f)) } ++
        rangeByField.toSeq.map { case (f, rqs) => new Job(Range, rqs.toSeq, collectRangePartitioned(f)) } ++
        groupedSigs.map(new Job(Grouped, _, collectGrouped))
    lastBatchJobs = jobs.groupBy(_.kind).map { case (k, js) => k -> js.size }
    val needsCache = jobs.size > 1
    val df = if (needsCache) batch.persist() else batch
    try {
      // All per-batch Spark jobs launch CONCURRENTLY (the one batch scan is
      // cached; Spark's block manager computes each partition once and the
      // scheduler interleaves the jobs across the cluster), then the merges
      // apply sequentially. Serial job submission would leave the cluster
      // idle between driver combines — at 1000 executors the jobs must
      // overlap.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.util.control.NonFatal
      implicit val ec: scala.concurrent.ExecutionContext = QueryRunner.jobEc

      // ---- Phase 1: COLLECT. Every Spark job and every driver-side fold
      // lands before ANY query state mutates, so a transient cluster fault
      // (executor loss, fetch failure) can rethrow here and the replayed
      // batch can never double-merge a query whose job had already
      // succeeded.
      //
      // Failure isolation: a multi-query job that throws (one bad spec
      // reaching plan/analysis time, e.g. a field the batch lacks in a
      // context validate can't see, or a fold over values its op cannot
      // combine) is re-collected per query so the ONE broken query FAILs
      // while every co-registered query keeps its partials — the
      // reference FAILs the single Querier (JoinBolt.java:297-308); it
      // never aborts the topology. Transient faults get one retry (the
      // cluster may have recovered), then propagate so the stream's own
      // machinery replays the batch — deregistering a long-lived query
      // over a cluster hiccup would be wrong, and crash-looping on a
      // deterministic error would be worse, so only recognizably-transient
      // failures propagate.
      def perQuery(job: Job): Seq[(RQ, Either[Throwable, () => Unit])] =
        job.rqs.map { rq =>
          // a one-query job is always trusted: only a union of several
          // queries' groups can crowd one query's groups out
          def collectOne(): () => Unit = job.collect(Seq(rq), df).get.head
          val out: Either[Throwable, () => Unit] =
            try Right(collectOne()) catch {
              case NonFatal(e) if QueryRunner.isTransientFailure(e) =>
                try Right(collectOne()) catch {
                  case NonFatal(e2) if !QueryRunner.isTransientFailure(e2) => Left(e2)
                  case NonFatal(e2) =>
                    // still transient after the in-batch retry: allow the
                    // stream to replay the batch a bounded number of
                    // times, then treat it as deterministic and FAIL the
                    // one query rather than crash-loop every query.
                    // Strikes reset ONLY when a whole batch completes
                    // (Phase 2), never on a per-job success: a query
                    // rides several jobs (shared pass + its grouped job),
                    // and a success in one must not mask a persistent
                    // failure in another.
                    rq.transientStrikes += 1
                    if (rq.transientStrikes >= QueryRunner.MaxTransientStrikes) Left(e2)
                    else throw e2
                }
              case NonFatal(e) => Left(e)
            }
          rq -> out
        }
      val launched = jobs.map(job => job -> Future(job.collect(job.rqs, df)))
      val outcomes = launched.flatMap { case (job, f) =>
        // Await inside the try; fall back AFTER it. Inside, perQuery's
        // bounded-replay rethrow would be re-caught here and perQuery would
        // run AGAIN in the same batch — double strikes and every member
        // collected twice.
        val direct = try Await.result(f, Duration.Inf) catch { case NonFatal(_) => None }
        direct match {
          case Some(merges) => job.rqs.zip(merges.map(Right(_)))
          case None         => perQuery(job)
        }
      }

      // ---- Phase 2: APPLY. Pure driver-side merges — no cluster
      // involvement, so any throw is deterministic for THIS query (e.g. a
      // partial-column type mismatch): FAIL it alone; every other query's
      // merge stands and nothing ever re-merges.
      //
      // Reaching here means NO collect rethrew: the batch is going to
      // complete, so the transient incident (if any) is over — reset every
      // query's strike counter. Queries whose outcome is Left are FAILed
      // below regardless; a reset cannot save them. Resetting anywhere
      // earlier (e.g. on a per-job success inside perQuery) would let a
      // query's healthy job mask its OTHER job's persistent failure and
      // crash-loop the stream past the strike bound.
      active.foreach(_.transientStrikes = 0)
      outcomes.foreach {
        case (rq, _) if rq.done => // FAILed by an earlier job of this batch
        case (rq, Right(merge)) => try merge() catch { case NonFatal(e) => failQuery(rq, e) }
        case (rq, Left(e))      => failQuery(rq, e)
      }
    } finally {
      if (needsCache) df.unpersist()
    }
    lifecycle()
  }

  /** Spec-class key for per-batch computation sharing: queries with equal
    * (filter, projection, aggregation) — duplicate registrations, the
    * common many-dashboards shape — produce IDENTICAL per-batch partials,
    * so one set of aggregate columns serves every member (each still
    * merges into its OWN cumulative state; only the batch computation is
    * shared). RAW is excluded: its collect column depends on the query's
    * remaining buffer capacity, which is per-query state. */
  private def sharedClassKey(rq: RQ): Option[(Option[Expr], Option[Seq[(String, Expr)]], Aggregation)] =
    rq.spec.aggregation match {
      case _: Raw => None
      case a      => Some((rq.spec.filter, rq.spec.projection, a))
    }

  /** id → representative id (first member in list order). A job computes
    * it once and uses the same map for column building and row reading. */
  private def sharedReps(simple: Seq[RQ]): Map[String, String] = {
    val rep = mutable.HashMap.empty[(Option[Expr], Option[Seq[(String, Expr)]], Aggregation), String]
    simple.map { rq =>
      rq.spec.id -> (sharedClassKey(rq) match {
        case Some(k) => rep.getOrElseUpdate(k, rq.spec.id)
        case None    => rq.spec.id
      })
    }.toMap
  }

  /** One shared ungrouped pass (predicate CSE + spec-class CSE): queries
    * sharing a filter evaluate it ONCE per record, and queries with an
    * IDENTICAL spec class compute ONE set of partial aggregate columns
    * ([[sharedReps]] fan-out at merge time). A 1000-query workload with 7
    * distinct filters and ~40 distinct spec classes evaluates 7
    * predicates and ~40 aggregate-column sets per record, not 1000.
    * GROUP BY queries contribute only their matched-record count here
    * (their grouped state rides the grouped jobs): the count must be
    * computed UNGROUPED — summing over the kept top-`entries` groups
    * would undercount once the key space exceeds the cap, starving
    * RECORD windows and the records_seen metric. */
  private def collectShared(simple: Seq[RQ], df: DataFrame): Option[Seq[() => Unit]] = {
    val schema = df.schema
    val distinctFilters = simple.flatMap(_.spec.filter).distinct
    val predIdx = distinctFilters.zipWithIndex.toMap
    val predCols = distinctFilters.zipWithIndex.map { case (f, i) =>
      ExprCompiler.compile(f, Some(schema)).as(s"__pred$i")
    }
    val withPreds =
      if (predCols.isEmpty) df
      else df.select(col("*") +: predCols: _*)
    def gate(rq: RQ): Column = rq.spec.filter match {
      case Some(f) => col(s"__pred${predIdx(f)}")
      case None    => lit(true)
    }
    val reps = sharedReps(simple)
    val cols = simple.filter(rq => reps(rq.spec.id) == rq.spec.id)
      .flatMap(rq => partialColumns(rq, schema, gate(rq)))
    val row = withPreds.agg(cols.head, cols.tail: _*).collect()(0)
    Some(simple.map(rq => () => mergePartial(rq, row, reps(rq.spec.id))))
  }

  /** Normalize a partition value for driver-side matching between the
    * query's literal and the batch's native column type (a Long literal
    * must meet a Double column group: whole numbers collapse to Long). */
  private def normValue(v: Any): Any = v match {
    case n: Number =>
      val d = n.doubleValue
      if (d.isWhole && math.abs(d) < 9e15) n.longValue else d
    case other => other
  }

  /** The distinct (aggregation, projection) signatures of a fused
    * equality or range job: each signature's partial columns are computed
    * once, under `<prefix><i>`. Returns every member's column prefix and
    * the columns. */
  private def sigColumns(rqs: Seq[RQ], schema: StructType, prefix: String)
      : (Map[String, String], Seq[Column]) = {
    val sigs = rqs.groupBy(rq => (rq.spec.aggregation, rq.spec.projection))
      .values.toSeq.zipWithIndex.map { case (sigRqs, i) => (sigRqs, s"$prefix$i") }
    (sigs.flatMap { case (sigRqs, id) => sigRqs.map(_.spec.id -> id) }.toMap,
      sigs.flatMap { case (sigRqs, id) => partialColumns(sigRqs.head, schema, lit(true), id) })
  }

  /**
   * One job for ALL equality-partitioned queries on `field`: filter to the
   * watched values (InSet — one hash probe per record), groupBy(field), and
   * compute each distinct (aggregation, projection) signature's partial
   * columns ONCE. Each query then reads the value-group row of the value
   * it watches. 1000 COUNT queries on 1000 user ids cost one hash-shuffled
   * count job, not 1000 predicate evaluations per record.
   */
  private def collectEqPartitioned(fields: Seq[String])(rqs: Seq[RQ],
      df: DataFrame): Option[Seq[() => Unit]] = {
    val schema = df.schema
    // Per-field isin over each field's distinct literals keeps the scan
    // filter a conjunction of in-lists the source can push down; for
    // multi-field groups an exact tuple membership test is conjoined on
    // top — without it the per-field lists admit the CROSS PRODUCT of the
    // queried values, and the collect below could return up to Q^F group
    // rows (data permitting) where only Q tuples are ever looked up.
    val byQuery = rqs.map(rq => rq.eqKeys.get.toMap)
    val perField = fields.map { f =>
      col(f).isin(byQuery.map(_(f)).distinct: _*)
    }.reduce(_ && _)
    val filterCond = if (fields.size == 1) perField else {
      val tupleCond = byQuery.distinct
        .map(m => fields.map(f => col(f) === lit(m(f))).reduce(_ && _))
        .reduce(_ || _)
      perField && tupleCond
    }
    val (sigOf, sigCols) = sigColumns(rqs, schema, "__sig")
    val rows = df.filter(filterCond)
      .groupBy(fields.map(col): _*)
      .agg(sigCols.head, sigCols.tail: _*)
      .collect()
    val byValue = rows.map(r => fields.map(f => normValue(r.getAs[Any](f))) -> r).toMap
    Some(rqs.map { rq =>
      byValue.get(rq.eqKeys.get.map(kv => normValue(kv._2))) match {
        case Some(row) => () => mergePartial(rq, row, sigOf(rq.spec.id))
        case None      => () => rq.batchesSeen += 1 // no matching records this batch
      }
    })
  }

  /** RANGE admission detection — the equality partitioner (SURVEY §4,
    * reference SimpleEqualityPartitioner.java:40-75) generalized to
    * half-line predicates: a query admits iff it is ungrouped
    * GROUP(all) with a single `Field op numeric-literal` filter,
    * op ∈ {>, >=, <, <=}, over a plain numeric column, in a
    * (field type, literal type) combination where bucket comparisons
    * reproduce Spark's own coercion EXACTLY:
    *  - integral column + integral literals → 64-bit compare (exact,
    *    no 2^53 hazard);
    *  - double column + any numeric literal → double compare (Spark
    *    promotes the same way, so any loss is identical on both paths);
    *  - float column + Float/Double literal, or an integral literal
    *    inside float's exact range (|v| ≤ 2^24) → double compare
    *    (float→double is exact and monotone).
    * Integral column + Float literal is REJECTED: Spark compares those
    * as floats (long→float is lossy) and a double-side bucket could
    * disagree near the 2^24 boundary — such queries keep the generic
    * compiled path. */
  private def rangeKeyOf(rq: RQ, schema: StructType)
      : Option[(String, BinOp.Value, Any)] = rq.spec.aggregation match {
    case _: GroupAll => rq.spec.filter match {
      case Some(Binary(Field(f, None), Lit(v), op))
          if op == BinOp.GREATER_THAN || op == BinOp.GREATER_OR_EQUALS ||
             op == BinOp.LESS_THAN || op == BinOp.LESS_OR_EQUALS =>
        import org.apache.spark.sql.types._
        val ft = schema.find(_.name == f).map(_.dataType)
        val integralF = ft.exists {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
        val ok = (ft, v) match {
          case (None, _) => false
          case (Some(DoubleType),
                _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) => true
          case (Some(FloatType), _: Float | _: Double) => true
          case (Some(FloatType), x: Number)
            if (x.isInstanceOf[Byte] || x.isInstanceOf[Short] ||
                x.isInstanceOf[Int] || x.isInstanceOf[Long]) &&
              math.abs(x.longValue) <= (1L << 24) => true
          case (_, _: Byte | _: Short | _: Int | _: Long) if integralF => true
          case _ => false
        }
        if (ok) Some((f, op, v)) else None
      case _ => None
    }
    case _ => None
  }

  /** One bucketed job for a fused same-field threshold group: records
    * bucket by binary search over the group's distinct thresholds
    * ([[graft.functions.RangeBucketL]]/[[graft.functions.RangeBucketD]]
    * — ONE probe per record regardless of query count, where the
    * generic shared pass pays one predicate per query), one
    * groupBy(bucket) computes every distinct (aggregation, projection)
    * signature's partial columns once, and ≤ 2·thresholds+1 tiny rows
    * come back for the driver's prefix/suffix folds, from which each
    * query reads one row. A single-DIRECTION group (all >/>= or all
    * </<=) additionally pushes its covered half-line to the scan as a
    * plain range filter. */
  private def collectRangePartitioned(field: String)(rqs: Seq[RQ],
      df: DataFrame): Option[Seq[() => Unit]] = {
    val schema = df.schema
    import org.apache.spark.sql.types._
    val keys = rqs.map(rq => rq.spec.id -> rangeKeyOf(rq, schema).get).toMap
    val integralField = schema(field).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val longMode = integralField && rqs.forall(rq => keys(rq.spec.id)._3 match {
      case _: Byte | _: Short | _: Int | _: Long => true
      case _ => false
    })
    // predicate → pure bucket-index bound (see RangeBucket's scaladoc):
    //   v >  b_j ⇔ idx ≥ 2j+2     v <  b_j ⇔ idx ≤ 2j
    //   v ≥  b_j ⇔ idx ≥ 2j+1     v ≤  b_j ⇔ idx ≤ 2j+1
    def boundOf(op: BinOp.Value, j: Int): (Boolean, Int) = op match {
      case BinOp.GREATER_THAN      => (true, 2 * j + 2)
      case BinOp.GREATER_OR_EQUALS => (true, 2 * j + 1)
      case BinOp.LESS_THAN         => (false, 2 * j)
      case _                       => (false, 2 * j + 1)
    }
    val (bucketCol, lookups) =
      if (longMode) {
        val bs = rqs.map(rq => keys(rq.spec.id)._3.asInstanceOf[Number].longValue)
          .distinct.sorted
        val at = bs.zipWithIndex.toMap
        (graft.functions.RangeBucketL.col(col(field).cast("long"), bs),
          rqs.map { rq =>
            val (_, op, v) = keys(rq.spec.id)
            rq.spec.id -> boundOf(op, at(v.asInstanceOf[Number].longValue))
          }.toMap)
      } else {
        def norm(d: Double) = if (d == 0d) 0d else d // −0.0 == 0.0 in Spark
        val bs = rqs.map(rq => norm(keys(rq.spec.id)._3.asInstanceOf[Number].doubleValue))
          .distinct.sorted
        val at = bs.zipWithIndex.toMap
        (graft.functions.RangeBucketD.col(col(field).cast("double"), bs),
          rqs.map { rq =>
            val (_, op, v) = keys(rq.spec.id)
            rq.spec.id -> boundOf(op, at(norm(v.asInstanceOf[Number].doubleValue)))
          }.toMap)
      }
    // single-direction groups: push the covered half-line (the loosest
    // threshold, inclusive — a superset of every member's predicate;
    // NaN-correct under Spark's NaN-largest ordering: NaN passes a >=
    // push exactly when the member GT/GE predicates are true for it).
    // The literal is one of the originals, so scan-side coercion is the
    // generic path's own.
    val dirSet = rqs.map(rq => keys(rq.spec.id)._2).toSet
    val lits = rqs.map(rq => keys(rq.spec.id)._3)
    val pre0 = col(field).isNotNull
    val pre =
      if (dirSet.subsetOf(Set(BinOp.GREATER_THAN, BinOp.GREATER_OR_EQUALS)))
        pre0 && col(field) >= lit(lits.minBy(_.asInstanceOf[Number].doubleValue))
      else if (dirSet.subsetOf(Set(BinOp.LESS_THAN, BinOp.LESS_OR_EQUALS)))
        pre0 && col(field) <= lit(lits.maxBy(_.asInstanceOf[Number].doubleValue))
      else pre0
    val (sigOf, sigCols) = sigColumns(rqs, schema, "__rsig")
    val rows = df.filter(pre)
      .groupBy(bucketCol.as("__rbucket"))
      .agg(sigCols.head, sigCols.tail: _*)
      .collect()
    if (rows.isEmpty) return Some(rqs.map(rq => () => rq.batchesSeen += 1))
    val sorted = rows.sortBy(_.getAs[Int]("__rbucket"))
    val idxs = sorted.map(_.getAs[Int]("__rbucket"))
    val rowSchema = sorted.head.schema
    // MetricsAcc's null-safe, Long-preserving combines: folded partials
    // merge into query state exactly as per-bucket mergePartial calls
    // would, without m extra batch counts
    val add = MetricsAcc.combine(GroupOpType.SUM)
    val combine: Map[String, (Any, Any) => Any] =
      rqs.distinctBy(rq => sigOf(rq.spec.id)).flatMap { rq =>
        val id = sigOf(rq.spec.id)
        val ops = rq.spec.aggregation.asInstanceOf[GroupAll].ops
        (n(id) -> add) +: ops.zipWithIndex.flatMap { case (op, j) =>
          (m(id, j) -> MetricsAcc.combine(op.op)) +:
            (if (op.op == GroupOpType.AVG) Seq(c(id, j) -> add) else Nil)
        }
      }.toMap
    val fieldCombine: Array[Option[(Any, Any) => Any]] =
      rowSchema.fieldNames.map(combine.get)
    def foldInto(r: Row, acc: Array[Any]): Unit = {
      var k = 0
      while (k < acc.length) {
        fieldCombine(k) match {
          case Some(f) => acc(k) = f(r.get(k), acc(k))
          case None    => ()
        }
        k += 1
      }
    }
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    val nR = sorted.length
    val suffix = new Array[Row](nR)
    var acc = new Array[Any](rowSchema.length)
    var k = nR - 1
    while (k >= 0) {
      acc = acc.clone(); foldInto(sorted(k), acc)
      suffix(k) = new GenericRowWithSchema(acc, rowSchema)
      k -= 1
    }
    val prefix = new Array[Row](nR)
    acc = new Array[Any](rowSchema.length)
    k = 0
    while (k < nR) {
      acc = acc.clone(); foldInto(sorted(k), acc)
      prefix(k) = new GenericRowWithSchema(acc, rowSchema)
      k += 1
    }
    Some(rqs.map { rq =>
      val (isSuffix, bound) = lookups(rq.spec.id)
      // bucket keys are distinct and sorted: binarySearch gives the
      // exact hit or the insertion point directly
      val hit = java.util.Arrays.binarySearch(idxs, bound)
      val pos =
        if (isSuffix) { if (hit >= 0) hit else -(hit + 1) } // first >= bound
        else { if (hit >= 0) hit else -(hit + 1) - 1 }      // last <= bound
      val rowOpt =
        if (isSuffix) { if (pos < nR) Some(suffix(pos)) else None }
        else { if (pos >= 0) Some(prefix(pos)) else None }
      rowOpt match {
        case Some(r) => () => mergePartial(rq, r, sigOf(rq.spec.id))
        case None    => () => rq.batchesSeen += 1 // no qualifying buckets this batch
      }
    })
  }

  /** FAIL one query whose per-batch job threw even after per-query retry
    * (the reference's single-Querier error clip, JoinBolt.java:297-308):
    * emit the error, deregister, leave every other query untouched. */
  private def failQuery(rq: RQ, e: Throwable): Unit = {
    rq.done = true
    queries.remove(rq.spec.id)
    persistRegistry()
    record(Clip(rq.spec.id, baseMeta(rq.spec.id, rq.registeredAt) ++ Map(
      "signal" -> Signal.FAIL.toString,
      "errors" -> Seq(s"query failed during batch evaluation: " +
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"),
      "finish_time" -> clock.now()), Seq.empty))
  }

  /** Clock-only evaluation (the reference's tick path, FilterBolt.java:
    * 153-158): catches duration expiry and time-window emits with no data. */
  def onTick(): Seq[Clip] = synchronized(lifecycle())

  /** Force-finish every remaining query (end of stream). */
  def finishAll(): Seq[Clip] = synchronized {
    val out = queries.values.map(finish).toSeq
    queries.clear()
    persistRegistry()
    out.foreach(record)
    out
  }

  /** Attach to a streaming DataFrame: one shared pass per micro-batch,
    * plus a driver tick thread (the reference's TickSpout, TickSpout.java:
    * 60-69) so duration expiry and time windows advance even when no data
    * arrives — foreachBatch alone never fires on an idle source. */
  def runStream(stream: DataFrame, checkpoint: Option[String] = None,
                triggerMs: Long = 1000L,
                tickIntervalMs: Long = 100L): org.apache.spark.sql.streaming.StreamingQuery = {
    // the registry survives restarts alongside the stream's own checkpoint:
    // re-arm persisted queries BEFORE the first batch
    checkpoint.foreach(c => enableRegistryPersistence(s"$c/graft-registry"))
    val w = stream.writeStream
      .foreachBatch((b: DataFrame, _: Long) => { processBatch(b); () })
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    val sq = w.start()
    val ticker = new Thread(() => {
      try {
        while (sq.isActive) {
          try onTick() catch { case _: Exception => () }
          Thread.sleep(tickIntervalMs)
        }
      } catch { case _: InterruptedException => () }
    }, "graft-tick")
    ticker.setDaemon(true)
    ticker.start()
    sq
  }

  /** The FLAGGED scale-out backend for this runner's registered RAW
    * queries ([[RawTws]]): per-query take-n state lives in RocksDB-backed
    * `transformWithState` ValueState on the executors and taken records
    * flow straight to `outPath/batch=<id>` — never through driver
    * memory. Choose it over [[runStream]]'s driver-held [[RawState]]
    * when queries × cap outgrows the driver (pipeline-sized takes);
    * the default path remains right for the reference's interactive
    * sizes. Record rendering and caps are shared with the driver path
    * (parity pinned by QueryRunnerSpec); non-RAW queries are not served
    * by this drive — run them through [[runStream]]. */
  def runStreamRawTws(stream: DataFrame, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val rawSpecs = synchronized(queries.values.map(_.spec)
      .filter(_.aggregation.isInstanceOf[Raw]).toSeq)
    RawTws.drive(stream, rawSpecs, outPath, checkpoint)
  }

  // -------------------------------------------------------------------------
  // Shared-pass plan construction (FilterBolt partials)
  // -------------------------------------------------------------------------

  private def pred(rq: RQ, schema: StructType): Column =
    rq.spec.filter.map(f => ExprCompiler.compile(f, Some(schema))).getOrElse(lit(true))

  /** Field reference as the aggregation sees it: through the projection when
    * one exists (filter→project→aggregate order), else the raw column. */
  private def fieldCol(rq: RQ, name: String, schema: StructType): Column =
    rq.spec.projection match {
      case Some(fields) => fields.find(_._1 == name)
        .map { case (_, e) => ExprCompiler.compile(e, Some(schema)) }
        .getOrElse(lit(null))
      // through ExprCompiler so a field the batch lacks evaluates as a
      // typed null (reference schemaless semantics), not an analysis error
      case None => ExprCompiler.compile(Field(name), Some(schema))
    }

  private def n(id: String) = s"${id}__n"
  private def p(id: String) = s"${id}__p"
  private def m(id: String, i: Int) = s"${id}__m$i"
  private def c(id: String, i: Int) = s"${id}__c$i"

  /** Per-op aggregate columns (shared by GROUP all and GROUP BY jobs). */
  private def opColumns(id: String, ops: Seq[GroupOp], gate: Column,
                        field: String => Column): Seq[Column] =
    ops.zipWithIndex.flatMap { case (op, i) =>
      import GroupOpType._
      op.op match {
        case COUNT =>
          Seq(sum(when(gate, lit(1L))).as(m(id, i)))
        case COUNT_FIELD =>
          Seq(count(when(gate, field(op.field.get))).as(m(id, i)))
        case SUM | MIN | MAX =>
          val f = when(gate, field(op.field.get))
          val agg = op.op match {
            case SUM => sum(f); case MIN => min(f); case MAX => max(f)
            case _ => throw new IllegalStateException
          }
          Seq(agg.as(m(id, i)))
        case AVG =>
          val f = when(gate, field(op.field.get))
          Seq(sum(f).as(m(id, i)), count(f).as(c(id, i)))
      }
    }

  /** Partial-aggregate columns for one query (or one shared signature when
    * `key` overrides the per-query column prefix). */
  private def partialColumns(rq: RQ, schema: StructType, g: Column,
                             key: String = null): Seq[Column] = {
    val id = if (key != null) key else rq.spec.id
    val matched = sum(when(g, lit(1L))).as(n(id))
    val fld: String => Column = f => fieldCol(rq, f, schema)
    val aggCols: Seq[Column] = rq.spec.aggregation match {
      case Raw(_) =>
        val cap = rq.state.asInstanceOf[RawState].remaining
        if (cap <= 0) Seq.empty // full buffer: stop to_json-ing matches
        else {
          val recordStruct = rq.spec.projection match {
            case Some(fields) => struct(fields.map { case (nm, e) =>
              ExprCompiler.compile(e, Some(schema)).as(nm) }: _*)
            case None => struct(schema.fieldNames.map(col).toIndexedSeq: _*)
          }
          Seq(SketchPartial.col(when(g, to_json(recordStruct)),
            SketchPartial.Capped(cap)).as(p(id)))
        }
      case GroupAll(ops) =>
        opColumns(id, ops, g, fld)
      case CountDistinct(fields, _, lgK) =>
        val key = QueryCompiler.compositeKeyOf(fields.map(fld))
        Seq(SketchPartial.col(when(g, key), SketchPartial.Theta(lgK)).as(p(id)))
      case d: Distribution =>
        Seq(SketchPartial.col(when(g, fld(d.field).cast("double")),
          SketchPartial.Kll(d.k)).as(p(id)))
      case TopK(fields, _, _, _, maxMapSize) =>
        val key = QueryCompiler.compositeKeyOf(fields.map(f => fld(f._1)))
        Seq(SketchPartial.col(when(g, key), SketchPartial.FreqItems(maxMapSize)).as(p(id)))
      case _: GroupBy => Seq.empty // handled by collectGrouped/applyGrouped
    }
    matched +: aggCols
  }

  // -------------------------------------------------------------------------
  // Driver combine (JoinBolt)
  // -------------------------------------------------------------------------

  private def longAt(row: Row, name: String): Long = {
    val v = row.getAs[Any](name)
    if (v == null) 0L else v.asInstanceOf[Number].longValue
  }

  /** Per-query engine metrics (reference built-in metrics,
    * bullet_storm_defaults.yaml:31-37): matched records and batches seen,
    * plus the per-batch filter-latency gauge (bullet_filter_latency,
    * FilterBolt.java:201-207) — wall ms from batch start to this query's
    * partials merging, last batch and running total. */
  def queryStats(id: String): Option[Map[String, Long]] =
    synchronized(queries.get(id).map(rq => Map(
      "records_seen" -> rq.recordsSeen,
      "batches_seen" -> rq.batchesSeen,
      "records_emitted" -> rq.emitted,
      "windows_emitted" -> rq.windowsEmitted,
      "filter_latency_ms_last" -> rq.filterLatencyMsLast,
      "filter_latency_ms_total" -> rq.filterLatencyMsTotal)))

  /** Is this query's `include first M` window still absorbing at the
    * start of the current batch? True when no include cap applies
    * (additive, unwindowed, include == every sliding/tumbling). The
    * matched counters advance regardless — RECORD-emit boundaries count
    * every matched record, included in state or not (reference Window:
    * emit and include are independent dimensions). */
  private def includeOpenNow(rq: RQ): Boolean = rq.spec.window match {
    case Some(w) if !w.isAdditive && w.includeFirst > 0 &&
        !(w.includeUnit == w.emitUnit && w.includeFirst == w.emitEvery) =>
      w.includeUnit match {
        case WindowUnit.RECORD => rq.recordsSinceEmit < w.includeFirst
        case WindowUnit.TIME   => clock.now() - rq.lastEmitAt < w.includeFirst
        case _                 => true
      }
    case _ => true
  }

  /** Merge one partial row into `rq`'s state, reading the columns named
    * under `id` (the query's own id, its class representative's, or its
    * fused signature's). */
  private def mergePartial(rq: RQ, row: Row, id: String): Unit = {
    val matched = longAt(row, n(id))
    rq.recordsSinceEmit += matched
    rq.recordsSeen += matched
    rq.batchesSeen += 1
    rq.filterLatencyMsLast = (System.nanoTime() - batchStartNanos) / 1000000L
    rq.filterLatencyMsTotal += rq.filterLatencyMsLast
    if (!rq.includeOpen) return // include-first window already has its M
    rq.spec.aggregation match {
      case Raw(_) =>
        if (row.schema.fieldNames.contains(p(id)))
          rq.state.asInstanceOf[RawState].add(
            row.getAs[scala.collection.Seq[String]](p(id)).toSeq)
      case GroupAll(ops) =>
        mergeOps(rq.state.asInstanceOf[GroupAllState].acc, ops, row, id, matched)
      case _: CountDistinct =>
        val buf = BufSerde.de[ThetaBuf](row.getAs[Array[Byte]](p(id)))
        rq.state.asInstanceOf[CountDistinctState].buf.merge(buf)
      case _: Distribution =>
        val buf = BufSerde.de[KllBuf](row.getAs[Array[Byte]](p(id)))
        rq.state.asInstanceOf[DistributionState].buf.merge(buf)
      case _: TopK =>
        val buf = BufSerde.de[FreqItemsBuf](row.getAs[Array[Byte]](p(id)))
        rq.state.asInstanceOf[TopKState].buf.merge(buf)
      case _: GroupBy => // not in the shared pass
    }
  }

  /** Fold one partial row's metric columns (named under `id`) into `acc`;
    * `matched` is the row's matched-record count. */
  private def mergeOps(acc: MetricsAcc, ops: Seq[GroupOp], row: Row, id: String,
                       matched: Long): Unit =
    ops.zipWithIndex.foreach { case (op, i) =>
      import GroupOpType._
      op.op match {
        case COUNT | COUNT_FIELD => acc.update(i, longAt(row, m(id, i)), null)
        case AVG                 => acc.update(i, longAt(row, c(id, i)), row.getAs[Any](m(id, i)))
        case _                   => acc.update(i, matched, row.getAs[Any](m(id, i)))
      }
    }

  /** One grouped job per GROUP BY signature (same key fields and
    * projection — callers group by that); every fused query's metric
    * aggregators ride a single groupBy over the shared cached batch,
    * gated by the query's OWN filter, with a per-query matched count
    * deciding which groups exist for which query. Duplicate (filter,
    * projection, aggregation) queries share one gate and one aggregate-
    * column set ([[sharedReps]] classes). Batch-local groups cap at the
    * sum of the classes' entries budgets in key order. */
  private def collectGrouped(rqs: Seq[RQ], df: DataFrame): Option[Seq[() => Unit]] = {
    val head = rqs.head
    val spec0 = head.spec.aggregation.asInstanceOf[GroupBy]
    val schema = df.schema
    val fld: String => Column = f => fieldCol(head, f, schema)
    val keyCols = spec0.fields.map { case (f, alias) =>
      coalesce(fld(f).cast("string"), lit(SketchAggregators.NullString)).as(alias)
    }
    val reps = sharedReps(rqs)
    val repRqs = rqs.filter(rq => reps(rq.spec.id) == rq.spec.id)
    val gates = repRqs.map(rq => rq.spec.id -> pred(rq, schema)).toMap
    // rows matching NO fused query never enter the shuffle; with one
    // query this is exactly the old pre-filter
    val filtered = df.filter(repRqs.map(rq => gates(rq.spec.id)).reduce(_ || _))
    val aggCols = repRqs.flatMap { rq =>
      val gate = gates(rq.spec.id)
      opColumns(rq.spec.id, rq.spec.aggregation.asInstanceOf[GroupBy].ops, gate, fld) :+
        sum(when(gate, lit(1L))).as(n(rq.spec.id))
    }
    val entriesCap = QueryRunner.fusedEntriesCap(
      repRqs.map(_.spec.aggregation.asInstanceOf[GroupBy].entries))
    val rows = filtered
      .groupBy(keyCols: _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy(spec0.fields.map { case (_, alias) => col(alias) }: _*)
      .limit(entriesCap)
      .collect()
    // Union cap hit with multiple classes: the kept smallest-keys union
    // can CROWD OUT one query's groups with another's (a query under its
    // own entries cap could lose groups it would have kept from its own
    // job). Rare — the over-cap regime — so the rows are untrusted and
    // each query re-collects alone, with its own filter and entries budget.
    if (repRqs.size > 1 && rows.length >= entriesCap) None
    else Some(rqs.map(rq => () => applyGrouped(rq, rows, reps(rq.spec.id))))
  }

  /** Merge a grouped job's rows into `rq`'s groups, reading the columns
    * named under `id` (its class representative's). */
  private def applyGrouped(rq: RQ, rows: Array[Row], id: String): Unit = {
    // matched-record counters (recordsSinceEmit/recordsSeen/batchesSeen) are
    // NOT derived from these capped rows — they ride the ungrouped shared
    // pass (mergePartial), so they stay exact when distinct groups exceed
    // the entries cap.
    val spec = rq.spec.aggregation.asInstanceOf[GroupBy]
    val st = rq.state.asInstanceOf[GroupByState]
    // same per-batch include gate as mergePartial — evaluated once at
    // batch start, so counter updates in the shared pass can't close
    // the gate mid-batch for the grouped job
    if (rq.includeOpen) rows.foreach { row =>
      // a group whose rows all failed THIS query's gate does not exist
      // for it — creating it would emit a spurious zero-count group
      val matched = longAt(row, n(id))
      if (matched > 0L)
        mergeOps(st.accFor(spec.fields.indices.map(row.getString)), spec.ops, row, id, matched)
    }
  }

  // -------------------------------------------------------------------------
  // Lifecycle: windows, duration, rate limiting (JoinBolt tick path)
  // -------------------------------------------------------------------------

  private def baseMeta(id: String, receiveTime: Long): Map[String, Any] =
    Map("query_id" -> id, "receive_time" -> receiveTime)

  /** Finished records with the spec's post-aggregations applied — the
    * reference runs the FULL query (incl. HAVING/COMPUTATION/CULLING/
    * ORDER BY) at the combiner on window close / finish (bullet-core
    * Querier.finish; SURVEY §2.6). Results are bounded, so this is a tiny
    * driver-side pass ([[PostAggEval]]). Deviation (documented): for RAW,
    * the batch path orders BEFORE the size cap; streaming caps on arrival,
    * so ORDER BY here sorts the kept first-`size` subset. */
  private def finishedRecords(rq: RQ): Seq[String] =
    PostAggEval(rq.spec.postAggregations, rq.state.finishRecords())

  private def countEmit(rq: RQ, n: Int): Unit = {
    rq.emitted += n
    rq.emittedSinceRateCheck += n
  }

  private def windowClip(rq: RQ): Clip = {
    val records = finishedRecords(rq)
    countEmit(rq, records.size)
    rq.windowsEmitted += 1
    Clip(rq.spec.id,
      baseMeta(rq.spec.id, rq.registeredAt) ++ rq.state.metaEntries ++
        conceptMeta(rq, None) ++
        Map("emit_time" -> clock.now(), "window_number" -> rq.windowsEmitted),
      records)
  }

  private def finish(rq: RQ): Clip = {
    rq.done = true
    val records = finishedRecords(rq)
    countEmit(rq, records.size)
    Clip(rq.spec.id,
      baseMeta(rq.spec.id, rq.registeredAt) ++ rq.state.metaEntries ++
        conceptMeta(rq, Some(clock.now())) ++
        Map("finish_time" -> clock.now(), "signal" -> Signal.COMPLETE.toString,
          "records_seen" -> rq.recordsSeen, "batches_seen" -> rq.batchesSeen),
      records)
  }

  private def rateLimitKill(rq: RQ): Clip =
    Clip(rq.spec.id, baseMeta(rq.spec.id, rq.registeredAt) ++ Map(
      "signal" -> Signal.KILL.toString,
      "errors" -> Seq(s"query exceeded rate limit of ${rq.spec.rateLimitMaxEmit.get} " +
        s"emitted records per ${rateCheckIntervalMs} ms"),
      "finish_time" -> clock.now()), Seq.empty)

  private def lifecycle(): Seq[Clip] = {
    val out = mutable.ArrayBuffer.empty[Clip]
    val now = clock.now()
    val finished = mutable.ArrayBuffer.empty[String]
    queries.values.foreach { rq =>
      // window emission (suspended once the query enters its grace period)
      rq.spec.window.foreach { w =>
        val due = w.emitUnit match {
          case WindowUnit.RECORD => rq.recordsSinceEmit >= w.emitEvery
          case WindowUnit.TIME   => now - rq.lastEmitAt >= w.emitEvery
          case WindowUnit.ALL    => false
        }
        if (due && !rq.done && rq.finishingSince.isEmpty) {
          out += windowClip(rq)
          if (w.emitUnit == WindowUnit.TIME)
            rq.lastEmitAt = now - ((now - rq.lastEmitAt) % w.emitEvery)
          rq.recordsSinceEmit = 0L
          if (!w.isAdditive) rq.state.reset()
        }
      }
      // rate limiting: an emission RATE, not a lifetime total — the budget
      // scales with the time actually elapsed since the last check
      // (JoinBolt.java:199-208 — the reference RateLimiter divides by
      // elapsed time, so a slow batch that delays the check by 10 s does
      // not spuriously kill a query that stayed under max-per-interval).
      if (!rq.done && rq.spec.rateLimitMaxEmit.isDefined &&
          now - rq.lastRateCheckAt >= rateCheckIntervalMs) {
        val elapsed = now - rq.lastRateCheckAt
        val exceeded = rq.emittedSinceRateCheck.toDouble * rateCheckIntervalMs >
          rq.spec.rateLimitMaxEmit.get.toDouble * elapsed
        rq.emittedSinceRateCheck = 0L
        rq.lastRateCheckAt = now
        if (exceeded) {
          out += rateLimitKill(rq)
          rq.done = true
          finished += rq.spec.id
        }
      }
      // RAW early termination (FilterBolt.java:160-163 / Querier.isDone):
      // a windowless RAW query whose buffer hit its cap finishes NOW — no
      // reason to wait out the duration, and the partial pass already
      // stopped collecting for it (cap-0 → no collect column).
      if (!rq.done && rq.spec.window.isEmpty) {
        rq.state match {
          case rs: RawState if rs.isFull =>
            out += finish(rq)
            finished += rq.spec.id
          case _ =>
        }
      }
      // duration expiry, with the post-finish straggler grace: the query
      // stops being a new-data consumer conceptually but its state stays
      // mergeable for `postFinishGraceMs` so late partials land in the
      // final result (reference: 3-tick buffer, JoinBolt.java:130-136).
      if (!rq.done && now >= rq.registeredAt + rq.spec.durationMs) {
        rq.finishingSince match {
          case None if postFinishGraceMs > 0 =>
            rq.finishingSince = Some(now)
          case Some(t) if now - t < postFinishGraceMs => // grace open
          case _ =>
            out += finish(rq)
            finished += rq.spec.id
        }
      }
    }
    finished.foreach(queries.remove)
    if (finished.nonEmpty) persistRegistry()
    out.foreach(record)
    out.toSeq
  }
}

object QueryRunner {
  /** Union collect budget of a fused grouped job: the SUM of the fused
    * queries' entries caps (each query can need up to its own cap). A
    * fused collect that fills this budget falls back to per-query jobs —
    * the union's smallest-keys truncation is only sound per query when
    * every query's own groups all fit. */
  private[streaming] def fusedEntriesCap(entries: Seq[Int]): Int =
    math.min(entries.map(_.toLong).sum, Int.MaxValue.toLong).toInt

  /** Consecutive transiently-failing batches a query survives before the
    * "transient" diagnosis is overruled and it FAILs alone (see
    * RQ.transientStrikes). */
  private[streaming] val MaxTransientStrikes = 3

  /** The kinds of per-batch Spark job, in the order their merges apply. */
  object JobKind extends Enumeration {
    val Shared, Equality, Range, Grouped = Value
  }

  /** Shared daemon pool for concurrent per-batch job submission (Spark's
    * scheduler interleaves the jobs; this pool only drives collect()s). */
  private[streaming] lazy val jobEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "graft-batch-jobs")
        t.setDaemon(true)
        t
      }))

  /** Is this failure plausibly a TRANSIENT cluster fault (shuffle fetch
    * failure, executor loss, network/disk IO, timeout) rather than a
    * broken query? Transient → processBatch rethrows and the stream
    * replays the batch; everything else FAILs the one query — the
    * reference's contract (a Querier that throws is FAILed; the topology
    * never crash-loops on a deterministic error). Unknown errors default
    * to deterministic: wrongly FAILing one query on an exotic cluster
    * fault is recoverable (re-register), wrongly replaying a broken query
    * forever stalls every query. Spark wraps task failures in
    * SparkException layers and often embeds the executor-side stack in
    * the MESSAGE only, so both the cause-chain types and the messages are
    * scanned. */
  private[streaming] def isTransientFailure(e: Throwable): Boolean = {
    val causes = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .take(10).toSeq
    val transientType = causes.exists {
      case _: java.io.IOException                   => true
      case _: java.util.concurrent.TimeoutException => true
      case _: InterruptedException                  => true
      case _                                        => false
    }
    val msg = causes.flatMap(c => Option(c.getMessage)).mkString(" ")
    transientType || Seq("FetchFailed", "ExecutorLost", "executor lost",
      "Connection reset", "Connection refused", "heartbeat", "Too large frame",
      "Unable to fetch", "java.io.IOException", "TimeoutException")
      .exists(msg.contains)
  }
}
