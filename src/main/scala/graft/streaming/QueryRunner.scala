package graft.streaming

import graft.agg._
import graft.agg.MultiQueryPartial.State
import graft.compile.{ExprCompiler, QueryCompiler}
import graft.functions.KeyIndex
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructType}

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
 * FilterBolt/JoinBolt split: every micro-batch is ONE Spark job of one
 * map-only stage ([[BatchPass]]) whose tasks test each record against
 * every job below and return serialized partials, combined on the driver
 * — no shuffle, no cached batch, no SQL execution. A job's expressions
 * are the ones Spark's analyzer resolves and coerces; the pass evaluates
 * them itself.
 *
 *  - **Shared pass** (= FilterBolt partials): all active non-grouped queries
 *    become entries of ONE [[graft.agg.MultiQueryPartial]] — each query's
 *    filter is its entry's gate, so a 100-query workload updates one
 *    buffer per record, not 100. Its value is one serialized partial
 *    (sketch buffers, capped RAW records and metric accumulators), exactly
 *    the reference's `byte[]` DATA_STREAM tuples (FilterBolt.java:187-199).
 *    The gates and inputs are the aggregate's own children, interpreted,
 *    so no filter literal reaches generated code and a batch after a
 *    REGISTER or KILL compiles nothing new.
 *  - **Indexed jobs** (= the query partitioner, SimpleEqualityPartitioner):
 *    queries comparing the same key fields with literals — `field = lit`
 *    conjunctions and `field >/>=/</<= lit` GROUP(all) queries — share one
 *    job that maps each record to its slot in the index of their literals,
 *    in the type Spark compares them in ([[KeyIndex]]), and updates that
 *    slot's buffer.
 *  - **Grouped jobs** (= GROUP BY fusion): queries with the same key fields
 *    and projection share one aggregate per key; each task keeps its
 *    `entries`-smallest keys, which keeps the batch's smallest keys exact.
 *  - **Driver combine** (= JoinBolt): the tasks' partials merge per job
 *    with the aggregate's own merge (`Querier.combine`,
 *    JoinBolt.java:154-155), and each batch's merged entry folds into each
 *    member query's [[AggState]] with the same entry merge, so values keep
 *    Spark's types; owns
 *    window emission + reset (JoinBolt.java:252-259), duration expiry
 *    (JoinBolt.java:214-233), rate-limit kills (JoinBolt.java:199-208),
 *    duplicate suppression (FilterBolt.java:117-124), and error Clips
 *    (JoinBolt.java:297-308). Driver state is O(queries × sketch), never
 *    O(data).
 *
 * Planning follows the query set, not the batch ([[PlanMemo]]). Each
 * class's gates and inputs are analyzed once, in the one analysis of the
 * job that first needs them, and kept as the tasks evaluate them, reading
 * columns by their position in the batch schema; each job is kept under
 * its layout (its classes' entries, RAW caps included, and the keys of the
 * expressions they read). A batch whose query set did not change reuses
 * every job as it is and analyzes nothing; a changed job is assembled from
 * the memo after one analysis over only its new classes. The memo is keyed
 * by the batch schema and the session's SQL conf (ANSI mode, the time zone
 * and case sensitivity change what analysis gives), is rebuilt lazily at
 * the next batch after a REGISTER or KILL, never at the control message,
 * and keeps only what the last batch planned with, so it stays O(live
 * queries). The jobs are not broadcast: each task deserializes its own
 * copy from the task closure, because a job's aggregate keeps per-row
 * scratch (and RAW's `to_json` its writer) that tasks sharing one
 * instance in `local[N]` would race on.
 *
 * Failure contract. Each micro-batch builds ONE ordered job list — the
 * shared pass, then the indexed jobs and the fused GROUP BY jobs — and
 * runs it in two phases. COLLECT: the pass, and every driver-side fold
 * over its partials (an indexed job's point reads and prefix/suffix
 * folds, the grouped cap check), finishes before any query state
 * changes. When the pass fails each job runs alone (over a cached batch
 * when there are several); a job that fails, cannot be planned, or whose
 * fused grouped groups hit the union cap is re-collected one query at a
 * time: a deterministic error FAILs that one query; a transient one
 * (executor loss, fetch failure) is retried once, then rethrows so the
 * stream replays the batch — up to [[QueryRunner.MaxTransientStrikes]]
 * replays, after which the query FAILs. APPLY: the merges run in list
 * order, and one that throws FAILs its query alone. So a replayed batch
 * never merges twice.
 *
 * At 100 TB/1000 executors: the batch scan distributes, one task per
 * partition, and what reaches the driver per job is O(partitions ×
 * sketch), as each FilterBolt sends its partial to the JoinBolt. Queries
 * prune from the pass the batch after they complete (early termination,
 * FilterBolt.java:160-163).
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
    val state = new AggState(spec)
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
    /** Cached [[QueryRunner.indexTerms]] — a pure function of the
      * immutable spec, consulted every batch for every active query. */
    lazy val indexTerms: Option[Seq[(String, BinOp.Value, Any)]] = QueryRunner.indexTerms(spec)
  }

  /** How many jobs of each kind the LAST batch ran — a test observable
    * (the indexed and grouped jobs are result-identical to the
    * generic path by design, so only a structural probe can prove they
    * engaged). */
  private[graft] var lastBatchJobs: Map[QueryRunner.JobKind.Value, Int] = Map.empty

  /** The jobs the LAST batch's pass ran, unbound — a test observable for
    * what the tasks evaluate (the pass renders no SQL plan to inspect). */
  private[graft] var lastBatchPass: Seq[BatchPass.Job[_]] = Nil

  /** The analyses the runner ran — of a job's new classes, or of an
    * indexed comparison's type — a test observable, like [[lastBatchJobs]]. */
  private[graft] var analyses: Long = 0L
  /** The classes those analyses covered, over every job. */
  private[graft] var analyzedClasses: Long = 0L

  /** What planning keeps across batches ([[PlanMemo]]), for the last
    * batch's schema and SQL conf. */
  private var memo = new PlanMemo(new StructType(), Map.empty)

  /** The memo's keys — a test observable for what planning keeps. */
  private[graft] def memoKeys: Set[Any] = synchronized(memo.keys)

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

  /** The active queries that can ride an indexed job, with their keys
    * ([[QueryRunner.indexTerms]] gives the population). A comparison's
    * type T is Spark's own: the type its analyzer coerces the query's
    * `field = lit` to, read once per (column type, literal type) pair and
    * memoized. The key is `cast(field as T)` and the literal `Cast(lit, T)`,
    * compared with Catalyst's ordering of T — what `EqualTo` and
    * `LessThan` evaluate — so an indexed answer is Spark's by
    * construction. A field the batch lacks, a T that is not an atomic
    * orderable type, or a literal that casts to null (or raises) keeps the
    * query on the shared pass. */
  private def indexMembers(active: Seq[RQ], batch: DataFrame): Seq[(RQ, QueryRunner.Member)] = {
    import QueryRunner.Member
    import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, EvalMode, GenericInternalRow, Literal, RowOrdering, Cast => CastExpr}
    import org.apache.spark.sql.types.{ArrayType, MapType}
    import scala.util.Try
    val schema = batch.schema
    val conf = batch.sparkSession.conf
    val mode = if (conf.get("spark.sql.ansi.enabled").toBoolean) EvalMode.ANSI else EvalMode.LEGACY
    val tz = Some(conf.get("spark.sql.session.timeZone"))
    def comparisonType(f: String, v: Any, litType: DataType): Option[DataType] =
      memo.getOrElseUpdate(("comparison", schema(f).dataType, litType)) {
        analyses += 1
        Try {
          val cmp = ExprCompiler.compile(Binary(Field(f), Lit(v), BinOp.EQUALS), Some(schema))
          batch.select(cmp).queryExecution.analyzed.expressions.head
            .collectFirst { case c: BinaryComparison => c.left.dataType }
        }.toOption.flatten.filter {
          case _: StructType | _: ArrayType | _: MapType => false
          case t => RowOrdering.isOrderable(t)
        }
      }
    def term(f: String, v: Any): Option[(DataType, Any)] =
      if (!schema.exists(_.name == f)) None else {
        val l = Literal(v) // as `lit(v)` converts
        comparisonType(f, v, l.dataType).flatMap { t =>
          Try(if (l.dataType == t) l.value else CastExpr(l, t, tz, mode).eval()).toOption
            .filter(_ != null).map(t -> _)
        }
      }
    active.flatMap(rq => rq.indexTerms.flatMap { terms =>
      val cast = terms.map { case (f, _, v) => term(f, v) }
      Option.when(cast.forall(_.isDefined)) {
        val (types, values) = cast.flatten.unzip
        val key = if (values.size == 1) values.head else new GenericInternalRow(values.toArray)
        rq -> Member(terms.map(_._1), types, key, terms.head._2)
      }
    })
  }

  /** What planning keeps from one batch to the next, for one batch schema
    * and SQL conf, which are what analysis depends on: each gate and input
    * as analyzed, under its [[JobAggregate]] key; each job's keys; each
    * indexed comparison's type; and each job under its layout. A batch
    * keeps only what its planning read: [[next]] starts a batch, and
    * [[sweep]] drops what it did not read, so the memo holds the live
    * query set's entries and no more. */
  private final class PlanMemo(val schema: StructType, val conf: Map[String, String]) {
    private var kept = mutable.HashMap.empty[Any, Any]
    private var last = mutable.HashMap.empty[Any, Any]
    def next(): Unit = { last = kept; kept = mutable.HashMap.empty }
    def sweep(): Unit = last = mutable.HashMap.empty
    def get(k: Any): Option[Any] = kept.get(k).orElse(last.remove(k).map { v => kept(k) = v; v })
    def apply[V](k: Any): V = get(k).get.asInstanceOf[V]
    def getOrElseUpdate[V](k: Any)(v: => V): V =
      get(k).getOrElse { val x = v; kept(k) = x; x }.asInstanceOf[V]
    def keys: Set[Any] = kept.keySet.toSet ++ last.keySet
  }

  /** One job of a micro-batch: its member queries and its kind's `plan`,
    * which gives the job's share of a batch pass over any member subset
    * (the per-query fallback plans `Seq(rq)`). */
  private final class Job(val kind: QueryRunner.JobKind.Value, val rqs: Seq[RQ],
                          val plan: (Seq[RQ], DataFrame) => Planned[_])

  /** A planned job: its tasks' work, and `finish`, every driver-side fold
    * over its merged partials, which returns one merge per member, in
    * member order — or None when the partials cannot be trusted (a fused
    * grouped job hit its union cap). A merge only mutates its query's
    * state; it never touches the cluster. */
  private final class Planned[R](val task: BatchPass.Job[R], finish: R => Option[Seq[() => Unit]]) {
    def apply(parts: Seq[AnyRef]): Option[Seq[() => Unit]] = finish(task.merge(parts))
  }

  /** Process one micro-batch: shared partial pass + driver combine + window
    * and lifecycle evaluation. Returns the Clips emitted for this batch. */
  def processBatch(batch: DataFrame): Seq[Clip] = synchronized {
    // per-batch record-latency gauge anchor (reference
    // bullet_filter_latency, FilterBolt.java:201-207): every query whose
    // partials merge from this batch records now → merge-complete as the
    // batch's filter latency. Wall clock, not the injected tick clock —
    // latency is a real-time observable even under ManualClock tests.
    batchStartNanos = System.nanoTime()
    val conf = batch.sparkSession.conf.getAll
    if (memo.schema != batch.schema || memo.conf != conf) memo = new PlanMemo(batch.schema, conf)
    memo.next()
    val active = queries.values.filter(!_.done).toSeq
    active.foreach(rq => rq.includeOpen = includeOpenNow(rq))
    val grouped = active.filter(_.isGrouped)
    // Query partitioning (the reference routes a record only to the
    // queries whose partition tuple matches — SimpleEqualityPartitioner
    // over a field list, SURVEY §4): ≥2 queries comparing the SAME key
    // fields, in the same types, with literals share ONE indexed job —
    // one binary search per record over the index of their literals,
    // whatever the number of such queries (see planIndexed). RAW stays
    // on the shared pass (per-query collect caps).
    val indexed = indexMembers(active, batch)
      .groupBy { case (_, m) => (m.fields, m.types) }
      .filter(_._2.size >= 2).values.toSeq
    val indexedSet = indexed.flatten.map(_._1).toSet
    // grouped queries stay in the shared pass for their UNGROUPED matched
    // counts (the shared pass gives a GroupBy class only its matched count)
    val simple = active.filterNot(indexedSet)
    // GROUP BY fusion: queries with the same (key fields, projection)
    // share one grouped job regardless of filter — each query's metric
    // ops are gated by its OWN predicate inside the shared aggregate
    // (same conditional-aggregation trick as the ungrouped shared pass),
    // and a per-query matched count tells the driver which groups exist
    // for which query. Distinct key sets still need their own job
    // (different keys can't share a grouping).
    val groupedSigs = grouped.groupBy(rq =>
      (rq.spec.aggregation.asInstanceOf[GroupBy].fields, rq.spec.projection))
      .values.map(_.toSeq).toSeq
    import QueryRunner.JobKind._
    val jobs: Seq[Job] =
      (if (simple.isEmpty) Nil else Seq(new Job(Shared, simple, planShared))) ++
        indexed.map(ms => new Job(Indexed, ms.map(_._1), planIndexed(ms.toMap))) ++
        groupedSigs.map(new Job(Grouped, _, planGrouped))
    lastBatchJobs = jobs.groupBy(_.kind).map { case (k, js) => k -> js.size }
    import scala.util.control.NonFatal
    def attempt[A](a: => A): Either[Throwable, A] = try Right(a) catch { case NonFatal(e) => Left(e) }
    // Re-runs after a failed pass read the batch once per job or query, so
    // with several jobs they read it cached; with one job each query's
    // re-run reads only its own columns, so a column only a failing query
    // reads is never computed for the others. The pass caches nothing.
    var cached: Option[DataFrame] = None
    def rerunInput: DataFrame =
      if (jobs.size < 2) batch else cached.getOrElse { cached = Some(batch.persist()); cached.get }
    try {
      // ---- Phase 1: COLLECT. Every job runs in ONE Spark job over the
      // batch (BatchPass), and every driver-side fold lands before ANY
      // query state mutates, so a transient cluster fault (executor loss,
      // fetch failure) can rethrow here and the replayed batch can never
      // double-merge a query whose job had already succeeded.
      //
      // Failure isolation: a job that cannot be planned (one bad spec
      // reaching analysis, e.g. a field the batch lacks in a context
      // validate can't see), whose fold throws (values its op cannot
      // combine) or whose partials cannot be trusted is re-collected per
      // query; when the pass itself fails, each job runs alone first. So
      // the ONE broken query FAILs while every co-registered query keeps
      // its partials — the reference FAILs the single Querier
      // (JoinBolt.java:297-308); it never aborts the topology. Transient
      // faults get one retry (the cluster may have recovered), then
      // propagate so the stream's own machinery replays the batch —
      // deregistering a long-lived query over a cluster hiccup would be
      // wrong, and crash-looping on a deterministic error would be worse,
      // so only recognizably-transient failures propagate.
      def collect(job: Job, rqs: Seq[RQ]): Option[Seq[() => Unit]] = {
        val p = job.plan(rqs, rerunInput)
        p(BatchPass.run(rerunInput, Seq(p.task)).head)
      }
      def perQuery(job: Job): Seq[(RQ, Either[Throwable, () => Unit])] =
        job.rqs.map { rq =>
          // a one-query job is always trusted: only a union of several
          // queries' groups can crowd one query's groups out
          def collectOne(): () => Unit = collect(job, Seq(rq)).get.head
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
      def trusted(job: Job, merges: Either[Throwable, Option[Seq[() => Unit]]]) = merges match {
        case Right(Some(ms)) => job.rqs.zip(ms.map(Right(_)))
        case _               => perQuery(job)
      }
      // Fall back AFTER each attempt, never inside it: inside, perQuery's
      // bounded-replay rethrow would be re-caught and perQuery would run
      // AGAIN in the same batch — double strikes and every member
      // collected twice.
      val planned = jobs.map(job => attempt(job.plan(job.rqs, batch)))
      memo.sweep()
      val tasks = planned.collect { case Right(p) => p.task }
      lastBatchPass = tasks
      val ran = attempt(BatchPass.run(batch, tasks)).map(_.iterator)
      val outcomes = jobs.zip(planned).flatMap {
        case (job, Right(p)) => ran match {
          case Right(parts)            => trusted(job, attempt(p(parts.next())))
          case Left(_) if tasks.size > 1 => trusted(job, attempt(collect(job, job.rqs)))
          case Left(_)                 => perQuery(job)
        }
        case (job, Left(_)) => perQuery(job)
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
      cached.foreach(_.unpersist())
    }
    lifecycle()
  }

  /** Spec-class key for per-batch computation sharing: queries with equal
    * (filter, projection, aggregation) — duplicate registrations, the
    * common many-dashboards shape — produce IDENTICAL per-batch partials,
    * so one aggregate entry serves every member (each still
    * merges into its OWN cumulative state; only the batch computation is
    * shared). RAW is excluded: its capped collect depends on the query's
    * remaining buffer capacity, which is per-query state. */
  private def sharedClassKey(rq: RQ): Option[(Option[Expr], Option[Seq[(String, Expr)]], Aggregation)] =
    rq.spec.aggregation match {
      case _: Raw => None
      case a      => Some((rq.spec.filter, rq.spec.projection, a))
    }

  /** The job's classes — one representative per distinct `key`, first
    * member in list order — and each member's class index. */
  private def classesBy(rqs: Seq[RQ])(key: RQ => Any): (Seq[RQ], Map[String, Int]) = {
    val idx = mutable.LinkedHashMap.empty[Any, (RQ, Int)]
    val of = rqs.map(rq => rq.spec.id -> idx.getOrElseUpdate(key(rq), (rq, idx.size))._2).toMap
    (idx.values.map(_._1).toSeq, of)
  }

  /** Spec classes ([[sharedClassKey]]); a RAW query is its own class. */
  private def sharedClasses(rqs: Seq[RQ]): (Seq[RQ], Map[String, Int]) =
    classesBy(rqs)(rq => sharedClassKey(rq).getOrElse(rq))

  /** One shared ungrouped pass (predicate CSE + spec-class CSE): queries
    * sharing a filter evaluate it ONCE per record, and queries with an
    * IDENTICAL spec class share ONE entry of the job's one
    * [[MultiQueryPartial]] ([[sharedClasses]] fan-out at merge time). A
    * 1000-query workload with 7 distinct filters and ~40 distinct spec
    * classes evaluates 7 predicates and ~40 entries per record, not 1000;
    * the aggregate evaluates the filters itself, so none reaches generated
    * code.
    * GROUP BY queries contribute only their matched-record count here
    * (their grouped state rides the grouped jobs): the count must be
    * computed UNGROUPED — summing over the kept top-`entries` groups
    * would undercount once the key space exceeds the cap, starving
    * RECORD windows and the records_seen metric. */
  private def planShared(simple: Seq[RQ], df: DataFrame): Planned[_] = {
    val (classes, classOf) = sharedClasses(simple)
    val job = memoJob(df, classes, gated = true, groupOps = false, "shared", Nil)((fn, _) => BatchPass.Shared(fn))
    new Planned(job, (parts: Array[State]) =>
      Some(simple.map(rq => () => mergePartial(rq, parts(classOf(rq.spec.id))))))
  }

  /** The distinct (aggregation, projection) signatures of an indexed
    * job: one ungated [[MultiQueryPartial]] entry each. */
  private def signatures(rqs: Seq[RQ]): (Seq[RQ], Map[String, Int]) =
    classesBy(rqs)(rq => (rq.spec.aggregation, rq.spec.projection))

  /**
   * One job for ALL indexed queries on one key (the same fields, compared
   * in the same types): each record's slot in the [[KeyIndex]] of the
   * queries' literals — one binary search per record, whatever the query
   * count — selects the one buffer it updates; records in no slot a query
   * reads are dropped, and each distinct (aggregation, projection)
   * signature's partial is computed ONCE per slot, as one entry of the
   * job's [[MultiQueryPartial]]. An equality query reads its point slot; a
   * range query reads the prefix or suffix fold of the ≤ 2·literals+1
   * slots. The slot is exact, so a query's inputs are computed only on
   * records it admits.
   */
  private def planIndexed(members: Map[RQ, QueryRunner.Member])(rqs: Seq[RQ], df: DataFrame): Planned[_] = {
    val m0 = members(rqs.head)
    val terms = rqs.map(rq => (members(rq).key, members(rq).op))
    val (sigs, sigOf) = signatures(rqs)
    val job = memoJob(df, sigs, gated = false, groupOps = false, ("index", m0.fields, m0.types), {
      val keys = m0.fields.zip(m0.types).map { case (f, t) =>
        ExprCompiler.compile(Field(f), Some(df.schema)).cast(t) }
      Seq(if (keys.size == 1) keys.head else struct(keys: _*))
    }, terms) { (fn, keys) =>
      val index = new KeyIndex(m0.types, terms.map(_._1))
      terms.foreach { case (k, op) => val (lo, hi) = span(index, k, op); index.read(lo, hi) }
      BatchPass.Indexed(fn, keys.head, index)
    }
    new Planned(job, readSlots(rqs, terms.map { case (k, op) => span(job.index, k, op) }, job.fn, sigOf))
  }

  /** The slots, lo to hi, that `k op key` reads over the index's entries e_j:
    *   k =  e_j ⇔ slot = 2j+1     k >  e_j ⇔ slot ≥ 2j+2     k <  e_j ⇔ slot ≤ 2j
    *                              k >= e_j ⇔ slot ≥ 2j+1     k <= e_j ⇔ slot ≤ 2j+1 */
  private def span(index: KeyIndex, key: Any, op: BinOp.Value): (Int, Int) = {
    val p = index.pointOf(key)
    op match {
      case BinOp.EQUALS            => (p, p)
      case BinOp.GREATER_THAN      => (p + 1, index.top)
      case BinOp.GREATER_OR_EQUALS => (p, index.top)
      case BinOp.LESS_THAN         => (0, p - 1)
      case _                       => (0, p)
    }
  }

  /** An indexed job's reads of its slots' `rows` (ascending): per query,
    * its point slot or the fold of its span. */
  private def readSlots(rqs: Seq[RQ], spans: Seq[(Int, Int)], fn: MultiQueryPartial,
                        sigOf: Map[String, Int])(rows: IndexedSeq[(Int, Array[State])]): Option[Seq[() => Unit]] = {
    val slots = rows.map(_._1).toArray
    val n = rows.length
    // each query reads the rows a to b: the first row ≥ lo to the last
    // ≤ hi (slots are distinct and sorted); None when there is none. A
    // span is a point, a suffix (hi is the top slot) or a prefix (lo is 0).
    val reads = spans.map { case (lo, hi) =>
      val a = { val h = java.util.Arrays.binarySearch(slots, lo); if (h >= 0) h else -(h + 1) }
      val b = { val h = java.util.Arrays.binarySearch(slots, hi); if (h >= 0) h else -(h + 1) - 1 }
      Option.when(a <= b)((a, b))
    }
    // A fold merges each row's buffer with its neighbour's fold with the
    // aggregate's own merge, so it merges into query state exactly as
    // per-row merges would, without extra batch counts. Each step folds
    // into a fresh buffer, the row's first (MIN/MAX keep the first of
    // equal values), so no row's buffer, which other readers share,
    // changes. Folds run only as far as some query reads: a fold that
    // throws (a long SUM overflowing under ANSI) then lies in a reader's
    // own range, and the per-query re-collect FAILs that query alone.
    val (points, folded) = reads.flatten.toSet.partition(r => r._1 == r._2)
    val read = mutable.HashMap.empty[(Int, Int), Array[State]]
    points.foreach(r => read(r) = rows(r._1)._2)
    def fold(steps: Range)(span: Int => (Int, Int)): Unit = {
      var acc = rows(steps.head)._2
      steps.foreach { k =>
        if (k != steps.head) acc = fn.merge(fn.merge(fn.createAggregationBuffer(), rows(k)._2), acc)
        if (folded(span(k))) read(span(k)) = acc
      }
    }
    folded.filter(_._2 == n - 1).map(_._1).minOption.foreach(a => fold(n - 1 to a by -1)(k => (k, n - 1)))
    folded.filter(_._2 < n - 1).map(_._2).maxOption.foreach(b => fold(0 to b)(k => (0, k)))
    Some(rqs.zip(reads).map {
      case (rq, Some(r)) => () => mergePartial(rq, read(r)(sigOf(rq.spec.id)))
      case (rq, None)    => () => rq.batchesSeen += 1 // no rows this batch
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
    * memory. Choose it over [[runStream]]'s driver-held [[AggState]]
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

  /** One job's [[MultiQueryPartial]] layout: one entry per class, in order,
    * over the classes' distinct gates (their filters when `gated`; the
    * indexed job selects rows by slot instead) and distinct inputs, each
    * keyed by the model expressions it compiles from (compiled Columns
    * never compare equal). With `groupOps` a GROUP BY class carries its ops
    * (the grouped job); without, only its matched count (the shared pass). */
  private final class JobAggregate(schema: StructType, classes: Seq[RQ], gated: Boolean,
                                   groupOps: Boolean) {
    import MultiQueryPartial._
    import org.apache.spark.sql.graft.ColumnBridge.expression
    private val gates = if (gated) classes.flatMap(_.spec.filter).distinct else Nil
    private val gateIdx = gates.zipWithIndex.toMap
    // input slots, one per (input, SUM/AVG coercion), each with its Column
    private val slotOf = mutable.LinkedHashMap.empty[(Any, Boolean), Int]
    private val inputs = mutable.ArrayBuffer.empty[() => Column]
    private def slot(key: Any, numeric: Boolean)(c: => Column): Int =
      slotOf.getOrElseUpdate((key, numeric), { inputs += (() => c); inputs.size - 1 })

    private def entry(rq: RQ): Entry = {
      val g = rq.spec.filter.flatMap(gateIdx.get).getOrElse(-1)
      val fld: String => Column = f => fieldCol(rq, f, schema)
      // what fld(f) compiles: the field, or its projected expression (None: absent)
      def src(f: String): Option[Expr] =
        rq.spec.projection.fold(Option[Expr](Field(f)))(_.find(_._1 == f).map(_._2))
      def metric(op: GroupOp): Metric = {
        import GroupOpType._
        def in(numeric: Boolean) = slot(src(op.field.get), numeric)(fld(op.field.get))
        op.op match {
          case COUNT       => Metric(Op.Count, -1)
          case COUNT_FIELD => Metric(Op.CountField, in(numeric = false))
          case SUM         => Metric(Op.Sum, in(numeric = true))
          case MIN         => Metric(Op.Min, in(numeric = false))
          case MAX         => Metric(Op.Max, in(numeric = false))
          case AVG         => Metric(Op.Avg, in(numeric = true))
        }
      }
      def compositeKey(fs: Seq[String]): Int =
        slot(("key", fs.map(src)), numeric = false)(QueryCompiler.compositeKeyOf(fs.map(fld)))
      Entry(g, rq.spec.aggregation match {
        case GroupAll(ops)      => Metrics(ops.map(metric))
        case GroupBy(_, ops, _) => Metrics(if (groupOps) ops.map(metric) else Nil)
        case Raw(_) =>
          val cap = rq.state.remaining
          if (cap <= 0) Metrics(Nil) // full buffer: stop to_json-ing matches
          else Sketch(SketchPartial.Capped(cap), slot(("raw", rq.spec.projection), numeric = false)(
            to_json(rq.spec.projection match {
              case Some(fields) => struct(fields.map { case (nm, e) =>
                ExprCompiler.compile(e, Some(schema)).as(nm) }: _*)
              case None => struct(schema.fieldNames.map(col).toIndexedSeq: _*)
            })))
        case CountDistinct(fields, _, lgK) => Sketch(SketchPartial.Theta(lgK), compositeKey(fields))
        case d: Distribution => Sketch(SketchPartial.Kll(d.k),
          slot(("double", src(d.field)), numeric = false)(fld(d.field).cast(DoubleType)))
        case TopK(fields, _, _, _, maxMapSize) =>
          Sketch(SketchPartial.FreqItems(maxMapSize), compositeKey(fields.map(_._1)))
      })
    }
    val entries: Seq[Entry] = classes.map(entry)

    /** The children's memo keys: the gates, then the inputs. */
    val keys: IndexedSeq[Any] = gates.map(("gate", _)).toIndexedSeq ++ slotOf.keys.map(("input", _))
    def numGates: Int = gates.size

    /** The memo keys of the children entry `e` reads. */
    def keysOf(e: Entry): Seq[Any] = (if (e.gate >= 0) Seq(keys(e.gate)) else Nil) ++ (e.part match {
      case Metrics(ms)  => ms.map(_.input).filter(_ >= 0)
      case Sketch(_, j) => Seq(j)
    }).map(j => keys(numGates + j))

    /** What the job's aggregate is a function of, given the memo. */
    def layout: Any = (keys, entries)

    /** The aggregate over its children as they compile, for analysis. */
    def compiled(ansi: Boolean): MultiQueryPartial = MultiQueryPartial(
      (gates.map(f => ExprCompiler.compile(f, Some(schema))) ++ inputs.map(_())).map(expression),
      numGates, entries, ansi)
  }

  /** A batch pass job over `classes`' [[JobAggregate]] and the keys `keyCols`
    * compile to (memoized under `keysKey`): the memo's job for the same
    * layout and `extra` (an indexed job's literals, a grouped job's cap),
    * or a new one `make` builds from the memo's expressions, after ONE
    * analysis over the classes some of whose gates or inputs the memo
    * lacks, and the keys when new. */
  private def memoJob[J <: BatchPass.Job[_]](df: DataFrame, classes: Seq[RQ], gated: Boolean, groupOps: Boolean,
                                             keysKey: Any, keyCols: => Seq[Column], extra: Any = ())(
                                             make: (MultiQueryPartial, Seq[Expression]) => J): J = {
    val agg = new JobAggregate(df.schema, classes, gated, groupOps)
    val keysAt = ("keys", keysKey)
    val job = memo.getOrElseUpdate((agg.layout, keysKey, extra)) {
      val missing = classes.zip(agg.entries).collect {
        case (rq, e) if agg.keysOf(e).exists(memo.get(_).isEmpty) => rq
      }
      val newKeys = memo.get(keysAt).isEmpty
      if (missing.nonEmpty || newKeys)
        analyze(df, new JobAggregate(df.schema, missing, gated, groupOps), keysAt, Option.when(newKeys)(keyCols))
      val fn = MultiQueryPartial(agg.keys.map(memo[Expression]), agg.numGates, agg.entries, ansi(df))
      // each class was type-checked in its own analysis, but an entry may
      // read a child another class's analysis made
      val check = fn.checkInputDataTypes()
      if (check.isFailure) throw new IllegalArgumentException(s"${fn.prettyName}: $check")
      make(fn, memo[Seq[Expression]](keysAt))
    }
    // the job's expressions stay while it does
    (keysAt +: agg.keys).foreach(memo.get)
    job
  }

  /** ONE analysis of `agg` in `df.groupBy(keyCols).agg(<the aggregate>)`, a
    * plan that is analyzed only, never run: each child, and the keys when
    * given, go into the memo as Spark's analyzer resolved and coerced them,
    * in [[BatchPass.schemaBound]]'s form. A failed analysis keeps nothing. */
  private def analyze(df: DataFrame, agg: JobAggregate, keysAt: Any, keyCols: Option[Seq[Column]]): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.graft.ColumnBridge.column
    analyses += 1
    analyzedClasses += agg.entries.size
    val columns = df.queryExecution.analyzed.output
    // named columns: an unnamed one is named after its whole SQL text
    val keys = keyCols.getOrElse(Nil).zipWithIndex.map { case (c, i) => c.as(s"k$i") }
    df.groupBy(keys: _*).agg(column(agg.compiled(ansi(df)).toAggregateExpression()).as("p"))
      .queryExecution.analyzed match {
      case a: Aggregate =>
        val fn = a.aggregateExpressions.flatMap(_.collectFirst { case m: MultiQueryPartial => m }).head
        agg.keys.zip(fn.children).foreach { case (k, e) => memo.getOrElseUpdate(k)(BatchPass.schemaBound(e, columns)) }
        keyCols.foreach(_ => memo.getOrElseUpdate(keysAt)(a.groupingExpressions.map(BatchPass.schemaBound(_, columns))))
    }
  }

  private def ansi(df: DataFrame): Boolean = df.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean

  // -------------------------------------------------------------------------
  // Driver combine (JoinBolt)
  // -------------------------------------------------------------------------

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

  /** Merge one class partial (its own class's, its fused signature's, or an
    * indexed job's row or fold) into `rq`'s state; a GROUP BY query's
    * groups ride the grouped job, so it takes only the counters here. */
  private def mergePartial(rq: RQ, p: State): Unit = {
    rq.recordsSinceEmit += p.matched
    rq.recordsSeen += p.matched
    rq.batchesSeen += 1
    rq.filterLatencyMsLast = (System.nanoTime() - batchStartNanos) / 1000000L
    rq.filterLatencyMsTotal += rq.filterLatencyMsLast
    // an include-first window that already has its M takes no more
    if (rq.includeOpen && !rq.isGrouped) rq.state.merge(p)
  }

  /** One grouped job per GROUP BY signature (same key fields and
    * projection — callers group by that); every fused class is one entry
    * of one [[MultiQueryPartial]] per key of the batch pass, gated by the
    * class's OWN filter, whose matched count
    * decides which groups exist for which query. Duplicate (filter,
    * projection, aggregation) queries share one class ([[sharedClasses]]).
    * Batch-local groups cap at the sum of the classes' entries budgets in
    * key order. */
  private def planGrouped(rqs: Seq[RQ], df: DataFrame): Planned[_] = {
    val head = rqs.head
    val fields = head.spec.aggregation.asInstanceOf[GroupBy].fields.map(_._1)
    val (classes, classOf) = sharedClasses(rqs)
    val entriesCap = QueryRunner.fusedEntriesCap(
      classes.map(_.spec.aggregation.asInstanceOf[GroupBy].entries))
    val job = memoJob(df, classes, gated = true, groupOps = true, ("group", fields, head.spec.projection),
      fields.map(f => coalesce(fieldCol(head, f, df.schema).cast(StringType), lit(SketchAggregators.NullString))),
      entriesCap)((fn, keys) => BatchPass.Grouped(fn, keys, entriesCap))
    // rows matching NO fused class never enter the groups or the cap
    new Planned(job, (groups: Seq[(Seq[String], Array[State])]) =>
      // Union cap hit with multiple classes: the kept smallest-keys union
      // can CROWD OUT one query's groups with another's (a query under its
      // own entries cap could lose groups it would have kept from its own
      // job). Rare — the over-cap regime — so the rows are untrusted and
      // each query re-collects alone, with its own filter and entries budget.
      if (classes.size > 1 && groups.length >= entriesCap) None
      else Some(rqs.map(rq => () => applyGrouped(rq, groups, classOf(rq.spec.id)))))
  }

  /** Merge a grouped job's groups into `rq`'s groups, reading entry `cls`
    * (its class's). The matched-record counters ride the ungrouped shared
    * pass ([[mergePartial]]), so they stay exact when distinct groups
    * exceed the entries cap; the include gate is the one evaluated at
    * batch start, which the shared pass's counters cannot close mid-batch. */
  private def applyGrouped(rq: RQ, groups: Seq[(Seq[String], Array[State])], cls: Int): Unit =
    if (rq.includeOpen) groups.foreach { case (key, parts) =>
      // a group whose rows all failed THIS query's gate does not exist
      // for it — creating it would emit a spurious zero-count group
      if (parts(cls).matched > 0L) rq.state.mergeGroup(key, parts(cls))
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
      if (!rq.done && rq.spec.window.isEmpty && rq.state.isFull) {
        out += finish(rq)
        finished += rq.spec.id
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

  /** One indexed-job member: its key fields, the types Spark compares
    * them in, its literal(s) cast to those types (a row for a tuple key),
    * and its comparison. */
  private[streaming] final case class Member(fields: Seq[String], types: Seq[DataType], key: Any,
                                             op: BinOp.Value)

  /** The comparisons an indexed job can serve `spec` by, sorted by field
    * (so `a = 1 AND b = 2` and `b = 2 AND a = 1` share a key), or None:
    *  - an ungrouped, non-RAW query whose whole filter is a conjunction of
    *    `field = lit` over distinct fields (a repeated field has no single
    *    key value);
    *  - a GROUP(all) query whose whole filter is one `field op lit`, op one
    *    of >, >=, <, <=.
    * RAW stays on the shared pass: its collect depends on per-query state. */
  private[streaming] def indexTerms(spec: QuerySpec): Option[Seq[(String, BinOp.Value, Any)]] = {
    def eqs(e: Expr): Option[Seq[(String, BinOp.Value, Any)]] = e match {
      case Binary(Field(f, None), Lit(v), BinOp.EQUALS) if v != null => Some(Seq((f, BinOp.EQUALS, v)))
      case Binary(l, r, BinOp.AND) => for { a <- eqs(l); b <- eqs(r) } yield a ++ b
      case NAry(NAryOp.AND, xs) =>
        xs.foldLeft(Option(Seq.empty[(String, BinOp.Value, Any)])) { (acc, x) =>
          for { a <- acc; b <- eqs(x) } yield a ++ b
        }
      case _ => None
    }
    val ranges = Set(BinOp.GREATER_THAN, BinOp.GREATER_OR_EQUALS, BinOp.LESS_THAN, BinOp.LESS_OR_EQUALS)
    (spec.aggregation, spec.filter) match {
      case (_: Raw | _: GroupBy, _) => None
      case (_: GroupAll, Some(Binary(Field(f, None), Lit(v), op))) if v != null && ranges(op) =>
        Some(Seq((f, op, v)))
      case (_, filter) => filter.flatMap(eqs).map(_.sortBy(_._1))
        .filter(ts => ts.nonEmpty && ts.map(_._1).distinct.size == ts.size)
    }
  }

  /** The kinds of per-batch Spark job, in the order their merges apply. */
  object JobKind extends Enumeration {
    val Shared, Indexed, Grouped = Value
  }

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
