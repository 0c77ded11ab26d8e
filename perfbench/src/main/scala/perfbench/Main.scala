package perfbench

import java.lang.management.ManagementFactory

import graft.streaming.{ManualClock, QueryRunner}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * The benchmark's entry point: one workload, one seed, one JVM.
 *
 * Set-up (repeated [[Run.SetupReps]] times; the last one is kept) generates the
 * seed's batches, builds a [[QueryRunner]] on a [[ManualClock]], registers
 * the workload's queries through `handleMessage`, and runs the first step,
 * which plans and compiles them. The kept set-up then runs the remaining
 * warm-up steps, untimed. The timed phase is an open loop: step k is due at
 * t0 + k·period whether or not step k−1 has finished, and its latency runs
 * from the due time to the end of the step (pending control messages, `processBatch`,
 * `onTick`), so queueing behind a slow step counts. The manual clock moves
 * by one period per step, which keeps windows and results independent of
 * machine speed. After the timed phase the heap is measured, `finishAll`
 * closes every query, and [[Oracle]] recomputes every emitted result.
 *
 * The last line of stdout is one JSON object: `correct`, `attempted`,
 * `failed` and `metrics` — the end-to-end metrics, or with `--trace 1` the
 * per-layer metrics of a separate traced run.
 */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cpus: Int, traceOut: Option[String], localDir: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", kv.get("cpus").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      kv.get("trace-out"), kv.getOrElse("local-dir", "spark-local"))
  }

  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.byName(o.workload)
    val spark = session(o.cpus, o.localDir)
    val out =
      try new Run(spark, w, o.seed, o.seconds, o.trace, o.traceOut).execute()
      finally spark.stop()
    println(out.json)
    sys.exit(if (out.correct) 0 else 1)
  }
}

final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

object Run {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Warm-up steps before the timed phase: the first (part of each set-up)
    * plans the queries and retires the RAW ones that fill at once, the
    * second compiles the steady plan, the third runs it. */
  val WarmupSteps = 3
}

final class Run(spark: SparkSession, w: Workload, seed: Long, seconds: Int,
                trace: Boolean, traceOut: Option[String]) {
  import Run._
  private val periodMs = w.stream.periodMs
  private val timedMax = math.ceil(seconds * 1000.0 / periodMs).toInt
  private val tracer = if (trace) Some(new Tracer(spark)) else None

  private def traced[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None    => body
  }

  /** One set-up: inputs, a fresh runner, its queries and its first step. */
  private final class Live {
    tracer.foreach(_.group = -1)
    val batches: IndexedSeq[Array[Event]] = Gen.batches(seed, WarmupSteps + timedMax, w.stream)
    private val dfs = batches.map(Gen.toDF(spark, _))
    private val clock = new ManualClock(0)
    val runner = new QueryRunner(spark, clock)
    private val plan = w.plan(seed)
    val queries = mutable.LinkedHashMap.empty[String, Query]
    val registeredAt = mutable.HashMap.empty[String, Int]
    val emitted = mutable.ArrayBuffer.empty[Emitted]
    val handleNs = mutable.ArrayBuffer.empty[Long]
    val activeAtStep = mutable.ArrayBuffer.empty[Int]
    var step = 0
    var attempted = 0L
    var failed = 0L
    var sinkBytes = 0L

    runner.onResult { c =>
      val json = traced("sink.render")(c.asJson)
      emitted += Emitted(json, step)
      sinkBytes += json.length
      if (c.signal.contains("FAIL")) failed += 1
    }

    private def handle(msg: String): Unit = {
      attempted += 1
      val t = System.nanoTime()
      traced("control.handle")(runner.handleMessage(msg))
      handleNs += System.nanoTime() - t
    }

    private def register(q: Query): Unit = {
      queries(q.id) = q
      registeredAt(q.id) = step
      handle(q.message)
    }

    plan.initial.foreach(register)

    def doStep(k: Int): Unit = {
      step = k
      tracer.foreach(_.group = k)
      if (k > 0) clock.advance(periodMs)
      traced("step") {
        if (k > 0) {
          val (kills, added) = plan.at(k)
          kills.foreach(id => handle(Workloads.kill(id)))
          added.foreach(register)
        }
        activeAtStep += runner.activeQueryIds.size
        attempted += 1
        try {
          traced("runner.processBatch")(runner.processBatch(dfs(k)))
          traced("runner.onTick")(runner.onTick())
        } catch {
          case NonFatal(e) =>
            failed += 1
            System.err.println(s"step $k threw: $e")
        }
      }
    }

    doStep(0)
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  def execute(): Outcome = {
    val setupMs = mutable.ArrayBuffer.empty[Double]
    var live: Live = null
    (1 to SetupReps).foreach { _ =>
      live = null // let the previous set-up be collected
      val t = System.nanoTime()
      live = new Live
      setupMs += (System.nanoTime() - t) / 1e6
    }
    (1 until WarmupSteps).foreach(live.doStep)

    // ---- timed phase (open loop)
    val periodNs = periodMs * 1000000L
    val latency = mutable.ArrayBuffer.empty[Double]
    val busy = mutable.ArrayBuffer.empty[Double]
    var lagMax = 0.0
    var backlogMax = 0L
    val gc0 = gcMs()
    val cg0 = tracer.map(_.codegen())
    val clips0 = live.emitted.size
    val bytes0 = live.sinkBytes
    val timedFrom = WallClock.nowMs
    val t0 = System.nanoTime()
    var i = 0
    while (i < timedMax && System.nanoTime() - t0 < seconds * 1000000000L) {
      val due = t0 + i * periodNs
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val start = System.nanoTime()
      lagMax = math.max(lagMax, (start - due) / 1e6)
      backlogMax = math.max(backlogMax, (start - t0) / periodNs - i)
      live.doStep(WarmupSteps + i)
      val end = System.nanoTime()
      latency += (end - due) / 1e6
      busy += (end - start) / 1e6
      i += 1
    }
    val timedTo = WallClock.nowMs
    val n = i.toDouble
    val gcTimed = gcMs() - gc0
    val cg1 = tracer.map(_.codegen())
    val timedClips = live.emitted.size - clips0
    val timedKb = (live.sinkBytes - bytes0) / 1024.0

    System.gc()
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val finishMs = {
      val t = System.nanoTime()
      traced("runner.finishAll")(live.runner.finishAll())
      (System.nanoTime() - t) / 1e6
    }

    val batches = live.batches.take(WarmupSteps + i)
    val oracleT = System.nanoTime()
    val errors = Oracle.check(live.queries, live.registeredAt, live.emitted.toSeq, batches)
    System.err.println(f"${w.name}: phase ms timed ${(timedTo - timedFrom).toDouble}%.0f, " +
      f"finishAll $finishMs%.0f, oracle ${(System.nanoTime() - oracleT) / 1e6}%.0f")
    errors.take(20).foreach(e => System.err.println(s"MISMATCH $e"))
    if (errors.nonEmpty) System.err.println(s"${errors.size} mismatches")
    System.err.println(f"${w.name}: ${i} timed steps, ${live.emitted.size} clips, " +
      f"${live.queries.size} queries checked, setup ms ${setupMs.map(x => f"$x%.0f").mkString("/")}")
    System.err.println(s"${w.name}: step ms ${busy.map(x => f"$x%.0f").mkString(" ")}")

    val records = n * w.stream.batchRecords
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        Seq(
          ("setup_s", Stats.median(setupMs.toSeq) / 1000, "s"),
          ("records_per_s", records / (busy.sum / 1000), "records/s"),
          ("batch_ms_p50", Stats.median(latency.toSeq), "ms"),
          ("heap_mb", heapMb, "MB"))
      case Some(t) =>
        val layers = new LayerMetrics(t, timedFrom, timedTo, n)
        val handleUs = live.handleNs.map(_ / 1e3)
        val (cgN0, cgMs0, cgB0) = cg0.get
        val (cgN1, cgMs1, cgB1) = cg1.get
        val m = Seq(
          ("gen.lag_ms_max", lagMax, "ms"),
          ("gen.backlog_max", backlogMax.toDouble, "count"),
          ("control.msgs", live.handleNs.size.toDouble, "count"),
          ("control.handle_us_p50", if (handleUs.isEmpty) 0.0 else Stats.median(handleUs.toSeq), "us"),
          ("control.busy_ms", live.handleNs.sum / 1e6, "ms"),
          ("runner.busy_ms", layers.spanMs("runner.processBatch"), "ms"),
          ("runner.driver_ms", layers.driverMs, "ms"),
          ("runner.active_queries", live.activeAtStep.drop(WarmupSteps).sum / n, "count"),
          ("runner.tick_ms", layers.spanMs("runner.onTick"), "ms"),
          ("runner.finish_ms", finishMs, "ms"),
          ("plan.executions", layers.executions, "count"),
          ("plan.analysis_ms", layers.spanMs("plan.analysis"), "ms"),
          ("plan.optimization_ms", layers.spanMs("plan.optimization"), "ms"),
          ("plan.planning_ms", layers.spanMs("plan.planning"), "ms"),
          ("codegen.compiles", (cgN1 - cgN0) / n, "count"),
          ("codegen.compile_ms", (cgMs1 - cgMs0) / n, "ms"),
          ("codegen.source_kb", (cgB1 - cgB0) / 1024 / n, "KB"),
          ("spark.jobs", layers.jobs, "count"),
          ("spark.stages", layers.stages, "count"),
          ("spark.tasks", layers.tasks, "count"),
          ("spark.job_wall_ms", layers.jobWallMs, "ms"),
          ("spark.executor_run_ms", layers.task(_.runMs.toDouble), "ms"),
          ("spark.executor_cpu_ms", layers.task(_.cpuNs / 1e6), "ms"),
          ("spark.task_deser_ms", layers.task(_.deserMs.toDouble), "ms"),
          ("spark.result_kb", layers.task(_.resultBytes / 1024.0), "KB"),
          ("spark.shuffle_write_kb", layers.task(_.shuffleWrite / 1024.0), "KB"),
          ("spark.shuffle_read_kb", layers.task(_.shuffleRead / 1024.0), "KB"),
          ("sink.clips", timedClips / n, "count"),
          ("sink.kb", timedKb / n, "KB"),
          ("sink.render_ms", layers.spanMs("sink.render"), "ms"),
          ("jvm.gc_ms", gcTimed / n, "ms"))
        traceOut.foreach(p => layers.write(p, w.name, seed, m, latency.toSeq))
        t.close()
        m
    }
    Outcome(errors.isEmpty, live.attempted, live.failed, metrics)
  }
}
