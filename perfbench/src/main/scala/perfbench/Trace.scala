package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as the epoch-millisecond times Spark's listener events carry. */
object WallClock {
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6
}

/** One traced interval. `group` is the step (batch) it belongs to, -1 for
  * set-up; `parent` indexes the enclosing span, -1 for a root. */
final case class Span(name: String, group: Int, start: Double, end: Double, parent: Int)

/**
 * In-memory tracer for one run. Benchmark spans nest on the driver thread
 * around each call into the engine; Spark's listener APIs contribute
 * `plan.<phase>` spans (from each execution's `QueryPlanningTracker`) and
 * `spark.job` spans. `processBatch` is `synchronized` and its jobs run on
 * the runner's own pool, so a listener span is attributed to the innermost
 * benchmark span whose interval contains its start.
 */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  var group: Int = -1

  def span[A](name: String)(body: => A): A = {
    val idx = spans.size
    spans += Span(name, group, WallClock.nowMs, Double.NaN, open.headOption.getOrElse(-1))
    open = idx :: open
    try body finally {
      open = open.tail
      spans(idx) = spans(idx).copy(end = WallClock.nowMs)
    }
  }

  final case class Task(finish: Double, runMs: Long, cpuNs: Long, deserMs: Long,
                        resultBytes: Long, shuffleWrite: Long, shuffleRead: Long)

  // Filled on Spark's listener-bus thread; read only after drain().
  private val jobStart = mutable.HashMap.empty[Int, Double]
  private val jobs = mutable.ArrayBuffer.empty[(Double, Double)]
  private val stages = mutable.ArrayBuffer.empty[Double]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private val executions = mutable.ArrayBuffer.empty[Double]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart(e.jobId) = e.time.toDouble
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time.toDouble)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      tasks += Task(e.taskInfo.finishTime.toDouble, m.executorRunTime, m.executorCpuTime,
        m.executorDeserializeTime, m.resultSize, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead)
    }
  }
  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases
      ps.foreach { case (name, p) => phases += ((s"plan.$name", p.startTimeMs.toDouble, p.endTimeMs.toDouble)) }
      executions += ps.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis()).toDouble
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)

  /** Waits until Spark has delivered every listener event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Codegen compile count, total compile ms and total source bytes so far.
    * Spark keeps these as histograms, so the totals are count × mean. */
  def codegen(): (Long, Double, Double) = {
    val t = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    (t.getCount, t.getCount * t.getSnapshot.getMean, s.getCount * s.getSnapshot.getMean)
  }

  /** Benchmark spans plus listener spans attributed to their parents. */
  def allSpans(): IndexedSeq[Span] = {
    drain()
    val bench = spans.toIndexedSeq
    val starts = bench.map(_.start).toArray
    def parentOf(t: Double): Int = {
      var i = java.util.Arrays.binarySearch(starts, t) match {
        case j if j >= 0 => j
        case j           => -j - 2
      }
      while (i >= 0 && !(bench(i).start <= t && t <= bench(i).end)) i = bench(i).parent
      i
    }
    def group(p: Int) = if (p >= 0) bench(p).group else -1
    val fromListeners = (phases.toSeq ++ jobs.map { case (s, e) => ("spark.job", s, e) })
      .map { case (n, s, e) => val p = parentOf(s); Span(n, group(p), s, e, p) }
    bench ++ fromListeners
  }

  def jobIntervals: Seq[(Double, Double)] = { drain(); jobs.toSeq }
  def stageTimes: Seq[Double] = { drain(); stages.toSeq }
  def taskList: Seq[Task] = { drain(); tasks.toSeq }
  def executionStarts: Seq[Double] = { drain(); executions.toSeq }
}

object Tracer {
  /** Per span name: count, total ms and self ms (duration minus the part
    * its children cover), over spans that start inside [from, to]. */
  def layerTable(all: IndexedSeq[Span], from: Double, to: Double): Seq[(String, Int, Double, Double)] = {
    val children = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
    all.foreach(s => if (s.parent >= 0)
      children.getOrElseUpdate(s.parent, mutable.ArrayBuffer.empty) += ((s.start, s.end)))
    all.indices.filter(i => all(i).start >= from && all(i).start <= to)
      .groupBy(i => all(i).name).toSeq.map { case (name, idx) =>
        val total = idx.map(i => all(i).end - all(i).start).sum
        val self = idx.map { i =>
          Stats.selfTime(all(i).start, all(i).end, children.get(i).map(_.toSeq).getOrElse(Nil))
        }.sum
        (name, idx.size, total, self)
      }.sortBy(-_._4)
  }
}
