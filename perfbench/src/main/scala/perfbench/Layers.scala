package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Per-layer figures of one traced run, per timed step: every span, job,
  * stage, task and plan phase that starts (or, for tasks and stages,
  * finishes) inside the timed window [from, to]. */
final class LayerMetrics(t: Tracer, from: Double, to: Double, n: Double) {
  val spans: IndexedSeq[Span] = t.allSpans()
  private def inWindow(x: Double) = x >= from && x <= to
  private val timed = spans.filter(s => inWindow(s.start))
  private val jobIv = t.jobIntervals.filter(j => inWindow(j._1))
  private val timedTasks = t.taskList.filter(x => inWindow(x.finish))

  def spanMs(name: String): Double = timed.filter(_.name == name).map(s => s.end - s.start).sum / n
  def executions: Double = t.executionStarts.count(inWindow) / n
  def jobs: Double = jobIv.size / n
  def stages: Double = t.stageTimes.count(inWindow) / n
  def tasks: Double = timedTasks.size / n
  def task(f: Tracer#Task => Double): Double = timedTasks.map(f).sum / n
  def jobWallMs: Double =
    Stats.unionLength(jobIv.map { case (s, e) => (s, math.min(e, to)) }) / n
  /** `processBatch` wall time that no Spark job interval covers. */
  def driverMs: Double = timed.filter(_.name == "runner.processBatch")
    .map(s => Stats.selfTime(s.start, s.end, jobIv)).sum / n

  /** Writes the spans, the layer table and the metrics as JSON. */
  def write(path: String, workload: String, seed: Long,
            metrics: Seq[(String, Double, String)], latency: Seq[Double]): Unit = {
    def q(s: String) = "\"" + s + "\""
    val stepMs = timed.filter(_.name == "step").map(s => s.end - s.start).sum
    val table = Tracer.layerTable(spans, from, to).map { case (name, count, total, self) =>
      s"""{"span":${q(name)},"count":$count,"total_ms":$total,"self_ms":$self,""" +
        s""""self_per_step_ms":${self / n},"self_share_of_steps":${self / stepMs}}"""
    }
    val ms = metrics.map { case (k, v, u) => s"""${q(k)}:{"value":$v,"unit":${q(u)}}""" }
    val sp = spans.map(s => s"""[${q(s.name)},${s.group},${s.start},${s.end},${s.parent}]""")
    val json =
      s"""{"workload":${q(workload)},"seed":$seed,"timed_steps":${n.toInt},""" +
        s""""timed_from_ms":$from,"timed_to_ms":$to,""" +
        s""""latency_ms":[${latency.mkString(",")}],""" +
        s""""latency_p90_ms":${Stats.tailPercentile(latency, 90).getOrElse("null")},""" +
        s""""metrics":{${ms.mkString(",")}},""" +
        s""""layers":[${table.mkString(",\n")}],""" +
        s""""span_fields":["name","group","start_ms","end_ms","parent"],""" +
        s""""spans":[${sp.mkString(",\n")}]}"""
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, json.getBytes(StandardCharsets.UTF_8))
  }
}
