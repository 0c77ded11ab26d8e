package graft.plans

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerDrain

import scala.collection.mutable

import graft.{Session, SparkEntry}

/** Deterministic cost profile of one execution: Spark jobs, stages, tasks
  * and physical file scans — the window-independent counterpart of a
  * wall-clock sample. The ANN stored-index entries are job-latency-bound
  * (the wall is count-of-jobs × per-job latency) and wall clocks on a
  * shared host swing far more than a change moves them, so "did the
  * change remove jobs or scans" is the statistic to pin.
  * `ScanCountAuditSpec` gates `scans` against the committed
  * `scan_baseline.json`.
  *
  * Attribution is by WINDOW: a job counts when it starts between listener
  * install and removal, whatever thread ran it (the par2/par3 ANN bodies
  * act on pooled threads), and its stages and tasks count through their
  * stage ids. Stream micro-batch jobs (tagged with Spark's
  * `sql.streaming.queryId`) count only in `streamJobs`; their stages,
  * tasks and scans are excluded. `scans` is the number of FileScanRDDs
  * inside SUBMITTED stages: a submitted scan stage reads its files once,
  * a skipped stage (reused shuffle or cache) reads nothing, and a subtree
  * that re-executes resubmits its scan stage and counts again — exactly
  * the double-execution signal. The listener bus is drained before
  * install and after the body, so no tail event is lost or borrowed.
  *
  * Usage: `runMain graft.plans.Profile <entry>[,<entry>...]|all [sfDir]
  * [baselineOut]` (sfDir defaults to `SPARK_GRAFT_SF_DIR`) — one JSON
  * line per entry:
  * {"entry", "jobs", "stages", "tasks", "scans", "stream_jobs", "wall_ms"}.
  * Entries run in the order given (`all`: name order), and the FIRST
  * entry's `wall_ms` includes the session's warm-up (class loading, the
  * first plans and generated code): at sf0.001 on 4 cores `q_ab_test`
  * took 6.4 s run first and 0.6 s run again after `q_ab_segmented`, on
  * the same 6 jobs. Compare walls of entries that did not run first.
  * With `baselineOut` it also writes the per-entry scan counts in the
  * `scan_baseline.json` format; if any entry throws it names the failed
  * entries, writes nothing and exits non-zero. `SPARK_GRAFT_JOBLOG=1`
  * also prints one line per job (call site + description) — the view for
  * deciding WHICH jobs a pass-removal optimization should target. */
object Profile {
  final case class Counts(jobs: Long, stages: Long, tasks: Long, scans: Long,
                          streamJobs: Long)

  /** Window counter; every callback runs on the listener bus's thread. */
  private final class Listener(jobLog: Boolean) extends SparkListener {
    @volatile var counts = Counts(0, 0, 0, 0, 0)
    private val stageIds = mutable.Set.empty[Int]

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val prop = (k: String) => Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop("sql.streaming.queryId").isDefined)
        counts = counts.copy(streamJobs = counts.streamJobs + 1)
      else {
        counts = counts.copy(jobs = counts.jobs + 1)
        stageIds ++= j.stageIds
      }
      if (jobLog)
        println(s"[job] id=${j.jobId} stages=${j.stageInfos.size} " +
          s"site=${prop("callSite.short").getOrElse("")} " +
          s"desc=${prop("spark.job.description").getOrElse("").take(120)}")
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      if (stageIds(s.stageInfo.stageId)) counts = counts.copy(
        stages = counts.stages + 1,
        scans = counts.scans + s.stageInfo.rddInfos.count(_.name.contains("FileScanRDD")))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (stageIds(t.stageId)) counts = counts.copy(tasks = counts.tasks + 1)
  }

  /** What `body` costs, counted over the listener's install-to-remove
    * window. A stream left running by earlier work would land its
    * micro-batches in the window, so none may be active. */
  def measure(spark: SparkSession, jobLog: Boolean = false)(body: => Unit): Counts = {
    require(spark.streams.active.isEmpty, "a streaming query is still active: " +
      spark.streams.active.map(q => Option(q.name).getOrElse(q.id.toString)).mkString(", "))
    val sc = spark.sparkContext
    val listener = new Listener(jobLog)
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerDrain(sc)
      listener.counts
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <entry>[,<entry>...]|all [sfDir] [baselineOut]"
    require(args.nonEmpty, usage)
    val names = if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown entry '$n'"))
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(s"$usage (or set SPARK_GRAFT_SF_DIR)"))
    val out = args.lift(2)
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")
    val jobLog = sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")
    val rows = names.map { name =>
      try {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val c = measure(spark, jobLog) {
          CacheScope(spark) { SparkEntry.queries(name)(spark, sfDir).count(); () }
        }
        val wallMs = (System.nanoTime() - t0) / 1e6
        println(s"""{"entry":"$name","jobs":${c.jobs},"stages":${c.stages},""" +
          s""""tasks":${c.tasks},"scans":${c.scans},"stream_jobs":${c.streamJobs},""" +
          s""""wall_ms":${math.rint(wallMs)}}""")
        Right(s""" "$name": ${c.scans}""")
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name failed: $e"); Left(name)
      }
    }
    spark.stop()
    val failed = rows.collect { case Left(n) => n }
    if (failed.nonEmpty) {
      System.err.println(s"[profile] ${failed.size} entries failed: " +
        failed.mkString(", ") + out.fold("")(o => s"; $o not written"))
      sys.exit(1)
    }
    out.foreach { o =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(o),
        rows.collect { case Right(row) => row }.mkString("{\n", ",\n", "\n}\n"))
      println(s"[profile] ${rows.size} entries -> $o")
    }
  }
}
