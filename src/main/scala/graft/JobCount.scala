package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Deterministic cost profile of a driver entry: Spark JOB / stage /
  * task counts for one cold execution — the window-independent
  * counterpart of a wall-clock sample. The ANN stored-index entries are
  * measured job-latency-bound (b12: constricting 32→8 cores makes them
  * SLOWER — the wall is count-of-jobs × per-job latency, not compute),
  * and this box's hour-scale 1.4–7× speed swings drown wall A/Bs
  * (BENCH_NOTES r11–r14), so "did the change remove driver jobs" is the
  * statistic to pin. Usage:
  * `runMain graft.JobCount <entry>[,<entry>...] [sfDir]` — one JSON
  * line per entry: {"entry":..., "jobs":N, "stages":N, "tasks":N}.
  * Events post async to the listener bus; a post-action settle sleep
  * bounds the undercount (entries here run seconds, the bus drains in
  * milliseconds). */
object JobCount {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobCount <entry>[,<entry>...] [sfDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    // SPARK_GRAFT_JOBLOG=1: additionally print one line per job (call
    // site + description) — the breakdown view for deciding WHICH jobs
    // a pass-removal optimization should target.
    val jobLog = sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLog) {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("")
          println(s"[job] id=${j.jobId} stages=${j.stageInfos.size} " +
            s"site=$site desc=${desc.take(120)}")
        }
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown entry '$name'"))
      Thread.sleep(1000) // drain any tail events from the previous entry
      jobs.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      graft.plans.CacheScope(spark) { fn(spark, sfDir).count(); () }
      val wallMs = (System.nanoTime() - t0) / 1e6
      Thread.sleep(1000) // let the listener bus drain before reading
      println(s"""{"entry":"$name","jobs":${jobs.get},""" +
        s""""stages":${stages.get},"tasks":${tasks.get},""" +
        s""""wall_ms":${math.rint(wallMs)}}""")
    }
    spark.stop()
  }
}
