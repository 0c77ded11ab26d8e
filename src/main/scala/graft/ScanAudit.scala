package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Emit the per-entry PHYSICAL parquet-scan count over one executed run
  * of every driver entry — the committed baseline behind
  * `ScanCountAuditSpec`. A plan that re-executes an expensive subtree
  * (the double-execution class: two consumers + column pruning
  * defeating exchange reuse) shows up as extra executions of the same
  * scan; freezing today's counts turns any future regrowth into a test
  * failure instead of a bench surprise.
  *
  * r15 (VERDICT r14 item 7): counts come from a LISTENER, not a plan
  * grep. The old `executedPlan.toString` line count re-printed every
  * cached subtree once per InMemoryTableScan reference, so persisted
  * operators (graph iteratives, tf) reported phantom scans that moved
  * both directions while true physical scans dropped to one. The
  * listener counts FileScanRDDs inside SUBMITTED stages: each submitted
  * stage containing a file scan physically reads those files once, a
  * skipped stage (reused shuffle/cached data) reads nothing, and a
  * subtree that re-executes resubmits its scan stage and is counted
  * again — exactly the double-execution signal the gate exists for.
  *
  * Usage: `runMain graft.ScanAudit <sfDir> <outFile>`.
  */
object ScanAudit {
  /** Legacy printed-plan scan count (kept for ad-hoc plan reading; the
    * committed gate uses [[executedScanCount]]). */
  def scanCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))

  /** Count of file-scan stage executions while `body` runs: the number
    * of FileScanRDDs across the stages OUR jobs submit (attributed by a
    * unique job group, so concurrent suites sharing the session cannot
    * inflate the count; work an entry hands to other threads — streaming
    * micro-batches — is consistently excluded on both the baseline and
    * the gate side, and the gate is one-sided). The listener bus is
    * async — a settle sleep after the action bounds the undercount
    * (entries run seconds; the bus drains in milliseconds). */
  def executedScanCount(spark: SparkSession)(body: => Unit): Long = {
    val group = s"scan-audit-${java.util.UUID.randomUUID()}"
    val scans = new AtomicLong
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        val g = Option(s.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) scans.addAndGet(
          s.stageInfo.rddInfos.count(_.name.contains("FileScanRDD")).toLong)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "scan audit", interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500)
      scans.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        spark.catalog.clearCache()
        val n = executedScanCount(spark) {
          graft.plans.CacheScope(spark) { fn(spark, sfDir).count(); () }
        }
        Some(s""" "$name": $n""")
      } catch { case e: Throwable =>
        System.err.println(s"[scan-audit] $name failed: ${e.getMessage}"); None
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      rows.mkString("{\n", ",\n", "\n}\n"))
    println(s"[scan-audit] ${rows.size} entries -> $out")
    spark.stop()
  }
}
