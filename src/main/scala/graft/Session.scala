package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every command-line main runs on. */
object Session {
  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time, no UI. */
  def local(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    // AQE may re-coalesce cached-plan output (persistTracked frames)
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
