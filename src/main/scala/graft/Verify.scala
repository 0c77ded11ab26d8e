package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * A FAILING entry must never silently vanish from the correctness file
  * (round 7 lost six entries exactly that way — the catch printed to
  * stderr and wrote nothing, indistinguishable from "never registered").
  * Every failure now leaves an explicit `_ERROR.json` artifact in the
  * entry's output directory (the driver's parquet read then fails and
  * records `err` for the entry) and the run exits non-zero. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL (or a Spark exception message)
    * would otherwise make the driver's json.load fail and silently zero
    * the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump every entry; returns the names that FAILED (error artifact
    * written per failure). Factored out of main so a spec can prove the
    * failure path: a broken entry yields `$outDir/$name/_ERROR.json`,
    * never a silent omission. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          entries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    // entries are independent: each dumps inside its own CacheScope (the
    // cleanup mechanism the library documents — dogfooded here under the
    // full 258-entry load), so an entry's persisted frames release at
    // scope exit and 250 dumps can't accumulate storage pressure.
    // Residual blocks ENTERING an entry mean some operator persisted
    // outside persistTracked (or handed work to another thread) — count
    // that loudly, then clearCache so the leak can't tax this entry.
    // localCheckpoint blocks are excluded from the residual count (see
    // CacheScope.residualOperatorPersists — the shared heuristic).
    var residualMax = 0
    val failed = entries.toSeq.flatMap { case (name, fn) =>
      try {
        val residual =
          graft.plans.CacheScope.residualOperatorPersists(spark)
        if (residual > 0) {
          residualMax = math.max(residualMax, residual)
          System.err.println(s"[verify] residual before $name: $residual blocks")
          spark.catalog.clearCache()
        }
        graft.plans.CacheScope(spark) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // the artifact replaces any stale parquet from a prior dump —
        // a half-written directory must not pass as a fresh result.
        // RECURSIVE delete: an action-time failure can leave a non-empty
        // _temporary/ tree, which File.delete silently no-ops on.
        def wipe(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(wipe))
          f.delete(); ()
        }
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) Option(dir.listFiles()).foreach(_.foreach(wipe))
        else dir.mkdirs()
        val msg = s"""{"entry":${q(name)},"error_class":${q(e.getClass.getName)},""" +
          s""""message":${q(Option(e.getMessage).getOrElse("").take(2000))}}"""
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.json"), msg)
        Some(name)
      }
    }
    if (residualMax > 0)
      System.err.println(s"[verify] WARNING: up to $residualMax persisted " +
        "blocks leaked past an entry's CacheScope — an operator is " +
        "persisting outside CacheScope.persistTracked")
    failed
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-list of entry names to dump (iteration
    // aid — the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = run(spark, sfDir, outDir, selected)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} entries FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
