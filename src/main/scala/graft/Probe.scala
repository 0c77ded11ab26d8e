package graft

/** Sketch exact-regime scale probe: asserts every precondition in
  * [[SparkEntry.exactRegimeProbes]] against the ACTUAL fixture
  * cardinalities at the given SF dir. Run at EVERY driver-checked SF
  * (sf0.001, sf0.01, sf0.1) — sketch regimes are SF-dependent, and only
  * the largest SF exposes a fixture that outgrew its sketch. Exits
  * nonzero on any violation so the verify flow fails loudly. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val violations = SparkEntry.exactRegimeProbes.toSeq.sortBy(_._1).flatMap {
      case (name, probe) =>
        val r =
          try probe(spark, sfDir)
          catch { case e: Throwable => Some(s"probe error: ${e.getMessage}") }
        r match {
          case None      => println(s"[probe] OK   $name"); None
          case Some(msg) => println(s"[probe] FAIL $name — $msg"); Some(name)
        }
    }
    spark.stop()
    if (violations.nonEmpty) {
      System.err.println(s"[probe] ${violations.size} exact-regime violations at $sfDir")
      sys.exit(1)
    }
    println(s"[probe] all ${SparkEntry.exactRegimeProbes.size} exact-regime checks green at $sfDir")
  }
}
