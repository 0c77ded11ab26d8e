package graft

import org.apache.spark.sql.SparkSession

/** Single-JVM isolation bench:
  * `runMain graft.BenchOne <entry>[,<entry>...] [sfDir]`.
  *
  * The full [[Bench]] measures every entry in one JVM, which is the
  * driver-comparable number but couples a query's sample to the JIT/GC
  * state the preceding entries left behind (the r6 regression cluster;
  * the r11 driver run's 42 phantom flags). BenchOne is the clean-room
  * counterpart: sbt (or [[Bench]]'s self-adjudication spawn) forks a
  * FRESH JVM per invocation, only the named entries' plans compile, and
  * each entry reports the MEDIAN of `SPARK_GRAFT_SAMPLES` (default 5)
  * post-warmup runs — the stable statistic for "did my change make
  * this one query faster". A comma-list runs the entries IN ORDER in
  * the one JVM, one summary line each — the baseline re-probe's ~9
  * small entries would otherwise pay ~9 JVM+session startups (the
  * batch is the degraded-window baseline re-emit, Bench's `source:
  * "fresh"` path; pass cheap entries first so the heavy runner benches
  * can't tax the sub-second entries' codegen neighborhood).
  *
  * Besides `SparkEntry.queries` names, the runner benches
  * (b7_runner_100q, b11_runner_1000q, b9/b10/b14) resolve through
  * [[Bench.runnerBody]] so the headline blocks can be adjudicated
  * fresh too; those warm TWICE (the shared pass reaches steady state
  * on its third execution — Janino on run 1, C2 on run 2).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <entry>[,<entry>...] [sfDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nSamples =
      try math.max(1, sys.env.getOrElse("SPARK_GRAFT_SAMPLES", "5").trim.toInt)
      catch { case _: Throwable => 5 }
    // resolve EVERY name before any work: a typo in the 5th entry of a
    // batch must fail fast, not after four measured entries
    val bodies: Seq[(String, (SparkSession, String) => Unit, Int)] =
      names.map { name =>
        SparkEntry.queries.get(name) match {
          case Some(fn) =>
            (name, (s: SparkSession, d: String) => { fn(s, d).count(); () }, 1)
          case None => Bench.runnerBody(name) match {
            case Some(b) => (name, b, 2)
            case None => sys.error(s"unknown entry '$name'; known: " +
              SparkEntry.queries.keys.toSeq.sorted.mkString(", ") +
              ", " + Bench.runnerBenchNames.mkString(", "))
          }
        }
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val r3 = (v: Double) => math.rint(v * 1000) / 1000
    bodies.foreach { case (name, body, warmups) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        body(spark, sfDir)
        (System.nanoTime() - t0) / 1e9
      }
      (1 to warmups).foreach(_ => once()) // codegen + parquet footers, discarded
      val samples = Vector.fill(nSamples)(once()).sorted
      val median = samples(samples.size / 2)
      println(s"""{"metric":"median","entry":"$name","value":${r3(median)},"unit":"sec",""" +
        s""""samples":[${samples.map(r3).mkString(",")}],"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
