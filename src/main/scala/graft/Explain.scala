package graft

/** Plan-audit tool: `runMain graft.Explain <entry> [sfDir]` prints the
  * formatted physical plan of a driver-contract entry — the loop used to
  * check pushdown/broadcast/codegen shape before each round's bench. */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <queryName> [sfDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown entry '$name'; have: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
