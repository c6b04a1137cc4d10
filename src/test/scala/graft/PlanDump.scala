package graft

/** Writes `.explain("formatted")` for named queries to files, to diff
  * a query's physical plan before and after a change. Usage:
  *
  *   sbt "Test/runMain graft.PlanDump target/plans _before q108_cross_correlation q111_granger"
  *
  * args: <outDir> <suffix> <query names...> (empty names = all).
  * Data dir from SPARK_GRAFT_SF_DIR (default sf0.001 — plans are
  * shape-identical across SFs except for stats, and the small SF keeps
  * the dump to seconds). Plan-only: nothing executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [names...]")
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = args(1)
    val names = args.drop(2).toSet
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.get("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names(n) }
      .foreach { case (name, fn) =>
        val df = fn(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val f = new java.io.PrintWriter(
          new java.io.File(outDir, s"$name$suffix.txt"))
        try f.println(txt) finally f.close()
        println(s"dumped $name$suffix")
      }
    spark.stop()
  }
}
