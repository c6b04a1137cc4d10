package graftbench

import graft.operators.TickerAnomaly

/** Checks the plan check itself: the executed plan of the collected
  * report keeps the z-score and islands windows, and the plan of the
  * report's count() (which the optimizer prunes down to the join key)
  * does not. Exits non-zero when either fails.
  *
  *   graftbench.SelfTest --work <dir> --cores <n>
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(Array("--workload", "plan", "--seed", "1", "--seconds", "1") ++ args)
    val spark = Session.build(o)
    val dir = s"${o.work}/tables"
    TickerData.write(spark, dir, o.seed, 2000, o.cores)
    val full = TickerAnomaly.report(spark, dir, TickerData.Cfg)
    full.collect()
    val counted = TickerAnomaly.report(spark, dir, TickerData.Cfg).groupBy().count()
    counted.collect()
    val keeps = Plans.keepsZscoreAndIslands(full.queryExecution.executedPlan)
    val prunedAway = !Plans.keepsZscoreAndIslands(counted.queryExecution.executedPlan)
    println(s"collected report keeps z-score and islands windows: $keeps")
    println(s"count() of the report prunes them: $prunedAway")
    spark.stop()
    if (!(keeps && prunedAway)) sys.exit(1)
  }
}
