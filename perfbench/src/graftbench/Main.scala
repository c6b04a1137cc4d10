package graftbench

/** Runs one workload and prints its notes, then one JSON result line:
  * `{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}`.
  * With `--trace 0` the metrics are the end-to-end ones, with
  * `--trace 1` the per-layer ones.
  *
  *   graftbench.Main --workload ticker_report --seed 1 --seconds 10 --trace 0 --work <dir>
  */
object Main {
  val workloads: Map[String, Workload] = Map(
    "ticker_report" -> TickerReport,
    "ticker_stream" -> TickerStream,
    "corpus_curate" -> CorpusCurate)

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val wl = workloads.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; known: ${workloads.keys.mkString(", ")}"))
    val r = wl.run(o)
    r.notes.foreach(n => println(s"# $n"))
    r.metrics.foreach(m => println(f"# ${m.name}%-34s ${m.value}%16.4f ${m.unit}"))
    val ms = r.metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"${m.name} is ${m.value}")
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}""")
    System.out.flush()
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
  }
}
