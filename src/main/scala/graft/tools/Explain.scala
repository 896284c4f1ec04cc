package graft.tools

import graft.SparkEntry

/** Plan-inspection main: prints the formatted physical plan of the given
  * queries (or the headline set) so pushdown/broadcast/codegen can be
  * audited per operator (the "iterate until it's the plan you'd want" loop).
  *
  * Usage: runMain graft.tools.Explain [sfDir] [queryName ...]
  * (runs at local[SPARK_GRAFT_CPUS], default 32)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.allQ.filter(_.headline).map(_.name)
    val spark = graft.Bench.benchSession("Explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
