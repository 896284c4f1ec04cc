package perfbench

import org.apache.spark.sql.SparkSession

/** A tiny fixed query for the listener test: connected components over five
  * edges, collected by this object (no graft frame on that stack, so its
  * jobs fall to the `perfbench.layer` scope, or to "bench" without one).
  * Prints one JSON object: the layer of each job in submission order, and
  * `layerOf` on two fixed call-site strings.
  */
object ListenerCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new CallSiteListener
    spark.sparkContext.addSparkListener(listener)
    import spark.implicits._
    val edges = Seq(("a", "k1"), ("b", "k1"), ("b", "k2"), ("c", "k2"), ("d", "k3"))
      .toDF("id", "key")
    spark.sparkContext.setJobGroup("cc", "cc")
    val comps = graft.cluster.Clusterize.connectedComponents(edges)
    val n = comps.collect().length
    spark.sparkContext.setJobGroup("scoped", "scoped")
    spark.sparkContext.setLocalProperty("perfbench.layer", "api")
    comps.count()
    spark.sparkContext.setLocalProperty("perfbench.layer", null)
    listener.drain()
    val (jobs, _) = listener.snapshot()
    val samples = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
        "graft.storage.Catalog.commit(Catalog.scala:10)\n" +
        "graft.api.Reservoir.ingest(Reservoir.scala:20)",
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
        "graft.Tables.documents(Tables.scala:5)\nperfbench.X.y(X.scala:1)")
    println(PerfBench.mapper.writeValueAsString(Run.obj(
      "rows" -> n,
      "jobs" -> jobs.map(j => Run.obj("group" -> j.group, "layer" -> j.layer)),
      "layer_of" -> samples.map(CallSiteListener.layerOf))))
    spark.stop()
  }
}
