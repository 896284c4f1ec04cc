package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.{MatchKeyConfig, Reservoir}

/** Domain-path soak: synthesize records with controlled key-collision
  * structure over many sources, then check that incremental-batch ingest
  * cost stays flat as the table grows — the partitioned copy-on-write
  * record store and bucketed pool state must make per-batch I/O
  * proportional to the batch's sources/touched clusters, not table size.
  *
  * Usage: runMain graft.tools.IngestBench [nRecords] [batchSize] [growFactor]
  * (runs at local[SPARK_GRAFT_CPUS], default 32)
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(50000)
    val batch = args.lift(1).map(_.toInt).getOrElse(5000)
    val grow = args.lift(2).map(_.toInt).getOrElse(10)
    val nSources = 20
    val spark = graft.Bench.benchSession("IngestBench")
    spark.sparkContext.setLogLevel("ERROR")

    val root = graft.storage.Catalog.tempRoot("graft-soak")
    val r = new Reservoir(spark, root, "bench")
    r.putMatchKeyConfig(MatchKeyConfig("issn", "jsonpath:$.inventory.issn[*]"))

    // every ~3 records share an issn -> clusters of ~3 (the PALCI shape:
    // ~3 match entries per bib, database/create-shared-index-database.sql:97);
    // records spread across nSources institutions unless pinned to one
    def mkBatch(from: Int, count: Int, source: Option[String] = None) = {
      val src = source.map(lit).getOrElse(
        concat(lit("SRC"), pmod(col("id"), lit(nSources))))
      spark.range(from, from + count).select(
        concat(lit("L"), col("id")).as("localId"),
        src.as("sourceId"),
        lit(1).as("sourceVersion"),
        concat(lit("""{"marc":{"leader":"x","fields":[{"001":"L"""), col("id"),
          lit(""""}]},"inventory":{"issn":["K"""), (col("id") / 3).cast("long"),
          lit(""""]}}""")).as("payloadJson"),
        lit(false).as("delete"))
    }

    def time[T](name: String)(f: => T): Double = {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[soak] $name: $s%.2f s")
      s
    }

    time(s"initial ingest+cluster of $n over $nSources sources") {
      r.ingest(mkBatch(0, n))
    }
    val tSmall = time(s"incremental batch of $batch at table=$n") {
      r.ingest(mkBatch(n, batch, Some("SRC1")))
    }
    time(s"grow table to ${grow}x (${grow.toLong * n})") {
      var at = n + batch
      while (at < grow.toLong * n) {
        val step = math.min(n, grow.toLong * n - at).toInt
        // per-step wall at the current table size: each step is an
        // n-record ingest, so a flat sequence here IS the
        // batch-proportional-I/O evidence across the whole growth range
        val t0 = System.nanoTime()
        r.ingest(mkBatch(at, step))
        println(f"[soak] grow step ($step recs) at table=$at: " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        at += step
      }
    }
    val tBig = time(s"incremental batch of $batch at table=${grow.toLong * n}") {
      r.ingest(mkBatch(grow * n + batch, batch, Some("SRC1")))
    }
    println(f"[soak] flatness ratio (big/small): ${tBig / tSmall}%.2f " +
      s"(1.0 = perfectly flat, $grow = O(table))")
    time("cluster count") { println("[soak] clusters: " + r.clusters("issn").count()) }
    time("cql cluster lookup") {
      println("[soak] hit: " + r.clusters("issn", "localId = L42").count())
    }
    time("pool stats") { r.stats("issn").show(5, truncate = false) }
    time("oai page (1000)") {
      val p = r.listRecords("issn", limit = 1000)
      println(s"[soak] page items=${p.items.length} token=${p.resumptionToken.isDefined}")
    }
    spark.stop()
  }
}
