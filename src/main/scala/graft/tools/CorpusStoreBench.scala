package graft.tools

import org.apache.spark.sql.functions._

/** CorpusStore incremental-ingest soak: is a micro-batch commit's cost
  * dominated by the BATCH (good) or by the store (the failure mode the
  * per-source partitioning + slim indexes exist to avoid)?
  *
  *  1. `writeDeduped` the sf dir's documents table (the q216 path —
  *     data + gram/docs indexes);
  *  2. time `ingestBatch` for a small batch duplicating stored passages
  *     of an UNTOUCHED source (exercises the store-wide gram probe:
  *     full slim index scan + confirmation read of hit docs);
  *  3. time a second batch of FRESH text (probe scans the index, finds
  *     nothing — the common case).
  *
  * The honest contract (documented on ingestBatch): the probe reads only
  * the winnow-sampled index buckets the batch's own key set names — with
  * the bucket count sized to the store, per-batch probe I/O is O(batch
  * keys × bucket size), not O(store index). This tool puts a NUMBER on
  * that so the store-size slope is observed, not inferred — run it on
  * the 10× and 100× wordsalt dirs and compare (`buckets` is the floor of
  * the store's moduli, which grow with its bytes).
  *
  * Usage: runMain graft.tools.CorpusStoreBench [sfDir] [batchSize]
  *   [winnowW] [buckets]
  */
object CorpusStoreBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchSize = args.lift(1).map(_.toInt).getOrElse(200)
    val winnowW = args.lift(2).map(_.toInt).getOrElse(8)
    val buckets = args.lift(3).map(_.toInt).getOrElse(16)
    val loadBefore = graft.Bench.loadavgJson()
    val spark = graft.Bench.benchSession("graft-corpus-store-bench")
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Tables(spark, dir).documents

    val root = graft.storage.Catalog.tempRoot("graft-store-soak")
    val cat = new graft.storage.Catalog(spark, root, "bench")

    def time[T](f: => T): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    // Spark-JOB counter: the commit protocol's driver-side orchestration
    // cost (bounded collects + staged writes + commit reads) as a
    // DETERMINISTIC structural metric — wall clock on a contended box
    // can't resolve a few hundred ms of per-job overhead, job count can.
    // Public API: tag the section as a job group, count via statusTracker.
    def countJobs[T](tag: String)(f: => T): Int = {
      spark.sparkContext.setJobGroup(tag, tag)
      try f finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500) // status store is async behind the listener bus
      spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
    }

    val tStore = time {
      graft.storage.CorpusStore.writeDeduped(cat, "c", docs,
        "doc_id", "text", "source", winnowW = winnowW, buckets = buckets)
    }
    val schema = graft.storage.CorpusStore.storedSchema("doc_id", "source",
      "text")
    val nStored = cat.readPartitionedOr("c", schema).count()

    // batch 1: duplicates of an untouched source's stored passages (the
    // q232 construction — unique prefixes + src1 text, landing in a new
    // source), so the probe HITS and the confirmation path runs
    val dup = cat.readPartitionedOr("c", schema)
      .filter(col("source") === "src1")
      .orderBy(col("doc_id")).limit(batchSize)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        lit("soak_dup").as("source"),
        concat(lit("zq"), col("doc_id").cast("string"), lit("a zq"),
          col("doc_id").cast("string"), lit("b "), col("text")).as("text"))
      .persist()
    dup.count()
    var dupJobs = 0
    val tDup = time {
      dupJobs = countJobs("soak_dup") {
        graft.storage.CorpusStore.ingestBatch(cat, "c", dup, 0L,
          "doc_id", "text", "source", winnowW = winnowW, buckets = buckets)
      }
    }

    // batch 2: fresh text (deterministic word salad, no stored grams) —
    // the probe reads its pruned index buckets and finds nothing
    val fresh = spark.range(batchSize).select(
        (col("id") + 20000000L).as("doc_id"),
        lit("soak_fresh").as("source"),
        concat_ws(" ", (0 until 120).map(i =>
          concat(lit(s"w$i"), pmod(col("id") * 37 + i * 101, lit(99991))
            .cast("string"))): _*).as("text"))
      .persist()
    fresh.count()
    var freshJobs = 0
    val tFresh = time {
      freshJobs = countJobs("soak_fresh") {
        graft.storage.CorpusStore.ingestBatch(cat, "c", fresh, 1L,
          "doc_id", "text", "source", winnowW = winnowW, buckets = buckets)
      }
    }

    // batch 3: the HOT-SOURCE case (r15 verdict item 2) — re-ingest a
    // small batch of src1's own docs with replaced text: same-id upsert
    // into the store's biggest source. Pre-bucketing this rewrote (and
    // re-deduped) the WHOLE source per batch; now it must touch only the
    // batch's dirty id-buckets, so the wall is bounded by batch + bucket,
    // not source size.
    val hot = cat.readPartitionedOr("c", schema)
      .filter(col("source") === "src1")
      .orderBy(col("doc_id")).limit(batchSize)
      .select(col("doc_id"), lit("src1").as("source"),
        concat(lit("hotswap"), col("doc_id").cast("string"), lit(" "),
          col("text")).as("text"))
      .persist()
    hot.count()
    var hotJobs = 0
    val tHot = time {
      hotJobs = countJobs("soak_hot") {
        graft.storage.CorpusStore.ingestBatch(cat, "c", hot, 2L,
          "doc_id", "text", "source", winnowW = winnowW, buckets = buckets)
      }
    }

    val (_, idxManifest) = cat.snapshot("c__idx")
    val gramRows = cat.readGroupOr("c__idx", idxManifest, "grams",
      graft.storage.CorpusStore.gramIndexSchema("doc_id", "source")).count()

    println(f"""{"metric":"corpus_store_soak","store_sec":$tStore%.2f,""" +
      f""""n_stored":$nStored,"gram_index_rows":$gramRows,""" +
      f""""winnow_w":$winnowW,"buckets":$buckets,""" +
      f""""batch":$batchSize,"ingest_dup_sec":$tDup%.2f,""" +
      f""""ingest_fresh_sec":$tFresh%.2f,"ingest_hot_sec":$tHot%.2f,""" +
      f""""ingest_dup_jobs":$dupJobs,"ingest_fresh_jobs":$freshJobs,""" +
      f""""ingest_hot_jobs":$hotJobs,""" +
      f""""sf":"$dir"""" +
      graft.Bench.sentinelJson(spark, loadBefore) + "}")
    spark.stop()
  }
}
