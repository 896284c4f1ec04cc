package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.{MatchKeyConfig, Reservoir}
import graft.storage.{Catalog, CorpusStore}

/** One timed call into the program: a batch, a lookup, a page or a query
  * pass. `obs` holds what the call returned, for the output checks.
  */
final class Op(val id: String, val kind: String, val round: Int, val startMs: Long) {
  var endMs = 0L
  var wallNs = 0L
  var items = 0L
  var ok = true
  var error = ""
  val obs = new java.util.LinkedHashMap[String, Any]()
}

/** The measured run of one workload: set-up, a closed loop of ops from one
  * client thread, untimed output observations, and (traced runs only) the
  * listener's job records and the direct-call spans.
  *
  * Usage: PerfBench (<workload> <manifest.json> <seconds> <trace 0|1> <out.json>)+
  *
  * A measured run passes one group of arguments. Several groups run one
  * after the other in the same JVM, each with its own session; the JVM
  * that records the class archive uses that to load both workloads' classes.
  */
object PerfBench {

  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    var start = System.nanoTime()
    args.grouped(5).foreach { case Array(workload, manifestPath, seconds, trace, outPath) =>
      val manifest = mapper.readTree(new File(manifestPath))
      val run = new Run(manifest, seconds.toDouble, trace == "1", start)
      try {
        workload match {
          case "reservoir" => ReservoirWorkload.run(run)
          case "corpus" => CorpusWorkload.run(run)
          case other => sys.error(s"unknown workload: $other")
        }
        run.finish(outPath)
      } finally run.spark.stop()
      start = System.nanoTime()
    }
  }
}

final class Run(val manifest: JsonNode, val seconds: Double, val traced: Boolean,
    jvmStart: Long) {

  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val work: Path = Paths.get(manifest.get("work_dir").asText)
  private val loadBefore = graft.Bench.loadavgJson()

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  val listener: Option[CallSiteListener] =
    if (traced) Some(new CallSiteListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  val ops = mutable.ArrayBuffer.empty[Op]
  private var round = -1
  val result = new java.util.LinkedHashMap[String, Any]()
  private val direct = new java.util.ArrayList[Any]()

  /** Time the set-up, counting from JVM start (the session start included). */
  def setup(f: => Unit): Unit = {
    spark.sparkContext.setJobGroup("setup", "setup")
    f
    spark.sparkContext.clearJobGroup()
    result.put("setup_s", (System.nanoTime() - jvmStart) / 1e9)
  }

  /** Closed loop of whole rounds: the next round starts only while less
    * than `seconds` have passed since the first, so any positive `seconds`
    * runs at least one and 0 runs none; `body` returns false when the
    * workload's inputs are used up.
    */
  def loop(body: Int => Boolean): Unit = {
    val loopStartNs = System.nanoTime()
    var i = 0
    while (((i == 0 && seconds > 0) || (System.nanoTime() - loopStartNs) / 1e9 < seconds) &&
        { round = i; body(i) })
      i += 1
    result.put("rounds", i)
    result.put("loop_s", (System.nanoTime() - loopStartNs) / 1e9)
  }

  def op(kind: String)(f: Op => Unit): Op = {
    val o = new Op(f"op${ops.size}%05d", kind, round, System.currentTimeMillis())
    spark.sparkContext.setJobGroup(o.id, kind)
    val t0 = System.nanoTime()
    try f(o)
    catch {
      case e: Throwable =>
        o.ok = false
        o.error = e.toString.take(500)
        System.err.println(s"[perfbench] ${o.id} $kind failed: $e")
    }
    o.wallNs = System.nanoTime() - t0
    o.endMs = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    ops += o
    o
  }

  /** Run an action on a frame a graft API returned: the job's stack shows
    * only benchmark frames, so the listener charges it to `layer`.
    */
  def asLayer[T](layer: String)(f: => T): T = {
    spark.sparkContext.setLocalProperty("perfbench.layer", layer)
    try f finally spark.sparkContext.setLocalProperty("perfbench.layer", null)
  }

  /** A direct call into one layer's public functions, repeated for at least
    * a quarter second; recorded as a span with its item count.
    */
  def directCall(name: String, itemsPerCall: Long)(f: => Unit): Unit = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var calls = 0L
    while (calls == 0 || System.nanoTime() - t0 < 250000000L) { f; calls += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    direct.add(Run.obj("name" -> name, "start_ms" -> startMs,
      "end_ms" -> System.currentTimeMillis(), "seconds" -> sec,
      "items" -> calls * itemsPerCall))
  }

  def finish(outPath: String): Unit = {
    val calibration = graft.Bench.calibrationSec(spark)
    listener.foreach { l =>
      l.drain()
      val (jobs, callbackNs) = l.snapshot()
      result.put("listener_s", callbackNs / 1e9)
      result.put("jobs", jobs.map(j => Run.obj("job" -> j.jobId, "group" -> j.group,
        "layer" -> j.layer, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "tasks" -> j.tasks, "tasks_failed" -> j.tasksFailed,
        "cpu_s" -> j.cpuNs / 1e9, "shuffle_bytes" -> j.shuffleBytes,
        "spill_bytes" -> j.spillBytes, "input_bytes" -> j.inputBytes,
        "output_bytes" -> j.outputBytes, "sched_wait_s" -> j.schedWaitMs / 1e3)))
    }
    result.put("ops", ops.map(o => Run.obj("id" -> o.id, "kind" -> o.kind, "round" -> o.round,
      "start_ms" -> o.startMs, "end_ms" -> o.endMs, "wall_s" -> o.wallNs / 1e9,
      "items" -> o.items, "ok" -> o.ok, "error" -> o.error, "obs" -> o.obs)).toSeq)
    result.put("direct", direct)
    result.put("peak_rss_mb", Run.peakRssMb())
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    result.put("context", Run.obj(
      "nproc" -> cpus, "client_threads" -> 1,
      "spark_master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "loadavg_before" -> loadBefore, "loadavg_after" -> graft.Bench.loadavgJson(),
      "calibration_sec" -> calibration))
    Files.writeString(Paths.get(outPath),
      PerfBench.mapper.writeValueAsString(Run.toJava(result)))
  }
}

object Run {

  /** nested Scala values → Jackson-serialisable Java collections */
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, toJava(v)) }
    m
  }

  def toJava(v: Any): Any = v match {
    case s: String => s
    case m: java.util.Map[_, _] => toJava(m.asScala)
    case l: java.util.List[_] => toJava(l.asScala)
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[Any, Any]()
      m.foreach { case (k, x) => out.put(k, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  /** the process's resident-set high-water mark (VmHWM), MiB */
  def peakRssMb(): Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0))
      .getOrElse(0.0)

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else scala.util.Using(Files.walk(root))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum).get
}

/** The reservoir lifecycle: ISO 2709 batches decoded and ingested with two
  * pools, then CQL cluster lookups and a full OAI-PMH export.
  */
object ReservoirWorkload {

  def decode(spark: SparkSession, files: JsonNode): DataFrame =
    files.asScala.map { f =>
      graft.sources.MarcSources.toGlobalRecords(spark, f.get("path").asText,
        binary = true, f.get("source").asText, f.get("version").asInt).toDF()
    }.reduce(_ unionByName _)

  /** cluster documents → (clusterId, sorted "SOURCE|localId|version") */
  def docs(rows: Array[Row]): Seq[(String, Seq[String])] =
    rows.toSeq.map { r =>
      r.getString(0) -> r.getSeq[Row](3).map(m =>
        s"${m.getString(0)}|${m.getString(2)}|${m.getInt(1)}").sorted
    }.sortBy(_._2.mkString(","))

  def run(b: Run): Unit = {
    val m = b.manifest
    val spark = b.spark
    val pools = m.get("pools").properties().asScala.map(e => e.getKey -> e.getValue.asText).toSeq
    var r: Reservoir = null
    b.setup {
      r = new Reservoir(spark, b.work.resolve("reservoir").toString, "bench")
      pools.foreach { case (id, matcher) => r.putMatchKeyConfig(MatchKeyConfig(id, matcher)) }
      r.ingest(decode(spark, m.get("seed")))
    }
    val batches = m.get("batches")
    val rounds = m.get("rounds")
    val clusterOf = mutable.Map.empty[String, String]
    var applied = 0
    b.loop { k =>
      if (k >= batches.size) false
      else {
        b.op("ingest") { o =>
          val st = r.ingest(decode(spark, batches.get(k)))
          o.items = st.processed
          o.obs.put("batch", k)
          o.obs.put("stats", Run.obj("processed" -> st.processed, "inserted" -> st.inserted,
            "updated" -> st.updated, "deleted" -> st.deleted, "ignored" -> st.ignored))
        }
        applied = k + 1
        rounds.get(k).asScala.foreach { q =>
          val kind = q.get("kind").asText
          val pool = q.get("pool").asText
          val value = q.get("value")
          b.op("lookup") { o =>
            o.obs.put("after_batch", applied)
            o.obs.put("query", mapper(q))
            val cql = if (kind == "clusterId") {
              val id = clusterOf(value.asText)
              o.obs.put("cluster_id", id)
              s"""clusterId = "$id""""
            } else q.get("cql").asText
            val got = docs(b.asLayer("api")(r.clusters(pool, cql).collect()))
            // a localId names one record, so one cluster; its document may
            // not list the record itself (only each source's newest version)
            if (kind == "localId" && got.size == 1) clusterOf(value.asText) = got.head._1
            o.items = got.size
            o.obs.put("docs", got.map(d => Run.obj("id" -> d._1, "members" -> d._2)))
          }
        }
        pools.foreach { case (id, _) => exportPool(b, r, id, applied) }
        true
      }
    }
    b.result.put("store_bytes", Run.dirBytes(b.work.resolve("reservoir")))
    if (b.traced) directCalls(b, m)
  }

  private def mapper(q: JsonNode): Any = PerfBench.mapper.convertValue(q, classOf[Object])

  /** A full ListRecords export of one pool: 1000-item pages with metadata
    * on a pinned snapshot, following resumption tokens to the end. After
    * each page (untimed) the members of every live cluster are read back
    * from its 999 identifier field, so the export also checks membership.
    */
  def exportPool(b: Run, r: Reservoir, pool: String, applied: Int): Unit = {
    var token: Option[String] = None
    val ids = mutable.Set.empty[String]
    val members = mutable.ArrayBuffer.empty[Seq[String]]
    var items, pages = 0
    var failed = false
    do {
      var page: Option[graft.api.OaiPage] = None
      val o = b.op("oai_page") { o =>
        page = Some(r.listRecords(pool, resumptionToken = token, limit = 1000,
          withMetadata = true, pinSnapshot = true))
        o.items = page.get.items.size
      }
      page.foreach { p =>
        items += p.items.size
        p.items.foreach(ids += _.clusterId)
        members ++= p.items.flatMap(_.metadataXml).map(clusterMembers)
        token = p.resumptionToken
      }
      pages += 1
      failed = !o.ok
      if (token.isEmpty || failed || pages >= 50)
        o.obs.put("export", Run.obj("pool" -> pool, "after_batch" -> applied, "pages" -> pages,
          "items" -> items, "distinct" -> ids.size, "ended" -> (token.isEmpty && !failed),
          "members" -> members.sortBy(_.mkString(","))))
    } while (token.isDefined && !failed && pages < 50)
  }

  /** "SOURCE|localId|version" of each record in a cluster's MARCXML: the
    * l/s/v subfields of its 999 field with indicators 1 and 0.
    */
  def clusterMembers(xml: String): Seq[String] =
    graft.marc.MarcXml.parseCollection(xml).flatMap(_.fields)
      .filter(f => f.tag == "999" && f.indicators.map(_.value) == Seq("1", "0"))
      .flatMap(_.subfields.filter(sf => Set("l", "s", "v")(sf.code)).grouped(3)
        .map(t => s"${t(1).value}|${t(0).value}|${t(2).value}"))
      .sorted

  /** Per-layer rates measured by calling each layer's functions directly. */
  def directCalls(b: Run, m: JsonNode): Unit = {
    import graft.marc.{Iso2709, MarcXml}
    val bytes = m.get("seed").asScala.map(f => Files.readAllBytes(Paths.get(f.get("path").asText))).toSeq
    val recs = bytes.flatMap(Iso2709.parseAll)
    b.directCall("marc.decode", recs.size)(bytes.foreach(Iso2709.parseAll))
    val payloads = graft.model.IngestMapper.group(recs.iterator).map(_.payloadJson).toVector
    b.directCall("functions.goldrush", payloads.size)(
      payloads.foreach(graft.functions.GoldRush.matchkeyFromPayload))
    val path = graft.functions.JsonPathLite.compile(
      m.get("pools").get("isbn").asText.stripPrefix("jsonpath:"))
    b.directCall("functions.jsonpath", payloads.size)(payloads.foreach(path.strings))
    b.directCall("marc.xml_render", recs.size)(recs.foreach(MarcXml.toXml))
    import graft.cql.Cql
    val fields = Map("clusterId" -> Cql.UuidField, "matchValue" -> Cql.TextField,
      "globalId" -> Cql.UuidField, "localId" -> Cql.TextField,
      "sourceId" -> Cql.TextField, "sourceVersion" -> Cql.NumberField)
    val queries = m.get("rounds").asScala.flatMap(_.asScala).flatMap(q => Option(q.get("cql")))
      .map(_.asText).toSeq
    b.directCall("cql.parse", queries.size)(queries.foreach(Cql.parse(_, fields)))
  }
}

/** Corpus-store micro-batches (dup, fresh and hot), a snapshot diff across
  * them, and one pass over gate queries on the same generated tables.
  */
object CorpusWorkload {

  val DiffReads = 5

  def run(b: Run): Unit = {
    val m = b.manifest
    val spark = b.spark
    val tables = m.get("tables_dir").asText
    // the diff reads the set-up snapshot after every batch of the run
    spark.conf.set("spark.graft.catalog.retainVersions", "64")
    // explicit geometry: AUTO would give this small corpus one bucket per
    // space, where probe pruning has nothing to skip
    val buckets = 8
    val schema = CorpusStore.storedSchema("doc_id", "source", "text")
    var cat: Catalog = null
    b.setup {
      cat = new Catalog(spark, b.work.resolve("corpus").toString, "bench")
      CorpusStore.writeDeduped(cat, "corpus",
        spark.read.parquet(m.get("corpus_path").asText), "doc_id", "text", "source",
        buckets = buckets)
    }
    val v1 = cat.version("corpus")
    val rounds = m.get("rounds")
    val queries = m.get("queries").asScala.map(_.asText).toSeq
    val out = b.work.resolve("query-out")
    var batchId = 0L
    b.loop { k =>
      if (k >= rounds.size) false
      else {
        rounds.get(k).asScala.foreach { batch =>
          b.op("corpus_batch") { o =>
            o.items = batch.get("docs").asLong
            o.obs.put("class", batch.get("class").asText)
            CorpusStore.ingestBatch(cat, "corpus", spark.read.parquet(batch.get("path").asText),
              batchId, "doc_id", "text", "source", buckets = buckets)
          }
          batchId += 1
        }
        val v2 = cat.version("corpus")
        // the same diff read several times: one read is about a second,
        // and the first of them runs cold
        (1 to DiffReads).foreach { _ =>
          b.op("diff") { o =>
            val rows = b.asLayer("storage")(
              CorpusStore.diffVersions(cat, "corpus", v1, v2, "doc_id", "source", "text").collect())
            o.items = rows.length
            o.obs.put("classes", rows.toSeq.map(r => Run.obj("source" -> r.getString(0),
              "added" -> r.getLong(1), "removed" -> r.getLong(2),
              "changed" -> r.getLong(3), "same" -> r.getLong(4))))
          }
        }
        queries.foreach { name =>
          b.op("query") { o =>
            o.obs.put("name", name)
            val fn = graft.SparkEntry.queries(name)
            b.asLayer("operators")(fn(spark, tables).write.mode("overwrite")
              .parquet(out.resolve(name).toString))
            o.items = 1
          }
        }
        true
      }
    }
    val stored = cat.readPartitionedOr("corpus", schema)
      .select(col("doc_id"), col("source")).collect()
    b.result.put("stored", stored.toSeq.map(r => Run.obj("id" -> r.getLong(0), "source" -> r.getString(1))))
    b.result.put("store_bytes", Run.dirBytes(b.work.resolve("corpus")))
    b.result.put("query_out", out.toString)
    b.result.put("oracles", Run.obj(queries.map(q => q -> graft.SparkEntry.oracleSql(q)): _*))
    if (b.traced) {
      val dup = rounds.get(0).asScala.find(_.get("class").asText == "dup").get
      val fp = CorpusStore.probeFootprint(cat, "corpus",
        spark.read.parquet(dup.get("path").asText), "doc_id", "text", "source", 50, 8, buckets)
      b.result.put("probe_footprint", Run.obj(fp.toSeq.map { case (space, (pn, bn, pt, bt)) =>
        space -> Run.obj("parts_named" -> pn, "bytes_named" -> bn,
          "parts_total" -> pt, "bytes_total" -> bt) }: _*))
    }
  }
}
