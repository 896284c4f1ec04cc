package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{MatchKeyConfig, Reservoir}
import graft.storage.GroupBatch

/** The minimum end-to-end slice (SURVEY.md §7.2): ingest a records-in.json
  * style batch with an issn jsonpath pool (the fixture of
  * MainVerticleTest.java:1238-1262), query clusters via CQL, check cluster
  * document shape, version precedence, deletes, and OAI keyset export with
  * resumption-token round-trips.
  */
class ReservoirSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshReservoir(): Reservoir = {
    val dir = Files.createTempDirectory("graft-reservoir").toString
    val r = new Reservoir(spark, dir, "tenant1")
    r.putMatchKeyConfig(MatchKeyConfig("issn", "jsonpath:$.inventory.issn[*]"))
    r
  }

  private def rec(localId: String, sourceId: String, version: Int,
      issn: Seq[String], delete: Boolean = false): (String, String, Int, String, Boolean) = {
    val issnJson = issn.map(s => s""""$s"""").mkString("[", ",", "]")
    (localId, sourceId, version,
      s"""{"marc":{"leader":"x","fields":[{"001":"$localId"}]},"inventory":{"issn":$issnJson}}""",
      delete)
  }

  private def batchDf(rows: (String, String, Int, String, Boolean)*): DataFrame =
    batchIn(spark, rows)

  private def batchIn(session: SparkSession,
      rows: Seq[(String, String, Int, String, Boolean)]): DataFrame = {
    import session.implicits._
    rows.toDF("localId", "sourceId", "sourceVersion", "payloadJson", "delete")
  }

  /** the bucket moduli a pool's manifest keys `<sub>/<m>.<b>` carry */
  private def moduli(r: Reservoir, pool: String): Set[Int] =
    r.catalog.partitionManifest(s"pool_$pool").keySet
      .map(_.split('/')(1).split('.')(0).toInt)

  test("end-to-end: ingest, cluster, CQL query, OAI export") {
    val r = freshReservoir()
    val stats = r.ingest(batchDf(
      rec("S101", "SOURCE-1", 1, Seq("01")),
      rec("S102", "SOURCE-1", 1, Seq("01", "02")),
      rec("S103", "SOURCE-1", 1, Seq("03"))))
    assert(stats == graft.api.IngestStats(3, 3, 0, 0, 0))

    // S101+S102 share issn 01 → one cluster; S103 alone
    val all = r.clusters("issn").collect()
    assert(all.length == 2)

    // CQL by localId returns the whole containing cluster
    val hit = r.clusters("issn", "localId = S101").collect()
    assert(hit.length == 1)
    val doc = hit.head
    assert(doc.getSeq[String](2) == Seq("01", "02"), "sorted matchValues")
    val members = doc.getSeq[org.apache.spark.sql.Row](3)
    assert(members.map(_.getString(2)) == Seq("S101", "S102"),
      "records sorted by (sourceId, sourceVersion, localId)")

    // matchValue CQL index
    assert(r.clusters("issn", "matchValue = 03").collect().length == 1)

    // OAI: full page, then token round-trip with limit 1
    val page = r.listRecords("issn", limit = 10)
    assert(page.items.length == 2 && page.resumptionToken.isEmpty)
    assert(page.items.forall(!_.deleted))
    assert(page.items.forall(_.metadataXml.exists(x =>
      x.contains("<record") && x.contains("999"))))

    val p1 = r.listRecords("issn", from = Some("2000-01-01"), limit = 1)
    assert(p1.items.length == 1 && p1.resumptionToken.isDefined)
    val p2 = r.listRecords("issn",
      resumptionToken = p1.resumptionToken, limit = 1)
    assert(p2.items.length == 1)
    assert(p1.items.head.clusterId != p2.items.head.clusterId)
    assert((p1.items.map(_.clusterId) ++ p2.items.map(_.clusterId)).toSet ==
      all.map(_.getString(0)).toSet)
  }

  test("pinSnapshot: a paged OAI export is one consistent snapshot under ingest") {
    val r = freshReservoir()
    r.ingest(batchDf(rec("S1", "SRC", 1, Seq("a")), rec("S2", "SRC", 1, Seq("b")),
      rec("S3", "SRC", 1, Seq("c")), rec("S4", "SRC", 1, Seq("d"))))
    val initial = r.clusters("issn").collect().map(_.getString(0)).toSet
    assert(initial.size == 4)

    val p1 = r.listRecords("issn", limit = 2, pinSnapshot = true)
    assert(p1.items.length == 2 && p1.resumptionToken.isDefined)

    // ingest lands between pages: every initial cluster's datestamp bumps
    // (their records re-ingest at sourceVersion 2 — unpinned keyset would
    // re-serve the already-exported ones past the cursor) and a brand-new
    // cluster appears
    Thread.sleep(5)
    r.ingest(batchDf(rec("S1", "SRC", 2, Seq("a")), rec("S2", "SRC", 2, Seq("b")),
      rec("S3", "SRC", 2, Seq("c")), rec("S4", "SRC", 2, Seq("d")),
      rec("S5", "SRC", 1, Seq("e"))))

    val p2 = r.listRecords("issn", resumptionToken = p1.resumptionToken,
      limit = 10)
    val served = (p1.items ++ p2.items).map(_.clusterId)
    assert(served.toSet == initial && served.distinct.length == served.length,
      s"pinned export must serve each initial cluster exactly once, got $served")
    assert(p2.resumptionToken.isEmpty)

    // the unpinned default keeps reference per-request semantics: a fresh
    // export now sees all five clusters at their live datestamps
    val live = r.listRecords("issn", limit = 10)
    assert(live.items.map(_.clusterId).toSet.size == 5)

    // token byte-compat: the unpinned token carries no snapshot field
    val tokPlain = r.listRecords("issn", limit = 1).resumptionToken
    assert(tokPlain.isEmpty || !new String(
      java.util.Base64.getDecoder.decode(tokPlain.get), "UTF-8").contains(" v="))
    val tokPinned = r.listRecords("issn", limit = 1, pinSnapshot = true)
      .resumptionToken
    assert(tokPinned.exists(t => new String(
      java.util.Base64.getDecoder.decode(t), "UTF-8").matches("(?s).* v=\\d+")))
  }

  test("localIdPath extracts ids from the payload; missing ids are ignored") {
    import spark.implicits._
    val r = freshReservoir()
    val b = Seq(
      (null: String, "SRC", 1,
        """{"marc":{"fields":[{"001":"  X1 "}]}}""", false),
      (null: String, "SRC", 1,
        """{"marc":{"fields":[{"002":"no-001"}]}}""", false))
      .toDF("localId", "sourceId", "sourceVersion", "payloadJson", "delete")
    val st = r.ingest(b, Some("$.marc.fields[*].001"))
    assert(st.ignored == 1 && st.inserted == 1)
    assert(r.records().select("localId").collect().map(_.getString(0)).toSeq
      == Seq("X1"), "extracted and trimmed")
  }

  test("version precedence: cluster doc keeps latest sourceVersion per source") {
    val r = freshReservoir()
    r.ingest(batchDf(rec("S1", "SRC", 1, Seq("a"))))
    r.ingest(batchDf(rec("S1", "SRC", 2, Seq("a"))))
    val doc = r.clusters("issn", "localId = S1").collect().head
    val members = doc.getSeq[org.apache.spark.sql.Row](3)
    assert(members.length == 1 && members.head.getInt(1) == 2,
      "only sourceVersion 2 is served")
    // both versions exist in the record store
    assert(r.records("localId = S1").count() == 2)
  }

  test("upsert is idempotent and preserves globalId") {
    val r = freshReservoir()
    r.ingest(batchDf(rec("S1", "SRC", 1, Seq("a"))))
    val g1 = r.records().collect().head.getString(0)
    val s2 = r.ingest(batchDf(rec("S1", "SRC", 1, Seq("a"))))
    assert(s2.updated == 1 && s2.inserted == 0)
    assert(r.records().collect().head.getString(0) == g1)
    assert(r.records().count() == 1)
  }

  test("delete produces an OAI-visible tombstone") {
    val r = freshReservoir()
    r.ingest(batchDf(rec("S1", "SRC", 1, Seq("a"))))
    val st = r.ingest(batchDf(rec("S1", "SRC", 1, Nil, delete = true)))
    assert(st.deleted == 1)
    assert(r.records().count() == 0)
    val page = r.listRecords("issn", limit = 10)
    assert(page.items.length == 1 && page.items.head.deleted)
    assert(page.items.head.metadataXml.isEmpty)
  }

  test("touch bumps datestamps of matching clusters") {
    val r = freshReservoir()
    r.ingest(batchDf(rec("S1", "SRC", 1, Seq("a")), rec("S2", "SRC", 1, Seq("b"))))
    val before = r.clusters("issn").select("clusterId", "datestamp").collect()
      .map(x => x.getString(0) -> x.getTimestamp(1)).toMap
    Thread.sleep(5)
    val n = r.touch("issn", "localId = S1")
    assert(n == 1)
    val after = r.clusters("issn").select("clusterId", "datestamp").collect()
      .map(x => x.getString(0) -> x.getTimestamp(1)).toMap
    val changed = after.filter { case (k, v) => before(k) != v }
    assert(changed.size == 1)
  }

  test("initialize rebuilds a manual pool") {
    val r = freshReservoir()
    r.putMatchKeyConfig(MatchKeyConfig("manualpool",
      "jsonpath:$.inventory.issn[*]", update = "manual"))
    r.ingest(batchDf(rec("S1", "SRC", 1, Seq("x")), rec("S2", "SRC", 1, Seq("x"))))
    // manual pool untouched by ingest
    assert(r.clusters("manualpool").count() == 0)
    r.initialize("manualpool")
    assert(r.clusters("manualpool").count() == 1)
  }

  test("tenants are fully isolated under one root") {
    val dir = Files.createTempDirectory("graft-tenants").toString
    val t1 = new Reservoir(spark, dir, "tenantA")
    val t2 = new Reservoir(spark, dir, "tenantB")
    t1.putMatchKeyConfig(MatchKeyConfig("issn", "jsonpath:$.inventory.issn[*]"))
    t2.putMatchKeyConfig(MatchKeyConfig("issn", "jsonpath:$.inventory.issn[*]"))
    t1.ingest(batchDf(rec("S1", "SRC", 1, Seq("a"))))
    assert(t1.records().count() == 1)
    assert(t2.records().count() == 0)
    assert(t2.clusters("issn").count() == 0)
    // same natural key in both tenants → different globalIds
    t2.ingest(batchDf(rec("S1", "SRC", 1, Seq("a"))))
    val g1 = t1.records().select("globalId").collect().head.getString(0)
    val g2 = t2.records().select("globalId").collect().head.getString(0)
    assert(g1 != g2)
  }

  test("OAI page assembly is O(page): every aggregate sits above the id filter") {
    val r = freshReservoir()
    r.ingest(batchDf(
      rec("S1", "SRC", 1, Seq("a")), rec("S2", "SRC", 1, Seq("b")),
      rec("S3", "SRC", 1, Seq("c")), rec("S4", "SRC", 1, Seq("d"))))
    val ids = r.clusters("issn").select("clusterId").collect()
      .map(_.getString(0)).sorted.take(2).toSeq
    val df = r.pageClusterDocs("issn", ids)

    // parity with the full assembly restricted to the same ids
    val full = r.clusters("issn").filter(col("clusterId").isin(ids: _*))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(df.collect().map(_.getString(0)).sorted.toSeq == full)

    // plan shape: the pool tables are filtered to the page ids BELOW every
    // aggregation, so the window + groupBys never see the whole pool
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val plan = df.queryExecution.optimizedPlan
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty, "expected aggregates in the page plan")
    aggs.foreach { a =>
      val gated = a.exists {
        case f: Filter =>
          val s = f.condition.sql
          s.contains("clusterId") && ids.exists(s.contains)
        case _ => false
      }
      assert(gated, s"aggregate not gated by the page-id filter:\n$a")
    }
  }

  test("vacuum reclaims superseded partition versions; data stays readable") {
    val r = freshReservoir()
    r.ingest(batchDf(rec("S1", "SRC", 1, Seq("a"))))
    r.ingest(batchDf(rec("S1", "SRC", 2, Seq("a"))))
    r.ingest(batchDf(rec("S1", "SRC", 3, Seq("a"))))
    r.vacuum()
    assert(r.records().count() == 3)
    assert(r.clusters("issn").count() == 1)
    // idempotent once clean
    assert(r.vacuum() == 0)
  }

  test("goldrush matcher pools cluster by the computed key") {
    val r = freshReservoir()
    r.putMatchKeyConfig(MatchKeyConfig("gr", "goldrush"))
    val marc =
      """{"marc":{"leader":"01010ccm a2200289   4500","fields":[
        |{"001":"a1"},{"245":{"ind1":"0","ind2":"0","subfields":[{"a":"Symphony, op. 38"}]}},
        |{"260":{"ind1":" ","ind2":" ","subfields":[{"b":"Lehman,"},{"c":"1967"}]}}]}}"""
        .stripMargin.replace("\n", "")
    import spark.implicits._
    val b = Seq(
      ("G1", "SRC", 1, marc, false),
      ("G2", "SRC2", 1, marc, false))
      .toDF("localId", "sourceId", "sourceVersion", "payloadJson", "delete")
    r.ingest(b)
    assert(r.clusters("gr").count() == 1, "identical goldrush keys cluster")
  }

  test("concurrent ingests to the same reservoir lose no records or clusters") {
    // ADVICE r6: the records RMW and the pool's three-table commit must be
    // optimistic — two drivers ingesting at once conflict and retry instead
    // of silently losing an update (the pool sub-tables commit atomically)
    val r = freshReservoir()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { t =>
      new Thread(() => {
        try {
          for (i <- 1 to 3)
            r.ingest(batchDf(rec(s"T$t-$i", s"CSRC-$t", 1, Seq(s"i$t-$i"))))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"ingest failed: ${Option(errs.peek())}")
    assert(r.records().count() == 6)
    // every record made it into the pool's cluster state
    val assigned = r.clusters("issn")
      .select(explode(col("records.localId")).as("l"))
      .collect().map(_.getString(0)).toSet
    assert(assigned == (for (t <- 1 to 2; i <- 1 to 3) yield s"T$t-$i").toSet)
  }

  test("a pool's bucket modulus grows with its bytes; contents match the default layout") {
    // a tiny bucket target makes the pool outgrow its modulus within a few
    // batches; the same batches go to a pool at the default target (one
    // bucket per sub-table), and both must serve the same clusters
    val tiny = spark.newSession()
    tiny.conf.set("spark.graft.store.baseBucketBytes", "8192")
    val grown = new Reservoir(tiny,
      Files.createTempDirectory("graft-reservoir").toString, "tenant1")
    grown.putMatchKeyConfig(MatchKeyConfig("issn", "jsonpath:$.inventory.issn[*]"))
    val plain = freshReservoir()
    val rnd = new scala.util.Random(7)
    def long(): String = rnd.alphanumeric.take(300).mkString
    // each batch: pairs linked by a shared value, a merge of two earlier
    // pairs, a moved record and a delete
    def batch(i: Int): Seq[(String, String, Int, String, Boolean)] =
      (0 until 12).map(j => rec(s"R$i-$j", s"SRC-${j % 3}", 1,
        Seq(long(), s"L$i-${j / 2}"))) ++
        (if (i < 3) Nil else Seq(
          rec(s"M$i", "SRC-M", 1, Seq(s"L${i - 1}-0", s"L${i - 2}-1")),
          rec(s"R${i - 1}-5", "SRC-2", 1, Seq(long())),
          rec(s"R${i - 2}-7", "SRC-1", 1, Nil, delete = true)))
    val seen = scala.collection.mutable.ArrayBuffer(1)
    var i = 0
    def step(): Unit = {
      i += 1
      val rows = batch(i)
      grown.ingest(batchIn(tiny, rows))
      plain.ingest(batchDf(rows: _*))
      val ms = moduli(grown, "issn")
      assert(ms.size == 1, s"the manifest carries only one modulus's keys: $ms")
      if (ms.head != seen.last) seen += ms.head
    }
    while (seen.last < 4 && i < 12) step()
    assert(seen.last >= 4, s"the modulus doubled at least twice: $seen")
    step() // one more batch on the grown layout
    assert(seen.toSeq.sliding(2).forall(w => w(1) > w(0) && w(1) % w(0) == 0),
      s"the modulus only grows, by powers of two: $seen")
    assert(moduli(plain, "issn") == Set(1))
    val m = seen.last
    val keys = grown.catalog.partitionManifest("pool_issn").keySet
    assert(keys.forall(_.split('/')(1).startsWith(s"$m.")), keys)
    assert(keys.count(_.startsWith("meta/")) > 1, keys)

    // clusters and the OAI export, with cluster ids (salted by the ingest
    // time) taken out: the same multiset of documents
    def docs(r: Reservoir): Seq[String] = r.clusters("issn").collect()
      .map(d => (d.getSeq[String](2).mkString(",") + "|" +
        d.getSeq[org.apache.spark.sql.Row](3).map(_.getString(2)).mkString(",")))
      .toSeq.sorted
    def export(r: Reservoir): Seq[String] = {
      val p = r.listRecords("issn", limit = 10000)
      assert(p.resumptionToken.isEmpty)
      p.items.map(it => s"${it.deleted}|" +
        it.metadataXml.getOrElse("").replace(it.clusterId, "CID")).sorted
    }
    val d = docs(grown)
    assert(d.length > 20 && d == docs(plain), s"$i batches, moduli $seen")
    val e = export(grown)
    assert(e.exists(_.startsWith("true|")), "the inputs leave merge tombstones")
    assert(e == export(plain))
  }

  /** (description, innermost graft frame) of every Spark job `body`
    * submits. The listener bus is FIFO: once a marker job's start arrives,
    * every job submitted before it has been seen.
    */
  private def jobsOf(body: => Any): Seq[(String, String)] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def graftFrame(callSite: String): Option[String] =
      callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))
    val listener = new org.apache.spark.scheduler.SparkListener {
      // jobs a query runs from Spark's own threads carry no user frames;
      // their SQL execution's call site names them
      val execFrame = new java.util.concurrent.ConcurrentHashMap[String, String]()
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            graftFrame(x.details).foreach(execFrame.put(x.executionId.toString, _))
          case _ => ()
        }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val frame = e.stageInfos.sortBy(-_.stageId).iterator
          .flatMap(st => graftFrame(st.details)).nextOption()
          .orElse(prop("spark.sql.execution.id").flatMap(id => Option(execFrame.get(id))))
        jobs.add(prop("spark.job.description").getOrElse("") -> frame.getOrElse(""))
      }
    }
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    def seen = jobs.toArray(Array.empty[(String, String)]).toSeq
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.exists(_._1 == marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(seen.exists(_._1 == marker), "listener bus did not drain")
      seen.filterNot(_._1 == marker)
    } finally sc.removeSparkListener(listener)
  }

  test("a lookup and an OAI page on a small pool list no files with a Spark job") {
    // a few hundred clusters: enough to fill every bucket of a fixed
    // 64-bucket layout, whose reads listed 64 dirs per sub-table
    val r = freshReservoir()
    r.ingest(batchDf((1 to 300).map(i => rec(s"S$i", s"SRC${i % 4}", 1, Seq(s"v$i"))): _*))
    val id = r.clusters("issn", "localId = S7").collect().head.getString(0)
    def listing(body: => Any): Seq[String] =
      jobsOf(body).map(_._1).filter(_.startsWith("Listing leaf files"))
    // control: reading more dirs than the parallel-discovery threshold (32)
    // does submit a listing job
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-listing").toString + "/t"
    (0 until 33).map(p => (p, p)).toDF("p", "x").write.partitionBy("p").parquet(dir)
    val leaves = (0 until 33).map(p => s"$dir/p=$p")
    assert(listing(spark.read.parquet(leaves: _*).count()).nonEmpty)

    assert(listing(r.clusterById("issn", id).collect()).isEmpty)
    assert(listing(r.listRecords("issn", limit = 1000)).isEmpty)
  }

  test("clusterById matches the id verbatim: quotes and backslashes cannot " +
      "widen the query") {
    val r = freshReservoir()
    r.ingest(batchDf(
      rec("S101", "SOURCE-1", 1, Seq("01")),
      rec("S102", "SOURCE-1", 1, Seq("02")),
      rec("T201", "SOURCE-2", 1, Seq("03"))))
    val ids = r.clusters("issn").collect().map(_.getString(0))
    assert(ids.length == 3)
    for (evil <- Seq("""x" or sourceId = "SOURCE-1""",
        """x\" or sourceId = \"SOURCE-1""", "\"", "\\", """x" or cql.allRecords = "1"""))
      assert(r.clusterById("issn", evil).collect().isEmpty, evil)
    ids.foreach { id =>
      val hit = r.clusterById("issn", id).collect()
      assert(hit.map(_.getString(0)).toSeq == Seq(id))
      // GetRecord: the datestamp and members of one snapshot
      val item = r.getOaiRecord("issn", id)
      assert(item.exists(i => !i.deleted && i.metadataXml.isDefined), id)
      assert(item.map(_.datestamp) == Some(hit.head.getTimestamp(1)))
    }
    assert(r.getOaiRecord("issn", "no-such-cluster").isEmpty)
  }

  test("a pool step collects its dirty buckets in at most two Spark jobs") {
    val r = freshReservoir()
    r.ingest(batchDf(rec("S1", "SRC", 1, Seq("a")), rec("S2", "SRC", 1, Seq("b"))))
    val jobs = jobsOf(r.ingest(batchDf(rec("S3", "SRC", 1, Seq("a", "c")),
      rec("S4", "SRC2", 1, Seq("d")))))
    val atBucketsOf = jobs.count(_._2.contains(".bucketsOf("))
    assert(atBucketsOf >= 1 && atBucketsOf <= 2, jobs.mkString("\n"))
  }

  test("a staging write's job label does not outlive the staging write") {
    val r = freshReservoir()
    r.ingest(batchDf(rec("S1", "SRC", 1, Seq("a"))))
    val jobs = jobsOf(r.ingest(batchDf(rec("S2", "SRC", 1, Seq("a", "b")),
      rec("S3", "SRC2", 1, Seq("c")))))
    val staged = jobs.filter(_._1.startsWith("stage "))
    assert(staged.exists(_._1 == "stage records/data"), jobs.mkString("\n"))
    // jobs after the records commit (the pool step's reads, clustering,
    // the pool's own staging) carry no stale label
    assert(staged.forall(_._2.contains("Catalog.")), jobs.mkString("\n"))
    assert(jobs.dropWhile(!_._1.startsWith("stage records"))
      .exists(j => !j._1.startsWith("stage ")), jobs.mkString("\n"))
  }

  test("no cached frame outlives an ingest, a lookup, an OAI page or a " +
      "corpus-store ingest") {
    import spark.implicits._
    spark.catalog.clearCache()
    val r = freshReservoir()
    r.ingest(batchDf(rec("S1", "SRC", 1, Seq("a")), rec("S2", "SRC", 1, Seq("a", "b")),
      rec("S3", "SRC2", 1, Seq("c"))))
    val id = r.clusters("issn", "localId = S1").collect().head.getString(0)
    r.clusterById("issn", id).collect()
    r.listRecords("issn", limit = 1000)
    val cat = new graft.storage.Catalog(spark,
      Files.createTempDirectory("graft-corpus").toString, "t")
    graft.storage.CorpusStore.ingestBatch(cat, "c",
      Seq((1L, "web", "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "source", "text"),
      0L, "doc_id", "text", "source", minWords = 5)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a pool in the former fixed-64 layout fails loudly, naming the pool") {
    import spark.implicits._
    val r = freshReservoir()
    r.ingest(batchDf(rec("S1", "SRC", 1, Seq("a"))))
    // a bucket key without the modulus, as the fixed-64 layout wrote them
    val meta = Seq(("c1", new java.sql.Timestamp(0L))).toDF("clusterId", "datestamp")
      .withColumn("_bucket", lit("17"))
    r.catalog.overwriteGroupIf("pool_legacy",
      Seq(GroupBatch("meta", meta, "_bucket", Seq("17"))), -1L)
    r.putMatchKeyConfig(MatchKeyConfig("legacy", "jsonpath:$.inventory.issn[*]"))
    val before = r.catalog.partitionManifest("pool_legacy")
    def failsNamingPool(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("pool 'legacy'"), e.getMessage)
    }
    failsNamingPool(r.clusters("legacy"))
    failsNamingPool(r.listRecords("legacy"))
    failsNamingPool(r.ingest(batchDf(rec("S2", "SRC", 1, Seq("a")))))
    assert(r.catalog.partitionManifest("pool_legacy") == before,
      "nothing was routed into the old-layout pool")
  }
}
