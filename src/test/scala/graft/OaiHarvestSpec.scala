package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{MatchKeyConfig, Reservoir}
import graft.harvest.{HarvestConfig, OaiHarvest, OaiPmhClient}
import graft.storage.{Catalog, ClaimLost}

/** Harvest-client tests with a scripted HTTP function (the reference's fake
  * OAI server with fault injection, MainVerticleTest.java:3474-4487,
  * re-expressed): multi-page happy path, deleted records, retry on failure,
  * resumption across restart, stop flag, and parsing of the reference's
  * oai-response fixtures.
  */
class OaiHarvestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def page(records: Seq[(String, String, Boolean)],
      token: Option[String]): String = {
    val recs = records.map { case (id, ds, del) =>
      val status = if (del) " status=\"deleted\"" else ""
      val meta =
        if (del) ""
        else
          s"""<metadata><record xmlns="http://www.loc.gov/MARC21/slim">
             |<leader>00000nam a22000000a 4500</leader>
             |<controlfield tag="001">$id</controlfield>
             |<datafield tag="245" ind1="0" ind2="0">
             |<subfield code="a">Title $id</subfield></datafield>
             |</record></metadata>""".stripMargin
      s"""<record><header$status><identifier>$id</identifier>
         |<datestamp>$ds</datestamp></header>$meta</record>""".stripMargin
    }.mkString
    val tok = token.map(t => s"<resumptionToken>$t</resumptionToken>").getOrElse("")
    s"""<?xml version="1.0"?>
       |<OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">
       |<responseDate>2024-01-01T00:00:00Z</responseDate>
       |<ListRecords>$recs$tok</ListRecords></OAI-PMH>""".stripMargin
  }

  private def freshReservoir(): Reservoir = {
    val dir = Files.createTempDirectory("graft-harvest").toString
    val r = new Reservoir(spark, dir, "t1")
    r.putMatchKeyConfig(MatchKeyConfig("gr", "goldrush"))
    r
  }

  test("reference oai-response fixtures parse") {
    val p1 = OaiHarvest.parseResponse(Files.readString(
      Paths.get("/root/reference/util/src/test/resources/oai-response-1.xml")))
    assert(p1.records.length == 4)
    assert(p1.records.head.deleted && p1.records.head.marc.isEmpty)
    assert(p1.records(1).marc.exists(
      _.firstSubfield("245", "a").exists(_.startsWith("Forensic Science"))))
    assert(p1.resumptionToken.contains("MzM5OzE7Ozt2MS4w"))
  }

  test("a record holding a comment and a processing instruction parses " +
      "like the record without them") {
    val plain = page(Seq(("r1", "2024-01-01", false), ("r2", "2024-01-02", false)),
      Some("tok"))
    val noisy = plain
      .replace("<leader>", "<!-- harvested copy --><leader>")
      .replace("<subfield code=\"a\">Title r1",
        "<?cataloguer note?><subfield code=\"a\">Title r1")
    assert(noisy.contains("<!--") && noisy.contains("<?cataloguer"))
    val a = OaiHarvest.parseResponse(plain)
    val b = OaiHarvest.parseResponse(noisy)
    assert(a.records.length == 2 && a.records.forall(_.marc.isDefined))
    assert(b == a)
    assert(b.records.head.marc.exists(
      _.firstSubfield("245", "a").contains("Title r1")))
  }

  test("two-page harvest ingests all records and bumps the watermark") {
    val r = freshReservoir()
    val pages = Map(
      None -> page(Seq(("A1", "2024-02-01", false), ("A2", "2024-02-02", false)),
        Some("tok1")),
      Some("tok1") -> page(Seq(("A3", "2024-02-03", false)), None))
    val http: String => (Int, String) = url => {
      val tok = "resumptionToken=([^&]+)".r.findFirstMatchIn(url).map(_.group(1))
      (200, pages(tok))
    }
    val client = new OaiPmhClient(r, http, _ => ())
    val st = client.run(HarvestConfig("job1", "http://fake/oai", sourceId = "SRC"))
    assert(st.status == "idle")
    assert(st.totalRecords == 3 && st.totalRequests == 2)
    assert(st.from.contains("2024-02-04"), s"watermark bumped: ${st.from}")
    assert(r.records().count() == 3)
    // goldrush pool clustered them during ingest
    assert(r.clusters("gr").count() > 0)
  }

  test("deleted records flow through as deletes") {
    val r = freshReservoir()
    val first = page(Seq(("D1", "2024-02-01", false)), None)
    val second = page(Seq(("D1", "2024-02-05", true)), None)
    var phase = 0
    val http: String => (Int, String) = _ => { (200, if (phase == 0) first else second) }
    val client = new OaiPmhClient(r, http, _ => ())
    client.run(HarvestConfig("job2", "http://fake/oai", sourceId = "SRC"))
    assert(r.records().count() == 1)
    phase = 1
    // fresh job id so the watermark doesn't filter (scripted http ignores it)
    client.run(HarvestConfig("job2b", "http://fake/oai", sourceId = "SRC"))
    assert(r.records().count() == 0, "record deleted by the harvest")
  }

  test("transient failures are retried numberRetries times") {
    val r = freshReservoir()
    var calls = 0
    val http: String => (Int, String) = _ => {
      calls += 1
      if (calls <= 2) (500, "boom")
      else (200, page(Seq(("R1", "2024-02-01", false)), None))
    }
    var slept = 0
    val client = new OaiPmhClient(r, http, _ => slept += 1)
    val st = client.run(HarvestConfig("job3", "http://fake/oai",
      numberRetries = 3, waitRetriesMillis = 1))
    assert(st.status == "idle" && st.totalRecords == 1)
    assert(calls == 3 && slept == 2)
  }

  test("exhausted retries end in error status with a persisted message") {
    val r = freshReservoir()
    val http: String => (Int, String) = _ => (503, "down")
    val client = new OaiPmhClient(r, http, _ => ())
    val st = client.run(HarvestConfig("job4", "http://fake/oai",
      numberRetries = 1, waitRetriesMillis = 1))
    assert(st.status == "error" && st.error.exists(_.contains("503")))
    assert(client.status("job4").exists(_.status == "error"))
  }

  test("noRecordsMatch ends the job cleanly") {
    val r = freshReservoir()
    val http: String => (Int, String) = _ => (200,
      """<?xml version="1.0"?><OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">
        |<error code="noRecordsMatch"/></OAI-PMH>""".stripMargin)
    val client = new OaiPmhClient(r, http, _ => ())
    val st = client.run(HarvestConfig("job5", "http://fake/oai"))
    assert(st.status == "idle" && st.totalRecords == 0)
  }

  test("bad XML mid-harvest leaves a resumable persisted token") {
    val r = freshReservoir()
    val pages: Map[Option[String], (Int, String)] = Map(
      None -> (200, page(Seq(("B1", "2024-02-01", false)), Some("tokX"))),
      Some("tokX") -> (200, "<<<not xml"))
    var fixed = false
    val http: String => (Int, String) = url => {
      val tok = "resumptionToken=([^&]+)".r.findFirstMatchIn(url).map(_.group(1))
      if (tok.contains("tokX") && fixed)
        (200, page(Seq(("B2", "2024-02-02", false)), None))
      else pages(tok)
    }
    val client = new OaiPmhClient(r, http, _ => ())
    val cfg = HarvestConfig("job6", "http://fake/oai", numberRetries = 0,
      waitRetriesMillis = 1)
    val st1 = client.run(cfg)
    // page 1 was ingested and the token persisted before the bad page
    assert(r.records().count() == 1)
    assert(client.status("job6").exists(_.resumptionToken.contains("tokX")))
    // the server recovers; a re-run resumes from the token
    fixed = true
    val st2 = client.run(cfg)
    assert(st2.status == "idle")
    assert(r.records().count() == 2)
  }

  test("job state written before the owner column existed still loads and runs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val r = freshReservoir()
    // the pre-owner 8-column layout, persisted by an earlier build
    val oldSchema = StructType(Seq(
      StructField("id", StringType), StructField("status", StringType),
      StructField("resumptionToken", StringType), StructField("from", StringType),
      StructField("totalRecords", LongType), StructField("totalRequests", LongType),
      StructField("error", StringType), StructField("stop", BooleanType)))
    r.catalog.write("oai_clients", spark.createDataFrame(
      java.util.List.of(Row("jobOld", "idle", null, "2024-01-01", 5L, 2L, null,
        java.lang.Boolean.FALSE)), oldSchema))
    val client = new OaiPmhClient(r,
      _ => (200, page(Seq(("M1", "2024-03-01", false)), None)), _ => ())
    // loads with owner read as null, resumes, and runs to completion
    assert(client.status("jobOld").exists(s =>
      s.totalRecords == 5L && s.from.contains("2024-01-01")))
    val st = client.run(HarvestConfig("jobOld", "http://fake/oai", sourceId = "SRC"))
    assert(st.status == "idle" && st.totalRecords == 6L)
  }

  test("owner fencing: a concurrent start on a live job fails fast") {
    val r = freshReservoir()
    val onePage = page(Seq(("F1", "2024-03-01", false)), None)
    val cfg = HarvestConfig("job7", "http://fake/oai", sourceId = "SRC")
    var rejected: Option[IllegalStateException] = None
    lazy val client: OaiPmhClient = new OaiPmhClient(r, _ => {
      // fires while the outer run holds the claim (status running + owner):
      // a second start of the same job must fail fast, not interleave
      if (rejected.isEmpty)
        rejected = Some(intercept[IllegalStateException](client.run(cfg)))
      (200, onePage)
    }, _ => ())
    val st = client.run(cfg)
    assert(st.status == "idle" && st.totalRecords == 1)
    assert(rejected.exists(_.getMessage.contains("already running")))
    // terminal save released the claim: the same job id starts again cleanly
    assert(client.run(cfg).status == "idle")
  }

  test("a crashed runner's stale claim is reclaimed after stop()") {
    val r = freshReservoir()
    val cfg = HarvestConfig("job8", "http://fake/oai", sourceId = "SRC")
    // an Error bypasses the runner's Exception handler — like a process
    // crash, it leaves the job row claimed (status running, owner set)
    val crashing = new OaiPmhClient(r,
      _ => throw new AssertionError("simulated crash"), _ => ())
    intercept[AssertionError](crashing.run(cfg))
    assert(crashing.status("job8").exists(_.status == "running"))
    val good = new OaiPmhClient(r,
      _ => (200, page(Seq(("G1", "2024-03-01", false)), None)), _ => ())
    // fenced: the dead runner still owns the claim...
    intercept[IllegalStateException](good.run(cfg))
    // ...until stop() marks the job reclaimable
    good.stop("job8")
    val st = good.run(cfg)
    assert(st.status == "idle" && st.totalRecords == 1)
  }

  // ---------------- fault injection on job-row commits ----------------

  /** Run `body` with `fault` injected into the n-th `oai_clients` commit
    * attempt whenever `at(n)` holds. The hook is a planner strategy that
    * sees the job row's staging write on the committing thread — after the
    * writer read the version it commits against, before it claims the next
    * one — so a commit landing there is a real conflict.
    */
  private def withJobRowFault[T](at: Int => Boolean, fault: Reservoir => Unit,
      r: Reservoir)(body: => T): (T, Int) = {
    val attempts = new AtomicInteger(0)
    val faults = new AtomicInteger(0)
    val hook = new SparkStrategy {
      def apply(plan: LogicalPlan): Seq[SparkPlan] = {
        plan match {
          case w: InsertIntoHadoopFsRelationCommand
              if w.outputPath.toString.contains("/oai_clients/.staging-") &&
                at(attempts.incrementAndGet()) =>
            faults.incrementAndGet()
            fault(r)
          case _ => ()
        }
        Nil
      }
    }
    spark.experimental.extraStrategies = Seq(hook)
    try (body, faults.get) finally spark.experimental.extraStrategies = Nil
  }

  /** another writer's commit to the job table lands (no row changes) */
  private val concurrentCommit: Reservoir => Unit =
    r => r.catalog.overwriteGroupIf("oai_clients", Nil, -1L)

  /** this writer's claim is taken over while it stalls */
  private val claimLost: Reservoir => Unit =
    r => throw ClaimLost("oai_clients", r.catalog.version("oai_clients") + 1)

  private val twoPages: String => (Int, String) = url =>
    "resumptionToken=([^&]+)".r.findFirstMatchIn(url).map(_.group(1)) match {
      case None => (200, page(Seq(("H1", "2024-02-01", false),
        ("H2", "2024-02-02", false)), Some("tok1")))
      case _ => (200, page(Seq(("H3", "2024-02-03", false)), None))
    }

  test("job-row commits retry a conflicting commit and a lost claim") {
    Seq("conflict" -> concurrentCommit, "claim lost" -> claimLost).foreach {
      case (what, fault) =>
        val r = freshReservoir()
        val client = new OaiPmhClient(r, twoPages, _ => ())
        val cfg = HarvestConfig("jobF", "http://fake/oai", sourceId = "SRC",
          pagesPerIngest = 1)
        // the first attempt of every job-row write fails: the claim, each
        // page's flush, and the terminal save
        val (st, faults) = withJobRowFault(_ % 2 == 1, fault, r)(client.run(cfg))
        assert(faults >= 4, s"$what: $faults faults injected")
        assert(st.status == "idle" && st.totalRecords == 3 &&
          st.totalRequests == 2, s"$what: $st")
        assert(client.status("jobF").exists(_.status == "idle"), what)
        assert(r.records().count() == 3, what)
    }
  }

  test("a job-row write whose retries run out ends the job in error, not " +
      "running") {
    val r = freshReservoir()
    val client = new OaiPmhClient(r, twoPages, _ => ())
    val cfg = HarvestConfig("jobX", "http://fake/oai", sourceId = "SRC",
      pagesPerIngest = 1)
    // the claim commits; every attempt of the first page's flush conflicts
    val (st, faults) = withJobRowFault(
      n => n > 1 && n <= 1 + Catalog.RetryAttempts, concurrentCommit, r)(
      client.run(cfg))
    assert(faults == Catalog.RetryAttempts)
    assert(st.status == "error" &&
      st.error.exists(_.contains("concurrent write to 'oai_clients'")), st.toString)
    assert(client.status("jobX").exists(_.status == "error"),
      s"persisted: ${client.status("jobX")}")
    // the terminal save released the claim: the job starts again cleanly
    assert(client.run(cfg).status == "idle")
  }
}
