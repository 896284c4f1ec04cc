package graft.harvest

import java.io.StringReader
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.api.{IngestStats, Reservoir}
import graft.marc.{MarcJson, MarcRecord, MarcXml}
import graft.oai.OaiDates
import graft.storage.Catalog

/** OAI-PMH harvest source (S6, T3-T5): a resumable, driver-side ListRecords
  * pull loop — the resumption-token protocol is inherently sequential, so the
  * driver fetches pages and hands each page to the engine as a micro-batch
  * (records ingest + clustering are fully distributed; the HTTP loop is not
  * the bottleneck at any scale).
  *
  * Reference behavior preserved (OaiPmhClientService.java:335-736):
  * per-page persisted state (resumptionToken, from-watermark, stats) makes
  * the job resumable; a stop flag is polled per page; transient failures are
  * retried `numberRetries` times with `waitRetries` between attempts; the
  * `from` watermark advances to max(record datestamp)+1 unit on completion
  * (T5, Util.getNextOaiDate).
  */
object OaiHarvest {

  final case class OaiRecord(identifier: String, datestamp: String,
      deleted: Boolean, marc: Option[MarcRecord])

  final case class OaiResponse(records: Seq[OaiRecord],
      resumptionToken: Option[String], errorCode: Option[String])

  private val factory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f
  }

  /** Parse an OAI-PMH ListRecords response (OaiParserStream.java:88-165). */
  def parseResponse(xml: String): OaiResponse = {
    val r = factory.createXMLStreamReader(new StringReader(xml))
    val records = Seq.newBuilder[OaiRecord]
    var token: Option[String] = None
    var error: Option[String] = None
    var identifier = ""
    var datestamp = ""
    var deleted = false
    var marc: Option[MarcRecord] = None
    var inHeader = false
    var inMetadata = false
    var text = new StringBuilder
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "record" if inMetadata =>
                marc = Some(MarcXml.parseRecord(r))
              case "record" =>
                identifier = ""; datestamp = ""; deleted = false; marc = None
              case "header" =>
                inHeader = true
                deleted = Option(r.getAttributeValue(null, "status"))
                  .contains("deleted")
              case "metadata" => inMetadata = true
              case "error" =>
                error = Option(r.getAttributeValue(null, "code"))
              case _ => ()
            }
            text = new StringBuilder
          case XMLStreamConstants.CHARACTERS => text.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "identifier" if inHeader => identifier = text.toString.trim
              case "datestamp" if inHeader => datestamp = text.toString.trim
              case "header" => inHeader = false
              case "metadata" => inMetadata = false
              case "record" if !inMetadata && identifier.nonEmpty =>
                records += OaiRecord(identifier, datestamp, deleted, marc)
              case "resumptionToken" =>
                val t = text.toString.trim
                if (t.nonEmpty) token = Some(t)
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    OaiResponse(records.result(), token, error)
  }
}

final case class HarvestConfig(
    id: String,
    url: String,
    set: Option[String] = None,
    metadataPrefix: String = "marcxml",
    from: Option[String] = None,
    until: Option[String] = None,
    sourceId: String = "OAI",
    sourceVersion: Int = 1,
    headers: Map[String, String] = Map.empty,
    numberRetries: Int = 3,
    waitRetriesMillis: Long = 10000,
    // pages buffered into one ingest call: amortizes the per-ingest cluster
    // state commit across pages (the HTTP pull stays sequential regardless)
    pagesPerIngest: Int = 10)

final case class HarvestStatus(
    id: String,
    status: String, // idle | running | error
    resumptionToken: Option[String],
    from: Option[String],
    totalRecords: Long,
    totalRequests: Long,
    error: Option[String]) {
  def recsPerSec(elapsedMillis: Long): Double =
    if (elapsedMillis <= 0) 0.0 else totalRecords * 1000.0 / elapsedMillis
}

/** The harvest job runner: per-client persisted state in the tenant catalog
  * (`oai_clients` table), page loop driving `Reservoir.ingest`.
  */
final class OaiPmhClient(reservoir: Reservoir,
    httpSend: String => (Int, String) = OaiPmhClient.defaultHttp,
    sleeper: Long => Unit = Thread.sleep) {

  import OaiHarvest._

  private val spark = reservoir.spark

  private val stateSchema = StructType(Seq(
    StructField("id", StringType), StructField("status", StringType),
    StructField("resumptionToken", StringType), StructField("from", StringType),
    StructField("totalRecords", LongType), StructField("totalRequests", LongType),
    StructField("error", StringType), StructField("stop", BooleanType),
    StructField("owner", StringType)))

  private def loadStatus(id: String): Option[(HarvestStatus, Boolean, Option[String])] =
    reservoir.catalog.readOr("oai_clients", stateSchema)
      .filter(org.apache.spark.sql.functions.col("id") === id)
      .collect().headOption.map { r =>
        (HarvestStatus(r.getString(0), r.getString(1),
          Option(r.getString(2)), Option(r.getString(3)),
          r.getLong(4), r.getLong(5), Option(r.getString(6))),
          r.getBoolean(7), Option(r.getString(8)))
      }

  /** persist the job row, optimistic on `expected` (a catalog version) */
  private def saveStatus(s: HarvestStatus, stop: Boolean,
      owner: Option[String], expected: Long): Unit = {
    val others = reservoir.catalog.readOr("oai_clients", stateSchema)
      .filter(org.apache.spark.sql.functions.col("id") =!= s.id)
    val row = spark.createDataFrame(
      java.util.List.of(Row(s.id, s.status, s.resumptionToken.orNull,
        s.from.orNull, s.totalRecords, s.totalRequests, s.error.orNull,
        java.lang.Boolean.valueOf(stop), owner.orNull)),
      stateSchema)
    reservoir.catalog.writeIf("oai_clients", others.unionByName(row), expected)
    ()
  }

  /** fencing: a runner whose claim was taken over (stop + re-run while it
    * stalled) aborts instead of clobbering the new owner's progress
    */
  private def requireOwner(id: String,
      cur: Option[(HarvestStatus, Boolean, Option[String])], uuid: String): Unit =
    cur.foreach { case (_, _, owner) =>
      if (!owner.contains(uuid))
        throw new IllegalStateException(
          s"harvest job '$id' was taken over by another runner " +
            s"(owner ${owner.getOrElse("<none>")}); aborting this one")
    }

  /** Claim the job for this runner (the reference's owner fencing,
    * oai_pmh_clients.owner / OaiPmhClientService.java:335-474): an optimistic
    * CAS on the job row stamps this runner's UUID as owner. A second `run`
    * against a live job (status running, no stop requested) fails fast
    * instead of interleaving; a job whose runner crashed is reclaimed by
    * requesting `stop(id)` first. Every job's flush bumps the shared
    * oai_clients version, so this and every other job-row write re-examines
    * the row under [[Catalog.retrying]].
    */
  private def claimJob(cfg: HarvestConfig): (HarvestStatus, String) = {
    val uuid = java.util.UUID.randomUUID().toString
    Catalog.retrying {
      val v = reservoir.catalog.version("oai_clients")
      val cur = loadStatus(cfg.id)
      cur match {
        case Some((s, stopFlag, Some(other))) if s.status == "running" && !stopFlag =>
          throw new IllegalStateException(
            s"harvest job '${cfg.id}' is already running (owner $other); " +
              "stop(id) it first if its runner crashed")
        case _ => ()
      }
      val st = cur.map(_._1)
        .getOrElse(HarvestStatus(cfg.id, "idle", None, cfg.from, 0L, 0L, None))
        .copy(status = "running", error = None)
      saveStatus(st, stop = false, Some(uuid), v)
      (st, uuid)
    }
  }

  /** Fencing check + persist. A pending stop request is preserved across
    * mid-run flushes (only a terminal save consumes it via `clearStop`);
    * `release` drops the owner claim on terminal saves. The write is an
    * optimistic CAS so a concurrent `stop(id)` can't be silently overwritten.
    */
  private def saveOwned(s: HarvestStatus, uuid: String,
      release: Boolean = false, clearStop: Boolean = false): Unit =
    Catalog.retrying {
      val v = reservoir.catalog.version("oai_clients")
      val cur = loadStatus(s.id)
      requireOwner(s.id, cur, uuid)
      val stopFlag = !clearStop && cur.exists(_._2)
      saveStatus(s, stopFlag, if (release) None else Some(uuid), v)
    }

  def status(id: String): Option[HarvestStatus] = loadStatus(id).map(_._1)

  /** request a running job to stop at the next page boundary (T3); also the
    * recovery path that lets a crashed runner's claim be taken over. CAS so
    * a racing flush can't overwrite the request.
    */
  def stop(id: String): Unit =
    Catalog.retrying {
      val v = reservoir.catalog.version("oai_clients")
      loadStatus(id).foreach { case (s, _, owner) =>
        saveStatus(s, stop = true, owner, v)
      }
    }

  private def buildUrl(cfg: HarvestConfig, token: Option[String],
      from: Option[String]): String = {
    val qs = token match {
      case Some(t) =>
        Seq("verb=ListRecords",
          s"resumptionToken=${java.net.URLEncoder.encode(t, "UTF-8")}")
      case None =>
        Seq(Some("verb=ListRecords"),
          Some(s"metadataPrefix=${cfg.metadataPrefix}"),
          cfg.set.map(s => s"set=$s"),
          from.orElse(cfg.from).map(f => s"from=$f"),
          cfg.until.map(u => s"until=$u")).flatten
    }
    cfg.url + "?" + qs.mkString("&")
  }

  private def fetchWithRetry(cfg: HarvestConfig, url: String): (Int, String) = {
    var attempt = 0
    while (true) {
      try {
        val (code, body) = httpSend(url)
        if (code == 200) return (code, body)
        if (attempt >= cfg.numberRetries)
          throw new RuntimeException(s"OAI request failed with status $code")
      } catch {
        case e: Exception if attempt >= cfg.numberRetries => throw e
        case _: Exception => ()
      }
      attempt += 1
      sleeper(cfg.waitRetriesMillis)
    }
    sys.error("unreachable")
  }

  /** Run one harvest job to completion (or stop/error). Returns final status.
    * Resumes from a persisted resumptionToken when present (T3).
    */
  def run(cfg: HarvestConfig): HarvestStatus = {
    val start = System.currentTimeMillis()
    val (claimed, uuid) = claimJob(cfg)
    var st = claimed
    var maxDatestamp: Option[String] = st.from
    // pages are buffered and ingested pagesPerIngest at a time; the cursor
    // tracks the token AFTER the last buffered page and is only persisted at
    // flush, so a crash resumes from the first un-ingested page
    var cursor: Option[String] = st.resumptionToken
    var buffer = Vector.empty[OaiHarvest.OaiRecord]
    var bufferedPages = 0

    // cheap fencing read (one config-row load) so a usurped runner aborts
    // BEFORE mutating anything: claimJob clears a pending stop flag on
    // takeover, so without this check a merely-stalled (not dead) old runner
    // would keep fetching and could ingest up to pagesPerIngest pages before
    // its next saveOwned aborted it. Ingest is an idempotent MERGE, so that
    // window was safe — but this closes it at the page boundary.
    def assertStillOwner(): Unit = requireOwner(cfg.id, loadStatus(cfg.id), uuid)

    def flush(): Unit = if (bufferedPages > 0) {
      assertStillOwner()
      val stats = reservoir.ingest(toBatch(buffer, cfg))
      st = st.copy(
        totalRecords = st.totalRecords + stats.processed,
        totalRequests = st.totalRequests + bufferedPages,
        resumptionToken = cursor)
      buffer = Vector.empty
      bufferedPages = 0
      saveOwned(st, uuid)
    }

    var continue = true
    try {
      while (continue) {
        val cur = loadStatus(cfg.id)
        requireOwner(cfg.id, cur, uuid)
        val stopped = cur.exists(_._2)
        if (stopped) {
          flush()
          st = st.copy(status = "idle")
          continue = false
        } else {
          val url = buildUrl(cfg, cursor, st.from)
          val (_, body) = fetchWithRetry(cfg, url)
          val resp = OaiHarvest.parseResponse(body)
          resp.errorCode match {
            case Some("noRecordsMatch") =>
              flush()
              st = st.copy(status = "idle", resumptionToken = None)
              continue = false
            case Some(code) =>
              throw new RuntimeException(s"OAI error: $code")
            case None =>
              buffer ++= resp.records
              bufferedPages += 1
              cursor = resp.resumptionToken
              val pageMax = resp.records.map(_.datestamp).filter(_.nonEmpty)
                .maxOption
              maxDatestamp = (maxDatestamp.toSeq ++ pageMax.toSeq).maxOption
              if (cursor.isEmpty) {
                flush()
                // bump the watermark so the next run re-harvests nothing (T5)
                st = st.copy(status = "idle",
                  from = maxDatestamp.map(OaiDates.nextOaiDate))
                continue = false
              } else if (bufferedPages >= cfg.pagesPerIngest) flush()
          }
        }
      }
      saveOwned(st, uuid, release = true, clearStop = true)
      st
    } catch {
      case e: Exception =>
        // pages that parsed cleanly are still ingested, so the persisted
        // token resumes after them
        try flush() catch { case _: Exception => () }
        st = st.copy(status = "error", error = Some(e.getMessage))
        // best effort: a usurped runner's row is theirs now, and if this
        // save's retries run out too the returned status still reports
        // the error
        try saveOwned(st, uuid, release = true, clearStop = true)
        catch { case _: Exception => () }
        st
    }
  }

  private def toBatch(records: Seq[OaiRecord],
      cfg: HarvestConfig): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    records.map { r =>
      val payload = r.marc.map(m => s"""{"marc":${MarcJson.toJson(m)}}""")
      (r.identifier, cfg.sourceId, cfg.sourceVersion, payload.orNull, r.deleted)
    }.toDF("localId", "sourceId", "sourceVersion", "payloadJson", "delete")
  }
}

object OaiPmhClient {
  private lazy val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(30)).build()

  def defaultHttp(url: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .header("Accept", "text/xml")
      .timeout(Duration.ofSeconds(120)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    (resp.statusCode(), resp.body())
  }
}
