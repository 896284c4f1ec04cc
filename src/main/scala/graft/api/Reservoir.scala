package graft.api

import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cluster.{ClusterState, Clusterize}
import graft.cql.Cql
import graft.functions.{GoldRush, JsonPathLite}
import graft.marc.{MarcJson, MarcUtil, MarcXml}
import graft.oai.{OaiDates, ResumptionToken}
import graft.storage.{BucketSizing, Catalog, GroupBatch}

/** A match-key pool definition (FIXTURES.md §3): `matcher` is either
  * `goldrush`/`goldrush2024`, or `jsonpath:<expr>`; `update` ∈ ingest|manual.
  */
final case class MatchKeyConfig(id: String, matcher: String,
    update: String = "ingest")

final case class IngestStats(processed: Long, inserted: Long, updated: Long,
    deleted: Long, ignored: Long)

final case class OaiPage(
    items: Seq[OaiItem],
    resumptionToken: Option[String])

/** One OAI record: header info + serialized MARCXML metadata (None when the
  * cluster is a deleted tombstone).
  */
final case class OaiItem(clusterId: String, datestamp: Timestamp,
    deleted: Boolean, metadataXml: Option[String])

/** A match-key pool pinned at one manifest: its state, its version (the
  * `expected` of an optimistic save), the manifest, and the bucket modulus
  * its keys carry.
  */
private[api] final case class PoolSnapshot(state: ClusterState,
    version: Long, manifest: Map[String, Long], modulus: Int)

/** The library facade mirroring the reference's API surface (SURVEY.md §2.12):
  * ingest with per-pool incremental clustering, CQL-queried record and
  * cluster listings, touch, per-pool statistics, initialize (rebuild), and
  * OAI-style incremental export with byte-compatible resumption tokens.
  *
  * All heavy work is DataFrame plans over the snapshot catalog; only the
  * bounded OAI page (≤ limit rows) is assembled driver-side.
  */
final class Reservoir(val spark: SparkSession, root: String, tenant: String) {

  val catalog = new Catalog(spark, root, tenant)

  /** code-module registry (config/modules CRUD + reload, SURVEY.md §2.11) */
  val modules = new ModuleRegistry(catalog)

  private val recordsSchema = StructType(Seq(
    StructField("globalId", StringType),
    StructField("localId", StringType),
    StructField("sourceId", StringType),
    StructField("sourceVersion", IntegerType),
    StructField("payloadJson", StringType)))

  private val matchKeySchema = StructType(Seq(
    StructField("id", StringType),
    StructField("matcher", StringType),
    StructField("update", StringType)))

  private def now(): Timestamp = new Timestamp(System.currentTimeMillis())

  /** The record store is a partitioned copy-on-write table keyed by sourceId
    * (records already cluster naturally by source): a batch rewrites only the
    * partitions of the sources it touches, so per-batch I/O is proportional
    * to the batch's sources — not the table (the reference gets the same
    * from per-row SQL upserts, Storage.java:212-223).
    */
  private def readRecords(): DataFrame =
    catalog.readPartitionedOr("records", recordsSchema)

  private def readRecordsOf(sources: Seq[String]): DataFrame =
    catalog.readPartitionsOr("records", recordsSchema, sources)

  // ---------------- config ----------------

  def putMatchKeyConfig(cfg: MatchKeyConfig): Unit = {
    import spark.implicits._
    // read-modify-write: updateWith retries against the fresh snapshot if a
    // concurrent config writer commits in between (no lost update)
    catalog.updateWith("config_matchkeys", matchKeySchema) { cur =>
      cur.filter(col("id") =!= cfg.id)
        .unionByName(Seq(cfg).toDF("id", "matcher", "update"))
    }
    ()
  }

  def matchKeyConfigs(): Seq[MatchKeyConfig] =
    catalog.readOr("config_matchkeys", matchKeySchema).collect().toSeq
      .map(r => MatchKeyConfig(r.getString(0), r.getString(1), r.getString(2)))

  def deleteMatchKeyConfig(id: String): Unit = {
    catalog.updateWith("config_matchkeys", matchKeySchema)(
      _.filter(col("id") =!= id))
    Catalog.retrying(saveState(id, loadState(id), ClusterState.empty(spark),
      allSubs, None))
  }

  // ---------------- oai config (GET/PUT/DELETE /config/oai) ----------------

  private val oaiConfigSchema = StructType(Seq(
    StructField("repositoryName", StringType),
    StructField("baseUrl", StringType),
    StructField("transformer", StringType)))

  def putOaiConfig(repositoryName: String, baseUrl: String,
      transformer: Option[String] = None): Unit = {
    val row = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        repositoryName, baseUrl, transformer.orNull)), oaiConfigSchema)
    catalog.write("config_oai", row)
  }

  def oaiConfig(): Option[(String, String, Option[String])] =
    catalog.readOr("config_oai", oaiConfigSchema).collect().headOption
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2))))

  def deleteOaiConfig(): Unit =
    catalog.write("config_oai", catalog.readOr("config_oai", oaiConfigSchema)
      .filter(lit(false)))

  // ---------------- matchers ----------------

  /** matcher string → UDF payloadJson → keys (errors → zero keys) */
  private[api] def matcherKeys(matcher: String): Column = {
    val f: String => Seq[String] = matcher match {
      case "goldrush" | "goldrush2024" =>
        (p: String) =>
          try Seq(GoldRush.matchkeyFromPayload(p))
          catch { case _: Exception => Nil }
      case "goldrush2021" =>
        (p: String) =>
          try Seq(graft.functions.GoldRush2021.matchkeyFromPayload(p))
          catch { case _: Exception => Nil }
      case m if m.startsWith("jsonpath:") =>
        val path = JsonPathLite.compile(m.stripPrefix("jsonpath:"))
        (p: String) => path.strings(p)
      case m if m.startsWith("module:") =>
        // resolved through the registry (matcher: "module:<id>[::fn]")
        modules.resolveMatcher(m.stripPrefix("module:"))
      case other =>
        throw new IllegalArgumentException(s"unknown matcher: $other")
    }
    udf(f).apply(col("payloadJson"))
  }

  // ---------------- cluster state io ----------------
  // A pool's meta/assignments/values live in ONE group table (`pool_<id>`,
  // sub-tables committed atomically: one manifest, one _LATEST flip), each
  // bucketed by hash(clusterId) % m under the manifest keys `<sub>/<m>.<b>`.
  // The modulus m is derived from the pool's own bytes by the rule both
  // stores share (BucketSizing: the smallest power of two keeping a bucket
  // under baseBucketBytes), so a pool of a few thousand clusters is one
  // bucket per sub-table and a PALCI-scale pool tens to a hundred. The keys
  // carry m, so loadState learns it from the manifest without a Spark job
  // (BucketSizing.modulusOf, the parser both stores share). A save reads
  // the pool's bytes off filesystem metadata; when they outgrow m, m grows
  // to the derived power of two and the same commit rewrites every bucket
  // and drops the old keys. m never shrinks.
  //
  // Otherwise an incremental batch only rewrites the buckets holding
  // touched clusters: every row an ingest/delete/merge changes has both its
  // old and its new clusterId in the batch's touched set (newly assigned,
  // absorbed, survivor, or previous cluster of a moved record — all marked
  // datestamp = ts in meta), so untouched buckets are byte-identical and
  // never rewritten. Because the three sub-tables share one commit point, a
  // concurrent writer can never observe (or leave behind) a half-updated
  // pool — the role the reference's PG transaction plays
  // (Storage.java:251-264) — and loadState pins one manifest for a
  // consistent cross-table snapshot.

  private def poolTable(pool: String): String = s"pool_$pool"

  /** the manifest key (below the sub-table) of a clusterId's bucket */
  private def bucketOf(clusterId: Column, m: Int): Column =
    BucketSizing.label(hash(clusterId), m)

  private def allBuckets(m: Int): Seq[String] = (0 until m).map(b => s"$m.$b")

  private val poolSchemas: Seq[(String, StructType)] = Seq(
    "meta" -> StructType(Seq(StructField("clusterId", StringType),
      StructField("datestamp", TimestampType))),
    "assignments" -> StructType(Seq(StructField("recordId", StringType),
      StructField("clusterId", StringType))),
    "values" -> StructType(Seq(StructField("value", StringType),
      StructField("clusterId", StringType))))

  /** The bucket modulus a pool manifest's keys carry (1 for an empty pool),
    * parsed by the rule both stores share; a key of another layout (the
    * former fixed-64 one) or keys of two moduli fail, naming the pool.
    */
  private def modulusOf(pool: String, mf: Map[String, Long]): Int =
    BucketSizing.modulusOf(s"pool '$pool'",
      mf.keys.map(k => k.drop(k.indexOf('/') + 1))).getOrElse(1)

  /** one sub-table's batch: one file per bucket, rows sorted by clusterId —
    * parquet min/max stats then row-group-skip the clusterId IN probes of
    * the O(page) OAI export (and avoid small-file sprawl from many write
    * tasks). `stale` keys are dropped in the same commit.
    */
  private def bucketBatch(sub: String, df: DataFrame, m: Int,
      dirty: Seq[String], stale: Seq[String]): GroupBatch =
    GroupBatch(sub,
      df.withColumn("_bucket", bucketOf(col("clusterId"), m))
        .filter(col("_bucket").isin(dirty: _*))
        .repartition(col("_bucket"))
        .sortWithinPartitions(col("_bucket"), col("clusterId")),
      "_bucket", dirty ++ stale)

  /** The latest pool snapshot, or the PAST version `at` of a paged OAI
    * export — which fails with guidance when auto-vacuum already dropped
    * that manifest.
    */
  private def loadState(pool: String, at: Option[Long] = None): PoolSnapshot = {
    val t = poolTable(pool)
    val (v, mf) = at match {
      case None => catalog.snapshot(t)
      case Some(v) =>
        val mf = catalog.snapshotAt(t, v)
        if (v > 0 && mf.isEmpty) throw new IllegalStateException(
          s"snapshot v=$v of pool '$pool' is no longer available (vacuumed " +
            "while the paged export ran); restart the export without the token")
        (v, mf)
    }
    val m = modulusOf(pool, mf)
    val Seq(meta, assignments, values) = poolSchemas.map { case (sub, schema) =>
      catalog.readGroupOr(t, mf, sub, schema)
    }
    PoolSnapshot(ClusterState(meta, assignments, values), v, mf, m)
  }

  private def subTables(s: ClusterState): Seq[(String, DataFrame)] =
    Seq("meta" -> s.meta, "assignments" -> s.assignments, "values" -> s.values)

  /** the buckets under modulus `m` holding the given clusters (a
    * `clusterId` frame)
    */
  private def bucketsOf(clusters: DataFrame, m: Int): Seq[String] =
    clusters.select(bucketOf(col("clusterId"), m)).distinct()
      .collect().map(_.getString(0)).toSeq

  /** The one pool-state saver: commit the `changed` sub-tables of `next`
    * (stepped from `base`) as one atomic group, optimistic on base's
    * version. Only the buckets holding the `dirty` clusters are rewritten
    * (None: every bucket), so write I/O is O(dirty buckets), not O(pool),
    * and since the sub-tables commit together a conflict can never leave
    * the pool half-updated. The pool's bytes, read off base's manifest
    * (filesystem metadata, no Spark job), set the modulus: when they
    * outgrow base's, every bucket of every sub-table is rewritten under the
    * derived modulus and the old keys are dropped.
    */
  private def saveState(pool: String, base: PoolSnapshot, next: ClusterState,
      changed: Set[String], dirty: Option[DataFrame]): Unit = {
    val t = poolTable(pool)
    val bytes = catalog.partitionBytes(t, base.manifest, base.manifest.keys.toSeq)
      .values.sum
    val m = BucketSizing.grown(base.modulus, bytes, spark)
    val grown = m != base.modulus
    val buckets = dirty match {
      case Some(c) if !grown => bucketsOf(c, m)
      case _ => allBuckets(m)
    }
    if (buckets.nonEmpty) {
      val batches = subTables(next).collect {
        case (sub, df) if grown || changed(sub) =>
          val stale = if (!grown) Nil else base.manifest.keys.toSeq
            .filter(_.startsWith(s"$sub/")).map(_.stripPrefix(s"$sub/"))
          bucketBatch(sub, df, m, buckets, stale)
      }
      catalog.overwriteGroupIf(t, batches, base.version)
      ()
    }
  }

  private val allSubs: Set[String] = poolSchemas.map(_._1).toSet

  /** Advance one pool under [[Catalog.retrying]]: `f` steps the freshly
    * pinned state; the buckets of the clusters it stamped with `ts` are
    * saved optimistically against the pinned version. The stepped meta is
    * materialized once: the dirty-bucket collect and the meta staging both
    * read it.
    */
  private def advancePool(pool: String, ts: Timestamp)(
      f: ClusterState => ClusterState): Unit =
    Catalog.retrying {
      val base = loadState(pool)
      val s = f(base.state)
      val meta = s.meta.localCheckpoint(true)
      saveState(pool, base, s.copy(meta = meta), allSubs,
        Some(meta.filter(col("datestamp") === lit(ts))))
    }

  // ---------------- ingest ----------------

  /** deterministic surrogate uuid, stable across upserts of the same natural
    * key (Storage.java:212-223 RETURNING id semantics)
    */
  private def globalIdCol: Column = {
    val u = udf((s: String) =>
      UUID.nameUUIDFromBytes(("graft-record:" + s).getBytes("UTF-8")).toString)
    u(concat_ws("\u0000", lit(tenant), col("sourceId"), col("localId"),
      col("sourceVersion")))
  }

  /** Ingest a batch of `(localId, sourceId, sourceVersion, payloadJson,
    * delete)` rows: MERGE-upsert into the record store by natural key, then
    * run every `update=ingest` pool's matcher over the upserted records and
    * advance its cluster state incrementally (§3.2 lifecycle).
    */
  def ingest(batch: DataFrame): IngestStats = ingest(batch, None)

  /** Ingest with a configurable localId extraction path (P4,
    * IngestWriteStream.java:149-167): when `localIdPath` is set, localId is
    * pulled out of the payload with JSONPath (default in the reference:
    * `$.marc.fields[*].001`) and trimmed; records yielding nothing are
    * counted `ignored` and skipped.
    */
  def ingest(batch: DataFrame, localIdPath: Option[String]): IngestStats = {
    val ts = now()
    val withLocalId = localIdPath match {
      case None => batch
      case Some(path) =>
        val compiled = JsonPathLite.compile(path)
        val extract = udf((p: String) =>
          Option(p).flatMap(compiled.strings(_).headOption).map(_.trim).orNull)
        batch.withColumn("localId", extract(col("payloadJson")))
    }
    val b = withLocalId.localCheckpoint(true)
    // one pass yields the touched sources and both row counts. Only the
    // touched sources' partitions are ever read or rewritten; globalId
    // embeds sourceId, so upsert/delete matches cannot cross sources
    val perSource = b.groupBy(col("sourceId"), col("localId").isNull.as("ign"))
      .count().collect()
    val touchedSources = perSource.filterNot(_.getBoolean(1))
      .map(_.getString(0)).toSeq
    val ignoredCount = perSource.filter(_.getBoolean(1)).map(_.getLong(2)).sum

    val deletes = b.filter(col("delete") === true && col("localId").isNotNull)
      .select(col("localId"), col("sourceId")).distinct()
    val upserts = b.filter(col("delete") =!= true && col("localId").isNotNull)
      .withColumn("globalId", globalIdCol)
      .select("globalId", "localId", "sourceId", "sourceVersion", "payloadJson")
      // last write in the batch wins per natural key
      .withColumn("rn", row_number().over(
        Window.partitionBy("globalId").orderBy(monotonically_increasing_id().desc)))
      .filter(col("rn") === 1).drop("rn")
      .localCheckpoint(true)
    val upsertCount = upserts.count()

    // upsert + stats against the current store, optimistic on its version:
    // a concurrent ingest landing between our read and commit re-runs this
    // step against the fresh snapshot (no lost update, stats stay exact)
    val (inserted, updated, deletedGlobalIds, deletedCount) =
      Catalog.retrying {
        val recVer = catalog.version("records")
        val base = readRecordsOf(touchedSources)
        val existingKeys = base.select(col("globalId")).distinct()
        val ins = upserts.join(existingKeys, Seq("globalId"), "left_anti").count()
        val delIds = base.join(deletes, Seq("localId", "sourceId"))
          .select(col("globalId")).distinct().localCheckpoint(true)
        val delCount = delIds.count()

        val nextRecords = base
          .join(upserts.select("globalId"), Seq("globalId"), "left_anti")
          .join(deletes, Seq("localId", "sourceId"), "left_anti")
          .unionByName(upserts)
          // using-column joins move join keys to the front; restore schema order
          .select(recordsSchema.fieldNames.map(col).toSeq: _*)
          // cluster rows by source and localId so parquet min/max stats give
          // file/row-group skipping on the hot predicates (the survey's
          // index-replacement strategy, SURVEY.md §4)
          .repartition(col("sourceId"))
          .sortWithinPartitions(col("sourceId"), col("localId"), col("sourceVersion"))
        catalog.overwritePartitionsIf("records", nextRecords, "sourceId",
          touchedSources, recVer)
        (ins, upsertCount - ins, delIds, delCount)
      }

    // advance every ingest-mode pool, each step optimistic on the pool's
    // snapshot version (all three sub-tables commit atomically, so a
    // conflicting step re-runs from a consistent state)
    matchKeyConfigs().filter(_.update == "ingest").foreach { cfg =>
      val keys = upserts.select(col("globalId").as("recordId"),
        matcherKeys(cfg.matcher).as("keys"))
      advancePool(cfg.id, ts) { st0 =>
        val state = Clusterize.ingestBatch(st0, keys, cfg.id, ts)
        if (deletedCount == 0) state
        else Clusterize.deleteRecords(state,
          deletedGlobalIds.withColumnRenamed("globalId", "recordId"), ts)
      }
    }

    IngestStats(perSource.map(_.getLong(2)).sum, inserted, updated,
      deletedCount, ignoredCount)
  }

  /** Rebuild one pool from the full record store (Storage.java:799-879). */
  def initialize(pool: String): Unit = {
    val cfg = matchKeyConfigs().find(_.id == pool)
      .getOrElse(throw new IllegalArgumentException(s"no such pool: $pool"))
    val recs = readRecords()
    val keys = recs.select(col("globalId").as("recordId"),
      matcherKeys(cfg.matcher).as("keys"))
    val rebuilt = Clusterize.initialize(keys, pool, now())
    Catalog.retrying(saveState(pool, loadState(pool), rebuilt, allSubs, None))
  }

  // ---------------- queries ----------------

  private val recordCqlFields = Map(
    "globalId" -> Cql.UuidField, "localId" -> Cql.TextField,
    "sourceId" -> Cql.TextField, "sourceVersion" -> Cql.NumberField)

  /** GET /reservoir/records?query=CQL */
  def records(cqlQuery: String = null): DataFrame =
    Cql.parse(cqlQuery, recordCqlFields)(readRecords())

  /** DELETE /reservoir/records?query=CQL — removes records and updates every
    * pool's clusters (tombstones remain).
    */
  def deleteRecords(cqlQuery: String): Long = {
    val ts = now()
    val victimRows = records(cqlQuery).select(col("globalId"), col("sourceId"))
      .localCheckpoint(true)
    val victims = victimRows.select(col("globalId"))
    val n = victims.count()
    if (n > 0) {
      val touched = victimRows.select(col("sourceId")).distinct()
        .collect().map(_.getString(0)).toSeq
      Catalog.retrying {
        val recVer = catalog.version("records")
        catalog.overwritePartitionsIf("records",
          readRecordsOf(touched).join(victims, Seq("globalId"), "left_anti"),
          "sourceId", touched, recVer)
      }
      matchKeyConfigs().foreach { cfg =>
        advancePool(cfg.id, ts)(Clusterize.deleteRecords(_,
          victims.withColumnRenamed("globalId", "recordId"), ts))
      }
    }
    n
  }

  private val clusterCqlFields = Map(
    "clusterId" -> Cql.UuidField, "matchValue" -> Cql.TextField,
    "globalId" -> Cql.UuidField, "localId" -> Cql.TextField,
    "sourceId" -> Cql.TextField, "sourceVersion" -> Cql.NumberField)

  /** Cluster documents (J1/J2 + A2/A7/W2 assembly): one row per cluster with
    * datestamp, sorted matchValues, and version-deduped sorted records.
    * The CQL predicate applies to the flattened join (matching any record or
    * match value selects the whole cluster), like the reference's conditional
    * join build (Storage.java:657-679).
    */
  def clusters(pool: String, cqlQuery: String = null): DataFrame = {
    val state = loadState(pool).state
    val recs = readRecords()
    val parsed = Cql.parse(cqlQuery, clusterCqlFields)
    // J2 join elision (Storage.java:657-679): join the record and value
    // tables only when the query actually references their fields — at scale
    // this keeps a clusterId-only listing to a single table scan
    val needsRecords = parsed.referenced
      .intersect(Set("globalId", "localId", "sourceId", "sourceVersion")).nonEmpty
    val needsValues = parsed.referenced.contains("matchValue")
    var flat = state.assignments
    if (needsRecords) flat = flat.join(recs, col("recordId") === col("globalId"))
    if (needsValues) flat = flat.join(
      state.values.withColumnRenamed("value", "matchValue"), Seq("clusterId"), "left")
    val selected = parsed.where.map(flat.filter).getOrElse(flat)
      .select(col("clusterId")).distinct()
    clusterDocs(state, recs, selected)
  }

  /** Assemble cluster documents for exactly the clusters in `selected` (a
    * single-`clusterId`-column frame). The max-version window and both
    * groupBy aggregations run on the `selected`-joined member rows only, so
    * when `selected` is one page the cost is O(page), not O(pool) — the
    * reference gets the same with per-page keyset SQL
    * (OaiService.java:303-350).
    */
  private def clusterDocs(state: ClusterState, recs: DataFrame,
      selected: DataFrame): DataFrame = {
    val members = state.assignments.join(selected, "clusterId")
      .join(recs, col("recordId") === col("globalId"))
      // A7: within a cluster keep only the records at the max sourceVersion
      // of their source (ClusterBuilder.latest keeps all such records)
      .withColumn("maxv", max(col("sourceVersion")).over(Window
        .partitionBy(col("clusterId"), col("sourceId"))))
      .filter(col("sourceVersion") === col("maxv")).drop("maxv")
      .groupBy(col("clusterId"))
      // W2: records ordered by (sourceId, sourceVersion, localId)
      .agg(sort_array(collect_list(struct(
        col("sourceId"), col("sourceVersion"), col("localId"),
        col("globalId"), col("payloadJson")))).as("records"))
    val values = state.values.withColumnRenamed("value", "matchValue")
      .join(selected, "clusterId")
      .groupBy(col("clusterId"))
      .agg(sort_array(collect_list(col("matchValue"))).as("matchValues"))

    selected
      .join(state.meta, Seq("clusterId"), "left")
      .join(values, Seq("clusterId"), "left")
      .join(members, Seq("clusterId"), "left")
      .withColumn("matchValues",
        coalesce(col("matchValues"), array().cast("array<string>")))
      .withColumn("records", coalesce(col("records"),
        expr("CAST(array() AS array<struct<sourceId:string,sourceVersion:int," +
          "localId:string,globalId:string,payloadJson:string>>)")))
      .select("clusterId", "datestamp", "matchValues", "records")
  }

  /** O(page) cluster-doc assembly for an explicit (small) id list: the ids
    * are pushed as `IN` predicates into the pool-table parquet scans (row
    * group skipping via min/max stats), so a page of an N-cluster pool reads
    * and aggregates O(page) rows — not O(N) as `clusters(pool, null)` would.
    * Package-private so specs can assert the plan shape.
    */
  private[graft] def pageClusterDocs(pool: String, pageIds: Seq[String],
      pinned: Option[ClusterState] = None): DataFrame = {
    val state = pinned.getOrElse(loadState(pool).state)
    val recs = readRecords()
    val pageState = ClusterState(
      state.meta.filter(col("clusterId").isin(pageIds: _*)),
      state.assignments.filter(col("clusterId").isin(pageIds: _*)),
      state.values.filter(col("clusterId").isin(pageIds: _*)))
    import spark.implicits._
    clusterDocs(pageState, recs, broadcast(pageIds.toDF("clusterId")))
  }

  def clusterById(pool: String, clusterId: String): DataFrame = {
    // a quoted CQL term: `\` escapes the next character, `"` ends it
    val term = clusterId.replace("\\", "\\\\").replace("\"", "\\\"")
    clusters(pool, s"""clusterId = "$term"""")
  }

  /** POST /reservoir/clusters/touch — bump datestamps of matching clusters */
  def touch(pool: String, cqlQuery: String): Long = {
    val ts = now()
    val hit = clusters(pool, cqlQuery).select(col("clusterId"))
      .localCheckpoint(true)
    val n = hit.count()
    if (n > 0) {
      Catalog.retrying {
        val base = loadState(pool)
        val nextMeta = base.state.meta
          .join(hit.withColumn("t", lit(true)), Seq("clusterId"), "left")
          .withColumn("datestamp", when(col("t"), lit(ts)).otherwise(col("datestamp")))
          .select("clusterId", "datestamp")
        saveState(pool, base, base.state.copy(meta = nextMeta), Set("meta"),
          Some(hit))
      }
    }
    n
  }

  def stats(pool: String): DataFrame = Clusterize.stats(loadState(pool).state)

  /** Reclaim partition data dirs superseded beyond the retained snapshot or
    * left behind by emptied partitions, across the record store and every
    * pool's tables. Run when no long-lived readers hold older snapshots.
    */
  def vacuum(): Int = {
    val tables = "records" +: matchKeyConfigs().map(c => poolTable(c.id))
    tables.map(catalog.vacuumPartitions).sum
  }

  // ---------------- OAI export ----------------

  /** ListRecords/ListIdentifiers page (W3 keyset pagination,
    * OaiService.java:165-191): ordered by (datestamp, clusterId), bounded by
    * from/until, resumable via a byte-compatible resumption token.
    *
    * `pinSnapshot = true` EXCEEDS reference parity (SURVEY §7.4 risk 5):
    * the first page pins the pool's catalog snapshot and embeds its version
    * in the token, so every later page reads the SAME committed state —
    * ingest landing between pages can neither duplicate a cluster (its
    * datestamp bump would re-order it past the cursor) nor drop one into
    * the already-consumed keyset range. The reference only gets per-request
    * MVCC; so does our compat default (false — token bytes then match the
    * reference's). Record payloads still read the live records table,
    * mirroring the reference's per-request join. Auto-vacuum can expire a
    * pinned snapshot mid-export; the next page then fails with guidance.
    */
  def listRecords(pool: String, from: Option[String] = None,
      until: Option[String] = None, resumptionToken: Option[String] = None,
      limit: Int = 1000, withMetadata: Boolean = true,
      pinSnapshot: Boolean = false): OaiPage = {
    val tok = resumptionToken.map(ResumptionToken.decode)
    val effFrom = tok.flatMap(_.from)
      .orElse(from.map(OaiDates.parseFrom))
    val effUntilStr = tok.map(_.until).getOrElse(until)
    val effUntil = effUntilStr.map(OaiDates.parseUntil)
    val afterId = tok.flatMap(_.clusterId)

    val pinAt = tok.flatMap(_.snapshotVersion)
    val snap = loadState(pool, pinAt)
    val pinnedV = if (pinAt.isDefined || pinSnapshot) Some(snap.version) else None
    var q = snap.state.meta
    effFrom.foreach { f =>
      val fts = Timestamp.valueOf(f)
      q = afterId match {
        case Some(id) => q.filter(col("datestamp") > lit(fts) ||
          (col("datestamp") === lit(fts) && col("clusterId") >= id))
        case None => q.filter(col("datestamp") >= lit(fts))
      }
    }
    effUntil.foreach(u => q = q.filter(col("datestamp") < lit(Timestamp.valueOf(u))))
    val page = q.orderBy(col("datestamp"), col("clusterId"))
      .limit(limit + 1).collect()

    val hasMore = page.length > limit
    val pageIds = page.take(limit).map(_.getString(0)).toSeq
    val docs = clusterDocMap(pool, pageIds,
      if (pinnedV.isDefined) Some(snap.state) else None)
    val items = page.take(limit).map(r =>
      mkOaiItem(r.getString(0), r.getTimestamp(1), docs, withMetadata)).toSeq

    val nextToken =
      if (!hasMore) None
      else {
        val nextRow = page(limit)
        Some(ResumptionToken(pool, effUntilStr,
          Some(nextRow.getTimestamp(1).toLocalDateTime),
          Some(nextRow.getString(0)), snapshotVersion = pinnedV).encode)
      }
    OaiPage(items, nextToken)
  }

  /** collect the cluster documents of the given (page-bounded) ids */
  private def clusterDocMap(pool: String, ids: Seq[String],
      pinned: Option[ClusterState] = None)
      : Map[String, (Seq[String], Seq[MarcUtil.ClusterRecordDoc])] =
    if (ids.isEmpty) Map.empty
    else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      pageClusterDocs(pool, ids, pinned).collect().map { r =>
        val cid = r.getString(0)
        val mvs = r.getSeq[String](2)
        val recs = r.getSeq[org.apache.spark.sql.Row](3).map { rr =>
          val payload = Option(rr.getString(4))
          val marc = payload.flatMap { p =>
            try {
              val node = mapper.readTree(p)
              Option(node.get("marc")).map(MarcJson.fromNode)
            } catch { case _: Exception => None }
          }
          MarcUtil.ClusterRecordDoc(rr.getString(2), rr.getString(0),
            rr.getInt(1), marc.getOrElse(graft.marc.MarcRecord(None, Nil)))
        }
        cid -> (mvs, recs)
      }.toMap
    }

  private def mkOaiItem(cid: String, ds: Timestamp,
      docs: Map[String, (Seq[String], Seq[MarcUtil.ClusterRecordDoc])],
      withMetadata: Boolean): OaiItem = {
    val (mvs, recs) = docs.getOrElse(cid, (Nil, Nil))
    val meta =
      if (!withMetadata || recs.isEmpty) None
      else MarcUtil.defaultClusterMarc(cid, mvs, recs).map(MarcXml.toXml)
    OaiItem(cid, ds, deleted = recs.isEmpty, metadataXml = meta)
  }

  /** One cluster as an OAI record (the GetRecord verb): None when the pool
    * has no such cluster (OaiService.java:352-386).
    */
  def getOaiRecord(pool: String, clusterId: String): Option[OaiItem] = {
    // one snapshot for the datestamp and the members, as listRecords pins
    val state = loadState(pool).state
    state.meta.filter(col("clusterId") === clusterId)
      .collect().headOption.map { r =>
        mkOaiItem(clusterId, r.getTimestamp(1),
          clusterDocMap(pool, Seq(clusterId), Some(state)), withMetadata = true)
      }
  }
}
