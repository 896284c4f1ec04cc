package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Thrown when an optimistic commit (`writeIf` / `overwritePartitionsIf` /
  * `overwriteGroupIf`) finds the table no longer at the version the caller's
  * batch was computed against. [[Catalog.retrying]] re-runs the step against
  * the fresh snapshot — the reference's retry loop around its PG
  * transaction (Storage.java:251-264).
  */
final case class CommitConflict(table: String, expected: Long, found: Long)
  extends RuntimeException(
    s"concurrent write to '$table': batch computed at version $expected " +
      s"but the table is now at $found")

/** Thrown when a committer discovers its version claim was taken over by
  * another writer (it stalled past `claimTimeoutMs` and was presumed
  * crashed). Nothing was committed; [[Catalog.retrying]] retries it like a
  * [[CommitConflict]].
  */
final case class ClaimLost(table: String, version: Long)
  extends RuntimeException(
    s"commit claim for '$table' v=$version was taken over by another writer " +
      "(this writer stalled past spark.graft.catalog.claimTimeoutMs)")

/** One sub-table's batch inside an atomic multi-table group commit
  * ([[Catalog.overwriteGroupIf]]): overwrite the `touched` partitions of
  * sub-table `sub` with `df`'s rows (partitioned by `partCol`). The commit
  * also registers every partition the staged frame actually holds — read
  * off the staging directory's child names, no Spark job — so rows routed
  * to an undeclared partition are never lost; a declared partition with no
  * staged rows is dropped. An empty `partCol` stages `df` whole as the one
  * partition named in `touched` (how whole-table writes commit).
  */
final case class GroupBatch(sub: String, df: DataFrame, partCol: String,
    touched: Seq[String])

/** Tenant-namespaced tables on parquet with one snapshot-commit protocol
  * (SURVEY.md §7.1 step 3), replacing the reference's per-tenant PostgreSQL
  * schemas (Storage.java:81-92) and its MVCC isolation.
  *
  * On-disk layout, the same for every table: `<root>/<tenant>/<table>/_LATEST`
  * names the committed version N; `_MANIFEST.v=N` maps each partition to its
  * current data version M; the rows live at `parts/<urlencoded(p)>/v=M`. A
  * whole table (`write` / `writeIf` / `read*` / `updateWith`) is a manifest
  * table with one fixed partition; a partitioned table's batch rewrites only
  * the partitions it touches plus one small manifest, so per-batch I/O is
  * O(touched partitions), not O(table). Group tables namespace manifest keys
  * as `sub/part`, giving several sub-tables one atomic commit point — the
  * role PG transactions play in the reference. Readers pin one manifest and
  * always see a complete snapshot; the `retainVersions` newest manifests and
  * their data dirs stay readable (in-flight readers, time travel, pinned
  * resumption tokens — SURVEY.md §7.4 risk 5).
  *
  * Every write goes through [[overwriteGroupIf]]: stage → claim → rename →
  * manifest → flip `_LATEST`. Committers serialize on an exclusive versioned
  * claim marker (`_COMMIT.v=N`, created with overwrite=false) carrying the
  * claimant's UUID; every destructive step re-reads the claim, so a stalled
  * writer whose claim was taken over aborts with [[ClaimLost]] instead of
  * clobbering the usurper's data. Takeover of a stale claim is an atomic
  * rename-to-tombstone (never a bare delete), so two waiters can't both
  * think they removed it and double-claim the version.
  *
  * Read-modify-write callers pass the snapshot version their batch was
  * computed against; if the table moved, the commit fails with
  * [[CommitConflict]] instead of silently losing the other writer's update.
  * One retry rule covers every such writer: [[Catalog.retrying]] re-runs the
  * step on [[CommitConflict]], [[ClaimLost]] or a `FileNotFoundException`
  * in the cause chain, with a fixed attempt limit and capped backoff.
  */
final class Catalog(val spark: SparkSession, root: String, tenant: String) {

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(name: String) = new Path(s"$root/$tenant/$name")

  /** a table's stable on-disk location — driver-side cache keys (the conf
    * pin cache) need an identity that distinguishes same-named tables in
    * different catalogs
    */
  private[storage] def locate(name: String): String =
    tableDir(name).toString

  private def latestFile(name: String) = new Path(tableDir(name), "_LATEST")

  private def confLong(key: String, default: Long): Long =
    spark.conf.getOption(key).map(_.toLong).getOrElse(default)

  private def claimTimeoutMs: Long =
    confLong("spark.graft.catalog.claimTimeoutMs", 60000L)

  /** age after which an orphaned `.staging-*` dir (writer crashed before it
    * ever claimed a version) is reclaimed by the next committer's GC. Must
    * comfortably exceed the longest staging write.
    */
  private def stagingTtlMs: Long =
    confLong("spark.graft.catalog.stagingTtlMs", 3600000L)

  /** every N-th commit opportunistically vacuums data dirs no
    * retained snapshot references (0 disables). Runs while still holding the
    * commit claim, so no concurrent writer can be mid-rename.
    */
  private def autoVacuumEvery: Long =
    confLong("spark.graft.catalog.autoVacuumEvery", 64L)

  /** How many committed versions (manifests + their data dirs) each GC
    * pass retains — the time-travel horizon of [[snapshotAt]] and
    * `CorpusStore.diffVersions` (r16 verdict item 8: commit forensics
    * past the default current+previous window needs a knob, not a code
    * change). Floor 2: in-flight readers of the previous snapshot are
    * always safe. Raising it widens every retention decision consistently
    * (manifests, per-partition data versions, vacuum).
    */
  private def retainVersions: Long =
    math.max(2L, confLong("spark.graft.catalog.retainVersions", 2L))

  /** the committed version `_LATEST` names; the pointer is opened directly
    * (no exists-then-open window) and is only ever replaced atomically
    */
  def latestVersion(name: String): Option[Long] =
    try Some(readSmall(latestFile(name)).trim.toLong)
    catch { case _: java.io.FileNotFoundException => None }

  /** committed version as a plain number: 0 = table absent. This is the value
    * optimistic writers pass back as `expected`.
    */
  def version(name: String): Long = latestVersion(name).getOrElse(0L)

  def exists(name: String): Boolean = latestVersion(name).isDefined

  /** the one manifest partition holding a whole table's rows */
  private val WholeTable = "all"

  /** a whole table's data dir in manifest `mf` of version `v` */
  private def wholeDir(name: String, v: Long, mf: Map[String, Long]): String =
    partDataDir(name, WholeTable, mf.getOrElse(WholeTable,
      throw new IllegalStateException(
        s"version $v of table '$name' is no longer retained"))).toString

  /** read the latest committed snapshot */
  def read(name: String): Option[DataFrame] =
    readVersion(name, latestVersion(name))

  /** read a pinned snapshot version (None → empty not allowed here) */
  def readVersion(name: String, version: Option[Long]): Option[DataFrame] =
    version.map(v => spark.read.parquet(wholeDir(name, v, manifestAt(name, v))))

  /** Read the latest snapshot under the EXPECTED schema, or an empty frame
    * with it. Applying `schema` at read time (not the file's own) makes
    * adding a nullable column a zero-migration change: snapshots written
    * before the column existed read it as null, exactly like the
    * partitioned-table path (`readManifestParts`) already does.
    *
    * The expected schema must be a SUPERSET of the on-disk one: a caller
    * passing a stale/narrower schema would otherwise silently drop the
    * extra columns at read time, and through `updateWith` (read → f →
    * writeIf) persist a snapshot permanently missing them. Checked against
    * the parquet footer (one small read; readOr serves config-row tables).
    */
  def readOr(name: String, schema: StructType): DataFrame =
    snapshot(name) match {
      case (v, mf) if mf.contains(WholeTable) =>
        val path = wholeDir(name, v, mf)
        val expected = schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val dropped = spark.read.parquet(path).schema.fieldNames
          .filterNot(n => expected.contains(n.toLowerCase(java.util.Locale.ROOT)))
        if (dropped.nonEmpty) throw new IllegalArgumentException(
          s"table '$name' v=$v has columns [${dropped.mkString(", ")}] absent from the " +
            "expected schema; pass the full current schema (a narrower one would lose " +
            "those columns through updateWith)")
        spark.read.schema(schema).parquet(path)
      case _ =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  // ---------------- commit protocol ----------------

  private def claimFile(name: String, v: Long) =
    new Path(tableDir(name), s"_COMMIT.v=$v")

  private def readSmall(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** exclusively claim version v, stamping the claimant's fencing UUID.
    * Exclusive-create is the serialization primitive: atomic on HDFS-like
    * stores via create(overwrite=false), but RawLocalFileSystem implements
    * that as check-then-act — two racing claimants can both "create" and
    * the second truncates the first (a spurious ClaimLost for the first).
    * On file:// claim through NIO's CREATE_NEW (O_CREAT|O_EXCL) instead.
    */
  private def tryClaim(name: String, v: Long, uuid: String): Boolean = {
    fs.mkdirs(tableDir(name))
    val payload = s"$uuid ${System.currentTimeMillis()}".getBytes("UTF-8")
    try {
      if (fs.getScheme == "file") {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(claimFile(name, v).toUri.getPath), payload,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      } else {
        val out = fs.create(claimFile(name, v), false)
        try out.write(payload) finally out.close()
      }
      true
    } catch { case _: java.io.IOException => false }
  }

  /** true iff the claim file for v still carries this writer's UUID */
  private def ownsClaim(name: String, v: Long, uuid: String): Boolean =
    try readSmall(claimFile(name, v)).startsWith(uuid + " ")
    catch { case _: java.io.IOException => false }

  /** fencing check before every destructive commit step: a writer that
    * stalled long enough to be usurped aborts instead of clobbering the
    * usurper's work
    */
  private def ensureOwned(name: String, v: Long, uuid: String): Unit =
    if (!ownsClaim(name, v, uuid)) throw ClaimLost(name, v)

  /** Take over a claim whose holder stopped making progress for
    * `claimTimeoutMs` (presumed crashed). The takeover is an atomic rename to
    * a tombstone — never a bare delete — so two waiters can't both "remove"
    * it and later double-claim; if the rename accidentally grabs a claim that
    * was freshly re-created in between, it is put back (and on any failure
    * the displaced claimant's own `ensureOwned` aborts it safely — worst case
    * is a spurious retry, never a double commit).
    */
  private def takeOverIfStale(name: String, v: Long): Unit = {
    val cf = claimFile(name, v)
    val (content, age) =
      try (readSmall(cf),
        System.currentTimeMillis() - fs.getFileStatus(cf).getModificationTime)
      catch { case _: java.io.IOException => return } // claim already gone
    if (age <= claimTimeoutMs) return
    val tomb = new Path(tableDir(name),
      s"_TOMB.${java.util.UUID.randomUUID().toString.take(8)}")
    if (!fs.rename(cf, tomb)) return // another waiter beat us to it
    val got = try readSmall(tomb) catch { case _: java.io.IOException => "" }
    if (got != content) { // grabbed a freshly re-created claim: put it back
      if (!fs.rename(tomb, cf)) fs.delete(tomb, false)
    } else fs.delete(tomb, false)
  }

  /** Claim the next version, serializing with concurrent committers. Returns
    * (version, fencing uuid). When `expected >= 0`, enforce optimistic
    * concurrency: fail with [[CommitConflict]] the moment the committed
    * version differs from what the caller's batch was computed against.
    */
  private def claimNext(name: String, expected: Long): (Long, String) = {
    val uuid = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + 2 * claimTimeoutMs
    while (true) {
      val base = version(name)
      if (expected >= 0 && base != expected)
        throw CommitConflict(name, expected, base)
      val v = base + 1
      if (tryClaim(name, v, uuid)) {
        // claim files are GC'd two versions later, so in a burst of commits a
        // claim for an already-committed version could be re-creatable:
        // re-check the base under the claim and release if the table moved
        if (version(name) == base) return (v, uuid)
        fs.delete(claimFile(name, v), false)
      } else {
        takeOverIfStale(name, v)
        if (System.currentTimeMillis() > deadline)
          sys.error(s"timed out waiting for a concurrent commit of '$name' v=$v")
        else Thread.sleep(20)
      }
    }
    sys.error("unreachable")
  }

  /** Flip the _LATEST pointer to v: write a temp file, then replace the
    * pointer with it in one atomic rename, so a reader always opens either
    * the old or the new pointer. Hadoop's `FileSystem.rename` refuses an
    * existing target, so on file:// the pointer is written and replaced
    * through NIO (ATOMIC_MOVE is rename(2); no checksum side file, and a
    * stale one left by an older writer is removed first) and elsewhere
    * through `FileContext`'s OVERWRITE rename.
    */
  private def flipLatest(name: String, v: Long): Unit = {
    val tmp = new Path(tableDir(name), s"_LATEST.tmp.$v")
    val bytes = v.toString.getBytes("UTF-8")
    if (fs.getScheme == "file") {
      def local(p: Path) = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.write(local(tmp), bytes)
      java.nio.file.Files.deleteIfExists(
        local(new Path(tableDir(name), "._LATEST.crc")))
      java.nio.file.Files.move(local(tmp), local(latestFile(name)),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri,
        spark.sparkContext.hadoopConfiguration)
        .rename(tmp, latestFile(name), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** retain the `retainVersions` latest manifests and claim markers for
    * in-flight readers and time travel; GC everything older,
    * plus aged-out orphan staging dirs (writer crashed before claiming)
    * and takeover tombstones. Live staging dirs and fresh claims are
    * never touched.
    */
  private def gcVersions(name: String, v: Long): Unit = {
    val keepFloor = v - (retainVersions - 1)
    def olderThan(n: String, prefix: String): Boolean =
      n.startsWith(prefix) && {
        val suffix = n.stripPrefix(prefix)
        suffix.nonEmpty && suffix.forall(_.isDigit) && suffix.toLong < keepFloor
      }
    val now = System.currentTimeMillis()
    fs.listStatus(tableDir(name)).foreach { st =>
      val n = st.getPath.getName
      val aged = (ttl: Long) => now - st.getModificationTime > ttl
      if (olderThan(n, "_COMMIT.v=") ||
          olderThan(n, "_MANIFEST.v=") || olderThan(n, "_LATEST.tmp.") ||
          olderThan(n, "_MANIFEST.tmp.") ||
          (n.startsWith(".staging-") && aged(stagingTtlMs)) ||
          (n.startsWith("_TOMB.") && aged(claimTimeoutMs)))
        fs.delete(st.getPath, true)
    }
  }

  /** Write the next version and commit it atomically. Blind overwrite: safe
    * without a version check because the staged snapshot does not depend on
    * the current one (concurrent blind writers serialize; both versions
    * commit in claim order). For read-modify-write, use [[writeIf]] or
    * [[updateWith]].
    */
  def write(name: String, df: DataFrame): Long = writeIf(name, df, -1L)

  /** Optimistic whole-table write: stage `df` once, then commit the next
    * version only if the table is still at `expected` (as returned by
    * [[version]]; -1 skips the check). Throws [[CommitConflict]] otherwise —
    * the staged data is cleaned up and the caller recomputes.
    */
  def writeIf(name: String, df: DataFrame, expected: Long): Long =
    overwriteGroupIf(name, Seq(GroupBatch("", df, "", Seq(WholeTable))), expected)

  /** Read-modify-write under [[Catalog.retrying]]: `f` maps the current
    * snapshot to the full next contents, and is re-run against the fresh
    * snapshot whenever the commit fails retryably, so no writer's update is
    * silently lost.
    */
  def updateWith(name: String, schema: StructType)(
      f: DataFrame => DataFrame): Long =
    Catalog.retrying {
      val base = version(name)
      writeIf(name, f(readOr(name, schema)), base)
    }

  // ---------------- manifests and partition reads ----------------

  private def enc(part: String): String = Catalog.encodePart(part)

  private def manifestFile(name: String, v: Long) =
    new Path(tableDir(name), s"_MANIFEST.v=$v")

  private def partDataDir(name: String, part: String, v: Long) =
    new Path(tableDir(name), s"parts/${enc(part)}/v=$v")

  private def manifestAt(name: String, v: Long): Map[String, Long] = {
    val f = manifestFile(name, v)
    if (!fs.exists(f)) Map.empty
    else {
      val text = readSmall(f)
      text.split("\n").filter(_.nonEmpty).map { line =>
        val Array(ver, part) = line.split("\t", 2)
        java.net.URLDecoder.decode(part, "UTF-8") -> ver.toLong
      }.toMap
    }
  }

  /** current partition manifest: part value → data version (empty if none) */
  def partitionManifest(name: String): Map[String, Long] =
    latestVersion(name) match {
      case None => Map.empty
      case Some(v) => manifestAt(name, v)
    }

  /** The manifest a PAST [[snapshot]] pinned — empty once auto-vacuum has
    * dropped that version's manifest file. Lets long-lived readers (paged
    * OAI exports) re-resolve one consistent snapshot across requests.
    */
  def snapshotAt(name: String, v: Long): Map[String, Long] = manifestAt(name, v)

  /** Atomically pin (version, manifest) of a table: the
    * consistent snapshot a reader resolves every partition dir against. A
    * racing GC of the just-read manifest version (two commits land in
    * between) is retried.
    */
  def snapshot(name: String): (Long, Map[String, Long]) = {
    var i = 0
    while (true) {
      val v = version(name)
      if (v == 0) return (0L, Map.empty)
      val mf = manifestAt(name, v)
      if (mf.nonEmpty || version(name) == v) return (v, mf)
      i += 1
      if (i > 100) sys.error(s"cannot pin a snapshot of '$name'")
    }
    sys.error("unreachable")
  }

  /** resolve partition dirs of `parts` against a pinned manifest and read
    * them with `schema` (missing parts skipped; `sub` prefixes group keys)
    */
  def readManifestParts(name: String, manifest: Map[String, Long],
      schema: StructType, parts: Seq[String], sub: String = ""): DataFrame = {
    val key = (p: String) => if (sub.isEmpty) p else s"$sub/$p"
    val dirs = parts.distinct.sorted.flatMap(p =>
      manifest.get(key(p)).map(v => partDataDir(name, key(p), v).toString))
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** Current on-disk bytes of each named partition's data dir (driver-side
    * filesystem metadata only — no Spark job; absent partitions omitted).
    * The measurement behind the bucket-growth rule (`BucketSizing`).
    */
  def partitionBytes(name: String, manifest: Map[String, Long],
      parts: Seq[String], sub: String = ""): Map[String, Long] = {
    val key = (p: String) => if (sub.isEmpty) p else s"$sub/$p"
    parts.distinct.flatMap { p =>
      manifest.get(key(p)).map { v =>
        val d = partDataDir(name, key(p), v)
        p -> (try fs.getContentSummary(d).getLength
        catch { case _: java.io.IOException => 0L })
      }
    }.toMap
  }

  /** read the given partitions of a partitioned table (missing parts skipped) */
  def readPartitionsOr(name: String, schema: StructType,
      parts: Seq[String]): DataFrame =
    readManifestParts(name, partitionManifest(name), schema, parts)

  /** read every partition of a partitioned table */
  def readPartitionedOr(name: String, schema: StructType): DataFrame =
    readPartitionsOr(name, schema, partitionManifest(name).keys.toSeq)

  /** read every partition of one sub-table of a group against a pinned
    * manifest (as returned by [[snapshot]])
    */
  def readGroupOr(name: String, manifest: Map[String, Long], sub: String,
      schema: StructType): DataFrame = {
    val prefix = s"$sub/"
    val parts = manifest.keysIterator.filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix)).toSeq
    readManifestParts(name, manifest, schema, parts, sub)
  }

  /** Overwrite exactly the `touched` partitions with `df`'s rows (df must
    * contain only rows whose `partCol` is in `touched`; a touched partition
    * with no rows in df is dropped). One Spark write job for all touched
    * partitions, one manifest commit. Untouched partitions' files are not
    * read, written, or moved. Blind w.r.t. version: concurrent writers
    * serialize on the commit claim and both batches' partitions land (a
    * partition touched by both keeps the later committer's rows). For
    * read-modify-write, use [[overwritePartitionsIf]].
    */
  def overwritePartitions(name: String, df: DataFrame, partCol: String,
      touched: Seq[String]): Long =
    overwritePartitionsIf(name, df, partCol, touched, -1L)

  /** Optimistic partitioned overwrite: stage once, then commit only if the
    * table is still at `expected` ([[version]]; -1 skips the check). On
    * [[CommitConflict]] the staged data is cleaned up and the caller re-reads
    * and recomputes its batch — no update is silently lost.
    */
  def overwritePartitionsIf(name: String, df: DataFrame, partCol: String,
      touched: Seq[String], expected: Long): Long =
    overwriteGroupIf(name, Seq(GroupBatch("", df, partCol, touched)), expected)

  /** stage one batch's rows partitioned by its partition column (or whole,
    * as its one declared partition, when `partCol` is empty); returns the
    * staging root
    */
  private def stageBatch(name: String, b: GroupBatch): Path =
    // job label (thread-local, so each staging-pool thread labels its own
    // write): the staging writes are where a group commit's Spark time
    // goes — make them attributable in the UI / JobProbe rollup
    Catalog.withJobLabel(spark,
        s"stage $name/${if (b.sub.isEmpty) "data" else b.sub}") {
      val staging = new Path(tableDir(name),
        s".staging-${java.util.UUID.randomUUID().toString.take(8)}")
      if (b.partCol.isEmpty) {
        require(b.touched.size == 1,
          s"a batch without a partition column stages exactly one partition: ${b.touched}")
        b.df.write.mode("overwrite").parquet(stagedDir(staging, b.touched.head).toString)
      } else {
        // duplicate the partition column: partitionBy consumes `_p`, keeping
        // partCol itself inside the data files. The value is URL-encoded first
        // so staging dir names stay ASCII regardless of the JVM's filesystem
        // encoding (non-ASCII partition values are otherwise unwritable on a
        // POSIX-locale driver).
        val encUdf = org.apache.spark.sql.functions.udf(Catalog.encodePart _)
        b.df.withColumn("_p", encUdf(org.apache.spark.sql.functions.col(b.partCol)))
          .write.partitionBy("_p").mode("overwrite").parquet(staging.toString)
      }
      staging
    }

  private def stagedDir(staging: Path, part: String): Path =
    new Path(staging, "_p=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(enc(part)))

  /** the staged batch's own partition values, read off the staging dir's
    * child names (the exact inverse of [[stagedDir]]'s encoding) — a
    * filesystem-metadata listing, no Spark job
    */
  private def listStagedParts(staging: Path): Seq[String] =
    fs.listStatus(staging).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_p="))
      .map(n => java.net.URLDecoder.decode(
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(n.stripPrefix("_p=")), "UTF-8"))

  /** The catalog's one commit sequence, behind every write: stage every
    * batch, claim one version, move every staged partition dir into place,
    * write ONE manifest naming them all, flip `_LATEST` once. Either every
    * batch commits or none does, and a reader pinning the manifest sees all
    * sub-tables at the same snapshot. `expected` as in
    * [[overwritePartitionsIf]]. Sub names must not be reused as
    * whole-partition keys of the same table.
    */
  def overwriteGroupIf(name: String, batches: Seq[GroupBatch],
      expected: Long): Long = {
    // r17 optimization round (guide §2.6 "overlap independent jobs"):
    // staging writes go to independent directories and nothing is visible
    // until the rename phase below, so a multi-batch group stages from a
    // small thread pool — the next batch's tasks back-fill executors freed
    // by the current batch's tail instead of idling through it. The pool
    // lives for this commit only (see stagingPool), failures cancel the
    // group, and every successfully staged dir is cleaned up on any
    // failure. The claim/rename/manifest sequence stays strictly
    // single-threaded — the crash-window analysis is untouched.
    val staged: Seq[(GroupBatch, Path)] =
      if (batches.size <= 1) batches.map(b => b -> stageBatch(name, b))
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = Catalog.stagingPool(batches.size)
        val results =
          try {
            implicit val ec = ExecutionContext.fromExecutorService(pool)
            val futs = batches.map(b =>
              Future(scala.util.Try(b -> stageBatch(name, b))))
            Await.result(Future.sequence(futs), Duration.Inf)
          } finally pool.shutdown()
        if (results.exists(_.isFailure)) {
          results.collect { case scala.util.Success((_, p)) =>
            fs.delete(p, true) }
          throw results.collectFirst {
            case scala.util.Failure(e) => e }.get
        }
        results.map(_.get)
      }
    def cleanup(): Unit = staged.foreach(s => fs.delete(s._2, true))

    val (v, uuid) =
      try claimNext(name, expected)
      catch { case e: Throwable => cleanup(); throw e }
    try {
      // under the claim the base manifest is stable: no other writer can
      // commit, and the fencing checks abort us if we lose the claim
      val mf = partitionManifest(name)
      ensureOwned(name, v, uuid)
      // manifest key → staged dir of every partition a batch declared or
      // actually staged
      val parts: Seq[(String, Path)] = staged.flatMap { case (b, staging) =>
        (b.touched ++ listStagedParts(staging)).distinct.map(p =>
          (if (b.sub.isEmpty) p else s"${b.sub}/$p") -> stagedDir(staging, p))
      }
      val next = parts.foldLeft(mf) { case (m, (key, src)) =>
        if (fs.exists(src)) {
          val nv = mf.getOrElse(key, 0L) + 1
          val dest = partDataDir(name, key, nv)
          fs.mkdirs(dest.getParent)
          // a leftover of a crashed claimant (fenced: cannot be committed)
          if (fs.exists(dest)) fs.delete(dest, true)
          if (!fs.rename(src, dest))
            sys.error(s"failed to commit partition $key of $name")
          m + (key -> nv)
        } else m - key // partition emptied by this batch
      }
      cleanup()

      val body = next.toSeq.sortBy(_._1)
        .map { case (p, ver) => s"$ver\t${enc(p)}" }.mkString("\n")
      val tmp = new Path(tableDir(name), s"_MANIFEST.tmp.$v")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      if (fs.exists(manifestFile(name, v))) // leftover of a crashed claimant
        fs.delete(manifestFile(name, v), false)
      if (!fs.rename(tmp, manifestFile(name, v)))
        sys.error(s"failed to write manifest v=$v for $name")

      // GC per committed partition: keep the `retainVersions` newest data
      // versions (current + previous by default)
      ensureOwned(name, v, uuid)
      val keepBack = retainVersions - 1
      parts.foreach { case (key, _) =>
        next.get(key).foreach { nv =>
          val pd = partDataDir(name, key, nv).getParent
          if (fs.exists(pd)) fs.listStatus(pd).foreach { st =>
            val n = st.getPath.getName
            if (n.startsWith("v=") &&
                n.stripPrefix("v=").toLong < nv - keepBack)
              fs.delete(st.getPath, true)
          }
        }
      }
      // auto-vacuum runs UNDER the claim (before the flip): no concurrent
      // writer can be mid-rename, so dirs outside the retained manifests are
      // provably dead (ADVICE r6: vacuuming after the flip could delete a
      // successor's freshly renamed data)
      if (autoVacuumEvery > 0 && v % autoVacuumEvery == 0) {
        ensureOwned(name, v, uuid)
        vacuumAgainst(name, next, retainedUnion(name, v - 1),
          dropUnreferenced = true)
      }
      ensureOwned(name, v, uuid)
      flipLatest(name, v)
      gcVersions(name, v)
      v
    } catch { case e: Throwable => cleanup(); throw e }
  }

  // (companion at end of file holds the serializable partition-value codec)

  /** Remove partition data dirs the current manifest no longer references
    * (emptied partitions keep their last data dir on disk until vacuumed).
    * Run only when no writer is mid-commit AND readers of older snapshots
    * are done: a concurrent committer's freshly renamed dirs are not in any
    * manifest yet. The auto-vacuum hook is the always-safe variant (it runs
    * under the commit claim).
    */
  def vacuumPartitions(name: String): Int =
    vacuumPartitions(name, retainPrevious = false)

  /** Vacuum variant that also retains every data dir referenced by the
    * previous manifests inside the retention window
    * (`spark.graft.catalog.retainVersions`), for in-flight readers of
    * those snapshots.
    */
  def vacuumPartitions(name: String, retainPrevious: Boolean): Int = {
    val v = version(name)
    val current = manifestAt(name, v)
    val previous =
      if (retainPrevious && v > 1) retainedUnion(name, v - 1)
      else Seq.empty[(String, Long)]
    vacuumAgainst(name, current, previous, dropUnreferenced = true)
  }

  /** every (partition, data-version) pair referenced by the manifests
    * from `from` down through the retention window's floor — the full
    * pair list, NOT a map: one partition may be referenced at different
    * data versions by different retained manifests, and vacuum must keep
    * them all
    */
  private def retainedUnion(name: String, from: Long): Seq[(String, Long)] = {
    val floor = math.max(1L, from - (retainVersions - 2))
    (floor to from).flatMap(mv => manifestAt(name, mv).toSeq)
  }

  /** Delete data dirs not referenced by either retained manifest. Never
    * deletes a version NEWER than the newest retained one for a known
    * partition (that can only be a concurrent or crashed claimant's rename —
    * the next commit of that partition reclaims it); whole unreferenced
    * partitions are dropped only with `dropUnreferenced` (safe under the
    * commit claim, or with no writers active).
    */
  private def vacuumAgainst(name: String, current: Map[String, Long],
      previous: Seq[(String, Long)], dropUnreferenced: Boolean): Int = {
    val keep: Map[String, Set[Long]] = (current.toSeq ++ previous)
      .groupBy(_._1).map { case (p, vs) => p -> vs.map(_._2).toSet }
    val partsRoot = new Path(tableDir(name), "parts")
    if (!fs.exists(partsRoot)) return 0
    var removed = 0
    fs.listStatus(partsRoot).foreach { pd =>
      val part = java.net.URLDecoder.decode(pd.getPath.getName, "UTF-8")
      keep.get(part) match {
        case None =>
          if (dropUnreferenced) { fs.delete(pd.getPath, true); removed += 1 }
        case Some(vers) =>
          fs.listStatus(pd.getPath).foreach { vd =>
            val n = vd.getPath.getName
            if (n.startsWith("v=")) {
              val dv = n.stripPrefix("v=").toLong
              if (!vers.contains(dv) && dv < vers.max) {
                fs.delete(vd.getPath, true); removed += 1
              }
            }
          }
      }
    }
    removed
  }
}

object Catalog {
  /** how many times [[retrying]] runs a step before its failure propagates */
  private[graft] val RetryAttempts = 10

  /** The one retry rule for read-modify-write steps over the catalog:
    * `step` re-reads the snapshot it needs and commits against that
    * version; when it fails with [[CommitConflict]], [[ClaimLost]], or a
    * `FileNotFoundException` anywhere in the cause chain (two quick commits
    * GC'd the base snapshot's files before the step's lazy read ran), it is
    * re-run against the fresh snapshot, up to [[RetryAttempts]] times with
    * a 10 ms·2ⁿ backoff capped at 1 s. Any other failure, or the last
    * attempt's, propagates.
    */
  def retrying[T](step: => T): T = {
    @annotation.tailrec def attempt(n: Int): T = scala.util.Try(step) match {
      case scala.util.Failure(e) if n < RetryAttempts && retryable(e) =>
        Thread.sleep(math.min(10L << (n - 1), 1000L))
        attempt(n + 1)
      case t => t.get
    }
    attempt(1)
  }

  private def retryable(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists {
      case _: CommitConflict | _: ClaimLost | _: java.io.FileNotFoundException => true
      case _ => false
    }

  /** Run `body` with the thread's Spark job description set to `label`,
    * restoring the previous description afterwards, so the label names
    * exactly the jobs `body` submits.
    */
  def withJobLabel[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  /** URL-encode a partition value for use as a directory name (kept in the
    * companion so the staging write's UDF closure stays serializable).
    */
  private[storage] def encodePart(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  /** Driver-side pool for overlapping ONE group commit's independent
    * staging writes (guide §2.6); the caller shuts it down after the
    * commit. Small on purpose: 2-3 concurrent jobs fill the tail of the
    * scheduler FIFO without fighting for executor slots; the group sizes
    * here are 2-5 batches. Its threads start lazily on the committing
    * thread, so each clones that thread's Spark local properties (job
    * group, description, call site) and none outlives the commit. Daemon
    * threads so the pool never blocks JVM exit.
    */
  private def stagingPool(nBatches: Int) =
    java.util.concurrent.Executors.newFixedThreadPool(math.min(nBatches, 3),
      r => {
        val t = new Thread(r, "graft-commit-staging")
        t.setDaemon(true)
        t
      })

  /** A temp catalog root registered for recursive deletion at JVM exit —
    * gate queries that end in a committed store (q216/q222) run once per
    * Verify dump but MANY times per bench/PlanSpec session; an
    * unregistered createTempDirectory leaks the full corpus snapshot into
    * /tmp on every invocation (round-13 advice). One shutdown hook drains
    * a shared queue, so repeated calls stay cheap.
    */
  def tempRoot(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempRoots.add(dir)
    dir.toString
  }

  private val tempRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private val _hook = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempRoots.forEach { p =>
        // Using closes the walk stream (one open directory handle per
        // temp root otherwise leaks for the rest of JVM shutdown)
        try scala.util.Using.resource(java.nio.file.Files.walk(p)) {
          _.sorted(java.util.Comparator.reverseOrder())
            .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
        } catch { case _: Throwable => () } // best-effort: exit cleanup
      }
    }, "graft-temp-root-cleanup"))
  }
}
