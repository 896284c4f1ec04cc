package graft.storage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.{Normalize, SubstringDedup}

/** The training-data pipeline's terminal step: run the curation front half
  * (normalized exact dedup → Lee-et-al keep-one substring strip) and COMMIT
  * the deduplicated corpus through [[Catalog]]'s snapshot protocol, so the
  * pipeline ends in a versioned, partition-pruned TABLE rather than a lazy
  * frame (r12 verdict item 7). The write path is the S11 MERGE pattern's
  * partitioned commit (reference mod-reservoir Storage.java:251-264 analog):
  * one Spark write job, one manifest, one atomic `_LATEST` flip — concurrent
  * readers always see a complete snapshot, and a reader pinning a version
  * keeps it across pagination.
  *
  * Scale shape: the strip is [[SubstringDedup]]'s shape unchanged (one
  * 8-byte gram-hash exchange + bounded joins against one persisted token
  * frame); the commit adds a single partitioned write with NO extra
  * shuffle beyond the write job's own partitioning, and `touched` is the
  * bounded per-source list (the Reservoir.ingest convention — source count
  * is config-bounded, never corpus-sized).
  *
  * Writer model: commits serialize on the Catalog's claim protocol, but
  * SEMANTIC serialization of ingest + maintenance against one corpus table
  * is the caller's job (one streaming query / one batch pipeline per table
  * — the Structured Streaming foreachBatch contract). Two concurrent
  * ingests of the same table could each pass the probe against the same
  * pinned snapshot and both commit.
  */
object CorpusStore {

  /** The stored corpus frame: (idCol, sourceCol, text, n_tokens_before,
    * n_tokens_after, n_spans_removed) — normalized exact dedup keeps the
    * min-id doc per normalized-text hash, then cross-document duplicated
    * substrings (≥ `minWords` tokens, ≥ `minDocs` distinct docs) are
    * stripped keep-one, leaving each cluster's canonical first occurrence
    * in place. A post-store re-run of [[SubstringDedup.crossDocSpans]]
    * finds nothing (the Lee et al. invariant, pinned by CorpusStoreSpec).
    */
  def strippedCorpus(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, minWords: Int = 50, minDocs: Int = 2): DataFrame =
    strippedCorpusWithCleanup(docs, idCol, textCol, sourceCol, minWords,
      minDocs)._1

  /** [[strippedCorpus]] plus a cleanup thunk releasing its internal
    * persisted frames (the slim hash frame, kept-id projection, and token
    * frame) — call it after the LAST action consuming the result, as
    * [[writeDeduped]]/[[ingestBatch]] do in their `finally`. The plain
    * [[strippedCorpus]] leaves them pinned for the session (a lazy result
    * can't know when its consumer is done); library callers composing it
    * directly should use this variant or `spark.catalog.clearCache()`.
    */
  def strippedCorpusWithCleanup(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, minWords: Int = 50,
      minDocs: Int = 2): (DataFrame, () => Unit) = {
    // caching discipline (the r14 composition finding): Spark re-runs the
    // strip chain on EVERY reference — persist the kept-id projection and
    // the token frame, and rebuild the kept text via an id semi-join,
    // however many consumers the strip chain fans into.
    val keptIds = Normalize.canonicalDocs(docs, idCol, textCol,
        Seq(sourceCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = docs.select(col(idCol), col(textCol))
      .join(keptIds.select(col(idCol)), Seq(idCol))
    val toks = SubstringDedup.tokenFrame(kept, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verdicts = SubstringDedup.keepOneVerdicts(toks, idCol, minWords,
      minDocs)
    val out = SubstringDedup.keepOneStripped(toks, verdicts, idCol)
      .join(keptIds, Seq(idCol))
      .select(col(idCol), col(sourceCol), col("text").as(textCol),
        col("n_tokens_before"), col("n_tokens_after"),
        col("n_spans_removed"))
    (out, () => { keptIds.unpersist(); toks.unpersist(); () })
  }

  /** Dedup `docs` with [[strippedCorpus]] and commit the result as the next
    * version of `table`, partitioned by `sourceCol` (only touched source
    * partitions are written; a re-run with new data for one source leaves
    * the others' files untouched, unless the commit grows the table's
    * bucket modulus — see the layout note below). The dedup index tables'
    * touched partitions rebuild from the committed rows, so subsequent
    * [[ingestBatch]] commits can probe the store. Returns the committed
    * version.
    */
  def writeDeduped(cat: Catalog, table: String, docs: DataFrame,
      idCol: String, textCol: String, sourceCol: String,
      minWords: Int = 50, minDocs: Int = 2, winnowW: Int = 8,
      buckets: Int = 0): Long = {
    // the stripped frame is consumed THREE times (touched-source collect,
    // staging write, and nothing else reads it) — persist so the strip
    // chain runs once, not once per consumer (the r14 composition finding)
    val (strippedF, cleanup) = strippedCorpusWithCleanup(docs, idCol,
      textCol, sourceCol, minWords, minDocs)
    val out = strippedF
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // verify the index pins and data layout BEFORE the data commit
      // (mirrors ingestBatch's fail-fast, r15 ADVICE): a mismatched pin
      // otherwise threw only after the data version advanced with the new
      // strip while the index kept the old pin and entries.
      // buckets = 0 (AUTO, the default): adopt the store's pinned base
      // modulus, or — on a fresh store — derive it from the corpus bytes
      // below (geometry is a STORE property; only an explicit caller
      // value is pin-checked)
      val (_, idxManifest) = cat.snapshot(indexTable(table))
      val pinnedB = confPins(cat, table, idxManifest).flatMap(_._3)
      val bResolved = if (buckets > 0) buckets
        else pinnedB.map(_.toInt).getOrElse(0)
      if (bResolved > 0)
        requireIndexReady(cat, table, idxManifest, minWords, winnowW,
          bResolved)
      else // fresh-store AUTO: no pin to check, but keep the
        // half-indexed-store guard (data committed ≠> index present)
        requireIndexReady(cat, table, idxManifest, minWords, winnowW,
          buckets)
      requireDataLayout(table, cat.partitionManifest(table))
      // bounded: one row per SOURCE (config-scale), the Reservoir.ingest
      // touched-partition convention — never a corpus-sized collect. This
      // is the job that materializes the persisted strip chain; it also
      // returns the per-source text bytes the AUTO base modulus derives
      // from (chars ≈ bytes for layout purposes).
      val srcStats = Catalog.withJobLabel(out.sparkSession,
          "writeDeduped: strip chain + touched sources") {
        out.groupBy(col(sourceCol))
          .agg(sum(length(col(textCol))).as("_graft_bytes")).collect()
      }
      val touched = srcStats.map(_.getString(0)).toSeq
      val bEff = if (bResolved > 0) bResolved
        else BucketSizing.deriveBase(
          srcStats.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum,
          BucketSizing.baseBucketBytes(out.sparkSession))
      val v = commitData(cat, table, out, idCol, textCol, sourceCol, bEff,
        touched)
      commitIndexes(cat, table, idxManifest, out, idCol, textCol, sourceCol,
        minWords, winnowW, bEff, touched)
      v
    } finally { out.unpersist(); cleanup(); () }
  }

  /** Commit `out` as the full new content of the `touched` SOURCES of the
    * bucketed data table: rows land in `<m>.<i>#source` partitions (one
    * file per bucket, sorted by id), and every existing bucket of a
    * touched source is in the overwrite set so emptied buckets drop. A
    * commit that grows the modulus re-routes the other sources' stored
    * rows too, so the table keeps one modulus.
    */
  private def commitData(cat: Catalog, table: String, out: DataFrame,
      idCol: String, textCol: String, sourceCol: String, floor: Int,
      touched: Seq[String]): Long = {
    val (_, mf) = cat.snapshot(table)
    val (m0, m) = moduli(cat, table, mf, Seq(""), floor)
    val tset = touched.toSet
    val (old, others) = mf.keys.toSeq.partition(p => tset(partSource(p)))
    if (m == m0) commitDataParts(cat, table, out, idCol, sourceCol, m, old)
    else commitDataParts(cat, table, out.unionByName(cat.readManifestParts(
        table, mf, storedSchema(idCol, sourceCol, textCol), others)),
      idCol, sourceCol, m, old ++ others)
  }

  /** commit `rows` as the full new content of exactly the `declared` data
    * partitions (∪ the partitions the rows land in, which the commit reads
    * off the staging directory) at modulus `m` — the incremental-commit
    * core: bucketing the DATA like the indexes is what bounds a commit's
    * write amplification (a small batch into a huge source rewrites only
    * the id-buckets it lands in — the r15 hot-source finding)
    */
  private def commitDataParts(cat: Catalog, table: String, rows: DataFrame,
      idCol: String, sourceCol: String, m: Int, declared: Seq[String]): Long =
    cat.overwriteGroupIf(table, Seq(GroupBatch("",
      bucketed(rows, col(idCol), m, idCol, sourceCol), "_graft_part",
      declared.distinct)), -1L)

  /** the data-layout fail-fast twin of [[requireIndexReady]]: a store
    * whose data partitions are not bucket-labelled (source-named legacy
    * parts) must be migrated by [[rebuildIndexes]] before any incremental
    * commit — part names are how dirty buckets resolve, so a legacy part
    * would silently hide its stored rows from the merge
    */
  private def requireDataLayout(table: String,
      manifest: Map[String, Long]): Unit = {
    val legacy = manifest.keysIterator
      .filter(BucketSizing.labelModulus(_).isEmpty).toSeq
    require(legacy.isEmpty,
      s"corpus table '$table' has data partitions outside the bucketed " +
        s"layout ${legacy.take(3).mkString("[", ", ", "]")}…; run " +
        "rebuildIndexes to migrate the store to the bucketed layout")
  }

  /** the stored-corpus schema ([[strippedCorpus]]'s output) */
  def storedSchema(idCol: String, sourceCol: String,
      textCol: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(idCol, LongType),
      StructField(sourceCol, StringType), StructField(textCol, StringType),
      StructField("n_tokens_before", LongType),
      StructField("n_tokens_after", LongType),
      StructField("n_spans_removed", LongType)))
  }

  // ---------------- store-wide dedup indexes ----------------
  // ONE slim group table (`<table>__idx`) rides alongside every corpus
  // table, holding three sub-tables committed ATOMICALLY (one manifest,
  // one `_LATEST` flip — the Catalog group-commit machinery), each
  // partitioned by (bucket, source) like the data table itself — the
  // source dimension keeps full-source rewrites commit-granular, the
  // bucket dimension makes both the per-batch PROBE and the per-batch
  // WRITE prunable (see below):
  //   docs   (id, source)          — one row per stored doc,
  //       bucketed by id
  //   grams  (h1, h2, id, source)  — one row per WINNOW-SELECTED
  //       (minWords-gram, doc) — SubstringDedup.winnowedGramKeys, the
  //       same 16-byte key definition queries and probes share —
  //       bucketed by h1, sorted by h1 within each bucket's files
  //       (row groups cover narrow h1 ranges)
  //   hashes (th, id, source)      — one row per stored doc, th =
  //       xxhash64(normalized text), bucketed by th
  // They are what lets ingestBatch enforce store-WIDE semantics while
  // touching only the batch's partitions: the docs index finds a doc_id
  // re-ingested under a different source (its old bucket must drop the
  // old copy — same-id upsert across partitions), the gram index finds a
  // batch passage duplicating any stored doc's text (the reference's
  // indexed cluster_values probe, Storage.java:370-400), and the hash
  // index finds whole-document exact duplicates with no length floor.
  //
  // BUCKET LAYOUT — the match-key pools' rule (BucketSizing). Each corpus
  // table has ONE modulus m at a time: the data table (keyed by id), and
  // the index group across its three subs (docs by id, grams by h1, hashes
  // by th). A row with key k lives in partition `<m>.<pmod(k, m)>#source`,
  // so m is read off the table's own manifest labels with no Spark job,
  // and a probe names exactly the buckets pmod(k, m) of its batch keys (a
  // native column; bucket labels never contain '#', so the FIRST '#'
  // splits label from source even when the source carries one). Every
  // commit sets m = max(current m, deriveBase(bytes, baseBucketBytes)),
  // the bytes read off the pinned manifest's filesystem metadata; when m
  // grows, that commit rewrites every bucket of the table and drops the
  // old labels, so no reader ever sees two moduli. m never shrinks, the
  // pinned `buckets` conf is its floor, and rebuildIndexes re-bases both
  // tables flat at the (re-)derived floor.
  //
  // Probe and write cost at scale (r15 items 1+2): winnowing cuts
  // gram-index rows AND probe keys to ~2/(w+1) of gram positions; each
  // probe reads ONLY the index buckets its batch keys name; the data
  // commit rewrites ONLY the id-buckets the batch lands in. With buckets
  // held near baseBucketBytes by growth, per-batch probe I/O is O(batch
  // keys × bucket bytes) at any store size; a doubling rewrites the table
  // once, amortized over the commits that doubled its bytes. Detection
  // floor: shared spans ≥ minWords + w − 1 words are ALWAYS caught (the
  // winnowing guarantee, documented at winnowedGramKeys); exact whole-doc
  // dups always (hash index); shorter shared spans heal at the next full
  // writeDeduped. (minWords, w, b) are pinned per table in the conf sub.
  //
  // Staleness discipline: the index group commits AFTER the data table;
  // the stream high-water mark commits WITH the index group (one fewer
  // claim than the r16 three-commit protocol — r16 verdict item 3). A
  // crash between data and index commits re-runs the whole batch on
  // replay (the state mark lands with the index merge, so it cannot have
  // advanced), and missing index entries heal; EXTRA/stale gram entries
  // can never over-strip because hits are confirmed against the hit docs'
  // CURRENT stored text (the context re-gram below) before any word is
  // removed. All sub-tables share the commit, so they can never drift
  // from each other — only (within the one crash window) from the data.

  private def indexTable(table: String) = s"${table}__idx"

  private val SpData = "data"
  private val SpDocs = "docs"
  private val SpGrams = "grams"
  private val SpHashes = "hashes"
  /** the index group's bucketed subs (one modulus across the three) */
  private val IdxSubs = Seq(SpGrams, SpDocs, SpHashes)

  private def partSource(p: String): String = p.drop(p.indexOf('#') + 1)

  private def partLabel(p: String): String = p.takeWhile(_ != '#')

  /** the partition column of a bucketed commit: `<m>.<i>#source` */
  private def partOf(key: Column, m: Int, sourceCol: String): Column =
    concat(BucketSizing.label(key, m), lit("#"), col(sourceCol))

  /** `rows` laid out for a bucketed commit at modulus `m`: one task (one
    * file) per partition, sorted by `sortKey` within it so parquet row
    * groups cover narrow key ranges (the at-scale footer-stats path)
    */
  private def bucketed(rows: DataFrame, key: Column, m: Int, sortKey: String,
      sourceCol: String): DataFrame =
    rows.withColumn("_graft_part", partOf(key, m, sourceCol))
      .repartition(col("_graft_part"))
      .sortWithinPartitions(col("_graft_part"), col(sortKey))

  /** one sub-table's partition values in a pinned group manifest ("" = every
    * partition of a plain table)
    */
  private def subParts(manifest: Map[String, Long],
      sub: String): Seq[String] =
    if (sub.isEmpty) manifest.keys.toSeq
    else manifest.keysIterator.filter(_.startsWith(s"$sub/"))
      .map(_.stripPrefix(s"$sub/")).toSeq

  /** the modulus a corpus table's `subs` labels carry in `mf`, or `floor`
    * for a table with none yet
    */
  private def modulusIn(name: String, mf: Map[String, Long],
      subs: Seq[String], floor: Int): Int =
    BucketSizing.modulusOf(s"corpus table '$name'", subs.flatMap(subParts(mf, _)))
      .getOrElse(floor)

  /** (current, next) modulus of a corpus table: next is what its commit
    * writes at — the shared growth rule over the bytes `mf` names
    * (filesystem metadata, no Spark job), never below `floor`
    */
  private def moduli(cat: Catalog, name: String, mf: Map[String, Long],
      subs: Seq[String], floor: Int): (Int, Int) = {
    val cur = modulusIn(name, mf, subs, floor)
    val bytes = subs.map(s =>
      cat.partitionBytes(name, mf, subParts(mf, s), s).values.sum).sum
    (cur, BucketSizing.grown(math.max(cur, floor), bytes, cat.spark))
  }

  /** the docs-index schema: one (id, source) row per stored document */
  def docsIndexSchema(idCol: String, sourceCol: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(idCol, LongType),
      StructField(sourceCol, StringType)))
  }

  /** the gram-index schema: one (h1, h2, id, source) row per
    * winnow-selected distinct (gram, doc) — h1/h2 are
    * [[SubstringDedup.gramKeys]]'s two seeded xxhash64s, sampled by
    * [[SubstringDedup.winnowedGramKeys]] at the pinned window
    */
  def gramIndexSchema(idCol: String, sourceCol: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("h1", LongType), StructField("h2", LongType),
      StructField(idCol, LongType), StructField(sourceCol, StringType)))
  }

  /** the hash-index schema: one (th, id, source) row per stored doc with
    * th = xxhash64 of the doc's NORMALIZED committed text — the
    * whole-document exact-dup probe key (no gram-length floor: a 3-token
    * exact dup is as findable as a 3000-token one). 64-bit collisions and
    * stale entries are both neutralized by the probe's confirmation
    * re-read of the hit docs' current text. Bucketed by th.
    */
  def hashIndexSchema(idCol: String, sourceCol: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("th", LongType),
      StructField(idCol, LongType), StructField(sourceCol, StringType)))
  }

  private def idxSchema(sub: String, idCol: String, sourceCol: String)
      : org.apache.spark.sql.types.StructType = sub match {
    case SpGrams => gramIndexSchema(idCol, sourceCol)
    case SpDocs => docsIndexSchema(idCol, sourceCol)
    case _ => hashIndexSchema(idCol, sourceCol)
  }

  /** the exact-dup probe key: xxhash64 over the normalized text (the SAME
    * normalization [[strippedCorpus]]'s exact-dedup groups by)
    */
  private def thCol(textCol: String): Column =
    xxhash64(Normalize.normalizeText(col(textCol)))

  /** The three index subs' rows for stored docs `df` (id, source, text),
    * as (sub, rows, key) — the key column buckets and sorts the sub
    */
  private def indexRows(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, minWords: Int, winnowW: Int)
      : Seq[(String, DataFrame, String)] = {
    val grams = SubstringDedup.winnowedGramKeys(
        SubstringDedup.tokenFrame(df.select(col(idCol), col(textCol)),
          idCol, textCol), idCol, minWords, winnowW)
      .select(col("gram_h.h1").as("h1"), col("gram_h.h2").as("h2"),
        col(idCol))
      .join(df.select(col(idCol), col(sourceCol)), Seq(idCol))
      .select(col("h1"), col("h2"), col(idCol), col(sourceCol))
    Seq((SpGrams, grams, "h1"),
      (SpDocs, df.select(col(idCol), col(sourceCol)), idCol),
      (SpHashes, df.select(thCol(textCol).as("th"), col(idCol),
        col(sourceCol)), "th"))
  }

  private def confSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("min_words", LongType),
      StructField("w", LongType), StructField("b", LongType),
      StructField("p", StringType)))
  }

  /** the pinned (minWords, winnowW, buckets) of a table's index group, or
    * None when no conf sub exists yet. The conf row is immutable per
    * (part, data-version), so it is cached per catalog location — the
    * per-batch pin check costs NO Spark job after the first read (r16
    * verdict item 3's commit-constant shave). Pre-winnowing (r15) rows
    * read their missing (w, b) columns as None.
    */
  private val confCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Long, Option[Long], Option[Long])]

  /** the ingest probes' 3-thread pool (one per index space): daemon
    * threads, shared across batches — probe jobs are short bounded
    * collects, so a fixed pool never queues meaningfully
    */
  private lazy val probeEc =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(3, r => {
        val t = new Thread(r, "graft-store-probe")
        t.setDaemon(true)
        t
      }))

  private def confPins(cat: Catalog, table: String,
      manifest: Map[String, Long])
      : Option[(Long, Option[Long], Option[Long])] =
    manifest.get("conf/0").map { dv =>
      val key = cat.locate(indexTable(table)) + "@" + dv
      confCache.computeIfAbsent(key, _ => {
        val row = cat.readGroupOr(indexTable(table), manifest, "conf",
          confSchema).head()
        (row.getLong(0),
          if (row.isNullAt(1)) None else Some(row.getLong(1)),
          if (row.isNullAt(2)) None else Some(row.getLong(2)))
      })
    }

  /** The index shape the group was built at — every commit of a table
    * must use the SAME (minWords, winnowW, buckets): a probe at a
    * different gram length or winnow window slices/samples different
    * token windows and silently finds nothing, and `buckets` is the floor
    * of both tables' moduli. The triple is pinned in a one-row `conf`
    * sub-table written with the FIRST index commit; later commits verify
    * against it instead of trusting the caller. A conf row missing the
    * (w, b) columns is a pre-winnowing (r15) index — refused with a
    * pointer at [[rebuildIndexes]].
    */
  private def requireConf(cat: Catalog, table: String,
      manifest: Map[String, Long], minWords: Int, winnowW: Int,
      buckets: Int): Boolean =
    confPins(cat, table, manifest) match {
      case None => false
      case Some((mw, w, b)) =>
        require(w.isDefined && b.isDefined,
          s"corpus table '$table' carries a pre-winnowing dedup index " +
            "(no (w, b) pins in its conf sub-table); run rebuildIndexes " +
            "to migrate it to the winnowed bucketed layout")
        def pin(got: Long, name: String, want: Long): Unit =
          require(got == want,
            s"corpus table '$table' has its dedup index built at $name=" +
              s"$got but this commit passed $name=$want; all commits of " +
              "a table must use one index shape (rebuildIndexes migrates)")
        pin(mw, "minWords", minWords.toLong)
        pin(w.get, "winnowW", winnowW.toLong)
        pin(b.get, "buckets", buckets.toLong)
        true
    }

  /** The fail-fast every committer runs BEFORE its data commit: the pin
    * check above, plus the half-indexed-store guard (r15 ADVICE): a data
    * table committed before the index feature existed has an EMPTY index
    * manifest, so a silent probe would no-op, commitIndexes would index
    * only the batch's touched sources, and every LATER batch would pass
    * the pin check while store-wide dedup silently skipped all legacy
    * sources — the exact guarantee this layer documents. Committed data
    * with no conf pin must go through [[rebuildIndexes]] first.
    */
  private def requireIndexReady(cat: Catalog, table: String,
      idxManifest: Map[String, Long], minWords: Int, winnowW: Int,
      buckets: Int): Unit = {
    val confPresent = requireConf(cat, table, idxManifest, minWords,
      winnowW, buckets)
    require(confPresent || cat.version(table) == 0L,
      s"corpus table '$table' has committed data but no dedup index " +
        "group; run rebuildIndexes before committing (a probe against an " +
        "empty index would silently skip store-wide dedup for every " +
        "already-stored source)")
  }

  /** Rebuild the index sub-tables' `touched` partitions from the freshly
    * committed rows (`out`, the [[strippedCorpus]] output — post-strip, so
    * index grams describe exactly what the store holds) in ONE atomic
    * group commit, pinning (minWords, winnowW, buckets) in the conf sub
    * on first write. Runs after the data commit; see the staleness
    * discipline note above. A commit that grows the group's modulus
    * re-routes the other sources' index rows too.
    */
  private def commitIndexes(cat: Catalog, table: String,
      idxManifest: Map[String, Long], out: DataFrame, idCol: String,
      textCol: String, sourceCol: String, minWords: Int, winnowW: Int,
      buckets: Int, touched: Seq[String]): Unit = {
    val idx = indexTable(table)
    val (m0, m) = moduli(cat, idx, idxManifest, IdxSubs, buckets)
    val tset = touched.toSet
    val base = indexRows(out, idCol, textCol, sourceCol, minWords, winnowW)
      .map { case (sub, rows, key) =>
        val (old, others) =
          subParts(idxManifest, sub).partition(p => tset(partSource(p)))
        val all = if (m == m0) rows else rows.unionByName(cat.readManifestParts(
          idx, idxManifest, idxSchema(sub, idCol, sourceCol), others, sub))
        GroupBatch(sub, bucketed(all, col(key), m, key, sourceCol),
          "_graft_part", if (m == m0) old else old ++ others)
      }
    val batches = if (idxManifest.contains("conf/0")) base
      else base :+ confBatch(out.sparkSession, minWords, winnowW, buckets)
    cat.overwriteGroupIf(idx, batches, -1L)
    ()
  }

  private def confBatch(spark: org.apache.spark.sql.SparkSession,
      minWords: Int, winnowW: Int, buckets: Int): GroupBatch = {
    import org.apache.spark.sql.Row
    val conf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(minWords.toLong, winnowW.toLong, buckets.toLong, "0")), 1),
      confSchema)
    GroupBatch("conf", conf, "p", Seq("0"))
  }

  /** Build (or rebuild) the dedup index group for an EXISTING corpus
    * table from its current committed text — the migration path for
    * stores committed before the indexes existed, for index-shape pin
    * changes, and the repair path after an index table was lost: one pass
    * over the stored corpus, one atomic group commit covering every
    * stored source (plus any stale index partitions of sources no longer
    * in the store, which are dropped). The store is re-based FLAT at the
    * new base modulus: data partitions of any other modulus or layout
    * (legacy source-named ones included) rewrite to `<b>.<i>#source`.
    * Returns the committed index version. writeDeduped / ingestBatch
    * maintain the index incrementally and grow both moduli with the
    * store — this full rebuild is never needed in the steady state.
    */
  def rebuildIndexes(cat: Catalog, table: String, idCol: String,
      textCol: String, sourceCol: String, minWords: Int = 50,
      winnowW: Int = 8, buckets: Int = 0): Long = {
    val full = cat.readPartitionedOr(table,
        storedSchema(idCol, sourceCol, textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize BEFORE any data rewrite below; the same job returns
      // the stored bytes the AUTO base modulus (buckets = 0) derives from
      val bytesRow = full.agg(
        sum(length(col(textCol)))).head()
      val storedBytes =
        if (bytesRow.isNullAt(0)) 0L else bytesRow.getLong(0)
      val b = if (buckets > 0) buckets
        else BucketSizing.deriveBase(storedBytes,
          BucketSizing.baseBucketBytes(full.sparkSession))
      // every existing part is in the overwrite set so old names drop
      val dataMf = cat.partitionManifest(table)
      if (!dataMf.keys.forall(BucketSizing.labelModulus(_).contains(b)))
        commitDataParts(cat, table, full, idCol, sourceCol, b,
          dataMf.keys.toSeq)
      val stored = full.select(col(idCol), col(sourceCol), col(textCol))
      val manifest = cat.snapshot(indexTable(table))._2
      // every existing index partition (whatever its layout or source) is
      // overwritten, and the (minWords, w, b) pin REPLACED, not verified:
      // this IS the migration path for changing the index shape
      val batches = indexRows(stored, idCol, textCol, sourceCol, minWords,
          winnowW).map { case (sub, rows, key) =>
          GroupBatch(sub, bucketed(rows, col(key), b, key, sourceCol),
            "_graft_part", subParts(manifest, sub))
        } :+ confBatch(stored.sparkSession, minWords, winnowW, b)
      cat.overwriteGroupIf(indexTable(table), batches, -1L)
    } finally { full.unpersist(); () }
  }

  /** the whole stored corpus at a PINNED snapshot version (the manifest a
    * past commit wrote — empty once vacuumed past the retention window)
    */
  def readVersion(cat: Catalog, table: String, v: Long, idCol: String,
      sourceCol: String, textCol: String): DataFrame = {
    val mf = cat.snapshotAt(table, v)
    cat.readManifestParts(table, mf,
      storedSchema(idCol, sourceCol, textCol), mf.keys.toSeq)
  }

  /** Snapshot DIFF — what changed between two committed versions of a
    * corpus table, per source: row classes keyed on (id, source) so a
    * document that MOVED source shows as a removal from the old source
    * and an addition to the new one (the per-partition accounting a
    * storage audit wants), `changed` = same (id, source) with different
    * text bytes (md5). Returns one row per source present in either
    * version: (sourceCol, n_added, n_removed, n_changed, n_same,
    * tokens_v1, tokens_v2) with the token totals summing each side's
    * post-strip `n_tokens_after`. The reproducibility tool q222's time
    * travel reads AROUND — not "what does v say" but "what did the
    * commit do".
    *
    * Scale shape: two pinned-snapshot scans projected slim (id, source,
    * md5(text), n_tokens_after), one (id, source)-keyed full-outer join
    * — a diff is inherently one co-shuffle of both versions — then a
    * partial-agg'd census bounded by source count. Works within the
    * catalog's retention window — current + previous by default; raise
    * `spark.graft.catalog.retainVersions` for commit forensics across a
    * longer horizon (older manifests may be vacuumed).
    */
  def diffVersions(cat: Catalog, table: String, v1: Long, v2: Long,
      idCol: String, sourceCol: String, textCol: String): DataFrame = {
    def slim(v: Long, tag: String) =
      readVersion(cat, table, v, idCol, sourceCol, textCol)
        .select(col(idCol), col(sourceCol),
          md5(col(textCol)).as(s"_graft_h$tag"),
          col("n_tokens_after").as(s"_graft_t$tag"))
    slim(v1, "1").join(slim(v2, "2"), Seq(idCol, sourceCol), "full_outer")
      .groupBy(col(sourceCol))
      .agg(
        sum(when(col("_graft_h1").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("_graft_h2").isNull, 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("_graft_h1").isNotNull && col("_graft_h2").isNotNull
          && col("_graft_h1") =!= col("_graft_h2"), 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("_graft_h1") === col("_graft_h2"), 1L).otherwise(0L))
          .as("n_same"),
        sum(coalesce(col("_graft_t1"), lit(0L))).as("tokens_v1"),
        sum(coalesce(col("_graft_t2"), lit(0L))).as("tokens_v2"))
  }

  /** Incremental ingest commit — one streaming micro-batch (or one batch
    * increment) landed as the next snapshot version of `table`:
    *
    *  1. already-committed batch ids SKIP (the high-water mark, encoded
    *    as the index group's `state/<batchId>` manifest key — reading it
    *    costs nothing, and it advances IN the index-group commit, one
    *    fewer claim than a separate state table): an at-least-once
    *    foreachBatch replay after restart commits each batch id at most
    *    once, so snapshot versions stay monotone with NO duplicate
    *    content commits;
    *  2. same-id upsert, store-wide: a re-ingested doc id replaces its
    *    stored copy wherever it lives — same bucket partition when the
    *    source matches, and across sources via the docs-index conflict
    *    probe (the old copy's bucket joins the dirty set and drops it);
    *  3. the batch probes the store-wide HASH index first: a batch doc
    *    whose normalized text exactly equals an unreplaced stored doc's
    *    is dropped entirely — whole-document exact dedup with NO length
    *    floor, confirmed against current stored text;
    *  4. the surviving docs probe the store-wide GRAM index: a batch
    *    passage duplicating ANY unreplaced stored doc's text is
    *    confirmed against that doc's current stored text and stripped
    *    from the batch doc (the stored copy is canonical
    *    unconditionally — it committed first), so store-wide keep-one
    *    holds at ingest, not just at the next full [[writeDeduped]];
    *  5. the batch alone then runs the normalize-dedup + keep-one strip
    *    (min-id canonical WITHIN the batch); stored rows are never
    *    re-deduped, re-stripped, or rewritten at ingest — per-batch
    *    compute and I/O are O(batch + hits + dirty buckets), never
    *    O(source) (the r15 hot-source finding);
    *  6. the index group's touched bucket partitions merge incrementally
    *    ([[mergeIndexes]]) and the high-water mark advances in the SAME
    *    commit. A table whose pinned bytes have outgrown its modulus is
    *    rewritten whole at the grown modulus in its commit (the layout
    *    note above) — the data table and the index group each by its own
    *    bytes.
    *
    * Rows with a null id or source are DROPPED with a warning before any
    * probe (r16 ADVICE: an NPE here would poison the at-least-once replay
    * loop forever — the high-water mark never advances past a crashing
    * batch).
    *
    * Returns the committed version, or the current version when the batch
    * was a replay / empty. Contracts: `minWords`/`minDocs`/`winnowW`/
    * `buckets` must be the same values every commit of `table` uses (the
    * index shape is pinned; [[rebuildIndexes]] migrates); duplication
    * against stored docs is caught with the winnowing guarantee — shared
    * spans ≥ `minWords + winnowW − 1` words always, shorter ones
    * best-effort, whole-document exact dups always (the hash index);
    * stored-canonical at ingest means a batch doc never displaces an
    * unreplaced stored doc, whatever their ids — the next full
    * [[writeDeduped]] restores global min-id canonicality and collapses
    * anything ≥ `minWords` the winnowed probe sampled past. Stored text
    * is already stripped, so the audit counters (`n_tokens_before` &c.)
    * describe this commit's increment, not the document's original form.
    * Commit order is data → (index group + state mark): the state mark
    * lands WITH the index merge, so a crash between the two commits
    * re-runs the whole batch on replay (idempotent content, one extra
    * version) and missing index entries heal; stale index entries can
    * never over-strip or over-drop (every hit confirms against current
    * stored text before any action — see [[mergeIndexes]] for the one
    * bounded stale-row window).
    *
    * Scale shape: all three probes read ONLY the index bucket partitions
    * the batch's own keys name (winnowed gram keys / doc ids / text hashes
    * under the group's modulus — the pruning is lossless: a matching index
    * row lies in its key's bucket), hash-joined against the broadcast
    * batch keys. With buckets held near `baseBucketBytes` by growth,
    * per-batch probe I/O is O(batch keys × bucket bytes) — the B-tree-leaf
    * bound of the reference's indexed cluster_values probe
    * (Storage.java:370-400) — not O(store index). The data write rewrites
    * only dirty bucket partitions; confirmation re-reads are bounded by
    * hit docs.
    */
  def ingestBatch(cat: Catalog, table: String, batch: DataFrame,
      batchId: Long, idCol: String, textCol: String, sourceCol: String,
      minWords: Int = 50, minDocs: Int = 2, winnowW: Int = 8,
      buckets: Int = 0): Long = {
    val spark = batch.sparkSession
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    // fail fast BEFORE any job, probe, or commit: index-shape pins, the
    // half-indexed-store guard, and the data-layout guard (r16 verdict
    // item 5: these used to run after the empty-batch Spark job). The
    // pinned snapshots below serve the whole batch: conf pins (cached —
    // no job), both moduli and the high-water mark (manifest keys — no
    // job).
    // buckets = 0 (AUTO, the default): adopt the store's pinned base
    // modulus — geometry is a store property, so ingest callers never
    // need to know it; an explicit value keeps the refuse-on-mismatch
    // contract. On a store with no pin yet (first batch into a fresh
    // table) AUTO derives the base from THIS batch's bytes — one extra
    // bounded agg job, paid once in the table's lifetime.
    val (_, idxManifest) = cat.snapshot(indexTable(table))
    val pinnedB = confPins(cat, table, idxManifest).flatMap(_._3)
    val bucketsEff: Int =
      if (buckets > 0) buckets
      else pinnedB.map(_.toInt).getOrElse {
        if (cat.version(table) != 0L) 0 // half-indexed: refused just below
        else {
          val bytes = batch.agg(
            sum(length(col(textCol).cast("string")))).head()
          BucketSizing.deriveBase(if (bytes.isNullAt(0)) 0L else bytes.getLong(0),
            BucketSizing.baseBucketBytes(spark))
        }
      }
    requireIndexReady(cat, table, idxManifest, minWords, winnowW,
      bucketsEff)
    val (_, dataManifest) = cat.snapshot(table)
    requireDataLayout(table, dataManifest)
    val stateIds = idxManifest.keysIterator.filter(_.startsWith("state/"))
      .map(_.stripPrefix("state/").toLong).toSeq
    val highWater = stateIds.maxOption.getOrElse(Long.MinValue)
    if (batchId <= highWater) {
      // make a skipped batch VISIBLE: a fresh streaming query without a
      // checkpoint restarts batch ids at 0, and the high-water mark would
      // silently drop every batch against an existing table (the
      // documented streamIntoCorpusStore caveat — enforce it here too, at
      // the layer every caller goes through)
      log.warn(
        s"ingestBatch: batch $batchId <= high-water $highWater for " +
          s"'$table' - treated as an at-least-once REPLAY and skipped. " +
          "If this is a fresh streaming query (ids restarted at 0), set " +
          "a checkpointLocation or use a fresh table.")
      return cat.version(table)
    }
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // null id/source rows are dropped (counted in the stats job below);
    // the cast+dedup frame is persisted once for every downstream probe
    val incomingAll = batch.select(col(idCol).cast("long").as(idCol),
      col(sourceCol).cast("string").as(sourceCol),
      col(textCol).cast("string").as(textCol))
      .dropDuplicates(idCol)
      .persist(lvl)
    try {
      // each table's modulus: probes read at the current one (dm0, im0),
      // the two commits write at the grown one (dm, im)
      val (dm0, dm) = moduli(cat, table, dataManifest, Seq(""), bucketsEff)
      val (im0, im) = moduli(cat, indexTable(table), idxManifest, IdxSubs,
        bucketsEff)
      val ok = col(idCol).isNotNull && col(sourceCol).isNotNull
      val dataPart = partOf(col(idCol), dm0, sourceCol)
      // ONE stats job over the batch replaces r16's four separate
      // bounded collects (empty-check, id-buckets, fresh data parts,
      // th-buckets): row count + malformed count + the data partitions
      // and docs/hashes bucket labels of every batch key (each bounded
      // by batch keys)
      val stats = Catalog.withJobLabel(spark, "ingestBatch: batch stats") {
        incomingAll.agg(
          count(lit(1)).as("n"),
          sum(when(ok, 0L).otherwise(1L)).as("bad"),
          collect_set(when(ok, dataPart)).as("dataParts"),
          collect_set(when(ok, BucketSizing.label(col(idCol), im0)))
            .as("docsLabels"),
          collect_set(when(ok, BucketSizing.label(thCol(textCol), im0)))
            .as("hashLabels"))
          .head()
      }
      if (stats.getLong(0) == 0L) return cat.version(table)
      if (stats.getLong(1) > 0L)
        log.warn(s"ingestBatch: batch $batchId for '$table' contains " +
          s"${stats.getLong(1)} row(s) with a null $idCol/$sourceCol - " +
          "dropped (a malformed record must not wedge the replay loop)")
      val batchParts = stats.getSeq[String](2)
      val docsLabels = stats.getSeq[String](3).toSet
      val hashLabels = stats.getSeq[String](4).toSet
      if (batchParts.isEmpty) { // every row was malformed: no-op
        log.warn(s"ingestBatch: batch $batchId for '$table' had no valid " +
          "rows - nothing committed")
        return cat.version(table)
      }
      val incoming = incomingAll.filter(ok)
      val batchIds = incoming.select(col(idCol))
      // a sub's existing partitions (any source) in the buckets `labels`
      // name
      def labelMatched(sub: String, labels: Set[String]): Seq[String] =
        subParts(idxManifest, sub).filter(p => labels(partLabel(p)))
      // the data partitions holding a bounded (id, source) frame's rows
      def dataPartsOf(df: DataFrame): Seq[String] =
        df.agg(collect_set(dataPart)).head().getSeq[String](0)
      // The three index probes — docs-conflict, whole-doc hash dup, gram
      // — hit DISJOINT index sub-tables, and (r17, guide §2.6 "overlap
      // independent jobs") their bounded collects now run CONCURRENTLY
      // from a small pool instead of serially paying each probe's job
      // round-trips. What made the gram probe independent: the batch
      // token/gram-key frames are built from the FULL incoming batch
      // rather than the post-hash-drop survivors. That superset is
      // lossless — every strip step is per-batch-doc (containedSpans /
      // removeAllVerdicts / keepOneStripped key rows by doc id), so a
      // hash-dropped doc's probe rows are filtered out at the bdocs join
      // below, and its extra gram hits only widen the context read.
      //
      // DIRTY data partitions = the batch rows' own partitions, plus the
      // partitions holding a conflicting old copy (same id re-ingested
      // under a DIFFERENT source — found in the docs index; conflict docs
      // are stored rows, so their id and OLD source name the partition
      // exactly) — or every partition when the commit grows the modulus.
      val docsIdx = cat.readManifestParts(indexTable(table), idxManifest,
        docsIndexSchema(idCol, sourceCol), labelMatched(SpDocs, docsLabels),
        SpDocs)
      val conflictFrame = docsIdx
        .join(broadcast(incoming.select(col(idCol),
          col(sourceCol).as("_graft_new_src"))), Seq(idCol))
        .filter(col(sourceCol) =!= col("_graft_new_src"))
      // whole-document exact-dup probe (hash index): a batch doc whose
      // NORMALIZED text exactly equals an unreplaced stored doc's is
      // DROPPED entirely (stored-wins, like the batch path's
      // normalize-dedup drop) — confirmed against the stored docs'
      // current text, so stale entries and 64-bit collisions can never
      // wrongly drop. No gram-length floor: this closes the old "short
      // exact dups slip through until the next writeDeduped" caveat for
      // whole documents. Applied BEFORE the gram pre-strip verdicts land
      // in the committed rows, so an exact dup is dropped, never
      // stripped-to-empty-and-kept.
      val inTh = incoming.select(col(idCol).as("_graft_bid"),
        thCol(textCol).as("th"))
      val hashesIdx = cat.readManifestParts(indexTable(table),
        idxManifest, hashIndexSchema(idCol, sourceCol),
        labelMatched(SpHashes, hashLabels), SpHashes)
      val cand = hashesIdx.join(broadcast(inTh), Seq("th"))
        .join(broadcast(batchIds), Seq(idCol), "left_anti")
        .persist(lvl) // part collect + the confirm join
      // gram-probe the store: stored docs are canonical at ingest (they
      // committed first) — a batch passage duplicating ANY unreplaced
      // stored doc's text is confirmed against that doc's CURRENT text
      // (a stale index entry yields no confirmed gram) and stripped from
      // the batch. Only the ids this batch replaces are excluded (their
      // stale grams must not strip their own new versions). Both probe
      // sides winnow with the SAME pinned window; only the index buckets
      // the batch's gram keys name are read.
      val batchToks = SubstringDedup.tokenFrame(
          incoming.select(col(idCol), col(textCol)), idCol, textCol)
        .persist(lvl) // feeds the probe grams AND the pre-strip
      val batchKeys = SubstringDedup
        .winnowedGramKeys(batchToks, idCol, minWords, winnowW)
        .select(col("gram_h.h1").as("h1"), col("gram_h.h2").as("h2"))
        .distinct()
        .persist(lvl) // consumed by the label collect AND the probe join
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val probeExecutor = probeEc
      def probe[T](what: String)(body: => T): Future[T] =
        Future(Catalog.withJobLabel(spark, s"ingestBatch: $what")(body))
      val fConflict = probe("docs-index conflict probe") {
        dataPartsOf(conflictFrame)
      }
      val fCand = probe("hash-dup candidate parts")(dataPartsOf(cand))
      val fGram = probe("gram probe") {
        val gramLabels = batchKeys
          .agg(collect_set(BucketSizing.label(col("h1"), im0))).head()
          .getSeq[String](0).toSet
        val gramsIdx = cat.readManifestParts(indexTable(table),
          idxManifest, gramIndexSchema(idCol, sourceCol),
          labelMatched(SpGrams, gramLabels), SpGrams)
        val hs = gramsIdx.join(broadcast(batchKeys), Seq("h1", "h2"))
          .select(col(idCol), col(sourceCol)).distinct()
          .join(broadcast(batchIds), Seq(idCol), "left_anti")
          .persist(lvl) // consumed by the part collect AND the id semi-join
        (hs, dataPartsOf(hs))
      }
      val conflictParts = Await.result(fConflict, Duration.Inf)
      val candParts = Await.result(fCand, Duration.Inf)
      val (hits, hitParts) = Await.result(fGram, Duration.Inf)
      val dirtyParts = if (dm != dm0) dataManifest.keys.toSeq
        else (batchParts ++ conflictParts).distinct
      // dirty-part stored rows split into REPLACED (ids this batch
      // re-ingests — the old copies leave the store, and their index
      // entries merge out below) and PASS-THROUGH bucket neighbours,
      // committed again verbatim: stored rows are never re-deduped or
      // re-stripped at ingest
      val dirty = cat.readManifestParts(table, dataManifest,
          storedSchema(idCol, sourceCol, textCol), dirtyParts)
        .persist(lvl) // replaced + passThrough both read it
      val replaced = dirty.join(broadcast(batchIds), Seq(idCol))
        .persist(lvl) // old-key recompute ×2 in the index merge
      val passThrough = dirty.join(broadcast(batchIds), Seq(idCol),
        "left_anti")
      val candStored = cat.readManifestParts(table, dataManifest,
          storedSchema(idCol, sourceCol, textCol), candParts)
        .select(col(idCol),
          Normalize.normalizeText(col(textCol)).as("_graft_sn"))
      val dropIds = cand.select(col(idCol), col("_graft_bid"))
        .join(candStored, Seq(idCol))
        .join(incoming.select(col(idCol).as("_graft_bid"),
          Normalize.normalizeText(col(textCol)).as("_graft_bn")),
          Seq("_graft_bid"))
        .filter(col("_graft_sn") === col("_graft_bn"))
        .select(col("_graft_bid").as(idCol)).distinct()
      val kept = incoming.join(dropIds, Seq(idCol), "left_anti")
      try {
        val context = cat.readManifestParts(table, dataManifest,
            storedSchema(idCol, sourceCol, textCol), hitParts)
          .join(hits.select(col(idCol)), Seq(idCol))
          .select(col(idCol), col(textCol))
        val ctxToks = SubstringDedup.tokenFrame(context, idCol, textCol)
        val preSpans = SubstringDedup.containedSpans(batchToks, ctxToks,
          idCol, minWords)
        // EAGER localCheckpoint, not persist: `pre` is referenced (via
        // bdocs / the audit merge) repeatedly, and a persist keeps the
        // whole probe chain in every consumer's LOGICAL plan — the
        // composed plan string grew multiplicatively and OOM'd the
        // driver at AQE's explain formatting. Checkpointing truncates
        // lineage to a flat scan of the (batch-sized) materialized rows;
        // a lost-executor recompute is impossible, but a failed ingest
        // job just fails the commit and the at-least-once replay redoes
        // the batch (the state-mark protocol).
        val pre = Catalog.withJobLabel(spark,
            "ingestBatch: pre-strip checkpoint") {
          SubstringDedup.keepOneStripped(batchToks,
              SubstringDedup.removeAllVerdicts(preSpans, idCol), idCol)
            .localCheckpoint(true)
        }
        // the batch-only working set: normalize-dedup (min id) +
        // keep-one strip WITHIN the batch — stored rows never join it,
        // so per-batch compute is O(batch), never O(source)
        val bdocs = pre
          .join(kept.select(col(idCol), col(sourceCol)), Seq(idCol))
          .select(col(idCol), col(sourceCol),
            col("text").as(textCol)) // keepOneStripped's literal name
        val (strippedF, cleanup) = strippedCorpusWithCleanup(bdocs,
          idCol, textCol, sourceCol, minWords, minDocs)
        try {
          // merge the pre-strip audit into the batch audit: batch docs
          // report their ORIGINAL token count and the total removed
          // spans across both strip passes
          val preAudit = pre.select(col(idCol),
            col("n_tokens_before").as("_graft_pre_b"),
            col("n_spans_removed").as("_graft_pre_r"))
          val batchOut = Catalog.withJobLabel(spark,
              "ingestBatch: batch strip checkpoint") {
            strippedF.join(preAudit, Seq(idCol), "left")
              .select(col(idCol), col(sourceCol), col(textCol),
                coalesce(col("_graft_pre_b"), col("n_tokens_before"))
                  .as("n_tokens_before"),
                col("n_tokens_after"),
                (col("n_spans_removed") +
                  coalesce(col("_graft_pre_r"), lit(0L)))
                  .as("n_spans_removed"))
              // lineage cut (see `pre`): the data write + three index
              // merges all start from a flat scan of the batch rows
              .localCheckpoint(true)
          }
          val v = commitDataParts(cat, table,
            passThrough.unionByName(batchOut), idCol, sourceCol, dm,
            dirtyParts)
          mergeIndexes(cat, table, idxManifest, im0, im, batchOut, replaced,
            batchIds, batchId, idCol, textCol, sourceCol, minWords, winnowW,
            bucketsEff)
          v
        } finally { cleanup() }
      } finally {
        hits.unpersist(); batchKeys.unpersist(); batchToks.unpersist()
        cand.unpersist(); replaced.unpersist(); dirty.unpersist(); ()
      }
    } finally { incomingAll.unpersist(); () }
  }

  /** Incremental index maintenance for one ingest commit: for each
    * sub-table, the touched partitions are exactly those the NEW rows'
    * keys (batch's committed docs) or the REPLACED docs' OLD keys land in
    * under the group's modulus `m0` — old keys recomputed from the old
    * stored text read off the dirty data partitions with the same
    * deterministic functions and pins, so the removal set's partitions
    * are exact. Each touched partition's next content = its current rows
    * minus ALL batch ids, plus the new rows. When the group grows to
    * modulus `m`, every partition is touched and re-routed. The
    * high-water mark advances as the `state/<batchId>` manifest key IN
    * the same atomic group commit (r16 verdict item 3: one fewer table
    * claim per batch). O(batch + replaced), never O(source), outside a
    * growth commit.
    *
    * Crash window: a replay after a crash between the data commit and
    * this merge can no longer read a replaced doc's OLD text (the data
    * commit dropped it), so that doc's stale index rows in buckets the
    * replay doesn't otherwise touch can linger — harmless (every probe
    * confirms hits against current stored text before acting) and reaped
    * by the next [[rebuildIndexes]].
    */
  private def mergeIndexes(cat: Catalog, table: String,
      manifest: Map[String, Long], m0: Int, m: Int, batchOut: DataFrame,
      replaced: DataFrame, batchIds: DataFrame, batchId: Long,
      idCol: String, textCol: String, sourceCol: String, minWords: Int,
      winnowW: Int, buckets: Int): Unit = {
    val spark = batchOut.sparkSession
    val idx = indexTable(table)
    def rowsOf(df: DataFrame) =
      indexRows(df, idCol, textCol, sourceCol, minWords, winnowW)
    // (sub, newRows, oldRows, key)
    val subs = rowsOf(batchOut).zip(rowsOf(replaced)).map {
      case ((sub, nw, key), (_, old, _)) => (sub, nw, old, key)
    }
    // ONE job collects every sub's candidate partitions (new keys' ∪ old
    // keys' buckets, each under its row's source) — r16 ran six separate
    // collects here
    val candidates: Map[String, Seq[String]] =
      if (m != m0) IdxSubs.map(s => s -> subParts(manifest, s)).toMap
      else {
        val tagged = subs.map { case (sub, nw, old, key) =>
          nw.select(col(key), col(sourceCol))
            .unionByName(old.select(col(key), col(sourceCol)))
            .select(lit(sub).as("_graft_sub"),
              partOf(col(key), m0, sourceCol).as("_graft_p"))
        }.reduce(_.unionByName(_))
        Catalog.withJobLabel(spark, "mergeIndexes: candidate parts") {
          tagged.agg(collect_set(struct(col("_graft_sub"), col("_graft_p"))))
            .head()
        }.getSeq[org.apache.spark.sql.Row](0).groupBy(_.getString(0))
          .map { case (sub, rows) => sub -> rows.map(_.getString(1)) }
      }
    val merged = subs.map { case (sub, nw, _, key) =>
      val parts = candidates.getOrElse(sub, Seq.empty)
      val content = cat.readManifestParts(idx, manifest,
          idxSchema(sub, idCol, sourceCol), parts, sub)
        .join(broadcast(batchIds), Seq(idCol), "left_anti")
        .unionByName(nw)
      GroupBatch(sub, bucketed(content, col(key), m, key, sourceCol),
        "_graft_part", parts)
    }
    // the high-water mark: one tiny partition whose KEY is the batch id;
    // prior marks drop in the same commit (monotone single key)
    val oldState = subParts(manifest, "state")
    val stateDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(org.apache.spark.sql.Row(batchId, batchId.toString)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("batch_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_graft_part",
          org.apache.spark.sql.types.StringType))))
    val stateBatch = GroupBatch("state", stateDf, "_graft_part",
      (oldState :+ batchId.toString).distinct)
    val base = merged :+ stateBatch
    val batches = if (manifest.contains("conf/0")) base
      else base :+ confBatch(spark, minWords, winnowW, buckets)
    cat.overwriteGroupIf(idx, batches, -1L)
    ()
  }

  /** Diagnostic: the exact I/O footprint the three index probes (and the
    * dirty-data resolution) of `batch` would read at the store's CURRENT
    * moduli — per space: (partitions named by the batch's keys, their
    * bytes, total partitions, total bytes). Pure metadata (two stats jobs
    * over the batch + driver-side filesystem sizes; no index data is
    * read). This is how the bucket-layout ledger in NOTES measures the
    * pruning win instead of inferring it: compare bytesNamed against
    * bytesTotal. `buckets` is the floor for a store with no labels yet.
    */
  def probeFootprint(cat: Catalog, table: String, batch: DataFrame,
      idCol: String, textCol: String, sourceCol: String, minWords: Int,
      winnowW: Int, buckets: Int): Map[String, (Long, Long, Long, Long)] = {
    val idx = indexTable(table)
    val (_, imf) = cat.snapshot(idx)
    val (_, dmf) = cat.snapshot(table)
    val dm = modulusIn(table, dmf, Seq(""), buckets)
    val im = modulusIn(idx, imf, IdxSubs, buckets)
    val incoming = batch.select(col(idCol).cast("long").as(idCol),
      col(sourceCol).cast("string").as(sourceCol),
      col(textCol).cast("string").as(textCol))
      .filter(col(idCol).isNotNull && col(sourceCol).isNotNull)
      .dropDuplicates(idCol)
    val gramKeys = SubstringDedup.winnowedGramKeys(
        SubstringDedup.tokenFrame(
          incoming.select(col(idCol), col(textCol)), idCol, textCol),
        idCol, minWords, winnowW)
      .select(col("gram_h.h1").as("h1")).distinct()
    val stats = incoming.agg(
      collect_set(partOf(col(idCol), dm, sourceCol)),
      collect_set(BucketSizing.label(col(idCol), im)),
      collect_set(BucketSizing.label(thCol(textCol), im))).head()
    val gramLabels = gramKeys.agg(collect_set(BucketSizing.label(col("h1"),
      im))).head().getSeq[String](0).toSet
    def footprint(name: String, mf: Map[String, Long], sub: String,
        named: String => Boolean) = {
      val all = subParts(mf, sub)
      val sz = cat.partitionBytes(name, mf, all, sub)
      val hit = all.filter(named)
      (hit.size.toLong, hit.map(sz.getOrElse(_, 0L)).sum, all.size.toLong,
        sz.values.sum)
    }
    def labelled(labels: Set[String]) = (p: String) => labels(partLabel(p))
    Map(SpData -> footprint(table, dmf, "", stats.getSeq[String](0).toSet),
      SpDocs -> footprint(idx, imf, SpDocs,
        labelled(stats.getSeq[String](1).toSet)),
      SpHashes -> footprint(idx, imf, SpHashes,
        labelled(stats.getSeq[String](2).toSet)),
      SpGrams -> footprint(idx, imf, SpGrams, labelled(gramLabels)))
  }
}
