package graft.storage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
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
    //
    // r17 optimization round: the canonical row per normalized hash comes
    // from ONE narrow min(struct(id, source)) aggregate (ids unique;
    // struct order is field order) where the r14 shape persisted a
    // corpus-sized (id, source, grp) frame, aggregated it, joined it back
    // on grp, and filtered id = canon — one pass, no corpus-frame persist,
    // no join, one exchange fewer, and the exchange carries (grp, id,
    // source), never text. Same rewrite as q212 (TextDedupQueries).
    val keptIds = docs.select(col(idCol), col(sourceCol),
        md5(encode(Normalize.normalizeText(col(textCol)), "UTF-8"))
          .as("_graft_grp"))
      .groupBy(col("_graft_grp"))
      .agg(min(struct(col(idCol), col(sourceCol))).as("_graft_c"))
      .select(col(s"_graft_c.$idCol").as(idCol),
        col(s"_graft_c.$sourceCol").as(sourceCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = docs.select(col(idCol), col(textCol))
      .join(keptIds.select(col(idCol)), Seq(idCol))
    val toks = SubstringDedup.tokenFrame(kept, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spans = SubstringDedup.crossDocSpans(toks, idCol, minWords, minDocs)
    val verdicts = SubstringDedup.dedupVerdicts(spans, idCol)
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
    * the others' files untouched). The dedup index tables' touched
    * partitions rebuild from the committed rows (see the index note
    * below), so subsequent [[ingestBatch]] commits can probe the store.
    * Returns the committed version.
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
      requireDataLayout(cat, table)
      val splitsAll = splitsOf(idxManifest)
      // bounded: one row per SOURCE (config-scale), the Reservoir.ingest
      // touched-partition convention — never a corpus-sized collect. This
      // is the job that materializes the persisted strip chain; it also
      // returns the per-source text bytes the AUTO base modulus derives
      // from (chars ≈ bytes for layout purposes).
      out.sparkSession.sparkContext.setJobDescription(
        "writeDeduped: strip chain + touched sources")
      val srcStats = out.groupBy(col(sourceCol))
        .agg(sum(length(col(textCol))).as("_graft_bytes")).collect()
      out.sparkSession.sparkContext.setJobDescription(null)
      val touched = srcStats.map(_.getString(0)).toSeq
      val bEff = if (bResolved > 0) bResolved
        else BucketSizing.deriveBase(
          srcStats.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum,
          BucketSizing.baseBucketBytes(out.sparkSession))
      val v = commitData(cat, table, out, idCol, sourceCol, bEff,
        splitsAll(SpData), touched)
      commitIndexes(cat, table, idxManifest, splitsAll, out, idCol,
        textCol, sourceCol, minWords, winnowW, bEff, touched)
      v
    } finally { out.unpersist(); cleanup(); () }
  }

  /** Commit `out` as the full new content of the `touched` SOURCES of the
    * bucketed data table: rows land in `bucket#source` partitions (one
    * file per bucket, sorted by id), and every existing bucket of a
    * touched source is in the overwrite set so emptied buckets drop.
    * Bucketing the DATA like the indexes is what bounds an incremental
    * commit's write amplification: a small batch into a huge source
    * rewrites only the id-buckets it lands in, never the whole source
    * (the r15 hot-source finding).
    */
  private def commitData(cat: Catalog, table: String, out: DataFrame,
      idCol: String, sourceCol: String, buckets: Int,
      dataSplits: Set[(Long, Long)], touched: Seq[String]): Long = {
    val tset = touched.toSet
    val old = cat.partitionManifest(table).keysIterator
      .filter(p => tset.contains(partSource(p))).toSeq
    commitDataParts(cat, table, out, idCol, sourceCol, buckets, dataSplits,
      old)
  }

  /** commit `out` as the full new content of exactly the `declared` data
    * partitions (∪ the staged frame's own part values, which the commit
    * reads off the staging directory) — the incremental-commit core: one
    * file per bucket dir, sorted by id
    */
  private def commitDataParts(cat: Catalog, table: String, out: DataFrame,
      idCol: String, sourceCol: String, buckets: Int,
      dataSplits: Set[(Long, Long)], declared: Seq[String]): Long = {
    val route = routeUdf(dataSplits, buckets.toLong)
    val df = out.withColumn("_graft_part",
        concat(route(col(idCol)), lit("#"), col(sourceCol)))
      .repartition(col("_graft_part"))
      .sortWithinPartitions(col("_graft_part"), col(idCol))
    cat.overwriteGroupIf(table, Seq(GroupBatch("", df, "_graft_part",
      declared.distinct)), -1L)
  }

  /** the data-layout fail-fast twin of [[requireIndexReady]]: a store
    * whose data partitions are not bucket-shaped (source-named legacy
    * parts — including sources that happen to contain '#', the r16 ADVICE
    * evasion) must be migrated by [[rebuildIndexes]] before any
    * incremental commit — part names are how dirty buckets resolve, so a
    * legacy part would silently hide its stored rows from the merge
    */
  private def requireDataLayout(cat: Catalog, table: String): Unit = {
    val legacy = cat.partitionManifest(table).keysIterator
      .filterNot(isBucketedPart).toSeq
    require(legacy.isEmpty,
      s"corpus table '$table' has source-partitioned (pre-bucketing) data " +
        s"partitions ${legacy.take(3).mkString("[", ", ", "]")}…; run " +
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
  // BUCKET GEOMETRY (r16 verdict item 1 — the B-tree split). A key k of a
  // space (data/docs by id, grams by h1, hashes by th) routes down a
  // binary SPLIT TRIE: start at the pinned base modulus b with residue
  // pmod(k, b); while the current node (m, i) is registered as split,
  // descend to (2m, pmod(k, 2m)) — note pmod(k, 2m) ∈ {i, i+m}, so a
  // split sends a bucket's keys to exactly two children. Partition values
  // name the leaf: `%05d#source` at the base modulus (unchanged from the
  // pre-split layout — an unsplit store's on-disk layout is byte-for-byte
  // the r16 one) or `<m>.<i>#source` for a split leaf. The registry of
  // split nodes is encoded as MANIFEST PART KEYS of the index group
  // (`splits/<space>.<m>.<i>`), so reading it costs nothing beyond the
  // snapshot pin every commit already takes, and it is versioned with the
  // indexes themselves. Growing the store therefore NEVER rewrites it:
  // [[maintainBuckets]] splits ONE oversized bucket at a time (rewriting
  // only that bucket's rows, ~targetBytes), where pre-r17 growth required
  // a full-store rebuildIndexes re-bucket.
  //
  // Read-side rule (lossless, split-state-agnostic): a partition
  // (m, i, source) can hold a row with key k ONLY IF pmod(k, m) == i —
  // true at whatever trie depth the row was committed. So every probe and
  // every dirty-part resolution matches existing partitions against the
  // batch keys' ROUTE CHAINS (every (modulus, residue) node from the base
  // to the current leaf). This covers rows committed before a later split
  // (they sit at an ancestor) and makes a half-split data bucket
  // self-healing: the ancestor stays matched, its rows are read into the
  // next touching commit, and the rewrite re-routes them to the leaves
  // (the ancestor empties out of the manifest).
  //
  // Probe and write cost at scale (r15 items 1+2, r16 item 1): winnowing
  // cuts gram-index rows AND probe keys to ~2/(w+1) of gram positions;
  // each probe reads ONLY the index buckets on the batch's own route
  // chains (chain length = trie depth, ~log of the growth factor); the
  // data commit rewrites ONLY the id-buckets the batch lands in. With
  // buckets kept near a target byte size by maintainBuckets' one-leaf
  // splits, per-batch I/O is O(batch keys × target bucket bytes) — the
  // B-tree-leaf bound — at ANY store size, with no full-rewrite event in
  // the store's lifetime. Detection floor: shared spans ≥ minWords + w −
  // 1 words are ALWAYS caught (the winnowing guarantee, documented at
  // winnowedGramKeys); exact whole-doc dups always (hash index); shorter
  // shared spans heal at the next full writeDeduped. (minWords, w, b) are
  // pinned per table in the conf sub.
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

  // the four key spaces of the split trie registry
  private val SpData = "data"
  private val SpDocs = "docs"
  private val SpGrams = "grams"
  private val SpHashes = "hashes"

  /** base-modulus buckets keep the pre-split `%05d#source` shape; split
    * leaves are `<m>.<i>#source`. Bucket labels never contain '#', so the
    * FIRST '#' splits unambiguously even when the source value itself
    * carries one.
    */
  private def isBucketedPart(p: String): Boolean =
    p.matches("(\\d{5}|\\d+\\.\\d+)#.*")

  private def partSource(p: String): String = p.drop(p.indexOf('#') + 1)

  /** (modulus, residue) a bucketed partition value names — base-modulus
    * labels carry the pinned `b` implicitly
    */
  private def partModIdx(p: String, b: Long): (Long, Long) = {
    val label = p.takeWhile(_ != '#')
    val d = label.indexOf('.')
    if (d < 0) (b, label.toLong)
    else (label.take(d).toLong, label.drop(d + 1).toLong)
  }

  /** the split registry parsed off an index-group manifest's part keys
    * (`splits/<space>.<m>.<i>`): space → set of split trie nodes. Reading
    * it is free — no file I/O beyond the manifest every commit pins.
    */
  private def splitsOf(manifest: Map[String, Long])
      : Map[String, Set[(Long, Long)]] = {
    val parsed = manifest.keysIterator.filter(_.startsWith("splits/"))
      .map(_.stripPrefix("splits/")).toSeq
      .flatMap { s =>
        s.split('.') match {
          case Array(space, m, i) => Some((space, (m.toLong, i.toLong)))
          case _ => None
        }
      }
    parsed.groupBy(_._1).map { case (sp, xs) => sp -> xs.map(_._2).toSet }
      .withDefaultValue(Set.empty[(Long, Long)])
  }

  /** every bucket label on key k's route: the base node first, then each
    * registered split descended, ending at the LEAF the key routes to.
    * Chain length = that key's trie depth (log of the bucket's total
    * growth factor), never store-sized.
    */
  private def chainLabels(splits: Set[(Long, Long)], b: Long,
      k: Long): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var m = b
    var i = java.lang.Math.floorMod(k, m)
    out += f"$i%05d"
    while (splits.contains((m, i))) {
      m *= 2
      i = java.lang.Math.floorMod(k, m)
      out += s"$m.$i"
    }
    out.toSeq
  }

  /** the leaf label alone — where a NEW row of this key is written */
  private def routeLabel(splits: Set[(Long, Long)], b: Long,
      k: Long): String =
    chainLabels(splits, b, k).last

  private def routeUdf(splits: Set[(Long, Long)], b: Long)
      : UserDefinedFunction =
    udf((k: java.lang.Long) =>
      if (k == null) null else routeLabel(splits, b, k.longValue()))

  private def chainUdf(splits: Set[(Long, Long)], b: Long)
      : UserDefinedFunction =
    udf((k: java.lang.Long) =>
      if (k == null) null else chainLabels(splits, b, k.longValue()))

  // With splits in play, rows read off a half-split ancestor re-route to
  // leaves no batch key names; the commit registers every partition a
  // batch actually staged (read off the staging directory — no Spark job),
  // so those rows land even though `touched` never named their leaf.

  /** one sub-table's partition values in a pinned group manifest */
  private def subParts(manifest: Map[String, Long],
      sub: String): Seq[String] = {
    val prefix = s"$sub/"
    manifest.keysIterator.filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix)).toSeq
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

  /** the exact-dup probe key: xxhash64 over the normalized text (the SAME
    * normalization [[strippedCorpus]]'s exact-dedup groups by)
    */
  private def thCol(textCol: String): Column =
    xxhash64(Normalize.normalizeText(col(textCol)))

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
    * token windows and silently finds nothing, and a different base
    * modulus routes the wrong trie. The triple is pinned in a one-row
    * `conf` sub-table written with the FIRST index commit; later commits
    * verify against it instead of trusting the caller. A conf row missing
    * the (w, b) columns is a pre-winnowing (r15) index — refused with a
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
    * discipline note above. Split geometry is RESPECTED (rows route down
    * the current trie), never changed here.
    */
  private def commitIndexes(cat: Catalog, table: String,
      idxManifest: Map[String, Long], splitsAll: Map[String, Set[(Long, Long)]],
      out: DataFrame, idCol: String, textCol: String, sourceCol: String,
      minWords: Int, winnowW: Int, buckets: Int,
      touched: Seq[String]): Unit = {
    val toks = SubstringDedup.tokenFrame(
      out.select(col(idCol), col(textCol)), idCol, textCol)
    val gramRows = SubstringDedup
      .winnowedGramKeys(toks, idCol, minWords, winnowW)
      .select(col("gram_h.h1").as("h1"), col("gram_h.h2").as("h2"),
        col(idCol))
      .join(out.select(col(idCol), col(sourceCol)), Seq(idCol))
      .select(col("h1"), col("h2"), col(idCol), col(sourceCol))
    val b = buckets.toLong
    val base = Seq(
      idxBatch(SpGrams, gramRows, col("h1"), "h1", sourceCol,
        splitsAll(SpGrams), b, subParts(idxManifest, SpGrams), touched),
      idxBatch(SpDocs, out.select(col(idCol), col(sourceCol)), col(idCol),
        idCol, sourceCol, splitsAll(SpDocs), b,
        subParts(idxManifest, SpDocs), touched),
      idxBatch(SpHashes,
        out.select(thCol(textCol).as("th"), col(idCol), col(sourceCol)),
        col("th"), "th", sourceCol, splitsAll(SpHashes), b,
        subParts(idxManifest, SpHashes), touched))
    val batches = if (idxManifest.contains("conf/0")) base
      else base :+ confBatch(out.sparkSession, minWords, winnowW, buckets)
    cat.overwriteGroupIf(indexTable(table), batches, -1L)
    ()
  }

  /** Bucket, lay out, and enumerate one index sub-table's commit batch:
    * rows gain the `_graft_part` partition value (route leaf + '#' +
    * source), shuffle so each bucket partition lands in ONE task (one
    * file per bucket dir), and sort within partitions by the probe key so
    * parquet row groups cover narrow key ranges (the at-scale
    * footer-stats path). The touched partition set = existing index parts
    * of the touched SOURCES (so emptied buckets drop from the manifest —
    * including legacy source-only part values during migration) ∪ the new
    * rows' own part values (one bounded collect, ≤ touched sources ×
    * buckets).
    */
  private def idxBatch(sub: String, rows: DataFrame, key: Column,
      sortKey: String, sourceCol: String, splits: Set[(Long, Long)],
      b: Long, existing: Seq[String], touched: Seq[String]): GroupBatch = {
    val route = routeUdf(splits, b)
    val df = rows.withColumn("_graft_part",
        concat(route(key), lit("#"), col(sourceCol)))
      .repartition(col("_graft_part"))
      .sortWithinPartitions(col("_graft_part"), col(sortKey))
    val tset = touched.toSet
    val old = existing.filter(p => tset.contains(partSource(p)))
    GroupBatch(sub, df, "_graft_part", old.distinct)
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

  /** the informational payload of one split-registry partition (the
    * REGISTRY is the part key `splits/<space>.<m>.<i>` itself; the row
    * just makes the partition non-empty so the commit registers it)
    */
  private def registrySchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("space", StringType),
      StructField("m", LongType), StructField("i", LongType),
      StructField("_graft_part", StringType)))
  }

  private def registryBatch(spark: org.apache.spark.sql.SparkSession,
      space: String, m: Long, i: Long): GroupBatch = {
    import org.apache.spark.sql.Row
    val key = s"$space.$m.$i"
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(space, m, i, key)), 1),
      registrySchema)
    GroupBatch("splits", df, "_graft_part", Seq(key))
  }

  /** Build (or rebuild) the dedup index group for an EXISTING corpus
    * table from its current committed text — the migration path for
    * stores committed before the indexes existed, for index-shape pin
    * changes, and the repair path after an index table was lost: one pass
    * over the stored corpus, one atomic group commit covering every
    * stored source (plus any stale index partitions of sources no longer
    * in the store, which are dropped). The store is re-based FLAT at the
    * new base modulus: the split registry is cleared and any split or
    * legacy data partitions rewrite to `%05d#source`. Returns the
    * committed index version. writeDeduped / ingestBatch maintain the
    * index incrementally and [[maintainBuckets]] grows the geometry one
    * leaf at a time — this full rebuild is never needed in the steady
    * state.
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
      val bucketsEff = if (buckets > 0) buckets
        else BucketSizing.deriveBase(storedBytes,
          BucketSizing.baseBucketBytes(full.sparkSession))
      // migrate the DATA layout when needed: legacy source-partitioned
      // parts, split leaves (flattened back to the base), or a
      // bucket-count pin change (part names are how dirty buckets
      // resolve, so data bucketing must track the conf pin). Every
      // existing part is in the overwrite set so old names drop.
      val dataMf = cat.partitionManifest(table)
      val oldB = confPins(cat, table, cat.snapshot(indexTable(table))._2)
        .flatMap(_._3)
      val flatShape = "\\d{5}#.*"
      val needRewrite = dataMf.nonEmpty &&
        (dataMf.keysIterator.exists(!_.matches(flatShape)) ||
          !oldB.contains(bucketsEff.toLong))
      if (needRewrite)
        commitDataParts(cat, table, full, idCol, sourceCol, bucketsEff,
          Set.empty, dataMf.keys.toSeq)
      val stored = full.select(col(idCol), col(sourceCol), col(textCol))
      val manifest = cat.snapshot(indexTable(table))._2
      val toks = SubstringDedup.tokenFrame(
        stored.select(col(idCol), col(textCol)), idCol, textCol)
      val gramRows = SubstringDedup
        .winnowedGramKeys(toks, idCol, minWords, winnowW)
        .select(col("gram_h.h1").as("h1"), col("gram_h.h2").as("h2"),
          col(idCol))
        .join(stored.select(col(idCol), col(sourceCol)), Seq(idCol))
        .select(col("h1"), col("h2"), col(idCol), col(sourceCol))
      val docRows = stored.select(col(idCol), col(sourceCol))
      val hashRows = stored.select(thCol(textCol).as("th"), col(idCol),
        col(sourceCol))
      // touched = EVERY existing index partition (whatever its layout —
      // the pre-bucketing source-only names included, so legacy and
      // vanished-source entries drop) ∪ the rebuilt rows' own parts; a
      // full rebuild REPLACES the (minWords, w, b) pin (this IS the
      // migration path for changing the index shape) — conf overwritten,
      // not verified — and CLEARS the split registry (flat rebase).
      // idxBatch's existing-parts filter keys on touched SOURCES, so hand
      // it every stored source plus every source an existing part names.
      val b = bucketsEff.toLong
      val storedSources = stored.select(col(sourceCol)).distinct()
        .collect().map(_.getString(0)).toSeq
      def allSources(sub: String) =
        (storedSources ++ subParts(manifest, sub).map(partSource)).distinct
      val flat = Set.empty[(Long, Long)]
      var batches = Seq(
        idxBatch(SpGrams, gramRows, col("h1"), "h1", sourceCol, flat, b,
          subParts(manifest, SpGrams), allSources(SpGrams)),
        idxBatch(SpDocs, docRows, col(idCol), idCol, sourceCol, flat, b,
          subParts(manifest, SpDocs), allSources(SpDocs)),
        idxBatch(SpHashes, hashRows, col("th"), "th", sourceCol, flat, b,
          subParts(manifest, SpHashes), allSources(SpHashes)),
        confBatch(stored.sparkSession, minWords, winnowW, bucketsEff))
      val splitKeys = subParts(manifest, "splits")
      if (splitKeys.nonEmpty) {
        // an all-touched batch with no staged rows drops every registry key
        val empty = stored.sparkSession.createDataFrame(
          stored.sparkSession.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], registrySchema)
        batches = batches :+ GroupBatch("splits", empty, "_graft_part",
          splitKeys)
      }
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
    *    commit; then, when `targetBucketBytes` > 0, any bucket this
    *    batch touched that grew past the target is split in place
    *    ([[maintainBuckets]] — O(one bucket) per split, never O(store)).
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
    * on the batch's own route chains (winnowed gram keys / doc ids /
    * text hashes — the pruning is lossless: a matching index row's
    * partition provably lies on some batch key's chain), hash-joined
    * against the broadcast batch keys. With leaf buckets held near
    * `targetBucketBytes` by one-leaf splits, per-batch probe I/O is
    * O(batch keys × target bucket bytes) — the B-tree-leaf bound of the
    * reference's indexed cluster_values probe (Storage.java:370-400) —
    * not O(store index), at any store size and with NO full-rewrite
    * event ever. The data write rewrites only dirty bucket partitions;
    * confirmation re-reads are bounded by hit docs.
    */
  def ingestBatch(cat: Catalog, table: String, batch: DataFrame,
      batchId: Long, idCol: String, textCol: String, sourceCol: String,
      minWords: Int = 50, minDocs: Int = 2, winnowW: Int = 8,
      buckets: Int = 0, targetBucketBytes: Long = 0L): Long = {
    val spark = batch.sparkSession
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    // fail fast BEFORE any job, probe, or commit: index-shape pins, the
    // half-indexed-store guard, and the data-layout guard (r16 verdict
    // item 5: these used to run after the empty-batch Spark job). The
    // pinned index snapshot below serves the whole batch: conf pins
    // (cached — no job), split registry and high-water mark (manifest
    // keys — no job).
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
    requireDataLayout(cat, table)
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
      val (_, dataManifest) = cat.snapshot(table)
      val b = bucketsEff.toLong
      val splitsAll = splitsOf(idxManifest)
      val chData = chainUdf(splitsAll(SpData), b)
      val chDocs = chainUdf(splitsAll(SpDocs), b)
      val chHash = chainUdf(splitsAll(SpHashes), b)
      val ok = col(idCol).isNotNull && col(sourceCol).isNotNull
      // ONE stats job over the batch replaces r16's four separate
      // bounded collects (empty-check, id-buckets, fresh data parts,
      // th-buckets): row count + malformed count + the route CHAINS of
      // every batch key under the data/docs/hashes tries (each bounded
      // by batch keys × trie depth)
      def label(s: String): Unit =
        spark.sparkContext.setJobDescription(
          if (s == null) null else s"ingestBatch: $s")
      label("batch stats + route chains")
      val stats = incomingAll.agg(
        count(lit(1)).as("n"),
        sum(when(ok, 0L).otherwise(1L)).as("bad"),
        collect_set(when(ok,
          struct(chData(col(idCol)).as("c"), col(sourceCol).as("s"))))
          .as("dataChains"),
        collect_set(when(ok, chDocs(col(idCol)))).as("docsChains"),
        collect_set(when(ok, chHash(thCol(textCol)))).as("hashChains"))
        .head()
      if (stats.getLong(0) == 0L) return cat.version(table)
      if (stats.getLong(1) > 0L)
        log.warn(s"ingestBatch: batch $batchId for '$table' contains " +
          s"${stats.getLong(1)} row(s) with a null $idCol/$sourceCol - " +
          "dropped (a malformed record must not wedge the replay loop)")
      val dataChainParts = stats.getSeq[org.apache.spark.sql.Row](2)
        .flatMap(r => r.getSeq[String](0).map(l => l + "#" + r.getString(1)))
        .distinct
      val docsLabels = stats.getSeq[Seq[String]](3).flatten.toSet
      val hashLabels = stats.getSeq[Seq[String]](4).flatten.toSet
      if (dataChainParts.isEmpty) { // every row was malformed: no-op
        log.warn(s"ingestBatch: batch $batchId for '$table' had no valid " +
          "rows - nothing committed")
        return cat.version(table)
      }
      val incoming = incomingAll.filter(ok)
      val batchIds = incoming.select(col(idCol))
      // label-match a sub's existing partitions against chain labels: a
      // partition (m, i, source) can hold a matching key only if its own
      // (m, i) lies on some batch key's chain — lossless whatever the
      // split state (rows committed pre-split sit at an ancestor, which
      // the chain also names)
      def labelMatched(sub: String, labels: Set[String]): Seq[String] =
        subParts(idxManifest, sub)
          .filter(p => labels.contains(p.takeWhile(_ != '#')))
      // chain parts of a bounded (key, source) frame — one collect each
      def chainParts(df: DataFrame, chain: UserDefinedFunction,
          key: Column, src: Column): Seq[String] =
        df.agg(collect_set(struct(chain(key).as("c"), src.as("s"))))
          .head().getSeq[org.apache.spark.sql.Row](0)
          .flatMap(r =>
            r.getSeq[String](0).map(l => l + "#" + r.getString(1)))
          .distinct
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
      // DIRTY data partitions = every partition on the batch ids' route
      // chains under the batch's OWN sources (leaf = where new rows land;
      // ancestors = where a pre-split stored copy may sit), plus the
      // partitions holding a conflicting old copy (same id re-ingested
      // under a DIFFERENT source — found in the docs index; conflict docs
      // are stored rows, so their chains under their OLD source name the
      // partitions exactly).
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
      // on the batch's own route chains are read.
      val batchToks = SubstringDedup.tokenFrame(
          incoming.select(col(idCol), col(textCol)), idCol, textCol)
        .persist(lvl) // feeds the probe grams AND the pre-strip
      val batchKeys = SubstringDedup
        .winnowedGramKeys(batchToks, idCol, minWords, winnowW)
        .select(col("gram_h.h1").as("h1"), col("gram_h.h2").as("h2"))
        .distinct()
        .persist(lvl) // consumed by the chain collect AND the probe join
      val chGrams = chainUdf(splitsAll(SpGrams), b)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val probeExecutor = probeEc
      val fConflict = Future {
        label("docs-index conflict probe")
        chainParts(conflictFrame, chData, col(idCol), col(sourceCol))
      }
      val fCand = Future {
        label("hash-dup candidate parts")
        chainParts(cand, chData, col(idCol), col(sourceCol))
      }
      val fGram = Future {
        label("gram probe")
        val gramLabels = batchKeys
          .agg(collect_set(chGrams(col("h1")))).head()
          .getSeq[Seq[String]](0).flatten.toSet
        val gramsIdx = cat.readManifestParts(indexTable(table),
          idxManifest, gramIndexSchema(idCol, sourceCol),
          labelMatched(SpGrams, gramLabels), SpGrams)
        val hs = gramsIdx.join(broadcast(batchKeys), Seq("h1", "h2"))
          .select(col(idCol), col(sourceCol)).distinct()
          .join(broadcast(batchIds), Seq(idCol), "left_anti")
          .persist(lvl) // consumed by the part collect AND the id semi-join
        (hs, chainParts(hs, chData, col(idCol), col(sourceCol)))
      }
      val conflictParts = Await.result(fConflict, Duration.Inf)
      val candParts = Await.result(fCand, Duration.Inf)
      val (hits, hitParts) = Await.result(fGram, Duration.Inf)
      val dirtyParts = (dataChainParts ++ conflictParts).distinct
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
        label("pre-strip checkpoint")
        val pre = SubstringDedup.keepOneStripped(batchToks,
            SubstringDedup.removeAllVerdicts(preSpans, idCol), idCol)
          .localCheckpoint(true)
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
          label("batch strip checkpoint")
          val batchOut = strippedF.join(preAudit, Seq(idCol), "left")
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
          label(null)
          val v = commitDataParts(cat, table,
            passThrough.unionByName(batchOut), idCol, sourceCol,
            bucketsEff, splitsAll(SpData), dirtyParts)
          val idxTouched = mergeIndexes(cat, table, idxManifest, splitsAll,
            batchOut, replaced, batchIds, batchId, idCol, textCol,
            sourceCol, minWords, winnowW, bucketsEff)
          if (targetBucketBytes > 0L)
            maintainBuckets(cat, table, idCol, textCol, sourceCol,
              targetBucketBytes,
              Some(idxTouched + (SpData -> dirtyParts)))
          v
        } finally { cleanup() }
      } finally {
        hits.unpersist(); batchKeys.unpersist(); batchToks.unpersist()
        cand.unpersist(); replaced.unpersist(); dirty.unpersist(); ()
      }
    } finally { incomingAll.unpersist(); () }
  }

  /** Incremental index maintenance for one ingest commit: for each
    * sub-table, the touched partitions are exactly those on the route
    * chains of the NEW rows' keys (batch's committed docs) or the
    * REPLACED docs' OLD keys — old keys recomputed from the old stored
    * text read off the dirty data partitions with the same deterministic
    * functions and pins, so the removal set's partitions are exact. Each
    * touched partition's next content = its current rows minus ALL batch
    * ids, plus the new rows (re-routed to the current leaves, so
    * half-split ancestors heal). The high-water mark advances as the
    * `state/<batchId>` manifest key IN the same atomic group commit (r16
    * verdict item 3: one fewer table claim per batch). O(batch +
    * replaced), never O(source). Returns the touched partitions per sub
    * (the split trigger's candidate set).
    *
    * Crash window: a replay after a crash between the data commit and
    * this merge can no longer read a replaced doc's OLD text (the data
    * commit dropped it), so that doc's stale index rows in buckets the
    * replay doesn't otherwise touch can linger — harmless (every probe
    * confirms hits against current stored text before acting) and reaped
    * by the next [[rebuildIndexes]].
    */
  private def mergeIndexes(cat: Catalog, table: String,
      manifest: Map[String, Long], splitsAll: Map[String, Set[(Long, Long)]],
      batchOut: DataFrame, replaced: DataFrame, batchIds: DataFrame,
      batchId: Long, idCol: String, textCol: String, sourceCol: String,
      minWords: Int, winnowW: Int, buckets: Int)
      : Map[String, Seq[String]] = {
    val b = buckets.toLong
    val spark = batchOut.sparkSession
    def gramsOf(df: DataFrame) =
      SubstringDedup.winnowedGramKeys(
          SubstringDedup.tokenFrame(df.select(col(idCol), col(textCol)),
            idCol, textCol), idCol, minWords, winnowW)
        .select(col("gram_h.h1").as("h1"), col("gram_h.h2").as("h2"),
          col(idCol))
        .join(df.select(col(idCol), col(sourceCol)), Seq(idCol))
        .select(col("h1"), col("h2"), col(idCol), col(sourceCol))
    def hashesOf(df: DataFrame) =
      df.select(thCol(textCol).as("th"), col(idCol), col(sourceCol))
    val subs: Seq[(String, DataFrame, DataFrame, String, String)] = Seq(
      // (sub, newRows, oldRows, keyCol, sortKey)
      (SpGrams, gramsOf(batchOut), gramsOf(replaced), "h1", "h1"),
      (SpDocs, batchOut.select(col(idCol), col(sourceCol)),
        replaced.select(col(idCol), col(sourceCol)), idCol, idCol),
      (SpHashes, hashesOf(batchOut), hashesOf(replaced), "th", "th"))
    // ONE job collects every sub's candidate partitions (new keys' chains
    // ∪ old keys' chains, each under its row's source) — r16 ran six
    // separate collects here
    val tagged = subs.map { case (sub, nw, old, key, _) =>
      val ch = chainUdf(splitsAll(sub), b)
      nw.unionByName(old).select(lit(sub).as("_graft_sub"),
        ch(col(key)).as("_graft_chain"), col(sourceCol).as("_graft_src"))
    }.reduce(_.unionByName(_))
    spark.sparkContext.setJobDescription("mergeIndexes: candidate parts")
    val candRows = tagged
      .agg(collect_set(struct(col("_graft_sub"), col("_graft_chain"),
        col("_graft_src")))).head()
      .getSeq[org.apache.spark.sql.Row](0)
    spark.sparkContext.setJobDescription(null)
    val candidates: Map[String, Seq[String]] = candRows
      .groupBy(_.getString(0))
      .map { case (sub, rows) =>
        sub -> rows.flatMap(r =>
          r.getSeq[String](1).map(l => l + "#" + r.getString(2))).distinct
      }
    def merged(sub: String, newRows: DataFrame, keyCol: String,
        sortKey: String,
        schema: org.apache.spark.sql.types.StructType): GroupBatch = {
      val parts = candidates.getOrElse(sub, Seq.empty)
      val route = routeUdf(splitsAll(sub), b)
      val content = cat.readManifestParts(indexTable(table), manifest,
          schema, parts, sub)
        .join(broadcast(batchIds), Seq(idCol), "left_anti")
        .unionByName(newRows)
        .withColumn("_graft_part",
          concat(route(col(keyCol)), lit("#"), col(sourceCol)))
        .repartition(col("_graft_part"))
        .sortWithinPartitions(col("_graft_part"), col(sortKey))
      GroupBatch(sub, content, "_graft_part", parts.distinct)
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
    val base = Seq(
      merged(SpGrams, subs(0)._2, "h1", "h1",
        gramIndexSchema(idCol, sourceCol)),
      merged(SpDocs, subs(1)._2, idCol, idCol,
        docsIndexSchema(idCol, sourceCol)),
      merged(SpHashes, subs(2)._2, "th", "th",
        hashIndexSchema(idCol, sourceCol)),
      stateBatch)
    val batches = if (manifest.contains("conf/0")) base
      else base :+ confBatch(spark, minWords, winnowW, buckets)
    cat.overwriteGroupIf(indexTable(table), batches, -1L)
    candidates
  }

  /** Diagnostic: the exact I/O footprint the three index probes (and the
    * dirty-data resolution) of `batch` would read at the store's CURRENT
    * bucket geometry — per space: (partitions named by the batch's route
    * chains, their bytes, total partitions, total bytes). Pure metadata
    * (one stats job over the batch + driver-side filesystem sizes; no
    * index data is read). This is how the bucket-geometry ledger in NOTES
    * measures the pruning win instead of inferring it: compare bytesNamed
    * against bytesTotal at two geometries for the same batch.
    */
  def probeFootprint(cat: Catalog, table: String, batch: DataFrame,
      idCol: String, textCol: String, sourceCol: String, minWords: Int,
      winnowW: Int, buckets: Int): Map[String, (Long, Long, Long, Long)] = {
    val (_, idxManifest) = cat.snapshot(indexTable(table))
    val (_, dataManifest) = cat.snapshot(table)
    val b = buckets.toLong
    val splitsAll = splitsOf(idxManifest)
    val chData = chainUdf(splitsAll(SpData), b)
    val chDocs = chainUdf(splitsAll(SpDocs), b)
    val chHash = chainUdf(splitsAll(SpHashes), b)
    val chGrams = chainUdf(splitsAll(SpGrams), b)
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
      collect_set(struct(chData(col(idCol)).as("c"),
        col(sourceCol).as("s"))).as("dataChains"),
      collect_set(chDocs(col(idCol))).as("docsChains"),
      collect_set(chHash(thCol(textCol))).as("hashChains")).head()
    val gramLabels = gramKeys.agg(collect_set(chGrams(col("h1")))).head()
      .getSeq[Seq[String]](0).flatten.toSet
    val dataParts = stats.getSeq[org.apache.spark.sql.Row](0)
      .flatMap(r => r.getSeq[String](0).map(l => l + "#" + r.getString(1)))
      .distinct
    val docsLabels = stats.getSeq[Seq[String]](1).flatten.toSet
    val hashLabels = stats.getSeq[Seq[String]](2).flatten.toSet
    def sub(space: String, labels: Set[String]) = {
      val all = subParts(idxManifest, space)
      val named = all.filter(p => labels.contains(p.takeWhile(_ != '#')))
      val sz = cat.partitionBytes(indexTable(table), idxManifest, all, space)
      space -> ((named.size.toLong, named.map(p => sz.getOrElse(p, 0L)).sum,
        all.size.toLong, sz.values.sum))
    }
    val dAll = dataManifest.keys.toSeq.filter(isBucketedPart)
    val dNamed = dataParts.filter(dAll.toSet.contains)
    val dSz = cat.partitionBytes(table, dataManifest, dAll)
    Map(sub(SpGrams, gramLabels), sub(SpDocs, docsLabels),
      sub(SpHashes, hashLabels),
      SpData -> ((dNamed.size.toLong, dNamed.map(p => dSz.getOrElse(p, 0L)).sum,
        dAll.size.toLong, dSz.values.sum)))
  }

  // ---------------- incremental bucket growth (r16 verdict item 1) ----

  /** the deepest modulus a bucket may split to (a pathological bucket
    * whose keys are ALL one value stops here instead of looping);
    * overridable via spark.graft.store.maxBucketFactor (× base modulus)
    */
  private def maxModulus(spark: org.apache.spark.sql.SparkSession,
      b: Long): Long =
    b * spark.conf.getOption("spark.graft.store.maxBucketFactor")
      .map(_.toLong).getOrElse(65536L)

  /** Split ONE bucket (m, i) of `space` in place: the bucket's rows
    * re-route into children (2m, i) and (2m, i+m), and the split is
    * recorded as the registry key `splits/<space>.<m>.<i>` in the index
    * group's manifest. I/O is O(that bucket) — never O(store).
    *
    * Atomicity: for the three index spaces the children rewrite and the
    * registry key land in ONE group commit. The data space needs two
    * commits (registry in the index group, rows in the data table) in
    * registry-FIRST order; a crash between them leaves a registered but
    * physically unsplit bucket, which every reader handles (partitions
    * match by their own modulus) and the next commit touching that
    * bucket heals (its rewrite re-routes the ancestor's rows into the
    * leaves). Splitting an already-registered node is the explicit
    * repair for that window: it re-runs the rewrite.
    */
  def splitBucket(cat: Catalog, table: String, space: String, m: Long,
      i: Long, idCol: String, textCol: String, sourceCol: String): Unit = {
    val spark = cat.spark
    val (_, idxManifest) = cat.snapshot(indexTable(table))
    val pins = confPins(cat, table, idxManifest).getOrElse(
      sys.error(s"corpus table '$table' has no index conf - nothing to split"))
    val b = pins._3.getOrElse(
      sys.error(s"corpus table '$table' carries a pre-winnowing index"))
    require(Seq(SpData, SpDocs, SpGrams, SpHashes).contains(space),
      s"unknown bucket space '$space'")
    require(2 * m <= maxModulus(spark, b),
      s"bucket ($m, $i) of '$space' is at the max split depth " +
        "(spark.graft.store.maxBucketFactor)")
    val splits1 = splitsOf(idxManifest)(space) + ((m, i))
    val route = routeUdf(splits1, b)
    if (space == SpData) {
      // registry first (see atomicity note), then the bucket rewrite
      cat.overwriteGroupIf(indexTable(table),
        Seq(registryBatch(spark, space, m, i)), -1L)
      val dataMf = cat.partitionManifest(table)
      val parents = dataMf.keysIterator
        .filter(p => isBucketedPart(p) && partModIdx(p, b) == ((m, i)))
        .toSeq
      if (parents.nonEmpty) {
        val rows = cat.readManifestParts(table, dataMf,
          storedSchema(idCol, sourceCol, textCol), parents)
        commitDataParts(cat, table, rows, idCol, sourceCol, b.toInt,
          splits1, parents)
      }
      ()
    } else {
      val parents = subParts(idxManifest, space)
        .filter(p => partModIdx(p, b) == ((m, i)))
      val (schema, keyCol, sortKey) = space match {
        case SpGrams => (gramIndexSchema(idCol, sourceCol), "h1", "h1")
        case SpDocs => (docsIndexSchema(idCol, sourceCol), idCol, idCol)
        case _ => (hashIndexSchema(idCol, sourceCol), "th", "th")
      }
      val content = cat.readManifestParts(indexTable(table), idxManifest,
          schema, parents, space)
        .withColumn("_graft_part",
          concat(route(col(keyCol)), lit("#"), col(sourceCol)))
        .repartition(col("_graft_part"))
        .sortWithinPartitions(col("_graft_part"), col(sortKey))
      cat.overwriteGroupIf(indexTable(table),
        Seq(GroupBatch(space, content, "_graft_part", parents.distinct),
          registryBatch(spark, space, m, i)), -1L)
      ()
    }
  }

  /** Grow the bucket geometry in place — the incremental replacement for
    * "rebuildIndexes re-buckets as the store grows" (r16 verdict item 1):
    * measure each leaf bucket's TOTAL bytes across sources (filesystem
    * metadata only) and [[splitBucket]] any bucket over `targetBytes`,
    * repeating on children still oversized. Per split, I/O is the one
    * bucket's rows (~targetBytes) — the store NEVER sees a full rewrite.
    * `candidates` restricts the measurement to the named partitions per
    * space (ingestBatch passes its own touched sets, so the steady-state
    * check is O(batch)); None measures every bucket (the one-off
    * maintenance sweep). Returns the number of splits performed.
    *
    * Sizing rule (the r16 soak lesson, measured): pick `targetBytes` for
    * bucket BYTES a probe should read per matched key — not for a
    * row-count ratio. Too-small targets multiply per-commit file and
    * listing overhead; the local soaks put the crossover where a batch's
    * chains name <~10% of leaves.
    */
  def maintainBuckets(cat: Catalog, table: String, idCol: String,
      textCol: String, sourceCol: String, targetBytes: Long,
      candidates: Option[Map[String, Seq[String]]] = None): Int = {
    val spark = cat.spark
    val (_, idxManifest0) = cat.snapshot(indexTable(table))
    val pins = confPins(cat, table, idxManifest0)
    if (pins.isEmpty || pins.get._3.isEmpty) return 0
    val b = pins.get._3.get
    requireDataLayout(cat, table)
    val maxM = maxModulus(spark, b)
    // oversized (space, m, i) groups among a restriction of each space's
    // partitions (None = every partition of the space)
    def oversized(restrict: Option[Map[String, Seq[String]]])
        : Seq[(String, Long, Long)] = {
      val (_, imf) = cat.snapshot(indexTable(table))
      val dmf = cat.partitionManifest(table)
      Seq(SpData, SpDocs, SpGrams, SpHashes).flatMap { space =>
        val all =
          if (space == SpData) dmf.keys.toSeq.filter(isBucketedPart)
          else subParts(imf, space)
        val parts = restrict match {
          case Some(c) =>
            val want = c.getOrElse(space, Seq.empty).toSet
            all.filter(want.contains)
          case None => all
        }
        val bytes =
          if (space == SpData) cat.partitionBytes(table, dmf, parts)
          else cat.partitionBytes(indexTable(table), imf, parts, space)
        bytes.toSeq.groupBy { case (p, _) => partModIdx(p, b) }
          .map { case (mi, ps) => (mi, ps.map(_._2).sum) }
          .collect { case ((m, i), sz)
              if sz > targetBytes && 2 * m <= maxM =>
            (space, m, i)
          }.toSeq
      }.distinct
    }
    var n = 0
    var work = oversized(candidates)
    while (work.nonEmpty) {
      work.foreach { case (space, m, i) =>
        splitBucket(cat, table, space, m, i, idCol, textCol, sourceCol)
        n += 1
      }
      // re-measure ONLY the fresh children of this round's splits
      val nodesBySpace = work.groupBy(_._1)
        .map { case (sp, ws) => sp -> ws.map(w => (w._2, w._3)).toSet }
      val childCand: Map[String, Seq[String]] = {
        val (_, imf) = cat.snapshot(indexTable(table))
        val dmf = cat.partitionManifest(table)
        nodesBySpace.map { case (space, nodes) =>
          def isChild(p: String): Boolean = {
            val (m2, i2) = partModIdx(p, b)
            m2 > b && nodes.contains((m2 / 2, i2 % (m2 / 2)))
          }
          val all =
            if (space == SpData) dmf.keys.toSeq.filter(isBucketedPart)
            else subParts(imf, space)
          space -> all.filter(isChild)
        }
      }
      work = oversized(Some(childCand))
    }
    n
  }
}
