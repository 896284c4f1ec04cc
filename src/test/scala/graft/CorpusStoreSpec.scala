package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.SubstringDedup
import graft.storage.{BucketSizing, Catalog, CorpusStore}

/** The r12 verdict-7 contract: ingest → normalize-dedup → keep-one strip →
  * STORED table round-trips through the Catalog's snapshot protocol, and
  * the stored corpus satisfies the Lee et al. invariant (a re-run of the
  * span detector finds nothing).
  */
class CorpusStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val storedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("text", StringType),
    StructField("n_tokens_before", LongType),
    StructField("n_tokens_after", LongType),
    StructField("n_spans_removed", LongType)))

  // a 6-word passage duplicated across docs 1 and 2 (strip floor
  // minWords = 5), doc 3 an exact normalized duplicate of doc 1, doc 4
  // clean — two sources so the partitioned commit has >1 partition
  private val passage = "alpha beta gamma delta epsilon zeta"
  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "web", s"one two three $passage four five six seven"),
      (2L, "web", s"$passage aardvark badger wallaby dingo echidna ferret"),
      (3L, "books", s"ONE  two three $passage four five six seven"),
      (4L, "books", "completely unrelated words nothing shared here at all"))
      .toDF("doc_id", "source", "text")
  }

  private def fresh(): Catalog =
    new Catalog(spark, Files.createTempDirectory("graft-corpus").toString,
      "t")

  test("writeDeduped: dedup + strip + snapshot commit round-trips") {
    val cat = fresh()
    val v = CorpusStore.writeDeduped(cat, "corpus", docs, "doc_id", "text",
      "source", minWords = 5)
    assert(v == 1L)
    val stored = cat.readPartitionedOr("corpus", storedSchema)
    val rows = stored.collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // doc 3 is a normalized exact dup of doc 1 -> dropped (min id kept)
    assert(rows.keySet == Set(1L, 2L, 4L))
    // doc 1 is the passage's canonical occurrence -> intact
    assert(rows(1L)._2 == s"one two three $passage four five six seven")
    assert(rows(1L)._5 == 0L)
    // doc 2 lost exactly the passage words, audit columns agree
    assert(rows(2L)._2 == "aardvark badger wallaby dingo echidna ferret")
    assert(rows(2L) == (("web", "aardvark badger wallaby dingo echidna ferret",
      12L, 6L, 1L)))
    // untouched doc passes through whole
    assert(rows(4L)._3 == rows(4L)._4 && rows(4L)._5 == 0L)
  }

  test("stored corpus satisfies the keep-one invariant: re-run finds nothing") {
    val cat = fresh()
    CorpusStore.writeDeduped(cat, "corpus", docs, "doc_id", "text",
      "source", minWords = 5)
    val stored = cat.readPartitionedOr("corpus", storedSchema)
    val toks = SubstringDedup.tokenFrame(stored, "doc_id", "text")
    assert(SubstringDedup.crossDocSpans(toks, "doc_id", minWords = 5)
      .isEmpty)
  }

  test("re-store commits a fresh version with identical content") {
    val cat = fresh()
    CorpusStore.writeDeduped(cat, "corpus", docs, "doc_id", "text",
      "source", minWords = 5)
    val first = cat.readPartitionedOr("corpus", storedSchema)
      .collect().map(_.toSeq).toSet
    val v2 = CorpusStore.writeDeduped(cat, "corpus", docs, "doc_id", "text",
      "source", minWords = 5)
    assert(v2 == 2L)
    val second = cat.readPartitionedOr("corpus", storedSchema)
      .collect().map(_.toSeq).toSet
    assert(second == first)
  }

  test("AUTO geometry (buckets = 0): a fresh store derives its base " +
      "modulus from corpus bytes, pins it, and AUTO commits adopt the pin") {
    import spark.implicits._
    val cat = fresh()
    // toy corpus → AUTO derives b = 1 (everything under the 64 MiB
    // target): one bucket part per source, not 16
    CorpusStore.writeDeduped(cat, "c", docs, "doc_id", "text", "source",
      minWords = 5, winnowW = 1)
    val parts = cat.partitionManifest("c").keySet
    assert(parts == Set("1.0#web", "1.0#books"), parts.toString)
    // AUTO ingest adopts the pinned b = 1 (no caller geometry knowledge);
    // an explicit mismatching value is still refused
    val b = Seq((9L, "wiki", s"qq rr $passage ss tt uu vv"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1)
    val nine = cat.readPartitionedOr("c", storedSchema).collect()
      .find(_.getLong(0) == 9L).get
    assert(nine.getString(2) == "qq rr ss tt uu vv", nine.toString)
    assert(cat.partitionManifest("c").keySet.contains("1.0#wiki"))
    val e = intercept[IllegalArgumentException] {
      CorpusStore.ingestBatch(cat, "c",
        Seq((10L, "wiki", "more words arriving"))
          .toDF("doc_id", "source", "text"),
        1L, "doc_id", "text", "source", minWords = 5, winnowW = 1,
        buckets = 16)
    }
    assert(e.getMessage.contains("buckets"), e.getMessage)
    // deriveBase: power-of-two, bytes/target-scaled, capped
    assert(BucketSizing.deriveBase(0L, 64L << 20) == 1)
    assert(BucketSizing.deriveBase(64L << 20, 64L << 20) == 1)
    assert(BucketSizing.deriveBase((64L << 20) + 1, 64L << 20) == 2)
    assert(BucketSizing.deriveBase(1L << 40, 64L << 20) == 16384)
    assert(BucketSizing.deriveBase(Long.MaxValue, 1L) == (1 << 20))
  }

  test("ingestBatch strips a passage duplicated from an UNTOUCHED source") {
    import spark.implicits._
    val cat = fresh()
    // store via the full path: 'web' and 'books' partitions + gram index.
    // winnowW = 1 pins the EXACT detection floor (density 1 — every
    // shared span >= minWords is caught); the winnowed floor has its own
    // test below
    CorpusStore.writeDeduped(cat, "c", docs, "doc_id", "text", "source",
      minWords = 5, winnowW = 1)
    // a batch for a brand-NEW source duplicating doc 1's stored passage:
    // 'web' is untouched (not in the batch), so only the gram-index probe
    // can catch it — the r14 verdict item 1 scenario
    val b = Seq((9L, "wiki", s"qq rr $passage ss tt uu vv ww"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1)
    val rows = cat.readPartitionedOr("c", storedSchema).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // stored canonical copy untouched, batch copy stripped, audit exact
    assert(rows(1L)._2 == s"one two three $passage four five six seven")
    assert(rows(9L) == (("wiki", "qq rr ss tt uu vv ww", 13L, 7L, 1L)))
    // the whole store STILL satisfies the keep-one invariant
    val toks = SubstringDedup.tokenFrame(
      cat.readPartitionedOr("c", storedSchema), "doc_id", "text")
    assert(SubstringDedup.crossDocSpans(toks, "doc_id", minWords = 5)
      .isEmpty)
  }

  test("ingestBatch drops the old copy when a doc id changes source") {
    import spark.implicits._
    val cat = fresh()
    val b0 = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "books", "completely different words live in this one here"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b0, 0L, "doc_id", "text", "source",
      minWords = 5)
    // doc 1 re-ingested under 'books': the docs-index probe must pull the
    // 'web' partition into the touched set and drop the old copy there —
    // same-id upsert across partitions (r14 ADVICE medium)
    val b1 = Seq((1L, "books", "the very same document moved to a new home"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b1, 1L, "doc_id", "text", "source",
      minWords = 5)
    val rows = cat.readPartitionedOr("c", storedSchema).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.count(_._1 == 1L) == 1)
    assert(rows.find(_._1 == 1L).get._2 == "books")
    assert(rows.find(_._1 == 1L).get._3 ==
      "the very same document moved to a new home")
    assert(rows.map(_._1).toSet == Set(1L, 2L))
  }

  test("ingestBatch: stale gram-index entries never over-strip (confirmation)") {
    import spark.implicits._
    val cat = fresh()
    val b0 = Seq(
      (1L, "web", s"one two three $passage four five six seven"),
      (2L, "books", "completely unrelated words nothing shared here at all"))
      .toDF("doc_id", "source", "text")
    // explicit buckets = 16: the raw-rewrite below names doc 1's bucket
    // part directly, so this test pins the geometry instead of the r17
    // AUTO derivation (which would pick b = 1 for a toy corpus)
    CorpusStore.ingestBatch(cat, "c", b0, 0L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1, buckets = 16)
    // doc 1's text REPLACED (same source) — its old grams are rebuilt out
    // of the index by the commit, but simulate a crashed index commit by
    // rewriting the data table directly (in its bucketed part — doc 1 at
    // 16 buckets lands in 16.1#web) and leaving the index stale
    val newText = "fresh content with no trace of that old passage text"
    val replaced = Seq((1L, "web", newText, 10L, 10L, 0L))
      .toDF("doc_id", "source", "text", "n_tokens_before",
        "n_tokens_after", "n_spans_removed")
      .withColumn("_graft_part", lit("16.1#web"))
    cat.overwritePartitions("c", replaced, "_graft_part",
      Seq("16.1#web"))
    // a 'wiki' batch duplicating the OLD (gone) passage: the stale gram
    // index still lists it under doc 1, but confirmation re-grams doc 1's
    // CURRENT text and finds nothing — the batch doc must pass through
    val b1 = Seq((9L, "wiki", s"aa bb $passage cc dd ee ff gg"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b1, 1L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1, buckets = 16)
    val nine = cat.readPartitionedOr("c", storedSchema).collect()
      .find(_.getLong(0) == 9L).get
    assert(nine.getString(2) == s"aa bb $passage cc dd ee ff gg")
    assert(nine.getLong(5) == 0L)
  }

  test("rebuildIndexes migrates a store committed without indexes") {
    import spark.implicits._
    val cat = fresh()
    // simulate a pre-index store: commit data directly through the
    // catalog (what an r14 writeDeduped left on disk — no __idx table)
    val legacy = Seq(
      (1L, "web", s"one two three $passage four five six seven", 13L, 13L,
        0L),
      (2L, "books", "totally unrelated filler words occupy this doc", 7L,
        7L, 0L))
      .toDF("doc_id", "source", "text", "n_tokens_before",
        "n_tokens_after", "n_spans_removed")
    cat.overwritePartitions("c", legacy, "source", Seq("web", "books"))
    val b = Seq((9L, "wiki", s"qq rr $passage ss tt uu vv"))
      .toDF("doc_id", "source", "text")
    // without indexes, a cross-source dup would sail through — ingest
    // into a committed-but-unindexed store must FAIL FAST pointing at
    // rebuildIndexes (r15 ADVICE: a silent empty probe would half-index
    // the store and skip legacy sources forever), and nothing commits
    val e = intercept[IllegalArgumentException] {
      CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text", "source",
        minWords = 5, winnowW = 1)
    }
    assert(e.getMessage.contains("rebuildIndexes"), e.getMessage)
    assert(cat.version("c") == 1L)
    // rebuild then ingest — the probe must now catch the dup
    CorpusStore.rebuildIndexes(cat, "c", "doc_id", "text", "source",
      minWords = 5, winnowW = 1)
    CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1)
    val nine = cat.readPartitionedOr("c", storedSchema).collect()
      .find(_.getLong(0) == 9L).get
    assert(nine.getString(2) == "qq rr ss tt uu vv", nine.toString)
    assert(nine.getLong(5) == 1L)
  }

  test("a commit with a different minWords than the index pin is refused") {
    import spark.implicits._
    val cat = fresh()
    CorpusStore.writeDeduped(cat, "c", docs, "doc_id", "text", "source",
      minWords = 5)
    val b = Seq((9L, "wiki", "some new words arriving later on here"))
      .toDF("doc_id", "source", "text")
    val e = intercept[IllegalArgumentException] {
      CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text", "source",
        minWords = 7)
    }
    assert(e.getMessage.contains("minWords"), e.getMessage)
    // nothing was committed by the refused batch
    assert(cat.version("c") == 1L)
    // rebuildIndexes IS the migration path: re-pin at 7, then the same
    // batch commits
    CorpusStore.rebuildIndexes(cat, "c", "doc_id", "text", "source",
      minWords = 7)
    assert(CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text",
      "source", minWords = 7) == 2L)
  }

  test("diffVersions classifies added/removed/changed/same per (id, source)") {
    import spark.implicits._
    val cat = fresh()
    val b0 = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "web", "a wholly different second document lives right here"),
      (3L, "books", "third doc in another partition stays untouched below"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b0, 0L, "doc_id", "text", "source",
      minWords = 5)
    // v2: doc 1 changed in place, doc 2 moved web→books, doc 3 untouched
    val b1 = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog yx1"),
      (2L, "books", "a wholly different second document lives right here"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b1, 1L, "doc_id", "text", "source",
      minWords = 5)
    val diff = CorpusStore.diffVersions(cat, "c", 1L, 2L, "doc_id",
      "source", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // web: doc 1 changed (9→10 tokens), doc 2 removed (moved away)
    assert(diff("web") == ((0L, 1L, 1L, 0L, 17L, 10L)), diff.toString)
    // books: doc 2 added (8 tokens), doc 3 same (8 tokens)
    assert(diff("books") == ((1L, 0L, 0L, 1L, 8L, 16L)), diff.toString)
  }

  test("ingestBatch: monotone versions, replay skipped, strip vs stored") {
    import spark.implicits._
    val cat = fresh()
    val b0 = Seq(
      (1L, "web", s"one two three $passage four five six seven"),
      (2L, "web", s"$passage aardvark badger wallaby dingo echidna ferret"))
      .toDF("doc_id", "source", "text")
    assert(CorpusStore.ingestBatch(cat, "c", b0, 0L, "doc_id", "text",
      "source", minWords = 5, winnowW = 1) == 1L)
    // a later batch re-duplicating the stored passage (same source — at
    // ingest stored docs are canonical store-wide, so the probe strips
    // it; winnowW = 1 pins the exact floor for this 6-word span)
    val b1 = Seq((3L, "web", s"zz yy $passage xx ww vv uu tt"))
      .toDF("doc_id", "source", "text")
    assert(CorpusStore.ingestBatch(cat, "c", b1, 1L, "doc_id", "text",
      "source", minWords = 5, winnowW = 1) == 2L)
    // at-least-once replay of the SAME batch id: skipped, version holds
    assert(CorpusStore.ingestBatch(cat, "c", b1, 1L, "doc_id", "text",
      "source", minWords = 5, winnowW = 1) == 2L)
    assert(cat.version("c") == 2L)
    val rows = cat.readPartitionedOr("c", storedSchema).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    assert(rows(1L) == s"one two three $passage four five six seven")
    assert(rows(3L) == "zz yy xx ww vv uu tt")
    // the stored corpus still satisfies the keep-one invariant
    val toks = SubstringDedup.tokenFrame(
      cat.readPartitionedOr("c", storedSchema), "doc_id", "text")
    assert(SubstringDedup.crossDocSpans(toks, "doc_id", minWords = 5)
      .isEmpty)
  }

  test("winnowed bucketed index: a shared span at the guarantee floor is " +
      "caught across buckets, and the layout is bucket#source") {
    import spark.implicits._
    val cat = fresh()
    // minWords = 5, winnowW = 3 → any shared span >= 5 + 3 - 1 = 7 words
    // is guaranteed caught; this one is 8 words and INTERNAL to the
    // stored doc (prefix + suffix differ), so detection rides the
    // winnowing theorem, not a window-boundary accident
    val span8 = "alpha beta gamma delta epsilon zeta eta theta"
    val stored = Seq(
      (1L, "web", s"one two $span8 three four"),
      (2L, "books", "totally unrelated filler words occupy this doc"))
      .toDF("doc_id", "source", "text")
    CorpusStore.writeDeduped(cat, "c", stored, "doc_id", "text", "source",
      minWords = 5, winnowW = 3, buckets = 4)
    // index partitions carry the <b>.<bucket>#source layout with bucket < b
    val (_, mf) = cat.snapshot("c__idx")
    val gramParts = mf.keys.filter(_.startsWith("grams/"))
      .map(_.stripPrefix("grams/")).toSeq
    assert(gramParts.nonEmpty)
    assert(gramParts.forall { p =>
      val i = p.indexOf('#')
      val bucket = p.take(i).stripPrefix("4.")
      i > 0 && p.startsWith("4.") && bucket.nonEmpty &&
        bucket.forall(_.isDigit) && bucket.toLong < 4L &&
        Set("web", "books").contains(p.drop(i + 1))
    }, gramParts.toString)
    // batch from a NEW source duplicating the stored internal span: only
    // the (winnowed, bucket-pruned) gram probe can catch it
    val b = Seq((9L, "wiki", s"qq rr $span8 ss tt"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text", "source",
      minWords = 5, winnowW = 3, buckets = 4)
    val nine = cat.readPartitionedOr("c", storedSchema).collect()
      .find(_.getLong(0) == 9L).get
    assert(nine.getString(2) == "qq rr ss tt", nine.toString)
    assert((nine.getLong(3), nine.getLong(4), nine.getLong(5)) ==
      ((12L, 4L, 1L)), nine.toString)
    // the stored canonical copy stays intact
    assert(cat.readPartitionedOr("c", storedSchema).collect()
      .find(_.getLong(0) == 1L).get.getString(2) ==
      s"one two $span8 three four")
  }

  test("a commit with a different winnowW or buckets than the pin is " +
      "refused") {
    import spark.implicits._
    val cat = fresh()
    CorpusStore.writeDeduped(cat, "c", docs, "doc_id", "text", "source",
      minWords = 5, winnowW = 1, buckets = 4)
    val b = Seq((9L, "wiki", "some new words arriving later on here"))
      .toDF("doc_id", "source", "text")
    val e1 = intercept[IllegalArgumentException] {
      CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text", "source",
        minWords = 5, winnowW = 3, buckets = 4)
    }
    assert(e1.getMessage.contains("winnowW"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text", "source",
        minWords = 5, winnowW = 1, buckets = 8)
    }
    assert(e2.getMessage.contains("buckets"), e2.getMessage)
    assert(cat.version("c") == 1L)
  }

  test("ingest is stored-canonical: a batch doc with a SMALLER id still " +
      "loses its duplicated span to the stored copy") {
    import spark.implicits._
    val cat = fresh()
    val b0 = Seq((5L, "web", s"one two three $passage four five six"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b0, 0L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1)
    // id 1 < stored id 5 — writeDeduped's min-id rule would keep the
    // batch copy; at ingest the stored doc committed first and is
    // canonical unconditionally
    val b1 = Seq((1L, "web", s"qq rr $passage ss tt uu"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b1, 1L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1)
    val rows = cat.readPartitionedOr("c", storedSchema).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows(5L) == s"one two three $passage four five six")
    assert(rows(1L) == "qq rr ss tt uu", rows.toString)
  }

  test("hash index: whole-document exact dups drop at ingest, even below " +
      "the gram floor; stale entries never wrongly drop") {
    import spark.implicits._
    val cat = fresh()
    val b0 = Seq(
      (1L, "web", "tiny doc"), // 2 tokens — BELOW minWords, no grams
      (2L, "web", s"one two three $passage four five six seven"))
      .toDF("doc_id", "source", "text")
    // explicit buckets = 16: the stale-entry rewrite below names
    // 16.1#web directly (see the confirmation test's geometry note)
    CorpusStore.ingestBatch(cat, "c", b0, 0L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1, buckets = 16)
    // a new-source batch: doc 9 exactly duplicates the SHORT stored doc
    // (normalized: case-insensitive), doc 10 exactly duplicates the long
    // one, doc 11 is fresh — the dups DROP (stored-wins), the fresh row
    // lands
    val b1 = Seq(
      (9L, "wiki", "TINY  doc"),
      (10L, "wiki", s"one two three $passage four five six seven"),
      (11L, "wiki", "completely fresh words never seen before"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b1, 1L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1, buckets = 16)
    val ids = cat.readPartitionedOr("c", storedSchema).collect()
      .map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 11L), ids.toString)
    // stale-entry guard: replace doc 1's text directly (stale hash entry
    // keeps naming the OLD text); a batch doc equal to the OLD text must
    // NOT be dropped — confirmation re-reads the current stored text
    val replacedRow = Seq((1L, "web", "now something else", 3L, 3L, 0L))
      .toDF("doc_id", "source", "text", "n_tokens_before",
        "n_tokens_after", "n_spans_removed")
      .withColumn("_graft_part", lit("16.1#web"))
    cat.overwritePartitions("c", replacedRow, "_graft_part",
      Seq("16.1#web"))
    val b2 = Seq((12L, "wiki", "tiny doc"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b2, 2L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1, buckets = 16)
    assert(cat.readPartitionedOr("c", storedSchema).collect()
      .exists(r => r.getLong(0) == 12L && r.getString(2) == "tiny doc"))
  }

  test("ingest rewrites only dirty buckets: untouched bucket partitions " +
      "keep their data versions") {
    import spark.implicits._
    val cat = fresh()
    // ids 1..8 at 4 buckets → every bucket of 'web' populated
    val b0 = (1L to 8L).map(i => (i, "web",
        s"document number $i has its own distinct words w${i}a w${i}b"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b0, 0L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1, buckets = 4)
    val before = cat.partitionManifest("c")
    // a one-doc batch into the same source: only bucket 1 (id 5 % 4) of
    // 'web' may move
    val b1 = Seq((5L, "web", "replacement text for doc five right here"))
      .toDF("doc_id", "source", "text")
    CorpusStore.ingestBatch(cat, "c", b1, 1L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1, buckets = 4)
    val after = cat.partitionManifest("c")
    assert(after("4.1#web") == before("4.1#web") + 1)
    (before.keySet - "4.1#web").foreach { p =>
      assert(after(p) == before(p), s"clean bucket $p was rewritten")
    }
    // and the replaced doc really was replaced
    val five = cat.readPartitionedOr("c", storedSchema).collect()
      .find(_.getLong(0) == 5L).get
    assert(five.getString(2) == "replacement text for doc five right here")
  }

  test("a pre-winnowing (r15) index layout is refused and rebuildIndexes " +
      "migrates it") {
    import spark.implicits._
    import graft.storage.GroupBatch
    val cat = fresh()
    val legacy = Seq(
      (1L, "web", s"one two three $passage four five six seven", 13L, 13L,
        0L))
      .toDF("doc_id", "source", "text", "n_tokens_before",
        "n_tokens_after", "n_spans_removed")
    cat.overwritePartitions("c", legacy, "source", Seq("web"))
    // an r15-era conf row: (min_words, p) only — no (w, b) pins
    val oldConf = Seq((5L, "0")).toDF("min_words", "p")
    cat.overwriteGroupIf("c__idx",
      Seq(GroupBatch("conf", oldConf, "p", Seq("0"))), -1L)
    val b = Seq((9L, "wiki", s"qq rr $passage ss tt uu vv"))
      .toDF("doc_id", "source", "text")
    val e = intercept[IllegalArgumentException] {
      CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text", "source",
        minWords = 5, winnowW = 1)
    }
    assert(e.getMessage.contains("rebuildIndexes"), e.getMessage)
    CorpusStore.rebuildIndexes(cat, "c", "doc_id", "text", "source",
      minWords = 5, winnowW = 1)
    CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1)
    val nine = cat.readPartitionedOr("c", storedSchema).collect()
      .find(_.getLong(0) == 9L).get
    assert(nine.getString(2) == "qq rr ss tt uu vv", nine.toString)
  }

  test("high-water mark: manifest-encoded, replays skipped, one key per " +
      "batch") {
    import spark.implicits._
    val cat = fresh()
    val b = Seq((1L, "web", "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "source", "text")
    // batch 8 commits; the mark lands IN the index-group manifest
    assert(CorpusStore.ingestBatch(cat, "c", b, 8L, "doc_id", "text",
      "source", minWords = 5) == 1L)
    val (_, imf) = cat.snapshot("c__idx")
    assert(imf.contains("state/8"), imf.keySet.toString)
    // replay of 8 skips: no new commit
    assert(CorpusStore.ingestBatch(cat, "c", b, 8L, "doc_id", "text",
      "source", minWords = 5) == 1L)
    // the next batch REPLACES the mark key (monotone single key)
    val b2 = Seq((2L, "web", "a wholly different second document here"))
      .toDF("doc_id", "source", "text")
    assert(CorpusStore.ingestBatch(cat, "c", b2, 9L, "doc_id", "text",
      "source", minWords = 5) == 2L)
    val keys = cat.snapshot("c__idx")._2.keySet
    assert(keys.contains("state/9") && !keys.contains("state/8"),
      keys.toString)
  }

  /** a catalog whose session targets `bytes` per bucket, so its store
    * outgrows its moduli within a few commits
    */
  private def tinyCatalog(bytes: Long): Catalog = {
    val tiny = spark.newSession()
    tiny.conf.set("spark.graft.store.baseBucketBytes", bytes.toString)
    new Catalog(tiny, Files.createTempDirectory("graft-corpus").toString,
      "t")
  }

  /** the moduli the labels `<m>.<i>#source` of table "c" carry: (data
    * table, index group across its grams/docs/hashes subs)
    */
  private def moduli(cat: Catalog): (Set[Int], Set[Int]) = {
    def ms(labels: Iterable[String]) =
      labels.map(_.takeWhile(_ != '.').toInt).toSet
    val idx = cat.snapshot("c__idx")._2.keys
      .filter(k => Seq("grams/", "docs/", "hashes/").exists(k.startsWith))
      .map(k => k.drop(k.indexOf('/') + 1))
    (ms(cat.partitionManifest("c").keys), ms(idx))
  }

  test("probeFootprint: a small batch names a strict subset of the grown " +
      "buckets") {
    val cat = tinyCatalog(1024)
    val tiny = cat.spark
    import tiny.implicits._
    val b0 = (1L to 16L).map(i => (i, "web",
        s"document number $i has its own distinct words w${i}a w${i}b"))
      .toDF("doc_id", "source", "text")
    // the first commit finds no bytes yet: both tables start at the floor
    CorpusStore.ingestBatch(cat, "c", b0, 0L, "doc_id", "text", "source",
      minWords = 5, winnowW = 1, buckets = 8)
    assert(moduli(cat) == ((Set(8), Set(8))))
    val one = Seq((99L, "wiki", "a tiny probe document with nine words"))
      .toDF("doc_id", "source", "text")
    def fp() = CorpusStore.probeFootprint(cat, "c", one, "doc_id", "text",
      "source", 5, 1, 8)
    val fp1 = fp()
    val (dn, db, dt, dbt) = fp1("docs")
    assert(dn == 1L && dt == 8L, fp1.toString) // 1 id → 1 of 8 buckets
    assert(db > 0L && db < dbt, fp1.toString)
    val (hn, _, ht, _) = fp1("hashes")
    assert(hn == 1L && ht == 8L, fp1.toString) // 1 text hash
    val (gn, _, gt, _) = fp1("grams")
    // a 9-token doc has ≤5 5-gram positions → at most 5 of 8 buckets
    assert(gn <= 5L && gn < gt, fp1.toString)
    // the next commit finds both tables past 8 buckets of 1 KiB: each
    // grows, and every bucket is rewritten at the larger modulus
    CorpusStore.ingestBatch(cat, "c",
      Seq((17L, "web", "one more document with its own distinct words"))
        .toDF("doc_id", "source", "text"),
      1L, "doc_id", "text", "source", minWords = 5, winnowW = 1, buckets = 8)
    val (dms, ims) = moduli(cat)
    assert(dms.size == 1 && dms.head > 8 && ims.size == 1 && ims.head > 8,
      (dms, ims).toString)
    // the totals grow with the modulus while the batch still names one
    // bucket per key
    val fp2 = fp()
    val (dn2, _, dt2, _) = fp2("docs")
    assert(dn2 <= 1L && dt2 > 8L, fp2.toString)
    val (hn2, _, ht2, _) = fp2("hashes")
    assert(hn2 <= 1L && ht2 > 8L, fp2.toString)
    val (gn2, _, gt2, _) = fp2("grams")
    assert(gn2 <= 5L && gn2 < gt2, fp2.toString)
  }

  test("both moduli grow with the store's bytes; contents match the " +
      "default layout") {
    // the same commits go to a store at a tiny bucket target and one at
    // the default target (one bucket throughout): the stored rows and a
    // snapshot diff must agree
    val grown = tinyCatalog(8192)
    val plain = fresh()
    val rnd = new scala.util.Random(11)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(5000)).mkString(" ")
    val stored = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    // batch i: 12 new docs over 3 sources, then (from the second batch)
    // a doc repeating a stored doc's passage, a normalized exact dup of
    // a stored doc, and a stored doc re-ingested under another source
    def batch(i: Int): Seq[(Long, String, String)] = {
      val news = (0 until 12).map(j =>
        ((i * 100 + j).toLong, s"s${j % 3}", words(30)))
      val extra = if (stored.isEmpty) Nil else {
        def pick() = stored(rnd.nextInt(stored.size))
        val (_, _, t1) = pick()
        val (_, _, t2) = pick()
        val (id3, src3, _) = pick()
        Seq(((i * 100 + 50).toLong, "s1",
            s"zz ${t1.split(' ').slice(5, 15).mkString(" ")} yy"),
          ((i * 100 + 51).toLong, "s2", t2.toUpperCase),
          (id3, if (src3 == "s0") "s1" else "s0", words(30)))
      }
      stored ++= news
      news ++ extra
    }
    def frame(cat: Catalog, rows: Seq[(Long, String, String)]) = {
      val session = cat.spark
      import session.implicits._
      rows.toDF("doc_id", "source", "text")
    }
    val dataSeen = scala.collection.mutable.ArrayBuffer(1)
    val idxSeen = scala.collection.mutable.ArrayBuffer(1)
    def commit(rows: Seq[(Long, String, String)],
        write: (Catalog, org.apache.spark.sql.DataFrame) => Long): Unit = {
      Seq(grown, plain).foreach(c => write(c, frame(c, rows)))
      val (dms, ims) = moduli(grown)
      assert(dms.size == 1 && ims.size == 1,
        s"each manifest carries only one modulus's labels: $dms, $ims")
      if (dms.head != dataSeen.last) dataSeen += dms.head
      if (ims.head != idxSeen.last) idxSeen += ims.head
      assert(moduli(plain) == ((Set(1), Set(1))))
    }
    commit(batch(0), (c, df) => CorpusStore.writeDeduped(c, "c", df,
      "doc_id", "text", "source", minWords = 5, winnowW = 1, buckets = 1))
    var i = 0
    def step(): Unit = {
      i += 1
      // every third commit re-stores one new source in full (the
      // writeDeduped path, which leaves the other sources' rows as they
      // are unless it grows the modulus)
      if (i % 3 == 0)
        commit(batch(i).take(12).map(r => (r._1, s"full$i", r._3)), (c, df) =>
          CorpusStore.writeDeduped(c, "c", df, "doc_id", "text", "source",
            minWords = 5, winnowW = 1, buckets = 1))
      else
        commit(batch(i), (c, df) => CorpusStore.ingestBatch(c, "c", df, i,
          "doc_id", "text", "source", minWords = 5, winnowW = 1,
          buckets = 1))
    }
    while ((dataSeen.last < 4 || idxSeen.last < 4) && i < 12) step()
    assert(dataSeen.last >= 4 && idxSeen.last >= 4,
      s"both moduli doubled at least twice: $dataSeen, $idxSeen")
    step() // one more commit on the grown layout
    Seq(dataSeen, idxSeen).foreach { seen =>
      assert(seen.toSeq.sliding(2).forall(w => w(1) > w(0) && w(1) % w(0) == 0),
        s"a modulus only grows, by powers of two: $seen")
    }
    def rows(c: Catalog) = c.readPartitionedOr("c", storedSchema).collect()
      .map(_.toSeq).toSet
    assert(rows(grown).size > 40 && rows(grown) == rows(plain),
      s"$i commits, moduli $dataSeen, $idxSeen")
    val v = grown.version("c")
    assert(plain.version("c") == v)
    def diff(c: Catalog) = CorpusStore.diffVersions(c, "c", v - 1, v,
      "doc_id", "source", "text").collect().map(_.toSeq).toSet
    assert(diff(grown) == diff(plain))
    // the grown store still prunes: a one-doc batch names one bucket of
    // each index sub and at most one data partition
    val fp = CorpusStore.probeFootprint(grown, "c",
      frame(grown, Seq((9999L, "s0", words(30)))), "doc_id", "text",
      "source", 5, 1, 1)
    fp.foreach { case (space, (named, _, total, _)) =>
      assert(named < total && total > 1L, s"$space: $fp")
    }
  }

  test("ingestBatch drops null-id/source rows instead of wedging the " +
      "replay loop") {
    import spark.implicits._
    val cat = fresh()
    val b = Seq(
      (java.lang.Long.valueOf(1L), "web",
        "the quick brown fox jumps over the lazy dog"),
      (null.asInstanceOf[java.lang.Long], "web", "null id row"),
      (java.lang.Long.valueOf(2L), null.asInstanceOf[String],
        "null source row"))
      .toDF("doc_id", "source", "text")
    assert(CorpusStore.ingestBatch(cat, "c", b, 0L, "doc_id", "text",
      "source", minWords = 5) == 1L)
    val rows = cat.readPartitionedOr("c", storedSchema).collect()
      .map(_.getLong(0)).toSet
    assert(rows == Set(1L), rows.toString)
    // an all-malformed batch is a visible no-op, not a crash
    val bad = Seq((null.asInstanceOf[java.lang.Long], "web", "x"))
      .toDF("doc_id", "source", "text")
    assert(CorpusStore.ingestBatch(cat, "c", bad, 1L, "doc_id", "text",
      "source", minWords = 5) == 1L)
  }
}
