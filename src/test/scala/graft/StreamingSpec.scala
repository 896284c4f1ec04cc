package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.{KeyedLatest, RecordEvent}

/** Structured Streaming tests: file-source micro-batches, watermarked window
  * aggregation, and stateful latest-version MERGE.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(
    StructField("localId", StringType), StructField("sourceId", StringType),
    StructField("sourceVersion", IntegerType),
    StructField("delete", BooleanType), StructField("ts", TimestampType)))

  test("file stream + watermarked window aggregation") {
    val dir = Files.createTempDirectory("graft-stream").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/batch1.json"),
      """{"localId":"a","sourceId":"S1","sourceVersion":1,"delete":false,"ts":"2024-01-01T10:05:00.000Z"}
        |{"localId":"b","sourceId":"S1","sourceVersion":1,"delete":true,"ts":"2024-01-01T10:20:00.000Z"}
        |{"localId":"c","sourceId":"S2","sourceVersion":1,"delete":false,"ts":"2024-01-01T11:10:00.000Z"}"""
        .stripMargin)
    val stream = StreamingIngest.recordStream(spark, dir, schema)
    assert(stream.isStreaming)
    val agg = StreamingIngest.windowedIngestStats(stream, "ts")
    StreamingIngest.runToMemory(agg, "ingest_stats", OutputMode.Append())
    // append mode holds back open windows until the watermark passes; feed a
    // late-enough second file to close the first windows
    Files.writeString(java.nio.file.Paths.get(s"$dir/batch2.json"),
      """{"localId":"d","sourceId":"S1","sourceVersion":1,"delete":false,"ts":"2024-01-01T13:00:00.000Z"}""")
    StreamingIngest.runToMemory(agg, "ingest_stats2", OutputMode.Append())
    val rows = spark.table("ingest_stats2").collect()
    val s1 = rows.find(r => r.getString(2) == "S1"
      && r.getTimestamp(0) == Timestamp.valueOf("2024-01-01 10:00:00"))
    assert(s1.isDefined)
    assert(s1.get.getLong(3) == 2 && s1.get.getLong(4) == 1,
      "2 processed, 1 delete in the 10:00 window for S1")
  }

  test("streaming exact dedup flags only the first arrival per content") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[StreamingIngest.DocEvent](spark)
    val out = StreamingIngest.streamingExactDedup(input.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(StreamingIngest.DocEvent(1, "same text"),
        StreamingIngest.DocEvent(2, "same text"),
        StreamingIngest.DocEvent(3, "other"))
      q.processAllAvailable()
      // a later micro-batch re-sends the same content → duplicate
      input.addData(StreamingIngest.DocEvent(9, "same text"))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").as[StreamingIngest.DedupedDoc]
        .collect().sortBy(_.docId)
      assert(rows.map(r => r.docId -> r.firstSeen).toSeq ==
        Seq(1L -> true, 2L -> false, 3L -> true, 9L -> false))
    } finally q.stop()
  }

  test("streaming dup weights: running 1/n weights across micro-batches, " +
      "normalized grouping") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[StreamingIngest.DocEvent](spark)
    val q = StreamingIngest.streamingDupWeights(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("dupw_out").start()
    try {
      input.addData(StreamingIngest.DocEvent(1, "Same Text"),
        StreamingIngest.DocEvent(2, "same   text"), // normalized-equal
        StreamingIngest.DocEvent(3, "other"))
      q.processAllAvailable()
      // the counter survives the batch boundary: the third copy weighs 1/3
      input.addData(StreamingIngest.DocEvent(9, "same text!"))
      q.processAllAvailable()
      val rows = spark.table("dupw_out").as[StreamingIngest.DupWeight]
        .collect().sortBy(_.docId)
        .map(r => (r.docId, r.nCopies, r.weightMilli)).toSeq
      assert(rows == Seq((1L, 1L, 1000L), (2L, 2L, 500L),
        (3L, 1L, 1000L), (9L, 3L, 333L)), rows.toString)
    } finally q.stop()
  }

  test("streaming normalized dedup agrees with the batch normalized key") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Seq(
      StreamingIngest.DocEvent(1, "Hello, World!"),
      StreamingIngest.DocEvent(2, "hello   world"),   // normalized dup of 1
      StreamingIngest.DocEvent(3, "HELLO WORLD."),    // normalized dup of 1
      StreamingIngest.DocEvent(4, "something else"),
      StreamingIngest.DocEvent(5, "Something ELSE?")) // normalized dup of 4
    val input = MemoryStream[StreamingIngest.DocEvent](spark)
    val out = StreamingIngest.streamingExactDedup(input.toDS(),
      normalized = true)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("norm_dedup_out").start()
    try {
      input.addData(docs.take(3): _*)
      q.processAllAvailable()
      input.addData(docs.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("norm_dedup_out")
        .as[StreamingIngest.DedupedDoc]
        .collect().map(r => r.docId -> r.firstSeen).toMap
      // batch truth: first-seen = the batch canonical document (min
      // doc_id per NORMALIZED content hash; all ids here arrive in id
      // order, so stream ownership matches)
      val batchFirst = graft.dedup.Normalize.canonicalDocs(
          docs.toDF("docId", "text"), "docId", "text", Nil)
        .as[Long].collect().toSet
      assert(got == docs.map(d => d.docId -> batchFirst(d.docId)).toMap)
      assert(got == Map(1L -> true, 2L -> false, 3L -> false,
        4L -> true, 5L -> false))
    } finally q.stop()
  }

  test("Normalize.normalizeTextJvm ≡ the normalizeText column") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = "aAzZ09 .,;!?\t\n\r\f-_/äÖ\"'"
    val samples = (1 to 200).map { _ =>
      (1 to rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString
    } ++ Seq("", "   ", "...", "A.B", " x ", "\t\n")
    val viaColumn = samples.toDF("t")
      .select(graft.dedup.Normalize.normalizeText(col("t")))
      .as[String].collect().toSeq
    val viaJvm = samples.map(normalizeTextJvm)
    assert(viaColumn == viaJvm)
  }

  /** JVM reference of the `Normalize.normalizeText` column: the same ASCII
    * casefold, Java-regex replaces for Spark's `regexp_replace` runs, and a
    * space-only trim (after the collapse the edges hold at most single
    * spaces, so this equals Spark's `trim`).
    */
  private def normalizeTextJvm(s: String): String =
    if (s == null) null
    else s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      .replaceAll("[^a-z0-9 \\t\\n\\r\\f]+", " ")
      .replaceAll("[ \\t\\n\\r\\f]+", " ")
      .stripPrefix(" ").stripSuffix(" ")

  test("a null text keeps a dedup stream running: null-text docs form one " +
      "group, as batch md5(null) does") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, text: String) = StreamingIngest.DocEvent(id, text)
    Seq(false, true).foreach { normalized =>
      val input = MemoryStream[StreamingIngest.DocEvent](spark)
      val name = s"null_dedup_out_$normalized"
      val q = StreamingIngest.streamingExactDedup(input.toDS(), normalized)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        input.addData(ev(3, null), ev(1, "a b"), ev(2, null))
        q.processAllAvailable()
        input.addData(ev(4, null), ev(5, "a b"))
        q.processAllAvailable()
        val got = spark.table(name).as[StreamingIngest.DedupedDoc]
          .collect().map(r => r.docId -> r.firstSeen).sortBy(_._1).toSeq
        assert(got == Seq(1L -> true, 2L -> true, 3L -> false,
          4L -> false, 5L -> false), s"normalized=$normalized: $got")
      } finally q.stop()
    }
    val input = MemoryStream[StreamingIngest.DocEvent](spark)
    val q = StreamingIngest.streamingDupWeights(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("null_dupw_out").start()
    try {
      input.addData(ev(2, null), ev(1, null), ev(3, "x"))
      q.processAllAvailable()
      val got = spark.table("null_dupw_out").as[StreamingIngest.DupWeight]
        .collect().sortBy(_.docId).map(r => (r.docId, r.nCopies)).toSeq
      assert(got == Seq((1L, 1L), (2L, 2L), (3L, 1L)), got.toString)
    } finally q.stop()
  }

  test("streaming passage dedup: cross-batch and cross-doc passage ownership") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[StreamingIngest.DocEvent](spark)
    val out = StreamingIngest.streamingPassageDedup(input.toDS(), passageWords = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("passage_out").start()
    try {
      // doc 1 owns "a b c" and "d e f"; doc 2 repeats "a b c" in-batch
      input.addData(StreamingIngest.DocEvent(1, "a b c d e f"),
        StreamingIngest.DocEvent(2, "a b c x y z"))
      q.processAllAvailable()
      // later batch: doc 3 repeats both of its passages -> nothing kept
      input.addData(StreamingIngest.DocEvent(3, "x y z a b c"))
      q.processAllAvailable()
      val rows = spark.table("passage_out")
        .as[StreamingIngest.PassageVerdict]
        .collect().map(v => (v.docId, v.idx) -> v.kept).toMap
      assert(rows == Map((1L, 0) -> true, (1L, 1) -> true,
        (2L, 0) -> false, (2L, 1) -> true,
        (3L, 0) -> false, (3L, 1) -> false))
    } finally q.stop()
  }

  test("streaming sessionization continues sessions across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{SessionAssign, UserEvent}
    def ev(id: Long, sec: Long) =
      UserEvent(1L, id, new Timestamp(1700000000000L + sec * 1000))
    val input = MemoryStream[UserEvent](spark)
    val out = StreamingIngest.streamingSessionize(input.toDS(), gapSeconds = 1800)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      // batch 1: two close events, then a >30min gap
      input.addData(ev(1, 0), ev(2, 100), ev(3, 2000))
      q.processAllAvailable()
      // batch 2: continues session 2, then a fresh gap opens session 3
      input.addData(ev(4, 2100), ev(5, 4500))
      q.processAllAvailable()
      val rows = spark.table("sessions_out").as[SessionAssign]
        .collect().sortBy(_.eventId)
      assert(rows.map(r => r.eventId -> r.sessionId).toSeq ==
        Seq(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 3L),
        "gap-based sessions must survive the micro-batch boundary")
    } finally q.stop()
  }

  test("streaming funnel emits each stage once, across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{FunnelHit, TypedUserEvent}
    def ev(u: Long, id: Long, sec: Long, et: String) =
      TypedUserEvent(u, id, new Timestamp(1700000000000L + sec * 1000), et)
    val input = MemoryStream[TypedUserEvent](spark)
    val out = StreamingIngest.streamingFunnel(input.toDS(),
      Seq("view", "click", "purchase"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    try {
      // batch 1: user 1 views; an early click (before any view) must not land
      input.addData(ev(2, 1, 0, "click"), ev(1, 2, 5, "view"),
        ev(1, 3, 10, "click"))
      q.processAllAvailable()
      // batch 2: user 1 purchases (stage 3 lands cross-batch); a second
      // view/click must NOT re-emit stages; user 2's view then click land
      input.addData(ev(1, 4, 20, "purchase"), ev(1, 5, 30, "view"),
        ev(1, 6, 40, "click"), ev(2, 7, 50, "view"), ev(2, 8, 60, "click"))
      q.processAllAvailable()
      val rows = spark.table("funnel_out").as[FunnelHit].collect()
        .map(h => (h.userId, h.stage, h.ts.getTime / 1000 - 1700000000L))
        .sortBy(r => (r._1, r._2))
      assert(rows.toSeq == Seq((1L, 1, 5L), (1L, 2, 10L), (1L, 3, 20L),
        (2L, 1, 50L), (2L, 2, 60L)),
        "each (user, stage) must emit exactly once, in batch semantics")
    } finally q.stop()
  }

  test("streaming LSH near-dup finds cross-batch pairs, O(bucket) per doc") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{CandidatePair, DocEvent}
    val near1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val other = "one two three four five six seven eight nine ten"
    val input = MemoryStream[DocEvent](spark)
    val out = StreamingIngest.streamingNearDupLsh(input.toDS(), threshold = 0.5)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("lsh_out").start()
    try {
      input.addData(DocEvent(1, near1), DocEvent(2, near2), DocEvent(3, other))
      q.processAllAvailable()
      val firstPairs = spark.table("lsh_out").as[CandidatePair].collect()
        .map(p => (p.id1, p.id2)).toSet
      assert(firstPairs == Set((1L, 2L)), firstPairs.toString)
      // a later micro-batch matches against state, not just its own batch
      input.addData(DocEvent(9, near1))
      q.processAllAvailable()
      val all = spark.table("lsh_out").as[CandidatePair].collect()
      val pairs = all.map(p => (p.id1, p.id2)).toSet
      assert(pairs == Set((1L, 2L), (1L, 9L), (2L, 9L)), pairs.toString)
      assert(all.forall(_.estJaccard >= 0.5))
      // the exact-duplicate pair (1,9) agrees on every minhash position
      assert(all.filter(p => (p.id1, p.id2) == ((1L, 9L)))
        .forall(_.estJaccard == 1.0))
    } finally q.stop()
  }

  test("streaming and batch LSH agree on candidates: one uncapped micro-batch " +
      "at threshold 0 pairs exactly the batch kernel's candidate pairs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.dedup.Dedup
    import graft.streaming.StreamingIngest.{CandidatePair, DocEvent}
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta")
    val rnd = new scala.util.Random(7)
    // near-copies of a few stems, so buckets collide without being identical
    val docs = (1L to 40L).map { id =>
      val stem = words.drop((id % 3).toInt) ++ words.take((id % 3).toInt)
      val text = stem.map(w => if (rnd.nextInt(4) == 0) w + rnd.nextInt(3) else w)
      DocEvent(id, text.mkString(" "))
    } :+ DocEvent(41L, "too short") :+ DocEvent(42L, "")
    val input = MemoryStream[DocEvent](spark)
    val out = StreamingIngest.streamingNearDupLsh(input.toDS(),
      threshold = 0.0, maxBucketSize = Int.MaxValue)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("lsh_twin_out").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("lsh_twin_out").as[CandidatePair].collect()
        .map(p => (p.id1, p.id2)).toSet
      val banded = Dedup.bandKeys(
        Dedup.docShingles(docs.toDF(), "docId", "text", 3), 16, 4)
      val batch = Dedup.candidatePairs(banded).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty && batch.size < 40 * 39 / 2, batch.size.toString)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming LSH member TTL evicts stale bucket members (windowed mode)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{CandidatePair, DocEvent}
    val near1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val input = MemoryStream[DocEvent](spark)
    StreamingSpec.clockNow = 1000L
    val out = StreamingIngest.streamingNearDupLsh(input.toDS(),
      threshold = 0.5, memberTtlMs = 1000L,
      clock = Some(() => StreamingSpec.clockNow))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("lsh_ttl_out").start()
    try {
      input.addData(DocEvent(1, near1))
      q.processAllAvailable()
      StreamingSpec.clockNow = 1500L // within TTL of doc 1
      input.addData(DocEvent(2, near1))
      q.processAllAvailable()
      StreamingSpec.clockNow = 5000L // both members now stale
      input.addData(DocEvent(9, near1))
      q.processAllAvailable()
      val pairs = spark.table("lsh_ttl_out").as[CandidatePair].collect()
        .map(p => (p.id1, p.id2)).toSet
      assert(pairs == Set((1L, 2L)),
        s"only the in-window pair survives the TTL: $pairs")
    } finally q.stop()
  }

  test("transformWithState LSH TTL: native per-member eviction, real timeouts") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{CandidatePair, DocEvent}
    val near1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // With TTL enabled the query keeps scheduling state-cleanup
    // micro-batches ("no new data but cleaning up state"), so neither
    // processAllAvailable() nor Trigger.AvailableNow() ever quiesces — the
    // probed wedge (same family as NOTES' GroupStateTimeout one). The
    // data DOES flow, so the test observes progress metrics instead:
    // cumulative numInputRows by batchId, then polls the sink.
    def waitInputs(q: org.apache.spark.sql.streaming.StreamingQuery,
        atLeast: Long): Unit = {
      val seen = scala.collection.mutable.Map[Long, Long]()
      val deadline = System.currentTimeMillis() + 90000
      while (System.currentTimeMillis() < deadline) {
        q.recentProgress.foreach(p => seen(p.batchId) = p.numInputRows)
        if (seen.values.sum >= atLeast) return
        Thread.sleep(100)
      }
      fail(s"only ${seen.values.sum} of $atLeast input rows processed")
    }
    def pairsOf(qn: String): Set[(Long, Long)] =
      spark.table(qn).as[CandidatePair].collect().map(p => (p.id1, p.id2)).toSet
    try {
      // long TTL: the cross-batch pair IS found (state survived the batches)
      val inLong = MemoryStream[DocEvent](spark)
      val qLong = StreamingIngest.streamingNearDupLshTtl(inLong.toDS(),
          java.time.Duration.ofHours(1), threshold = 0.5)
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_long").start()
      try {
        inLong.addData(DocEvent(1, near1))
        waitInputs(qLong, 1)
        inLong.addData(DocEvent(2, near1))
        val deadline = System.currentTimeMillis() + 90000
        while (pairsOf("tws_long").isEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(pairsOf("tws_long") == Set((1L, 2L)), pairsOf("tws_long").toString)
      } finally qLong.stop()
      // short TTL: the store itself expired the member during a real delay
      val inShort = MemoryStream[DocEvent](spark)
      val qShort = StreamingIngest.streamingNearDupLshTtl(inShort.toDS(),
          java.time.Duration.ofMillis(500), threshold = 0.5)
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_short").start()
      try {
        inShort.addData(DocEvent(1, near1))
        waitInputs(qShort, 1)
        Thread.sleep(1500) // comfortably past the TTL
        inShort.addData(DocEvent(2, near1))
        waitInputs(qShort, 2)
        Thread.sleep(1000) // allow any (wrong) late emission to surface
        assert(pairsOf("tws_short").isEmpty,
          s"expired member still matched: ${pairsOf("tws_short")}")
      } finally qShort.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("event-time session windows close on watermark passage, no arrival needed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{ClosedSession, UserEvent}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[UserEvent](spark)
    val q = StreamingIngest.streamingSessionWindowsEventTime(input.toDS(),
        gapSeconds = 10, watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("session_windows").start()
    def sessions() = spark.table("session_windows").as[ClosedSession].collect()
      .map(s => (s.userId, s.startTs.getTime, s.endTs.getTime, s.events)).toSet
    try {
      // user 1: two events 2s apart; user 2: one event — all sessions open
      input.addData(UserEvent(1, 1, new Timestamp(1000)),
        UserEvent(1, 2, new Timestamp(3000)), UserEvent(2, 3, new Timestamp(5000)))
      q.processAllAvailable()
      assert(sessions().isEmpty, "nothing closes before the watermark moves")
      // a user-2 event at t=20s pushes the watermark past both pending
      // deadlines: user 1's session closes with NO further user-1 arrival
      // (the capability the NoTimeout sessionizer lacks), and user 2's
      // first session closes by the same timer sweep
      input.addData(UserEvent(2, 4, new Timestamp(20000)))
      q.processAllAvailable()
      assert(sessions() == Set((1L, 1000L, 3000L, 2L), (2L, 5000L, 5000L, 1L)),
        sessions().toString)
      // a user-3 event far ahead closes user 2's second session by timer
      input.addData(UserEvent(3, 5, new Timestamp(60000)))
      q.processAllAvailable()
      assert(sessions().contains((2L, 20000L, 20000L, 1L)), sessions().toString)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("a late-but-admissible event bridges two pending sessions into one") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{ClosedSession, UserEvent}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[UserEvent](spark)
    // gap 10s, watermark delay 30s: out-of-order events up to 30s late are
    // admissible and may bridge sessions the naive design would have closed
    val q = StreamingIngest.streamingSessionWindowsEventTime(input.toDS(),
        gapSeconds = 10, watermarkDelay = "30 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("session_bridge").start()
    try {
      input.addData(UserEvent(4, 1, new Timestamp(100000)))
      q.processAllAvailable()
      // 15s ahead (> gap): a SECOND pending session — the first must stay
      // open, not close in-stream
      input.addData(UserEvent(4, 2, new Timestamp(115000)))
      q.processAllAvailable()
      // 7s after the first and 8s before the second, and still >= the
      // watermark (85s): bridges both pending sessions into one
      input.addData(UserEvent(4, 3, new Timestamp(107000)))
      q.processAllAvailable()
      // another key pushes the watermark past the merged deadline (125s)
      input.addData(UserEvent(9, 4, new Timestamp(160000)))
      q.processAllAvailable()
      val got = spark.table("session_bridge").as[ClosedSession].collect()
        .filter(_.userId == 4L)
        .map(s => (s.startTs.getTime, s.endTs.getTime, s.events)).toSet
      assert(got == Set((100000L, 115000L, 3L)),
        s"expected ONE bridged session, got $got")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming LOCF emits observed slots and carries values across gaps") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{FilledSlot, ValueEvent}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[ValueEvent](spark)
    val q = StreamingIngest.streamingLocf(input.toDS(), stepSeconds = 10,
        watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("locf_grid").start()
    def slots() = spark.table("locf_grid").as[FilledSlot].collect()
      .map(s => (s.userId, s.slotStart.getTime, s.valueCents, s.filled)).toSet
    try {
      // key 1 observes slots 0 and 2 (slot 1 is a gap); in-slot tie at
      // t=1000 resolves to the max value, later t=2000 overrides both
      // batch 1 advances the watermark to 25s; the trailing timer batch
      // closes slot 0 (end 10s) but not slot 2 (end 30s)
      input.addData(ValueEvent(1, new Timestamp(1000), 100),
        ValueEvent(1, new Timestamp(1000), 90),
        ValueEvent(1, new Timestamp(2000), 110),
        ValueEvent(1, new Timestamp(25000), 300))
      q.processAllAvailable()
      assert(slots() == Set((1L, 0L, 110L, false)), slots().toString)
      // key 2 at t=60s pushes the watermark past slot 2's end: the gap
      // slot 1 fills with the carried 110, slot 2 emits its own 300
      input.addData(ValueEvent(2, new Timestamp(60000), 500))
      q.processAllAvailable()
      assert(slots() == Set((1L, 0L, 110L, false), (1L, 10000L, 110L, true),
        (1L, 20000L, 300L, false)), slots().toString)
      // key 3 far ahead closes key 2's slot 6 with no key-2 arrival
      input.addData(ValueEvent(3, new Timestamp(100000), 7))
      q.processAllAvailable()
      assert(slots().contains((2L, 60000L, 500L, false)), slots().toString)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("a capped never-idle key seals and emits bounded sessions") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{ClosedSession, UserEvent}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[UserEvent](spark)
    // gap 10s, cap 15s: a key firing every 5s forever would otherwise hold
    // ONE ever-growing session that never emits
    val q = StreamingIngest.streamingSessionWindowsEventTime(input.toDS(),
        gapSeconds = 10, watermarkDelay = "0 seconds",
        maxSessionDurationSeconds = Some(15))
      .writeStream.outputMode("append").format("memory")
      .queryName("session_capped").start()
    try {
      var id = 0
      def ev(tsSec: Long): UserEvent = {
        id += 1; UserEvent(7, id, new Timestamp(tsSec * 1000))
      }
      // start at 5s: an event at the initial 0 watermark would be dropped
      input.addData((5L to 35L by 5).map(ev): _*)
      q.processAllAvailable()
      input.addData((40L to 65L by 5).map(ev): _*)
      q.processAllAvailable()
      // another key pushes the watermark far past every pending deadline
      input.addData(UserEvent(9, 99, new Timestamp(100000)))
      q.processAllAvailable()
      val got = spark.table("session_capped").as[ClosedSession].collect()
        .filter(_.userId == 7L)
        .map(s => (s.startTs.getTime, s.endTs.getTime, s.events)).toSet
      // the 13-event run splits into cap-bounded sessions: each seals at
      // 15s span, its successor opens alongside, and every span emits via
      // the normal watermark close — exact bounds, partitioned counts
      assert(got == Set((5000L, 20000L, 4L), (25000L, 40000L, 4L),
        (45000L, 60000L, 4L), (65000L, 65000L, 1L)), got.toString)
      // no session row ever exceeds the cap
      got.foreach { case (s, e, _) => assert(e - s <= 15000L) }
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming decontamination drops benchmark-overlapping docs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.DocEvent
    val bench = Seq("held out eval question one", "held out eval question two")
      .toDF("text")
    val input = MemoryStream[DocEvent](spark)
    val out = StreamingIngest.streamingDecontaminate(input.toDS(), bench, "text")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("decon_out").start()
    try {
      input.addData(
        DocEvent(1, "contains held out eval inside it"), // shares a 3-gram
        DocEvent(2, "completely unrelated clean content"))
      q.processAllAvailable()
      input.addData(DocEvent(3, "another eval question one leak"), // overlaps
        DocEvent(4, "also clean and fine"))
      q.processAllAvailable()
      val kept = spark.table("decon_out").as[DocEvent]
        .collect().map(_.docId).sorted.toSeq
      assert(kept == Seq(2L, 4L), kept.toString)
    } finally q.stop()
  }

  test("firstOccurrenceOnly collapses repeated pair emissions") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.CandidatePair
    val input = MemoryStream[CandidatePair](spark)
    val out = StreamingIngest.firstOccurrenceOnly(input.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("pairs_once").start()
    try {
      input.addData(CandidatePair(1, 2, 0.9), CandidatePair(1, 2, 0.9),
        CandidatePair(3, 4, 0.8))
      q.processAllAvailable()
      input.addData(CandidatePair(1, 2, 0.9)) // re-emitted in a later batch
      q.processAllAvailable()
      val rows = spark.table("pairs_once").as[CandidatePair].collect()
        .map(p => (p.id1, p.id2)).sorted.toSeq
      assert(rows == Seq((1L, 2L), (3L, 4L)))
    } finally q.stop()
  }

  test("streaming records flow into the Reservoir and cluster across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.api.{MatchKeyConfig, Reservoir}
    val dir = Files.createTempDirectory("graft-stream-res").toString
    val r = new Reservoir(spark, dir, "t1")
    r.putMatchKeyConfig(MatchKeyConfig("issn", "jsonpath:$.inventory.issn[*]"))
    def payload(localId: String, issn: String) =
      s"""{"marc":{"leader":"x","fields":[{"001":"$localId"}]},"inventory":{"issn":["$issn"]}}"""
    val input = MemoryStream[(String, String, Int, String, Boolean)](spark)
    val stream = input.toDS()
      .toDF("localId", "sourceId", "sourceVersion", "payloadJson", "delete")
    val q = StreamingIngest.streamIntoReservoir(stream, r)
    try {
      input.addData(("A", "S1", 1, payload("A", "01"), false),
        ("B", "S1", 1, payload("B", "02"), false))
      q.processAllAvailable()
      assert(r.records(null).count() == 2)
      assert(r.clusters("issn").count() == 2, "disjoint issns → two clusters")
      // a later micro-batch bridges the two clusters via a shared issn
      input.addData(("C", "S1", 1,
        s"""{"marc":{"leader":"x","fields":[{"001":"C"}]},"inventory":{"issn":["01","02"]}}""",
        false))
      q.processAllAvailable()
      assert(r.records(null).count() == 3)
      val docs = r.clusters("issn").collect()
      assert(docs.length == 1, s"merge leaves one live cluster, got ${docs.length}")
      val localIds = docs(0).getSeq[org.apache.spark.sql.Row](
        docs(0).fieldIndex("records")).map(_.getString(2)).toSet
      assert(localIds == Set("A", "B", "C"),
        s"the merged cluster holds all three records: $localIds")
    } finally q.stop()
  }

  test("streaming SPRT: decidedRetention evicts the tombstone, a fresh " +
      "epoch starts after the horizon") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{SprtDay, TypedUserEvent}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[TypedUserEvent](spark)
    val dayMs = 86400000L
    def ev(id: Long, day: Long, k: Long) =
      TypedUserEvent(1L, id, new Timestamp(day * dayMs + k), "a")
    val q = StreamingIngest.streamingSprtDaily(input.toDS(),
        lam0Micro = 2000000L, watermarkDelay = "0 seconds",
        decidedRetention = Some(java.time.Duration.ofDays(1)))
      .writeStream.outputMode("append").format("memory")
      .queryName("sprt_ret").start()
    def rows() = spark.table("sprt_ret").as[SprtDay].collect()
      .map(r => (r.dayEpoch, r.c, r.llrMicro, r.cumMicro, r.decision))
    try {
      // day-0 burst of 20 crosses the +2944439 Wald bound immediately
      input.addData((1L to 20L).map(i => ev(i, 0, i * 100)): _*)
      input.addData(ev(30, 1, 500)) // watermark past day 0 → decision
      q.processAllAvailable()
      assert(rows().toSet == Set((0L, 20L, 7109302L, 7109302L,
        "reject_h0")), rows().toString)
      // inside the retention horizon (eviction timer sits at day-1 end +
      // 1 day = day-2 end): the stop rule still holds, nothing emits
      input.addData(ev(31, 1, 900))
      q.processAllAvailable()
      assert(rows().length == 1, rows().toString)
      // an event past day-2 end fires the eviction timer; the NEXT
      // arrivals find no state and begin a fresh, independent epoch
      input.addData(ev(32, 3, 100))
      q.processAllAvailable()
      input.addData((40L to 59L).map(i => ev(i, 4, i * 50)): _*)
      input.addData(ev(60, 5, 100)) // watermark past day 4 → new decision
      q.processAllAvailable()
      val r = rows()
      assert(r.length >= 2 &&
        r.count(_._5 == "reject_h0") == 2, r.toString)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming corpus store: snapshot versions monotone, batch replay " +
      "commits once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val cat = new graft.storage.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-stream-corpus")
        .toString, "t")
    val input = MemoryStream[(Long, String, String)](spark)
    val q = StreamingIngest.streamIntoCorpusStore(
      input.toDF().toDF("doc_id", "source", "text"), cat, "c",
      "doc_id", "text", "source", minWords = 5, winnowW = 1)
    val passage = "alpha beta gamma delta epsilon zeta"
    val schema = graft.storage.CorpusStore.storedSchema("doc_id", "source",
      "text")
    try {
      input.addData((1L, "web", s"one two $passage three four five six"))
      q.processAllAvailable()
      assert(cat.version("c") == 1L)
      // second micro-batch duplicates the stored passage → stripped
      // against the stored canonical, committed as version 2
      input.addData((2L, "web", s"aa bb $passage cc dd ee ff gg"))
      q.processAllAvailable()
      assert(cat.version("c") == 2L)
      val rows = cat.readPartitionedOr("c", schema).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(rows(1L).contains(passage) && !rows(2L).contains("alpha"),
        rows.toString)
    } finally q.stop()
    // an at-least-once REPLAY of the last batch id (what a post-restart
    // foreachBatch re-delivers): the high-water mark skips it
    import org.apache.spark.sql.functions.lit
    val replay = Seq((2L, "web", s"aa bb $passage cc dd ee ff gg"))
      .toDF("doc_id", "source", "text").withColumn("_x", lit(1)).drop("_x")
    graft.storage.CorpusStore.ingestBatch(cat, "c", replay, 1L, "doc_id",
      "text", "source", minWords = 5, winnowW = 1)
    assert(cat.version("c") == 2L, "replayed batch id must not re-commit")
  }

  test("streaming corpus store: a batch duplicating an UNTOUCHED source's " +
      "passage is stripped via the store-wide gram index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val cat = new graft.storage.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-stream-probe")
        .toString, "t")
    val input = MemoryStream[(Long, String, String)](spark)
    val q = StreamingIngest.streamIntoCorpusStore(
      input.toDF().toDF("doc_id", "source", "text"), cat, "c",
      "doc_id", "text", "source", minWords = 5, winnowW = 1)
    val passage = "alpha beta gamma delta epsilon zeta"
    val schema = graft.storage.CorpusStore.storedSchema("doc_id", "source",
      "text")
    try {
      input.addData((1L, "web", s"one two $passage three four five six"))
      q.processAllAvailable()
      // the second micro-batch lands in a DIFFERENT source ('wiki'):
      // 'web' is untouched, so only the gram-index probe can see the
      // duplication — the r14 verdict item-1 scenario on the streaming
      // path (q232 pins the batch API; this pins foreachBatch wiring)
      input.addData((2L, "wiki", s"aa bb $passage cc dd ee ff gg"))
      q.processAllAvailable()
      val rows = cat.readPartitionedOr("c", schema).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
          r.getLong(5))).toMap
      assert(rows(1L)._2 == s"one two $passage three four five six")
      assert(rows(2L) == (("wiki", "aa bb cc dd ee ff gg", 1L)),
        rows.toString)
    } finally q.stop()
  }

  test("streaming corpus store: RESTART from checkpoint mid-store — replay " +
      "skipped by the high-water mark, next batch probes the post-crash " +
      "index (r16 ADVICE item 6)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val cat = new graft.storage.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-stream-restart")
        .toString, "t")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-restart-ckpt").toString
    val passage = "alpha beta gamma delta epsilon zeta"
    val schema = graft.storage.CorpusStore.storedSchema("doc_id", "source",
      "text")
    val input = MemoryStream[(Long, String, String)](spark)
    def start() = StreamingIngest.streamIntoCorpusStore(
      input.toDF().toDF("doc_id", "source", "text"), cat, "c",
      "doc_id", "text", "source", minWords = 5, winnowW = 1,
      checkpointDir = Some(ckpt))
    // run 1: commit batch 0, then stop (the "crash")
    val q1 = start()
    try {
      input.addData((1L, "web", s"one two $passage three four five six"))
      q1.processAllAvailable()
      assert(cat.version("c") == 1L)
    } finally q1.stop()
    // the at-least-once window: foreachBatch re-delivers the LAST batch id
    // after a restart whose commit log didn't record completion — simulate
    // it straight through the layer foreachBatch calls; the manifest-
    // encoded high-water mark must skip it with no content commit
    import org.apache.spark.sql.functions.lit
    val replay = Seq((1L, "web", s"one two $passage three four five six"))
      .toDF("doc_id", "source", "text").withColumn("_x", lit(1)).drop("_x")
    graft.storage.CorpusStore.ingestBatch(cat, "c", replay, 0L, "doc_id",
      "text", "source", minWords = 5, winnowW = 1)
    assert(cat.version("c") == 1L, "replayed batch must not re-commit")
    // run 2: the SAME query restarts from its checkpoint — batch ids
    // continue past the committed high-water mark, and the new batch's
    // cross-source duplication is caught against the post-restart index
    val q2 = start()
    try {
      input.addData((2L, "wiki", s"aa bb $passage cc dd ee ff gg"))
      q2.processAllAvailable()
      assert(cat.version("c") == 2L, s"got ${cat.version("c")}")
      val rows = cat.readPartitionedOr("c", schema).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
          r.getLong(5))).toMap
      assert(rows(1L)._2 == s"one two $passage three four five six")
      assert(rows(2L) == (("wiki", "aa bb cc dd ee ff gg", 1L)),
        rows.toString)
      // the restarted query's high-water mark advanced in the manifest
      val keys = cat.snapshot("c__idx")._2.keySet
      assert(keys.exists(_.startsWith("state/")), keys.toString)
    } finally q2.stop()
  }

  test("streaming CUSUM: watermark-driven day closes, zero-day gap alarms, " +
      "late events for finalized days dropped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{CusumDay, TypedUserEvent}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[TypedUserEvent](spark)
    val dayMs = 86400000L
    def ev(id: Long, day: Long, k: Long) =
      TypedUserEvent(1L, id, new Timestamp(day * dayMs + k), "a")
    // target 2/day, alarm at S >= 2 (hPpm = 1e6 of the target... h=1 mean-day
    // doubled: hPpm=1000000 → alarm when S*1e6 >= 1e6*2 → S >= 2)
    val q = StreamingIngest.streamingCusumDaily(input.toDS(),
        targetPerDay = 2L, hPpm = 1000000L, watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("cusum_days").start()
    def rows() = spark.table("cusum_days").as[CusumDay].collect()
      .map(r => (r.dayEpoch, r.c, r.cusum, r.alarm)).toSet
    try {
      // day0: 3 events, day1: 2 — nothing finalizes until the watermark moves
      input.addData(ev(1, 0, 1000), ev(2, 0, 2000), ev(3, 0, 3000),
        ev(4, 1, 1000), ev(5, 1, 2000))
      q.processAllAvailable()
      // a day-3 event pushes the watermark past day2's end: day0 (S=1),
      // day1 (S=1), and the SILENT day2 (c=0, S=0) all finalize
      input.addData(ev(6, 3, 1000))
      q.processAllAvailable()
      assert(rows() == Set((0L, 3L, 1L, false), (1L, 2L, 1L, false),
        (2L, 0L, 0L, false)), rows().toString)
      // 4 more day-3 events (5 total), then day5 moves the watermark:
      // day3 finalizes S=3 → ALARM; day4 silent S=1
      input.addData(ev(7, 3, 2000), ev(8, 3, 3000), ev(9, 3, 4000), ev(10, 3, 5000))
      input.addData(ev(11, 5, 1000), ev(12, 0, 9000)) // day-0 late event: dropped
      q.processAllAvailable()
      assert(rows() == Set((0L, 3L, 1L, false), (1L, 2L, 1L, false),
        (2L, 0L, 0L, false), (3L, 5L, 3L, true), (4L, 0L, 1L, false)),
        rows().toString)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming SPRT: walk matches batch constants, stops at first crossing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{SprtDay, TypedUserEvent}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[TypedUserEvent](spark)
    val dayMs = 86400000L
    def ev(id: Long, day: Long, k: Long) =
      TypedUserEvent(1L, id, new Timestamp(day * dayMs + k), "a")
    val q = StreamingIngest.streamingSprtDaily(input.toDS(),
        lam0Micro = 2000000L, watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("sprt_days").start()
    def rows() = spark.table("sprt_days").as[SprtDay].collect()
      .map(r => (r.dayEpoch, r.c, r.llrMicro, r.cumMicro, r.decision)).toSet
    try {
      // lam0 = 2.0: llr(2) = round((2 ln1.5 - 1)e6) = -189070,
      // llr(0) = -1000000, llr(20) = 7109302; Wald boundary ±2944439
      input.addData(ev(1, 0, 1000), ev(2, 0, 2000),
        ev(3, 1, 1000), ev(4, 1, 2000))
      input.addData((5L to 24L).map(i => ev(i, 3, i * 100)): _*)
      q.processAllAvailable()
      input.addData(ev(30, 5, 1000)) // watermark past day 4: 0..3 finalize
      q.processAllAvailable()
      // day 3's burst crosses +2944439 -> reject, and the type STOPS:
      // day 4 (silent) emits nothing despite being past the watermark
      assert(rows() == Set(
        (0L, 2L, -189070L, -189070L, "continue"),
        (1L, 2L, -189070L, -378140L, "continue"),
        (2L, 0L, -1000000L, -1378140L, "continue"),
        (3L, 20L, 7109302L, 5731162L, "reject_h0")), rows().toString)
      // post-decision events neither walk nor emit
      input.addData(ev(31, 6, 1000), ev(32, 7, 1000))
      q.processAllAvailable()
      assert(rows().size == 4, rows().toString)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming heavy hitters: MG guarantees per source across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[StreamingIngest.ItemEvent](spark)
    val out = StreamingIngest.streamingHeavyHitters(input.toDS(), k = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("hh_out").start()
    try {
      def items(src: String, spec: (String, Int)*): Seq[StreamingIngest.ItemEvent] =
        spec.flatMap { case (it, n) =>
          Seq.fill(n)(StreamingIngest.ItemEvent(src, it)) }
      input.addData(items("a", "x" -> 6, "y" -> 2, "z" -> 1, "w" -> 1) ++
        items("b", "q" -> 3): _*)
      q.processAllAvailable()
      input.addData(items("a", "x" -> 4, "v" -> 3): _*)
      q.processAllAvailable()
      val rows = spark.table("hh_out").as[StreamingIngest.HeavyHitter]
        .collect()
      // snapshots per (source, batch); at most k counters each
      rows.groupBy(r => (r.source, r.batchSeq)).foreach { case (_, g) =>
        assert(g.length <= 3)
      }
      // source a after batch 2: n = 17, threshold n/(k+1) = 4.25 —
      // x (true 10) MUST survive with count >= 10 - 4.25
      val a2 = rows.filter(r => r.source == "a" && r.batchSeq == 2)
      val x = a2.find(_.item == "x")
      assert(x.isDefined, s"heavy hitter lost: $a2")
      assert(x.get.minCount >= 6 && x.get.minCount <= 10)
      // independent source: b's only batch kept its exact count
      assert(rows.filter(_.source == "b")
        .map(r => r.item -> r.minCount).toSeq == Seq("q" -> 3L))
    } finally q.stop()
  }

  test("stateful latest-version MERGE across micro-batches") {
    import spark.implicits._
    val events = Seq(
      RecordEvent("a", "S1", 1, "{\"v\":1}", Timestamp.valueOf("2024-01-01 10:00:00")),
      RecordEvent("a", "S1", 3, "{\"v\":3}", Timestamp.valueOf("2024-01-01 10:01:00")),
      RecordEvent("a", "S1", 2, "{\"v\":2}", Timestamp.valueOf("2024-01-01 10:02:00")),
      RecordEvent("b", "S1", 1, "{\"v\":1}", Timestamp.valueOf("2024-01-01 10:03:00")))
      .toDS()
    val out = StreamingIngest.latestVersionState(events).collect()
    val a = out.find(_.localId == "a").get
    assert(a.sourceVersion == 3 && a.payloadJson == "{\"v\":3}",
      "latest version wins regardless of arrival order")
    assert(out.find(_.localId == "b").get.sourceVersion == 1)
  }
}

/** shared clock for the TTL test: statics cross Spark's closure
  * serialization inside a single local JVM
  */
object StreamingSpec {
  @volatile var clockNow: Long = 0L
}
