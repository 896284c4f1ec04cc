package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.dedup.Dedup

/** Structured Streaming surface (T1-T6): the reference's unbounded ingest
  * streams (Vert.x ReadStreams with demand-based backpressure) map onto
  * Spark's micro-batch model — backpressure is `maxFilesPerTrigger`/
  * `maxOffsetsPerTrigger`, at-least-once + idempotent MERGE gives the same
  * guarantee as the reference's upsert-by-natural-key (T6).
  *
  * Provided operators:
  *   - `recordStream`: file-watch source over record batches (the streaming
  *     twin of MarcSources.readRecordsJson)
  *   - `windowedIngestStats`: watermarked tumbling-window ingest counters
  *     (A4/A5 as a live metric)
  *   - `latestVersionState`: mapGroupsWithState keeping the latest
  *     sourceVersion per natural key — the streaming MERGE (S11/T6)
  */
object StreamingIngest {

  /** watch a directory of record-batch JSON files as an unbounded stream */
  def recordStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(schema)
      .json(dir)

  /** Tumbling-window per-source ingest counters with a watermark: late events
    * beyond the watermark are dropped, mirroring the reference's
    * at-least-once acceptance (T5/T6).
    */
  def windowedIngestStats(events: DataFrame, tsCol: String,
      windowLen: String = "1 hour", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("sourceId"))
      .agg(count(lit(1)).as("processed"),
        sum(when(col("delete") === true, 1).otherwise(0)).as("deleted"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("sourceId"), col("processed"), col("deleted"))

  final case class RecordEvent(localId: String, sourceId: String,
      sourceVersion: Int, payloadJson: String, ts: Timestamp)

  final case class KeyedLatest(localId: String, sourceId: String,
      sourceVersion: Int, payloadJson: String)

  /** The streaming MERGE: per natural key (localId, sourceId), emit the
    * current latest version whenever it changes — custom state via
    * mapGroupsWithState (the engine's S11 semantics on an infinite stream).
    */
  def latestVersionState(events: Dataset[RecordEvent]): Dataset[KeyedLatest] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.localId, e.sourceId))
      .mapGroupsWithState[Int, KeyedLatest](GroupStateTimeout.NoTimeout) {
        case ((localId, sourceId), batch, state: GroupState[Int]) =>
          val prior = state.getOption.getOrElse(Int.MinValue)
          val best = batch.maxBy(_.sourceVersion)
          if (best.sourceVersion >= prior) {
            state.update(best.sourceVersion)
            KeyedLatest(localId, sourceId, best.sourceVersion, best.payloadJson)
          } else {
            KeyedLatest(localId, sourceId, prior, null)
          }
      }
  }

  final case class DocEvent(docId: Long, text: String)

  final case class DedupedDoc(docId: Long, text: String, firstSeen: Boolean)

  /** `docs` grouped on a content-hash column: `md5(text)`, or with
    * `normalized` the batch exact-dedup key
    * ([[graft.dedup.Normalize.contentHash]]) — the stream keys its state
    * on the very column the batch path groups by. A null text keys on
    * null: all null-text documents form one group, as in batch.
    */
  private def byContent(docs: Dataset[DocEvent],
      normalized: Boolean): KeyValueGroupedDataset[String, DocEvent] = {
    import docs.sparkSession.implicits._
    docs.groupBy(if (normalized) graft.dedup.Normalize.contentHash(col("text"))
        else md5(col("text")))
      .as[String, DocEvent]
  }

  /** Streaming exact dedup: per content-hash state remembers the first doc
    * id that carried the text; later arrivals are flagged duplicates — the
    * LLM-pipeline dedup operator on an unbounded stream (state is the
    * hash → first-id map, sharded by Spark's state store).
    *
    * `normalized = true` keys the state on the NORMALIZED content hash
    * ([[graft.dedup.Normalize.contentHash]], the batch exact-dedup key)
    * so the stream agrees with the batch normalized-dedup path
    * (q121/q197/q199) on which arrivals are duplicates — case/
    * punctuation/whitespace re-crawl variants collapse to one canonical
    * key instead of leaking past the raw hash.
    */
  def streamingExactDedup(docs: Dataset[DocEvent],
      normalized: Boolean = false): Dataset[DedupedDoc] = {
    import docs.sparkSession.implicits._
    byContent(docs, normalized)
      .flatMapGroupsWithState[Long, DedupedDoc](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        case (_, batch, state: GroupState[Long]) =>
          val events = batch.toSeq.sortBy(_.docId)
          val known = state.getOption
          val first = known.getOrElse(events.head.docId)
          if (known.isEmpty) state.update(first)
          events.iterator.map(e =>
            DedupedDoc(e.docId, e.text, known.isEmpty && e.docId == first))
      }
  }

  final case class DupWeight(docId: Long, nCopies: Long, weightMilli: Long)

  /** Streaming twin of the q228 duplicate-aware loss weighting (soft
    * dedup): per normalized-content group, each arrival emits the group's
    * RUNNING copy count and its own training weight 1000/n milli-units —
    * the prefix view of the batch op's final-group-size weighting (the
    * streaming-LSH cap's prefix-semantics contract): a copy arriving as
    * the group's n-th member trains at 1/n, while earlier copies keep the
    * heavier weight they were emitted with, exactly as a pipeline that
    * already consumed them must. State per group is ONE counter; arrivals
    * within a micro-batch order by docId so replays emit identically —
    * only the group's in-batch doc IDS buffer for that sort (8 bytes per
    * arrival, never the texts: a pathological micro-batch with millions
    * of identical docs costs one long array per task, not the text
    * slice). Rounding: weightMilli = 1000/n floors to 0 past 1000 copies
    * — the 1001st+ copy trains at zero mass, the intended reading (its
    * true weight is under half a milli-unit, and the batch q228 census
    * floors identically via `(n_tok * 1000) div n_copies`); a consumer
    * needing sub-milli resolution derives weights from nCopies instead.
    */
  def streamingDupWeights(docs: Dataset[DocEvent],
      normalized: Boolean = true): Dataset[DupWeight] = {
    import docs.sparkSession.implicits._
    byContent(docs, normalized)
      .flatMapGroupsWithState[Long, DupWeight](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        case (_, batch, state: GroupState[Long]) =>
          val ids = batch.map(_.docId).toArray
          java.util.Arrays.sort(ids)
          var n = state.getOption.getOrElse(0L)
          val out = ids.map { id =>
            n += 1
            DupWeight(id, n, 1000L / n)
          }
          state.update(n)
          out.iterator
      }
  }

  final case class PassageVerdict(docId: Long, idx: Int, kept: Boolean)

  /** Streaming passage-level dedup — the stateful twin of
    * `PassageDedup.dedupPassages`: each arriving document splits into the
    * SAME word-window passages as the batch operator, each passage keys
    * into the state store by content hash, and the first (docId, idx) to
    * carry a passage owns it; later carriers get kept = false. Reassembly
    * of surviving passages is a per-doc downstream aggregation (all of a
    * doc's verdicts land in its arrival micro-batch).
    *
    * Ownership is FIRST-ARRIVAL (min (docId, idx) within a micro-batch),
    * the same convention as [[streamingExactDedup]] — deterministic under
    * replay, but a stream cannot retract: batch dedupPassages over the
    * same corpus may pick a different (globally minimal) owner when a
    * lower-id document arrives after a higher one. State shards by
    * passage hash, so throughput scales with executors and per-passage
    * work is O(1).
    */
  def streamingPassageDedup(docs: Dataset[DocEvent],
      passageWords: Int): Dataset[PassageVerdict] = {
    require(passageWords > 0, s"passageWords must be positive")
    import docs.sparkSession.implicits._
    val ws = java.util.regex.Pattern.compile(
      graft.text.TextFunctions.WhitespaceRegex)
    docs
      .flatMap { e =>
        val w = ws.split(e.text)
        if (e.text.isEmpty || w.isEmpty) Nil
        else w.grouped(passageWords).zipWithIndex.map { case (g, i) =>
          (e.docId, i, g.mkString(" "))
        }.toSeq
      }
      .groupByKey(p => Dedup.md5Hex(p._3))
      .flatMapGroupsWithState[(Long, Int), PassageVerdict](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        case (_, batch, state: GroupState[(Long, Int)]) =>
          val events = batch.toSeq.sortBy(p => (p._1, p._2))
          val known = state.getOption
          val first = known.getOrElse((events.head._1, events.head._2))
          if (known.isEmpty) state.update(first)
          events.iterator.map(p => PassageVerdict(p._1, p._2,
            known.isEmpty && (p._1, p._2) == first))
      }
  }

  final case class BandedDoc(docId: Long, bucket: String, sig: Seq[String])

  final case class CandidatePair(id1: Long, id2: Long, estJaccard: Double)

  /** shingle, sign and band each arriving document with the batch scalar
    * kernels — one row per (document, band bucket) */
  private def bandDocs(docs: Dataset[DocEvent], shingleLen: Int,
      numHashes: Int, bands: Int): Dataset[BandedDoc] = {
    import docs.sparkSession.implicits._
    docs.flatMap { e =>
      val sh = Dedup.shinglesOf(e.text, shingleLen)
      if (sh.isEmpty) Nil
      else {
        val sig = Dedup.minhashOf(sh, numHashes)
        Dedup.bandHashesOf(sig, bands, numHashes / bands)
          .map(b => BandedDoc(e.docId, b, sig))
      }
    }
  }

  /** The bucket step of both streaming LSH operators: in docId order, each
    * arrival not yet a member (and while the bucket holds fewer than
    * `maxBucketSize`) is compared with every member before it, pairing
    * those whose signature agreement reaches `threshold`, then admitted.
    * Returns the pairs and the admitted arrivals, for the caller's store.
    */
  private def compareAndAdmit(members: Seq[(Long, Seq[String])],
      arrivals: Iterator[BandedDoc], threshold: Double,
      maxBucketSize: Int): (Seq[CandidatePair], Seq[BandedDoc]) = {
    var cur = members.toVector
    val out = Seq.newBuilder[CandidatePair]
    val admitted = Seq.newBuilder[BandedDoc]
    arrivals.toSeq.sortBy(_.docId).foreach { d =>
      if (!cur.exists(_._1 == d.docId) && cur.size < maxBucketSize) {
        cur.foreach { case (oid, osig) =>
          val agree = d.sig.zip(osig).count { case (a, b) => a == b }
          val est = agree.toDouble / d.sig.length
          if (est >= threshold)
            out += CandidatePair(math.min(d.docId, oid),
              math.max(d.docId, oid), est)
        }
        cur = cur :+ ((d.docId, d.sig))
        admitted += d
      }
    }
    (out.result(), admitted.result())
  }

  /** Streaming MinHash-LSH near-duplicate detection — the stateful twin of
    * `Dedup.nearDuplicatesMinhashLsh`: each arriving document is shingled,
    * signed, and banded with the SAME batch kernels (so streaming and batch
    * agree on candidates), then each band bucket keeps its members' (docId,
    * signature) in Spark's state store. A new member is compared against the
    * bucket's existing members only — the streaming analogue of the
    * bucket-join, so work per document is O(bucket size), never O(corpus).
    * Jaccard is estimated as minhash-signature agreement (the standard
    * streaming approximation; batch re-verification is exact).
    *
    * State is sharded by bucket hash, so throughput scales with executors.
    * `maxBucketSize` bounds degenerate buckets (identical-document floods)
    * with PREFIX semantics — the first N members pair normally, later
    * arrivals are neither compared nor stored (a stream cannot retract
    * already-emitted pairs, so the batch path's drop-the-whole-bucket rule
    * is unreachable online; re-run batch dedup where exact agreement on
    * degenerate buckets matters). A pair sharing several bands is emitted
    * once per matching band (at-least-once); run `firstOccurrenceOnly` as a
    * second stage (its own streaming query) or a downstream batch distinct
    * for exactly-once pairs.
    */
  /** @param memberTtlMs when > 0, members older than this are lazily
    *   evicted from a bucket the next time the bucket receives data —
    *   windowed near-dup semantics with bounded per-bucket history. 0
    *   keeps members forever (full-history dedup, the default). Eviction
    *   is lazy by design: an untouched bucket holds at most
    *   `maxBucketSize` members, and avoiding Spark's timer machinery
    *   keeps the operator deterministic and replayable.
    * @param clock injectable time source for the TTL (tests pin it). The
    *   default None uses `GroupState.getCurrentProcessingTimeMs`, which is
    *   pinned per micro-batch in the offset log — so a replayed batch sees
    *   the SAME time and evicts identically, keeping the operator
    *   deterministic across restarts (a raw wall clock would not).
    */
  def streamingNearDupLsh(docs: Dataset[DocEvent], shingleLen: Int = 3,
      numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      maxBucketSize: Int = 1000, memberTtlMs: Long = 0L,
      clock: Option[() => Long] = None): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    bandDocs(docs, shingleLen, numHashes, bands)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[Seq[(Long, Seq[String], Long)], CandidatePair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, batch, state: GroupState[Seq[(Long, Seq[String], Long)]]) =>
          val now = clock.map(_.apply())
            .getOrElse(state.getCurrentProcessingTimeMs())
          var members = state.getOption.getOrElse(Seq.empty)
          if (memberTtlMs > 0) members = members.filter(now - _._3 <= memberTtlMs)
          val (pairs, admitted) = compareAndAdmit(
            members.map(m => (m._1, m._2)), batch, threshold, maxBucketSize)
          state.update(members ++ admitted.map(d => (d.docId, d.sig, now)))
          pairs.iterator
      }
  }

  /** one LSH bucket member in the transformWithState store */
  final case class LshMember(docId: Long, sig: Seq[String])

  /** [[streamingNearDupLsh]] with NATIVE per-member state TTL via Spark 4's
    * `transformWithState`: each member appended to a bucket's `ListState`
    * carries its own TTL and is evicted by the state store itself (RocksDB
    * provider required) — no timer registration and no injectable clock.
    * Prefer this for windowed near-dup on a real cluster; the lazy-eviction
    * variant remains for HDFS-state deployments.
    *
    * Trigger caveat (probed, same family as the GroupStateTimeout wedge in
    * NOTES.md): with TTL enabled the operator schedules state-cleanup
    * micro-batches continuously ("no new data but cleaning up state"), so
    * `processAllAvailable()` never quiesces and even Trigger.AvailableNow
    * does not terminate. Use a processing-time trigger in production and
    * observe progress metrics — never quiescence — in tests.
    */
  def streamingNearDupLshTtl(docs: Dataset[DocEvent],
      memberTtl: java.time.Duration, shingleLen: Int = 3,
      numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      maxBucketSize: Int = 1000): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    val processor =
      new org.apache.spark.sql.streaming.StatefulProcessor[
          String, BandedDoc, CandidatePair] {
        @transient private var members:
          org.apache.spark.sql.streaming.ListState[LshMember] = _
        override def init(outputMode: OutputMode,
            timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
          members = getHandle.getListState[LshMember]("members",
            org.apache.spark.sql.Encoders.product[LshMember],
            org.apache.spark.sql.streaming.TTLConfig(memberTtl))
        override def handleInputRows(key: String, rows: Iterator[BandedDoc],
            tv: org.apache.spark.sql.streaming.TimerValues)
            : Iterator[CandidatePair] = {
          // the store already filtered expired members out of the read
          val (pairs, admitted) = compareAndAdmit(
            members.get().map(m => (m.docId, m.sig)).toSeq, rows, threshold,
            maxBucketSize)
          admitted.foreach(d => members.appendValue(LshMember(d.docId, d.sig)))
          pairs.iterator
        }
      }
    bandDocs(docs, shingleLen, numHashes, bands).groupByKey(_.bucket)
      .transformWithState(processor,
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** Streaming decontamination: drop stream documents sharing any word
    * n-gram with the static benchmark set. The benchmark's distinct grams
    * (an eval suite — small by construction) are collected once and
    * broadcast; each micro-batch then filters per-row against the shared
    * in-memory set, so the stream side never shuffles and needs no state.
    */
  def streamingDecontaminate(docs: Dataset[DocEvent],
      bench: org.apache.spark.sql.DataFrame, textCol: String,
      n: Int = 3): Dataset[DocEvent] = {
    val grams = bench.select(org.apache.spark.sql.functions.col(textCol))
      .na.drop().collect()
      .iterator.flatMap(r => Dedup.shinglesOf(r.getString(0), n)).toSet
    val bc = docs.sparkSession.sparkContext.broadcast(grams)
    docs.filter(e => !Dedup.shinglesOf(e.text, n).exists(bc.value.contains))
  }

  /** exactly-once pair stream: keeps a seen-flag per (id1, id2) and passes
    * only the first occurrence (collapses the per-band duplicates of
    * `streamingNearDupLsh` when chained stateful operators are enabled, or
    * run it as its own query stage)
    */
  def firstOccurrenceOnly(pairs: Dataset[CandidatePair]): Dataset[CandidatePair] = {
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(p => (p.id1, p.id2))
      .flatMapGroupsWithState[Boolean, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, batch, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); batch.take(1) }
      }
  }

  final case class UserEvent(userId: Long, eventId: Long, ts: Timestamp)

  final case class SessionAssign(userId: Long, eventId: Long, sessionId: Long)

  /** Streaming gap-based sessionization — the stateful twin of the batch
    * q34 operator: per-user state keeps (last event time, session counter),
    * and an event arriving more than `gapSeconds` after the previous one
    * opens a new session. State is sharded by userId in Spark's state store,
    * so throughput scales with executors; within a micro-batch events are
    * ordered by (ts, eventId), matching the batch window's ordering, and the
    * counter continues seamlessly across micro-batches.
    */
  def streamingSessionize(events: Dataset[UserEvent],
      gapSeconds: Long = 1800): Dataset[SessionAssign] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[(Long, Long), SessionAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (userId, batch, state: GroupState[(Long, Long)]) =>
          var (lastMillis, session) = state.getOption.getOrElse((Long.MinValue, 0L))
          val out = batch.toSeq.sortBy(e => (e.ts.getTime, e.eventId)).map { e =>
            val millis = e.ts.getTime
            if (lastMillis == Long.MinValue || millis - lastMillis > gapSeconds * 1000L)
              session += 1
            lastMillis = millis
            SessionAssign(userId, e.eventId, session)
          }
          state.update((lastMillis, session))
          out.iterator
      }
  }

  /** a typed user event for the streaming funnel */
  final case class TypedUserEvent(userId: Long, eventId: Long, ts: Timestamp,
      eventType: String)

  /** a newly-reached funnel stage (1-based), emitted once per (user, stage) */
  final case class FunnelHit(userId: Long, stage: Int, ts: Timestamp)

  /** Streaming ordered funnel — the stateful twin of the batch
    * `Funnel.funnelTimes` (q136): per-user state holds the time each stage
    * was first reached; an event of stage k's type lands the stage iff
    * stage k−1 is already held with a strictly earlier time. For in-order
    * streams this greedy rule IS the batch semantics (the first qualifying
    * arrival is the minimum), and each (user, stage) emits exactly one
    * Append-mode row at the moment it's reached — the live conversion
    * tracker. Within a micro-batch events sort by (ts, eventId) like the
    * batch window's ordering; a cross-batch LATE event can't retroactively
    * improve an already-emitted stage time (documented Append contract,
    * same as the sessionizer's).
    *
    * State per user: one Long per stage — constant-size, sharded by userId
    * in the state store, so throughput scales with executors.
    */
  def streamingFunnel(events: Dataset[TypedUserEvent], stages: Seq[String],
      horizonSec: Option[Long] = None): Dataset[FunnelHit] = {
    require(stages.nonEmpty, "stages must be non-empty")
    import events.sparkSession.implicits._
    val stageOf = stages.zipWithIndex.toMap
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[Array[Long], FunnelHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (userId, batch, state: GroupState[Array[Long]]) =>
          val times = state.getOption.getOrElse(
            Array.fill(stages.size)(Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
          batch.toSeq.sortBy(e => (e.ts.getTime, e.eventId)).foreach { e =>
            stageOf.get(e.eventType).foreach { i =>
              val ms = e.ts.getTime
              val prevOk = i == 0 ||
                (times(i - 1) != Long.MinValue && ms > times(i - 1) &&
                  horizonSec.forall(h => ms <= times(i - 1) + h * 1000L))
              if (times(i) == Long.MinValue && prevOk) {
                times(i) = ms
                out += FunnelHit(userId, i + 1, new Timestamp(ms))
              }
            }
          }
          state.update(times)
          out.iterator
      }
  }

  /** a gap-closed session window emitted by the event-time sessionizer */
  final case class ClosedSession(userId: Long, startTs: Timestamp,
      endTs: Timestamp, events: Long)

  /** a valued observation for the streaming LOCF grid */
  final case class ValueEvent(userId: Long, ts: Timestamp, valueCents: Long)

  /** one emitted grid slot: observed (filled = false) or carried forward */
  final case class FilledSlot(userId: Long, slotStart: Timestamp,
      valueCents: Long, filled: Boolean)

  /** Streaming LOCF time-grid fill — the stateful twin of the batch
    * `TimeFill.locfGrid` (q125): per key, observations collapse into their
    * `stepSeconds` slot (last event wins; exact-time ties take the max
    * value, the batch rule), and when the WATERMARK passes an observed
    * slot's end the operator emits every grid slot since the key's last
    * emission — gaps carried forward with `filled = true`, the observed
    * slot with its own value. Emission is watermark-driven only (event-time
    * timers), so no row is ever retracted; replaying the same input yields
    * the same grid the batch operator computes, provided events arrive
    * within the watermark delay of their slot (an observation for an
    * already-emitted slot is dropped — the documented Append-mode contract,
    * same as the sessionizer's).
    *
    * State per key: the open (slot, lastUs, cents) observations (bounded by
    * slots-per-watermark-delay) plus (lastEmittedSlot, carriedCents); state
    * shards by key in the state store, so throughput scales with executors.
    */
  def streamingLocf(events: Dataset[ValueEvent], stepSeconds: Long,
      watermarkDelay: String = "10 seconds"): Dataset[FilledSlot] = {
    import events.sparkSession.implicits._
    require(stepSeconds > 0, s"stepSeconds must be positive, got $stepSeconds")
    val stepMs = stepSeconds * 1000L
    val processor =
      new org.apache.spark.sql.streaming.StatefulProcessor[
          Long, ValueEvent, FilledSlot] {
        @transient private var open:
          org.apache.spark.sql.streaming.ListState[(Long, Long, Long)] = _
        @transient private var emitted:
          org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
        override def init(outputMode: OutputMode,
            timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
          open = getHandle.getListState[(Long, Long, Long)]("open",
            org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
            org.apache.spark.sql.streaming.TTLConfig.NONE)
          emitted = getHandle.getValueState[(Long, Long)]("emitted",
            org.apache.spark.sql.Encoders.product[(Long, Long)],
            org.apache.spark.sql.streaming.TTLConfig.NONE)
        }
        private def deadline(ss: Seq[(Long, Long, Long)]): Option[Long] =
          ss.map(s => (s._1 + 1L) * stepMs).minOption
        private def replace(ss: Seq[(Long, Long, Long)]): Unit = {
          open.clear()
          ss.foreach(open.appendValue)
        }
        override def handleInputRows(key: Long, rows: Iterator[ValueEvent],
            tv: org.apache.spark.sql.streaming.TimerValues)
            : Iterator[FilledSlot] = {
          var ss = open.get().toVector
          val oldDeadline = deadline(ss)
          val lastEmitted =
            if (emitted.exists()) Some(emitted.get()._1) else None
          rows.foreach { e =>
            val ms = e.ts.getTime
            val slot = Math.floorDiv(ms, stepMs)
            if (!lastEmitted.exists(slot <= _)) {
              val (hit, rest) = ss.partition(_._1 == slot)
              val merged = hit.headOption match {
                case None => (slot, ms, e.valueCents)
                case Some((_, us, v)) =>
                  if (ms > us) (slot, ms, e.valueCents)
                  else if (ms == us) (slot, us, Math.max(v, e.valueCents))
                  else (slot, us, v)
              }
              ss = rest :+ merged
            } // else: slot already emitted -- Append mode cannot retract
          }
          replace(ss)
          val newDeadline = deadline(ss)
          if (newDeadline != oldDeadline) {
            oldDeadline.foreach(getHandle.deleteTimer)
            newDeadline.foreach(getHandle.registerTimer)
          }
          Iterator.empty
        }
        override def handleExpiredTimer(key: Long,
            tv: org.apache.spark.sql.streaming.TimerValues,
            info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
            : Iterator[FilledSlot] = {
          val wm = tv.getCurrentWatermarkInMs
          val (done, still) = open.get().toVector
            .partition(s => (s._1 + 1L) * stepMs <= wm)
          replace(still)
          deadline(still).foreach(getHandle.registerTimer)
          var st = if (emitted.exists()) Some(emitted.get()) else None
          val out = Vector.newBuilder[FilledSlot]
          done.sortBy(_._1).foreach { case (slot, _, cents) =>
            st.foreach { case (last, carried) =>
              ((last + 1L) until slot).foreach(g =>
                out += FilledSlot(key, new Timestamp(g * stepMs), carried,
                  filled = true))
            }
            out += FilledSlot(key, new Timestamp(slot * stepMs), cents,
              filled = false)
            st = Some((slot, cents))
          }
          st.foreach(emitted.update)
          out.result().iterator
        }
      }
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .transformWithState(processor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Event-time session WINDOWS via `transformWithState` with NATIVE
    * event-time timers (RocksDB provider required): a session closes — and
    * its (start, end, count) row is emitted — ONLY when the WATERMARK
    * passes `end + gap`, with no further arrival needed for the key. The
    * [[streamingSessionize]] NoTimeout formulation can only assign session
    * ids on arrival; an idle key's final session would stay open forever.
    *
    * State holds EVERY still-open session per key (a ListState), never just
    * the latest: an in-order event more than `gap` ahead opens a SECOND
    * session while the previous stays pending, because a later
    * late-but-within-watermark event may yet bridge them (merging every
    * session it overlaps into one). Closing in-stream on a gap-exceeded
    * arrival would emit unretractable wrong rows in exactly that case.
    * Once `end + gap ≤ watermark` no admissible event (ts ≥ watermark) can
    * extend or bridge the session, so the timer close is final. Each key
    * carries ONE live timer at its earliest close deadline, re-registered
    * as sessions merge, extend, or close.
    *
    * `watermarkDelay` bounds out-of-order arrival (events later than that
    * are dropped by Spark's watermark machinery, the standard contract).
    * Events exactly at the watermark boundary may land on either side of a
    * closing session — inherent to micro-batched watermarks.
    *
    * A never-idle key (events forever within the gap) would otherwise grow
    * ONE session without bound and never emit it: `maxSessionDurationSeconds`
    * / `maxSessionEvents` SEAL a session once it spans the cap — it stops
    * merging and extending, and the triggering arrival's successors open a
    * fresh session alongside. A sealed session still emits only when the
    * watermark passes its end + gap (never in-stream, so no unretractable
    * rows), which the never-idle key's own arrivals guarantee happens.
    * Documented split semantics: a late event that would have joined the
    * sealed span lands in a neighbouring session instead, so a capped key's
    * sessions partition what the uncapped operator would have reported as
    * one run (start/end bounds are exact per emitted row; only the
    * grouping splits).
    */
  def streamingSessionWindowsEventTime(events: Dataset[UserEvent],
      gapSeconds: Long = 1800,
      watermarkDelay: String = "10 seconds",
      maxSessionDurationSeconds: Option[Long] = None,
      maxSessionEvents: Option[Long] = None): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L
    val capMs = maxSessionDurationSeconds.map(_ * 1000L)
    require(capMs.forall(_ > 0), "maxSessionDurationSeconds must be positive")
    require(maxSessionEvents.forall(_ > 0), "maxSessionEvents must be positive")
    val processor =
      new org.apache.spark.sql.streaming.StatefulProcessor[
          Long, UserEvent, ClosedSession] {
        // all open (startMs, endMs, count, sealed) sessions of the key
        @transient private var sessions:
          org.apache.spark.sql.streaming.ListState[(Long, Long, Long, Boolean)] = _
        override def init(outputMode: OutputMode,
            timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
          sessions = getHandle.getListState[(Long, Long, Long, Boolean)]("sessions",
            org.apache.spark.sql.Encoders.product[(Long, Long, Long, Boolean)],
            org.apache.spark.sql.streaming.TTLConfig.NONE)
        private def deadline(ss: Seq[(Long, Long, Long, Boolean)]): Option[Long] =
          ss.map(_._2 + gapMs).minOption
        private def replace(ss: Seq[(Long, Long, Long, Boolean)]): Unit = {
          sessions.clear()
          ss.foreach(sessions.appendValue)
        }
        private def closed(key: Long, s: (Long, Long, Long, Boolean)) =
          ClosedSession(key, new Timestamp(s._1), new Timestamp(s._2), s._3)
        override def handleInputRows(key: Long, rows: Iterator[UserEvent],
            tv: org.apache.spark.sql.streaming.TimerValues)
            : Iterator[ClosedSession] = {
          var ss = sessions.get().toVector
          val oldDeadline = deadline(ss)
          rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId)).foreach { e =>
            val ms = e.ts.getTime
            // merge every UNSEALED session within gap of the event (one
            // event can bridge several); otherwise open a new one alongside
            val (overlap, rest) = ss.partition(s =>
              !s._4 && ms >= s._1 - gapMs && ms <= s._2 + gapMs)
            val merged =
              if (overlap.isEmpty) (ms, ms, 1L, false)
              else ((overlap.map(_._1) :+ ms).min,
                (overlap.map(_._2) :+ ms).max, overlap.map(_._3).sum + 1L, false)
            val seal = capMs.exists(c => merged._2 - merged._1 >= c) ||
              maxSessionEvents.exists(c => merged._3 >= c)
            ss = rest :+ merged.copy(_4 = seal)
          }
          replace(ss)
          val newDeadline = deadline(ss)
          if (newDeadline != oldDeadline) {
            oldDeadline.foreach(getHandle.deleteTimer)
            newDeadline.foreach(getHandle.registerTimer)
          }
          Iterator.empty // closes are watermark-driven only
        }
        override def handleExpiredTimer(key: Long,
            tv: org.apache.spark.sql.streaming.TimerValues,
            info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
            : Iterator[ClosedSession] = {
          val wm = tv.getCurrentWatermarkInMs
          val (done, open) = sessions.get().toVector
            .partition(s => s._2 + gapMs <= wm)
          replace(open)
          deadline(open).foreach(getHandle.registerTimer)
          done.sortBy(_._1).iterator.map(closed(key, _))
        }
      }
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .transformWithState(processor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** one finalized CUSUM day for an event type */
  final case class CusumDay(eventType: String, dayEpoch: Long, c: Long,
      cusum: Long, alarm: Boolean)

  /** per-type CUSUM state: last finalized day, running S, open day counts
    * (as pairs — the state-store Avro encoder has no MapType)
    */
  final case class CusumState(lastDay: Long, s: Long, open: Seq[(Long, Long)])

  /** Streaming one-sided CUSUM volume drift — the stateful twin of the
    * batch `ChangePoint.cusumDaily` (q153) against a FIXED target rate
    * (streaming can't know the corpus-wide mean; the target comes from the
    * batch op over history, the standard CUSUM deployment). Per event
    * type: day counts accumulate in state; a day FINALIZES only when the
    * watermark passes its end (the round-7 sessionizer lesson — no
    * arrival-order closes), applying `S = max(0, S + c − target)` and
    * emitting one Append-mode row with `alarm = S·10⁶ ≥ hPpm·target`.
    * Days with ZERO events between finalized and open days finalize too —
    * a feed going silent drives S via `−target` per missing day, which is
    * exactly the collapse alarm a volume monitor exists for (trailing
    * silence past the last event can't finalize until some event advances
    * the watermark — the watermark contract, documented).
    *
    * Late events for an already-finalized day are dropped (Append-mode
    * contract, same as the other twins). State per type: open-day count
    * map bounded by days-per-watermark-delay, sharded by type.
    */
  def streamingCusumDaily(events: Dataset[TypedUserEvent], targetPerDay: Long,
      hPpm: Long, watermarkDelay: String = "10 seconds"): Dataset[CusumDay] = {
    require(targetPerDay > 0, s"targetPerDay must be > 0, got $targetPerDay")
    require(hPpm > 0, s"hPpm must be > 0, got $hPpm")
    import events.sparkSession.implicits._
    val dayMs = 86400000L
    val processor =
      new org.apache.spark.sql.streaming.StatefulProcessor[
          String, TypedUserEvent, CusumDay] {
        @transient private var st:
          org.apache.spark.sql.streaming.ValueState[CusumState] = _
        override def init(outputMode: OutputMode,
            timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
          st = getHandle.getValueState[CusumState]("cusum",
            org.apache.spark.sql.Encoders.product[CusumState],
            org.apache.spark.sql.streaming.TTLConfig.NONE)
        // the next day to finalize: the first data day, then strictly
        // sequential (gap days included) — open only ever holds days > lastDay
        private def nextDay(s: CusumState): Long =
          if (s.lastDay == Long.MinValue) s.open.map(_._1).min else s.lastDay + 1
        private def deadline(s: CusumState): Option[Long] =
          if (s.open.isEmpty) None else Some((nextDay(s) + 1) * dayMs)
        override def handleInputRows(key: String, rows: Iterator[TypedUserEvent],
            tv: org.apache.spark.sql.streaming.TimerValues)
            : Iterator[CusumDay] = {
          val cur = if (st.exists()) st.get()
            else CusumState(Long.MinValue, 0L, Seq.empty)
          val oldDeadline = deadline(cur)
          var open = cur.open.toMap
          rows.foreach { e =>
            val d = Math.floorDiv(e.ts.getTime, dayMs)
            if (cur.lastDay == Long.MinValue || d > cur.lastDay)
              open = open.updated(d, open.getOrElse(d, 0L) + 1L)
          }
          val next = cur.copy(open = open.toSeq.sorted)
          st.update(next)
          val newDeadline = deadline(next)
          if (newDeadline != oldDeadline) {
            oldDeadline.foreach(getHandle.deleteTimer)
            newDeadline.foreach(getHandle.registerTimer)
          }
          Iterator.empty // finalization is watermark-driven only
        }
        override def handleExpiredTimer(key: String,
            tv: org.apache.spark.sql.streaming.TimerValues,
            info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
            : Iterator[CusumDay] = {
          val wm = tv.getCurrentWatermarkInMs
          val cur = if (st.exists()) st.get()
            else CusumState(Long.MinValue, 0L, Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumDay]
          var lastDay = cur.lastDay
          var s = cur.s
          var open = cur.open.toMap
          // finalize every day whose end the watermark passed, zero-count
          // gap days included; the horizon is bounded by the open days
          while (open.nonEmpty &&
              (nextDay(CusumState(lastDay, s, open.toSeq)) + 1) * dayMs <= wm) {
            val d = nextDay(CusumState(lastDay, s, open.toSeq))
            val c = open.getOrElse(d, 0L)
            s = math.max(0L, s + c - targetPerDay)
            out += CusumDay(key, d, c, s, s * 1000000L >= hPpm * targetPerDay)
            open = open - d
            lastDay = d
          }
          val next = CusumState(lastDay, s, open.toSeq.sorted)
          st.update(next)
          deadline(next).foreach(getHandle.registerTimer)
          out.iterator
        }
      }
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.eventType)
      .transformWithState(processor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** one finalized SPRT test day for an event type; `decision` is
    * "continue" until the cumulative walk first crosses a Wald boundary,
    * then "reject_h0"/"accept_h0" on the crossing day — the LAST row the
    * type emits (SPRT stops sampling at a decision)
    */
  final case class SprtDay(eventType: String, dayEpoch: Long, c: Long,
      llrMicro: Long, cumMicro: Long, decision: String)

  /** per-type SPRT state: last finalized day, cumulative LLR micro-nats,
    * decided flag, open day counts (pairs — no MapType in the state
    * encoder)
    */
  final case class SprtState(lastDay: Long, cumMicro: Long,
      decided: Boolean, open: Seq[(Long, Long)])

  /** Streaming Wald SPRT volume drift — the stateful twin of the batch
    * `ChangePoint.sprtDaily` (q220) against FIXED hypotheses (streaming
    * can't calibrate the baseline week; `lam0Micro` comes from the batch
    * op over history, exactly like [[streamingCusumDaily]]'s target).
    * H0: Poisson rate λ0 = lam0Micro/10⁶ per day; H1: 1.5·λ0; α = β =
    * 0.05. Day finalization machinery identical to the CUSUM twin
    * (watermark-driven, strictly sequential, zero-count gap days
    * included). Each finalized day appends
    * `llr = round((c·ln1.5 − 0.5·λ0)·10⁶)` to the walk and emits one row;
    * the first boundary crossing emits its decision and the type STOPS
    * (SPRT's stopping rule — later days neither emit nor walk). The
    * per-day double arithmetic matches the batch op bit-for-bit when
    * lam0Micro/10⁶ reproduces the batch λ0 exactly (StreamingSpec pins
    * the shared-scenario equality).
    *
    * State retention: a decided key keeps a minimal tombstone
    * (two longs + a flag, empty day map) so the stop rule holds forever —
    * clearing it outright would let the NEXT arrival recreate fresh state
    * and restart the walk, violating the pinned stop contract. With an
    * unbounded event-type keyspace that tombstone set grows monotonically
    * (round-13 advice), so `decidedRetention` bounds it: when set, the
    * decision registers one EVENT-TIME timer at decision-day end +
    * retention, and its firing clears the key's state entirely (Spark
    * forbids state TTL in EventTime mode —
    * STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL — so retention
    * rides the same timer mechanism the day-close logic uses). Events
    * arriving after the horizon begin a fresh, independent test — Wald's
    * repeated-test regime, the standard production trade for perpetual
    * monitoring. Default None preserves exact stop-forever semantics.
    */
  def streamingSprtDaily(events: Dataset[TypedUserEvent], lam0Micro: Long,
      watermarkDelay: String = "10 seconds",
      decidedRetention: Option[java.time.Duration] = None): Dataset[SprtDay] = {
    require(lam0Micro >= 0, s"lam0Micro must be >= 0, got $lam0Micro")
    import events.sparkSession.implicits._
    val dayMs = 86400000L
    val lnRatio = math.log(1.5)
    val aMicro = math.round(math.log(19.0) * 1e6)
    val lam0 = lam0Micro.toDouble / 1e6
    val processor =
      new org.apache.spark.sql.streaming.StatefulProcessor[
          String, TypedUserEvent, SprtDay] {
        @transient private var st:
          org.apache.spark.sql.streaming.ValueState[SprtState] = _
        override def init(outputMode: OutputMode,
            timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
          st = getHandle.getValueState[SprtState]("sprt",
            org.apache.spark.sql.Encoders.product[SprtState],
            org.apache.spark.sql.streaming.TTLConfig.NONE)
        private def nextDay(s: SprtState): Long =
          if (s.lastDay == Long.MinValue) s.open.map(_._1).min else s.lastDay + 1
        private def deadline(s: SprtState): Option[Long] =
          if (s.open.isEmpty || s.decided) None
          else Some((nextDay(s) + 1) * dayMs)
        override def handleInputRows(key: String,
            rows: Iterator[TypedUserEvent],
            tv: org.apache.spark.sql.streaming.TimerValues)
            : Iterator[SprtDay] = {
          val cur = if (st.exists()) st.get()
            else SprtState(Long.MinValue, 0L, decided = false, Seq.empty)
          val oldDeadline = deadline(cur)
          var open = cur.open.toMap
          if (!cur.decided) rows.foreach { e =>
            val d = Math.floorDiv(e.ts.getTime, dayMs)
            if (cur.lastDay == Long.MinValue || d > cur.lastDay)
              open = open.updated(d, open.getOrElse(d, 0L) + 1L)
          }
          // decided keys: drop the rows without touching state or timers —
          // the pending decidedRetention timer (if configured) must stay
          // armed so hot decided tombstones still expire on schedule
          if (!cur.decided) {
            val next = cur.copy(open = open.toSeq.sorted)
            st.update(next)
            val newDeadline = deadline(next)
            if (newDeadline != oldDeadline) {
              oldDeadline.foreach(getHandle.deleteTimer)
              newDeadline.foreach(getHandle.registerTimer)
            }
          }
          Iterator.empty
        }
        override def handleExpiredTimer(key: String,
            tv: org.apache.spark.sql.streaming.TimerValues,
            info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
            : Iterator[SprtDay] = {
          val wm = tv.getCurrentWatermarkInMs
          val cur = if (st.exists()) st.get()
            else SprtState(Long.MinValue, 0L, decided = false, Seq.empty)
          // a decided key holds no day-close deadline: the only timer that
          // can fire is the decidedRetention one — evict the tombstone
          // (a later arrival begins a fresh, independent test epoch)
          if (cur.decided) { st.clear(); return Iterator.empty }
          val out = scala.collection.mutable.ArrayBuffer.empty[SprtDay]
          var open = cur.open.toMap
          var lastDay = cur.lastDay
          var cum = cur.cumMicro
          var decided = cur.decided
          // finalize every sequential day whose end the watermark passed
          while (!decided && open.nonEmpty && {
            val d = if (lastDay == Long.MinValue) open.keysIterator.min
              else lastDay + 1
            (d + 1) * dayMs <= wm
          }) {
            val d = if (lastDay == Long.MinValue) open.keysIterator.min
              else lastDay + 1
            val c = open.getOrElse(d, 0L)
            val llr = math.round(
              (c.toDouble * lnRatio - 0.5 * lam0) * 1e6)
            cum += llr
            val dec = if (cum >= aMicro) "reject_h0"
              else if (cum <= -aMicro) "accept_h0" else "continue"
            out += SprtDay(key, d, c, llr, cum, dec)
            decided = dec != "continue"
            open = open - d
            lastDay = d
          }
          val next = SprtState(lastDay, cum, decided,
            if (decided) Seq.empty else open.toSeq.sorted)
          st.update(next)
          deadline(next).foreach(getHandle.registerTimer)
          // arm the tombstone-eviction timer at decision-day end +
          // retention (event time; state TTL is unavailable in this mode)
          if (decided) decidedRetention.foreach(r =>
            getHandle.registerTimer((lastDay + 1) * dayMs + r.toMillis))
          out.iterator
        }
      }
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.eventType)
      .transformWithState(processor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Stream record batches into a Reservoir: each micro-batch runs the SAME
    * idempotent ingest the batch path uses (MERGE by natural key +
    * incremental clusterize), so an at-least-once replay after restart
    * converges to the same store — the streaming twin of the reference's
    * ingest pipeline, wired through foreachBatch. Expects the batch-ingest
    * schema (localId, sourceId, sourceVersion, payloadJson, delete).
    * Set `checkpointDir` on a real cluster so offsets survive restarts.
    */
  def streamIntoReservoir(records: DataFrame, reservoir: graft.api.Reservoir,
      localIdPath: Option[String] = None,
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val base = records.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { reservoir.ingest(batch, localIdPath); () }
      }
    checkpointDir.fold(base)(d => base.option("checkpointLocation", d)).start()
  }

  /** Stream documents into a versioned corpus store: each micro-batch
    * lands as the next Catalog snapshot via
    * [[graft.storage.CorpusStore.ingestBatch]] — the batch pipeline's
    * terminal TABLE (q216) gets its streaming twin, closing the T3/T6
    * semantics at the storage layer. Batch-id replays after an
    * at-least-once restart are skipped by the store's high-water mark, so
    * snapshot versions are MONOTONE and each batch commits once
    * (StreamingSpec pins monotonicity under replay). Set `checkpointDir`
    * in production so batch ids survive restarts — a fresh query without
    * a checkpoint restarts ids at 0, which the high-water mark would
    * treat as replays of an old run; use a fresh table (or checkpoint)
    * per logical stream. Expects (idCol, sourceCol, textCol) rows. The
    * store's bucket layout grows with its bytes inside the commits
    * themselves, so a long-lived stream needs no maintenance pass.
    */
  def streamIntoCorpusStore(records: DataFrame,
      cat: graft.storage.Catalog, table: String, idCol: String,
      textCol: String, sourceCol: String, minWords: Int = 50,
      minDocs: Int = 2, winnowW: Int = 8, buckets: Int = 0,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val base = records.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.storage.CorpusStore.ingestBatch(cat, table, batch, batchId,
          idCol, textCol, sourceCol, minWords, minDocs, winnowW, buckets)
        ()
      }
    checkpointDir.fold(base)(d => base.option("checkpointLocation", d)).start()
  }

  /** one observed item on a keyed stream (heavy-hitters input) */
  final case class ItemEvent(source: String, item: String)

  /** a heavy-hitter snapshot row: the sketch state for `source` after its
    * `batchSeq`-th micro-batch; `minCount` is the Misra-Gries lower-ish
    * estimate (underestimates by at most n/(k+1)) */
  final case class HeavyHitter(source: String, batchSeq: Long, item: String,
      minCount: Long)

  /** per-source sketch state (public: Catalyst codegen needs the accessors) */
  final case class MgState(seq: Long, counters: Map[String, Long])

  /** Streaming per-source heavy hitters — the stateful twin of the batch
    * [[graft.operators.MisraGriesAgg]] sketch (q50's beyond-memory
    * alternative): state per source is the SAME bounded k-counter summary
    * (the fold is delegated to the batch Aggregator's `reduce`, so the
    * two can't drift), each micro-batch folds its arrivals in
    * deterministic (item) order and emits the post-batch snapshot tagged
    * with a per-source batch ordinal. The sketch guarantees carry over:
    * every item over the running n/(k+1) threshold is present, counts
    * underestimate by at most n/(k+1). State is O(k) per source, sharded
    * by source — the live "top talkers per feed" panel at any scale.
    */
  def streamingHeavyHitters(events: Dataset[ItemEvent],
      k: Int): Dataset[HeavyHitter] = {
    require(k > 0, s"k must be positive, got $k")
    import events.sparkSession.implicits._
    val agg = new graft.operators.MisraGriesAgg(k)
    events
      .groupByKey(_.source)
      .flatMapGroupsWithState[MgState, HeavyHitter](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (source, batch, state: GroupState[MgState]) =>
          val prev = state.getOption.getOrElse(MgState(0L, Map.empty))
          val buf = scala.collection.mutable.Map.empty[String, Long]
          prev.counters.foreach { case (kk, v) => buf.update(kk, v) }
          batch.toSeq.map(_.item).sorted.foreach(agg.reduce(buf, _))
          val next = MgState(prev.seq + 1, buf.toMap)
          state.update(next)
          next.counters.toSeq.sortBy(_._1).iterator.map { case (item, c) =>
            HeavyHitter(source, next.seq, item, c)
          }
      }
  }

  /** run a streaming frame to a named in-memory sink until drained (local
    * verification path; on a cluster this would be writeStream to the
    * catalog with checkpointLocation)
    */
  def runToMemory(df: DataFrame, name: String,
      outputMode: OutputMode = OutputMode.Append()): Unit = {
    val q = df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }
}
