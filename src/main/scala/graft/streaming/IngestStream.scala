package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** §2 H — the reference's queue-consumer dataflow as Structured
  * Streaming. ref ingest.py:41-207: receive message → track per-asset
  * stage/progress (downloaded → processing → processed), publish every
  * transition, time out stuck ingests (INGEST_TIMEOUT) as Cancelled,
  * dead-letter errors.
  *
  * The batch analogs (a6 q_stage_latest, c7 q_events_window) carry the
  * DuckDB oracle; these streaming versions are exercised with
  * MemoryStream in StreamingSpec. State is keyed by asset url ⇒ hash
  * partitioning spreads 100 TB of in-flight assets over executors, and
  * watermarks bound state size.
  */
object IngestStream {

  /** one queue/pub-sub message about an asset */
  case class IngestEvent(url: String, user: String, stage: String,
      progress: Int, eventTimeMs: Long)

  /** per-asset ingest state (the reference's blob metadata) */
  case class IngestState(url: String, user: String, stage: String,
      progress: Int, lastUpdateMs: Long)

  /** emitted on every transition (the reference's pub/sub payload) */
  case class StageUpdate(url: String, user: String, stage: String,
      progress: Int, lastUpdateMs: Long)

  /** stage precedence: a late-arriving lower stage never regresses the
    * asset (the reference's metadata writes are monotonic in practice
    * because processing is sequential; distributed ingest must enforce
    * it). Cancelled is terminal. */
  private val rank = Map("queued" -> 0, "downloaded" -> 1,
    "processing" -> 2, "processed" -> 3, "Cancelled" -> 4)

  val IngestTimeoutMs: Long = 3600 * 1000L // ref ingest.py:35 INGEST_TIMEOUT

  def updateState(url: String, events: Iterator[IngestEvent],
      state: GroupState[IngestState]): Iterator[StageUpdate] =
    updateStateImpl(eventTime = false)(url, events, state)

  /** event-time twin of [[updateState]]: the timeout clock is the
    * stream's watermark, not wall-clock — a stuck ingest is Cancelled
    * once the watermark passes lastUpdate + INGEST_TIMEOUT. Replayable
    * (reprocessing old data times out the same assets at the same
    * points), which wall-clock timeouts are not. */
  def updateStateEventTime(url: String, events: Iterator[IngestEvent],
      state: GroupState[IngestState]): Iterator[StageUpdate] =
    updateStateImpl(eventTime = true)(url, events, state)

  private def updateStateImpl(eventTime: Boolean)(url: String,
      events: Iterator[IngestEvent],
      state: GroupState[IngestState]): Iterator[StageUpdate] = {
    if (state.hasTimedOut) {
      // ref ingest.py:131-152: hard timeout ⇒ Cancelled @100, error blob
      val s = state.get
      val cancelled = s.copy(stage = "Cancelled", progress = 100)
      state.remove()
      return Iterator(StageUpdate(cancelled.url, cancelled.user,
        cancelled.stage, cancelled.progress, cancelled.lastUpdateMs))
    }
    val sorted = events.toSeq.sortBy(e => (e.eventTimeMs, rank.getOrElse(e.stage, -1)))
    var cur = state.getOption
    val out = Seq.newBuilder[StageUpdate]
    sorted.foreach { e =>
      val accept = cur match {
        case Some(s) =>
          rank.getOrElse(e.stage, -1) >= rank.getOrElse(s.stage, -1) &&
            s.stage != "Cancelled" && s.stage != "processed"
        case None => true
      }
      if (accept) {
        val progress =
          if (e.stage == "processed" || e.stage == "Cancelled") 100
          else math.max(e.progress, cur.map(_.progress).getOrElse(0))
        val next = IngestState(e.url, e.user, e.stage, progress, e.eventTimeMs)
        if (cur.forall(s => s.stage != next.stage || s.progress != next.progress))
          out += StageUpdate(next.url, next.user, next.stage, next.progress, next.lastUpdateMs)
        cur = Some(next)
      }
    }
    cur match {
      case Some(s) if s.stage == "processed" || s.stage == "Cancelled" =>
        state.remove() // terminal: free the state (bounded memory at scale)
      case Some(s) =>
        state.update(s)
        if (eventTime) {
          // watermark-driven: fire when event time passes the horizon.
          // A deeply-late event whose horizon already passed times out
          // at the current watermark (the engine rejects timestamps
          // behind the watermark).
          val horizon = s.lastUpdateMs + IngestTimeoutMs
          val wm = state.getCurrentWatermarkMs()
          state.setTimeoutTimestamp(math.max(horizon, wm + 1))
        } else {
          // NoTimeout (tests) doesn't support timeout durations
          try state.setTimeoutDuration(IngestTimeoutMs)
          catch { case _: UnsupportedOperationException => () }
        }
      case None => ()
    }
    out.result().iterator
  }

  /** h1 — per-asset stage state machine over a stream of ingest events.
    * Production uses ProcessingTimeTimeout so stuck ingests get
    * Cancelled after INGEST_TIMEOUT; tests pass NoTimeout because the
    * timeout trigger makes the engine run continuous empty microbatches
    * (each checkpointing state), which never settles under
    * processAllAvailable. */
  def stageStateMachine(events: Dataset[IngestEvent],
      timeoutConf: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout): Dataset[StageUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.url)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(updateState)
  }

  /** h1 (event-time variant) — same state machine, but the
    * INGEST_TIMEOUT clock is the watermark: deterministic under replay
    * and testable with MemoryStream (the ProcessingTimeTimeout trigger
    * never settles under processAllAvailable — see above). The
    * watermark delay bounds how long late events are honored before a
    * stuck asset can be declared Cancelled. */
  /** [[IngestEvent]] plus its watermark column: the event-time
    * attribute must survive into the grouping input or the engine
    * cannot see the watermark (UnsupportedOperationChecker reads the
    * delay metadata off the child's output attributes). */
  case class IngestEventTs(url: String, user: String, stage: String,
      progress: Int, eventTimeMs: Long, ts: java.sql.Timestamp)

  def stageStateMachineEventTime(events: Dataset[IngestEvent],
      watermarkDelay: String = "10 minutes"): Dataset[StageUpdate] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withColumn("ts", timestamp_millis(col("eventTimeMs")))
      .withWatermark("ts", watermarkDelay)
      .as[IngestEventTs]
      .groupByKey(_.url)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        (url: String, evs: Iterator[IngestEventTs], state: GroupState[IngestState]) =>
          updateStateEventTime(url,
            evs.map(e => IngestEvent(e.url, e.user, e.stage, e.progress, e.eventTimeMs)),
            state)
      }
  }

  /** a cancel message from the pub/sub channel (ref utils.py:126-131) */
  case class CancelMsg(url: String, cancelTimeMs: Long)

  /** h3 — streaming cancel matching (stream-stream twin of the batch
    * a7 left-semi join): cancel messages arrive on their OWN stream
    * and apply to ingest events with the same url whose cancel arrives
    * within the 1h ingest timeout after the event. Both sides carry
    * watermarks and the join has a time-range bound, so Spark can
    * evict join state — without them, 100 TB of history accumulates
    * in the state store. Inner join ⇒ matches emit as soon as both
    * sides arrive (no watermark wait). */
  def cancelJoin(ingests: Dataset[IngestEvent], cancels: Dataset[CancelMsg]): DataFrame = {
    val i = ingests.toDF()
      .withColumn("ing_ts", timestamp_millis(col("eventTimeMs")))
      .withWatermark("ing_ts", "1 hour")
      .select(col("url"), col("user"), col("stage"), col("ing_ts"))
    val c = cancels.toDF()
      .withColumn("cancel_ts", timestamp_millis(col("cancelTimeMs")))
      .withWatermark("cancel_ts", "1 hour")
      .select(col("url").as("cancel_url"), col("cancel_ts"))
    i.join(c,
      col("url") === col("cancel_url") &&
        col("cancel_ts") >= col("ing_ts") &&
        col("cancel_ts") <= col("ing_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("url"), col("user"), col("stage"), col("ing_ts"), col("cancel_ts"))
  }

  /** per-user running ingest-session summary (h4 output) */
  case class UserSession(user: String, nEvents: Int, firstMs: Long, lastMs: Long)

  /** h4 — per-user session tracking via mapGroupsWithState (the
    * one-output-per-group-per-batch sibling of h1's flatMap variant;
    * streaming twin of the batch c8 sessionize): accumulates event
    * count and first/last timestamps per user across batches. Update
    * output mode — each batch re-emits the group's current summary.
    * State is one small record per active user, hash-partitioned. */
  def userSessions(events: Dataset[IngestEvent]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: String, evs: Iterator[IngestEvent], state: GroupState[UserSession]) =>
          val batch = evs.toSeq
          val prev = state.getOption.getOrElse(
            UserSession(user, 0, Long.MaxValue, Long.MinValue))
          val next = UserSession(user,
            prev.nEvents + batch.size,
            math.min(prev.firstMs, batch.map(_.eventTimeMs).min),
            math.max(prev.lastMs, batch.map(_.eventTimeMs).max))
          state.update(next)
          next
      }
  }

  /** h5 — streaming exact dedup (the LLM-pipeline ingest guard): drop
    * re-deliveries of the same content key as documents stream in.
    * dropDuplicatesWithinWatermark bounds the key state to the
    * watermark horizon — unbounded-history dedup state is exactly what
    * kills a 100 TB stream; beyond the horizon the batch d1 operator
    * owns exact dedup. */
  def streamingDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("ts", timestamp_millis(col("eventTimeMs")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("contentKey")

  case class ParaOcc(docId: Long, idx: Long, h: String, pw: Long)
  case class ParaVerdict(docId: Long, idx: Long, h: String, kept: Boolean)

  /** h35 — streaming PARAGRAPH dedup guard: the keep-first-corpus-wide
    * rule of the batch d25 (CCNet paragraph dedup) applied as documents
    * stream in. Occurrences of one paragraph key group under
    * flatMapGroupsWithState; the state is ONE packed long per DISTINCT
    * paragraph — the first (doc_id, idx) admitted. The admitted
    * occurrence within a batch is SELECTED BY KEY (the min packed
    * (doc_id, idx)), never by iterator position: Spark does not
    * guarantee same-key row order across the groupByKey shuffle (rows
    * arriving from multiple input partitions concatenate in
    * shuffle-fetch order), so the admitted set is identical under any
    * batching AND any partition-interleaving and equals the batch
    * d25's keep-first exactly (spec-proven on adversarial re-batchings
    * and a reversed-feed batch). State
    * cardinality = distinct paragraphs — the same side the batch pair
    * graph carries; production backs it with RocksDB (h12) and ages
    * the roster by watermark, with the batch d25 owning history beyond
    * the horizon (h5/h22's division of labor). */
  def streamingParagraphGuard(paras: Dataset[ParaOcc]): Dataset[ParaVerdict] = {
    import paras.sparkSession.implicits._
    paras.groupByKey(_.h)
      .flatMapGroupsWithState[Long, ParaVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (h: String, it: Iterator[ParaOcc], state: GroupState[Long]) =>
          // One buffered pass, NO sort: the admitted occurrence is the
          // min-packed (doc_id, idx) — an O(n) selection — because the
          // group iterator's same-key order is shuffle-fetch order,
          // not feed order, once occurrences arrive from more than one
          // input partition. The buffer holds one key's occurrences of
          // ONE micro-batch (not history — that's the packed-long
          // state), so the bounded-state argument is untouched; only
          // the previous O(n log n) whole-group sort stays dead.
          val occs = it.toArray
          if (occs.isEmpty) Iterator.empty
          else {
            var minI = 0
            var i = 1
            while (i < occs.length) {
              if (occs(i).docId * 4294967296L + occs(i).idx <
                  occs(minI).docId * 4294967296L + occs(minI).idx) minI = i
              i += 1
            }
            val kept = state.getOption.isEmpty
            if (kept) state.update(occs(minI).docId * 4294967296L + occs(minI).idx)
            val mi = minI
            occs.iterator.zipWithIndex.map { case (p, j) =>
              ParaVerdict(p.docId, p.idx, p.h, kept && j == mi)
            }
          }
      }
  }

  case class AttemptEvent(msgId: Long, seq: Long, acked: Boolean)
  case class MsgVerdict(msgId: Long, deliveries: Long, outcome: String)

  /** h41 — streaming REDELIVERY monitor (a31's closed-form arithmetic
    * as live state — the dead-letter decision the queue actually makes
    * attempt by attempt): delivery attempts for one message group
    * under flatMapGroupsWithState; the state is ONE long — failed
    * attempts so far, or the terminal tombstone once a verdict emitted
    * (h1's rule: post-terminal attempts are redelivery echoes and must
    * not re-verdict). An ack terminates with `done` at its attempt
    * count; the 5th failure terminates with `deadletter` (the a8
    * hand-off). Within a batch attempts order by seq — BY KEY, not
    * arrival position (h35's discipline) — so the verdict set is
    * batching-invariant; RedeliveryStreamSpec pins the bucket rollup
    * equal to a31's table and the tombstone against post-terminal
    * echoes. */
  def streamingRedelivery(attempts: Dataset[AttemptEvent]): Dataset[MsgVerdict] = {
    import attempts.sparkSession.implicits._
    attempts.groupByKey(_.msgId)
      .flatMapGroupsWithState[Long, MsgVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (id: Long, it: Iterator[AttemptEvent], state: GroupState[Long]) =>
          val evs = it.toArray.sortBy(_.seq)
          var n = state.getOption.getOrElse(0L) // -1 = terminal emitted
          val out = Vector.newBuilder[MsgVerdict]
          evs.foreach { e =>
            if (n >= 0L) {
              if (e.acked) { out += MsgVerdict(id, n + 1, "done"); n = -1L }
              else {
                n += 1L
                if (n >= 5L) { out += MsgVerdict(id, 5L, "deadletter"); n = -1L }
              }
            }
          }
          state.update(n)
          out.result().iterator
      }
  }

  case class MetaWrite(asset: String, key: String, ms: Long,
      eventId: Long, writer: Int)
  case class MetaState(kv: Map[String, (Long, Long, Int)])
  case class MetaView(asset: String, key: String, ms: Long,
      eventId: Long, writer: Int)

  /** h40 — streaming METADATA MERGE, lease-serialized (a29's batch op
    * quantifies what LEASELESS read-modify-write corrupts; this is the
    * CORRECT path the reference's lease buys, live: per-asset writes
    * apply in total (ts, event) order, each write merging ONLY its
    * key — the per-key last-writer-wins dict a29 computes as `lww_*`):
    * one group per asset under flatMapGroupsWithState, state = the
    * metadata dict itself (key → winning (ms, event, writer) — bounded
    * by the key vocabulary, never write history). Writes order by
    * (ms, eventId) within the batch BY KEY, not arrival position
    * (h35's discipline), and a stale write (older than the key's
    * current winner — a cross-batch straggler) is a no-op exactly as
    * the serialized merge makes it. Emission per touched key per
    * batch (Update mode — the dashboard reads the dict's current
    * rows); MetaStreamSpec pins final-state parity with a29's lww
    * columns under adversarial re-batchings. */
  def streamingMetaMerge(writes: Dataset[MetaWrite]): Dataset[MetaView] = {
    import writes.sparkSession.implicits._
    writes.groupByKey(_.asset)
      .flatMapGroupsWithState[MetaState, MetaView](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (asset: String, it: Iterator[MetaWrite], state: GroupState[MetaState]) =>
          val ws = it.toArray.sortBy(w => (w.ms, w.eventId))
          var kv = state.getOption.map(_.kv).getOrElse(Map.empty)
          val touched = scala.collection.mutable.LinkedHashSet.empty[String]
          ws.foreach { w =>
            val better = kv.get(w.key).forall { case (ms, eid, _) =>
              ms < w.ms || (ms == w.ms && eid < w.eventId)
            }
            if (better) { kv = kv.updated(w.key, (w.ms, w.eventId, w.writer)); touched += w.key }
          }
          state.update(MetaState(kv))
          touched.iterator.map { k =>
            val (ms, eid, wr) = kv(k); MetaView(asset, k, ms, eid, wr)
          }
      }
  }

  case class GroupEvent(kind: String, subId: Long, watchUser: Long, ms: Long)
  case class Delivery(subId: Long, watchUser: Long, ms: Long)
  case class Roster(members: Map[Long, Long])

  /** h39 — streaming GROUP-MEMBERSHIP churn (a30's lifecycle window
    * LIVE — ref wsockets/client_sub.py: subscribers JOIN their
    * per-user group mid-stream and receive from join time only,
    * nothing after they LEAVE; a16/h13 model delivery and the loop,
    * this models the roster itself changing under the stream): one
    * group per watched user under flatMapGroupsWithState, state = the
    * OPEN roster (subId → joinMs — bounded by concurrent subscribers
    * per group, never message history). Within a batch the group's
    * events order by (ms, kind, subId) — join admits AT its ms, leave
    * excludes FROM its ms (the batch op's [join, leave) window), and
    * the sort is by KEY, not arrival position (h35's discipline: the
    * shuffled group iterator's order is not the feed's). Under an
    * event-time-ordered feed the delivered set is identical under any
    * batching and equals a30's window algebra exactly (parity spec on
    * adversarial re-batchings). Watermark-aged rosters + the batch
    * a30 own history beyond the horizon (h5/h22's division). */
  def streamingGroupChurn(events: Dataset[GroupEvent]): Dataset[Delivery] = {
    import events.sparkSession.implicits._
    // at one instant: joins admit (join_ms ≤ ms is INclusive), leaves
    // evict (ms < leave_ms is EXclusive), THEN messages fan out — the
    // tie order that reproduces the batch [join, leave) window exactly.
    // Unknown kinds rank (and, in the fold's `case _`, behave) as
    // messages: one malformed event must not kill the whole query
    // with a NoSuchElementException inside flatMapGroupsWithState.
    val kindOrd = Map("join" -> 0, "leave" -> 1, "msg" -> 2)
      .withDefaultValue(2)
    events.groupByKey(_.watchUser)
      .flatMapGroupsWithState[Roster, Delivery](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (wu: Long, it: Iterator[GroupEvent], state: GroupState[Roster]) =>
          val evs = it.toArray.sortBy(e => (e.ms, kindOrd(e.kind), e.subId))
          var roster = state.getOption.map(_.members).getOrElse(Map.empty[Long, Long])
          val out = Vector.newBuilder[Delivery]
          evs.foreach { e =>
            e.kind match {
              case "join"  => roster = roster.updated(e.subId, e.ms)
              case "leave" => roster = roster - e.subId
              case _       => roster.keysIterator.foreach { s =>
                out += Delivery(s, wu, e.ms)
              }
            }
          }
          state.update(Roster(roster))
          out.result().iterator
      }
  }

  case class DocVerdict(docId: Long, source: String, words: Long,
      gopherPass: Boolean, c4Kept: Boolean)
  case class SourceCard(source: String, version: Long, docs: Long,
      words: Long, gopherPassPpm: Long, c4KeepPpm: Long)
  case class CardState(version: Long, docs: Long, words: Long,
      passCnt: Long, keptCnt: Long)

  /** h36 — streaming per-source DATA CARD (f49's datasheet LIVE — the
    * per-source hygiene dashboard updating as documents land, so a
    * source whose pass rate collapses is cut before it poisons a
    * training mix): per-doc verdicts (computed upstream by the
    * stateless f46/f47 column chains — the h31/h34 argument: state
    * never sees text) fold into five mergeable longs per source; every
    * monotone counter makes the card after ANY batching equal the
    * batch f49 card exactly (parity spec). Emission per touched source
    * per batch with a version counter; ppm ratios re-derive from the
    * counters at emission (floor division — f49's exact algebra). */
  def streamingSourceCards(docs: Dataset[DocVerdict]): Dataset[SourceCard] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[CardState, SourceCard](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (source: String, it: Iterator[DocVerdict], state: GroupState[CardState]) =>
          var st = state.getOption.getOrElse(CardState(0L, 0L, 0L, 0L, 0L))
          it.foreach { d =>
            st = CardState(st.version, st.docs + 1, st.words + d.words,
              st.passCnt + (if (d.gopherPass) 1L else 0L),
              st.keptCnt + (if (d.c4Kept) 1L else 0L))
          }
          st = st.copy(version = st.version + 1)
          state.update(st)
          Iterator.single(SourceCard(source, st.version, st.docs, st.words,
            st.passCnt * 1000000L / st.docs, st.keptCnt * 1000000L / st.docs))
      }
  }

  /** one chunk completion OR a cancel on one asset's transform (h37) */
  case class ChunkMsg(url: String, kind: String, idx: Int, nchunks: Int,
      eventTimeMs: Long)
  /** per-asset abort state: terminal flag + the progress frozen at the
    * last chunk that completed before the abort */
  case class ChunkAbortState(cancelled: Boolean, doneCnt: Int,
      lastIdx: Int, lastProgress: Int)
  case class ChunkOut(url: String, kind: String, idx: Int, progress: Int,
      nMasked: Int)

  /** a5's compute_progress value at completion of chunk i of n (ref
    * utils.py:79-84): 30% download offset, the rest split evenly,
    * remainder on the last chunk (⇒ exactly 100). */
  private def chunkProgress(i: Int, n: Int): Int =
    if (i < n - 1) 30 + 70 / n * (i + 1)
    else 30 + 70 % n + 70 / n * (i + 1)

  /** h37 — MID-TRANSFORM COOPERATIVE CANCELLATION (ref
    * processing.py:446-467: `gdal_callback` / `TimeoutProgress` poll
    * the cancel/timeout event INSIDE a running GDAL op and abort it —
    * not between stages, mid-asset). h1 cancels between stages and h3
    * joins cancel messages to whole assets; this composes h1's
    * terminal-state discipline with a5's chunk schedule at CHUNK
    * granularity: chunk completions and cancels for one asset group
    * under one key, replay in EVENT-TIME order (a cancel sharing a
    * chunk's timestamp precedes it — the poll runs before the chunk's
    * write lands), and a cancel arriving MID-ASSET masks the asset's
    * remaining chunk outputs — in the SAME micro-batch and in every
    * later one (the terminal flag persists, h1's tombstone rule).
    * The abort verdict row freezes progress at the last completed
    * chunk (a5's exact formula) and accounts the chunks it masked.
    * Masking is event-time algebra, so the output set is identical
    * under ANY batching (ChunkStreamSpec: batch parity + kill/restart
    * parity — a state-lost restart would let post-kill chunks of a
    * cancelled asset through). Groups are bounded by the chunk plan
    * (≤ nchunks+cancels rows), so the per-batch sort is O(plan), not
    * O(stream); production ages tombstones by watermark with the
    * batch a7 owning history beyond the horizon. */
  def streamingChunkAbort(msgs: Dataset[ChunkMsg]): Dataset[ChunkOut] = {
    import msgs.sparkSession.implicits._
    msgs.groupByKey(_.url)
      .flatMapGroupsWithState[ChunkAbortState, ChunkOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (url: String, it: Iterator[ChunkMsg], state: GroupState[ChunkAbortState]) =>
          var s = state.getOption.getOrElse(ChunkAbortState(false, 0, -1, 30))
          val out = Seq.newBuilder[ChunkOut]
          it.toSeq.sortBy(m => (m.eventTimeMs, if (m.kind == "cancel") 0 else 1))
            .foreach { m =>
              if (m.kind == "cancel") {
                if (!s.cancelled) { // a second cancel is a no-op: terminal
                  out += ChunkOut(url, "cancelled", s.lastIdx, s.lastProgress,
                    m.nchunks - s.doneCnt)
                  s = s.copy(cancelled = true)
                }
              } else if (!s.cancelled) {
                val p = chunkProgress(m.idx, m.nchunks)
                out += ChunkOut(url, "chunk", m.idx, p, 0)
                s = ChunkAbortState(false, s.doneCnt + 1, m.idx, p)
              } // else: masked — the abort already took effect
            }
          state.update(s)
          out.result().iterator
      }
  }

  /** an arriving training doc (h38) */
  case class DocArrival(doc_id: Long, text: String)

  /** h38 — streaming DECONTAMINATION GUARD: f50's suite-contamination
    * rule at INGEST time (decontaminate-at-the-door — a training doc
    * that grazes an eval benchmark never lands, instead of being mined
    * out of the lake later). The eval-suite shingle index is
    * benchmark-sized and STATIC for a training run, so the guard is
    * completely STATELESS: the index folds to ONE row of
    * (suite, shingle-set) structs, broadcasts, and each arriving doc
    * is judged by an in-row `array_intersect` per suite — no streaming
    * aggregation, no state store, no watermark coupling; throughput is
    * the map-side shingle explode the batch f10/f50 already pay. The
    * verdict mirrors f50 exactly: contaminated iff ≥3 distinct shared
    * shingles with ANY suite's union index; the worst suite (max
    * shared, ties to the lexicographically smallest suite) rides along
    * for the audit trail. DecontamStreamSpec pins per-doc parity with
    * the batch rule (dropped set + max_shared values) and asserts the
    * query plans ZERO state operators. */
  def streamingDecontaminationGuard(docs: DataFrame, suiteIndex: DataFrame): DataFrame = {
    val dim = suiteIndex.groupBy("suite")
      .agg(collect_list(col("shingle")).as("sset"))
      .agg(collect_list(struct(col("suite"), col("sset"))).as("suites"))
    docs
      .withColumn("sh", expr(graft.functions.TextFns.shSpark))
      .crossJoin(broadcast(dim))
      .withColumn("worst", expr(
        """aggregate(
             transform(suites, s -> named_struct(
               'suite', s.suite,
               'shared', CAST(size(array_intersect(sh, s.sset)) AS INT))),
             named_struct('suite', '', 'shared', CAST(-1 AS INT)),
             (acc, h) -> IF(h.shared > acc.shared
                            OR (h.shared = acc.shared AND h.suite < acc.suite),
                          h, acc))"""))
      .select(col("doc_id"),
        col("worst.suite").as("worst_suite"),
        col("worst.shared").as("max_shared"),
        when(col("worst.shared") >= 3, "drop_contaminated")
          .otherwise("keep").as("verdict"))
  }

  /** h22 — streaming crawl-frontier URL guard: d15's canonicalizer
    * composed IN-STREAM with the h5 bounded-state dedup. Arriving URL
    * references (`raw`, event-time ms) canonicalize MAP-SIDE (the
    * same codegen'd chain as the batch d15 — scheme case, fragments,
    * utm_ params, trailing slash), then
    * `dropDuplicatesWithinWatermark` on the canonical key admits only
    * the FIRST reference per resource within the event-time horizon —
    * variant spellings of one URL arriving across micro-batches never
    * reach the fetcher twice, state stays bounded by the watermark,
    * and beyond the horizon the batch d15 owns dedup (h11's division
    * of labor). Output keeps both forms: the admitted raw spelling
    * plus its canonical key, which is what the frontier stores. */
  def streamingUrlGuard(refs: DataFrame): DataFrame =
    refs
      .withColumn("canon", graft.operators.Dedup.canonicalUrl(col("raw")))
      .withColumn("ts", timestamp_millis(col("eventTimeMs")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("canon")
      .select(col("canon"), col("raw"), col("ts"))

  /** h6 — native session windows: gap-based sessions (30 min
    * inactivity closes a session) via session_window — the streaming
    * twin of the batch c8 lag+cumsum sessionize. Sessions finalize
    * (Append emission) once the watermark passes their close; state
    * per open session only. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_millis(col("eventTimeMs")))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** per-shard heavy-hitter sketch emitted every batch (h8) */
  case class ShardSketch(shard: Int, counts: Map[String, Long], n: Long)

  /** h8 — streaming heavy hitters: the frequent users in the event
    * stream, tracked with BOUNDED state (the batch f17 sketch composed
    * with mapGroupsWithState). Naive streaming top-k keeps one counter
    * per distinct user — unbounded state, the thing that kills a
    * 100 TB stream. Here the stream shards by hash(user) % nShards
    * (each user lives in exactly ONE shard, so shard outputs merge by
    * plain union — no cross-shard counter addition needed) and each
    * shard's state is a Misra–Gries summary of ≤ cap counters: every
    * user exceeding shard_n/(cap+1) of their shard's stream is
    * guaranteed present, with counts underestimated by at most that
    * slack. Update-mode emission: every batch re-emits the shards it
    * touched, so a downstream reader always has the current sketch.
    * At scale: nShards ≈ executors × a small factor; state is
    * nShards × cap counters TOTAL regardless of user cardinality. */
  def frequentUsers(events: Dataset[IngestEvent], cap: Int,
      nShards: Int): Dataset[ShardSketch] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => math.floorMod(e.user.hashCode, nShards))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (shard: Int, evs: Iterator[IngestEvent], state: GroupState[ShardSketch]) =>
          var m = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
          var n = state.getOption.map(_.n).getOrElse(0L)
          evs.foreach { e =>
            n += 1
            m.get(e.user) match {
              case Some(c) => m = m.updated(e.user, c + 1)
              case None if m.size < cap => m = m.updated(e.user, 1L)
              case None => // decrement-all, drop zeros (classic MG step)
                m = m.collect { case (k, c) if c > 1 => k -> (c - 1) }
            }
          }
          val next = ShardSketch(shard, m, n)
          state.update(next)
          next
      }
  }

  /** one element of the h10 merged stream: tag 0 = a state UPDATE for
    * the key (new metadata version), tag 1 = a PROBE asking for the
    * latest state as of its time */
  case class KeyedElem(k: Long, t: Long, tag: Int,
      updateId: Long, payload: Double, probeId: Long)

  /** latest-known update per key — the ENTIRE state, one row per key */
  case class LatestUpdate(t: Long, updateId: Long, payload: Double)

  case class AsofMatch(probeId: Long, k: Long, t: Long,
      updateT: Long, updateId: Long, payload: Double)

  /** h10 — streaming as-of enrichment, the streaming twin of the c21
    * batch as-of join: probes (progress events) are answered with the
    * latest update (asset/metadata version) at-or-before their event
    * time, carried across micro-batches in keyed state. The state is
    * ONE row per key — the latest update — regardless of how many
    * updates the key has seen (bounded forever, spec-asserted), which
    * is what makes this viable where a stream-stream interval join
    * would buffer the whole update history inside the watermark.
    * In-batch ordering is restored by (t, tag) sort — updates apply
    * before same-time probes, c21's tie rule. Cross-batch the feed
    * must be in order per key (the queue source's per-key delivery
    * order); a straggler update arriving after a probe was answered
    * does not rewrite the emitted answer — the same
    * "latest-known-so-far" semantics the reference's progress
    * publishes have. */
  def streamingAsof(elems: Dataset[KeyedElem]): Dataset[AsofMatch] = {
    import elems.sparkSession.implicits._
    elems.groupByKey(_.k)
      .flatMapGroupsWithState[LatestUpdate, AsofMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (k: Long, it: Iterator[KeyedElem], state: GroupState[LatestUpdate]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofMatch]
          var latest = state.getOption
          it.toSeq.sortBy(e => (e.t, e.tag)).foreach { e =>
            if (e.tag == 0) {
              if (latest.forall(_.t <= e.t))
                latest = Some(LatestUpdate(e.t, e.updateId, e.payload))
            } else latest.filter(_.t <= e.t).foreach { s =>
              out += AsofMatch(e.probeId, k, e.t, s.t, s.updateId, s.payload)
            }
          }
          latest.foreach(state.update)
          out.iterator
      }
  }

  /** h9 — stream-static broadcast enrichment: every progress event
    * joins the (small, slowly-changing) user-profile dimension before
    * publish, the way the reference resolves the user's container/
    * folder from the blob URL on every message (ref utils.py path
    * algebra + fgb_upload per-user metadata). A stream-STATIC equi
    * join is STATELESS — no watermark, no state store, nothing to
    * grow over months of uptime — and with the dim broadcast it adds
    * zero shuffles to the stream side: each micro-batch is a map-only
    * hash probe. At 1000 executors the alternative (stream-stream
    * join, or keying state by user) would hold per-user state
    * forever for no reason; this shape is the right default for any
    * dimension that fits in memory. Unmatched users pass through
    * (left join) — enrichment must never drop progress events. */
  /** one behavioral event of the h15 funnel stream */
  case class FunnelEvent(userId: Long, eventId: Long, tMs: Long, eventType: String)

  /** per-user funnel progress — ONE row per seen user, forever; each
    * reached stage remembers its (t, eventId) so the strictly-after
    * rule is exact across batches */
  case class FunnelState(stage: Int, t1: Long, id1: Long,
      t2: Long, id2: Long, t3: Long, id3: Long)

  /** emitted once per stage ADVANCE (at most 3 per user ever) */
  case class FunnelUpdate(userId: Long, stage: Int, tMs: Long)

  /** h15 — funnel analysis IN-STREAM, the streaming twin of the c45
    * batch funnel: view → click → purchase per user, each stage
    * counting only if strictly after the previous stage's earliest
    * qualifying event in (t, eventId) order. State is one fixed-size
    * row per seen user (stage + three (t, id) pairs) — bounded by
    * user cardinality, NOT event volume, where an interval-join
    * formulation would buffer event history inside a watermark.
    * In-batch ordering is restored by the (t, eventId) sort (h10's
    * discipline); cross-batch the per-key feed must be in order (the
    * queue source's per-key delivery contract). Greedy first-match
    * equals c45's min-over-qualifying semantics exactly BECAUSE the
    * scan is in sorted order — FunnelStreamSpec proves batch/stream
    * parity on the real events table. */
  def streamingFunnel(events: Dataset[FunnelEvent]): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (u: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(0, 0L, 0L, 0L, 0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelUpdate]
          it.toSeq.sortBy(e => (e.tMs, e.eventId)).foreach { e =>
            def after(t: Long, id: Long) =
              e.tMs > t || (e.tMs == t && e.eventId > id)
            if (s.stage == 0 && e.eventType == "view") {
              s = FunnelState(1, e.tMs, e.eventId, 0L, 0L, 0L, 0L)
              out += FunnelUpdate(u, 1, e.tMs)
            } else if (s.stage == 1 && e.eventType == "click" && after(s.t1, s.id1)) {
              s = s.copy(stage = 2, t2 = e.tMs, id2 = e.eventId)
              out += FunnelUpdate(u, 2, e.tMs)
            } else if (s.stage == 2 && e.eventType == "purchase" && after(s.t2, s.id2)) {
              s = s.copy(stage = 3, t3 = e.tMs, id3 = e.eventId)
              out += FunnelUpdate(u, 3, e.tMs)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** one document of the h16 weighted-sample stream */
  case class WeightedDoc(docId: Long, lang: String, nChars: Long)

  /** per-stratum reservoir: the k smallest E-S priorities seen so far
    * — FIXED-SIZE state regardless of stream length */
  case class ReservoirState(version: Long, prios: Seq[Long], ids: Seq[Long])

  /** the stratum's current sample, re-emitted per batch that touches it */
  case class ReservoirOut(lang: String, version: Long, ids: Seq[Long])

  /** h16 — weighted sampling without replacement IN-STREAM, the
    * streaming twin of the f23 batch sampler: per stratum (lang),
    * keep the k docs with the smallest Efraimidis–Espirakis priority
    * (−ln(u)/w as the same exact integer floor-division f23 uses, u
    * from the deterministic md5 ticket). E-S priorities are
    * prefix-stable — an item is in the final sample iff its priority
    * is among the k smallest overall, regardless of arrival batching
    * — so the streaming reservoir converges to EXACTLY the batch
    * sample (spec-proven), while state is one fixed k-entry row per
    * stratum forever. This is how a continuous ingest keeps a live
    * training-mix sample without ever re-scanning the corpus.
    * (The per-element re-sort is fine at k=25; a production k would
    * use a bounded heap — same semantics.) */
  def streamingWeightedSample(docs: Dataset[WeightedDoc], k: Int): Dataset[ReservoirOut] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.lang)
      .mapGroupsWithState[ReservoirState, ReservoirOut](GroupStateTimeout.NoTimeout) {
        (lang: String, it: Iterator[WeightedDoc], state: GroupState[ReservoirState]) =>
          val cur = state.getOption.getOrElse(ReservoirState(0L, Nil, Nil))
          var entries = cur.prios.zip(cur.ids).toVector
          val md = java.security.MessageDigest.getInstance("MD5")
          it.foreach { d =>
            val hex = md.digest(d.docId.toString.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString.take(4)
            val t = Integer.parseInt(hex, 16)
            val negln = Math.round(-Math.log((t + 1) / 65536.0) * 1e6)
            val prio = Math.floorDiv(negln * 1000000000L, d.nChars)
            entries = ((prio, d.docId) +: entries).distinct.sorted.take(k)
          }
          val ns = ReservoirState(cur.version + 1, entries.map(_._1), entries.map(_._2))
          state.update(ns)
          ReservoirOut(lang, ns.version, entries.map(_._2))
      }
  }

  /** one tiled feature arriving on the ingest stream (h32) */
  case class TileFeature(eventId: Long, xt: Int, yt: Int)

  /** per-tile survivor set: the ≤cap smallest packed (drop_key, id)
    * values seen so far — fixed-size state per tile forever */
  case class TileCapState(version: Long, packed: Seq[Long])

  /** the tile's current survivor roster, re-emitted per touching batch */
  case class TileCapOut(xt: Int, yt: Int, version: Long,
      kept: Int, keptChecksum: Long)

  /** h32 — the per-tile feature cap IN-STREAM: b46's tippecanoe drop
    * (`--drop-densest-as-needed`, processing.py:244) as a continuous
    * query over the live ingest. Same selection rule as the batch op —
    * keep the cap features with the smallest packed
    * (event_id·2654435761 mod 1048573) · 2^43 + event_id — and that
    * rule is PREFIX-STABLE (an item survives iff its key is among the
    * cap smallest overall, independent of arrival batching), so the
    * streaming state converges to EXACTLY b46's batch survivors
    * (TileCapStreamSpec proves parity on the real events table under
    * adversarial batching). State is one ≤cap-long roster per tile —
    * bounded by the tile grid, never by stream volume — which is what
    * lets a live map service keep its low-zoom tiles within budget
    * without ever re-scanning the corpus. */
  def streamingTileCap(features: Dataset[TileFeature], cap: Int): Dataset[TileCapOut] = {
    import features.sparkSession.implicits._
    features.groupByKey(f => (f.xt, f.yt))
      .mapGroupsWithState[TileCapState, TileCapOut](GroupStateTimeout.NoTimeout) {
        (tile: (Int, Int), it: Iterator[TileFeature], state: GroupState[TileCapState]) =>
          val cur = state.getOption.getOrElse(TileCapState(0L, Nil))
          // one sort per batch over (state ∪ batch), then cut — the
          // merge a production cap would run on a bounded heap
          val batch = it.map { f =>
            (f.eventId * 2654435761L % 1048573L) * 8796093022208L + f.eventId
          }.toArray
          val merged = (cur.packed.toArray ++ batch).sorted.take(cap).toSeq
          val ns = TileCapState(cur.version + 1, merged)
          state.update(ns)
          TileCapOut(tile._1, tile._2, ns.version, merged.length,
            merged.map(_ % 8796093022208L).sum)
      }
  }

  /** the tile's current byte-budget cut, re-emitted per touching batch */
  case class TileBudgetOut(xt: Int, yt: Int, version: Long,
      kept: Long, keptBytes: Long, keptChecksum: Long)

  /** h33 — b49's tile-SIZE budget IN-STREAM: the same prefix-stability
    * argument as h32 (the packed (drop_key, id) order is arrival-
    * independent), applied to the byte cut — the roster state is the
    * ≤400 smallest packed values (400 = budget/min_bytes, b49's
    * admission ceiling), and each emission re-runs b49's stop-at-first-
    * overflow fold over the roster, every element's size recomputed
    * from the id it carries. Because the roster converges to the batch
    * top-400 and the cut is a pure function of the roster, the final
    * emission equals b49's batch survivors EXACTLY (TileBudgetStreamSpec
    * proves parity under adversarial batching). State stays one ≤400
    * roster per tile — grid-bounded forever. */
  def streamingTileBudget(features: Dataset[TileFeature]): Dataset[TileBudgetOut] = {
    import features.sparkSession.implicits._
    val budget = 20000L
    features.groupByKey(f => (f.xt, f.yt))
      .mapGroupsWithState[TileCapState, TileBudgetOut](GroupStateTimeout.NoTimeout) {
        (tile: (Int, Int), it: Iterator[TileFeature], state: GroupState[TileCapState]) =>
          val cur = state.getOption.getOrElse(TileCapState(0L, Nil))
          val batch = it.map { f =>
            (f.eventId * 2654435761L % 1048573L) * 8796093022208L + f.eventId
          }.toArray
          val merged = (cur.packed.toArray ++ batch).sorted.take(400).toSeq
          val ns = TileCapState(cur.version + 1, merged)
          state.update(ns)
          // b49's prefix fold over the roster
          var bytes = 0L; var kept = 0L; var cs = 0L; var stopped = false
          merged.foreach { p =>
            val id = p % 8796093022208L
            val b = id * 48271L % 451L + 50L
            if (!stopped && bytes + b <= budget) { bytes += b; kept += 1; cs += id }
            else stopped = true
          }
          TileBudgetOut(tile._1, tile._2, ns.version, kept, bytes, cs)
      }
  }

  /** one tiled, layer-tagged feature on the ingest stream (h34) */
  case class LayerFeature(userId: Long, layer: String, hilbert: Long)

  /** per-(user, layer) running FGB-index inputs: count + curve extent */
  case class FgbState(version: Long, n: Long, hmin: Long, hmax: Long)

  /** the layer's live index accounting, re-emitted per touching batch */
  case class FgbOut(userId: Long, layer: String, version: Long,
      n: Long, hmin: Long, hmax: Long, nNodes: Long, indexBytes: Long)

  /** h34 — b50's FlatGeobuf index accounting LIVE (the "how big is
    * this layer's spatial index getting" readout a continuous vector
    * ingest watches): state per (user, layer) = (count, hmin, hmax) —
    * three longs forever, all three MERGEABLE monotone folds (count
    * adds, extents min/max), so the state after any batching equals
    * the batch aggregate EXACTLY; the packed-tree node chain and
    * 40-byte index size are re-derived per emission as pure functions
    * of the count (the same unrolled ceil-16 chain as b50, here as a
    * plain while loop — FgbStreamSpec pins emission ≡ b50 row-for-row
    * on the real events). The Hilbert key is computed UPSTREAM in the
    * stream (stateless map, h31's argument) — state never sees
    * coordinates. */
  def streamingFgbIndex(features: Dataset[LayerFeature]): Dataset[FgbOut] = {
    import features.sparkSession.implicits._
    features.groupByKey(f => (f.userId, f.layer))
      .mapGroupsWithState[FgbState, FgbOut](GroupStateTimeout.NoTimeout) {
        (key: (Long, String), it: Iterator[LayerFeature], state: GroupState[FgbState]) =>
          val cur = state.getOption.getOrElse(FgbState(0L, 0L, Long.MaxValue, Long.MinValue))
          var n = cur.n; var lo = cur.hmin; var hi = cur.hmax
          it.foreach { f =>
            n += 1
            if (f.hilbert < lo) lo = f.hilbert
            if (f.hilbert > hi) hi = f.hilbert
          }
          val ns = FgbState(cur.version + 1, n, lo, hi)
          state.update(ns)
          var total = n; var level = n
          while (level > 1) { level = (level + 15) / 16; total += level }
          FgbOut(key._1, key._2, ns.version, n, lo, hi, total, total * 40L)
      }
  }

  /** one attribute observation arriving on the dimension change feed */
  case class Scd2Event(userId: Long, eventId: Long, ms: Long, attr: Int)
  /** the single open version a key holds in state */
  case class Scd2State(version: Int, attr: Int, validFromMs: Long)
  /** one emitted dimension row — upsert on (userId, version): a later
    * emission for the same version (the close) supersedes the open one */
  case class Scd2Row(userId: Long, version: Int, attr: Int,
      validFromMs: Long, validToMs: Option[Long], isCurrent: Boolean)

  /** h19 — streaming SCD2 maintenance: c44's warehouse dimension
    * rebuild as a CONTINUOUS query. State = exactly one row per
    * dimension key (the open version: number, attribute, valid_from —
    * bounded by key cardinality forever, never by change volume). Each
    * batch's events sort in-batch on (ms, event_id) (c44's total
    * order); a changed attribute closes the open version (emits it
    * with valid_to + is_current=false) and opens the next; no-op
    * updates collapse exactly like c44's lag() filter. Emissions are
    * UPSERTS on (userId, version) — the close supersedes the open row
    * — so the consumer (i9's MERGE or h7's idempotent landing) keeps
    * the dimension table current without rebuild scans. Contract: per
    * key, event time is monotone ACROSS batches (in-batch disorder is
    * fine) — the standard CDC-feed guarantee; a late event would
    * rewrite closed history, which is c20/c44 rebuild territory, not
    * streaming upkeep. Scd2StreamSpec proves batch/stream parity on
    * the REAL events table with versions straddling batch boundaries. */
  def streamingScd2(changes: Dataset[Scd2Event]): Dataset[Scd2Row] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.userId)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Scd2Event], state: GroupState[Scd2State]) =>
          val out = Seq.newBuilder[Scd2Row]
          var cur = state.getOption
          it.toSeq.sortBy(e => (e.ms, e.eventId)).foreach { e =>
            cur match {
              case None =>
                cur = Some(Scd2State(1, e.attr, e.ms))
              case Some(s) if s.attr != e.attr =>
                out += Scd2Row(user, s.version, s.attr, s.validFromMs,
                  Some(e.ms), isCurrent = false)
                cur = Some(Scd2State(s.version + 1, e.attr, e.ms))
              case _ => () // no-op update collapses (c44's lag filter)
            }
          }
          cur.foreach { s =>
            state.update(s)
            out += Scd2Row(user, s.version, s.attr, s.validFromMs, None,
              isCurrent = true)
          }
          out.result().iterator
      }
  }

  /** one gauge reading arriving on the telemetry stream */
  case class GaugeReading(userId: Long, ms: Long, cents: Long)
  /** the five exact regression moments + the centering origin */
  case class TrendState(t0Ms: Long, n: Long, sx: Long, sy: Long,
      sxy: Long, sxx: Long, syy: Long)
  case class TrendOut(userId: Long, n: Long,
      slope: Option[Double], r: Option[Double])

  /** h20 — streaming per-entity trend: c56's least squares kept LIVE
    * via mapGroupsWithState. The five moments are EXACTLY mergeable
    * integer sums, so state is ONE seven-long row per key forever and
    * each batch folds its readings in O(batch); slope and Pearson r
    * recompute from the moments on every emission — no window over
    * history, no re-scan, ever. Centering: x = (ms − t0)/1000 with t0
    * = the key's FIRST reading (held in state); under h19's
    * per-key-monotone feed contract that IS the batch min, so the
    * streaming trend equals c56's batch answer exactly (spec-proven
    * with batches straddling users and in-batch disorder). */
  def streamingTrend(readings: Dataset[GaugeReading]): Dataset[TrendOut] = {
    import readings.sparkSession.implicits._
    readings.groupByKey(_.userId)
      .mapGroupsWithState[TrendState, TrendOut](GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[GaugeReading], state: GroupState[TrendState]) =>
          val sorted = it.toSeq.sortBy(_.ms)
          var s = state.getOption.getOrElse(
            TrendState(sorted.head.ms, 0L, 0L, 0L, 0L, 0L, 0L))
          sorted.foreach { g =>
            val x = (g.ms - s.t0Ms) / 1000L
            val y = g.cents
            s = TrendState(s.t0Ms, s.n + 1, s.sx + x, s.sy + y,
              s.sxy + x * y, s.sxx + x * x, s.syy + y * y)
          }
          state.update(s)
          val covN = s.n * s.sxy - s.sx * s.sy
          val varxN = s.n * s.sxx - s.sx * s.sx
          val varyN = s.n * s.syy - s.sy * s.sy
          TrendOut(user, s.n,
            if (varxN > 0) Some(covN.toDouble / varxN) else None,
            if (varxN > 0 && varyN > 0)
              Some(covN.toDouble / math.sqrt(varxN.toDouble * varyN.toDouble))
            else None)
      }
  }

  /** one interaction event on the attribution stream */
  case class TouchEvent(userId: Long, ms: Long, eventId: Long,
      kind: String, channel: String, cents: Long)
  case class TouchState(clickMs: Long, clickChannel: String)
  case class Attributed(userId: Long, ms: Long, eventId: Long,
      channel: String, cents: Long)

  /** h23 — streaming last-touch attribution: c58's rule kept LIVE.
    * State per user = the single most recent qualifying click (ONE
    * 2-field row per key forever — never the click history an
    * interval join would buffer); each purchase credits the stored
    * click if it is strictly earlier under the (ms, eventId) total
    * order and within the 7-day window, else 'direct', then clicks
    * fold forward. In-batch events replay in total order and the
    * state IS the order-prefix summary, so under h19's per-key
    * monotone feed contract the attribution stream equals c58's batch
    * answer exactly (spec: adversarially re-batched real feed, every
    * purchase identically credited). */
  def streamingAttribution(events: Dataset[TouchEvent]): Dataset[Attributed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[TouchState, Attributed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[TouchEvent], state: GroupState[TouchState]) =>
          var s = state.getOption.getOrElse(TouchState(Long.MinValue, null))
          val out = Seq.newBuilder[Attributed]
          it.toSeq.sortBy(e => (e.ms, e.eventId)).foreach { e =>
            if (e.kind == "purchase") {
              val ch =
                if (s.clickChannel != null && e.ms - s.clickMs <= 7L * 86400000L)
                  s.clickChannel
                else "direct"
              out += Attributed(user, e.ms, e.eventId, ch, e.cents)
            }
            if (e.kind == "click") s = TouchState(e.ms, e.channel)
          }
          state.update(s)
          out.result().iterator
      }
  }

  case class CusumState(warmup: Seq[Long], trained: Boolean, mu0: Long, s: Long)
  case class CusumAlarm(userId: Long, ms: Long, cents: Long, s: Long)

  /** h24 — streaming CUSUM monitor (c61's test in the shape production
    * SPC actually runs: batch c61 baselines on the FULL history —
    * unavailable live — so the stream trains μ0 on a warm-up window
    * and then MONITORS): state = the ≤8-reading warm-up buffer until
    * full, then the frozen (μ0 = warm-up lower median, running s) —
    * bounded either way; each subsequent reading folds Page's
    * recursion s = max(0, s + (x − μ0 − A)) and alarms while s > h.
    * The fold is sequential by construction and readings replay in
    * total (ms, cents) order, so under the monotone feed contract the
    * alarm stream is identical under any batching — spec-proven
    * against an in-memory replay of the same rule on adversarially
    * re-batched feeds, one bounded state row per key. */
  def streamingCusum(readings: Dataset[GaugeReading],
      allowance: Long = 50L, h: Long = 20000L): Dataset[CusumAlarm] = {
    import readings.sparkSession.implicits._
    readings.groupByKey(_.userId)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[GaugeReading], state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(Seq.empty, false, 0L, 0L))
          val alarms = Seq.newBuilder[CusumAlarm]
          it.toSeq.sortBy(g => (g.ms, g.cents)).foreach { g =>
            if (!st.trained) {
              val w = st.warmup :+ g.cents
              st =
                if (w.length < 8) CusumState(w, false, 0L, 0L)
                else CusumState(Seq.empty, true,
                  w.sorted.apply(((w.length + 1) / 2) - 1), 0L)
            } else {
              val s2 = math.max(0L, st.s + (g.cents - st.mu0 - allowance))
              if (s2 > h) alarms += CusumAlarm(user, g.ms, g.cents, s2)
              st = CusumState(Seq.empty, true, st.mu0, s2)
            }
          }
          state.update(st)
          alarms.result().iterator
      }
  }

  /** sy/syy carried as BigInt (serialized in decimal-string fields —
    * Spark has no BigInt encoder) so the FOLD itself can't overflow:
    * syy grows as n·y², which for 1e6-cent gauges passes Long.MaxValue
    * near 9·10⁶ readings per key — well inside a long-lived stream's
    * life. The strings stay ≤ ~25 chars for any realistic feed. */
  case class AnomalyState(n: Long, syStr: String, syyStr: String) {
    def sy: BigInt = BigInt(syStr)
    def syy: BigInt = BigInt(syyStr)
  }
  case class AnomalyAlert(userId: Long, ms: Long, cents: Long, nBefore: Long)

  /** h21 — streaming anomaly guard (the live companion to c57's batch
    * median/MAD sweep): per-key mean/variance moments held as ONE
    * 3-long state row forever, each arriving reading judged against
    * the moments of everything BEFORE it — the reading never
    * contaminates its own threshold (the streaming stand-in for the
    * robustness c57 buys with the median; an exact streaming median
    * would need unbounded state) — then folded in. The flag is exact
    * integer arithmetic, (y·n − sy)² > 9·(n·syy − sy²) ⇔ |y − μ| >
    * 3σ — and BOTH the comparison AND the state fold run in BigInt
    * (sy/syy live in the state as decimal strings), so no reading
    * count or gauge magnitude can overflow either the flag or the
    * accumulated moments. Readings fold in total (ms, cents) order inside
    * each batch, and because every reading is judged against the full
    * prior prefix, the alert stream is IDENTICAL under any batching
    * of the same feed (h16/h18's prefix-stability argument, here for
    * a fold rather than a sketch) — spec-proven against an in-memory
    * sequential reference on adversarially re-batched feeds. Warm-up:
    * keys with fewer than 8 prior readings never alert. */
  def streamingAnomaly(readings: Dataset[GaugeReading]): Dataset[AnomalyAlert] = {
    import readings.sparkSession.implicits._
    readings.groupByKey(_.userId)
      .flatMapGroupsWithState[AnomalyState, AnomalyAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[GaugeReading], state: GroupState[AnomalyState]) =>
          var s = state.getOption.getOrElse(AnomalyState(0L, "0", "0"))
          val alerts = Seq.newBuilder[AnomalyAlert]
          it.toSeq.sortBy(g => (g.ms, g.cents)).foreach { g =>
            val y = g.cents
            if (s.n >= 8) {
              val dev = BigInt(y) * s.n - s.sy
              val varN = BigInt(s.n) * s.syy - s.sy * s.sy
              if (dev * dev > varN * 9) alerts += AnomalyAlert(user, g.ms, y, s.n)
            }
            s = AnomalyState(s.n + 1, (s.sy + y).toString,
              (s.syy + BigInt(y) * y).toString)
          }
          state.update(s)
          alerts.result().iterator
      }
  }

  /** one segment-tagged hashed member arriving on the event stream */
  case class SegMember(seg: String, h: Long)
  case class KmvState(version: Long, mins: Seq[Long])
  case class KmvOut(seg: String, version: Long, sketch: Seq[Long])

  /** h18 — streaming KMV distinct sketch: c51's `graft_kmv` kept LIVE
    * per segment via mapGroupsWithState. Like h16's E-S reservoir, the
    * KMV sketch is PREFIX-STABLE — membership depends only on the k
    * smallest distinct hashes overall — so the streaming state
    * converges to EXACTLY the batch sketch under ANY batching
    * (spec-proven against `graft_kmv` itself on adversarial splits),
    * and the c51 overlap algebra (union / intersection estimates)
    * reads straight off the live sketches. State = one fixed
    * ≤k-entry row per segment FOREVER — a continuous ingest keeps
    * live audience-overlap numbers with zero re-scans and state bound
    * by segments·k, not by users. */
  def streamingKmv(members: Dataset[SegMember], k: Int): Dataset[KmvOut] = {
    import members.sparkSession.implicits._
    members.groupByKey(_.seg)
      .mapGroupsWithState[KmvState, KmvOut](GroupStateTimeout.NoTimeout) {
        (seg: String, it: Iterator[SegMember], state: GroupState[KmvState]) =>
          val cur = state.getOption.getOrElse(KmvState(0L, Nil))
          val s = new java.util.TreeSet[java.lang.Long]()
          cur.mins.foreach(s.add(_))
          it.foreach { m =>
            if (!s.contains(m.h)) {
              if (s.size < k) s.add(m.h)
              else if (m.h < s.last()) { s.add(m.h); s.remove(s.last()) }
            }
          }
          val mins = { val b = Seq.newBuilder[Long]; s.forEach(b += _.longValue()); b.result() }
          val ns = KmvState(cur.version + 1, mins)
          state.update(ns)
          KmvOut(seg, ns.version, mins)
      }
  }

  def enrichWithProfile(events: DataFrame, profile: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(profile), Seq("user"), "left")

  /** one arriving feature with its declared source CRS and (for
    * no-authority sources) the IsSame probe's verdict, which in the
    * reference is computed per layer before the transform runs */
  case class FeatureIn(featureId: Long, srcEpsg: Int, isSame: Boolean,
      lon: Double, lat: Double, eventTimeMs: Long)

  /** h31 — STREAMING REPROJECTION DISPATCH: b39's decision matrix
    * executing on the live ingest stream — every arriving feature
    * routes to its source CRS's transform (the compiled
    * `graft_reproject` kernel, bit-identical to the batch dispatch and
    * the b34/b38 template chains) and exits in EPSG:4326; 4326 rows
    * pass through, no-authority rows follow their IsSame verdict into
    * passthrough or the NULL-coordinate dead-letter (the reference's
    * `int(None)` path). STATELESS map-only stage — months of uptime
    * accumulate zero state, the micro-batch plan is ONE projection, and
    * the same stage composes before the h1 state machine or the i2
    * sink exactly where processing.py runs ogr2ogr before tiling.
    * StreamingSpec pins stream output ≡ the batch kernel row-for-row
    * and asserts zero state operators. */
  def reprojectStream(features: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    features
      // branch ids follow the batch dispatch; the mercator leg clamps
      // latitude to the WebMercator domain exactly like b39's source
      .withColumn("branch", expr(
        "CAST(CASE srcEpsg WHEN 3857 THEN 1 WHEN 2249 THEN 2 WHEN 32633 THEN 3 ELSE 0 END AS BIGINT)"))
      .withColumn("lat_in", expr(
        "CASE WHEN srcEpsg = 3857 THEN greatest(least(lat, 85.05112878), -85.05112878) ELSE lat END"))
      .withColumn("rp", expr("graft_reproject(branch, lon, lat_in)"))
      .select(
        col("featureId"), col("srcEpsg"), col("eventTimeMs"),
        expr("""CASE srcEpsg
            WHEN 4326 THEN 'none' WHEN 3857 THEN 'webmercator_inverse'
            WHEN 2249 THEN 'lcc_2sp' WHEN 32633 THEN 'tm_krueger'
            ELSE CASE WHEN isSame THEN 'is_same_passthrough'
                      ELSE 'failed_no_authority' END END""").as("method"),
        expr("""CASE WHEN srcEpsg = 4326 OR (srcEpsg NOT IN (3857, 2249, 32633) AND isSame)
            THEN round(lon, 7)
            WHEN srcEpsg IN (3857, 2249, 32633) THEN rp[0] END""").as("lon_4326"),
        expr("""CASE WHEN srcEpsg = 4326 OR (srcEpsg NOT IN (3857, 2249, 32633) AND isSame)
            THEN round(lat, 7)
            WHEN srcEpsg IN (3857, 2249, 32633) THEN rp[1] END""").as("lat_4326"))
  }

  /** one perceptually-hashed image arriving on the ingest stream —
    * the g8 dHash chunks computed at decode time (Media.ImageCodec) */
  case class HashedImage(docId: Long, c0: Int, c1: Int, c2: Int, c3: Int,
      eventTimeMs: Long)

  /** h11 — streaming near-dup image guard: g8's perceptual dedup
    * running IN-STREAM, catching re-uploads of the same image within
    * an hour of each other before they reach the corpus. Each arriving
    * image explodes its 4 dHash chunks into pigeonhole block keys
    * (any pair within Hamming ≤ 3 shares at least one — same
    * guarantee as the batch operator) and the block stream SELF-joins
    * within a 1-hour event-time window. Both sides carry watermarks
    * AND the join has a time-range bound, so Spark evicts block-key
    * state — without the bound, every block key ever seen lives
    * forever. A pair sharing several equal chunks emits once per
    * shared block; the chained dropDuplicatesWithinWatermark (Spark's
    * multi-stateful pipeline support) collapses them, its state also
    * watermark-bounded. Beyond the horizon, the batch g8 operator owns
    * near-dup detection — same division of labor as h5/d1. */
  def nearDupGuard(images: Dataset[HashedImage]): DataFrame = {
    val base = images.toDF()
      .withColumn("ts", timestamp_millis(col("eventTimeMs")))
      .withWatermark("ts", "1 hour")
    def blocks(side: String): DataFrame = base.select(
        col("docId").as(s"${side}_doc"),
        col("c0").as(s"${side}_c0"), col("c1").as(s"${side}_c1"),
        col("c2").as(s"${side}_c2"), col("c3").as(s"${side}_c3"),
        col("ts").as(s"${side}_ts"))
      .select(col(s"${side}_doc"), col(s"${side}_c0"), col(s"${side}_c1"),
        col(s"${side}_c2"), col(s"${side}_c3"), col(s"${side}_ts"),
        explode(expr(
          s"array(named_struct('idx', 0, 'chunk', ${side}_c0)," +
            s" named_struct('idx', 1, 'chunk', ${side}_c1)," +
            s" named_struct('idx', 2, 'chunk', ${side}_c2)," +
            s" named_struct('idx', 3, 'chunk', ${side}_c3))")).as("b"))
      .select(col(s"${side}_doc"), col(s"${side}_c0"), col(s"${side}_c1"),
        col(s"${side}_c2"), col(s"${side}_c3"), col(s"${side}_ts"),
        col("b.idx").as(s"${side}_idx"), col("b.chunk").as(s"${side}_chunk"))
    blocks("x").join(blocks("y"),
        col("x_idx") === col("y_idx") && col("x_chunk") === col("y_chunk") &&
          col("x_doc") < col("y_doc") &&
          col("y_ts") >= col("x_ts") - expr("INTERVAL 1 HOUR") &&
          col("y_ts") <= col("x_ts") + expr("INTERVAL 1 HOUR"))
      .withColumn("hamming", expr(
        "bit_count(x_c0 ^ y_c0) + bit_count(x_c1 ^ y_c1) + " +
          "bit_count(x_c2 ^ y_c2) + bit_count(x_c3 ^ y_c3)").cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("x_doc").as("doc_a"), col("y_doc").as("doc_b"),
        col("hamming"), col("x_ts").as("first_ts"))
      // first_ts keeps its event-time watermark through the join, so
      // the chained dedup state is horizon-bounded too (re-declaring
      // a watermark here is disallowed in multi-stateful pipelines)
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")
  }

  /** one profiled field sample on the payload stream: `isNull` marks a
    * present-but-null value, `h` is the caller-computed 60-bit value
    * hash (sid60 convention — same hash the batch `graft_kmv` sees). */
  case class FieldSample(field: String, ms: Long, isNull: Boolean, v: Long, h: Long)
  case class ProfileState(version: Long, n: Long, nNull: Long,
      lo: Long, hi: Long, mins: Seq[Long])
  case class FieldProfile(field: String, version: Long, n: Long, nNull: Long,
      lo: Long, hi: Long, mins: Seq[Long])

  /** h25 — streaming PROFILE / schema-drift monitor (c64's live twin:
    * the nightly column profile, maintained continuously): per payload
    * FIELD, one bounded state row holding n / null count / lo / hi and
    * a k=32 KMV distinct sketch — every fold is PREFIX-STABLE (count,
    * min, max, null count, and the KMV k-smallest all depend only on
    * the set of samples seen), so the live profile converges to
    * EXACTLY the batch profile under ANY batching — spec-proven
    * against the batch `graft_kmv` aggregate itself plus exact
    * min/max/count references on adversarially re-batched feeds.
    * `version` counts the batches that touched the field: version 1 on
    * a never-seen field IS the schema-drift alert (a new field
    * appeared in the payload stream); a null-rate jump reads off
    * consecutive emissions. State: |fields| rows forever, each ≤ k
    * longs — a 100 TB/day payload stream profiles in kilobytes. */
  def streamingProfile(samples: Dataset[FieldSample], k: Int = 32): Dataset[FieldProfile] = {
    import samples.sparkSession.implicits._
    samples.groupByKey(_.field)
      .mapGroupsWithState[ProfileState, FieldProfile](GroupStateTimeout.NoTimeout) {
        (field: String, it: Iterator[FieldSample], state: GroupState[ProfileState]) =>
          val cur = state.getOption.getOrElse(
            ProfileState(0L, 0L, 0L, Long.MaxValue, Long.MinValue, Nil))
          val s = new java.util.TreeSet[java.lang.Long]()
          cur.mins.foreach(s.add(_))
          var (n, nNull, lo, hi) = (cur.n, cur.nNull, cur.lo, cur.hi)
          it.foreach { f =>
            n += 1
            if (f.isNull) nNull += 1
            else {
              if (f.v < lo) lo = f.v
              if (f.v > hi) hi = f.v
              if (!s.contains(f.h)) {
                if (s.size < k) s.add(f.h)
                else if (f.h < s.last()) { s.add(f.h); s.remove(s.last()) }
              }
            }
          }
          val mins = { val b = Seq.newBuilder[Long]; s.forEach(b += _.longValue()); b.result() }
          val ns = ProfileState(cur.version + 1, n, nNull, lo, hi, mins)
          state.update(ns)
          FieldProfile(field, ns.version, n, nNull, lo, hi, mins)
      }
  }

  /** one behavioral event on the experiment stream */
  case class AbEvent(userId: Long, ms: Long, eventType: String)
  case class AbState(fv: Long, converted: Boolean)
  /** one per-user experiment transition: emitted when the user first
    * exposes (dExposed=1) or first converts (dConverted=1) */
  case class AbDelta(userId: Long, variant: Long, dExposed: Long, dConverted: Long)

  /** h26 — the A/B readout LIVE (c66's streaming twin: the dashboard
    * the experiment owner watches, not the nightly batch): one 2-field
    * state row per user (first-view ms + converted flag — bounded
    * forever), events fold in total (ms, eventType) order, and the
    * operator emits a TRANSITION delta exactly when a user first
    * exposes or first converts inside the 7-day window. Per-variant
    * conversion totals are then a trivial downstream sum of the
    * deltas — each user contributes its exposure exactly once and its
    * conversion at most once, so the summed deltas equal c66's exact
    * distinct-user counts under ANY batching of the monotone feed
    * (equal-ms purchase/view ties are conversion-neutral in both
    * formulations: conversion requires ms strictly after the first
    * view). Spec-proven delta-sum parity against the batch counts on
    * adversarially re-batched feeds. */
  def streamingAbTest(events: Dataset[AbEvent],
      windowMs: Long = 604800000L): Dataset[AbDelta] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[AbState, AbDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[AbEvent], state: GroupState[AbState]) =>
          var s = state.getOption.getOrElse(AbState(-1L, converted = false))
          val out = Seq.newBuilder[AbDelta]
          it.toSeq.sortBy(e => (e.ms, e.eventType)).foreach { e =>
            if (e.eventType == "view" && s.fv < 0) {
              s = AbState(e.ms, s.converted)
              out += AbDelta(user, user % 2, 1L, 0L)
            } else if (e.eventType == "purchase" && s.fv >= 0 && !s.converted &&
                e.ms > s.fv && e.ms <= s.fv + windowMs) {
              s = AbState(s.fv, converted = true)
              out += AbDelta(user, user % 2, 0L, 1L)
            }
          }
          state.update(s)
          out.result().iterator
      }
  }

  // ---- h30: live storage-quota guard (a25's ledger, streaming) ------

  case class UploadEvent(user: Long, eventId: Long, ms: Long, nbytes: Long)
  /** Bounded per-user ledger state: 4 longs forever (the running
    * ledger summary), never upload history. firstOverMs = -1 ⇒ never
    * breached (-1 is unrepresentable as an event time, unlike 0 —
    * epoch-0 uploads must not read as never-breached). */
  case class QuotaState(usage: Long, nUploads: Long, firstOverMs: Long,
    nOver: Long)
  case class QuotaEmit(user: Long, version: Long, totalBytes: Long,
    nUploads: Long, firstOverMs: Long, nUploadsOver: Long, breachNow: Boolean)

  /** h30 — the storage-quota ledger LIVE (a25's batch cumsum as
    * bounded state — the guard that rejects an upload the moment a
    * user crosses quota instead of in tomorrow's sweep): per user the
    * state is the running (usage, uploads, first-over, over-count)
    * summary; uploads fold in total (ms, eventId) order, so under the
    * per-key monotone feed contract (h19/h23's) state is the exact
    * order-prefix of a25's window and the final emission equals the
    * batch ledger row EXACTLY. `breachNow` is a TRANSITION flag
    * (h26's delta argument): true on the one emission where the user
    * first crosses, so the alert stream needs no dedup downstream.
    * At 100 TB the user-keyed exchange carries the batch, state the
    * user space — the ledger never re-reads history.
    *
    * COMPATIBILITY NOTE: the never-breached sentinel for `firstOverMs`
    * changed 0 → -1 (0 is a legal breach epoch; -1 is not a legal
    * timestamp). A checkpoint written by the 0-sentinel build would be
    * REINTERPRETED by this one (persisted firstOverMs=0, previously
    * "never breached", reads as "breached at epoch 0" and suppresses
    * the user's future breachNow transition) — resume such a stream
    * under a fresh checkpoint directory, never the old one. */
  def streamingQuota(uploads: Dataset[UploadEvent],
      quota: Long = 500000000L): Dataset[QuotaEmit] = {
    import uploads.sparkSession.implicits._
    uploads.groupByKey(_.user)
      .flatMapGroupsWithState[QuotaState, QuotaEmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[UploadEvent], state: GroupState[QuotaState]) =>
          val batch = it.toSeq.sortBy(u => (u.ms, u.eventId))
          if (batch.isEmpty) Iterator.empty
          else {
            var s = state.getOption.getOrElse(QuotaState(0L, 0L, -1L, 0L))
            val wasOver = s.firstOverMs >= 0L
            batch.foreach { u =>
              val usage = s.usage + u.nbytes
              val over = usage > quota
              s = QuotaState(usage, s.nUploads + 1,
                if (s.firstOverMs >= 0L) s.firstOverMs
                else if (over) u.ms else -1L,
                s.nOver + (if (over) 1L else 0L))
            }
            state.update(s)
            val version = s.nUploads // monotone per user: uploads seen
            Iterator(QuotaEmit(user, version, s.usage, s.nUploads,
              s.firstOverMs, s.nOver, breachNow = !wasOver && s.firstOverMs >= 0L))
          }
      }
  }

  // ---- h29: live co-occurrence (c74's basket counts, streaming) -----

  case class BasketItem(basket: Long, item: String, ms: Long)
  /** Bounded per-basket state: the distinct items seen so far —
    * bounded by the item VOCABULARY (and in practice by basket size),
    * never by event volume; repeats of an item add nothing. */
  case class BasketState(items: Seq[String])
  case class PairDelta(a: String, b: String, basket: Long)

  /** h29 — live co-occurrence counting (c74's market-basket support
    * kept current as baskets build up): state per basket is its
    * distinct item set; when an item JOINS the set (first sighting —
    * replays and in-batch repeats are no-ops), one [[PairDelta]] emits
    * per (existing item, new item) pair, canonicalized (min, max). An
    * item enters the set exactly once over the stream, so every
    * unordered pair in a basket is emitted EXACTLY ONCE under any
    * batching — summed deltas per (a, b) equal the batch support
    * counts with no dedup pass downstream (h26's transition-delta
    * argument, here over set growth instead of a scalar stage).
    * In-batch items fold in total (ms, item) order, so the emission
    * stream itself is deterministic, not just its sum. At 100 TB the
    * basket-keyed shuffle carries the batch, state the live baskets,
    * and the pair aggregation downstream is vocabulary-bounded —
    * the same boundedness c74 gets from its per-order sets. */
  def streamingBasket(items: Dataset[BasketItem]): Dataset[PairDelta] = {
    import items.sparkSession.implicits._
    items.groupByKey(_.basket)
      .flatMapGroupsWithState[BasketState, PairDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (basket: Long, it: Iterator[BasketItem], state: GroupState[BasketState]) =>
          val arriving = it.toSeq.sortBy(b => (b.ms, b.item)).map(_.item)
          var have = state.getOption.map(_.items.toSet).getOrElse(Set.empty)
          val out = Seq.newBuilder[PairDelta]
          arriving.foreach { x =>
            if (!have.contains(x)) {
              have.foreach { y =>
                out += (if (x < y) PairDelta(x, y, basket) else PairDelta(y, x, basket))
              }
              have += x
            }
          }
          state.update(BasketState(have.toSeq.sorted))
          out.result().iterator
      }
  }

  // ---- h28: exponentially-decayed trending scores -------------------

  case class TrendHit(key: String, ms: Long)
  /** Bounded per-key state: the decayed score + its clock — 3 fields
    * per key forever, never event history. */
  case class TrendScore(version: Long, lastMs: Long, scoreMicro: Long)
  case class TrendEmit(key: String, version: Long, lastMs: Long, scoreMicro: Long)

  /** Fixed-point decay factor d^exp in micro-units (d given in
    * micro-units, e.g. 999989 ≈ a 60 s half-life per-ms decay) via
    * binary exponentiation with a floor after every multiply — every
    * step is exact integer math (operands ≤ 10⁶ so products ≤ 10¹²),
    * so the factor is bit-identical on every engine and every replay.
    * The truncation IS the spec'd decay curve, not an approximation
    * of IEEE pow. */
  def decayFactorMicro(dMicro: Long, exp: Long): Long = {
    var result = 1000000L; var base = dMicro; var e = exp
    while (e > 0) {
      if ((e & 1L) == 1L) result = result * base / 1000000L
      base = base * base / 1000000L
      e >>= 1
    }
    result
  }

  /** h28 — live trending scores (the decayed heavy-hitters dashboard:
    * "what is hot NOW" — h8's Misra–Gries counts ALL time, h28
    * forgets at a half-life): per key, score' = score·d^Δms + 1 on
    * each hit, folded in total (ms, key) order; the decay power is
    * [[decayFactorMicro]]'s exact fixed-point form, so the score is a
    * deterministic function of the hit sequence — under the per-key
    * monotone feed contract (h19/h23's) the emission after any
    * batching equals the sequential fold exactly (spec-proven against
    * an independent per-event reference). State = 3 longs per key
    * forever; at 100 TB the keyed shuffle carries the batch, state
    * the key space, and the top-k readout is a bounded sort over
    * keys, not events. Score magnitudes: 10⁶ per hit, safe to ~9·10¹²
    * same-instant hits per key. */
  def streamingTrending(hits: Dataset[TrendHit],
      dMicro: Long = 999989L): Dataset[TrendEmit] = {
    import hits.sparkSession.implicits._
    hits.groupByKey(_.key)
      .flatMapGroupsWithState[TrendScore, TrendEmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[TrendHit], state: GroupState[TrendScore]) =>
          val sorted = it.toSeq.sortBy(_.ms)
          if (sorted.isEmpty) Iterator.empty
          else {
            var s = state.getOption.getOrElse(TrendScore(0L, sorted.head.ms, 0L))
            var last = s.lastMs; var score = s.scoreMicro
            sorted.foreach { h =>
              val dt = Math.max(0L, h.ms - last)
              score = score * decayFactorMicro(dMicro, dt) / 1000000L + 1000000L
              last = h.ms
            }
            val v2 = s.version + 1
            state.update(TrendScore(v2, last, score))
            Iterator(TrendEmit(key, v2, last, score))
          }
      }
  }

  // ---- h27: live distribution-drift monitor (c68's streaming twin) ---

  case class DriftSample(metric: String, v: Long)
  /** Bounded per-metric state: the live histogram over fixed-width
    * buckets (|state| ≤ value range / bucketWidth, independent of row
    * count) plus the emission version. */
  case class DriftState(version: Long, buckets: Map[Long, Long])
  case class DriftStat(metric: String, version: Long, nLive: Long,
      ksMicro: Long, bucketAt: Long)

  /** h27 — the drift audit LIVE (c68's streaming twin: the dashboard
    * that fires while the batch audit would still be queued): per
    * metric, fold incoming quantized gauge readings into a bounded
    * fixed-width-bucket histogram and emit, once per trigger that saw
    * data, the exact bucketed two-sample KS statistic against a static
    * BASELINE histogram (yesterday's profile, shipped as a plain
    * bounded map — the stream-static pattern of h9, not a join). The
    * KS fold mirrors c68 exactly: max |cumLive·nBase − cumBase·nLive|
    * over the ordered union of bucket keys, cross products in BigInt
    * so no count magnitude overflows, micro-units by floor division,
    * first (= smallest) arg-max bucket on ties — so the final emission
    * after the backlog drains equals the batch statistic on the same
    * bucketing under ANY batching of the feed (spec-proven against an
    * independent recomputation). Keyed by metric: a global statistic
    * needs its histogram in one place, so the per-metric reduction is
    * the shuffle — the histogram is what travels to state, never raw
    * history; at 100 TB the monitored metrics are bounded (h25's
    * argument) and each trigger's work is O(batch + buckets). */
  def streamingDrift(samples: Dataset[DriftSample],
      baseline: Map[String, Map[Long, Long]],
      bucketWidth: Long = 500L): Dataset[DriftStat] = {
    import samples.sparkSession.implicits._
    samples.groupByKey(_.metric)
      .flatMapGroupsWithState[DriftState, DriftStat](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (metric: String, it: Iterator[DriftSample], state: GroupState[DriftState]) =>
          val s = state.getOption.getOrElse(DriftState(0L, Map.empty))
          var b = s.buckets
          var added = 0L
          it.foreach { x =>
            val k = Math.floorDiv(x.v, bucketWidth)
            b = b.updated(k, b.getOrElse(k, 0L) + 1L)
            added += 1
          }
          if (added == 0) Iterator.empty
          else {
            val base = baseline.getOrElse(metric, Map.empty)
            val nL = b.valuesIterator.sum
            val nB = base.valuesIterator.sum
            val keys = (b.keySet ++ base.keySet).toSeq.sorted
            var cumL = 0L; var cumB = 0L
            var best = BigInt(0); var bestAt = keys.headOption.getOrElse(0L)
            keys.foreach { k =>
              cumL += b.getOrElse(k, 0L); cumB += base.getOrElse(k, 0L)
              val dev = (BigInt(cumL) * nB - BigInt(cumB) * nL).abs
              if (dev > best) { best = dev; bestAt = k }
            }
            val ks = if (nL == 0L || nB == 0L) 0L
              else (best * 1000000 / (BigInt(nL) * nB)).toLong
            val v2 = s.version + 1
            state.update(DriftState(v2, b))
            Iterator(DriftStat(metric, v2, nL, ks, bestAt))
          }
      }
  }

  case class LogRecord(user: Long, eventId: Long, ms: Long, bytes: Int)
  case class OpenRotation(rotation: Int, nBlocks: Long, nBytes: Long,
      firstMs: Long, lastMs: Long)
  case class LogRotation(user: Long, rotation: Int, nBlocks: Long,
      nBytes: Long, firstMs: Long, lastMs: Long)

  /** h42 — streaming APPEND-BLOB rotation (a33's live twin): the real
    * azlog handler appends one block per `emit` CALL, so append order
    * — not event time — is the physical block order; the stream IS
    * that truth. One group per ingest blob under
    * flatMapGroupsWithState; state = the OPEN rotation only (index,
    * block count, bytes, span — O(1) per ingest, never record
    * history). Records sort by (ms, eventId) WITHIN a batch (h35's
    * iterator-order discipline — arrival order across batches, exactly
    * like the real handler's call order); each record appends a block
    * and a rotation EMITS when it fills at `cap` blocks (closed
    * append blobs are immutable — Append mode is honest). The open
    * tail stays in state; LogRotationStreamSpec pins closed-rotation
    * parity against a33's batch accounting under order-respecting
    * re-batchings and recomputes the open tails. Azure's real cap is
    * 50,000 blocks; `cap` is parametric so the spec exercises
    * rotation at test scale. */
  def streamingLogRotation(recs: Dataset[LogRecord], cap: Int = 32): Dataset[LogRotation] = {
    import recs.sparkSession.implicits._
    recs.groupByKey(_.user)
      .flatMapGroupsWithState[OpenRotation, LogRotation](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[LogRecord], state: GroupState[OpenRotation]) =>
          val evs = it.toArray.sortBy(r => (r.ms, r.eventId))
          var s = state.getOption.getOrElse(OpenRotation(0, 0L, 0L, Long.MaxValue, Long.MinValue))
          val out = Vector.newBuilder[LogRotation]
          evs.foreach { r =>
            s = OpenRotation(s.rotation, s.nBlocks + 1, s.nBytes + r.bytes,
              math.min(s.firstMs, r.ms), math.max(s.lastMs, r.ms))
            if (s.nBlocks == cap) {
              out += LogRotation(user, s.rotation, s.nBlocks, s.nBytes,
                s.firstMs, s.lastMs)
              s = OpenRotation(s.rotation + 1, 0L, 0L, Long.MaxValue, Long.MinValue)
            }
          }
          state.update(s)
          out.result().iterator
      }
  }

  /** h2 — watermarked tumbling-window ingest throughput (streaming twin
    * of c7 q_events_window). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_millis(col("eventTimeMs")))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("stage"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("stage"), col("n"))
}
