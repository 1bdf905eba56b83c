package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY §2.B streaming row; the
  * reference's Spark engine has none — its only streaming-flavored
  * surface is the Flink engine's unbounded fetch iterator,
  * IncrementalResultFetchIterator.scala:42 — so this is beyond-parity
  * surface, built Spark-first):
  *
  *  - watermarked tumbling-window aggregation (the batch twin is
  *    q20_events_hourly);
  *  - gap-based sessionization with explicit state via
  *    flatMapGroupsWithState + event-time timeout (batch twin:
  *    q25_sessionize).
  *
  * At scale these run with state partitioned by key across executors;
  * the watermark bounds state size — sessions/windows older than the
  * lateness budget are emitted and evicted.
  */
object Streams {

  final case class Event(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionAgg(start: Timestamp, end: Timestamp, n: Long)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)
  final case class TypedEvent(user_id: Long, ts: Timestamp, event_type: String)
  final case class FunnelState(stage: Int, ts: Timestamp)
  final case class FunnelPending(stage: Int, ts: Timestamp)
  final case class FunnelBufState(stage: Int, ts: Timestamp,
      pending: Seq[FunnelPending])
  final case class FunnelAdvance(user_id: Long, stage: Int,
      stage_name: String, ts: Timestamp)

  /** Tumbling event-time windows per key with a lateness watermark.
    * Append mode: a window row is emitted once, when the watermark
    * passes its end — exactly-once aggregates downstream.
    */
  def windowedCounts(
      events: DataFrame, tsCol: String, keyCol: String,
      windowLength: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLength), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("sum_value"))

  /** Streaming exact dedup: emit each key's FIRST arrival and drop
    * re-arrivals within the watermark horizon — the streaming twin of
    * Dedup.exactKeep for a continuously-ingested corpus. State holds
    * one entry per distinct key seen inside the horizon and is evicted
    * when the watermark passes, so state size is bounded by (arrival
    * rate × lateness), not by stream history — the property that keeps
    * this viable on an unbounded 100 TB/day feed.
    */
  def dedupStream(rows: DataFrame, tsCol: String, keyCols: Seq[String],
      lateness: String): DataFrame =
    rows
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming trailing-window DISTINCT actives per hour — the q42
    * twin. Each event first map-side explodes into the `windowHours`
    * hour buckets it serves (adding whole hours preserves the in-hour
    * offset), then ONE `dropDuplicatesWithinWatermark` on
    * (bucket, user) keeps each user's first contribution per bucket —
    * a user active in two source hours of the same trailing window is
    * counted once, exactly q42's distinct semantics — and a
    * watermarked 1-hour tumbling count emits each bucket once closed.
    * Never a distinct aggregation (unsupported on streams and unbounded
    * anyway); dedup state is bounded by windowHours × actives inside
    * the watermark horizon. Because the shifted copies run up to
    * (windowHours − 1) hours AHEAD of their event, the max observed
    * event time is inflated by that much — the watermark horizon is
    * widened by the same amount, or an on-time event's k=0 copy would
    * arrive "late" relative to a peer's k=windowHours−1 copy and be
    * dropped. Net effect: a bucket closes `latenessMinutes` after its
    * last possible REAL contributor, exactly the single-window rule.
    * Emitted (hour, active) rows equal the batch dedupe-then-explode
    * (q42) over the same prefix, restricted to closed hours.
    */
  def slidingDistinctStream(events: DataFrame, tsCol: String, userCol: String,
      windowHours: Int, latenessMinutes: Int): DataFrame =
    events
      .select(col(userCol).as("__u"), col(tsCol).as("__ts"),
        explode(sequence(lit(0), lit(windowHours - 1))).as("__k"))
      .select(col("__u"), expr(s"timestampadd(HOUR, __k, __ts)").as("__st"))
      .withColumn("__bh", date_trunc("hour", col("__st")))
      .withWatermark("__st",
        s"${latenessMinutes + (windowHours - 1) * 60} minutes")
      .dropDuplicatesWithinWatermark("__bh", "__u")
      .groupBy(window(col("__st"), "1 hour"))
      .agg(count(lit(1)).as("active"))
      .select(col("window.start").as("hour"), col("active"))

  /** Gap-based sessions: a session closes when `gapSeconds` pass with
    * no event (enforced by event-time timeout, so sessions also close
    * when the KEY goes silent — the case windowed aggregation can't
    * express).
    */
  def sessionize(events: Dataset[Event], gapSeconds: Int, lateness: String): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAgg, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Event], state: GroupState[SessionAgg]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.end, s.n))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            val closed = ListBuffer.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts.getTime - s.end.getTime <= gapSeconds * 1000L =>
                  cur = Some(SessionAgg(s.start, e.ts, s.n + 1))
                case Some(s) =>
                  closed += SessionOut(user, s.start, s.end, s.n)
                  cur = Some(SessionAgg(e.ts, e.ts, 1))
                case None =>
                  cur = Some(SessionAgg(e.ts, e.ts, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end.getTime + gapSeconds * 1000L)
            }
            closed.iterator
          }
      }
  }

  /** Streaming ordered funnel — the online twin of the batch q32
    * funnel: a per-user state machine advancing through `stages`
    * strictly in event-time order (stage i+1 counts only after stage
    * i's first qualifying event), emitting one row per ADVANCE as it
    * happens.
    *
    * Cross-batch disorder is handled by a bounded replay buffer: a
    * future-stage event that cannot advance yet (its predecessor
    * stage hasn't been reached, e.g. the click arrived a micro-batch
    * before its view) is kept in state — the earliest
    * `maxPendingPerStage` candidates per not-yet-reached stage — and
    * replayed in event-time order once the late predecessor lands, so
    * the advance is recovered instead of permanently lost. Entries
    * that can no longer qualify (stage already passed, or event time
    * at or before the current stage's time — every later advance must
    * strictly increase in event time) are pruned each batch, so state
    * per user stays ≤ one (stage, ts) pair + stages·maxPendingPerStage
    * buffered pairs — bounded by the user population, not the event
    * volume. Terminal states are kept so later events cannot restart
    * a completed funnel.
    *
    * Residual append-mode assumption: advances are committed greedily
    * and never retracted, so a LATE event of an already-reached stage
    * with an earlier event time does not rewrite history (the batch
    * twin, seeing all data at once, would pick the earlier chain) —
    * inherent to any no-retraction online funnel; the buffer makes
    * forward-stage disorder lossless, which is the direction that
    * changes counts.
    */
  def funnelStream(events: Dataset[TypedEvent], stages: Seq[String],
      maxPendingPerStage: Int = 8): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBufState, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[TypedEvent], state: GroupState[FunnelBufState]) =>
          // sentinel must survive catalyst timestamp serialization
          // (millis*1000 must not overflow a long), so not Long.MinValue
          val st0 = state.getOption.getOrElse(
            FunnelBufState(-1, new Timestamp(-(1L << 50)), Seq.empty))
          val incoming = evs.flatMap(e =>
            stageIdx.get(e.event_type).map(i => FunnelPending(i, e.ts))).toSeq
          // one ascending event-time pass over buffered + new events:
          // an entry skipped now can only qualify after a LATER batch
          // delivers an earlier-time predecessor (qualifying times are
          // strictly increasing), so a single pass per batch is exact
          val pool = (st0.pending ++ incoming).sortBy(_.ts.getTime)
          var cur = FunnelState(st0.stage, st0.ts)
          val out = ListBuffer.empty[FunnelAdvance]
          pool.foreach { p =>
            if (p.stage == cur.stage + 1 && p.ts.getTime > cur.ts.getTime) {
              cur = FunnelState(p.stage, p.ts)
              out += FunnelAdvance(user, p.stage, stages(p.stage), p.ts)
            }
          }
          val pending = pool
            .filter(p => p.stage > cur.stage && p.ts.getTime > cur.ts.getTime)
            .groupBy(_.stage).values
            .flatMap(_.sortBy(_.ts.getTime).take(maxPendingPerStage))
            .toSeq
          state.update(FunnelBufState(cur.stage, cur.ts, pending))
          out.iterator
      }
  }

  /** One attribution input row (the q56 shape). */
  final case class AttrEvent(event_id: Long, user_id: Long, ts: Timestamp,
      event_type: String, value: Double)
  /** Carried first/last preceding touch per user ("" = none yet). */
  final case class AttrState(firstTouch: String, lastTouch: String)
  final case class AttrOut(event_id: Long, user_id: Long,
      first_touch: String, last_touch: String, v_cents: Long)

  /** Streaming conversion attribution — the online twin of batch q56:
    * per user the carried FIRST and LAST preceding touch
    * (view/click/signup), and each purchase emits one credited row as
    * it happens (floor-cent value, the identical per-row
    * quantization). State per user is exactly two small strings —
    * bounded by the user population, never the event volume, the
    * property that keeps this viable on an unbounded feed.
    *
    * In-batch disorder is repaired by the (ts, event_id) sort inside
    * each group — the same total order batch q56 windows over. Residual
    * append-mode assumption (the funnelStream note): emitted credits
    * are never retracted, so a touch arriving a micro-batch AFTER a
    * purchase it precedes in event time cannot rewrite that purchase's
    * credit — inherent to any no-retraction online attribution.
    */
  def attributionStream(events: Dataset[AttrEvent]): Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[AttrEvent], state: GroupState[AttrState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(AttrState("", ""))
          val out = ListBuffer.empty[AttrOut]
          sorted.foreach { e =>
            e.event_type match {
              case "purchase" =>
                out += AttrOut(e.event_id, user,
                  if (st.firstTouch.isEmpty) "none" else st.firstTouch,
                  if (st.lastTouch.isEmpty) "none" else st.lastTouch,
                  math.floor(e.value * 100).toLong)
              case "view" | "click" | "signup" =>
                st = AttrState(
                  if (st.firstTouch.isEmpty) e.event_type else st.firstTouch,
                  e.event_type)
              case _ => // error events carry no touch and no credit
            }
          }
          if (st.firstTouch.nonEmpty) state.update(st)
          out.iterator
      }
  }

  /** One debounce input/output row (the q39 shape). */
  final case class DebounceEvent(event_id: Long, user_id: Long,
      ts: Timestamp, event_type: String)
  final case class DebounceState(lastUs: Long)
  final case class DebounceOut(event_id: Long, user_id: Long,
      event_type: String, keep: Boolean)

  private def micros(ts: Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000

  /** Streaming debounce — the stateful twin of the batch q39 flag:
    * an event within `minGapUs` of the PREVIOUS same-(user, type)
    * event is flagged keep = false. State per (user, type) is ONE
    * long (the last event's microsecond time), so it never grows with
    * the stream; each micro-batch sorts its group's events by
    * (time, id) — the batch window's order — and folds through the
    * carried timestamp, so on in-order delivery the decisions equal
    * the batch lag() exactly (StreamsSpec pins it across a two-batch
    * split). Residual: an event arriving BEHIND one already processed
    * compares against the later timestamp (keep = false where the
    * all-at-once batch might keep it) — the no-retraction residue
    * every online debounce shares; bound disorder upstream with a
    * watermark + sort if exact late-data semantics matter.
    */
  def debounceStream(events: Dataset[DebounceEvent],
      minGapUs: Long): Dataset[DebounceOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DebounceState, DebounceOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), evs: Iterator[DebounceEvent],
            state: GroupState[DebounceState]) =>
          var last = state.getOption.map(_.lastUs).getOrElse(Long.MinValue)
          val out = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id)).map { e =>
            val t = micros(e.ts)
            val keep = last == Long.MinValue || t - last > minGapUs
            last = t
            DebounceOut(e.event_id, key._1, key._2, keep)
          }
          state.update(DebounceState(last))
          out.iterator
      }
  }

  /** One sessionize input/output row (the q25 shape). */
  final case class SessionEventIn(event_id: Long, user_id: Long, ts: Timestamp)
  final case class SessionizeState(lastSec: Long)
  final case class SessionFlag(event_id: Long, user_id: Long, new_session: Boolean)

  /** Streaming sessionization — the stateful twin of the batch q25
    * gap rule: an event more than `gapSeconds` after the PREVIOUS
    * same-user event (or a user's first event ever) starts a new
    * session. State per user is ONE long (the last event's epoch
    * second — the batch side compares `ts.cast(long)` seconds, so the
    * stream stores exactly that), never growing with the stream; each
    * micro-batch sorts its user's events by (time, id) — the batch
    * window's order — and folds through the carried second, so on
    * in-order delivery the flags equal the batch lag() exactly
    * (StreamsSpec pins per-user session/event counts across a
    * two-batch split). Same no-retraction residual as
    * [[debounceStream]]: an event arriving behind one already
    * processed compares against the later timestamp.
    */
  def sessionizeStream(events: Dataset[SessionEventIn],
      gapSeconds: Long = 1800L): Dataset[SessionFlag] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionizeState, SessionFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[SessionEventIn],
            state: GroupState[SessionizeState]) =>
          var last = state.getOption.map(_.lastSec).getOrElse(Long.MinValue)
          val out = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id)).map { e =>
            val sec = micros(e.ts) / 1000000L
            val fresh = last == Long.MinValue || sec - last > gapSeconds
            last = sec
            SessionFlag(e.event_id, user, fresh)
          }
          state.update(SessionizeState(last))
          out.iterator
      }
  }

  final case class AnomalyEvent(event_type: String, ts: Timestamp)
  final case class AnomalyState(curHour: Long, curCount: Long,
      n: Long, s: Long, q: Long)
  final case class AnomalyOut(event_type: String, hour: String,
      n_events: Long, is_anomaly: Boolean)
  final case class CusumState(curHour: Long, curCount: Long, s: Long)
  final case class CusumOut(event_type: String, hour: String,
      n_events: Long, cusum: Long, is_alarm: Boolean)

  private val hourFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH").withZone(java.time.ZoneOffset.UTC)

  /** Real-time hourly anomaly monitor — the streaming twin of the
    * prequential batch audit q41_running_anomaly (StreamsSpec pins
    * stream == batch over every closed hour). Per event type the
    * state carries the open hour's count plus three cumulative
    * integers (N hours closed, Σn, Σn²); when an arrival rolls the
    * hour over, the closed hour — and every empty hour the gap
    * skipped, so quiet-period zeros are judged exactly like q34's
    * gap-fill materializes them — is emitted with the same integer
    * z² > 9 inequality the batch runs, then folded into N/S/Q.
    * State is O(1) per type regardless of stream length; assumes
    * in-order delivery per type (the fixture's shape), like the
    * debounce twin.
    */
  def anomalyStream(events: Dataset[AnomalyEvent]): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, AnomalyOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, evs: Iterator[AnomalyEvent],
            state: GroupState[AnomalyState]) =>
          var st = state.getOption
            .getOrElse(AnomalyState(Long.MinValue, 0L, 0L, 0L, 0L))
          val out = ListBuffer.empty[AnomalyOut]
          def close(hour: Long, cnt: Long): Unit = {
            val dev = cnt * st.n - st.s
            val flag = st.n > 1 && dev * dev > 9L * (st.n * st.q - st.s * st.s)
            out += AnomalyOut(tpe,
              hourFmt.format(java.time.Instant.ofEpochSecond(hour * 3600L)),
              cnt, flag)
            st = st.copy(n = st.n + 1, s = st.s + cnt, q = st.q + cnt * cnt)
          }
          evs.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
            val h = micros(e.ts) / 3600000000L
            if (st.curHour == Long.MinValue)
              st = st.copy(curHour = h, curCount = 1L)
            else if (h == st.curHour)
              st = st.copy(curCount = st.curCount + 1L)
            else {
              close(st.curHour, st.curCount)
              var g = st.curHour + 1L
              while (g < h) { close(g, 0L); g += 1L }
              st = st.copy(curHour = h, curCount = 1L)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Real-time CUSUM monitor — the streaming twin of q45's batch
    * change-point fold, completing the alarm family (q40 global
    * z-score, q41/anomalyStream prequential z-score, q45/this
    * sequential CUSUM). Per type the state carries the open hour's
    * count plus ONE cumulative-sum long; hour closes (gap hours
    * included, like the batch gap-fill) run
    * S ← max(0, S + n − ref(type)) and alarm while S ≥ threshold.
    * `refs` is the per-type reference rate — an OFFLINE artifact like
    * the d50 quantile threshold and the d37 LM (the batch q45 derives
    * it from its own full series; a stream cannot see its future, so
    * the operator takes it as input). State is O(1) per type; assumes
    * in-order delivery per type like the anomaly/debounce twins.
    */
  def cusumStream(events: Dataset[AnomalyEvent], refs: Map[String, Long],
      threshold: Long): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, evs: Iterator[AnomalyEvent],
            state: GroupState[CusumState]) =>
          val ref = refs.getOrElse(tpe, 0L)
          var st = state.getOption.getOrElse(CusumState(Long.MinValue, 0L, 0L))
          val out = ListBuffer.empty[CusumOut]
          def close(hour: Long, cnt: Long): Unit = {
            val s2 = math.max(0L, st.s + cnt - ref)
            out += CusumOut(tpe,
              hourFmt.format(java.time.Instant.ofEpochSecond(hour * 3600L)),
              cnt, s2, s2 >= threshold)
            st = st.copy(s = s2)
          }
          evs.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
            val h = micros(e.ts) / 3600000000L
            if (st.curHour == Long.MinValue)
              st = st.copy(curHour = h, curCount = 1L)
            else if (h == st.curHour)
              st = st.copy(curCount = st.curCount + 1L)
            else {
              close(st.curHour, st.curCount)
              var g = st.curHour + 1L
              while (g < h) { close(g, 0L); g += 1L }
              st = st.copy(curHour = h, curCount = 1L)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming point-in-time (as-of) enrichment: each streaming event
    * picks the latest dimension version at-or-before its event time —
    * the streaming twin of [[graft.operators.AsofJoin]] for
    * slowly-changing dimensions (SCD2-style lookups: prices, configs,
    * user tiers).
    *
    * Window functions are unsupported over streams, so the dimension
    * side is folded into a per-key SORTED VERSION TIMELINE array
    * (static subplan, dimension-sized) and broadcast; the version pick
    * is then a pure map-side array scan per event — no stream-side
    * state at all, so nothing to watermark and nothing that grows with
    * the stream. Fits dimensions up to broadcast size; a larger
    * dimension would swap the broadcast for a stream-static equi join
    * on the key with the same timeline arrays.
    */
  /** Streaming corpus pipeline: quality gate → exact dedup → benchmark
    * decontamination — the streaming twin of the batch
    * d28 chain (PipelineQueries) for a continuously-ingested corpus.
    *
    * Stage shapes — every stage is stateless or bounded-state, so the
    * pipeline runs forever on an unbounded feed:
    *  - gate: [[graft.operators.QualityFilters.gatePredicate]],
    *    map-side;
    *  - dedup: `dropDuplicatesWithinWatermark` on the 128-bit content
    *    fingerprint — state holds one fingerprint per distinct doc
    *    inside the lateness horizon, evicted as the watermark passes;
    *  - decontamination: the eval set's n-gram fingerprints are
    *    summarized ONCE into a Bloom sketch (eval suites are MBs even
    *    when the corpus is 100 TB) and each doc is checked map-side —
    *    a doc with ANY bloom-positive gram is dropped. No false
    *    negatives: a truly-contaminated doc never survives; bloom
    *    false positives conservatively drop a few clean docs, the
    *    safe direction for decontamination.
    *
    * Returns the surviving docs with their `fp` fingerprint column
    * (the dedup key, kept for auditability/cross-checks).
    */
  def corpusPipeline(docs: DataFrame, evalSet: DataFrame,
      textCol: String, tsCol: String, lateness: String,
      minTokens: Int, minTtr: Double, maxTokenFrac: Double,
      n: Int = 4, bloomBits: Long = 1 << 22): DataFrame = {
    import graft.functions.TextFunctions.{contentFingerprint, distinctShingles}
    import graft.operators.{BloomDedup, QualityFilters}
    val evalGrams = evalSet.select(
      explode(distinctShingles(col(textCol), n)).as("gram"))
    val bloom = BloomDedup.buildBloom(evalGrams, col("gram"),
      expectedItems = 1L << 18, numBits = bloomBits)
    docs
      .filter(QualityFilters.gatePredicate(col(textCol), minTokens, minTtr, maxTokenFrac))
      .withColumn("fp", contentFingerprint(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("fp")
      .filter(!exists(distinctShingles(col(textCol), n),
        g => BloomDedup.mightContain(bloom, g)))
  }

  /** Streaming unigram-LM quality gate — the score-online half of the
    * train-offline/score-online split a production ingest runs: the
    * model (bounded-vocab micro-nat log-probs + OOV penalty, from
    * [[graft.operators.CorpusLm.unigramModel]]) rides into the plan as
    * a literal map, so scoring is a PURE MAP-SIDE fold per document —
    * no state, no watermark, no shuffle; the stream stays
    * partition-parallel at any rate. Emits passing docs with their
    * score columns (same integer-exact gate as the batch twin
    * d37: Σlp > floor · n_tokens).
    */
  def lmGateStream(docs: DataFrame, textCol: String,
      model: Map[String, Long], oovLpMicro: Long,
      meanLpMicroFloor: Long): DataFrame = {
    val lpMap = typedLit(model)
    val t = split(trim(col(textCol)), " +")
    val sumLp = aggregate(t, lit(0L),
      (acc, tok) => acc + coalesce(element_at(lpMap, tok), lit(oovLpMicro)))
    docs
      .withColumn("n_tokens", size(t).cast("long"))
      .withColumn("sum_lp_micro", sumLp)
      .filter(col("sum_lp_micro") > lit(meanLpMicroFloor) * col("n_tokens"))
  }

  /** Streaming BIGRAM quality gate — the online twin of the batch d44
    * bigram gate, same train-offline/score-online split as
    * [[lmGateStream]]: the bounded bigram model
    * (graft.operators.CorpusLm.bigramModel, keys "w1 w2") rides the
    * plan as a literal map; scoring folds each doc's adjacent pairs
    * map-side — no state, no watermark, no shuffle. Docs with fewer
    * than two tokens have no pairs and pass vacuously, mirroring the
    * batch gate exactly; pairs outside the model's vocabulary score
    * `oovLpMicro` (on a corpus whose bigrams all fit the vocab, the
    * streamed decisions equal the batch twin bit-for-bit — pinned in
    * StreamsSpec).
    */
  def bigramGateStream(docs: DataFrame, textCol: String,
      model: Map[String, Long], oovLpMicro: Long,
      meanLpMicroFloor: Long): DataFrame = {
    val lpMap = typedLit(model)
    val t = split(trim(col(textCol)), " +")
    val pairs = arrays_zip(
      slice(t, lit(1), size(t) - 1),
      slice(t, lit(2), size(t) - 1))
    val sumLp = when(size(t) < 2, lit(0L)).otherwise(
      aggregate(pairs, lit(0L), (acc, p) =>
        acc + coalesce(
          element_at(lpMap, concat_ws(" ", p.getField("0"), p.getField("1"))),
          lit(oovLpMicro))))
    docs
      .withColumn("n_pairs", greatest(size(t) - 1, lit(0)).cast("long"))
      .withColumn("sum_lp_micro", sumLp)
      .filter(col("n_pairs") === 0L ||
        col("sum_lp_micro") > lit(meanLpMicroFloor) * col("n_pairs"))
  }

  /** Streaming length-quantile gate — online twin of the batch d50
    * gate, same train-offline/score-online split as the LM gates: the
    * exact rank-based threshold is computed on the corpus
    * (graft.operators.QualityFilters.lengthQuantileThreshold — a
    * one-long artifact) and the stream filter is a stateless map-side
    * predicate; kept rows equal the batch twin bit-for-bit on the
    * same corpus (pinned in StreamsSpec).
    */
  def lengthGateStream(docs: DataFrame, textCol: String,
      thresholdLen: Long): DataFrame =
    docs.filter(length(col(textCol)).cast("long") >= lit(thresholdLen))

  /** The (source, token) count table [[sourceDriftStream]] and
    * [[zipfSlopeStream]] keep as stateful aggregations.
    */
  private def sourceTokenCounts(docs: DataFrame, sourceCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(sourceCol).as("source"),
        explode(split(trim(col(textCol)), " +")).as("__tok"))
      .groupBy(col("source"), col("__tok"))
      .agg(count(lit(1)).as("__c"))

  /** Starts `df` with `f` as its micro-batch sink. */
  private def eachBatch(df: DataFrame, mode: OutputMode = OutputMode.Append())(
      f: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.outputMode(mode).foreachBatch(f).start()

  /** Starts `df` handing `sink` each non-empty micro-batch mapped by `f`. */
  private def mapEachBatch(df: DataFrame, mode: OutputMode = OutputMode.Append())(
      sink: (DataFrame, Long) => Unit)(
      f: DataFrame => DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(df, mode) { (batch, batchId) =>
      if (!batch.isEmpty) sink(f(batch), batchId)
    }

  /** Streaming per-source distribution drift — online twin of the
    * batch d53 statistic (graft.operators.CorpusLm.sourceDriftKl).
    * The stream maintains the (source, token) count table as a
    * STATEFUL aggregation — state is vocab × sources, bounded by the
    * vocabulary, never data-sized — in Complete output mode, and each
    * trigger folds the full table to KL(source ‖ corpus) in the same
    * integer micro-nat arithmetic (CorpusLm.sourceDriftKlFromCounts).
    * So after ANY prefix of the stream, the drift report equals the
    * batch statistic over exactly the documents seen so far (pinned
    * across a two-batch split in StreamsSpec) — the monitoring shape:
    * a feed gone wrong spikes its source's KL on the very trigger the
    * bad batch lands.
    */
  def sourceDriftStream(docs: DataFrame, sourceCol: String, textCol: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    mapEachBatch(sourceTokenCounts(docs, sourceCol, textCol), OutputMode.Complete())(sink)(
      graft.operators.CorpusLm.sourceDriftKlFromCounts)

  /** Streaming Zipf-slope twin — online d57: the stream maintains the
    * (source, token) count table as a stateful aggregation (state is
    * vocab × sources, bounded by the vocabulary) and each trigger
    * folds it to the per-source Zipf slope with the same integer
    * milli-log regression sums (CorpusLm.zipfSlopeFromCounts), so
    * after ANY stream prefix the report equals the batch statistic
    * over exactly the documents seen so far — the live corpus-health
    * monitor: a templated or keyword-stuffed feed bends its source's
    * slope on the very trigger the bad batch lands.
    */
  def zipfSlopeStream(docs: DataFrame, sourceCol: String, textCol: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    mapEachBatch(sourceTokenCounts(docs, sourceCol, textCol), OutputMode.Complete())(sink)(
      graft.operators.CorpusLm.zipfSlopeFromCounts)

  /** Online NEAR-dup gating: each arriving document is checked for
    * MinHash band collisions against a PREBUILT corpus band index
    * (graft.operators.Dedup.bandIndexOf — build offline, persist to
    * parquet, probe forever: the same build-once/probe-many economics
    * as the persisted IVF-PQ index, for text near-dup instead of ANN).
    * Per micro-batch the probe is the normal batch plan — map-side
    * signatures, one equi join on (band, key) — via foreachBatch:
    * zero stream-side state, nothing to watermark, and the index
    * stays a distributed scan. `sink` receives each batch's
    * (id, corpus_id, n_bands) collision rows; decisions are pinned
    * equal to the batch twin (Dedup.bandCollisions) in StreamsSpec.
    */
  def nearDupGateStream(
      docs: DataFrame,
      idCol: String, textCol: String,
      bandIndex: DataFrame,
      shingleSize: Int = 3, bands: Int = 16, rowsPerBand: Int = 4)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    mapEachBatch(docs)(sink) { batch =>
      graft.operators.Dedup.bandCollisions(
        batch, idCol, textCol, bandIndex, shingleSize, bands, rowsPerBand)
    }

  /** Online ANN serving: a stream of query vectors probed against a
    * PERSISTED IVF-PQ index (graft.operators.IvfPqIndex.openIndex) —
    * the retrieval-serving shape where the index is built offline and
    * every arriving query pays only the probe. Per micro-batch the
    * probe is the normal batch plan (broadcast query side, equi join
    * on list ids, map-side top-k), run through `foreachBatch` — the
    * Structured Streaming idiom for per-batch top-k joins, which keeps
    * zero stream-side state and needs no watermark. `sink` receives
    * each batch's (query_id, neighbor_id, rnk) result.
    */
  def annProbeStream(
      queries: DataFrame,
      index: graft.operators.IvfPqIndex.OpenedIndex,
      idCol: String, vecCol: String, k: Int, nProbe: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    mapEachBatch(queries)(sink) { batch =>
      index.topK(batch, idCol, vecCol, k, nProbe)
    }

  /** Ingest-time perceptual near-dup gate: a stream of image binaries
    * is decoded to aHash fingerprints per micro-batch and checked
    * against a STATIC corpus fingerprint table via the banded Hamming
    * search — the image twin of [[nearDupGateStream]]. Each arriving
    * image pays one decode plus a band join where ITS side is
    * micro-batch-sized (broadcast); zero stream state, no watermark.
    * `sink` receives each batch's (probe_id, corpus_id, hamming) hits.
    */
  def phashGateStream(
      images: DataFrame,
      idCol: String, binCol: String,
      corpusHashes: DataFrame,
      maxHamming: Int = 3)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    mapEachBatch(images)(sink) { batch =>
      graft.operators.Multimodal.phashMatches(
        graft.operators.Multimodal.decodeBmpToAHash(batch, idCol, binCol),
        corpusHashes, maxHamming)
    }

  /** Ingest-time SEMANTIC near-dup gate: a stream of embeddings is
    * checked against a STATIC cluster-assigned corpus (the
    * [[graft.operators.IvfIndex.assignLists]] artifact) — each
    * micro-batch pays one map-side centroid assignment and a
    * list-keyed equi-join where ITS side broadcasts; pairs at or
    * above the micro-floored cosine τ are flagged. The embedding twin
    * of [[phashGateStream]] (and the serving loop of v44's SemDeDup):
    * zero stream state, no watermark. `sink` receives each batch's
    * (probe_id, corpus_id, cos_micro) hits.
    */
  def semdedupGateStream(
      vectors: DataFrame,
      idCol: String, vecCol: String,
      corpusAssigned: DataFrame,
      centroids: Array[Array[Double]],
      tauMicro: Long)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    mapEachBatch(vectors)(sink) { batch =>
      graft.operators.IvfIndex.semdedupMatches(
        batch, idCol, vecCol, corpusAssigned, centroids, tauMicro)
    }

  /** Ingest-time FUZZY entity gate: a stream of catalog items is
    * checked against a STATIC corpus by blocked edit distance
    * ([[graft.operators.FuzzyMatch.matchesAgainst]]) — the serving
    * half of d70/d71's entity resolution. The corpus' rare-token
    * block index derives from CORPUS df stats, so gate decisions
    * never drift with probe traffic; each micro-batch pays one
    * token equi-join and one Levenshtein per distinct candidate.
    * Zero stream state, no watermark — the entity twin of
    * [[phashGateStream]]/[[semdedupGateStream]]. `sink` receives each
    * batch's (probe_key, corpus_key, dist) hits.
    */
  def fuzzyGateStream(
      items: DataFrame,
      idCol: String, nameCol: String,
      corpus: DataFrame,
      dfCap: Int = 25, maxDist: Int = 2)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    mapEachBatch(items)(sink) { batch =>
      graft.operators.FuzzyMatch.matchesAgainst(
        batch, corpus, idCol, nameCol, dfCap, maxDist)
    }

  // ---- streaming index maintenance: idempotent appends ------------
  //
  // foreachBatch is at-least-once: after a crash between the sink
  // commit and the checkpoint advance, the restart REPLAYS the last
  // micro-batch with the SAME batchId. An append sink without a guard
  // would double-append that batch. The guard is a marker file per
  // applied batch id (created atomically, overwrite=false) under the
  // index artifact itself — `<path>/_applied/<streamId>/batch-<id>` —
  // so the replay is detected and skipped no matter which JVM
  // restarts the query. The residual window (crash between the append
  // and its marker) is the standard foreachBatch at-least-once
  // residue; for the band index a compactBandIndex pass drops the
  // exactly-duplicated rows it could leave.

  /** Runs `apply` for a non-empty batch not yet applied for this
    * index+stream, then writes its marker
    * `<path>/_applied/<streamId>/batch-%020d` (created atomically,
    * overwrite=false); a replayed id skips both. Returns whether
    * `apply` ran.
    */
  private def applyOnce(batch: DataFrame, batchId: Long, path: String,
      streamId: String)(apply: => Unit): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/_applied/$streamId")
    val marker = new org.apache.hadoop.fs.Path(dir, f"batch-$batchId%020d")
    val fs = dir.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val fresh = !batch.isEmpty && !fs.exists(marker)
    if (fresh) {
      apply
      fs.mkdirs(dir)
      fs.create(marker, false).close()
    }
    fresh
  }

  /** One micro-batch of the band-index maintenance stream — public so
    * a replayed delivery (what a restart does) is directly testable:
    * calling it twice with the same `batchId` appends once.
    */
  def appendBandBatch(batch: DataFrame, batchId: Long, path: String,
      idCol: String, textCol: String, streamId: String = "default"): Unit = {
    applyOnce(batch, batchId, path, streamId) {
      graft.operators.Dedup.appendToBandIndex(batch, idCol, textCol, path)
    }
  }

  /** Streaming band-index maintenance: each arriving micro-batch of
    * documents is appended to the persisted MinHash band index
    * (Dedup.appendToBandIndex — encode with the artifact's own banding
    * parameters, one map-side pass over the new rows) with the
    * batch-id idempotency guard, so a restart replaying the last
    * micro-batch cannot double-append. The ingest side of the online
    * near-dup gate: [[nearDupGateStream]] probes what this maintains.
    */
  def bandIndexAppendStream(docs: DataFrame, idCol: String, textCol: String,
      path: String, streamId: String = "default"):
      org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(docs)(appendBandBatch(_, _, path, idCol, textCol, streamId))

  /** One micro-batch of a rollup-maintenance stream — public so a
    * replayed delivery is directly testable: calling it twice with the
    * same `batchId` merges once. `toIncrements` turns the raw batch
    * into rows of the rollup's own schema (its cost is batch-sized and
    * map-side for any sum rollup).
    *
    * Unlike the band-index path (whose rare marker-window duplicates a
    * compact pass can drop), a SUM rollup has no downstream dedup — so
    * the replay marker here is NOT a separate file: RollupIndex.merge
    * folds the (streamId, batchId) into the same one-row meta write
    * that publishes the merged agg_dir, making merge+marker atomic and
    * restarts exactly-once. Micro-batch ids are monotonic per
    * checkpoint, so "already applied" is `batchId <= lastApplied`.
    */
  def applyRollupBatch(batch: DataFrame, batchId: Long, path: String,
      streamId: String = "default")(toIncrements: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    // Rollup artifacts written before the in-meta marker recorded
    // replays as _applied/<streamId>/batch-N files; when the meta map
    // has no entry for this stream, consult those legacy markers so a
    // restart across the upgrade cannot re-merge its replayed batch.
    val last = graft.operators.RollupIndex
      .lastApplied(spark, path, streamId)
      .orElse(legacyLastApplied(spark, s"$path/_applied/$streamId"))
    if (!batch.isEmpty && !last.exists(batchId <= _)) {
      graft.operators.RollupIndex.merge(toIncrements(batch), path,
        applied = Some(streamId -> batchId))
    }
  }

  /** Highest batch id among legacy `batch-N` marker files, if any. */
  private def legacyLastApplied(spark: org.apache.spark.sql.SparkSession,
      markerDir: String): Option[Long] = {
    val dir = new org.apache.hadoop.fs.Path(markerDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("batch-") &&
        n.stripPrefix("batch-").forall(_.isDigit))
      .map(_.stripPrefix("batch-").toLong)
      .sorted(Ordering.Long.reverse).headOption
  }

  /** One micro-batch of the gram-novelty ingest gate — public so a
    * replayed delivery is directly testable: a replayed batch id
    * neither re-scores nor re-appends (the sink sees it once).
    */
  def applyGramNoveltyBatch(batch: DataFrame, batchId: Long, path: String,
      idCol: String, textCol: String, streamId: String = "default")(
      sink: (DataFrame, Long) => Unit): Unit = {
    applyOnce(batch, batchId, path, streamId) {
      sink(graft.operators.Dedup.scoreAndIngestGrams(
        batch, idCol, textCol, path), batchId)
    }
  }

  /** Streaming gram-novelty ingest gate: each arriving micro-batch of
    * documents is scored against the persisted seen-gram set (exact
    * novelty with first-owner credit — the curation signal d25's Bloom
    * gate approximates) and ONLY its genuinely new grams are appended,
    * under the batch-id idempotency guard. With batches arriving in id
    * order the per-doc novelty equals the batch [[graft.operators
    * .Dedup.gramNovelty]] over the same prefix — StreamsSpec pins it.
    */
  def gramNoveltyStream(docs: DataFrame, idCol: String, textCol: String,
      path: String, streamId: String = "default")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(docs)(applyGramNoveltyBatch(_, _, path, idCol, textCol, streamId)(sink))

  /** Maintains the rollup artifact at `path` from `events`: each
    * micro-batch merges its row counts per `keys` (one `n` measure)
    * under the in-meta replay marker.
    */
  private def countRollupStream(events: DataFrame, path: String, streamId: String)(
      keys: Column*): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(events) { (batch, batchId) =>
      applyRollupBatch(batch, batchId, path, streamId)(
        _.groupBy(keys: _*).agg(count(lit(1)).as("n")))
    }

  /** Streaming-maintained hourly count rollup: each micro-batch of
    * events merges its (event_type, hour, n) increments into the
    * persisted RollupIndex artifact under the batch-id idempotency
    * guard — continuous ETL into a summary table whose reader
    * (RollupIndex.open) always sees a complete version, with replays
    * merged exactly once. The raw events need never be stored: the
    * artifact is dimension-bounded and each merge costs
    * O(|rollup| + |batch|).
    */
  def hourlyRollupAppendStream(events: DataFrame, typeCol: String,
      tsCol: String, path: String, streamId: String = "default"):
      org.apache.spark.sql.streaming.StreamingQuery =
    countRollupStream(events, path, streamId)(
      col(typeCol).as("event_type"), date_trunc("hour", col(tsCol)).as("hour"))

  /** The q46 seasonal-baseline anomaly read OFF the streaming-
    * maintained hourly rollup: open the [[hourlyRollupAppendStream]]
    * artifact, derive each type's hour-of-day profile (observed-hour
    * totals + hour counts — plain aggregates over the dimension-
    * bounded rollup, NOT over raw events), and flag spikes/dips with
    * q46's integer gates. The composition is the point: the raw event
    * stream was never stored, yet the monitoring query runs on demand
    * over a bounded artifact — StreamsSpec pins it equal to batch q46
    * recomputed over the same events.
    */
  def seasonalAnomalyFromRollup(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val hrs = graft.operators.RollupIndex.open(spark, path)
      .select(col("event_type"), col("hour").as("h"), col("n").as("n_events"))
    val prof = hrs
      .groupBy(col("event_type"), hour(col("h")).as("hod"))
      .agg(sum(col("n_events")).as("s_tot"), count(lit(1)).as("n_hours"))
    hrs.withColumn("hod", hour(col("h")))
      .join(broadcast(prof), Seq("event_type", "hod"))
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH").as("hour"),
        col("hod"), col("n_events"),
        (col("n_events") * col("n_hours") > col("s_tot") * 2L).as("is_spike"),
        (col("n_events") * col("n_hours") * 2L < col("s_tot")).as("is_dip"))
  }

  /** One micro-batch of the q47 transition-matrix maintenance loop —
    * public so a replayed delivery is directly testable. The rollup
    * artifact at `path` holds the (prev_type, next_type) → n_steps
    * counts; the per-user LAST EVENT (the cross-batch boundary state,
    * one bounded row per user) rides beside it as deterministic
    * `last_v<batchId>` snapshot dirs:
    *
    *  1. read the newest snapshot with version < batchId (a replayed
    *     batch therefore sees the SAME pre-batch state it saw the
    *     first time, even if its own snapshot already landed),
    *  2. union it with the batch and count (prev → next) steps per
    *     user in (ts, event_id) order — boundary transitions included,
    *     state-only pairs excluded,
    *  3. write the new snapshot to `last_v<batchId>` (deterministic
    *     name: a replay overwrites, never duplicates),
    *  4. merge the step counts into the RollupIndex — the in-meta
    *     marker commits the batch exactly-once,
    *  5. prune snapshots, keeping the latest two generations.
    *
    * Assumes per-user arrival order matches (ts, event_id) order — the
    * replayed-log shape every sessionization stream here shares.
    */
  def applyTransitionBatch(batch: DataFrame, batchId: Long, path: String,
      streamId: String = "default"): Unit = {
    val spark = batch.sparkSession
    val done = graft.operators.RollupIndex
      .lastApplied(spark, path, streamId).exists(batchId <= _)
    if (batch.isEmpty || done) return
    val evs = batch.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type")).withColumn("is_state", lit(false))
    val prev = readLastSnapshot(spark, path, batchId)
      .map(_.withColumn("is_state", lit(true)))
      .getOrElse(evs.filter(lit(false)))
    val all = prev.unionByName(evs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val steps = all
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull && !col("is_state"))
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_steps"))
    // new per-user boundary state: the max (ts, event_id) row
    val newLast = all
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    newLast.write.mode("overwrite").parquet(f"$path/last_v$batchId%020d")
    graft.operators.RollupIndex.merge(steps, path,
      applied = Some(streamId -> batchId))
    pruneLastSnapshots(spark, path, keep = 2)
  }

  /** Newest `last_vN` snapshot with N strictly below `batchId`. */
  private def readLastSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, batchId: Long): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("last_v") &&
        n.stripPrefix("last_v").forall(_.isDigit))
      .map(n => n.stripPrefix("last_v").toLong)
      .filter(_ < batchId)
      .sorted(Ordering.Long.reverse).headOption
      .map(v => spark.read.parquet(f"$path/last_v$v%020d"))
  }

  private def pruneLastSnapshots(spark: org.apache.spark.sql.SparkSession,
      path: String, keep: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("last_v") &&
        n.stripPrefix("last_v").forall(_.isDigit))
      .sorted(Ordering.String.reverse)
    versions.drop(keep).foreach { n =>
      try fs.delete(new org.apache.hadoop.fs.Path(root, n), true)
      catch { case _: java.io.IOException => }
    }
  }

  /** Streaming q47 maintenance: build the rollup artifact with
    * `RollupIndex.build(empty (prev_type, next_type, n_steps), path,
    * keyCols = prev_type, next_type)`, then each arriving micro-batch
    * of events merges its transition counts (boundary steps across
    * batches included via the per-user last-event snapshot).
    */
  def transitionAppendStream(events: DataFrame, path: String,
      streamId: String = "default"):
      org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(events)(applyTransitionBatch(_, _, path, streamId))

  /** Streaming weekly-activity maintenance: each micro-batch of events
    * merges (user_id, week) → n counts into a RollupIndex artifact —
    * the dimension-bounded activity set behind cohort analytics, kept
    * current without ever storing raw events. Build the artifact with
    * keys (user_id, week) and one `n` measure. Exactly-once by the
    * in-meta replay marker, like every rollup consumer.
    */
  def weeklyActivityAppendStream(events: DataFrame, userCol: String,
      tsCol: String, path: String, streamId: String = "default"):
      org.apache.spark.sql.streaming.StreamingQuery =
    countRollupStream(events, path, streamId)(
      col(userCol).as("user_id"), date_trunc("week", col(tsCol)).as("week"))

  /** Streaming daily-activity maintenance: each micro-batch merges
    * (user_id, day) → n counts into a RollupIndex artifact — the
    * activity set behind the stickiness monitor, kept current without
    * storing raw events. Exactly-once by the in-meta replay marker.
    */
  def dailyActivityAppendStream(events: DataFrame, userCol: String,
      tsCol: String, path: String, streamId: String = "default"):
      org.apache.spark.sql.streaming.StreamingQuery =
    countRollupStream(events, path, streamId)(
      col(userCol).as("user_id"), date_trunc("day", col(tsCol)).as("day"))

  /** The q58 DAU/WAU stickiness read OFF the maintained daily rollup:
    * the distinct (user, day) set is the artifact's KEY SET, and the
    * same ≤7 window-end explode, observed-day restriction and integer
    * permille replay over it — the engagement monitor without a raw
    * event in sight. StreamsSpec pins it equal to batch q58 at any
    * micro-batch split.
    */
  def stickinessFromRollup(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val ud = graft.operators.RollupIndex.open(spark, path)
      .select(col("user_id"), to_date(col("day")).as("day"))
    val days = ud.select(col("day")).distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("t"))
      .distinct()
      .join(broadcast(days.select(col("day").as("t"))), Seq("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("wau"))
    dau.join(wau, col("day") === col("t"))
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000 div wau").as("stickiness_permille"))
  }

  /** The q48 retention-cohort triangle read OFF the maintained weekly
    * rollup: the (user, week) activity SET is the rollup's key set
    * (counts > 0 by construction), each user's cohort is a min
    * aggregate over it, and the offsets are the same exact Monday
    * arithmetic — StreamsSpec pins it equal to batch q48 recomputed
    * over the same events at any micro-batch split.
    */
  def retentionFromRollup(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val uw = graft.operators.RollupIndex.open(spark, path)
      .select(col("user_id"), col("week").as("w"))
    val coh = uw.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
    uw.join(coh, Seq("user_id"))
      .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        expr("datediff(to_date(w), to_date(cw)) div 7").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** The q50 weekly active/new/churn decomposition read OFF the same
    * maintained weekly rollup (one more consumer, zero new machinery):
    * the (user, week) activity set is the artifact's key set, cohorts
    * are a min aggregate, and the week-over-week link is the identical
    * user-keyed self-join on wk+7 batch q50 performs — bounded by
    * users×weeks, never a pass over raw events. StreamsSpec pins it
    * equal to batch q50 at any micro-batch split.
    */
  def weeklyChurnFromRollup(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val uw = graft.operators.RollupIndex.open(spark, path)
      .select(col("user_id"), to_date(col("week")).as("wk"))
    val coh = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
    val nxt = uw.select(col("user_id"), col("wk").as("nwk"))
    uw.join(coh, Seq("user_id"))
      .join(nxt, uw("user_id") === nxt("user_id") &&
        nxt("nwk") === date_add(uw("wk"), 7), "left")
      .groupBy(date_format(uw("wk"), "yyyy-MM-dd").as("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(uw("wk") === col("cw"), 1L).otherwise(0L)).as("n_new"),
        sum(when(nxt("nwk").isNotNull, 1L).otherwise(0L)).as("n_retained_next"),
        sum(when(nxt("nwk").isNull, 1L).otherwise(0L)).as("n_churned_next"))
  }

  /** Streaming value-histogram maintenance: each micro-batch of events
    * merges (event_type, floor-cents value bucket) → n counts into a
    * RollupIndex artifact — the bounded histogram behind the
    * percentile monitor, kept current without storing raw events.
    * Build the artifact with keys (event_type, v_cents) and one `n`
    * measure. Exactly-once by the in-meta replay marker.
    */
  def valueHistogramAppendStream(events: DataFrame, typeCol: String,
      valueCol: String, path: String, streamId: String = "default"):
      org.apache.spark.sql.streaming.StreamingQuery =
    countRollupStream(events, path, streamId)(
      col(typeCol).as("event_type"), floor(col(valueCol) * 100).as("v_cents"))

  /** The q55 per-type p50/p90/p99 read OFF the maintained value
    * histogram: the identical bounded cumulative walk and rank-based
    * integer thresholds — the streaming latency/SLA monitor read.
    * StreamsSpec pins it equal to batch q55 at any micro-batch split.
    */
  def percentilesFromRollup(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val hist = graft.operators.RollupIndex.open(spark, path)
      .select(col("event_type"), col("v_cents"), col("n").as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("v_cents").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val totals = hist.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
    def pct(p: Int) =
      min(when(col("cum") * 100 >= col("n") * p, col("v_cents")))
    cum.join(broadcast(totals), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n_events"), pct(50).as("p50_cents"),
        pct(90).as("p90_cents"), pct(99).as("p99_cents"))
  }

  /** The q47 user-journey transition matrix read OFF the maintained
    * rollup: counts come straight from the artifact; out-degree totals
    * and integer permille shares are derived exactly as batch q47
    * derives them — StreamsSpec pins the two equal at any batch split.
    */
  def transitionMatrixFromRollup(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val steps = graft.operators.RollupIndex.open(spark, path)
      .select(col("prev_type"), col("next_type"), col("n_steps"))
    val outTotals = steps.groupBy(col("prev_type"))
      .agg(sum(col("n_steps")).as("n_out"))
    steps.join(broadcast(outTotals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n_steps"),
        expr("n_steps * 1000 div n_out").as("share_permille"))
  }

  /** Streaming-maintained gram matrix: each micro-batch of embeddings
    * merges its (i, j, n, sum_qprod) increments — the v36 micro-
    * quantized integer products, associative at any batch split — into
    * a RollupIndex artifact, so the Σxxᵀ statistics behind PCA /
    * whitening / OPQ stay current as the corpus grows WITHOUT ever
    * re-scanning it. The artifact is DIM²-bounded; each merge costs
    * O(DIM² + |batch|·DIM²) map-side work and the replay guard makes
    * restarts exactly-once — the marker commits INSIDE the meta flip
    * that publishes the merge (RollupIndex.merge `applied`), so no
    * crash window can double-count a batch.
    */
  def gramianAppendStream(vectors: DataFrame, vecCol: String, dim: Int,
      path: String, streamId: String = "default"):
      org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(vectors) { (batch, batchId) =>
      applyRollupBatch(batch, batchId, path, streamId)(
        graft.operators.Gramian.increments(_, vecCol, dim))
    }

  /** Mean collision recall of the persisted band index at `path`
    * against the raw corpus at `corpusPath` for a bounded probe sample
    * — the near-dup twin of [[auditMeanRecall]]. One two-column row
    * crosses the driver; sample docs with zero ground-truth collisions
    * contribute nothing (an all-unique sample audits to 1.0).
    */
  def auditBandCollisionRecall(spark: org.apache.spark.sql.SparkSession,
      path: String, corpusPath: String, sampleDocs: DataFrame,
      idCol: String, textCol: String): Double = {
    val opened = graft.operators.Dedup.openBandIndex(spark, path)
    val corpus = spark.read.parquet(corpusPath)
    val agg = graft.operators.Dedup
      .collisionRecallAudit(opened, corpus, sampleDocs, idCol, textCol)
      .agg(sum(col("n_hit")).as("hits"), sum(col("n_truth")).as("truths"))
      .head()
    if (agg.isNullAt(1) || agg.getLong(1) == 0L) 1.0
    else agg.getLong(0).toDouble / agg.getLong(1)
  }

  /** One micro-batch of the AUDITED band-index maintenance loop —
    * [[appendBandBatch]]'s idempotency contract plus the per-wave
    * quality audit: (1) append the wave's band rows, (2) append the raw
    * (id, text) rows to `corpusPath` (the audit's uncapped ground truth
    * must grow with the index), (3) mark applied, (4) measure collision
    * recall with a bounded sample OF THE WAVE ITSELF — per-batch cap
    * starvation hits exactly the docs just ingested (a boilerplate
    * cluster larger than the cap arriving in one batch loses its
    * buckets wholesale, invisible to a fixed probe set) — and post an
    * [[graft.core.Events.IndexAuditEvent]] (band audits carry
    * k = nProbe = 0) with `alarm` when recall fell below `alarmBelow`.
    * A replayed batch id neither re-appends nor re-posts.
    */
  def auditedBandBatch(batch: DataFrame, batchId: Long, path: String,
      corpusPath: String, idCol: String, textCol: String,
      alarmBelow: Double, baseline: Double,
      auditSample: Int = 64, streamId: String = "default"): Unit = {
    val applied = applyOnce(batch, batchId, path, streamId) {
      graft.operators.Dedup.appendToBandIndex(batch, idCol, textCol, path)
      batch.select(col(idCol), col(textCol))
        .write.mode("append").parquet(corpusPath)
    }
    if (applied) {
      val recall = auditBandCollisionRecall(batch.sparkSession, path, corpusPath,
        batch.select(col(idCol), col(textCol)).limit(auditSample), idCol, textCol)
      graft.core.Events.post(graft.core.Events.IndexAuditEvent(
        path, streamId, batchId, recall, baseline, k = 0, nProbe = 0,
        alarm = recall < alarmBelow, ts = System.currentTimeMillis()))
    }
  }

  /** The band-index audit loop — [[bandIndexAppendStream]] composed
    * with a per-wave [[graft.operators.Dedup.collisionRecallAudit]]
    * posting to the Events bus: the cross-family twin of
    * [[auditedIvfPqAppendStream]]. Band maintenance decays differently
    * than PQ drift — the per-batch df cap drops a too-popular bucket
    * WHOLESALE, so a template-cluster wave larger than the cap ingests
    * silently unfindable — and this loop measures that loss on the
    * wave itself. Baseline is the same audit over a bounded sample of
    * the pre-ingest corpus, measured once before the stream starts.
    *
    * Scale shape: each wave's audit costs one fresh map-side banding of
    * the accumulated corpus with the bounded sample broadcast into the
    * probe joins — widen the trigger interval rather than auditing
    * per-record.
    */
  def auditedBandAppendStream(docs: DataFrame, idCol: String, textCol: String,
      path: String, corpusPath: String, alarmBelow: Double,
      auditSample: Int = 64, streamId: String = "default"):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val baseline = auditBandCollisionRecall(spark, path, corpusPath,
      spark.read.parquet(corpusPath)
        .select(col(idCol), col(textCol)).limit(auditSample),
      idCol, textCol)
    eachBatch(docs)(auditedBandBatch(_, _, path, corpusPath, idCol, textCol,
      alarmBelow, baseline, auditSample, streamId))
  }

  /** One micro-batch of the IVF-PQ maintenance stream — same
    * replay-idempotence contract as [[appendBandBatch]].
    */
  def appendIvfPqBatch(batch: DataFrame, batchId: Long, path: String,
      idCol: String, vecCol: String, streamId: String = "default"): Unit = {
    applyOnce(batch, batchId, path, streamId) {
      graft.operators.IvfPqIndex.appendToIndex(batch, idCol, vecCol, path)
    }
  }

  /** Streaming IVF-PQ index maintenance: arriving vectors are encoded
    * with the persisted index's frozen quantizers and appended
    * (IvfPqIndex.appendToIndex — FAISS add() semantics), guarded
    * against restart replays. Pair with IvfPqIndex.recallAudit on a
    * schedule: continuous ingest is exactly where quantizer drift
    * accumulates.
    */
  def ivfPqAppendStream(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, streamId: String = "default"):
      org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(vectors)(appendIvfPqBatch(_, _, path, idCol, vecCol, streamId))

  /** Mean recall@k of the persisted index at `path` against the raw
    * vectors at `corpusPath` for a bounded query sample — the number
    * the audit loop alarms on. One row crosses the driver (the
    * summed hit/k counters), everything else is the recallAudit plan:
    * sample broadcasts both ways, the corpus never shuffles.
    */
  def auditMeanRecall(spark: org.apache.spark.sql.SparkSession, path: String,
      corpusPath: String, sampleQueries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int): Double = {
    val opened = graft.operators.IvfPqIndex.openIndex(spark, path)
    val corpus = spark.read.parquet(corpusPath)
    val agg = graft.operators.IvfPqIndex
      .recallAudit(opened, corpus, sampleQueries, idCol, vecCol, k, nProbe)
      .agg(sum(col("n_hits")).as("hits"), sum(col("k")).as("ks"))
      .head()
    val ks = agg.getLong(1)
    if (ks == 0L) 1.0 else agg.getLong(0).toDouble / ks
  }

  /** One micro-batch of the AUDITED maintenance loop — public so the
    * replay shape is directly testable: a replayed batch id neither
    * double-appends nor re-posts its audit event.
    *
    * Order of operations inside the idempotency guard: (1) append the
    * new vectors' PQ codes to the index, (2) append the raw vectors to
    * `corpusPath` (the audit's exact-side ground truth must grow with
    * the index, or decayed entries would be invisible to it), (3) mark
    * the batch applied, (4) measure recall@k with a bounded sample OF
    * THE WAVE ITSELF as the query set — the freshest ingest is exactly
    * where quantizer drift lives; a fixed in-distribution probe set
    * would stay healthy while drifted entries decay (proven in
    * IvfPqSpec) — and post an [[graft.core.Events.IndexAuditEvent]]
    * with `alarm` set when recall fell below `alarmBelow`. A crash
    * between (1) and (3) is the documented foreachBatch at-least-once
    * residue; compactIndex drops the duplicates a replay could leave.
    */
  def auditedIvfPqBatch(batch: DataFrame, batchId: Long, path: String,
      corpusPath: String, idCol: String, vecCol: String,
      k: Int, nProbe: Int, alarmBelow: Double, baseline: Double,
      auditSample: Int = 64, streamId: String = "default"): Unit = {
    val applied = applyOnce(batch, batchId, path, streamId) {
      graft.operators.IvfPqIndex.appendToIndex(batch, idCol, vecCol, path)
      batch.select(col(idCol), col(vecCol))
        .write.mode("append").parquet(corpusPath)
    }
    if (applied) {
      val recall = auditMeanRecall(batch.sparkSession, path, corpusPath,
        batch.select(col(idCol), col(vecCol)).limit(auditSample),
        idCol, vecCol, k, nProbe)
      graft.core.Events.post(graft.core.Events.IndexAuditEvent(
        path, streamId, batchId, recall, baseline, k, nProbe,
        alarm = recall < alarmBelow, ts = System.currentTimeMillis()))
    }
  }

  /** The streaming recall-audit loop — [[ivfPqAppendStream]] composed
    * with a per-wave [[graft.operators.IvfPqIndex.recallAudit]] whose
    * report lands on the Events bus: appends freeze the quantizers
    * (FAISS add() semantics), so continuous ingest is exactly where
    * drift accumulates, and this loop DETECTS the drift it ingested
    * instead of letting search quality decay silently. Each wave is
    * audited with a bounded sample of its own vectors as queries; the
    * build-time baseline (the same audit over a sample of the
    * pre-ingest corpus) is measured once before the stream starts and
    * rides along in every event, so an operator's alert rule can be
    * absolute (`alarm`, recall < `alarmBelow`) or relative (recall vs
    * `baseline`).
    *
    * Scale shape: the audit costs one map-side corpus pass per wave
    * with the bounded (≤ `auditSample`) query set broadcast both ways
    * — for small frequent micro-batches, widen the trigger interval
    * rather than auditing per-record.
    */
  def auditedIvfPqAppendStream(vectors: DataFrame, idCol: String,
      vecCol: String, path: String, corpusPath: String,
      k: Int, nProbe: Int, alarmBelow: Double, auditSample: Int = 64,
      streamId: String = "default"):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vectors.sparkSession
    val baseline = auditMeanRecall(spark, path, corpusPath,
      spark.read.parquet(corpusPath)
        .select(col(idCol), col(vecCol)).limit(auditSample),
      idCol, vecCol, k, nProbe)
    eachBatch(vectors)(auditedIvfPqBatch(_, _, path, corpusPath, idCol, vecCol,
      k, nProbe, alarmBelow, baseline, auditSample, streamId))
  }

  /** Hourly OHLC bars as an INCREMENTAL aggregation — the streaming
    * twin of the q37 batch query, and a pure transform that accepts
    * either a batch or a streaming frame (StreamsSpec pins the two
    * equal). open/close are min_by/max_by on the (time, id) pair —
    * the declarative form of the batch window's first/last, which
    * streaming state can maintain incrementally where an ordered
    * window walk cannot. Running unbounded: add a watermark upstream
    * and Append mode so closed hours emit once and their state frees;
    * Complete mode (the spec's shape) re-emits every bar per trigger.
    */
  def ohlcHourly(events: DataFrame, typeCol: String, tsCol: String,
      valueCol: String, idCol: String): DataFrame =
    events.groupBy(col(typeCol).as("event_type"),
        window(col(tsCol), "1 hour").as("w"))
      .agg(
        min_by(col(valueCol), struct(col(tsCol), col(idCol))).as("open"),
        max(col(valueCol)).as("high"), min(col(valueCol)).as("low"),
        max_by(col(valueCol), struct(col(tsCol), col(idCol))).as("close"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH").as("hr"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))

  def asofEnrich(stream: DataFrame, dim: DataFrame, keys: Seq[String],
      streamTime: String, dimTime: String, dimCols: Seq[String],
      prefix: String = "asof_"): DataFrame = {
    val timeline = dim.groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct(
        (col(dimTime).as("__vt") +: dimCols.map(c => col(c))): _*))).as("__tl"))
    val joined = stream.join(broadcast(timeline), keys, "left")
    // Latest version with __vt <= event time; guarded for ANSI mode
    // (element_at(-1) on an empty filter result would throw).
    val versions = filter(col("__tl"), e => e.getField("__vt") <= col(streamTime))
    val picked = joined.withColumn("__pick",
      when(size(versions) > 0, element_at(versions, -1)))
    dimCols.foldLeft(picked) { (df, c) =>
      df.withColumn(prefix + c, col("__pick").getField(c))
    }.drop("__tl", "__pick")
  }
}
