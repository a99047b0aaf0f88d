package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Streaming twin of the q34 latest-state compaction
  * ([[graft.queries.Relational.latestState]]): maintain the current
  * state per (user, event_type) key over an unbounded event stream,
  * emitting the key's refreshed state every micro-batch it changes in.
  *
  * Shape at scale: the state store holds exactly ONE fixed-size record
  * per live key — the state IS the output table, so memory is bounded
  * by key cardinality, not stream length (the RocksDB store keeps it
  * off the heap). Arrival order never matters: each event folds in
  * with the same (ts, event_id) total order the batch window sorts by,
  * so a late event can only win if it is genuinely newer — streaming
  * output converges to the batch compaction of the same log.
  */
object StreamingLatestState {

  case class EventIn(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  /** `act_ms` is [[latestStateTtlTws]]'s activity HIGH-WATER mark (max
    * event time ever seen for the key, ms) — distinct from `last_ts`, which
    * is floor-seconds of the last WINNING event. The eviction deadline
    * must come from the high-water, not the current batch: an
    * in-allowance out-of-order batch would otherwise pull the deadline
    * backwards and evict a key that was active inside the horizon.
    */
  case class KeyState(last_ts: Long, last_event_id: Long,
      last_value: Double, n_events: Long, act_ms: Long = Long.MinValue)

  case class StateOut(user_id: Long, event_type: String, last_ts: Long,
      last_event_id: Long, last_value: Double, n_events: Long)

  /** Fold one event into the key's state: count always advances; the
    * payload only if (ts, event_id) is strictly newer — the identical
    * tie-break the batch window uses.
    */
  private[streaming] def fold(s: KeyState, ets: Long, eid: Long,
      value: Double): KeyState = {
    val newer = ets > s.last_ts || (ets == s.last_ts && eid > s.last_event_id)
    if (newer) KeyState(ets, eid, value, s.n_events + 1)
    else s.copy(n_events = s.n_events + 1)
  }

  /** The per-key batch fold; `trackAct` additionally advances the TTL
    * variant's activity high-water.
    */
  private def foldBatch(trackAct: Boolean)(key: (Long, String),
      prev: Option[KeyState],
      rows: Iterator[EventIn]): (KeyState, Iterator[StateOut]) = {
    var s = prev.getOrElse(KeyState(Long.MinValue, Long.MinValue, 0.0, 0L))
    rows.foreach { e =>
      // high-water from the PRE-fold state: [[fold]]'s newer branch
      // rebuilds KeyState and would reset act_ms, silently pulling the
      // eviction deadline backwards on an out-of-order arrival
      val prevAct = s.act_ms
      // floor-seconds, matching the batch side's long cast
      s = fold(s, Math.floorDiv(e.ts.getTime, 1000L), e.event_id, e.value)
      if (trackAct) s = s.copy(act_ms = math.max(prevAct, e.ts.getTime))
    }
    (s, Iterator.single(StateOut(key._1, key._2, s.last_ts,
      s.last_event_id, s.last_value, s.n_events)))
  }

  /** Update-mode stream: one StateOut per touched key per micro-batch. */
  def latestStateTws(events: DataFrame)(implicit
      spark: SparkSession): Dataset[StateOut] = {
    import spark.implicits._
    events.as[EventIn]
      .groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(
        new Tws.FoldProcessor(foldBatch(trackAct = false)),
        TimeMode.None(), OutputMode.Update())
  }

  /** [[latestStateTws]] with EVENT-TIME idle expiry: a key whose last
    * activity sits more than `idleTtl` behind the stream's watermark is
    * evicted from the state store. This is the knob that makes the
    * "state = one record per LIVE key" bound hold under unbounded key
    * CARDINALITY (session-scoped ids, one-shot users): without it the
    * store grows with every key ever seen; with it, state is bounded by
    * the keys active inside one TTL horizon.
    *
    * Expiry semantics (pinned in StreamingStateTtlSpec): eviction
    * forgets the key entirely — a later arrival for an expired key
    * starts a FRESH state (n_events restarts at 1). Event-time (not
    * processing-time) expiry keeps the behavior deterministic: it
    * depends only on the data's timestamps and the configured delays,
    * never on wall-clock scheduling, so replaying a log reproduces the
    * exact same evictions.
    *
    * `watermarkDelay` is the usual out-of-orderness allowance; a late
    * event inside the allowance still folds into live state exactly as
    * in [[latestStateTws]].
    */
  def latestStateTtlTws(events: DataFrame, idleTtl: java.time.Duration,
      watermarkDelay: String = "0 seconds")(implicit
      spark: SparkSession): Dataset[StateOut] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay).as[EventIn]
      .groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(
        new Tws.TtlFoldProcessor(foldBatch(trackAct = true),
          (s: KeyState) => s.act_ms, idleTtl.toMillis),
        TimeMode.EventTime(), OutputMode.Update())
  }
}
