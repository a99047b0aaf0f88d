package graft.streaming

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** `transformWithState` adapters for the keyed state operators.
  *
  * Every graft streaming state op is a per-key BATCH FOLD — pure
  * function (key, previous state, micro-batch rows) → (next state,
  * output rows) — so the whole state layer is one shared shim, not
  * twelve bespoke processors; the stream==batch pins then hold for
  * every op through the same two processors below.
  *
  * Both read a key's state once per batch: `ValueState.get()` returns
  * null for a key with no value, so `Option(state.get())` is the
  * previous state (`exists()` first would be a second store read).
  *
  * State lives in the RocksDB store the API requires
  * ([[graft.GraftSession.create]] sets it): one API for value/list/map
  * state, timers decoupled from state rows, and the backend a
  * large-cardinality deployment runs anyway.
  *
  * Eviction: [[TtlFoldProcessor]] arms an event-time timer at
  * `max(act_hw + ttl, watermark + 1)` — fire when the watermark passes
  * the key's activity HIGH-WATER plus the idle TTL — deleting the stale
  * timer on every re-arm (TWS timers are registered cumulatively), and
  * clears the key's state when it fires: expiry forgets the key
  * entirely, a re-arrival starts fresh — the contract
  * StreamingStateTtlSpec pins. Spark fires a key's expired timer
  * before that micro-batch's rows for the key fold, so rows arriving
  * in the batch whose watermark passed the deadline start fresh too.
  */
object Tws {

  /** Value-state processor from a pure per-batch fold (the NoTimeout
    * shape). State lives until the query dies — bounded-key-space ops
    * (sketch grids, HLL registers) or bounded corpora.
    */
  class FoldProcessor[K, I, S, O](
      fold: (K, Option[S], Iterator[I]) => (S, Iterator[O]))(
      implicit stateEnc: Encoder[S])
      extends StatefulProcessor[K, I, O] {
    @transient private var state: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S]("s", stateEnc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
        timerValues: TimerValues): Iterator[O] = {
      val (next, out) = fold(key, Option(state.get()), rows)
      state.update(next)
      out
    }
  }

  /** [[FoldProcessor]] plus event-time idle eviction: the state type
    * carries its activity high-water (max event ms ever seen for the
    * key, extracted by `actMsOf`), and the key is forgotten when the
    * watermark passes high-water + `idleTtlMs`. Deterministic:
    * eviction depends only on data timestamps and configured delays,
    * never wall clock.
    */
  class TtlFoldProcessor[K, I, S, O](
      fold: (K, Option[S], Iterator[I]) => (S, Iterator[O]),
      actMsOf: S => Long,
      idleTtlMs: Long)(implicit stateEnc: Encoder[S])
      extends StatefulProcessor[K, I, O] {
    @transient private var state: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S]("s", stateEnc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
        timerValues: TimerValues): Iterator[O] = {
      val (next, out) = fold(key, Option(state.get()), rows)
      state.update(next)
      // re-arm: TWS registers timers cumulatively, so drop the stale
      // deadline first — the live deadline must only ever come from
      // the activity high-water (an out-of-order batch must not pull
      // it backwards; actMsOf is monotone by the ops' fold contract).
      // Materialize before deleting: listTimers() is backed by the
      // state-store iterator, and mutating mid-traversal is defined
      // only for snapshot-isolated providers (RocksDB), undefined for
      // the rest.
      getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
      getHandle.registerTimer(math.max(actMsOf(next) + idleTtlMs,
        timerValues.getCurrentWatermarkInMs() + 1))
      out
    }

    override def handleExpiredTimer(key: K, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
      state.clear()
      Iterator.empty
    }
  }
}
