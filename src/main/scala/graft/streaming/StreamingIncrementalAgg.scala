package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Streaming twin of q46's incremental-aggregate maintenance: the
  * materialized view lives as per-group state — exact row count and
  * integer-cent measure sum — and every micro-batch is the "delta"
  * whose partial aggregate merges in, exactly the ⊎ the batch entry
  * computes with a full-outer join of two partials. Each touched group
  * re-emits its refreshed (count, sum, avg) row.
  *
  * Shape at scale: state is two longs per live group — bounded by group
  * cardinality, never by stream length (the defining property of
  * aggregate maintenance). The merge is integer addition, which
  * commutes and associates, so ANY micro-batch slicing or arrival order
  * converges to the batch aggregate of the same rows — the algebra q46
  * pins with merged == full-recompute, held here across time instead of
  * across a join. The average is never stored: it re-derives from the
  * exact integer sums on emit by the same HALF_UP micro-division as the
  * batch side, so view refreshes can never accumulate FP drift.
  */
object StreamingIncrementalAgg {

  case class MeasureIn(flag: String, status: String, qty2: Long)

  /** [[MeasureIn]] plus the event time [[maintainTtlTws]] evicts by. */
  case class MeasureTsIn(flag: String, status: String, qty2: Long,
      ts: java.sql.Timestamp)

  /** `actMs` = activity high-water (max event ms) for [[maintainTtlTws]];
    * see [[StreamingLatestState.KeyState]] on why the eviction deadline
    * must come from the high-water, not the current batch.
    */
  case class AggState(n: Long, q2: Long, actMs: Long = Long.MinValue)

  case class ViewOut(flag: String, status: String, n_rows: Long,
      sum_qty: Double, avg_qty: Double)

  /** The shared emit arithmetic: q46's exact-integer derivation of
    * (sum, avg) from (count, cent-sum).
    */
  private[streaming] def emit(flag: String, status: String,
      s: AggState): ViewOut =
    ViewOut(flag, status, s.n, s.q2 / 100.0,
      ((s.q2 * 10000L + s.n / 2) / s.n).toDouble / 1e6)

  /** The per-group batch fold: the micro-batch's partial aggregate,
    * then the ⊎ merge — both pure integer addition.
    */
  private def fold(key: (String, String), prev: Option[AggState],
      batch: Iterator[MeasureIn]): (AggState, Iterator[ViewOut]) = {
    var dn = 0L
    var dq = 0L
    batch.foreach { r => dn += 1; dq += r.qty2 }
    val s = prev.getOrElse(AggState(0L, 0L))
    val merged = AggState(s.n + dn, s.q2 + dq)
    (merged, Iterator.single(emit(key._1, key._2, merged)))
  }

  /** [[fold]] over the timestamped input, advancing the activity
    * high-water [[maintainTtlTws]] evicts by.
    */
  private def foldTs(key: (String, String), prev: Option[AggState],
      batch: Iterator[MeasureTsIn]): (AggState, Iterator[ViewOut]) = {
    var dn = 0L
    var dq = 0L
    var maxMs = Long.MinValue
    batch.foreach { r =>
      dn += 1; dq += r.qty2
      maxMs = math.max(maxMs, r.ts.getTime)
    }
    val s = prev.getOrElse(AggState(0L, 0L))
    val merged = AggState(s.n + dn, s.q2 + dq, math.max(s.actMs, maxMs))
    (merged, Iterator.single(emit(key._1, key._2, merged)))
  }

  /** Update-mode stream: one refreshed view row per touched group per
    * micro-batch.
    */
  def maintainTws(rows: DataFrame)(implicit
      spark: SparkSession): Dataset[ViewOut] = {
    import spark.implicits._
    rows.as[MeasureIn]
      .groupByKey(r => (r.flag, r.status))
      .transformWithState(new Tws.FoldProcessor(fold),
        TimeMode.None(), OutputMode.Update())
  }

  /** [[maintainTws]] with event-time idle eviction — the unbounded-
    * group-cardinality knob ([[StreamingLatestState.latestStateTtlTws]]'s
    * contract): a group quiet for more than `idleTtl` of event time is
    * dropped from the store; if it re-arrives, its view restarts from
    * the new rows alone. Same deterministic watermark-driven expiry,
    * pinned in StreamingStateTtlSpec.
    */
  def maintainTtlTws(rows: DataFrame, idleTtl: java.time.Duration,
      watermarkDelay: String = "0 seconds")(implicit
      spark: SparkSession): Dataset[ViewOut] = {
    import spark.implicits._
    rows.withWatermark("ts", watermarkDelay).as[MeasureTsIn]
      .groupByKey(r => (r.flag, r.status))
      .transformWithState(
        new Tws.TtlFoldProcessor(foldTs, (s: AggState) => s.actMs,
          idleTtl.toMillis),
        TimeMode.EventTime(), OutputMode.Update())
  }
}
