package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** The paging layer over [[StreamingDetector]]: turn a score stream
  * into deduplicated ALERTS — fire on the upward crossing of the
  * probability threshold (edge trigger, not level: a series sitting at
  * prob 0.9 for an hour is ONE incident, not 120 pages) and suppress
  * re-fires inside a cooldown window even across distinct incidents.
  *
  * Deterministic by construction: within a micro-batch, points apply in
  * (ts, value, prob) order; state is three scalars per series
  * (below/above edge flag, last alert second, alert counter) — O(1)
  * regardless of stream length, safe for the RocksDB store at any
  * series cardinality. Any micro-batch slicing of the same ordered
  * stream produces the same alert sequence (pinned in
  * StreamingAlertsSpec against a sequential fold and across splits).
  */
object StreamingAlerts {

  case class Alert(series: String, ts: Timestamp, value: Double,
      prob: Double, alert_seq: Long)

  case class AlertState(wasAbove: Boolean, lastAlertSec: Long, seq: Long)

  /** The per-point state transition, exposed for the spec's sequential
    * fold and the property suite: returns the new state and the alert,
    * if one fires.
    */
  private[streaming] def step(s: AlertState, p: AnomalyScore,
      threshold: Double, cooldownSec: Long): (AlertState, Option[Alert]) = {
    val above = p.prob >= threshold
    val sec = Math.floorDiv(p.ts.getTime, 1000L)
    val fires = above && !s.wasAbove &&
      (s.seq == 0L || sec >= s.lastAlertSec + cooldownSec)
    if (fires)
      (AlertState(above, sec, s.seq + 1),
        Some(Alert(p.series, p.ts, p.value, p.prob, s.seq + 1)))
    else (s.copy(wasAbove = above), None)
  }

  /** The per-series batch fold: apply [[step]] in the detector's
    * within-batch total order.
    */
  private def fold(threshold: Double, cooldownSec: Long)(
      key: String, prev: Option[AlertState],
      rows: Iterator[AnomalyScore]): (AlertState, Iterator[Alert]) = {
    var s = prev.getOrElse(AlertState(false, 0L, 0L))
    // same within-batch total order as the detector itself
    val ordered = rows.toArray.sortBy(p =>
      (p.ts.toInstant.getEpochSecond, p.ts.toInstant.getNano,
        p.value, p.prob))
    val out = ordered.flatMap { p =>
      val (ns, alert) = step(s, p, threshold, cooldownSec)
      s = ns
      alert
    }
    (s, out.iterator)
  }

  /** Append-mode alert stream: the edge-trigger fold per series in
    * keyed state.
    */
  def alertsTws(scores: Dataset[AnomalyScore], threshold: Double,
      cooldownSec: Long)(implicit
      spark: SparkSession): Dataset[Alert] = {
    import spark.implicits._
    scores.groupByKey(_.series)
      .transformWithState(
        new Tws.FoldProcessor(fold(threshold, cooldownSec)),
        TimeMode.None(), OutputMode.Append())
  }
}
