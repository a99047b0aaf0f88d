package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.kernel.{AnomalyzerConf, Ensemble}

/** One observation of one series (long-format stream row). */
case class SeriesPoint(series: String, ts: Timestamp, value: Double)

/** Scored observation: the anomaly probability of the window ending at
  * this point — what the reference's `Push` returns (anomalyze.go:134-140).
  */
case class AnomalyScore(series: String, ts: Timestamp, value: Double,
    prob: Double)

/** Per-series streaming state: the bounded tail buffer (the reference's
  * Update-truncated vector, anomalyze.go:127-131), a monotone push
  * counter feeding the deterministic RNG seed, and the activity
  * high-water (max event ms ever seen) the idle TTL evicts by.
  */
case class SeriesState(buffer: Array[Double], pushed: Long,
    actMs: Long = Long.MinValue)

/** Streaming anomaly detection: `readStream → groupByKey(series) →
  * transformWithState(bounded buffer) → scores`.
  *
  * Semantics mirror the reference's streaming lifecycle exactly:
  * one output score per arriving point (`Push`), state truncated to
  * `referenceSize + activeSize` doubles per series (`Update`), `Delay`
  * gating inside the kernel. Extensions the reference leaves undefined
  * (SURVEY.md §2E): events within a micro-batch are applied in (ts,
  * value) order, and callers add `withWatermark` upstream to bound
  * out-of-order arrival — state size stays O(window) per series
  * regardless, so a 1e9-series stream costs 1e9 × windowSize doubles
  * spread across the state store, not unbounded history.
  */
object StreamingDetector {

  /** Deterministic per-series identity: the cross-engine md5-60 hash
    * ([[graft.kernel.PermDraw.seriesHash60]]) — the same derivation
    * the batch path [[graft.operators.AnomalyOps]] compiles into SQL,
    * so batch, streaming, and the DuckDB oracle permutation-test
    * scores agree on identical data.
    */
  def seriesHash(series: String): Long =
    graft.kernel.PermDraw.seriesHash60(series)

  /** One micro-batch of one series through the bounded buffer. */
  private def applyBatch(conf: AnomalyzerConf)(series: String,
      prev: Option[SeriesState],
      rows: Iterator[SeriesPoint]): (SeriesState, Iterator[AnomalyScore]) = {
    val s = prev.getOrElse(SeriesState(Array.empty, 0L))
    var buf = s.buffer
    var pushed = s.pushed
    var actMs = s.actMs
    val sh = seriesHash(series)
    // within-batch total order (the stream's ts is the clock); order by
    // full timestamp precision — getTime alone truncates to ms and
    // would drop the corpus's microsecond component
    val ordered = rows.toArray.sortBy(p =>
      (p.ts.toInstant.getEpochSecond, p.ts.toInstant.getNano, p.value))
    val out = ordered.map { p =>
      buf = (buf :+ p.value).takeRight(conf.windowSize)
      pushed += 1
      actMs = math.max(actMs, p.ts.getTime)
      val prob = Ensemble.eval(buf, conf,
        new graft.kernel.PermDraw(sh, pushed))
      AnomalyScore(series, p.ts, p.value, prob)
    }
    (SeriesState(buf, pushed, actMs), out.iterator)
  }

  /** Scores every arriving point; per-series state lives in the RocksDB
    * store as one [[SeriesState]] row.
    *
    * `idleTtl`: evict a series' state once the watermark passes its
    * activity high-water plus `idleTtl` — the event-time contract of
    * every TTL state op ([[Tws.TtlFoldProcessor]]), so eviction is
    * watermark-driven and deterministic. The caller must define the
    * watermark upstream (`withWatermark("ts", ...)`); a TTL query
    * without one is rejected here. Unbounded key-cardinality streams
    * need this — per-series state is O(window), but the number of
    * series ever seen is not bounded without eviction. An evicted
    * series that re-arrives warms up from an empty buffer exactly like
    * a new one (the kernel's Delay gate holds its scores down until the
    * window refills), so expiry degrades to cold-start, never to wrong
    * state.
    */
  def scoreTws(points: Dataset[SeriesPoint], conf0: AnomalyzerConf,
      idleTtl: Option[java.time.Duration] = None)
      : Dataset[AnomalyScore] = {
    val conf = AnomalyzerConf.validated(conf0)
    implicit val stateEnc = Encoders.product[SeriesState]
    implicit val outEnc = Encoders.product[AnomalyScore]
    implicit val keyEnc = Encoders.STRING
    val grouped = points.groupByKey(_.series)
    idleTtl match {
      case None =>
        grouped.transformWithState(new Tws.FoldProcessor(applyBatch(conf)),
          TimeMode.None(), OutputMode.Append())
      case Some(ttl) =>
        require(points.queryExecution.logical.exists(
            _.isInstanceOf[EventTimeWatermark]),
          "scoreTws(idleTtl) expires on event time: define a watermark " +
            "upstream (withWatermark(\"ts\", ...))")
        grouped.transformWithState(
          new Tws.TtlFoldProcessor(applyBatch(conf),
            (s: SeriesState) => s.actMs, ttl.toMillis),
          TimeMode.EventTime(), OutputMode.Append())
    }
  }
}
