package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Streaming twin of a42's mergeable log2-bucket quantile sketch: the
  * sketch lives as per-series state — bucket→count, ≤64 entries
  * no matter how long the stream runs — and every micro-batch's
  * partial bucket counts merge in by plain addition, the same ⊎ the
  * batch query's map-side combine performs. Each touched series
  * re-emits its refreshed percentile rows (same extraction rule as
  * a42: rank ceil(n·q/100), first bucket whose cumulative count
  * reaches it, estimate = the bucket's lower edge).
  *
  * Shape at scale: state is bounded by series-count × 64 longs, never
  * by stream length — the defining property of sketch maintenance.
  * Count addition commutes and associates, so ANY micro-batch slicing
  * or arrival order converges to the batch a42 answer over the same
  * rows — pinned in StreamingQuantileSpec as streaming-final ==
  * batch-query, row for row.
  */
object StreamingQuantile {

  case class ObsIn(event_type: String, micro: Long)

  /** [[ObsIn]] plus the event time [[maintainTtlTws]] evicts by. */
  case class ObsTsIn(event_type: String, micro: Long,
      ts: java.sql.Timestamp)

  /** The per-series sketch as parallel arrays, sorted by bucket so the
    * state bytes are deterministic (the RocksDB state codec supports
    * only STRING-keyed maps). `actMs` = activity high-water (max event
    * ms) for [[maintainTtlTws]]; see [[StreamingLatestState.KeyState]]
    * on why the eviction deadline must come from the high-water, not
    * the current batch. Public for Spark's state-row codegen.
    */
  case class SketchState(buckets: Array[Int], counts: Array[Long],
      actMs: Long = Long.MinValue)

  case class QOut(event_type: String, q: Long, n: Long, q_bucket: Long,
      est_micro: Long, est_hi_micro: Long, est: Double)

  /** a42's bucket function: bit-length of the micro int (integer
    * floor(log2)+1), zero/negative → bucket 0.
    */
  private[streaming] def bucket(micro: Long): Int =
    if (micro <= 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(micro)

  /** a42's extraction rule over a sketch of (bucket, count) pairs: for
    * each percentile q, the first bucket whose cumulative count reaches
    * rank ceil(n·q/100), bracketed by the bucket edges.
    */
  private[streaming] def extract(et: String, counts: Iterable[(Int, Long)],
      qs: Seq[Int]): Seq[QOut] = {
    val n = counts.iterator.map(_._2).sum
    val sorted = counts.toSeq.sortBy(_._1)
    qs.map { q =>
      val rank = (n * q + 99) / 100
      var cum = 0L
      var hit = -1
      sorted.foreach { case (b, c) =>
        cum += c
        if (hit < 0 && cum >= rank) hit = b
      }
      val lo = if (hit == 0) 0L else 1L << (hit - 1)
      val hi = if (hit == 0) 0L else (1L << hit) - 1
      QOut(et, q.toLong, n, hit.toLong, lo, hi, lo / 1e6)
    }
  }

  /** The per-series batch fold: the micro-batch's bucket counts merged
    * into the sketch — pure integer addition. `actMs` advances only on
    * the timestamped (TTL) input.
    */
  private def foldBuckets(qs: Seq[Int])(et: String,
      prev: Option[SketchState], batch: Iterator[Int],
      maxMs: Long): (SketchState, Iterator[QOut]) = {
    // bucket(micro) is in [0, 63]: index by bucket, read back in order
    val acc = new Array[Long](64)
    var act = maxMs
    prev.foreach { p =>
      p.buckets.indices.foreach(i => acc(p.buckets(i)) += p.counts(i))
      act = math.max(act, p.actMs)
    }
    batch.foreach(b => acc(b) += 1L)
    val buckets = acc.indices.filter(acc(_) > 0L).toArray
    val next = SketchState(buckets, buckets.map(acc(_)), act)
    (next, extract(et, buckets.map(b => b -> acc(b)).toSeq, qs).iterator)
  }

  private def fold(qs: Seq[Int])(et: String, prev: Option[SketchState],
      batch: Iterator[ObsIn]): (SketchState, Iterator[QOut]) =
    foldBuckets(qs)(et, prev, batch.map(r => bucket(r.micro)),
      Long.MinValue)

  private def foldTs(qs: Seq[Int])(et: String, prev: Option[SketchState],
      batch: Iterator[ObsTsIn]): (SketchState, Iterator[QOut]) = {
    // materialize before folding: maxMs must be final when passed
    val rows = batch.toArray
    val maxMs = rows.foldLeft(Long.MinValue)((m, r) =>
      math.max(m, r.ts.getTime))
    foldBuckets(qs)(et, prev, rows.iterator.map(r => bucket(r.micro)),
      maxMs)
  }

  /** Update-mode stream: refreshed percentile rows per touched series
    * per micro-batch.
    */
  def maintainTws(rows: DataFrame, qs: Seq[Int])(implicit
      spark: SparkSession): Dataset[QOut] = {
    import spark.implicits._
    rows.as[ObsIn]
      .groupByKey(_.event_type)
      .transformWithState(new Tws.FoldProcessor(fold(qs)),
        TimeMode.None(), OutputMode.Update())
  }

  /** [[maintainTws]] with event-time idle eviction (the shared TTL
    * contract of the per-key state ops, see
    * [[StreamingLatestState.latestStateTtlTws]]): a series quiet past
    * `idleTtl` of event time drops its sketch; a re-arriving series
    * rebuilds from the new observations alone. Sketch merge semantics
    * inside the horizon are unchanged.
    */
  def maintainTtlTws(rows: DataFrame, qs: Seq[Int],
      idleTtl: java.time.Duration,
      watermarkDelay: String = "0 seconds")(implicit
      spark: SparkSession): Dataset[QOut] = {
    import spark.implicits._
    rows.withWatermark("ts", watermarkDelay).as[ObsTsIn]
      .groupByKey(_.event_type)
      .transformWithState(
        new Tws.TtlFoldProcessor(foldTs(qs),
          (s: SketchState) => s.actMs, idleTtl.toMillis),
        TimeMode.EventTime(), OutputMode.Update())
  }
}
