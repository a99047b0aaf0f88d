package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** SpaceSaving heavy hitters (Metwally et al. 2005) as keyed streaming
  * state — the deterministic bounded-state top-k that completes the
  * sketch family: CMS (p47 / [[StreamingSketch]]) answers point
  * frequency queries but cannot ENUMERATE the frequent items without
  * knowing the vocabulary; SpaceSaving maintains exactly m counters
  * per key and guarantees, for a stream of n tokens:
  *
  *  - every token with true count > n/m is IN the summary (no false
  *    negatives above the threshold — the classic guarantee),
  *  - for every retained token: true <= est <= true + err, with err
  *    the recorded overestimate bound (err <= n/m).
  *
  * State per source is m (token, est, err) triples BY CONSTRUCTION —
  * independent of stream length and vocabulary. The fold is
  * arrival-order-dependent (all frequent-items summaries are), so the
  * stream carries an explicit `seq` column and each micro-batch folds
  * in seq order — same input sequence, same summary, bit for bit, on
  * any partitioning (pinned by the spec's replay run).
  */
object StreamingHeavyHitters {

  final case class Hitter(source: String, t: String, est: Long, err: Long)

  /** Keyed state: the m-counter summary. Public for state-row codegen. */
  final case class Summary(entries: Map[String, (Long, Long)])

  /** The per-source batch fold: SpaceSaving in explicit `seq` order,
    * then re-emit the full summary.
    */
  private def fold(m: Int)(source: String, prev: Option[Summary],
      rows: Iterator[(String, Long, String)])
      : (Summary, Iterator[Hitter]) = {
    val cur = scala.collection.mutable.Map[String, (Long, Long)]()
    prev.foreach(_.entries.foreach { case (k, v) => cur(k) = v })
    // fold in explicit sequence order: micro-batch iterator order
    // is not a contract, the seq column is
    rows.toSeq.sortBy(_._2).foreach { case (_, _, t) =>
      cur.get(t) match {
        case Some((c, e)) => cur(t) = (c + 1, e)
        case None if cur.size < m => cur(t) = (1L, 0L)
        case None =>
          // evict the minimum-count entry (ties: smallest token,
          // so eviction is deterministic) and inherit its count
          // as the overestimate bound
          val (vt, (vc, _)) = cur.minBy { case (k, (c, _)) => (c, k) }
          cur.remove(vt)
          cur(t) = (vc + 1, vc)
      }
    }
    (Summary(cur.toMap),
      cur.iterator.map { case (t, (c, e)) => Hitter(source, t, c, e) })
  }

  /** Update-mode stream over (source STRING, seq LONG, t STRING):
    * after each micro-batch, emits the source's full current summary
    * (<= m rows per source per batch).
    */
  def hittersTws(tokens: DataFrame, m: Int)(implicit
      spark: SparkSession): Dataset[Hitter] = {
    import spark.implicits._
    require(m > 0, "summary capacity must be positive")
    tokens.select("source", "seq", "t").as[(String, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new Tws.FoldProcessor(fold(m)),
        TimeMode.None(), OutputMode.Update())
  }
}
