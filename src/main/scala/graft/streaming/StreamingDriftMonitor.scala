package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Streaming distribution-drift monitor — the online twin of the p83
  * total-variation fold: watch a (source, token) stream and emit, per
  * source per micro-batch, the exact TV distance between the stream's
  * RUNNING unigram distribution and a fixed REFERENCE histogram (the
  * training corpus the production model was fit on). The alarm a
  * feature pipeline wires to "retrain / investigate upstream".
  *
  * Exactness: with running counts c_v (n total) and reference counts
  * r_v (m total), TV = (n·m − Σ_v min(c_v·m, r_v·n)) / (n·m) — the
  * p83 common-denominator identity (Σ|p−q|/2 = 1 − Σ min(p,q)), so
  * every emitted value is integer sums + ONE double division, and the
  * FINAL emission per source equals the oracled p83 entry bit-for-bit
  * when the reference is another source's histogram (pinned).
  *
  * Shape at scale: state per source is bounded by the REFERENCE
  * support + one total — drift against a fixed reference needs counts
  * only where the reference puts mass (out-of-support stream tokens
  * enter through n alone: their min term is 0). A 1e5-token reference
  * vocabulary costs ~1 MB per monitored source, independent of stream
  * length. The per-batch fold is O(batch tokens + |ref|) per source;
  * emission is one row per touched source per micro-batch. Counts are
  * summable BigInt internally so n·m never silently wraps on a
  * long-running monitor.
  */
object StreamingDriftMonitor {

  final case class Drift(source: String, n_seen: Long, tv6: Double)

  /** Keyed state: running total + counts on the reference support.
    * Public: Spark's state-row codegen instantiates it reflectively.
    */
  final case class St(n: Long, counts: Map[String, Long])

  /** The per-source batch fold: advance the running counts on the
    * reference support, emit the refreshed TV.
    */
  private def fold(reference: Map[String, Long], m: Long)(
      source: String, prev: Option[St],
      rows: Iterator[(String, String)]): (St, Iterator[Drift]) = {
    val st0 = prev.getOrElse(St(0L, Map.empty))
    var n = st0.n
    val counts = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    st0.counts.foreach { case (k, v) => counts(k) = v }
    rows.foreach { case (_, t) =>
      n += 1L
      // state tracks reference support only: an out-of-support
      // token contributes min(c·m, 0·n) = 0 to the fold and
      // enters the TV through n
      if (reference.contains(t)) counts(t) += 1L
    }
    val next = St(n, counts.toMap)
    val out = if (n == 0) Iterator.empty
    else {
      val nm = BigInt(n) * m
      val sMin = reference.iterator.map { case (v, r) =>
        (BigInt(counts(v)) * m).min(BigInt(r) * n)
      }.sum
      val tv = (nm - sMin).toDouble / nm.toDouble
      Iterator.single(Drift(source, n,
        java.math.BigDecimal.valueOf(tv)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue))
    }
    (next, out)
  }

  private def validated(reference: Map[String, Long]): Long = {
    require(reference.nonEmpty, "drift: empty reference histogram")
    val m = reference.values.sum
    require(reference.values.forall(_ > 0) && m > 0,
      "drift: reference counts must be positive")
    m
  }

  /** Update-mode stream over a (source STRING, t STRING) token stream:
    * one Drift row per touched source per micro-batch, carrying the
    * running-distribution TV against `reference` (token -> count; must
    * be non-empty).
    */
  def driftTws(tokens: DataFrame, reference: Map[String, Long])(implicit
      spark: SparkSession): Dataset[Drift] = {
    import spark.implicits._
    val m = validated(reference)
    tokens.select("source", "t").as[(String, String)]
      .groupByKey(_._1)
      .transformWithState(new Tws.FoldProcessor(fold(reference, m)),
        TimeMode.None(), OutputMode.Update())
  }
}
