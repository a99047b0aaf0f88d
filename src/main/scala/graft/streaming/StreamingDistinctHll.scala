package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.functions.{HashScheme => H, HllSketch => Hll}

/** Streaming twin of the p82 HyperLogLog distinct-token census:
  * maintain the 64-register-per-source HLL over an unbounded
  * (source, token) stream, emitting each touched register's refreshed
  * maximum every micro-batch.
  *
  * Shape at scale: state is sources × 64 BIGINT registers BY
  * CONSTRUCTION — independent of stream length and vocabulary size
  * (the whole point of sketching cardinality). Register update is MAX,
  * which is commutative, associative, and IDEMPOTENT: any arrival
  * order, any micro-batch slicing, and any at-least-once replay of the
  * same tokens all converge to the batch registers of the same corpus
  * — strictly stronger delivery tolerance than a counter sketch (CMS
  * double-counts replays; an HLL register cannot). Per micro-batch the
  * groupByKey shuffle carries at most min(batch tokens, sources × 64)
  * live keys, and registers from independent sub-streams merge by the
  * same element-wise max, so a 1000-executor deployment can sketch
  * shards independently and fold the 64-row partials downstream —
  * the p25/p47 mergeability argument.
  */
object StreamingDistinctHll {

  case class RegisterUpdate(source: String, bucket: Long, m: Long)

  /** (source, bucket, rho) probe coordinates for a (source, t) token
    * frame — the SAME 60-bit md5 split as the p82 batch census, so
    * streaming and batch registers are interchangeable.
    */
  private[streaming] def rhos(tokens: DataFrame): DataFrame =
    tokens
      .withColumn("h", expr(H.h60Spark("t")))
      .withColumn("bucket", expr(s"h div ${Hll.SuffixMod}"))
      .withColumn("w", expr(s"h % ${Hll.SuffixMod}"))
      .withColumn("rho",
        when(col("w") === 0L, lit(55L))
          .otherwise(lit(55L) - length(bin(col("w"))).cast("long")))
      .select("source", "bucket", "rho")

  /** The per-register fold: element-wise max. */
  private def fold(key: (String, Long), prev: Option[Long],
      rows: Iterator[(String, Long, Long)])
      : (Long, Iterator[RegisterUpdate]) = {
    var m = prev.getOrElse(0L)
    rows.foreach { r => if (r._3 > m) m = r._3 }
    (m, Iterator.single(RegisterUpdate(key._1, key._2, m)))
  }

  /** Update-mode stream over a (source STRING, t STRING) token stream:
    * one RegisterUpdate per touched (source, bucket) per micro-batch.
    */
  def registersTws(tokens: DataFrame)(implicit
      spark: SparkSession): Dataset[RegisterUpdate] = {
    import spark.implicits._
    rhos(tokens)
      .as[(String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .transformWithState(new Tws.FoldProcessor(fold),
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-source cardinality estimates from a materialized register
    * table (the stream's latest row per (source, bucket)) — the SAME
    * exact-integer fold as the p82 batch entry: S stays int64, the
    * raw estimate is one double division, and the small-range linear
    * counting comes from the shared precomputed [[HllSketch.LcTable]]
    * (no libm at query time).
    */
  def estimate(registers: DataFrame): DataFrame =
    Hll.estimate(registers, Seq("source"))
}
