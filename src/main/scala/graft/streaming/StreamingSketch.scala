package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.functions.{HashScheme => H}

/** Streaming twin of the p47 Count-Min sketch: maintain the 4×1021
  * counter grid over an unbounded token stream, emitting each touched
  * bucket's refreshed count every micro-batch.
  *
  * Shape at scale: state is bounded at depth × width counters BY
  * CONSTRUCTION — the sketch IS the state, independent of stream
  * length and vocabulary size (the whole point of sketching the
  * stream). Each micro-batch pre-aggregates its token counts map-side
  * (the groupByKey fold sees per-bucket increments, not raw tokens),
  * so per-batch shuffle volume is min(batch tokens, 4084) rows.
  * Counter addition is commutative and associative, so any arrival
  * order and any micro-batch slicing converge to the batch sketch of
  * the same stream — StreamingSketchSpec pins stream == p47's batch
  * build, and estimates keep CMS's one-sided error (est >= true).
  */
object StreamingSketch {

  val Depth = 4
  val Width = 1021

  case class BucketUpdate(r: Int, b: Long, cnt: Long)

  /** (row, bucket) probe coordinates for a token column — the SAME
    * Kirsch–Mitzenmacher double hashing p47 uses, so streaming and
    * batch sketches are interchangeable.
    */
  private[streaming] def probed(tokens: DataFrame): DataFrame =
    tokens
      .withColumn("h1", expr(H.h32Spark("t")))
      .withColumn("h2", expr(H.h32bSpark("t")))
      .withColumn("r", explode(sequence(lit(0), lit(Depth - 1))))
      .withColumn("b", expr(s"(h1 + r * h2) % $Width"))

  /** The per-bucket fold: counter += batch size. */
  private def fold(key: (Int, Long), prev: Option[Long],
      rows: Iterator[(Int, Long)]): (Long, Iterator[BucketUpdate]) = {
    val cnt = prev.getOrElse(0L) + rows.size
    (cnt, Iterator.single(BucketUpdate(key._1, key._2, cnt)))
  }

  /** Update-mode stream over a one-column (`t` STRING) token stream:
    * one BucketUpdate per touched (r, b) per micro-batch.
    */
  def cmsBucketsTws(tokens: DataFrame)(implicit
      spark: SparkSession): Dataset[BucketUpdate] = {
    import spark.implicits._
    probed(tokens)
      .select(col("r"), col("b"))
      .as[(Int, Long)]
      .groupByKey(identity)
      .transformWithState(new Tws.FoldProcessor(fold),
        TimeMode.None(), OutputMode.Update())
  }

  /** Point estimates for query tokens against a materialized sketch
    * table (the stream's latest row per (r, b)): est = min over the
    * token's Depth probe buckets; absent buckets count 0. The sketch is
    * KB-scale, so the join broadcasts — probing never shuffles the
    * query side.
    */
  def estimate(queryTokens: DataFrame, sketch: DataFrame): DataFrame =
    probed(queryTokens)
      .join(broadcast(sketch), Seq("r", "b"), "left")
      .groupBy("t")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
}
