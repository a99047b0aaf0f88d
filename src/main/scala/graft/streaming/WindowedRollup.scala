package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** The aggregate-then-detect pattern (EXAMPLES.md:36 in the reference:
  * "1 point = 30 s of CPU data"): raw events roll up into fixed
  * time-window observations, and the rollup IS the series the detector
  * scores — so detection cost is per window, not per raw event, and the
  * raw stream never needs per-series state.
  *
  * Watermarking gives the late-data policy the reference leaves
  * undefined (SURVEY.md §2E): events later than `watermarkDelay` are
  * dropped, which is what bounds the aggregation state at
  * O(series × open windows). Output is in append mode — a window emits
  * once, when the watermark passes its end — so downstream scoring sees
  * each rollup point exactly once, in order.
  */
object WindowedRollup {

  /** Tumbling-window mean per series; output rows are [[SeriesPoint]]s
    * timestamped at the window end, ready for
    * [[StreamingDetector.scoreTws]] (run as a second query over the rollup
    * sink — Spark disallows stateful-over-stateful in one query plan).
    */
  def rollup(
      points: Dataset[SeriesPoint],
      windowDuration: String,
      watermarkDelay: String): Dataset[SeriesPoint] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.toDF()
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("series"), window(col("ts"), windowDuration))
      .agg(avg(col("value")).as("value"))
      .select(col("series"), col("window.end").as("ts"), col("value"))
      .as[SeriesPoint]
  }
}
