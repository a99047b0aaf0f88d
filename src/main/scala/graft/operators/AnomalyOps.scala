package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.AnomalyFunctions
import graft.kernel.AnomalyzerConf

/** Sliding-window anomaly detection over long-format series data.
  *
  * The batch analog of the reference's per-point `Push → Eval` loop
  * (/root/reference/anomalyze.go:134-140): every row gets the anomaly
  * probability of the window ending at that row. Scaling model: the
  * hash shuffle on the series key is the only required data movement —
  * all per-series work then happens partition-locally in one Window
  * operator, so throughput scales linearly with executors × series.
  * Per-window state is `windowSize` doubles (bounded, like the
  * reference's Update truncation), so there is no spill risk in the
  * evaluator itself; hot-series skew is AQE/salting territory
  * (SURVEY.md §4).
  */
object AnomalyOps {

  /** Cross-engine series identity: leading 60 bits of md5 of the
    * series rendered as a string — [[graft.kernel.PermDraw.seriesHash60]]
    * as a Catalyst column (HashScheme's h60 primitive).
    */
  private def seriesHash60(series: Column): Column =
    conv(substring(md5(series.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Appends anomaly columns to `df`.
    *
    * @param series   series key column (partition axis)
    * @param ts       event-time ordering column
    * @param value    observed DOUBLE column
    * @param conf     detection config (validated here, analysis-time)
    * @param tieBreak extra ordering columns making row order total, so
    *                 results are reproducible across partitionings
    * @param byTest   also emit the per-test probability map
    */
  def withAnomalyProbs(
      df: DataFrame,
      series: Column,
      ts: Column,
      value: Column,
      conf: AnomalyzerConf,
      tieBreak: Seq[Column] = Nil,
      byTest: Boolean = false): DataFrame = {
    val c = AnomalyzerConf.validated(conf)
    val ord = ts +: tieBreak
    val w = Window.partitionBy(series).orderBy(ord: _*)
    // The evaluation window = the buffer the reference would hold after
    // Update-truncation: the last (reference+active) points inclusive.
    val frame = w.rowsBetween(-(c.windowSize - 1), 0)
    // Deterministic draw identity independent of physical partitioning:
    // PermDraw(md5-60(series), position) — the same derivation as the
    // streaming path, the sequential facade, AND the DuckDB oracle
    // (HashScheme h60), so all evaluation paths produce identical,
    // externally checkable permutation-test probabilities.
    val sHash = seriesHash60(series)
    val rowKey = row_number().over(w).cast("long")
    val windowed = df
      .withColumn("window", collect_list(value.cast("double")).over(frame))
    scoreWindows(windowed, sHash, rowKey, c, byTest).drop("window")
  }

  /** Appends `anomaly_prob` (and, with `byTest`, `anomaly_probs`) scored
    * over the `window` column. With `byTest` the kernel still runs once
    * per row: `anomaly_prob` is derived from the per-test map through the
    * Delay gate and `Ensemble.combine` ([[AnomalyFunctions.anomaly_prob_of_tests]]),
    * which equals `Ensemble.eval` bit for bit. The map is referenced
    * twice above its projection, so CollapseProject cannot inline the
    * kernel into both columns (pinned in AnomalyOpsSpec).
    */
  private def scoreWindows(windowed: DataFrame, sHash: Column,
      rowKey: Column, c: AnomalyzerConf, byTest: Boolean): DataFrame =
    if (!byTest) windowed.withColumn("anomaly_prob",
      AnomalyFunctions.anomaly_prob(col("window"), sHash, rowKey, c))
    else windowed
      .withColumn("__probs",
        AnomalyFunctions.anomaly_probs_by_test(col("window"), sHash, rowKey, c))
      .withColumn("anomaly_prob", AnomalyFunctions.anomaly_prob_of_tests(
        col("__probs"), size(col("window")), c))
      .withColumn("anomaly_probs", col("__probs"))
      .drop("__probs")

  /** Typed facade, symmetric with the streaming API: the same
    * `Dataset[SeriesPoint] => Dataset[AnomalyScore]` shape as
    * [[graft.streaming.StreamingDetector.scoreTws]], and — because all
    * paths share one seed derivation — the same probabilities.
    */
  def score(points: org.apache.spark.sql.Dataset[graft.streaming.SeriesPoint],
      conf: AnomalyzerConf)
      : org.apache.spark.sql.Dataset[graft.streaming.AnomalyScore] = {
    implicit val enc =
      org.apache.spark.sql.Encoders.product[graft.streaming.AnomalyScore]
    withAnomalyProbs(points.toDF(), col("series"), col("ts"), col("value"),
        conf, tieBreak = Seq(col("value")))
      .select(col("series"), col("ts"), col("value"),
        col("anomaly_prob").as("prob"))
      .as[graft.streaming.AnomalyScore]
  }

  /** Output-identical to [[withAnomalyProbs]], but parallelism is no
    * longer capped at the series cardinality.
    *
    * `Window.partitionBy(series)` hands ALL of a series to one task —
    * with few or skewed series most of the cluster idles while one
    * executor walks a billion-row series. Because the evaluation frame
    * is bounded (the trailing `windowSize` rows), the window is
    * chunkable: split each series into `chunkSize`-row chunks, replicate
    * each chunk's last `windowSize-1` rows into the next chunk as
    * warm-up, then compute the same trailing-window evaluation
    * partitioned by (series, chunk) and drop the warm-up rows. One extra
    * cheap row_number pass + ~(windowSize/chunkSize) duplication buys
    * series-count × chunk-count parallelism — the difference between 5
    * tasks and 5000 on a hot-series corpus. Results are bit-identical
    * because the RNG seed depends only on (series, original row
    * position), not on partitioning.
    */
  def withAnomalyProbsChunked(
      df: DataFrame,
      series: Column,
      ts: Column,
      value: Column,
      conf: AnomalyzerConf,
      tieBreak: Seq[Column] = Nil,
      chunkSize: Int = 8192,
      byTest: Boolean = false): DataFrame = {
    val c = AnomalyzerConf.validated(conf)
    require(chunkSize >= c.windowSize,
      s"chunkSize ($chunkSize) must be >= windowSize (${c.windowSize})")
    val ord = ts +: tieBreak
    val assigned = Detectors.assignChunks(df, "__rn",
      row_number().over(Window.partitionBy(series).orderBy(ord: _*))
        .cast("long"), chunkSize, c.windowSize)
    val cw = Window.partitionBy(series, col("__chunk")).orderBy(ord: _*)
    val frame = cw.rowsBetween(-(c.windowSize - 1), 0)
    val sHash = seriesHash60(series)
    // After collect_list every row is self-contained (window array +
    // seed inputs), so the expensive kernel eval is rebalanced onto an
    // explicit round-robin repartition: per-ROW balance whatever the
    // key distribution, and — critically — an explicit partition count,
    // which AQE will not coalesce. AQE's byte-based coalescing sees a
    // few MB of shuffle data and would happily serialize a
    // CPU-bound-by-permCount eval onto one task (measured at sf0.1 /
    // permCount=500: 29s coalesced vs 5s balanced on 32 cores). Warm-up
    // rows are dropped BEFORE the eval so none of their kernel work is
    // thrown away.
    val windowed = assigned
      .withColumn("window", collect_list(value.cast("double")).over(frame))
      .filter(!col("__warm"))
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
    scoreWindows(windowed, sHash, col("__rn"), c, byTest)
      .drop("window", "__chunk", "__warm", "__rn")
  }
}
