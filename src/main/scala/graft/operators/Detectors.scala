package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The deterministic anomaly tests (magnitude, fence, cdf) composed
  * purely from Spark built-in expressions — no UDF, no interpreted
  * kernel — so the whole detection pipeline stays inside whole-stage
  * codegen and scales as an ordinary window aggregation (one shuffle on
  * the series key, then partition-local). This is the preferred path at
  * 100 TB for configs that don't need the permutation tests; the
  * kernel-backed [[AnomalyOps]] covers the full ensemble.
  *
  * Semantics per /root/reference/algorithms.go (fence :73-93, magnitude
  * :231-252, cdf :209-227) restricted to FULL windows (row_number >=
  * windowSize): short-series clamping is the kernel's job; at scale you
  * filter warm-up rows anyway.
  *
  * Determinism contract: every probability is rounded to 6 decimals and
  * the cdf ECDF comparison operates on 6-decimal-rounded values, making
  * results reproducible bit-for-bit across engines (the DuckDB oracle in
  * [[graft.queries.AnomalySql]] mirrors these expressions exactly).
  */
object Detectors {

  /** Deterministic-detector config (the AnomalyzerConf subset these
    * tests read, same defaults).
    */
  final case class Spec(
      activeSize: Int = 2,
      nSeasons: Int = 4,
      upperBound: Double = 500.0,
      lowerBound: Option[Double] = Some(0.0),
      sensitivity: Double = 0.1) {
    def refSize: Int = nSeasons * activeSize
    def windowSize: Int = refSize + activeSize
  }

  private def cap01(c: Column): Column = least(greatest(c, lit(0.0)), lit(1.0))
  private def weightExp10(c: Column): Column =
    (pow(lit(10.0), c) - 1.0) / 9.0

  /** Adds `rn`, `prob_magnitude`, `prob_fence`, `prob_cdf`,
    * `prob_ensemble` columns. Caller filters `rn >= spec.windowSize`
    * for fully-warmed rows.
    */
  def withProbs(df: DataFrame, series: Column, ts: Column,
      tieBreak: Seq[Column], value: Column, spec: Spec): DataFrame = {
    val ord = ts +: tieBreak
    val wBase = Window.partitionBy(series).orderBy(ord: _*)
    addProbs(df.withColumn("rn", row_number().over(wBase)),
      Seq(series), ord, value, spec)
  }

  /** Output-identical to [[withProbs]] but parallelized beyond the
    * series cardinality: series are split into `chunkSize`-row chunks
    * with the last `windowSize-1` rows of each chunk replicated into the
    * next as warm-up, and the (purely trailing-frame) probability
    * expressions run partitioned by (series, chunk). Use when series
    * are few or hot — the plain path hands each whole series to one
    * task. See [[AnomalyOps.withAnomalyProbsChunked]] for the same
    * pattern on the kernel-backed evaluator.
    */
  def withProbsChunked(df: DataFrame, series: Column, ts: Column,
      tieBreak: Seq[Column], value: Column, spec: Spec,
      chunkSize: Int = 65536): DataFrame = {
    require(chunkSize >= spec.windowSize,
      s"chunkSize ($chunkSize) must be >= windowSize (${spec.windowSize})")
    val ord = ts +: tieBreak
    val assigned = assignChunks(df, "rn",
      row_number().over(Window.partitionBy(series).orderBy(ord: _*)),
      chunkSize, spec.windowSize)
    addProbs(assigned, Seq(series, col("__chunk")), ord, value, spec)
      .filter(!col("__warm"))
      .drop("__chunk", "__warm")
  }

  /** Chunk assignment for the chunked evaluators ([[withProbsChunked]],
    * [[AnomalyOps.withAnomalyProbsChunked]]): pin each row's series
    * position `position` as column `rn`, then split the series into
    * `chunkSize`-row chunks (`__chunk`) in the SAME pass — each of the
    * last windowSize-1 rows of a chunk explodes into two copies (its
    * own chunk, and the next chunk as warm-up history, `__warm`). A
    * union-of-two-branches formulation would scan and shuffle the
    * input twice; the explode keeps it to one scan + one exchange.
    */
  private[operators] def assignChunks(df: DataFrame, rn: String,
      position: Column, chunkSize: Int, windowSize: Int): DataFrame = {
    val chunk0 = ((col(rn) - 1) / chunkSize).cast("long")
    val isTail =
      ((col(rn) - 1) % chunkSize) >= (chunkSize - (windowSize - 1))
    val one = array(struct(chunk0.as("c"), lit(false).as("w")))
    val two = array(struct(chunk0.as("c"), lit(false).as("w")),
      struct((chunk0 + 1).as("c"), lit(true).as("w")))
    df.withColumn(rn, position)
      .withColumn("__cw", explode(when(isTail, two).otherwise(one)))
      .withColumn("__chunk", col("__cw.c"))
      .withColumn("__warm", col("__cw.w"))
      .drop("__cw")
  }

  /** Same columns as [[withProbs]] computed by the fused single-pass
    * [[graft.functions.DetectorEval]] expression over one collect_list
    * window (one WindowExec instead of a stack of frame passes —
    * ~2x faster at sf0.1, bit-identical for fully-warmed rows). Rows
    * with `rn < windowSize` get NULL probabilities; callers filter
    * `rn >= windowSize` (which the plain path requires anyway).
    */
  def withProbsFused(df: DataFrame, series: Column, ts: Column,
      tieBreak: Seq[Column], value: Column, spec: Spec): DataFrame = {
    val ord = ts +: tieBreak
    val wBase = Window.partitionBy(series).orderBy(ord: _*)
    val frame = wBase.rowsBetween(-(spec.windowSize - 1), 0)
    df.withColumn("rn", row_number().over(wBase))
      .withColumn("__arr", collect_list(value.cast("double")).over(frame))
      .withColumn("__p", graft.functions.DetectorFunctions
        .detector_probs(col("__arr"), col("rn"), spec))
      .withColumn("prob_magnitude", col("__p.prob_magnitude"))
      .withColumn("prob_fence", col("__p.prob_fence"))
      .withColumn("prob_cdf", col("__p.prob_cdf"))
      .withColumn("prob_ensemble", col("__p.prob_ensemble"))
      .drop("__arr", "__p")
  }

  /** The shared probability pipeline over a prepared `rn` column; the
    * window partition decides plain (series) vs chunked (series, chunk)
    * execution.
    */
  private def addProbs(df: DataFrame, partition: Seq[Column], ord: Seq[Column],
      value: Column, spec: Spec): DataFrame = {
    val a = spec.activeSize
    val w = spec.windowSize
    val wBase: WindowSpec = Window.partitionBy(partition: _*).orderBy(ord: _*)
    val actFrame = wBase.rowsBetween(-(a - 1), 0)
    val refFrame = wBase.rowsBetween(-(w - 1), -a)
    // cdf operates on |successive diffs|; the in-window diff vector has
    // w-1 entries of which the last `a` are active, first w-a-1 reference
    val cdfRefLen = w - a - 1
    val cdfRefFrame = wBase.rowsBetween(-(w - 2), -a)

    val actMean = avg(value).over(actFrame)
    val refMean = avg(value).over(refFrame)

    val magnitude = when(col("__ref_mean") === 0.0,
        when(col("__act_mean") === 0.0, 0.0).otherwise(1.0))
      .otherwise(abs(col("__act_mean") - col("__ref_mean")) / col("__ref_mean"))

    val fenceDistance = spec.lowerBound match {
      case None => col("__act_mean") / lit(spec.upperBound)
      case Some(lower) =>
        val bound = (spec.upperBound - lower) / 2
        val mid = lower + bound
        abs(col("__act_mean") - lit(mid)) / lit(bound)
    }

    val d = abs(value - lag(value, 1).over(wBase))
    val thresh = round(col("__act_mean_d") - col("__ref_mean_d"), 6)
    val percentile = size(filter(col("__ref_arr_d"),
      x => round(x, 6) <= thresh)) / lit(cdfRefLen.toDouble)

    // Ensemble in exact integer micro-probability space: the 6-decimal
    // test probs become BIGINT micros, weights {0.5, 5} scale to {1, 10},
    // and the weighted mean rounds half-up via pure integer arithmetic —
    // bit-identical across engines (no FP rounding-boundary ambiguity).
    val pm6 = round(col("prob_magnitude") * 1e6).cast("long")
    val pf6 = round(col("prob_fence") * 1e6).cast("long")
    val pc6 = round(col("prob_cdf") * 1e6).cast("long")
    val wm = when(pm6 > 800000L, 10L).otherwise(1L)
    val wf = when(pf6 > 800000L, 10L).otherwise(1L)
    val num = wm * pm6 + wf * pf6 + pc6
    val den = wm + wf + lit(1L)
    val sensMicro = math.round(spec.sensitivity * 1e6)
    val ensemble = when(pm6 < sensMicro, 0.0)
      .otherwise(floor((lit(2L) * num + den) / (lit(2L) * den)) / 1e6)

    df.withColumn("__act_mean", actMean)
      .withColumn("__ref_mean", refMean)
      .withColumn("__d", d)
      .withColumn("__act_mean_d", avg(col("__d")).over(actFrame))
      .withColumn("__ref_mean_d", avg(col("__d")).over(cdfRefFrame))
      .withColumn("__ref_arr_d", collect_list(col("__d")).over(cdfRefFrame))
      .withColumn("prob_magnitude", round(cap01(magnitude), 6))
      .withColumn("prob_fence", round(weightExp10(cap01(fenceDistance)), 6))
      .withColumn("prob_cdf", round(lit(2.0) * abs(lit(0.5) - percentile), 6))
      .withColumn("prob_ensemble", ensemble)
      .drop("__act_mean", "__ref_mean", "__d", "__act_mean_d",
        "__ref_mean_d", "__ref_arr_d")
  }
}
