package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.AnomalyFunctions
import graft.kernel.{AnomalyzerConf, Ensemble, PermDraw, Tests}
import graft.operators.AnomalyOps
import graft.sources.Tables

/** Series held on the driver in engine order: (ts, value) per series,
  * for the sequential re-evaluation and the kernel microbenchmark.
  */
final class DriverSeries(rows: Seq[(String, Long, Double)]) {
  val bySeries: Map[String, Array[(Long, Double)]] =
    rows.groupBy(_._1).map { case (s, xs) =>
      s -> xs.map(r => (r._2, r._3)).sortBy(identity).toArray
    }
  val names: IndexedSeq[String] = bySeries.keys.toIndexedSeq.sorted

  /** The window ending at 1-based position `rn` of `series`. */
  def window(series: String, rn: Int, size: Int): Array[Double] = {
    val xs = bySeries(series)
    xs.slice(math.max(0, rn - size), rn).map(_._2)
  }

  /** `n` seeded (series, position) picks, uniform over rows. */
  def sample(n: Int, seed: Long, minPos: Int = 1): Seq[(String, Int)] = {
    val rnd = new scala.util.Random(seed)
    val eligible = names.filter(bySeries(_).length >= minPos)
    val sizes = eligible.map(s => bySeries(s).length - minPos + 1)
    val total = sizes.sum.toLong
    Seq.fill(n) {
      var k = (rnd.nextDouble() * total).toLong
      var i = 0
      while (k >= sizes(i)) { k -= sizes(i); i += 1 }
      (eligible(i), minPos + k.toInt)
    }
  }
}

object Kernel {
  /** Single-thread kernel timings over windows sampled from the
    * workload's own input: Ensemble.eval and each configured test.
    */
  def layers(series: DriverSeries, conf: AnomalyzerConf, t: Tracer,
      seed: Long, n: Int): Map[String, Double] = t.span("kernel", "microbench") {
    val c = AnomalyzerConf.validated(conf)
    val picks = series.sample(n, seed, c.windowSize)
    val wins = picks.map { case (s, rn) =>
      (series.window(s, rn, c.windowSize),
        new PermDraw(PermDraw.seriesHash60(s), rn.toLong))
    }.toArray
    def timeEach(f: (Array[Double], PermDraw) => Any): Seq[Double] = {
      wins.foreach { case (w, d) => f(w, d) } // JIT warm-up
      wins.toSeq.map { case (w, d) =>
        val t0 = System.nanoTime(); f(w, d); (System.nanoTime() - t0) / 1e3
      }
    }
    val evalUs = timeEach((w, d) => Ensemble.eval(w, c, d))
    val perTest = c.methods.map { m =>
      val alg = Tests.Algorithms(m)
      s"kernel.${m}_us_p50" -> Stats.median(timeEach((w, d) => alg(w, c, d)))
    }
    Map("kernel.evals_per_s" -> wins.length / (evalUs.sum / 1e6),
      "kernel.eval_us_p50" -> Stats.median(evalUs),
      "kernel.perm_useful_ratio" -> usefulRatio(wins.map(_._1), c)) ++ perTest
  }

  /** Share of windows whose magnitude reaches the sensitivity, so the
    * ensemble keeps the permutation tests' result.
    */
  def usefulRatio(wins: Seq[Array[Double]], c: AnomalyzerConf): Double = {
    val useful = wins.count(w =>
      Tests.magnitude(w, c).exists(_ >= c.sensitivity))
    useful.toDouble / math.max(1, wins.size)
  }
}

/** Batch scoring: `AnomalyOps.withAnomalyProbsChunked` over seeded,
  * Zipf-skewed series with the reference default tests.
  */
final class DetectBatch(input: String, out: String) extends Workload {
  val conf = AnomalyzerConf(activeSize = 2, nSeasons = 59, permCount = 500,
    methods = Seq("magnitude", "ks"))
  val validated = AnomalyzerConf.validated(conf)
  val ChunkSize = 1024
  private val passDir = s"$out/pass/scores"
  private var attempted = 0L
  private var errors = 0L
  private lazy val driverSeries = {
    val spark = SparkSession.active
    val rows = spark.read.parquet(s"$input/series.parquet")
      .selectExpr("series", "unix_micros(cast(ts as timestamp))", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    new DriverSeries(rows.toSeq)
  }
  private var propsOut = Map.empty[String, Any]

  private def scored(df: DataFrame): DataFrame =
    AnomalyOps.withAnomalyProbsChunked(df, col("series"), col("ts"),
      col("value"), conf, tieBreak = Seq(col("value")), chunkSize = ChunkSize)

  def warmup(spark: SparkSession, t: Tracer): Unit =
    scored(Tables.table(spark, input, "series").limit(400))
      .write.format("noop").mode("overwrite").save()

  def measure(spark: SparkSession, t: Tracer, seconds: Double): Segment = {
    val lat = mutable.ArrayBuffer[Double]()
    val ops = mutable.ArrayBuffer[Long]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (lat.isEmpty || (seconds > 0 && lat.size < minUnits) ||
        System.nanoTime() < end) {
      ops += Main.beginOp(spark, t)
      attempted += 1
      val t0 = System.nanoTime()
      try t.span("operators", "withAnomalyProbsChunked") {
        val df = t.span("sources", "Tables.table")(
          Tables.table(spark, input, "series"))
        scored(df).write.mode("overwrite").parquet(passDir)
      } catch {
        case e: Exception =>
          errors += 1
          System.err.println(s"[bench] pass failed: $e")
      }
      lat += (System.nanoTime() - t0) / 1e9
    }
    Segment(lat.toSeq, ops.toSeq)
  }

  def check(spark: SparkSession, corrupt: Boolean): Check = {
    val ds = driverSeries
    val got = spark.read.parquet(passDir)
      .selectExpr("series", "unix_micros(cast(ts as timestamp))", "value", "anomaly_prob")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)) ->
        r.getDouble(3)).toMap
    val nRows = ds.bySeries.values.map(_.length).sum
    val picks = ds.sample(400, 7L)
    var wrong = 0
    var first = ""
    picks.zipWithIndex.foreach { case ((s, rn), i) =>
      val (ts, v) = ds.bySeries(s)(rn - 1)
      val expect = Ensemble.eval(ds.window(s, rn, validated.windowSize),
        validated, new PermDraw(PermDraw.seriesHash60(s), rn.toLong))
      val actual = got.get((s, ts, v)).map(p =>
        if (corrupt && i == 0) p + 0.5 else p)
      if (!actual.contains(expect)) {
        wrong += 1
        if (first.isEmpty) first = s"$s#$rn expected $expect got $actual"
      }
    }
    if (got.size != nRows) {
      wrong += 1
      first = s"${got.size} output rows for $nRows input rows; " + first
    }
    propsOut = Map("rows" -> nRows, "series" -> ds.names.size,
      "kernel.perm_useful_ratio" -> Kernel.usefulRatio(
        ds.sample(2000, 11L, validated.windowSize).map { case (s, rn) =>
          ds.window(s, rn, validated.windowSize) }, validated),
      "checked_rows" -> picks.size)
    // a wrong output makes the pass that produced it a failed op
    Check(attempted, errors + (if (wrong > 0) 1 else 0),
      if (wrong > 0) s"$wrong wrong: $first" else s"${picks.size} sampled rows exact")
  }

  override def props: Map[String, Any] = propsOut
  def warmSeconds: Double = 3.0

  def layers(spark: SparkSession, t: Tracer, seg: Segment,
      phases: PhaseListener): Map[String, Double] = {
    val kernel = Kernel.layers(driverSeries, conf, t, 3L, 500)
    // the expression alone, over window arrays cached in memory
    val w = Window.partitionBy("series").orderBy("ts", "value")
    val cached = Tables.table(spark, input, "series")
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("window", collect_list(col("value"))
        .over(w.rowsBetween(-(validated.windowSize - 1), 0)))
      .select(col("window"), col("rk"),
        conv(substring(md5(col("series").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("sh"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .cache()
    val rows = cached.count()
    val fnRuns = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      t.span("functions", "anomaly_prob") {
        cached.select(AnomalyFunctions.anomaly_prob(col("window"), col("sh"),
          col("rk"), conf)).write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    cached.unpersist()
    val fnS = Stats.median(fnRuns)
    val scoreS = Stats.median(seg.latencies)
    val scanS = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      t.span("sources", "scan series")(Tables.table(spark, input, "series")
        .write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    })
    kernel ++ Map(
      "functions.anomaly_prob_s" -> fnS,
      "functions.rows_per_s" -> rows / fnS,
      "operators.score_s" -> scoreS,
      "operators.self_s" -> (scoreS - fnS),
      "sources.series.scan_s" -> scanS,
      "bench.kernel_functions_share" -> fnS / scoreS)
  }
}
