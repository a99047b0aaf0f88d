package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.AnomalyExpressionBase
import graft.kernel.{AnomalyzerConf, Ensemble}

class AnomalyOpsSpec extends AnyFunSuite with SparkTestBase {

  private val detConf = AnomalyzerConf(
    sensitivity = 0.1, upperBound = 500, lowerBound = Some(0),
    activeSize = 2, nSeasons = 4,
    methods = Seq("magnitude", "fence", "cdf"))

  test("Spark windowed result equals the sequential kernel, per series") {
    val events = graft.sources.Tables.events(spark, sfDir)
    val out = AnomalyOps.withAnomalyProbs(events,
        col("event_type"), col("ts"), col("value"),
        detConf, tieBreak = Seq(col("event_id")))
      .select("event_type", "event_id", "anomaly_prob")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap

    // sequential oracle: per-series sliding evaluation with the kernel
    val c = AnomalyzerConf.validated(detConf)
    val rows = graft.sources.Tables.events(spark, sfDir)
      .select("event_type", "event_id", "ts", "value")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    var checked = 0
    rows.groupBy(_._1).foreach { case (series, rs) =>
      // full-precision timestamp ordering (getTime alone truncates to ms)
      val ordered = rs.sortBy(r =>
        (r._3.toInstant.getEpochSecond, r._3.toInstant.getNano, r._2))
      val values = ordered.map(_._4)
      ordered.indices.foreach { i =>
        val from = math.max(0, i - c.windowSize + 1)
        val window = values.slice(from, i + 1)
        // deterministic methods: the draw is never consulted
        val expected = Ensemble.eval(window, c, new graft.kernel.PermDraw(0L, 0L))
        val got = out((series, ordered(i)._2))
        assert(got === expected,
          s"series=$series i=$i expected=$expected got=$got")
        checked += 1
      }
    }
    assert(checked === rows.length)
  }

  test("permutation tests are reproducible across physical partitionings") {
    val permConf = AnomalyzerConf(
      activeSize = 2, nSeasons = 4, permCount = 60,
      methods = Seq("highrank", "lowrank", "ks", "diff"))
    val events = graft.sources.Tables.events(spark, sfDir)
      .filter(col("event_id") < 400)
    def run(df: org.apache.spark.sql.DataFrame) =
      AnomalyOps.withAnomalyProbs(df, col("event_type"), col("ts"),
          col("value"), permConf, tieBreak = Seq(col("event_id")))
        .select("event_id", "anomaly_prob")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = run(events)
    val b = run(events.repartition(7, col("user_id")))
    assert(a === b)
    assert(a.values.exists(_ > 0.0)) // something nonzero actually computed
  }

  test("chunked evaluation is bit-identical to the plain window") {
    val permConf = AnomalyzerConf(
      activeSize = 2, nSeasons = 4, permCount = 40,
      methods = Seq("highrank", "diff", "magnitude"))
    val events = graft.sources.Tables.events(spark, sfDir)
      .filter(col("event_id") < 600)
    val plain = AnomalyOps.withAnomalyProbs(events, col("event_type"),
        col("ts"), col("value"), permConf, tieBreak = Seq(col("event_id")))
      .select("event_id", "anomaly_prob")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // chunk far smaller than any series so every series spans chunks
    val chunked = AnomalyOps.withAnomalyProbsChunked(events, col("event_type"),
        col("ts"), col("value"), permConf, tieBreak = Seq(col("event_id")),
        chunkSize = 16)
      .select("event_id", "anomaly_prob")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(chunked.size === plain.size)
    assert(chunked === plain)
  }

  test("typed batch facade == sequential kernel (same types as streaming)") {
    import graft.streaming.{SeriesPoint, StreamingDetector}
    import graft.kernel.Anomalyzer
    val sparkSession = spark
    import sparkSession.implicits._
    val conf = AnomalyzerConf(activeSize = 1, nSeasons = 4, permCount = 40,
      methods = Seq("magnitude", "cdf", "highrank"))
    val pts = (1 to 30).map(i =>
      SeriesPoint("s", new java.sql.Timestamp(i * 1000L),
        if (i == 25) 50.0 else i % 7 + 1.0))
    val got = AnomalyOps.score(pts.toDS(), conf).collect()
      .sortBy(_.ts.getTime).map(_.prob).toSeq
    val a = new Anomalyzer(conf, StreamingDetector.seriesHash("s"))
    val expected = pts.map(p => a.push(p.value))
    assert(got === expected)
  }

  test("byTest emits the per-test probability map") {
    val events = graft.sources.Tables.events(spark, sfDir).limit(50)
    val row = AnomalyOps.withAnomalyProbs(events, col("event_type"),
        col("ts"), col("value"), detConf,
        tieBreak = Seq(col("event_id")), byTest = true)
      .select("anomaly_probs")
      .collect()
    assert(row.nonEmpty)
    val m = row.last.getMap[String, Double](0)
    assert(m.keys.forall(Set("magnitude", "fence", "cdf").contains))
  }

  test("byTest runs the kernel once per row; its anomaly_prob == eval bitwise") {
    // 3 keys (insertion-ordered map) with the Delay gate, and all seven
    // tests (6 keys, hash-ordered map): combine sums in map order
    val allConf = detConf.copy(permCount = 40,
      methods = AnomalyzerConf.SupportedMethods)
    val events = graft.sources.Tables.events(spark, sfDir)
      .filter(col("event_id") < 400)
    def kernelExprs(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect { case e: AnomalyExpressionBase => e }.size).sum
      }.sum
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    for ((conf, keys) <- Seq(detConf.copy(delay = true) -> 3, allConf -> 6);
         chunked <- Seq(false, true)) {
      def run(byTest: Boolean) =
        if (chunked) AnomalyOps.withAnomalyProbsChunked(events,
          col("event_type"), col("ts"), col("value"), conf,
          tieBreak = Seq(col("event_id")), chunkSize = 16, byTest = byTest)
        else AnomalyOps.withAnomalyProbs(events, col("event_type"),
          col("ts"), col("value"), conf, tieBreak = Seq(col("event_id")),
          byTest = byTest)
      val both = run(byTest = true)
      assert(kernelExprs(both) === 1, both.queryExecution.optimizedPlan)
      val got = both.select("event_id", "anomaly_prob", "anomaly_probs")
        .collect().map(r => r.getLong(0) ->
          (bits(r.getDouble(1)), r.getMap[String, Double](2).size)).toMap
      val expected = run(byTest = false).select("event_id", "anomaly_prob")
        .collect().map(r => r.getLong(0) -> bits(r.getDouble(1))).toMap
      assert(got.view.mapValues(_._1).toMap === expected,
        s"conf=$conf chunked=$chunked")
      assert(got.values.map(_._2).max === keys)
      assert(got.values.exists(_._1 != bits(0.0)))
    }
  }
}
