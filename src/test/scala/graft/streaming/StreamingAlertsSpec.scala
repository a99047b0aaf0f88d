package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.streaming.StreamingAlerts.{Alert, AlertState}

class StreamingAlertsSpec extends AnyFunSuite with SparkTestBase {

  private def pt(series: String, sec: Long, prob: Double) =
    AnomalyScore(series, new Timestamp(sec * 1000), 1.0, prob)

  private def sequential(points: Seq[AnomalyScore], threshold: Double,
      cooldown: Long): Seq[Alert] = {
    var s = AlertState(false, 0L, 0L)
    points.flatMap { p =>
      val (ns, a) = StreamingAlerts.step(s, p, threshold, cooldown)
      s = ns
      a
    }
  }

  private def streamed(batches: Seq[Seq[AnomalyScore]], threshold: Double,
      cooldown: Long): Seq[Alert] = {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession
    val input = MemoryStream[AnomalyScore](sparkSession)
    val name = s"alerts_${System.nanoTime()}"
    val query = StreamingAlerts.alertsTws(input.toDS(), threshold, cooldown)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
    } finally query.stop()
    spark.table(name).as[Alert].collect().toSeq
      .sortBy(a => (a.series, a.alert_seq))
  }

  test("edge trigger: a sustained excursion pages once; recovery " +
    "re-arms; cooldown suppresses a fresh incident") {
    val pts = Seq(
      pt("s", 0, 0.1), pt("s", 10, 0.9), pt("s", 20, 0.95), // one alert
      pt("s", 30, 0.2), // recovery re-arms the edge
      pt("s", 40, 0.9), // new incident but inside cooldown 60 -> silent
      pt("s", 80, 0.3), pt("s", 90, 0.99)) // past cooldown -> alert 2
    val got = sequential(pts, 0.8, 60L)
    assert(got.map(a => (a.ts.getTime / 1000, a.alert_seq)) ===
      Seq((10L, 1L), (90L, 2L)))
  }

  test("streaming == sequential fold on detector scores from the " +
    "corpus, across micro-batch splits") {
    val sparkSession = spark
    implicit val s = sparkSession
    import sparkSession.implicits._
    val conf = graft.kernel.AnomalyzerConf(activeSize = 2, nSeasons = 4,
      upperBound = 500.0, lowerBound = Some(0.0),
      methods = Seq("magnitude", "fence", "cdf"))
    val pts = graft.sources.Tables.events(spark, sfDir)
      .selectExpr("event_type as series", "ts", "value")
      .as[SeriesPoint].collect().toSeq
      .sortBy(p => (p.series, p.ts.getTime, p.value))
    // score sequentially through the streaming detector's own batch fn
    val scores = pts.groupBy(_.series).toSeq.flatMap { case (series, ps) =>
      var st = SeriesState(Array.empty, 0L)
      ps.sortBy(p => (p.ts.getTime, p.value)).map { p =>
        val buf = (st.buffer :+ p.value).takeRight(conf.windowSize)
        val pushed = st.pushed + 1
        st = SeriesState(buf, pushed)
        val prob = graft.kernel.Ensemble.eval(buf, conf,
          new graft.kernel.PermDraw(
            StreamingDetector.seriesHash(series), pushed))
        AnomalyScore(series, p.ts, p.value, prob)
      }
    }
    val expected = scores.groupBy(_.series).toSeq.flatMap {
      case (_, ss) => sequential(ss.sortBy(p =>
        (p.ts.toInstant.getEpochSecond, p.ts.toInstant.getNano,
          p.value, p.prob)), 0.8, 3600L)
    }.sortBy(a => (a.series, a.alert_seq))
    assert(expected.nonEmpty, "corpus must produce at least one alert")
    val (b1, rest) = scores.splitAt(scores.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val got = streamed(Seq(b1, b2, b3), 0.8, 3600L)
    assert(got === expected)
  }
}
