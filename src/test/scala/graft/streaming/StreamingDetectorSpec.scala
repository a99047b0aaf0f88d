package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.kernel.{Anomalyzer, AnomalyzerConf}

class StreamingDetectorSpec extends AnyFunSuite with SparkTestBase {

  private val conf = AnomalyzerConf(
    sensitivity = 0.1, upperBound = 100, lowerBound = Some(0),
    activeSize = 1, nSeasons = 4,
    methods = Seq("magnitude", "fence", "cdf", "highrank"), permCount = 50)

  private def pt(s: String, t: Long, v: Double) =
    SeriesPoint(s, new Timestamp(t), v)

  test("streaming scores == sequential kernel across micro-batches") {
    val sparkSession = spark
    import sparkSession.implicits._

    val input = MemoryStream[SeriesPoint](sparkSession)
    val scores = StreamingDetector.scoreTws(input.toDS(), conf)
    val query = scores.writeStream
      .format("memory").queryName("scores_sink")
      .outputMode("append").start()
    try {
      // batch 1: interleaved series, deliberately out of ts order
      input.addData(
        pt("cpu", 3000, 2.0), pt("cpu", 1000, 1.0), pt("cpu", 2000, 1.5),
        pt("mem", 1000, 10.0), pt("mem", 2000, 11.0))
      query.processAllAvailable()
      // batch 2: state must carry over (cpu buffer already has 3 points)
      input.addData(
        pt("cpu", 4000, 1.8), pt("cpu", 5000, 9.0),
        pt("mem", 3000, 55.0))
      query.processAllAvailable()

      val got = spark.table("scores_sink").as[AnomalyScore].collect()
        .map(a => (a.series, a.ts.getTime) -> a.prob).toMap
      assert(got.size === 8)

      // oracle: the sequential kernel facade, same seeds
      val expected = Seq(
        "cpu" -> Seq((1000L, 1.0), (2000L, 1.5), (3000L, 2.0),
          (4000L, 1.8), (5000L, 9.0)),
        "mem" -> Seq((1000L, 10.0), (2000L, 11.0), (3000L, 55.0)))
      expected.foreach { case (series, pts) =>
        val a = new Anomalyzer(conf, StreamingDetector.seriesHash(series))
        pts.foreach { case (t, v) =>
          val prob = a.push(v)
          assert(got((series, t)) === prob,
            s"series=$series ts=$t: streaming=${got((series, t))} kernel=$prob")
        }
      }
      // the spike at the end should actually alarm
      assert(got(("mem", 3000L)) > 0.8)
    } finally query.stop()
  }

  test("state buffer is bounded at windowSize") {
    val sparkSession = spark
    import sparkSession.implicits._
    val input = MemoryStream[SeriesPoint](sparkSession)
    val query = StreamingDetector.scoreTws(input.toDS(), conf).writeStream
      .format("memory").queryName("bounded_sink")
      .outputMode("append").start()
    try {
      input.addData((1 to 60).map(i => pt("s", i * 1000L, i.toDouble)): _*)
      query.processAllAvailable()
      val n = spark.table("bounded_sink").count()
      assert(n === 60) // one score per arriving point
      // oracle equality after 60 points proves the buffer truncated the
      // same way the kernel does (windowSize = 5)
      val a = new Anomalyzer(conf, StreamingDetector.seriesHash("s"))
      val expected = (1 to 60).map(i => a.push(i.toDouble))
      val got = spark.table("bounded_sink").as[AnomalyScore].collect()
        .sortBy(_.ts.getTime).map(_.prob)
      assert(got.toSeq === expected)
    } finally query.stop()
  }

  test("restart from a real checkpoint after batch k == uninterrupted " +
    "run") {
    val sparkSession = spark
    import sparkSession.implicits._
    val feed = Seq(
      Seq(pt("cpu", 3000, 2.0), pt("cpu", 1000, 1.0), pt("mem", 1000, 10.0)),
      Seq(pt("cpu", 2000, 1.5), pt("mem", 2000, 11.0), pt("cpu", 4000, 1.8)),
      Seq(pt("cpu", 5000, 9.0), pt("mem", 3000, 55.0)),
      Seq(pt("cpu", 6000, 1.2), pt("mem", 4000, 12.0), pt("disk", 1000, 3.0)))
    val root = java.nio.file.Files.createTempDirectory("graft-detector-ckpt")

    // one query lifetime over `batches` of `input`, checkpointed at
    // `ckpt`: the scores it emitted, by (series, ts)
    def run(input: MemoryStream[SeriesPoint], ckpt: String,
        batches: Seq[Seq[SeriesPoint]]): Seq[(String, Long, Double)] = {
      val out = scala.collection.mutable.ArrayBuffer[AnomalyScore]()
      val sink: (Dataset[AnomalyScore], Long) => Unit =
        (ds, _) => out ++= ds.collect()
      val q = StreamingDetector.scoreTws(input.toDS(), conf).writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt).start()
      try batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      } finally q.stop()
      out.map(a => (a.series, a.ts.getTime, a.prob)).toSeq
    }

    try {
      val whole = run(MemoryStream[SeriesPoint](sparkSession),
        s"$root/whole", feed)
      val k = 2
      val input = MemoryStream[SeriesPoint](sparkSession)
      val before = run(input, s"$root/restart", feed.take(k))
      // a fresh query on the same checkpoint resumes offsets and state
      val after = run(input, s"$root/restart", feed.drop(k))
      assert(whole.size === feed.map(_.size).sum)
      assert((before ++ after).sorted === whole.sorted)
      // the restarted half really depends on recovered state: a cold
      // start over batches k.. scores differently
      val cold = run(MemoryStream[SeriesPoint](sparkSession),
        s"$root/cold", feed.drop(k))
      assert(cold.sorted !== after.sorted)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(root.toFile)
    }
  }
}
