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

  private val feed = Seq(
    Seq(pt("cpu", 3000, 2.0), pt("cpu", 1000, 1.0), pt("mem", 1000, 10.0)),
    Seq(pt("cpu", 2000, 1.5), pt("mem", 2000, 11.0), pt("cpu", 4000, 1.8)),
    Seq(pt("cpu", 5000, 9.0), pt("mem", 3000, 55.0)),
    Seq(pt("cpu", 6000, 1.2), pt("mem", 4000, 12.0), pt("disk", 1000, 3.0)))

  /** The Hadoop conf that names the FileContext `file:` filesystem,
    * through which Spark's checkpoint manager writes.
    */
  private val FsKey = "fs.AbstractFileSystem.file.impl"
  private val graftFs = graft.GraftSession.LocalFsClass
  private val hadoopFs = classOf[org.apache.hadoop.fs.local.LocalFs].getName

  /** One query lifetime of `score` over `batches` of `input`,
    * checkpointed at `ckpt` through the FileContext filesystem class
    * `fs`: the scores it emitted, by (series, ts).
    */
  private def run(score: Dataset[SeriesPoint] => Dataset[AnomalyScore])(
      input: MemoryStream[SeriesPoint], ckpt: String,
      batches: Seq[Seq[SeriesPoint]], fs: String = graftFs)
      : Seq[(String, Long, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer[AnomalyScore]()
    val sink: (Dataset[AnomalyScore], Long) => Unit =
      (ds, _) => out ++= ds.collect()
    spark.conf.set(FsKey, fs)
    try {
      val q = score(input.toDS()).writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt).start()
      try batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      } finally q.stop()
    } finally spark.conf.set(FsKey, graftFs)
    out.map(a => (a.series, a.ts.getTime, a.prob)).toSeq
  }

  private def withRoot(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-detector-ckpt")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try body(root.toString) finally rm(root.toFile)
  }

  /** `feed` through `score` stopped after batch `k` and resumed on the
    * same checkpoint, each half under every pair of FileContext
    * filesystems (graft's throughout, Hadoop's `LocalFs` then graft's,
    * and back): every pairing must equal the uninterrupted run.
    */
  private def restartsEqualWhole(
      score: Dataset[SeriesPoint] => Dataset[AnomalyScore],
      feed: Seq[Seq[SeriesPoint]], k: Int, root: String)
      : Seq[(String, Long, Double)] = {
    val sparkSession = spark
    import sparkSession.implicits._
    val whole = run(score)(MemoryStream[SeriesPoint](sparkSession),
      s"$root/whole", feed)
    assert(whole.size === feed.map(_.size).sum)
    Seq(graftFs -> graftFs, hadoopFs -> graftFs, graftFs -> hadoopFs)
      .foreach { case (fs1, fs2) =>
        val ckpt = s"$root/restart-${fs1.hashCode}-${fs2.hashCode}"
        val input = MemoryStream[SeriesPoint](sparkSession)
        val before = run(score)(input, ckpt, feed.take(k), fs1)
        // a fresh query on the same checkpoint resumes offsets and state
        val after = run(score)(input, ckpt, feed.drop(k), fs2)
        assert((before ++ after).sorted === whole.sorted, s"$fs1 then $fs2")
      }
    whole
  }

  test("restart from a real checkpoint after batch k == uninterrupted " +
    "run") {
    val sparkSession = spark
    import sparkSession.implicits._
    val score = StreamingDetector.scoreTws(_: Dataset[SeriesPoint], conf)
    withRoot { root =>
      val k = 2
      val whole = restartsEqualWhole(score, feed, k, root)
      // the restarted half really depends on recovered state: a cold
      // start over batches k.. scores differently
      val resumed = feed.drop(k).flatten.map(p => (p.series, p.ts.getTime))
        .toSet
      val cold = run(score)(MemoryStream[SeriesPoint](sparkSession),
        s"$root/cold", feed.drop(k))
      assert(cold.sorted !==
        whole.filter(s => resumed((s._1, s._2))).sorted)
    }
  }

  test("a 3-batch scoreTws on a real checkpoint starts no process but " +
    "RocksDB's rm") {
    val sparkSession = spark
    import sparkSession.implicits._
    val score = StreamingDetector.scoreTws(_: Dataset[SeriesPoint], conf)
    withRoot { root =>
      // one JVM-wide warm-up: Hadoop's Shell class init forks once
      run(score)(MemoryStream[SeriesPoint](sparkSession), s"$root/warm",
        feed.take(1))
      var scores = Seq.empty[(String, Long, Double)]
      val procs = graft.SparkTestBase.processStarts {
        scores = run(score)(MemoryStream[SeriesPoint](sparkSession),
          s"$root/ckpt", feed.take(3))
      }
      assert(scores.size === feed.take(3).map(_.size).sum)
      // Spark's recursive delete of each RocksDB snapshot dir shells out
      assert(procs.forall(_.startsWith("rm ")), procs)
    }
  }

  test("scoreTws(idleTtl): restart from a real checkpoint, across a " +
    "filesystem switch both ways, == uninterrupted run") {
    val sparkSession = spark
    import sparkSession.implicits._
    // event time rises batch over batch (nothing is late); mem goes
    // idle after batch 2 (high-water 3 s, deadline 5 s), the watermark
    // passes its deadline after batch 3, so it re-arrives cold in the
    // resumed half, from the timer the first half checkpointed
    val ttlFeed = Seq(
      Seq(pt("cpu", 1000, 1.0), pt("mem", 1000, 10.0), pt("cpu", 2000, 1.5)),
      Seq(pt("cpu", 3000, 2.0), pt("mem", 3000, 11.0), pt("cpu", 4000, 1.8)),
      Seq(pt("cpu", 5000, 9.0), pt("cpu", 6000, 1.2), pt("disk", 6000, 3.0)),
      Seq(pt("mem", 8000, 55.0), pt("cpu", 7000, 1.1)),
      Seq(pt("mem", 9000, 12.0), pt("cpu", 9000, 1.3), pt("disk", 9000, 3.1)))
    val ttl = (ds: Dataset[SeriesPoint]) => StreamingDetector.scoreTws(
      ds.withWatermark("ts", "0 seconds"), conf,
      Some(java.time.Duration.ofSeconds(2)))
    withRoot { root =>
      val whole = restartsEqualWhole(ttl, ttlFeed, 3, root)
      // eviction really happened: without a TTL mem continues warm
      val kept = run(StreamingDetector.scoreTws(_: Dataset[SeriesPoint], conf))(
        MemoryStream[SeriesPoint](sparkSession), s"$root/kept", ttlFeed)
      assert(whole.sorted !== kept.sorted)
    }
  }

  test("one state-store read per key per batch") {
    val sparkSession = spark
    import sparkSession.implicits._
    val input = MemoryStream[SeriesPoint](sparkSession)
    val q = StreamingDetector.scoreTws(input.toDS(), conf).writeStream
      .format("memory").queryName("gets_sink").outputMode("append").start()
    try {
      val keys = 40
      val gets = (1 to 3).map { b =>
        input.addData((0 until keys).map(i => pt(s"s$i", b * 1000L, b)): _*)
        q.processAllAvailable()
        q.lastProgress.stateOperators.head.customMetrics.get("rocksdbGetCount")
      }
      // 2 per key; reading exists() before get() made it 3 once a key
      // had state
      assert(gets.forall(_ == 2L * keys), s"gets per batch $gets")
    } finally q.stop()
  }
}
