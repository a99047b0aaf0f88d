package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.kernel.AnomalyzerConf
import graft.operators.AnomalyOps
import graft.streaming.{AnomalyScore, SeriesPoint, StreamingDetector}

/** Open-loop streaming: one generator thread feeds seeded events on a
  * fixed-rate schedule into `StreamingDetector.scoreTws` on the RocksDB
  * state store. Each event's `ts` is its scheduled creation time, so
  * latency counts from when the event was due, not from when the
  * generator got round to it.
  */
final class DetectStream(input: String, out: String) extends Workload {
  val conf = AnomalyzerConf(sensitivity = 0.1, upperBound = 100,
    lowerBound = Some(0), activeSize = 1, nSeasons = 4,
    methods = Seq("magnitude", "fence", "cdf", "highrank"), permCount = 50)
  private val TickNanos = 100000000L
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private implicit val pointEnc: org.apache.spark.sql.Encoder[SeriesPoint] =
    Encoders.product[SeriesPoint]

  private def load(name: String, col: String): Array[(String, Long, Double)] =
    SparkSession.active.read.parquet(s"$input/$name.parquet")
      .selectExpr("series", col, "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
  private lazy val warmRows = load("warm", "unix_micros(cast(ts as timestamp))")
  private lazy val feedRows = load("feed", "due_us")

  private var feeds = 0
  private var attempted = 0L
  private var lastIn: Seq[SeriesPoint] = Nil
  private var lastOut: Seq[AnomalyScore] = Nil

  private def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def micros(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** Runs one query: the warm-up history, then `seconds` of the
    * schedule (none when `seconds` is 0).
    */
  private def feed(spark: SparkSession, t: Tracer, seconds: Double): Segment = {
    spark.conf.set(ProviderKey, RocksDb)
    feeds += 1
    val input = MemoryStream[SeriesPoint](spark)
    var lastEndUs = 0L
    val outRows = mutable.ArrayBuffer[AnomalyScore]()
    val eventLat = mutable.ArrayBuffer[Double]()
    val batchLat = mutable.ArrayBuffer[Double]()
    val ops = mutable.ArrayBuffer[Long]()
    val nanoAtWall = System.nanoTime()
    val wallUs0 = System.currentTimeMillis() * 1000L
    def wallUs(nano: Long): Long = wallUs0 + (nano - nanoAtWall) / 1000L
    // warm-up history sits an hour before now; the schedule starts
    // once it has been scored
    val warmBaseUs = wallUs(nanoAtWall)
    @volatile var feedStartUs = Long.MaxValue
    val sink: (Dataset[AnomalyScore], Long) => Unit = (ds, _) => {
      val rows = ds.collect()
      val end = wallUs(System.nanoTime())
      outRows.synchronized {
        outRows ++= rows
        lastEndUs = end
        val fed = rows.iterator.map(r => micros(r.ts)).filter(_ >= feedStartUs).toSeq
        fed.foreach(due => eventLat += (end - due) / 1e6)
        if (fed.nonEmpty) batchLat += (end - fed.min) / 1e6
      }
    }
    // the stream's execution thread inherits the op tag at start
    ops += Main.beginOp(spark, t)
    val q = t.span("streaming", "scoreTws.start") {
      StreamingDetector.scoreTws(input.toDS(), conf).writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", s"$out/checkpoint/$feeds")
        .start()
    }
    val points = mutable.ArrayBuffer[SeriesPoint]()
    try {
      val warm = warmRows.map { case (s, rel, v) => SeriesPoint(s, tsOf(warmBaseUs + rel), v) }
      points ++= warm
      input.addData(warm.toSeq)
      t.span("streaming", "warm history")(q.processAllAvailable())
      val due = feedRows.filter(_._2 < seconds * 1e6)
      val originNano = System.nanoTime() + 100000000L
      val originUs = wallUs(originNano)
      feedStartUs = originUs
      var late = 0.0
      val gen = new Thread(() => {
        // every tick, hand over all events due by then: one MemoryStream
        // append per tick keeps the micro-batch plan to a few unions
        var i = 0
        var tick = originNano
        while (i < due.length) {
          tick += TickNanos
          val now = System.nanoTime()
          if (tick > now) Thread.sleep((tick - now) / 1000000L, ((tick - now) % 1000000L).toInt)
          val at = System.nanoTime()
          var j = i
          while (j < due.length && originNano + due(j)._2 * 1000L <= at) j += 1
          if (j > i) {
            val group = due.slice(i, j).map { case (s, d, v) =>
              SeriesPoint(s, tsOf(originUs + d), v) }
            late = math.max(late, (at - (originNano + due(i)._2 * 1000L)) / 1e9)
            input.addData(group.toSeq)
            points.synchronized(points ++= group)
            i = j
          }
        }
      }, "graftbench-generator")
      val scheduleEnd = originNano + (seconds * 1e9).toLong
      if (due.nonEmpty) {
        gen.start()
        gen.join()
      }
      t.span("streaming", "drain")(q.processAllAvailable())
      val lastEnd = outRows.synchronized(lastEndUs)
      val fedBatches = outRows.synchronized(batchLat.size)
      attempted += due.length
      lastIn = points.toSeq
      lastOut = outRows.synchronized(outRows.toSeq)
      Segment(eventLat.toSeq, ops.toSeq, Map(
        "events" -> due.length, "batches" -> fedBatches,
        "batch_latencies_s" -> batchLat.toSeq,
        "backlog_s" -> (lastEnd - wallUs(scheduleEnd)) / 1e6,
        "generator_late_s" -> late,
        "rate_per_s" -> (if (seconds > 0) due.length / seconds else 0.0)))
    } finally q.stop()
  }

  def warmup(spark: SparkSession, t: Tracer): Unit = feed(spark, t, 0.0)

  def measure(spark: SparkSession, t: Tracer, seconds: Double): Segment =
    feed(spark, t, seconds)

  override def interleaved: Boolean = false

  /** One feed of two seconds of the schedule. */
  def warmSeconds: Double = 2.0
  override def warmPass(spark: SparkSession): Unit =
    feed(spark, new Tracer(false), warmSeconds)

  /** The last feed's scores against the batch twin
    * (`AnomalyOps.score`) of the same points, on a seeded quarter of the
    * series (a series' scores depend on its own points only).
    */
  def check(spark: SparkSession, corrupt: Boolean): Check = {
    implicit val scoreEnc = Encoders.product[AnomalyScore]
    val names = lastIn.map(_.series).distinct.sorted
    val picked = new scala.util.Random(5L).shuffle(names)
      .take(math.max(1, names.size / 4)).toSet
    val twin = AnomalyOps.score(spark.createDataset(lastIn.filter(p =>
        picked(p.series))), conf).collect()
      .map(s => (s.series, micros(s.ts), s.value) -> s.prob).toMap
    val got = lastOut.filter(s => picked(s.series)).zipWithIndex.map { case (s, i) =>
      (s.series, micros(s.ts), s.value) -> (if (corrupt && i == 0) s.prob + 0.5 else s.prob)
    }
    val wrong = got.count { case (k, p) => !twin.get(k).contains(p) } +
      math.abs(twin.size - got.size)
    Check(attempted, math.min(attempted, wrong.toLong),
      if (wrong == 0) s"${got.size} scores of ${picked.size} series equal their batch twin"
      else s"$wrong of ${twin.size} scores differ from the batch twin")
  }

  override def props: Map[String, Any] = Map(
    "rows" -> (warmRows.length + feedRows.length),
    "series" -> warmRows.map(_._1).distinct.length)

  def layers(spark: SparkSession, t: Tracer, seg: Segment,
      phases: PhaseListener): Map[String, Double] = {
    val rows = (warmRows ++ feedRows.map { case (s, d, v) => (s, d, v) }).toSeq
    Kernel.layers(new DriverSeries(rows), conf, t, 3L, 500) ++ Map(
      "streaming.backlog_s" -> seg.extra("backlog_s").asInstanceOf[Double],
      "bench.generator_late_s" -> seg.extra("generator_late_s").asInstanceOf[Double])
  }
}
