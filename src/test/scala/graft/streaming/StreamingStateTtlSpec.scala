package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkTestBase
import graft.streaming.StreamingLatestState.EventIn

/** Pins the event-time idle-TTL contract of the per-key state ops:
  * (1) the state store stays bounded by the LIVE-key set under key
  * churn, not by every key ever seen, and (2) eviction forgets the key
  * entirely — a re-arriving expired key starts fresh. Both are
  * event-time properties (watermark-driven), so the pins are
  * deterministic: no sleeps, no wall-clock.
  */
class StreamingStateTtlSpec extends AnyFunSuite with SparkTestBase
    with TimeLimits {

  private def ev(id: Long, tMs: Long, user: Long, etype: String,
      value: Double) = EventIn(id, new Timestamp(tMs), user, etype, value)

  private val ttl = java.time.Duration.ofSeconds(30)

  test("key churn: state rows track the live-key set, dead keys evict " +
    "as the watermark passes their TTL horizon") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    val input = MemoryStream[EventIn](sparkSession)
    val query = StreamingLatestState.latestStateTtlTws(input.toDF(), ttl)
      .writeStream.format("memory").queryName("ttl_churn_sink")
      .outputMode("update").start()
    try {
      // 3 generations of 20 one-shot keys, 100 s of event time apart —
      // each generation is far beyond the previous one's 30 s TTL
      for (gen <- 0 until 3) {
        val base = gen * 100000L
        input.addData((0 until 20).map(k =>
          ev(gen * 100 + k, base, gen * 1000 + k, "click", k.toDouble)): _*)
        query.processAllAvailable()
        // a second batch per generation so the watermark (computed
        // from the PREVIOUS batch's max event time) actually advances
        // past the older generation before the next one arrives
        input.addData(ev(gen * 100 + 99, base + 1000L, 999999L, "wm", 0.0))
        query.processAllAvailable()
      }
      val rows = query.lastProgress.stateOperators.head.numRowsTotal
      // live set = generation 2's 20 keys + the watermark-driver key;
      // without eviction this would be 61 — the bound is the whole pin
      // (numRowsRemoved in lastProgress covers only the final
      // micro-batch, so it cannot see the earlier generations' drops)
      assert(rows <= 25,
        s"state store holds $rows rows — dead generations not evicted")
    } finally query.stop()
  }

  test("expiry forgets the key: a re-arriving expired key restarts " +
    "n_events at 1 (no-TTL twin keeps counting)") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    def lastCountFor(sink: String, user: Long): Long = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type")
        .orderBy(col("last_ts").desc, col("n_events").desc)
      spark.table(sink)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1 && col("user_id") === user)
        .select("n_events").collect().head.getLong(0)
    }

    val inTtl = MemoryStream[EventIn](sparkSession)
    val qTtl = StreamingLatestState.latestStateTtlTws(inTtl.toDF(), ttl)
      .writeStream.format("memory").queryName("ttl_expiry_sink")
      .outputMode("update").start()
    val inPlain = MemoryStream[EventIn](sparkSession)
    val qPlain = StreamingLatestState.latestStateTws(inPlain.toDF())
      .writeStream.format("memory").queryName("ttl_expiry_plain_sink")
      .outputMode("update").start()
    try {
      val feed = Seq(
        Seq(ev(1, 10000L, 7, "click", 1.0)),         // key 7 appears
        Seq(ev(2, 200000L, 8, "click", 2.0)),        // watermark -> 10 s
        Seq(ev(3, 300000L, 8, "click", 3.0)),        // watermark -> 200 s:
                                                     // key 7 expired (10+30)
        Seq(ev(4, 400000L, 7, "click", 4.0)))        // key 7 re-arrives
      for (batch <- feed) {
        inTtl.addData(batch: _*); qTtl.processAllAvailable()
        inPlain.addData(batch: _*); qPlain.processAllAvailable()
      }
      assert(lastCountFor("ttl_expiry_sink", 7L) === 1L,
        "expired key must restart fresh — eviction is forget, not pause")
      assert(lastCountFor("ttl_expiry_plain_sink", 7L) === 2L,
        "the no-TTL twin must keep the key's full history")
    } finally { qTtl.stop(); qPlain.stop() }
  }

  test("an in-allowance OUT-OF-ORDER batch never pulls the eviction " +
    "deadline backwards (deadline = activity high-water + TTL)") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    val input = MemoryStream[EventIn](sparkSession)
    // generous allowance so the late event is in-allowance
    val query = StreamingLatestState
      .latestStateTtlTws(input.toDF(), ttl, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("ttl_ooo_sink")
      .outputMode("update").start()
    try {
      val feed = Seq(
        Seq(ev(1, 1000000L, 7, "click", 1.0)),  // K active at t=1000s
        Seq(ev(2, 500000L, 7, "click", 2.0)),   // LATE K event, t=500s:
                                                // must NOT move K's
                                                // deadline back to 530s
        Seq(ev(3, 1010000L, 8, "click", 3.0)),  // wm -> 1000s-10m=400s
        Seq(ev(4, 1620000L, 8, "click", 4.0)),  // wm -> 1010s-10m=410s
        Seq(ev(5, 1625000L, 7, "click", 6.0)))  // wm -> 1620s-10m=1020s:
                                                // past the BUGGY 530s
                                                // deadline, before the
                                                // true 1030s one — K
                                                // must still be live
      for (batch <- feed) {
        input.addData(batch: _*); query.processAllAvailable()
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type").orderBy(col("n_events").desc)
      val n = spark.table("ttl_ooo_sink")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1 && col("user_id") === 7)
        .select("n_events").collect().head.getLong(0)
      // buggy behavior (deadline from the late batch alone = 530 s):
      // K evicted when the watermark reached 1020 s and event 6
      // restarts at n=1; correct behavior keeps all 3 events
      assert(n === 3L,
        s"key evicted inside its TTL horizon after an out-of-order " +
          s"batch (final n_events = $n, expected 3)")
    } finally query.stop()
  }

  test("incremental agg + quantile sketch share the contract: expired " +
    "group/series rebuilds from post-expiry rows alone") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession
    import StreamingIncrementalAgg.MeasureTsIn
    import StreamingQuantile.ObsTsIn

    def t(ms: Long) = new Timestamp(ms)

    val aggIn = MemoryStream[MeasureTsIn](sparkSession)
    val qAgg = StreamingIncrementalAgg.maintainTtlTws(aggIn.toDF(), ttl)
      .writeStream.format("memory").queryName("ttl_agg_sink")
      .outputMode("update").start()
    val skIn = MemoryStream[ObsTsIn](sparkSession)
    val qSk = StreamingQuantile.maintainTtlTws(skIn.toDF(), Seq(50), ttl)
      .writeStream.format("memory").queryName("ttl_sk_sink")
      .outputMode("update").start()
    try {
      // group A gets 2 rows, goes quiet; watermark sails past A+TTL on
      // other-group traffic; A re-arrives with 1 row -> n must be 1,
      // not 3
      val aggBatches = Seq(
        Seq(MeasureTsIn("A", "F", 100L, t(10000L)),
          MeasureTsIn("A", "F", 300L, t(11000L))),
        Seq(MeasureTsIn("B", "O", 100L, t(200000L))),
        Seq(MeasureTsIn("B", "O", 100L, t(300000L))),
        Seq(MeasureTsIn("A", "F", 500L, t(400000L))))
      aggBatches.foreach { b =>
        aggIn.addData(b: _*); qAgg.processAllAvailable()
      }
      val aggNs = spark.table("ttl_agg_sink")
        .filter(col("flag") === "A")
        .collect().map(_.getLong(2)).toSet
      assert(aggNs === Set(2L, 1L),
        s"expected the pre-expiry n=2 view then a fresh n=1 restart " +
          s"(n=3 would mean the evicted state leaked back); got $aggNs")

      val skBatches = Seq(
        Seq(ObsTsIn("A", 100L, t(10000L)), ObsTsIn("A", 200L, t(11000L))),
        Seq(ObsTsIn("B", 100L, t(200000L))),
        Seq(ObsTsIn("B", 100L, t(300000L))),
        Seq(ObsTsIn("A", 999L, t(400000L))))
      skBatches.foreach { b =>
        skIn.addData(b: _*); qSk.processAllAvailable()
      }
      val ns = spark.table("ttl_sk_sink")
        .filter(col("event_type") === "A")
        .select("n").collect().map(_.getLong(0)).sorted
      assert(ns.contains(2L), "pre-expiry sketch reached n=2")
      assert(ns.head === 1L && ns.last === 2L,
        "re-arriving expired series must rebuild its sketch from " +
          "scratch (n=1), never carry the evicted counts (n=3)")
    } finally { qAgg.stop(); qSk.stop() }
  }

  test("curation gate shares the contract: a duplicate arriving after " +
    "the claim's TTL re-claims fresh (re-ingest, not duplicate); " +
    "inside the TTL it is flagged") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession
    import java.sql.Timestamp
    // a tiny clean doc (passes quality: >= 30 tokens, high variety)
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val bitmap = graft.queries.Pipeline
      .benchBloomBitmap(Seq((0L, text)).toDF("doc_id", "text"))
    val input = MemoryStream[(Long, Timestamp, String, String)](sparkSession)
    val query = StreamingCuration
      .decisionsTws(input.toDF().toDF("doc_id", "ts", "source", "text"),
        bitmap, java.time.Duration.ofSeconds(30))
      .writeStream.format("memory").queryName("cur_ttl_sink")
      .outputMode("update").start()
    try {
      def t(ms: Long) = new Timestamp(ms)
      val base = 1000000L // clear of the initial zero watermark
      input.addData((1L, t(base), "s", text))          // claims
      query.processAllAvailable()
      input.addData((2L, t(base + 1000L), "s", text))  // inside TTL: dup
      query.processAllAvailable()
      // advance the watermark far past the claim's TTL horizon
      input.addData((99L, t(base + 500000L), "s", "short"))
      query.processAllAvailable()
      input.addData((3L, t(base + 600000L), "s", text)) // expired: fresh
      query.processAllAvailable()
      val dupById = spark.table("cur_ttl_sink").collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(!dupById(1L), "first arrival claims")
      assert(dupById(2L), "in-TTL duplicate must be flagged")
      assert(!dupById(3L),
        "post-TTL arrival is a re-ingest and must claim fresh")
    } finally query.stop()
  }

  /** Runs `build` over a MemoryStream fed `batches`, one micro-batch
    * each; returns the sink's rows rendered and sorted.
    */
  private def runFeed[I: Encoder, O](sink: String, batches: Seq[Seq[I]])(
      build: Dataset[I] => Dataset[O]): Seq[String] = {
    val input = MemoryStream[I](spark)
    val q = build(input.toDS()).writeStream.format("memory")
      .queryName(sink).outputMode("update").start()
    try batches.foreach { b =>
      input.addData(b)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).collect().map(_.toString).sorted.toSeq
  }

  test("a key re-arriving in the batch whose watermark passed its " +
    "deadline restarts fresh: explicit outputs per TTL op") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession
    import StreamingIncrementalAgg.MeasureTsIn
    import StreamingQuantile.ObsTsIn
    def t(ms: Long) = new Timestamp(ms)
    // every feed: key K at 1 s, a watermark driver at 200 s, K again
    // at 300 s (an event AT the initial zero watermark would count as
    // late and drop). The third batch runs at watermark 200 s, past K's
    // 31 s deadline: K's timer fires before its new rows fold, so K
    // restarts from those rows alone
    assert(runFeed("ttl_rearm_agg", Seq(
        Seq(MeasureTsIn("N", "O", 100L, t(1000L))),
        Seq(MeasureTsIn("ZZ", "O", 1L, t(200000L))),
        Seq(MeasureTsIn("N", "O", 700L, t(300000L))))) { ds =>
      StreamingIncrementalAgg.maintainTtlTws(ds.toDF(), ttl)
    } === Seq("[N,O,1,1.0,1.0]", "[N,O,1,7.0,7.0]", "[ZZ,O,1,0.01,0.01]"))
    assert(runFeed("ttl_rearm_latest", Seq(
        Seq(ev(1, 1000L, 7, "click", 1.0)),
        Seq(ev(2, 200000L, 99, "wm", 0.0)),
        Seq(ev(3, 300000L, 7, "click", 2.0)))) { ds =>
      StreamingLatestState.latestStateTtlTws(ds.toDF(), ttl)
    } === Seq("[7,click,1,1,1.0,1]", "[7,click,300,3,2.0,1]",
      "[99,wm,200,2,0.0,1]"))
    assert(runFeed("ttl_rearm_quantile", Seq(
        Seq(ObsTsIn("click", 100L, t(1000L))),
        Seq(ObsTsIn("wm", 1L, t(200000L))),
        Seq(ObsTsIn("click", 900L, t(300000L))))) { ds =>
      StreamingQuantile.maintainTtlTws(ds.toDF(), Seq(50, 95), ttl)
    } === Seq("[click,50,1,10,512,1023,5.12E-4]",
      "[click,50,1,7,64,127,6.4E-5]", "[click,95,1,10,512,1023,5.12E-4]",
      "[click,95,1,7,64,127,6.4E-5]", "[wm,50,1,1,1,1,1.0E-6]",
      "[wm,95,1,1,1,1,1.0E-6]"))
    val text = "w1 w2 w3 w4 w5 w6 w7 w8"
    val hits = runFeed("ttl_rearm_neardup", Seq(
        Seq((1L, t(1000L), text)),
        Seq((9L, t(200000L), "q1 q2 q3 q4 q5 q6 q7 q8")),
        Seq((3L, t(300000L), text)))) { ds =>
      StreamingNearDup.bandHitsTtlTws(ds.toDF("doc_id", "ts", "text"), ttl)
    }
    assert(hits === (0 until 16).flatMap(b => Seq(s"[1,$b,1,true]",
      s"[3,$b,3,true]", s"[9,$b,9,true]")).sorted)
  }

  private val detConf = graft.kernel.AnomalyzerConf(delay = true,
    sensitivity = 0.1, upperBound = 100, lowerBound = Some(0),
    activeSize = 1, nSeasons = 4,
    methods = Seq("magnitude", "fence", "cdf", "highrank"), permCount = 50)

  private def pt(series: String, tMs: Long, v: Double) =
    SeriesPoint(series, new Timestamp(tMs), v)

  /** scoreTws(idleTtl) over a watermarked MemoryStream. */
  private def startDetector(input: MemoryStream[SeriesPoint], sink: String,
      idle: java.time.Duration) = {
    val sparkSession = spark
    import sparkSession.implicits._
    StreamingDetector.scoreTws(input.toDS().withWatermark("ts", "0 seconds"),
        detConf, Some(idle))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
  }

  private implicit val signaler: Signaler = ThreadSignaler

  /** processAllAvailable, bounded: a query whose TTL runs on processing
    * time keeps scheduling batches and never drains.
    */
  private def drain(q: StreamingQuery): Unit =
    failAfter(2.minutes)(q.processAllAvailable())

  // event time spans hours while the test runs for seconds: only an
  // event-time TTL can evict here
  private val detTtl = java.time.Duration.ofMinutes(10)
  private val hourMs = 3600000L

  test("scoreTws(idleTtl) expires on event time: series churn keeps " +
    "state rows at the live set") {
    val sparkSession = spark
    import sparkSession.implicits._
    val input = MemoryStream[SeriesPoint](sparkSession)
    val query = startDetector(input, "det_ttl_churn", detTtl)
    try {
      // 3 generations of 20 one-shot series, an hour of event time
      // apart; the second batch per generation advances the watermark
      // past the previous generation's high-water + TTL
      val rowsAfter = (0 until 3).map { gen =>
        val base = (gen + 1) * hourMs
        input.addData((0 until 20).map(k =>
          pt(s"g$gen-$k", base, k.toDouble)): _*)
        drain(query)
        input.addData(pt("wm", base + 1000L, 0.0))
        drain(query)
        query.lastProgress.stateOperators.head.numRowsTotal
      }
      assert(spark.table("det_ttl_churn").count() === 63L)
      // live set each time: one generation's 20 series + "wm"; without
      // eviction the store would hold 41 then 61 series
      assert(rowsAfter.head > 0 && rowsAfter.distinct.size === 1,
        s"state rows per generation $rowsAfter: dead series not evicted")
    } finally query.stop()
  }

  test("scoreTws(idleTtl): an expired series re-arrives cold, its " +
    "first scores Delay-gated exactly like a new series") {
    val sparkSession = spark
    import sparkSession.implicits._
    val input = MemoryStream[SeriesPoint](sparkSession)
    val query = startDetector(input, "det_ttl_cold", detTtl)
    val warmVals = Seq(1.0, 1.2, 0.9, 1.1, 1.0, 1.05)
    val backVals = Seq(80.0, 85.0, 1.0, 90.0, 88.0, 2.0)
    val backAt = 2 * hourMs
    try {
      input.addData(warmVals.zipWithIndex.map { case (v, i) =>
        pt("s", (i + 1) * 1000L, v) }: _*)
      drain(query)
      // watermark driver: the next batch runs at watermark 1 h, far
      // past s's high-water (6 s) + TTL, so s's timer fires there
      input.addData(pt("wm", hourMs, 0.0))
      drain(query)
      input.addData(pt("wm", hourMs + 1000L, 0.0))
      drain(query)
      input.addData(backVals.zipWithIndex.map { case (v, i) =>
        pt("s", backAt + i * 1000L, v) }: _*)
      drain(query)
    } finally query.stop()
    val got = spark.table("det_ttl_cold").as[AnomalyScore].collect()
      .filter(a => a.series == "s" && a.ts.getTime >= backAt)
      .sortBy(_.ts.getTime).map(_.prob).toSeq
    val fresh = new graft.kernel.Anomalyzer(detConf,
      StreamingDetector.seriesHash("s"))
    val cold = backVals.map(fresh.push)
    val continued = new graft.kernel.Anomalyzer(detConf,
      StreamingDetector.seriesHash("s"))
    warmVals.foreach(continued.push)
    val warm = backVals.map(continued.push)
    assert(cold.take(detConf.windowSize - 1).forall(_ == 0.0),
      "Delay gates a new series until its window fills")
    assert(warm !== cold, "the feed must tell cold from warm")
    assert(got === cold, "an expired series must restart cold")
  }

  test("scoreTws(idleTtl) without an upstream watermark fails loudly") {
    val sparkSession = spark
    import sparkSession.implicits._
    val input = MemoryStream[SeriesPoint](sparkSession)
    val e = intercept[IllegalArgumentException](
      StreamingDetector.scoreTws(input.toDS(), detConf, Some(detTtl)))
    assert(e.getMessage.contains("watermark"))
  }
}
