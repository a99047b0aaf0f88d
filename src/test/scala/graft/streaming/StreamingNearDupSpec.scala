package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.queries.Catalog

class StreamingNearDupSpec extends AnyFunSuite with SparkTestBase {

  test("streaming band claims == batch first-claim twin under " +
    "id-ordered ingest, across micro-batch boundaries") {
    val sparkSession = spark
    import sparkSession.implicits._

    // real corpus docs with a synthetic id-ordered arrival clock, so
    // the stream's first-ARRIVAL claimant equals the batch twin's
    // min-id claimant
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val input = MemoryStream[StreamingNearDup.DocIn](sparkSession)
    val hits = StreamingNearDup.bandHitsTws(input.toDF())(sparkSession)
    val query = hits.writeStream
      .format("memory").queryName("neardup_sink")
      .outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1.map { case (id, t) =>
        StreamingNearDup.DocIn(id, new Timestamp(id * 1000L), t) })
      query.processAllAvailable()
      input.addData(b2.map { case (id, t) =>
        StreamingNearDup.DocIn(id, new Timestamp(id * 1000L), t) })
      query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("neardup_sink").collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    val batch = Catalog.queries("p75_neardup_firstclaim")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(streamed.size === batch.size,
      s"row sets differ: stream ${streamed.size} batch ${batch.size}")
    assert(streamed === batch)
    // sanity: the corpus genuinely exercises both claim outcomes
    assert(batch.values.exists(!_._2), "expected at least one near-dup hit")
    assert(batch.values.exists(_._2))
  }

  test("TTL variant forgets idle buckets: a re-arrival after expiry " +
    "re-claims fresh; inside the horizon it still hits") {
    val sparkSession = spark
    import sparkSession.implicits._
    // two identical docs far apart in event time, one mid-stream
    // watermark pusher with unrelated content
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "one two three four five six seven eight nine"
    def doc(id: Long, sec: Long, t: String) =
      StreamingNearDup.DocIn(id, new Timestamp(sec * 1000L), t)
    val input = MemoryStream[StreamingNearDup.DocIn](sparkSession)
    val hits = StreamingNearDup.bandHitsTtlTws(input.toDF(),
      java.time.Duration.ofSeconds(60))(sparkSession)
    val query = hits.writeStream
      .format("memory").queryName("neardup_ttl_sink")
      .outputMode("append").start()
    try {
      input.addData(doc(1L, 100L, text))
      query.processAllAvailable()
      // inside the horizon: duplicate hits against doc 1
      input.addData(doc(2L, 120L, text))
      query.processAllAvailable()
      // push the watermark far past 120 + 60
      input.addData(doc(3L, 1000L, other))
      query.processAllAvailable()
      input.addData(doc(4L, 1001L, other))
      query.processAllAvailable()
      // expired: doc 5 re-claims the bucket as FIRST
      input.addData(doc(5L, 1002L, text))
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("neardup_ttl_sink").collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    val bands = rows.keys.map(_._2).toSeq.distinct
    bands.foreach { b =>
      assert(rows((1L, b)) === ((1L, true)), s"band $b: doc 1 claims")
      assert(rows((2L, b)) === ((1L, false)), s"band $b: doc 2 hits doc 1")
      assert(rows((5L, b))._2 === true,
        s"band $b: doc 5 must re-claim after the bucket expired")
    }
  }
}
