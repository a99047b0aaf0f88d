package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.{HllSketch => Hll}

class StreamingDistinctHllSpec extends AnyFunSuite with SparkTestBase {

  /** The corpus's (source, token) stream — same normalization as the
    * p-series.
    */
  private def corpusTokens = spark.read
    .parquet(s"$sfDir/documents.parquet")
    .select(col("source"), explode(split(
      lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("t"))

  /** Latest row per (source, bucket) from the update-mode sink —
    * registers grow monotonically, so max(m) is the final state.
    */
  private def finalRegisters(sinkTable: String) =
    spark.table(sinkTable).groupBy("source", "bucket").agg(max("m").as("m"))

  private def regRows(df: org.apache.spark.sql.DataFrame) =
    df.select("source", "bucket", "m").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))

  test("streaming HLL across micro-batch splits == batch registers; " +
    "replay-idempotent; state bounded; estimate == p82 catalog output") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    val toks = corpusTokens.as[(String, String)].collect()
    assert(toks.length > 1000)
    val (first, second) = toks.splitAt(toks.length / 3)

    val input = MemoryStream[(String, String)](sparkSession)
    val query = StreamingDistinctHll
      .registersTws(input.toDF().toDF("source", "t"))
      .writeStream.format("memory").queryName("hll_sink")
      .outputMode("update").start()
    try {
      input.addData(first.toSeq)
      query.processAllAvailable()
      input.addData(second.toSeq)
      query.processAllAvailable()
      val afterAll = regRows(finalRegisters("hll_sink"))

      // at-least-once tolerance: replaying a prefix of the stream must
      // not move a single register (max is idempotent — the property
      // that makes an HLL safe under redelivery where a counter is not)
      input.addData(first.toSeq)
      query.processAllAvailable()
      assert(regRows(finalRegisters("hll_sink")) === afterAll,
        "register state must be unchanged under replay")
    } finally query.stop()

    val streamed = finalRegisters("hll_sink")
    val nSources = corpusTokens.select("source").distinct().count()
    assert(streamed.count() <= nSources * Hll.M,
      "state must be bounded at sources x 64 registers")

    // batch build of the same corpus through the same probe path
    val batch = StreamingDistinctHll.rhos(corpusTokens)
      .groupBy("source", "bucket").agg(max("rho").as("m"))
    assert(regRows(streamed) === regRows(batch),
      "streaming registers must converge to the batch sketch")

    // the estimate over streamed registers must equal the p82 batch
    // entry's driver-oracled hll_est per source, bit for bit
    val want = graft.queries.Catalog.queries("p82_distinct_hll")(s, sfDir)
      .select("source", "hll_est").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    val got = StreamingDistinctHll.estimate(streamed).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    assert(got === want)
  }
}
