package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class StreamingSketchSpec extends AnyFunSuite with SparkTestBase {

  /** The corpus's token stream (same normalization as the p-series). */
  private def corpusTokens = spark.read
    .parquet(s"$sfDir/documents.parquet")
    .select(explode(split(
      lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("t"))

  /** Latest row per (r, b) from the update-mode sink — counters grow
    * monotonically, so max(cnt) is the final state.
    */
  private def finalSketch(sinkTable: String) =
    spark.table(sinkTable).groupBy("r", "b").agg(max("cnt").as("cnt"))

  test("streaming CMS across micro-batch splits == batch sketch; " +
    "state bounded at depth x width; estimates one-sided") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    val toks = corpusTokens.as[String].collect()
    assert(toks.length > 1000)
    val (first, second) = toks.splitAt(toks.length / 3)

    val input = MemoryStream[String](sparkSession)
    val query = StreamingSketch.cmsBucketsTws(input.toDF().toDF("t"))
      .writeStream.format("memory").queryName("cms_sink")
      .outputMode("update").start()
    try {
      input.addData(first.toSeq)
      query.processAllAvailable()
      input.addData(second.toSeq)
      query.processAllAvailable()
    } finally query.stop()

    val streamed = finalSketch("cms_sink")
    // bounded state: never more buckets than the grid
    assert(streamed.count() <= StreamingSketch.Depth.toLong *
      StreamingSketch.Width)

    // batch build of the same stream, p47's shape: token counts, then
    // probe explosion, then per-bucket sums
    val batch = StreamingSketch.probed(corpusTokens)
      .groupBy("r", "b").agg(count(lit(1)).as("cnt"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
    assert(rows(streamed.select(col("r"), col("b"), col("cnt"))) ===
      rows(batch.select(col("r"), col("b"), col("cnt"))),
      "streaming counters must converge to the batch sketch")

    // one-sided error on every true token count
    val truth = corpusTokens.groupBy("t").agg(count(lit(1)).as("true_cnt"))
    val est = StreamingSketch.estimate(truth.select("t"), streamed)
    val bad = est.join(truth, "t")
      .filter(col("est_cnt") < col("true_cnt")).count()
    assert(bad === 0, "CMS must never undercount")
    // and the estimate of an unseen token is bounded by sketch mass,
    // not by vocabulary membership (it may be > 0 — that's the point)
    val unseen = StreamingSketch.estimate(
      Seq("zzz_never_in_corpus").toDF("t"), streamed).collect().head
    assert(unseen.getLong(1) >= 0L)
  }
}
