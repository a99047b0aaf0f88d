package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.kernel.AnomalyzerConf
import graft.operators.AnomalyOps

/** Replayed-corpus streaming: the events parquet read as a file-source
  * stream, scored by the same detector, must equal the batch path —
  * the streaming/batch unification contract on a real source (not just
  * MemoryStream).
  */
class FileSourceSpec extends AnyFunSuite with SparkTestBase {

  test("file-source stream scores == batch scores on the events corpus") {
    val sparkSession = spark
    import sparkSession.implicits._

    val conf = AnomalyzerConf(
      sensitivity = 0.1, upperBound = 500, lowerBound = Some(0),
      activeSize = 2, nSeasons = 4,
      methods = Seq("magnitude", "fence", "cdf", "highrank"), permCount = 30)

    // one series to keep the stream deterministic: within a series the
    // arrival order is (ts, value) — the detector's within-batch sort
    val batchEvents = graft.sources.Tables.events(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("event_type").as("series"), col("ts"),
        col("value").cast("double").as("value"))

    val schema = batchEvents.schema
    val staged = java.nio.file.Files.createTempDirectory("graft-stream")
    batchEvents.coalesce(1).write.mode("overwrite")
      .parquet(staged.toString)

    val stream = spark.readStream.schema(schema).parquet(staged.toString)
      .as[SeriesPoint]
    val query = StreamingDetector.scoreTws(stream, conf)
      .writeStream.format("memory").queryName("file_sink")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      // compare as sorted sequences INCLUDING prob — robust to rows
      // tied on (ts, value), whose probs are a multiset either way
      val streamed = spark.table("file_sink").as[AnomalyScore].collect()
        .map(a => (a.ts.toInstant.getEpochSecond, a.ts.toInstant.getNano,
          a.value, a.prob)).sorted.toSeq

      val batch = AnomalyOps.withAnomalyProbs(
          batchEvents.withColumnRenamed("series", "event_type"),
          col("event_type"), col("ts"), col("value"), conf,
          tieBreak = Seq(col("value")))
        .select("ts", "value", "anomaly_prob")
        .collect()
        .map { r =>
          val ts = r.getTimestamp(0)
          (ts.toInstant.getEpochSecond, ts.toInstant.getNano,
            r.getDouble(1), r.getDouble(2))
        }.sorted.toSeq

      assert(streamed.size === batch.size)
      // batch path seeds by xxhash64("event_type" column value) ==
      // streaming's seriesHash("click"): identical probabilities
      assert(streamed === batch)
    } finally {
      query.stop()
      staged.toFile.listFiles().foreach(_.delete())
    }
  }
}
