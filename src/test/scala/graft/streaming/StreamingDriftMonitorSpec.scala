package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class StreamingDriftMonitorSpec extends AnyFunSuite with SparkTestBase {

  private def corpusTokens = spark.read
    .parquet(s"$sfDir/documents.parquet")
    .select(col("source"), explode(split(
      lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("t"))

  test("streaming TV drift vs a source-histogram reference: final " +
    "emission == the oracled p83 pair value; reference source drifts " +
    "to zero; n_seen monotone across micro-batches") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    // reference = src0's batch unigram histogram
    val ref = corpusTokens.filter(col("source") === "src0")
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ref.nonEmpty)

    val toks = corpusTokens.as[(String, String)].collect()
    val third = toks.length / 3
    val chunks = Seq(toks.slice(0, third), toks.slice(third, 2 * third),
      toks.slice(2 * third, toks.length))

    val input = MemoryStream[(String, String)](sparkSession)
    val query = StreamingDriftMonitor
      .driftTws(input.toDF().toDF("source", "t"), ref)
      .writeStream.format("memory").queryName("drift_sink")
      .outputMode("update").start()
    try {
      chunks.foreach { c =>
        input.addData(c.toSeq)
        query.processAllAvailable()
      }
    } finally query.stop()

    val emissions = spark.table("drift_sink").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // n_seen monotone: per source the emitted totals are all distinct
    // and the count of emissions matches the chunks that touched it
    emissions.groupBy(_._1).foreach { case (src, es) =>
      val ns = es.map(_._2).toSeq
      assert(ns.distinct.size === ns.size, s"$src re-emitted an n_seen")
      assert(es.length >= 2, s"$src should span multiple micro-batches")
    }
    val finals = emissions.groupBy(_._1).map { case (src, es) =>
      src -> es.maxBy(_._2)._3
    }

    // the reference source converges to zero drift against itself
    assert(finals("src0") === 0.0)

    // every other source's final drift == the oracled p83 entry's TV
    // for the pair (src0, src) — the same integers, the same one
    // division, bit for bit ("src0" sorts before every sibling)
    val p83 = graft.queries.Catalog
      .queries("p83_source_divergence")(s, sfDir)
      .filter(col("src_a") === "src0").collect()
      .map(r => r.getString(1) -> r.getDouble(5)).toMap
    assert(p83.nonEmpty)
    p83.foreach { case (src, tv) =>
      assert(finals(src) === tv, s"stream/batch TV mismatch for $src")
    }
  }
}
