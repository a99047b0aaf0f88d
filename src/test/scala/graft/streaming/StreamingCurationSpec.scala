package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class StreamingCurationSpec extends AnyFunSuite with SparkTestBase {

  test("online curation gate == batch p90 on dup/quality/benchmark " +
    "flags under id-ordered ingest; contamination inherits p34's bloom " +
    "decisions exactly (one-sided vs the exact set); keep == no flag") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    // id-ordered ingest with synthetic ascending event times
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
      .zipWithIndex.map { case ((id, src, text), i) =>
        (id, new Timestamp(1700000000000L + i * 1000L), src, text)
      }
    val bitmap = graft.queries.Pipeline
      .benchBloomBitmap(spark.read.parquet(s"$sfDir/documents.parquet"))
      .persist()

    val input = MemoryStream[(Long, Timestamp, String, String)](sparkSession)
    val query = StreamingCuration
      .decisionsTws(input.toDF().toDF("doc_id", "ts", "source", "text"),
        bitmap, java.time.Duration.ofDays(365))
      .writeStream.format("memory").queryName("cur_sink")
      .outputMode("update").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      input.addData(a.toSeq); query.processAllAvailable()
      input.addData(b.toSeq); query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("cur_sink").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5),
        r.getBoolean(6)))).toMap
    assert(got.size === rows.length, "one decision per arriving doc")

    val p90 = graft.queries.Catalog
      .queries("p90_curation_decision")(s, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    // p34's per-doc bloom decisions (train docs with >= 1 bloom hit)
    val bloomDocs = graft.queries.Catalog
      .queries("p34_contam_bloom")(s, sfDir).collect()
      .filter(_.getLong(2) >= 1L).map(_.getLong(0)).toSet

    p90.foreach { case (id, (src, fd, fq, fc, fb)) =>
      val (gSrc, gFd, gFq, gFc, gFb, gKeep) = got(id)
      assert(gSrc === src)
      // id-ordered ingest: first arrival == min doc_id claim
      assert(gFd === fd, s"doc $id: dup flag diverged from p02/p90")
      assert(gFq === fq, s"doc $id: quality flag diverged from p30/p90")
      assert(gFb === fb, s"doc $id: benchmark flag diverged")
      // bloom is one-sided: every exactly-contaminated doc is flagged,
      // and the stream inherits the p34 batch gate bit-for-bit
      if (fc) assert(gFc, s"doc $id: exact contamination missed")
      assert(gFc === (!fb && bloomDocs(id)),
        s"doc $id: stream bloom decision diverged from p34")
      assert(gKeep === (!gFd && !gFq && !gFc && !gFb))
    }
    // the gate is strictly one-sided, never lossy: stream keeps are a
    // SUBSET of p90 keeps (false positives only ever drop extra docs)
    val streamKeeps = got.collect { case (id, d) if d._6 => id }.toSet
    val batchKeeps = p90.collect {
      case (id, (_, fd, fq, fc, fb)) if !fd && !fq && !fc && !fb => id
    }.toSet
    assert(streamKeeps.subsetOf(batchKeeps))
  }
}
