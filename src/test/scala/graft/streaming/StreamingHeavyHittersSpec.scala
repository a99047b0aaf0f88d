package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class StreamingHeavyHittersSpec extends AnyFunSuite with SparkTestBase {

  private def corpusTokens = spark.read
    .parquet(s"$sfDir/documents.parquet")
    .select(col("source"), explode(split(
      lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("t"))

  private def runStream(
      rows: Array[(String, Long, String)], m: Int,
      chunks: Int, sink: String): Map[(String, String), (Long, Long)] = {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession
    val input = MemoryStream[(String, Long, String)](sparkSession)
    val query = StreamingHeavyHitters
      .hittersTws(input.toDF().toDF("source", "seq", "t"), m)
      .writeStream.format("memory").queryName(sink)
      .outputMode("update").start()
    try {
      rows.grouped(math.max(1, rows.length / chunks)).foreach { c =>
        input.addData(c.toSeq)
        query.processAllAvailable()
      }
    } finally query.stop()
    // the final summary: the LAST emission per (source, token) is the
    // one from the latest batch that token survived into — a token
    // evicted later must not count, so keep only tokens present in the
    // final state = those whose latest est is from the last batch they
    // appeared; reconstruct by taking max est per key and then
    // filtering to the final state via the driver-side refold below.
    spark.table(sink).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).maxBy(_._1) }
  }

  test("SpaceSaving summary: deterministic under replay and micro-batch " +
    "slicing; classic guarantees hold against exact counts") {
    val sparkSession = spark
    import sparkSession.implicits._
    val m = 8
    val rows = corpusTokens.as[(String, String)].collect()
      .zipWithIndex.map { case ((src, t), i) => (src, i.toLong, t) }
    assert(rows.length > 1000)

    // sequential reference fold (the algorithm's definition)
    def refFold(xs: Seq[(String, Long, String)]) = {
      val bySrc = scala.collection.mutable.Map[String,
        scala.collection.mutable.Map[String, (Long, Long)]]()
      xs.sortBy(_._2).foreach { case (src, _, t) =>
        val cur = bySrc.getOrElseUpdate(src,
          scala.collection.mutable.Map[String, (Long, Long)]())
        cur.get(t) match {
          case Some((c, e)) => cur(t) = (c + 1, e)
          case None if cur.size < m => cur(t) = (1L, 0L)
          case None =>
            val (vt, (vc, _)) = cur.minBy { case (k, (c, _)) => (c, k) }
            cur.remove(vt); cur(t) = (vc + 1, vc)
        }
      }
      bySrc.flatMap { case (src, cur) =>
        cur.map { case (t, v) => (src, t) -> v }
      }.toMap
    }
    val ref = refFold(rows.toIndexedSeq)

    // final state from the stream: refold is the ground truth for
    // which tokens are IN the final summary; the sink's latest rows
    // must agree on their counts
    val got3 = runStream(rows, m, 3, "hh_sink3")
    val got5 = runStream(rows, m, 5, "hh_sink5")
    ref.foreach { case (k, v) =>
      assert(got3(k) === v, s"$k diverged from the sequential fold (3)")
      assert(got5(k) === v, s"$k diverged (5-batch slicing)")
    }

    // classic guarantees vs exact counts, per source
    val exact = rows.groupBy(r => (r._1, r._3))
      .map { case (k, xs) => k -> xs.length.toLong }
    val nBySrc = rows.groupBy(_._1).map { case (s, xs) =>
      s -> xs.length.toLong }
    nBySrc.foreach { case (src, n) =>
      val summary = ref.collect { case ((s, t), v) if s == src => t -> v }
      assert(summary.size <= m, s"$src state exceeded m")
      summary.foreach { case (t, (est, err)) =>
        val truth = exact((src, t))
        assert(truth <= est && est <= truth + err,
          s"$src/$t: est $est err $err outside [truth, truth+err]=$truth")
        assert(err <= n / m + 1, s"$src/$t: err $err above the n/m bound")
      }
      // no false negatives above the threshold
      exact.collect { case ((s, t), c) if s == src && c > n / m => t }
        .foreach { t =>
          assert(summary.contains(t),
            s"$src/$t above n/m=${n / m} must be retained")
        }
    }
  }
}
