package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.streaming.StreamingQuantile.ObsIn

class StreamingQuantileSpec extends AnyFunSuite with SparkTestBase {

  test("streaming sketch final view == batch a42 query over the same " +
    "rows, across an arbitrary micro-batch split") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    val rows = graft.sources.Tables.events(spark, sfDir)
      .selectExpr("event_type", "cast(round(value * 1e6) as bigint) as micro")
      .as[ObsIn].collect().toSeq
    assert(rows.length > 500)
    // three uneven slices: merge order/slicing must not matter
    val (b1, rest) = rows.splitAt(rows.length / 5)
    val (b2, b3) = rest.splitAt(rest.length / 2)

    val input = MemoryStream[ObsIn](sparkSession)
    val query = StreamingQuantile
      .maintainTws(input.toDF(), graft.queries.Anomaly.SketchQs)
      .writeStream.format("memory").queryName("sq_sink")
      .outputMode("update").start()
    try {
      input.addData(b1)
      query.processAllAvailable()
      input.addData(b2)
      query.processAllAvailable()
      input.addData(b3)
      query.processAllAvailable()

      // final view per (series, q): the refresh with the max n
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "q").orderBy(col("n").desc)
      val streaming = spark.table("sq_sink")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).drop("rk")
        .collect().map(_.toSeq).toSet

      val batch = graft.queries.Catalog
        .queries("a42_sketch_quantile")(spark, sfDir)
        .collect().map(_.toSeq).toSet
      assert(streaming === batch,
        "sketch maintenance must converge to the batch answer")
    } finally query.stop()
  }

  test("per-batch bucket function matches the batch engines' " +
    "length(bin(m)) on boundary values") {
    // powers of two sit exactly on bucket edges — the place an
    // off-by-one in either engine's binning would show
    Seq(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 3, (1L << 40) -> 41,
      0L -> 0, -5L -> 0).foreach { case (m, want) =>
      assert(StreamingQuantile.bucket(m) === want, s"bucket($m)")
    }
    val got = spark.sql(
      "SELECT m, CASE WHEN m <= 0 THEN 0 ELSE length(bin(m)) END " +
        "FROM VALUES (1L), (2L), (3L), (4L), (1099511627776L), (0L), " +
        "(-5L) AS t(m)")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (m, b) =>
      assert(b === StreamingQuantile.bucket(m), s"SQL bucket($m)")
    }
  }
}
