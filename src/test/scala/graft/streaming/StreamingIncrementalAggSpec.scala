package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.streaming.StreamingIncrementalAgg.MeasureIn

class StreamingIncrementalAggSpec extends AnyFunSuite with SparkTestBase {

  /** Final view per group = the row with the max n_rows (monotone, so
    * the last refresh per group carries it).
    */
  private def finalView(sinkTable: String) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("flag", "status").orderBy(col("n_rows").desc)
    spark.table(sinkTable)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
  }

  test("streaming view == batch aggregate of the same rows, across an " +
    "arbitrary micro-batch split; averages re-derive exactly") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    // real corpus rows: lineitem at sf0.001 in q46's measure encoding
    val rows = graft.sources.Tables
      .table(spark, sfDir, "lineitem")
      .selectExpr("l_returnflag as flag", "l_linestatus as status",
        "cast(round(l_quantity * 100) as bigint) as qty2")
      .as[MeasureIn].collect().toSeq
    assert(rows.length > 1000)
    val (b1, b2) = rows.splitAt(rows.length / 3)

    val input = MemoryStream[MeasureIn](sparkSession)
    val query = StreamingIncrementalAgg.maintainTws(input.toDF())
      .writeStream.format("memory").queryName("ia_sink")
      .outputMode("update").start()
    try {
      input.addData(b1)
      query.processAllAvailable()
      input.addData(b2)
      query.processAllAvailable()

      val streaming = finalView("ia_sink")
        .select("flag", "status", "n_rows", "sum_qty", "avg_qty")
        .collect().map(_.toSeq).toSet

      // the batch truth: one full aggregate with q46's exact-integer
      // derivation of sum and avg
      val batch = rows.toDF()
        .groupBy("flag", "status")
        .agg(count(lit(1)).as("n_rows"), sum("qty2").as("q2"))
        .select(col("flag"), col("status"), col("n_rows"),
          (col("q2") / 100.0).as("sum_qty"),
          (expr("(q2 * 10000 + n_rows div 2) div n_rows") / 1e6)
            .as("avg_qty"))
        .collect().map(_.toSeq).toSet
      assert(streaming === batch)
    } finally query.stop()
  }

  test("a group re-emits with merged state each batch it is touched " +
    "in; untouched groups stay silent") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    val input = MemoryStream[MeasureIn](sparkSession)
    val query = StreamingIncrementalAgg.maintainTws(input.toDF())
      .writeStream.format("memory").queryName("ia_touch_sink")
      .outputMode("update").start()
    try {
      input.addData(MeasureIn("A", "X", 100L), MeasureIn("A", "X", 300L),
        MeasureIn("B", "Y", 500L))
      query.processAllAvailable()
      input.addData(MeasureIn("A", "X", 600L))
      query.processAllAvailable()

      val emitted = spark.table("ia_touch_sink")
        .select("flag", "n_rows", "sum_qty", "avg_qty")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3)))
      // batch 1: (A,X) n=2 sum=4.00 avg=2.0; (B,Y) n=1 sum=5.00 avg=5.0
      // batch 2: only (A,X) refreshes -> n=3 sum=10.00 avg ~ 3.333333
      assert(emitted.toSet === Set(
        ("A", 2L, 4.0, 2.0), ("B", 1L, 5.0, 5.0),
        ("A", 3L, 10.0, 3.333333)))
      assert(emitted.count(_._1 == "B") === 1, "B must not re-emit")
    } finally query.stop()
  }
}
