package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.streaming.StreamingLatestState.EventIn

class StreamingLatestStateSpec extends AnyFunSuite with SparkTestBase {

  private def ev(id: Long, tMs: Long, user: Long, etype: String,
      value: Double) = EventIn(id, new Timestamp(tMs), user, etype, value)

  /** Final state per key = the row with the max event count (n_events
    * grows monotonically, so the last update per key carries it).
    */
  private def finalState(sinkTable: String) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("n_events").desc)
    spark.table(sinkTable)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
  }

  test("late but older events bump the count without stealing the state") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    val input = MemoryStream[EventIn](sparkSession)
    val query = StreamingLatestState.latestStateTws(input.toDF())
      .writeStream.format("memory").queryName("ls_sink")
      .outputMode("update").start()
    try {
      input.addData(
        ev(1, 10000, 7, "click", 1.0),
        ev(2, 30000, 7, "click", 2.0))
      query.processAllAvailable()
      // batch 2: event 3 is OLDER than the current state (ts 20s < 30s)
      // — it must raise n_events to 3 but leave the payload at event 2;
      // event 4 ties on ts with event 2 and wins on event_id
      input.addData(
        ev(3, 20000, 7, "click", 99.0),
        ev(4, 30000, 7, "click", 4.0))
      query.processAllAvailable()

      val row = finalState("ls_sink")
        .filter(col("user_id") === 7 && col("event_type") === "click")
        .select("last_event_id", "last_value", "n_events")
        .collect().head
      assert((row.getLong(0), row.getDouble(1), row.getLong(2)) ===
        ((4L, 4.0, 4L)))
    } finally query.stop()
  }

  test("streaming state == batch q34 compaction on the same log") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val s = sparkSession

    val events = Seq(
      ev(1, 10000, 1, "click", 1.5),
      ev(2, 20000, 1, "click", 2.5),
      ev(3, 15000, 1, "view", 3.5),
      ev(4, 40000, 2, "click", 4.5),
      ev(5, 40000, 2, "click", 5.5), // ts tie -> event_id breaks it
      ev(6, 5000, 2, "view", 6.5),
      ev(7, 90000, 1, "click", 7.5))

    val input = MemoryStream[EventIn](sparkSession)
    val query = StreamingLatestState.latestStateTws(input.toDF())
      .writeStream.format("memory").queryName("ls_parity_sink")
      .outputMode("update").start()
    try {
      // deliberately out of order and split across micro-batches
      input.addData(events(3), events(6), events(0))
      query.processAllAvailable()
      input.addData(events(1), events(4), events(2), events(5))
      query.processAllAvailable()

      val streaming = finalState("ls_parity_sink")
        .select("user_id", "event_type", "last_ts", "last_event_id",
          "last_value", "n_events")
        .collect().map(_.toSeq).toSet

      val batch = graft.queries.Relational.latestState(events.toDF())
        .collect().map(_.toSeq).toSet
      assert(streaming === batch)
    } finally query.stop()
  }
}
