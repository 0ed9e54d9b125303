package graft

import graft.model.ChangeEvent
import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Top-level, not nested in the suite: a case class inside a spec CLASS
  * captures the outer instance, and Janino's generated encoder code can't
  * construct it — every MemoryStream addData fell back to interpreted
  * UnsafeProjection (harmless in tests, but noisy and slow). */
case class StreamEv(ts: java.sql.Timestamp, event_type: String, value: Double,
                    user_id: Long)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  // review r11: the former `type Ev` + forwarding factory was dead
  // indirection left from hoisting the case class to top level


  test("tumbling window with watermark drops late data past the bound") {
    val mem = MemoryStream[StreamEv](spark)
    val q = EventTime.tumblingCounts(mem.toDF(), lateness = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("tumb").start()
    mem.addData(
      StreamEv(ts("2024-01-01 10:05:00"), "click", 1.0, 1),
      StreamEv(ts("2024-01-01 10:55:00"), "click", 2.0, 1))
    q.processAllAvailable()
    // advance watermark far past the 10:00 window...
    mem.addData(StreamEv(ts("2024-01-01 13:00:00"), "click", 4.0, 1))
    q.processAllAvailable()
    // ...then send an event for the closed 10:00 window: must be dropped
    mem.addData(StreamEv(ts("2024-01-01 10:30:00"), "click", 8.0, 1))
    mem.addData(StreamEv(ts("2024-01-01 13:10:00"), "flush", 0.0, 1))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("tumb")
      .filter(col("win_start") === ts("2024-01-01 10:00:00")).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("n") === 2)       // late event NOT counted
    assert(rows.head.getAs[Double]("total") === 3.0)
  }

  test("session window groups events by gap") {
    val mem = MemoryStream[StreamEv](spark)
    val q = EventTime.sessionCounts(mem.toDF(), gap = "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    mem.addData(
      StreamEv(ts("2024-01-01 10:00:00"), "a", 1.0, 7),
      StreamEv(ts("2024-01-01 10:10:00"), "a", 1.0, 7),  // same session
      StreamEv(ts("2024-01-01 12:00:00"), "a", 1.0, 7))  // new session
    q.processAllAvailable()
    mem.addData(StreamEv(ts("2024-01-02 00:00:00"), "a", 1.0, 8)) // advance watermark
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("sess").filter(col("user_id") === 7)
      .orderBy("win_start").collect()
    assert(sessions.map(_.getAs[Long]("n")).toSeq === Seq(2L, 1L))
  }

  test("stream-stream join attributes purchases to signups within the horizon") {
    val purchases = MemoryStream[StreamEv](spark)
    val signups = MemoryStream[StreamEv](spark)
    // Ev lacks event_id; reuse user_id-bearing frame with an id column
    val p = purchases.toDF().withColumn("event_id", (col("value") * 100).cast("long"))
    val s = signups.toDF().withColumn("event_id", (col("value") * 100).cast("long"))
    val q = EventTime.purchaseAttribution(p, s, horizon = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("attr").start()
    signups.addData(StreamEv(ts("2024-01-01 10:00:00"), "signup", 1.0, 7))
    purchases.addData(
      StreamEv(ts("2024-01-01 10:30:00"), "purchase", 2.0, 7),  // within horizon
      StreamEv(ts("2024-01-01 12:30:00"), "purchase", 3.0, 7),  // past horizon
      StreamEv(ts("2024-01-01 10:30:00"), "purchase", 4.0, 8))  // other user
    q.processAllAvailable(); q.stop()
    val rows = spark.table("attr").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("p_id") === 200L)
    assert(rows.head.getAs[Long]("s_id") === 100L)
  }

  test("streaming dropDuplicates with watermark dedupes across batches, bounded state") {
    // SURVEY §2.2 stateful-streaming row: exactly-once-per-key emission with
    // event-time-bounded state (late replays past the watermark age out)
    implicit val s = spark
    val mem = MemoryStream[ChangeEvent](spark)
    val out = mem.toDS().toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("table", "data")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("dd").start()
    mem.addData(
      ChangeEvent("update", "t", 1, ts("2024-01-01 00:00:00"), "k1"),
      ChangeEvent("update", "t", 2, ts("2024-01-01 00:00:01"), "k1"), // in-batch dup
      ChangeEvent("update", "t", 3, ts("2024-01-01 00:00:02"), "k2"))
    q.processAllAvailable()
    mem.addData(
      ChangeEvent("update", "t", 4, ts("2024-01-01 00:00:03"), "k1"), // cross-batch dup
      ChangeEvent("update", "t", 5, ts("2024-01-01 00:00:04"), "k3"))
    q.processAllAvailable(); q.stop()
    val seen = spark.table("dd").as[ChangeEvent].collect().map(_.data).sorted.toSeq
    assert(seen === Seq("k1", "k2", "k3"))
  }
}
