package graft

import java.sql.Timestamp

// Spark 4.1 moved MemoryStream under execution.streaming.runtime
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.EventStream

/** Event row the MemoryStream sources below carry. */
case class EventRow(event_id: Long, user_id: String, ts: Timestamp, value: Double)

/** Structured Streaming specs via MemoryStream → memory sink: the same
  * transforms as batch, executed incrementally over micro-batches.
  */
class EventStreamSpec extends SparkSpec {

  private def ev(id: Long, user: String, minute: Long, value: Double) =
    EventRow(id, user, new Timestamp(minute * 60000L), value)

  test("stream-stream join matches purchases within the click window") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventRow]
    val purchases = MemoryStream[EventRow]
    val out = EventStream.clickToPurchase(clicks.toDF(), purchases.toDF(),
      joinWindow = "30 minutes", watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    clicks.addData(ev(1, "u1", 10, 0), ev(2, "u2", 10, 0))
    purchases.addData(
      ev(10, "u1", 25, 9.99),   // 15 min after u1 click → match
      ev(11, "u1", 100, 5.0),   // 90 min after → outside window
      ev(12, "u3", 12, 1.0))    // no click → no match
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ss_join")
      .select("user_id", "click_id", "purchase_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows === Seq(("u1", 1L, 9.99)))
  }

  test("eventsLifecycle: batch half + streamed half merge to the one-pass windows") {
    try {
      val expected = graft.operators.EventOps.windowedAgg(
          Tables.events(spark, TestSpark.sf0001)
            .filter(org.apache.spark.sql.functions.col("event_id") % 4 === 0))
        .orderBy(org.apache.spark.sql.functions.col("window_start"))
        .collect().toSeq
      val got = graft.operators.EventOps
        .eventsLifecycle(spark, TestSpark.sf0001).collect().toSeq
      // row-identical INCLUDING the double value_sum: both sides finalize
      // from exact decimal partials, so the cast cannot diverge — and no
      // sentinel window may leak into the merged table
      assert(got === expected)
    } finally {
      graft.operators.Layout.dropEpochFamily(spark,
        graft.operators.EventOps.eventsLifecycleBase(TestSpark.sf0001))
    }
  }

  test("joinLifecycle: batch-joined evens + stream-joined odds accumulate " +
    "to the full-corpus interval join") {
    import org.apache.spark.sql.functions.col
    try {
      val got = graft.operators.EventOps
        .joinLifecycle(spark, TestSpark.sf0001).collect().toSeq
      val expected = graft.operators.EventOps.clickPurchaseBatch(
        Tables.events(spark, TestSpark.sf0001)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
        .orderBy(col("click_id"), col("purchase_ts"), col("purchase_value"))
        .collect().toSeq
      assert(got === expected)
      // the parity split routes every odd-user pair through the REAL
      // stream-stream join — prove both halves contribute (or neither
      // did, which would make the proof vacuous at this corpus)
      assert(got.nonEmpty)
      val oddCount = expected.count(_.getLong(0) % 2 != 0)
      assert(got.count(_.getLong(0) % 2 != 0) === oddCount)
    } finally {
      graft.operators.Layout.dropEpochFamily(spark,
        graft.operators.EventOps.joinLifecycleBase(TestSpark.sf0001))
    }
  }

  test("sessionLifecycle: batch-islands evens + session_window-streamed odds " +
    "accumulate to the full-corpus sessions; no sentinel leaks") {
    import org.apache.spark.sql.functions.col
    try {
      val got = graft.operators.EventOps
        .sessionLifecycle(spark, TestSpark.sf0001).collect().toSeq
      val expected = graft.operators.EventOps.sessionStatsBatch(
        Tables.events(spark, TestSpark.sf0001)
          .select(col("user_id"), col("ts"), col("value"))
          .filter(col("user_id") % 4 === 0))
        .select(col("user_id"), col("session_start"), col("last_ts"),
          col("n_events"), col("value_dec").cast("double").as("value_sum"))
        .orderBy(col("user_id"), col("session_start"))
        .collect().toSeq
      assert(got === expected)
      assert(got.exists(_.getLong(0) % 8 != 0),
        "streamed users contributed no sessions — the proof would be vacuous")
      assert(!got.exists(_.getLong(0) == -1L), "sentinel session leaked")
    } finally {
      graft.operators.Layout.dropEpochFamily(spark,
        graft.operators.EventOps.sessionLifecycleBase(TestSpark.sf0001))
    }
  }

  test("eventsLifecycle fails fast when the corpus span reaches the " +
    "watermark delay (a regenerated-testdata drop would otherwise " +
    "surface only as an opaque driver hash mismatch)") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evspan").toString
    try {
      // streamed-leg events (id % 4 = 0, % 8 != 0) 100 days apart —
      // wider than the 90-day delay
      Seq(
        (4L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        (12L, java.sql.Timestamp.valueOf("2024-04-10 00:00:00"), 2.0))
        .toDF("event_id", "ts", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val e = intercept[IllegalArgumentException] {
        graft.operators.EventOps.eventsLifecycle(spark, dir)
      }
      assert(e.getMessage.contains("watermark"))
    } finally {
      graft.operators.Layout.dropEpochFamily(spark,
        graft.operators.EventOps.eventsLifecycleBase(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
