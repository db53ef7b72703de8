package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.EventOps

/** Structured Streaming forms of the event analytics (SURVEY.md §7 step
  * 6): the batch operators' transforms re-run incrementally over an
  * unbounded source — `readStream` → transform → `writeStream` — with
  * each micro-batch appended to the CURRENT epoch of a lifecycle key's
  * table family.
  *
  * Scale notes:
  *  - Watermarks bound state: a window/session older than the watermark
  *    is finalized and evicted, so state size tracks the out-of-orderness
  *    budget, not stream length.
  *  - The window partials ARE the batch transform
  *    (EventOps.windowedAggPartial) — Catalyst plans it as
  *    StateStoreSave/Restore around the same hash aggregate; nothing is
  *    reimplemented.
  *  - Sessionization uses the native `session_window` (gap-merging is
  *    in the state store, not user code).
  */
object EventStream {

  /** Stream-stream inner join: match each user's click to their
    * purchases within the next `joinWindow` (event time). Both sides
    * carry watermarks, and the join condition bounds purchase time
    * relative to click time — the two constraints together let the
    * state store evict rows once they can no longer match, so state
    * size tracks the time bound, not stream length.
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
                      joinWindow: String = "30 minutes",
                      watermark: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $joinWindow"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_ts"), col("purchase_value"))
  }

  /** Streaming session MAINTENANCE for
    * [[graft.operators.EventOps.sessionLifecycle]]: the watermarked
    * `session_window` aggregation in Append mode — the engine's
    * session-MERGE state (adjacent windows coalesce as members arrive,
    * a different state discipline from keyed aggregates, joins, or
    * custom state) — with each micro-batch's watermark-finalized
    * sessions appended to the CURRENT epoch. `last_ts` is the
    * session's final event time (`session_window.end` minus the gap —
    * the engine extends the window one gap past the last member),
    * aligning the streamed rows with the batch islands build.
    */
  def appendSessionStream(events: DataFrame, base: String,
      gap: String = "30 minutes", watermark: String = "90 days")
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("value_dec"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        (col("session_window.end") - expr(s"INTERVAL $gap")).as("last_ts"),
        col("n_events"), col("value_dec"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val name = graft.operators.Layout
          .currentEpochTable(batch.sparkSession, base)
          .getOrElse(sys.error(s"no published epoch for session family $base"))
        batch.write.mode("append").format("parquet").saveAsTable(name)
        ()
      }
      .start()

  /** Streaming attribution-join MAINTENANCE for
    * [[graft.operators.EventOps.joinLifecycle]]: the REAL stream-stream
    * inner join ([[clickToPurchase]] — both sides watermarked, join
    * condition time-bounded) with each micro-batch's emitted matches
    * appended to the CURRENT epoch of the attribution table. Inner
    * join matches emit in the micro-batch where the later side
    * arrives — no watermark-driven finalization, so no sentinel is
    * needed; the watermark's only job here is state eviction, and the
    * lifecycle passes a delay wider than the replay's full disorder so
    * nothing is dropped pre-join.
    */
  def appendClickPurchaseStream(clicks: DataFrame, purchases: DataFrame,
      base: String, joinWindow: String, watermark: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    clickToPurchase(clicks, purchases, joinWindow, watermark)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val name = graft.operators.Layout
          .currentEpochTable(batch.sparkSession, base)
          .getOrElse(sys.error(s"no published epoch for join family $base"))
        batch.write.mode("append").format("parquet").saveAsTable(name)
        ()
      }
      .start()

  /** Streaming window-partials MAINTENANCE for
    * [[graft.operators.EventOps.eventsLifecycle]]: the watermarked form
    * of [[graft.operators.EventOps.windowedAggPartial]] in Append mode,
    * so each micro-batch emits exactly the windows the advancing
    * watermark finalized; finalized rows append to the CURRENT epoch of
    * the window-partials table (epoch resolution per batch, like every
    * index maintainer — a rotation redirects the stream at the next
    * batch boundary). The watermark delay must cover the source's
    * out-of-orderness: a row older than the watermark would be dropped
    * after its window finalized, which is the one way streamed state
    * can diverge from batch.
    */
  def appendWindowPartialsStream(events: DataFrame, base: String,
      watermark: String = "90 days"): org.apache.spark.sql.streaming.StreamingQuery =
    EventOps.windowedAggPartial(events.withWatermark("ts", watermark))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val name = graft.operators.Layout
          .currentEpochTable(batch.sparkSession, base)
          .getOrElse(sys.error(s"no published epoch for window family $base"))
        batch.write.mode("append").format("parquet").saveAsTable(name)
        ()
      }
      .start()
}
