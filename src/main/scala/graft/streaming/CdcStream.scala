package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.Layout

/** Streaming CDC ingestion: the change-log ("bronze") half of a
  * streamed dimension pipeline. Each micro-batch of typed change
  * records appends into the CURRENT epoch of the change-log table —
  * per-batch epoch resolve like every index maintainer in this repo,
  * so a rotation redirects the stream at the next batch boundary.
  *
  * The append is STATELESS by design: SCD2 history cannot be folded
  * into bounded per-key streaming state (any old version remains
  * addressable), so the production shape — Delta/Hudi-style CDC
  * ingestion — is exactly this: append the log, build versions from
  * the accumulated row SET. That build
  * ([[graft.operators.GovernanceOps.scd2Over]]) sorts each key's rows
  * by (ts, seq) internally, so batch boundaries and replay order are
  * unobservable downstream — the accumulated-state lifecycle shape
  * (the substring-dedup precedent, lifecycle #8).
  */
object CdcStream {

  def appendChangesStream(changes: DataFrame, base: String): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val name = Layout.currentEpochTable(batch.sparkSession, base)
          .getOrElse(sys.error(s"no published epoch for change-log family $base"))
        batch.write.mode("append").format("parquet").saveAsTable(name)
        ()
      }
      .start()

  /** One typed change record — the feed shape every CDC operator in
    * GovernanceOps consumes (key, change time, unique monotone
    * tiebreaker, tracked attribute). */
  case class ChangeRec(client_id: Long, ts: java.sql.Timestamp,
                       seq: Long, tier: String)

  /** Streaming KEEP-LATEST upsert state — the stateful "silver"
    * counterpart to [[appendChangesStream]]'s stateless log: per key,
    * `flatMapGroupsWithState` holds the current best change record
    * (max by (ts, seq)) and EMITS it whenever a micro-batch improves
    * it (Update mode). Downstream appends each emission to the current
    * epoch; the accumulated emissions contain every key's true latest
    * record (its arrival always strictly improves the state, so it
    * always emits), which is what the lifecycle's final keep-latest
    * reduce serves — a wrong state discipline here (e.g. keep-first,
    * or a dropped improvement) never emits the true latest and fails
    * the oracle hash.
    *
    * State is one record per key with NO timeout: a dimension's key
    * space is the entity population (customers), not the event stream
    * — bounded state by the domain, the same argument as the batch
    * upsert's groupBy key grain. An unbounded-key deployment would add
    * an event-time timeout per key (`GroupStateTimeout.EventTimeTimeout`)
    * so the watermark evicts idle keys.
    */
  def upsertStateStream(changes: Dataset[ChangeRec], base: String): StreamingQuery = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.client_id)
      .flatMapGroupsWithState[ChangeRec, ChangeRec](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[ChangeRec], state) =>
          val bestNew = it.maxBy(c => (c.ts.getTime, c.seq))
          val improves = state.getOption.forall { cur =>
            bestNew.ts.getTime > cur.ts.getTime ||
              (bestNew.ts.getTime == cur.ts.getTime && bestNew.seq > cur.seq)
          }
          if (improves) { state.update(bestNew); Iterator(bestNew) }
          else Iterator.empty
      }
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: Dataset[ChangeRec], _: Long) =>
        val name = Layout.currentEpochTable(batch.sparkSession, base)
          .getOrElse(sys.error(s"no published epoch for upsert family $base"))
        batch.toDF().write.mode("append").format("parquet").saveAsTable(name)
        ()
      }
      .start()
  }
}
