package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CurationOps, DedupOps}

/** Streaming curation and index maintenance: each lifecycle key's
  * stream re-runs the batch operators' expressions over an unbounded
  * document source — `readStream` → transform → `writeStream` — and
  * appends to the CURRENT epoch of its table family. Nothing is
  * reimplemented: the curated stream scrubs with the SAME
  * `CurationOps.scrubbedText` expression and scores with the SAME
  * `TextOps.classifierMarginCents` the batch stages use, and the index
  * maintainers append through the bulk builds' own encode expressions.
  *
  * Scale notes: the curated stream's dedup state is one entry per
  * distinct content key WITHIN the watermark horizon — eviction keeps
  * state proportional to the out-of-orderness budget, not stream length
  * (the only dedup an unbounded stream can promise with finite state;
  * the batch incremental form for unbounded lookback is the persisted
  * survivor index, DedupOps.incrementalDedup). The scrub and the
  * quality margin are stateless row-local work that pipelines in each
  * micro-batch.
  */
object DocStream {

  /** Streaming exact dedup, scrub and quality gate, keyed on the FULL
    * content hash — the survivor-invariant form the driver-gated
    * lifecycle key needs. `docs` must carry (doc_id, text, ts) where
    * `ts` is the arrival event time the watermark advances on.
    * Under arbitrary replay disorder, dropDuplicatesWithinWatermark
    * keeps an arbitrary first-seen row per key, so a deterministic
    * oracle hash requires every same-key row to be downstream-
    * IDENTICAL. The batch exactKey (40-char-prefix md5) is the cheap
    * production key, but two texts sharing a 40-char prefix and
    * differing later (232 such collisions at sf0.1) would leave
    * replay-order-dependent scrubbed/quality values behind; keying on
    * md5 of the whole text makes all survivor choices equivalent. The
    * scrub and quality stages are the SAME expressions as the batch
    * curation stages, applied in the same order (quality is scored on
    * the SCRUBBED text). The margin is row-local long arithmetic, so
    * the quality filter adds nothing to the streaming state store.
    */
  def curateDocStreamContent(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .withColumn("key_hash", md5(col("text")))
      .dropDuplicatesWithinWatermark("key_hash")
      .withColumn("text", CurationOps.scrubbedText(col("text")))
      .withColumn("quality_cents",
        graft.operators.TextOps.classifierMarginCents(col("text")))
      .filter(col("quality_cents") >= 0L)

  /** Curated-corpus ingest for the lifecycle key: each micro-batch of
    * [[curateDocStreamContent]] survivors appends its survivor-
    * invariant (key_hash, scrubbed_md5, quality_cents) projection to
    * the published epoch table — the same epoch-resolve-per-batch
    * discipline as [[appendBandsStream]]. */
  def appendCuratedStream(docs: DataFrame, base: String,
      watermark: String = "365 days")
      : org.apache.spark.sql.streaming.StreamingQuery =
    curateDocStreamContent(docs, watermark)
      .select(col("key_hash"), md5(col("text")).as("scrubbed_md5"),
        col("quality_cents"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val name = graft.operators.Layout
          .currentEpochTable(batch.sparkSession, base)
          .getOrElse(sys.error(s"no published epoch for table family $base"))
        batch.write.mode("append").insertInto(name)
      }
      .start()

  /** Search-index ingest: each micro-batch of (doc_id, text) appends
    * its postings to the CURRENT epoch of the positional inverted
    * index and advances the exact (n_docs, sum_dl) stats sidecar by
    * integer addition ([[graft.operators.TextOps.appendToInvertedIndex]]
    * — same encode expressions as the bulk build, so stream-built and
    * batch-built indexes cannot diverge; DocStreamSpec asserts probe
    * equality). Epoch resolution per batch, like every index
    * maintainer: a nightly rotation redirects the stream at the next
    * batch boundary, and a batch in flight keeps the table it resolved.
    */
  def appendPostingsStream(docs: DataFrame, base: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val name = graft.operators.Layout
          .currentEpochTable(batch.sparkSession, base)
          .getOrElse(sys.error(s"no published epoch for index family $base"))
        graft.operators.TextOps.appendToInvertedIndex(
          batch.sparkSession, name, batch)
      }
      .start()

  /** Minhash BAND-index ingest: each micro-batch of (doc_id, text)
    * appends its (doc_id, bucket) band rows to the CURRENT epoch of
    * the band-index family via [[DedupOps.appendBandRows]] — the SAME
    * signature/banding expressions as the bulk build
    * ([[DedupOps.bandRowsOf]]), so stream-built and batch-built band
    * indexes cannot diverge, and the bucket spec is preserved so
    * candidate self-joins stay exchange-free over build + appends
    * alike. Epoch resolution per batch, like the other maintainers: a
    * nightly rotation redirects the stream at the next batch boundary.
    */
  def appendBandsStream(docs: DataFrame, base: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val name = graft.operators.Layout
          .currentEpochTable(batch.sparkSession, base)
          .getOrElse(sys.error(s"no published epoch for index family $base"))
        DedupOps.appendBandRows(name, batch)
      }
      .start()

  /** Streaming substring-dedup INDEX MAINTENANCE: each micro-batch's
    * O(n) rolling window-hash rows ([[DedupOps.windowRows]] — the
    * row-local, shuffle-free stage) append to a durable (doc_id,
    * n_tokens, j, wh) table. The duplicated-span metric is inherently
    * corpus-wide (a window is a duplicate only relative to EVERY other
    * document), so the stream maintains the state and
    * [[substringDedupFromWindows]] answers from the accumulated rows —
    * the same split as the IVF family (stream routes, probe reads).
    * DocStreamSpec proves stream-built ≡ batch on the full corpus.
    */
  def substringWindowStream(docs: DataFrame, table: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        DedupOps.windowRows(batch.select(col("doc_id"), col("text")))
          .write.format("parquet").mode("append").saveAsTable(table)
        ()
      }
      .start()

  /** The metric half of [[substringWindowStream]]: identical output to
    * the batch [[DedupOps.substringDedupMetrics]] once the stream has
    * consumed the corpus (the metric is a pure function of the window
    * rows, wherever they accumulated).
    */
  def substringDedupFromWindows(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame =
    DedupOps.metricsFromWindowRows(spark.table(table))

  /** Candidate-only decontamination ingest — the 100 TB streaming
    * shape the lifecycle key gates: each micro-batch shingles and
    * bands ITSELF, joins the PREBUILT broadcast benchmark bands, and
    * appends nothing but its (doc_a, doc_b) candidate pairs; the
    * expensive exact-Jaccard verification runs ONCE over the
    * accumulated candidate state at read time
    * ([[graft.operators.CurationOps.decontaminateLifecycle]]). */
  def appendDecontamCandidatesStream(docs: DataFrame, benchBands: DataFrame,
      outTable: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        CurationOps.fuzzyCandidatesAgainst(
            batch.select(col("doc_id"), col("text")), benchBands)
          .write.format("parquet").mode("append").saveAsTable(outTable)
        ()
      }
      .start()
}
