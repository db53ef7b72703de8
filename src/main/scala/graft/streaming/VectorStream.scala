package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Layout, SimilarityOps}

/** Streaming ANN index maintenance — the vector-side twin of
  * [[DocStream.appendBandsStream]]: newly arriving
  * embeddings are routed to their IVF cells and appended into the
  * PERSISTED epoch-versioned index, via `foreachBatch` (the escape
  * hatch for read-then-append sink logic the declarative sinks can't
  * express).
  *
  * Epoch semantics, same contract as the dedup family:
  *  - each micro-batch resolves the family's CURRENT epoch before
  *    routing — so a nightly retrain/rotation (or rollback) redirects
  *    a long-running ingest stream to the new snapshot at the next
  *    batch boundary, no restart;
  *  - the batch routes under the resolved epoch's OWN codebook
  *    sidecar ([[SimilarityOps.assignToIndexCells]]), never a
  *    retrained one — an append must follow the cell layout of the
  *    epoch it lands in;
  *  - probes running concurrently keep reading whichever epoch THEY
  *    resolved (probe-under-old-epoch): published epoch tables only
  *    mutate by this stream's own bucket-spec-preserving appends, so
  *    a probe's resolve-scan pair stays consistent, and bucket
  *    pruning holds over build + appends alike.
  *
  * At 100 TB this is the vector-store ingest loop: the index grows by
  * one narrow bucketed row per vector, the codebook stays a broadcast
  * sidecar, and nothing ever re-scans or re-shuffles the existing
  * index. VectorStreamSpec proves a stream-appended index answers
  * probes IDENTICALLY to the same index built in one batch, and that
  * appends follow the pointer across a rotation.
  */
object VectorStream {

  /** `vectors` must carry (vec_id, embedding). The cells frame
    * materializes (localCheckpoint) BEFORE the append so the read plan
    * never lists files the write is adding.
    */
  def appendVectorsStream(vectors: DataFrame, base: String): StreamingQuery =
    appendLoop(vectors, base)(
      SimilarityOps.assignToIndexCells, SimilarityOps.appendToIvfIndex)

  /** The same ingest loop for the COMPOSED IVF×PQ family: each batch
    * resolves the current epoch, coarse-assigns + residual-encodes
    * under that epoch's OWN `_coarse`/`_books` sidecars
    * ([[SimilarityOps.encodeForIvfPqIndex]] — never a retrained
    * codebook), and appends 12 B/vector code rows bucketed by cell.
    * The raw embedding is never stored: at 100 TB the index grows by
    * one narrow code row per vector while probes keep bucket-pruning
    * over build + appends alike.
    */
  def appendVectorsStreamIvfPq(vectors: DataFrame, base: String): StreamingQuery =
    appendLoop(vectors, base)(
      SimilarityOps.encodeForIvfPqIndex, SimilarityOps.appendToIvfPqIndex)

  /** The same ingest loop for the GRAPH (HNSW-style) family: each
    * batch resolves the current epoch and runs
    * [[SimilarityOps.appendToHnswIndex]] — cell assignment under the
    * epoch's own `_cent` sidecar, candidate kNN against only the
    * touched cells (pruned `_cells` reads), forward+reverse+hub edge
    * appends preserving every table's bucket spec. Not routed through
    * [[appendLoop]] because a graph append writes THREE tables
    * (adjacency, `_vecs`, `_cells`), not one.
    */
  /** Gramian-maintenance ingest (lifecycle #16,
    * [[SimilarityOps.powerLifecycle]]): each micro-batch encodes its
    * OWN 2080-row Gramian delta partial through the SAME
    * [[SimilarityOps.gramPartialsOf]] as the bulk build and appends it
    * to the partials epoch — no streaming state store; dot partials
    * are additive over any vector split, so batch boundaries are
    * unobservable in the served reduction. Appends to the resolved
    * epoch `table` directly (the MvStream delta shape, not the
    * epoch-pointer loop: the serve step re-aggregates the SET). */
  def appendGramStream(vectors: DataFrame, table: String): StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        SimilarityOps.gramPartialsOf(batch)
          .write.format("parquet").mode("append").saveAsTable(table)
        ()
      }
      .start()

  def appendGraphStream(vectors: DataFrame, base: String): StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val name = Layout.currentEpochTable(batch.sparkSession, base)
          .getOrElse(sys.error(s"no published epoch for index family $base"))
        SimilarityOps.appendToHnswIndex(batch.sparkSession, name, batch)
        ()
      }
      .start()

  /** The shared per-batch protocol of every index-append stream —
    * resolve the family's CURRENT epoch, encode under that epoch's own
    * sidecar state, MATERIALIZE the encoded rows before appending (the
    * read plan must never list files the write is adding), append only
    * when non-empty — kept in one place so the epoch-resolution
    * contract cannot drift between index families.
    */
  private[streaming] def appendLoop(vectors: DataFrame, base: String)(
      encode: (org.apache.spark.sql.SparkSession, String, DataFrame) => DataFrame,
      append: (String, DataFrame) => Unit): StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val name = Layout.currentEpochTable(batch.sparkSession, base)
          .getOrElse(sys.error(s"no published epoch for index family $base"))
        // micro-batch-sized, inside foreachBatch: a failed batch
        // re-runs from the STREAM's checkpoint — the recovery path
        val rows = encode(batch.sparkSession, name, batch).localCheckpoint()
        if (!rows.isEmpty) append(name, rows)
        rows.unpersist()
        ()
      }
      .start()
}
