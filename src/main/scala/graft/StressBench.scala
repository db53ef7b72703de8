package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench-only 10× stress pass (round-11 task 6): run the heaviest keys
  * of the surface against a synthetic corpus ~10× sf0.1 — the
  * CrossoverBench discipline (deterministic expression-generated data,
  * no Date.now, no RNG) applied to raw headroom instead of strategy
  * flips. No DuckDB: the oracle gate owns correctness at sf0.01/sf0.1;
  * this pass owns "does the plan survive another order of magnitude
  * without OOM or spill pathology", recorded per key as wall seconds +
  * shuffle/memory spill bytes (a SparkListener sums task metrics).
  *
  * Corpus construction (all primary-key shifts preserve the id-derived
  * semantics the operators key on):
  *  - documents ×10: doc_id + k·10⁷ (10⁷ ≡ 0 mod 50 and mod 2, so the
  *    benchmark slice and the even/odd lifecycle split keep their
  *    densities); text re-chunked with per-(copy, doc, chunk) salt
  *    tokens interleaved every 50 chars — copies of one source doc
  *    land near J ≈ 0.4, BELOW the 0.5 dedup threshold but high enough
  *    to flood LSH banding with candidate near-misses, the
  *    verification-heavy regime a real 10× crawl produces.
  *  - embeddings ×10: vec_id + k·10⁷ (query vector 0 and the IVF/PQ
  *    seed id ranges exist only in copy 0 — one probe set, 10× corpus);
  *    per-copy deterministic jitter ±0.003·j keeps the cluster
  *    structure while decollapsing exact duplicates.
  *  - events ×10: event_id + k·10⁸ (even offset keeps the lifecycle's
  *    even/odd split), user_id + k·10⁶, ts UNCHANGED so the corpus
  *    span stays inside the 90-day watermark-delay guard.
  */
object StressBench {

  private val StressKeys = Seq(
    "q_dedup_lifecycle", "q_search_lifecycle", "q_minhash_verified",
    "q_classifier_train", "q_ann_lifecycle", "q_ivfpq_lifecycle",
    "q_events_lifecycle", "q_media_lifecycle",
    // round-11 late-add lifecycles (#7-#9)
    "q_curation_lifecycle", "q_substring_lifecycle",
    "q_decontaminate_lifecycle",
    // lifecycle #10 (CDC/SCD2) — keyed on the 10× orders feed
    "q_scd2_lifecycle",
    // temporal join: 6M facts × the 10× versioned dimension through
    // ONE client_id exchange — the as-of union trick's headroom proof
    "q_pit_join",
    // full-width fingerprint scan over all six tables (6M lineitem +
    // 10M events dominate): the heaviest pure-scan key
    "q_table_checksum",
    // lifecycle #11 (stream-stream join): 200K clicks x 200K purchases
    // buffered on both sides of the watermarked join during replay
    "q_join_lifecycle",
    // lifecycle #12 (flatMapGroupsWithState keep-latest): 1.5M change
    // rows through ~150K-key custom streaming state
    "q_upsert_lifecycle",
    // lifecycle #13 (session_window merge state): 500K streamed events
    // through per-user session-merge state + sentinel emission
    "q_session_lifecycle",
    // lifecycle #14 (graph-ANN streamed appends): 20K vectors — cells
    // of ~1250 cross the HnswSubBucketGate, so the stress run ALSO
    // executes the sub-bucketed build branch on the production path
    "q_hnsw_lifecycle",
    // join-aggregate MV: the summary build joins 6M lineitem facts
    // once; the served rollup re-aggregates the day×client summary
    "q_mv_join_rewrite",
    // lifecycle #15 (IVM): 3M even facts bulk-built + 3M odd facts
    // streamed as per-batch static-dim-join delta appends
    "q_mv_lifecycle",
    // IDF-weighted cosine near-dup at 10×: the salted copies push
    // shingle df past the 32 cap, so the stress run exercises the
    // cap-ACTIVE candidate bound (at sf0.1 max df is 25 — cap inactive)
    "q_tfidf_neardup",
    // CM join-cardinality: sketches over ~17.5M keys + the exact
    // key-grain twins at 10×
    "q_join_cardinality",
    // exact Gramian: 200K vectors × 2080 dimension pairs ≈ 416M
    // decimal multiply-adds through the co-partitioned self-join
    "q_embedding_covariance",
    // r13: batched graph-ANN probe at 10× — 8-query frame-keyed sweep
    // over a 200K-vector graph (build crosses the sub-bucket gate)
    "q_hnsw_batch",
    // r13: sketch-driven join planning at 10× — stats sidecar build
    // over ~17.5M keys, then the hinted broadcast FK join over 6M facts
    "q_cms_join_planned",
    // r13: avg-measure MV serve at 10× — the same 6M-fact summary
    // build plus the sum/count decomposition re-aggregate
    "q_mv_avg_rewrite",
    // r13: PCA power iteration at 10× — the 200K-vector distributed
    // Gramian (416M decimal multiply-adds) + the d²-bounded driver steps
    "q_power_iteration",
    // r13: cluster labeling at 10× — postings tf ⋈ 20K-vector IVF cells
    // on the doc spine, (cell, term)-grain tf·idf
    "q_cluster_topics",
    // r13: lifecycle #16 at 10× — 100K even vectors bulk Gramian +
    // 100K odd vectors streamed as per-batch 2080-row delta partials
    "q_power_lifecycle",
    // r14: the named near-dup batch key itself (minhash_verified rides
    // the same band index; this is the raw banded-candidate form whose
    // salted copies flood the buckets)
    "q_minhash_lsh",
    // r14: mixed-modality real-codec ANN at 10× — 50K PNG/WAV payloads
    // through the magic-byte dispatch into the persisted feature epoch
    "q_multimodal_ann",
    // r14: triple file-format round-trip at 10× — 50K armored payloads
    // through distributed CSV/JSONL/ORC encode+decode on tmpfs
    "q_format_roundtrip",
    // r14: entity resolution at 10× — 150K-registry suffix-block join
    // (blocks grow to ~15 members: the fan-out bound under load)
    "q_record_linkage",
    // r14: densify+fill at 10× — 10M events rolled up and gap-filled
    // through one user_id exchange
    "q_gap_fill",
    // r14 s2: exact percentile bounds + broadcast clip over 10M events
    "q_winsorize",
    // r14 s2: two staged parquet generations + one mergeSchema read
    "q_schema_evolution",
    // r15: the lakehouse row-change pair at 10× — 375K-row quarter
    // through two clustered epoch builds + tombstone/ingest metadata
    // (MOR), and the zone-map-pruned dynamic partition rewrite (COW)
    "q_merge_on_read", "q_copy_on_write",
    // r15: streamed tombstones over the 10× quarter
    "q_mor_lifecycle",
    // r15: bloom family at 10× — ~5.9K keys/file pushes the fixed
    // 8192-bit geometry toward saturation, the conservative-FP regime
    // (no-FN and exactness must hold regardless; §B covers the scaled
    // geometry at 100K files)
    "q_bloom_skip", "q_bloom_lifecycle",
    // r15: runtime DPP over the 10× month-partitioned fact
    "q_dpp_prune",
    // r15: NDV-planned eager aggregation over 15M orders × 1.5M-key dim
    "q_ndv_agg_planned",
    // r15: version reads + rollback probe over the 10× quarter
    "q_time_travel")

  private def tenX(spark: SparkSession, src: String, dst: String): Unit = {
    val copies = explode(sequence(lit(0L), lit(9L))).as("k")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val D = 10000000L
    // re-chunk with interleaved salts: 50-char chunks, one salt token
    // per (copy, doc, chunk)
    val salted = concat_ws(" ",
      flatten(transform(sequence(lit(0), (length(col("text")) / 50).cast("int")),
        i => array(
          substring(col("text"), i * 50 + 1, lit(50)),
          md5(concat_ws("|", col("k"), col("doc_id"), i))))))
    docs.select(col("*"), copies)
      .select((col("doc_id") + col("k") * D).as("doc_id"),
        salted.as("text"), col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val jitter = transform(col("embedding"), (v, j) =>
      (v + (pmod(col("k") * 31 + j.cast("long"), lit(7L)).cast("double") - 3.0d)
        / 1000.0d).cast("float"))
    emb.select(col("*"), copies)
      .select((col("vec_id") + col("k") * D).as("vec_id"),
        jitter.as("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    val ev = spark.read.parquet(s"$src/events.parquet")
    ev.select(col("*"), copies)
      .select((col("event_id") + col("k") * 100000000L).as("event_id"),
        col("ts"), (col("user_id") + col("k") * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    // orders ×10 for the CDC/SCD2 lifecycle: both offsets are even, so
    // the even/odd client split and per-key (ts, seq) orderings are
    // preserved; 10× keys means 10× dimension keys, not longer chains —
    // the realistic way a change feed grows
    val ord = spark.read.parquet(s"$src/orders.parquet")
    ord.select(col("*"), copies)
      .select((col("o_orderkey") + col("k") * 100000000L).as("o_orderkey"),
        (col("o_custkey") + col("k") * 1000000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")

    // lineitem ×10 with the SAME l_orderkey offset as orders, so every
    // fact still resolves to its (shifted) order — referential
    // integrity preserved for the temporal join
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    li.select(col("*"), copies)
      .select((col("l_orderkey") + col("k") * 100000000L).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")

    // customer ×10 with the SAME custkey offset as orders — every
    // order in the stress corpus resolves to a real customer, so any
    // future customer-joining stress key measures the full 10× load
    // instead of silently dropping the k>0 copies through an inner join
    val cust = spark.read.parquet(s"$src/customer.parquet")
    cust.select(col("*"), copies)
      .select((col("c_custkey") + col("k") * 1000000L).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")

    // nation passes through unchanged (c_nationkey range is untouched)
    spark.read.parquet(s"$src/nation.parquet")
      .write.mode("overwrite").parquet(s"$dst/nation.parquet")
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_STRESS_DIR",
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-stress10x"
      else "/tmp/graft-stress10x")
    val spark = GraftSession()

    val t0 = System.nanoTime()
    tenX(spark, src, dst)
    println(f"[stress] 10x corpus generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    for (t <- Seq("documents", "embeddings", "events", "orders", "lineitem"))
      println(s"[stress] $t rows = " + spark.read.parquet(s"$dst/$t.parquet").count())

    // task-metric spill accumulation across each key's run
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    val peakMem = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          peakMem.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
        }
      }
    })

    val keys = if (args.isEmpty) StressKeys else args.toSeq
    var failed = 0
    val results = keys.map { name =>
      memSpill.set(0); diskSpill.set(0); peakMem.set(0)
      val s0 = System.nanoTime()
      val out = try Right(SparkEntry.queries(name)(spark, dst).count())
      catch { case e: Throwable =>
        failed += 1
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
      }
      val wall = (System.nanoTime() - s0) / 1e9
      // listener events drain asynchronously; give the bus a beat
      Thread.sleep(300)
      val line = out match {
        case Right(n) =>
          f"[stress] $name%-22s ${wall}%8.2f s  rows=$n%-10d spillMem=${memSpill.get / (1 << 20)}%6d MiB  spillDisk=${diskSpill.get / (1 << 20)}%6d MiB  peakTaskMem=${peakMem.get / (1 << 20)}%6d MiB"
        case Left(e) =>
          f"[stress] $name%-22s ${wall}%8.2f s  FAILED: $e"
      }
      println(line)
      line
    }
    println("[stress] " + (if (failed == 0) "ALL PASS" else s"$failed FAILED"))
    results.foreach(println)
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
