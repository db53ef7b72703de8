package graft

import org.apache.spark.sql.catalyst.plans.logical

/** Systematic scale-hygiene audit over the ENTIRE query surface: every
  * `SparkEntry.queries` plan is checked for the two accidental
  * scale-killers this codebase has to guard against —
  *
  *  1. an unpartitioned Window (drags the whole input to ONE partition;
  *     the round-2 packSequences bug class) — allowed NOWHERE;
  *  2. a nested-loop / cartesian join — allowed ONLY for the documented
  *     bounded brute-force operators (bitmap all-pairs, broadcast-query
  *     scoring, broadcast-codebook assignment), where the quadratic or
  *     cross shape IS the algorithm and its bound is written in the
  *     operator's scaladoc.
  *
  * A new query that accidentally plans a cross join or a global window
  * fails here by default and must either fix the plan or argue its way
  * onto the allowlist in review.
  */
class PlanAuditSpec extends SparkSpec {

  /** Operators whose plans intentionally contain a broadcast
    * nested-loop or cross join (see each operator's scaladoc for the
    * size bound that makes it safe). */
  private val nestedLoopByDesign = Set(
    "q_ngram_jaccard",      // bitmap all-pairs popcount BNLJ (dense-vocab path)
    "q_neardup_groups",     // consumes the same all-pairs pair generator
    "q_ensemble_groups",    // unions that generator's pairs with the banded signals
    "q_knn_cosine",         // crossJoin(broadcast(single query vector))
    "q_hnsw_topk",          // the gated exact twin IS knnCosine's crossJoin(broadcast(q)) shape
    "q_hnsw_lifecycle",     // same gated exact twin over the appended epoch
    "q_embedding_neardup",  // documented bounded brute-force baseline
    "q_ivf_topk",           // crossJoin(broadcast(16-row centroid table))
    "q_ivf_persisted",      // crossJoin(broadcast(1-row query vector)) over the pruned index scan
    "q_ivf_trained",        // same probe shape over the trained-codebook index
    "q_ann_lifecycle",      // serves the same probe over the stream-appended epoch
    "q_ivf_kmeans",         // crossJoin(broadcast(k-row codebook)) per iteration
    "q_count",              // cross of three 1-row count aggregates (1×1×1)
    "q_tfidf_topterms",     // crossJoin(broadcast(1-row corpus-count aggregate))
    "q_bm25_topk",          // crossJoin(broadcast(1-row corpus-stats aggregate))
    "q_mixture_plan",       // crossJoin(broadcast(1-row total aggregate)) over #sources rows
    "q_dsir_weights",       // crossJoin(broadcast(1-row percentile threshold))
    "q_cluster_balance",    // crossJoin(broadcast(1-row corpus-total aggregate))
    "q_keyword_search",     // crossJoin(broadcast(1-row index stats sidecar))
    "q_boolean_search",     // same 1-row stats sidecar crossJoin, one pruned scan
    "q_search_lifecycle",   // serves the keywordSearch probe → same stats crossJoin
    "q_hybrid_search",      // ≤k-row rank self-joins + the knn/stats 1-row broadcasts
    "q_canonical_docs",     // consumes the same all-pairs pair generator as groups
    "q_trainval_split",     // same pair generator under the group-keyed split
    "q_pagerank",           // same pair generator feeding the edge list
    "q_collocations",       // crossJoin(broadcast(1-row corpus totals))
    "q_heavy_hitters",      // crossJoin(broadcast(1-row total-token aggregate))
    "q_countmin_counts",    // crossJoin(broadcast(1-row total aggregate)) onto the 10-row probe
    "q_hll_intersect",      // crossJoin of the 1-row exact twin with the 1-row sketch aggregate (1×1)
    "q_fk_inference",       // per-pair cross of three 1-row stat aggregates (1×1×1, 8 pairs)
    "q_triangle_count",     // consumes the all-pairs pair generator; scalar panel is a 1×1×1 cross
    "q_shard_assignment",   // crossJoin(broadcast(1-row total)) onto the 32 shard rows
    "q_rfm_segments",       // crossJoin(broadcast(1-row quartile panel)) onto customer grain
    "q_rocchio_search",     // the keywordSearch probe's 1-row stats sidecar crossJoin, ×2 probes
    "q_join_cardinality",   // crosses of 1-row size/exact/estimate aggregates (1×1×1×1, 2 scenarios)
    "q_embedding_covariance", // crossJoin(broadcast(1-row count)) onto the 2080-row pair grain
    "q_hnsw_batch",         // exact twin = crossJoin(broadcast(8-row query panel)), the knnCosine shape batched
    "q_cluster_topics",     // crossJoin(broadcast(1-row n_docs stats sidecar)), the tfidfTopTerms shape at cell grain
    "q_compaction_exec",    // crossJoin(broadcast(1-row base-checksum aggregate)) onto the 1-row rewrite checksum (1×1)
    "q_merge_on_read",      // crossJoin(broadcast(1-row convergence/dv-remaining flag frame))
    "q_mor_lifecycle",      // crossJoin(broadcast(1-row did_tombstone flag frame))
    "q_dpp_prune",          // crossJoin(broadcast(1-row months_scanned/months_total aggregate))
    "q_copy_on_write",      // crossJoin(broadcast(1-row cow_exact convergence flag frame))
    "q_time_travel"         // crossJoin(broadcast(1-row rolled_back_ok flag frame))
  )

  // -------------------------------------------------------------------
  // Scan efficiency: column pruning and filter pushdown must REACH the
  // parquet scans. A scan that reads all columns for a 2-column
  // projection wastes IO linear in corpus width at 100 TB — the class
  // of regression the window/join audit above cannot see. Per audited
  // key: every parquet scan reads at most `maxCols` columns, and keys
  // with join-key null filters show a non-empty PushedFilters on at
  // least one scan.
  // -------------------------------------------------------------------

  // sparkPlan, not executedPlan: AQE wraps the executed plan in an
  // AdaptiveSparkPlanExec whose inner tree is not visible to collect()
  private def parquetScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }

  private val scanBudgets: Map[String, (Int, Boolean)] = Map(
    // key -> (max columns any single scan may read, expectPushedFilters)
    "q_client_txn_counts" -> (2, true),  // c_custkey / (o_orderkey,o_custkey) / l_orderkey
    "q_monthly_summary"   -> (3, true),  // widest: lineitem (l_orderkey, l_extendedprice, l_shipdate)
    "q_high_txn_accounts" -> (3, false), // only filter is the post-agg HAVING — nothing pushable
    "q_event_windows"     -> (2, false), // events (ts, value) — no filter in the batch agg
    "q_count"             -> (1, false), // count(*) scans prune to a single key column
    // tokenizer APPLY keys scan documents several times (type table,
    // instance explode, doc_id spine) — every scan must prune to
    // (doc_id, text) or narrower; the trained model itself is a driver
    // value and never a scan. (TRAIN keys return a local model frame
    // with no parquet scan at all, so they have nothing to audit here.)
    "q_bpe_apply"         -> (2, false),
    "q_unigram_apply"     -> (2, false),
    "q_wordpiece_apply"   -> (2, false),
    "q_tokenizer_fertility" -> (3, false), // widest: (doc_id, source, lang) spine
    // CDC keys prune the orders feed to exactly the 4 change-record
    // columns (key, ts, seq, attribute). q_table_checksum and
    // q_profile_stats are deliberately absent: a fingerprint/profiler
    // reads every column BY DESIGN — full width is the contract.
    "q_scd2_merge"        -> (4, false),
    "q_cdc_upsert"        -> (4, false),
    // row-local JL projection: (vec_id, embedding) only
    "q_random_projection" -> (2, false),
    // layout planning reads exactly the clustering dims + the row key
    "q_zorder_layout"     -> (3, false),
    // cohort triangle reads (user_id, ts) only
    "q_cohort_retention"  -> (2, false),
    // FK inference prunes every scan to the single candidate column
    "q_fk_inference"      -> (1, false),
    // sketch + exact twin both read (user_id, event_type) only
    "q_hll_intersect"     -> (2, false),
    // successor window reads (user_id, ts, event_id, event_type)
    "q_markov_transitions" -> (4, false),
    // binned anti: clicks (event_id, user_id, ts, type), purchases narrower
    "q_interval_anti"     -> (4, false),
    // day-grain smoothing reads (o_orderdate, o_totalprice) only
    "q_moving_avg"        -> (2, false),
    // histogram reads the single measure column
    "q_numeric_histogram" -> (1, false),
    // shard audit reads (doc_id, n_chars) only
    "q_shard_assignment"  -> (2, false),
    // baskets read (l_orderkey, l_partkey) only
    "q_itemset_pairs"     -> (2, false),
    // frontier reads (o_orderkey, o_totalprice, o_orderdate)
    "q_skyline_orders"    -> (3, false),
    // every expectation prunes to its single checked column
    "q_dq_checks"         -> (1, false),
    // RFM reads (o_custkey, o_orderdate, o_totalprice)
    "q_rfm_segments"      -> (3, false)
  )

  for ((name, (maxCols, wantPush)) <- scanBudgets.toSeq.sortBy(_._1)) {
    test(s"scan audit: $name reads <= $maxCols columns per parquet scan" +
      (if (wantPush) " with pushed filters" else "")) {
      val scans = parquetScans(SparkEntry.queries(name)(spark, sf))
      assert(scans.nonEmpty, s"$name has no parquet scan to audit")
      for (s <- scans) {
        assert(s.requiredSchema.size <= maxCols,
          s"$name scan reads ${s.requiredSchema.size} columns " +
            s"(${s.requiredSchema.fieldNames.mkString(",")}) — column " +
            "pruning no longer reaches parquet")
      }
      if (wantPush) {
        val pushed = scans.flatMap(_.metadata.get("PushedFilters"))
          .exists(f => f != "[]" && f.nonEmpty)
        assert(pushed,
          s"$name: no scan carries PushedFilters — join-key null filters " +
            "no longer push to parquet")
      }
    }
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"plan audit: $name") {
      val df = fn(spark, sf)
      val globalWindows = df.queryExecution.optimizedPlan.collect {
        case w: logical.Window if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty,
        s"$name plans an unpartitioned Window — single-partition scale killer")
      val physical = df.queryExecution.executedPlan.toString
      if (!nestedLoopByDesign(name)) {
        assert(!physical.contains("BroadcastNestedLoopJoin") &&
          !physical.contains("CartesianProduct"),
          s"$name plans a nested-loop/cartesian join but is not on the " +
            "documented brute-force allowlist")
      }
    }
  }
}
