package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import Materialize.CorpusSyntax

/** Deduplication operators for an LLM-data pipeline (SURVEY.md §2b):
  * exact dedup, n-gram Jaccard near-dup pairs (the verifiable baseline),
  * and MinHash-LSH near-dup (the 100 TB path).
  *
  * Scale notes:
  *  - Exact dedup is a groupBy on a 128-bit content hash — one shuffle,
  *    map-side partial agg, no skew risk (hashes are uniform). At 100 TB
  *    group by the hash, never the raw text (shuffle bytes ∝ 32-char key
  *    vs document body).
  *  - Pairwise Jaccard via shingle self-join is quadratic in the worst
  *    case (all-identical corpus); it exists as the exact oracle-checkable
  *    baseline and for small candidate sets. The prefilter (pairs must
  *    share ≥1 shingle) bounds it in practice.
  *  - MinHash-LSH is the scale path: signature = k independent min-hashes
  *    over shingles (here: min md5(seed‖shingle), deterministic in any
  *    engine), banded into b bands; candidate pairs share a band bucket.
  *    Cost: one shuffle on (band, bucket) — linear in corpus size +
  *    bucket-local pair generation. This is the standard
  *    shingle→minhash→band→bucket-join pipeline (Broder '97 / MMDS ch.3).
  */
object DedupOps {

  /** Character n-gram shingle set (distinct) of a string column.
    * Caller must guarantee length(c) >= n (sequence(1, stop) needs
    * stop >= 1 — Spark's sequence defaults to a NEGATIVE step when
    * start > stop, it does not return empty).
    */
  def shingles(c: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), length(c) - (n - 1)),
      i => c.substr(i, lit(n))))

  /** Exact near-duplicate groups keyed on the first 40 chars of `text`
    * (the testdata plants shared prefixes; real pipelines key on
    * `md5(normalized text)` — see TextOps.docFingerprint). Keeps the
    * first (min doc_id) representative per group, reports group size.
    */
  /** Shared exact-dedup content key — [[docDedup]] and
    * [[exactDedupSurvivorIds]] must always agree on it. */
  def exactKey(text: Column): Column = md5(substring(text, 1, 40))

  def docDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(exactKey(col("text")).as("key_hash"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("key_hash"), col("dup_count"))
      .orderBy(col("doc_id"))

  /** Library core: the keep-first survivor ids of exact dedup, for
    * composition (one shuffle, min per content-key group). */
  def exactDedupSurvivorIds(docs: DataFrame): DataFrame =
    docs.groupBy(exactKey(col("text")).as("key_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

  val docDedupSql: String =
    """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
      |  md5(substring(text, 1, 40)) AS key_hash,
      |  CAST(COUNT(*) AS BIGINT) AS dup_count
      |FROM documents
      |GROUP BY md5(substring(text, 1, 40))
      |ORDER BY doc_id""".stripMargin

  /** Substring-level dedup signal (Lee et al. ACL'22 "Deduplicating
    * Training Data Makes Language Models Better", adapted): exact-dup
    * detection at PASSAGE granularity instead of whole-document. Each
    * document's token stream splits into non-overlapping [[PassageTokens]]-token
    * passages, each passage is content-hashed, and a passage counts as
    * duplicated when its hash appears anywhere else in the corpus
    * (including elsewhere in the same document). Output: per-doc passage
    * counts, duplicated-passage fraction, and the keep decision
    * (`dup_frac` ≤ 0.25) — the metric that catches boilerplate-stitched
    * documents whole-doc dedup is blind to.
    *
    * Shape at 100 TB: passage hashing is row-local; the exploded
    * passages pre-aggregate to (hash, doc, count) — ONE shuffle on the
    * hash with MAP-SIDE COMBINE, so a boilerplate passage repeated
    * millions of times inside documents collapses before it moves —
    * the corpus-wide occurrence total reuses that same partitioning
    * (zero-exchange aggregation), flows back over a CO-PARTITIONED
    * join (zero-exchange, and AQE-splittable if one hash goes viral
    * across documents), and one per-doc aggregation folds both
    * counters. Earlier forms were strictly worse at scale: a
    * checkpoint + semi-join draft re-materialized the passages, and a
    * count-window draft shuffled every raw occurrence into one task
    * per hash (WindowExec has no partial aggregation and no AQE skew
    * splitting — exactly wrong for data whose defining property is
    * duplication).
    */
  val PassageTokens = 8

  def passageDedup(spark: SparkSession, sfDir: String): DataFrame =
    passageDedupMetrics(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** Library core of [[passageDedup]] for any (doc_id, text) frame. */
  def passageDedupMetrics(docs: DataFrame, k: Int = PassageTokens): DataFrame = {
    val p = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, int(size(toks) / $k) - 1), " +
          s"j -> md5(concat_ws(' ', slice(toks, j * $k + 1, $k))))")).as("ph"))
    val perDoc = p.groupBy(col("ph"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val tot = perDoc.groupBy(col("ph")).agg(sum(col("c")).as("n_occ"))
    perDoc.join(tot, Seq("ph"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_passages"),
        sum(when(col("n_occ") > 1, col("c")).otherwise(0L)).as("n_dup_passages"))
      .withColumn("dup_frac",
        round(col("n_dup_passages").cast("double") / col("n_passages"), 6))
      .withColumn("keep", (col("dup_frac") <= 0.25).cast("int"))
      .orderBy(col("doc_id"))
  }

  val passageDedupSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '') AS toks
      |  FROM documents
      |), p AS (
      |  -- // is integer division: CAST(x/8 AS INT) would ROUND and emit a
      |  -- phantom short passage whenever len mod 8 >= 4
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(0, len(toks) // 8 - 1),
      |    j -> md5(array_to_string(toks[j*8+1 : j*8+8], ' ')))) AS ph
      |  FROM t WHERE len(toks) >= 8
      |), dup AS (
      |  SELECT ph FROM p GROUP BY ph HAVING COUNT(*) > 1
      |), perdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages,
      |    CAST(COUNT(*) FILTER (WHERE ph IN (SELECT ph FROM dup)) AS BIGINT)
      |      AS n_dup_passages
      |  FROM p GROUP BY 1
      |)
      |SELECT doc_id, n_passages, n_dup_passages,
      |  ROUND(CAST(n_dup_passages AS DOUBLE) / n_passages, 6) AS dup_frac,
      |  CAST(ROUND(CAST(n_dup_passages AS DOUBLE) / n_passages, 6) <= 0.25 AS INT)
      |    AS keep
      |FROM perdoc
      |ORDER BY doc_id""".stripMargin

  /** Exact-substring dedup at ANY offset (Lee et al. ACL'22's
    * ExactSubstr signal, windowed): where [[passageDedup]]'s fixed
    * non-overlapping passages only catch block-aligned repeats, this
    * hashes EVERY overlapping k-token window via the native O(n)
    * [[graft.functions.RollingWindowHashes]] expression, flags windows
    * whose hash repeats corpus-wide, and reports per doc the fraction
    * of token POSITIONS covered by at least one duplicated window —
    * the "fraction of the doc inside a duplicated substring" metric an
    * offset-shifted copy produces and a passage grid misses.
    *
    * Scale shape — linear end to end, no pairwise stage anywhere: the
    * window pass is one rolling scan per doc (the native expression's
    * point: O(n), not O(n·k)); the exploded windows pre-aggregate to
    * (hash, doc, count + starts) with MAP-SIDE COMBINE on one hash
    * shuffle, the corpus-wide occurrence total reuses that
    * partitioning (zero-exchange) and flows back over a
    * CO-PARTITIONED, AQE-splittable join — never a count window,
    * which would drag every raw occurrence of a viral span into one
    * task — then ONE per-doc aggregation folds the counters and the
    * flagged starts, whose position coverage is a row-local
    * interval-union fold over the sorted starts (no position explode,
    * no countDistinct, no join back to the docs: n_tokens rides the
    * rows, and sub-k-token docs survive via posexplode_outer's
    * null-window row + the left join). Hashes are Rabin (mod 1e9+7)
    * shared bit-for-bit with the oracle, so the ~1-in-1e9 collision
    * behavior is engine-identical; a production run swaps in a 128-bit
    * hash at the same plan shape.
    */
  def substringDedup(spark: SparkSession, sfDir: String): DataFrame =
    substringDedupMetrics(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** Library core of [[substringDedup]] for any (doc_id, text) frame. */
  def substringDedupMetrics(docs: DataFrame, k: Int = PassageTokens): DataFrame =
    metricsFromWindowRows(windowRows(docs, k), k)

  /** The O(n) rolling window-hash rows (doc_id, n_tokens, j, wh) of a
    * (doc_id, text) frame — the corpus-wide STATE of substring dedup,
    * factored out so a stream can maintain it incrementally (one append
    * per micro-batch, [[graft.streaming.DocStream]]) while the metric
    * below reads the accumulated rows.
    */
  private[graft] def windowRows(docs: DataFrame, k: Int = PassageTokens): DataFrame =
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        graft.functions.RollingWindowHashes(col("toks"), k).as("whs"))
      // outer: a doc shorter than k tokens keeps its (null-window) row
      .select(col("doc_id"), col("n_tokens"),
        posexplode_outer(col("whs")).as(Seq("j", "wh")))

  /** Duplicated-span metrics from ready window rows ([[windowRows]]). */
  private[graft] def metricsFromWindowRows(win: DataFrame,
      k: Int = PassageTokens): DataFrame = {
    val perDoc = win.groupBy(col("wh"), col("doc_id"))
      .agg(first(col("n_tokens")).as("n_tokens"),
        count(col("wh")).as("c"), // 0 for the null-window row
        sort_array(collect_list(col("j"))).as("js"))
    val tot = perDoc.groupBy(col("wh")).agg(sum(col("c")).as("n_occ"))
    // left join: a null hash never matches, which is exactly right —
    // the short-doc row keeps n_occ null and contributes zero windows
    val marked = perDoc.join(tot, Seq("wh"), "left")
    val dup = col("wh").isNotNull && col("n_occ") > 1
    // row-local union of the flagged [j, j+k) intervals over sorted starts
    val covered = aggregate(col("starts"),
      struct(lit(Long.MinValue).as("end"), lit(0L).as("cov")),
      (acc, s) => {
        val j = s.cast("long")
        struct(
          greatest(acc.getField("end"), j + k).as("end"),
          (acc.getField("cov") + greatest(lit(0L),
            j + k - greatest(j, acc.getField("end")))).as("cov"))
      },
      acc => acc.getField("cov"))
    marked
      .groupBy(col("doc_id"))
      .agg(first(col("n_tokens")).as("n_tokens"),
        sum(col("c")).as("n_windows"),
        sum(when(dup, col("c")).otherwise(0L)).as("n_dup_windows"),
        sort_array(flatten(collect_list(
          when(dup, col("js")).otherwise(array().cast("array<int>")))))
          .as("starts"))
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        col("n_dup_windows"),
        when(col("n_tokens") > 0,
          round(covered.cast("double") / col("n_tokens").cast("double"), 6))
          .otherwise(lit(0.0)).as("dup_cov"))
      .withColumn("keep", (col("dup_cov") <= 0.25).cast("int"))
      .orderBy(col("doc_id"))
  }

  val substringDedupSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '') AS toks
      |  FROM documents
      |), v AS (
      |  SELECT doc_id, len(toks) AS n,
      |    list_transform(toks, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (h, c) -> (h * 31 + c) % 1000000007)) AS vals
      |  FROM t
      |), w AS (
      |  -- per-window recompute is fine at oracle scale; the engine side
      |  -- replaces it with the O(n) rolling update over the same values
      |  SELECT doc_id, j, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      vals[j : j + 7]),
      |      (h, x) -> (h * 1000003 + x) % 1000000007) AS wh
      |  FROM v, UNNEST(generate_series(1, n - 7)) AS u(j)
      |  WHERE n >= 8
      |), dup AS (
      |  SELECT wh FROM w GROUP BY wh HAVING COUNT(*) > 1
      |), fl AS (
      |  SELECT doc_id, j FROM w WHERE wh IN (SELECT wh FROM dup)
      |), cov AS (
      |  SELECT doc_id, CAST(COUNT(DISTINCT pos) AS BIGINT) AS n_cov
      |  FROM fl, UNNEST(generate_series(j, j + 7)) AS g(pos)
      |  GROUP BY 1
      |), wd AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
      |    CAST(COUNT(*) FILTER (WHERE wh IN (SELECT wh FROM dup)) AS BIGINT)
      |      AS n_dup_windows
      |  FROM w GROUP BY 1
      |)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |  COALESCE(wd.n_windows, 0) AS n_windows,
      |  COALESCE(wd.n_dup_windows, 0) AS n_dup_windows,
      |  CASE WHEN len(t.toks) > 0 THEN
      |    ROUND(CAST(COALESCE(cov.n_cov, 0) AS DOUBLE) / len(t.toks), 6)
      |  ELSE 0.0 END AS dup_cov,
      |  CAST((CASE WHEN len(t.toks) > 0 THEN
      |    ROUND(CAST(COALESCE(cov.n_cov, 0) AS DOUBLE) / len(t.toks), 6)
      |  ELSE 0.0 END) <= 0.25 AS INT) AS keep
      |FROM t LEFT JOIN wd USING (doc_id) LEFT JOIN cov USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  private[graft] def substringLifecycleBase(sfDir: String): String =
    "graft_sub_lc_" + Layout.corpusTag(sfDir)

  /** The substring-dedup LIFECYCLE under the oracle — stream ≡ batch
    * proof #8: the EVEN doc_ids' O(n) rolling window-hash rows are
    * batch-built into an epoch table, the ODD doc_ids stream through
    * [[graft.streaming.DocStream.substringWindowStream]] (one
    * windowRows append per micro-batch — the corpus-wide substring
    * STATE maintained incrementally), and the metric is computed from
    * the accumulated rows by the UNCHANGED [[metricsFromWindowRows]]
    * under the verbatim [[substringDedupSql]] oracle. Deterministic by
    * construction: the metric is a pure function of the window-row SET
    * — no survivor choice, no arrival-order dependence — so arbitrary
    * replay order cannot reach the hash (no watermark, no sentinel:
    * the stream is a stateless per-batch transform). Rotates a fresh
    * epoch every call and prunes to two.
    */
  def substringLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val base = substringLifecycleBase(sfDir)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val t = Layout.rotateEpoch(spark, base) { name =>
      windowRows(docs.filter(col("doc_id") % 2 === 0))
        .write.format("parquet").mode("overwrite").saveAsTable(name)
    }
    val odd = docs.filter(col("doc_id") % 2 =!= 0)
    Layout.replayAsStream(odd, "graft-sublc") { stream =>
      graft.streaming.DocStream.substringWindowStream(stream, t)
    }
    Layout.pruneEpochs(spark, base, keep = 2)
    graft.streaming.DocStream.substringDedupFromWindows(spark, t)
  }

  /** Arrival-order batch cut for the incremental-dedup demonstration:
    * docs below the midpoint id are the already-ingested corpus, the
    * rest are "today's batch" (doc_id encodes arrival order in the
    * testdata, as ingestion timestamps would in production).
    */
  private def batchCut(docs: DataFrame): Long =
    (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) / 2L

  /** EPOCH-FAMILY base name of the survivor index for one corpus dir
    * (physical tables are `<base>_e<N>` + `<base>_ptr` — Layout epochs). */
  private[graft] def dedupIndexName(sfDir: String): String =
    "graft_dedup_idx_" + Layout.corpusTag(sfDir)

  private[graft] val DedupIndexBuckets = 32

  /** Persist the exact-dedup SURVIVOR INDEX of the existing corpus:
    * one (key_hash, doc_id) row per distinct content key, bucketed by
    * the hash ([[Layout.writeBucketed]]). This is the state a daily
    * pretraining pipeline carries between runs — at 100 TB the corpus
    * is petabytes but its survivor index is one narrow 48-byte row per
    * distinct document, and it never gets re-scanned, only probed.
    * Epoch-versioned ([[Layout.ensureEpochIndex]]): a nightly rebuild
    * rotates to a new snapshot while running probes keep reading the
    * one they resolved; a bad build rolls back by pointer flip.
    */
  private def buildDedupEpoch(spark: SparkSession, sfDir: String)(name: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
    val old = docs.filter(col("doc_id") < batchCut(docs))
    val idx = old.groupBy(exactKey(col("text")).as("key_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
    Layout.writeBucketed(idx, name, "key_hash", DedupIndexBuckets)
  }

  def ensureDedupIndex(spark: SparkSession, sfDir: String): String =
    Layout.ensureEpochIndex(spark, dedupIndexName(sfDir))(buildDedupEpoch(spark, sfDir))

  /** The nightly-rebuild half of the epoch story: build a FRESH snapshot
    * of the survivor index as the next epoch (probes keep reading the
    * published one for the whole build) and flip the pointer. Returns the
    * new epoch's table; [[Layout.rollbackEpoch]] undoes a bad build.
    */
  def rebuildDedupIndex(spark: SparkSession, sfDir: String): String =
    Layout.rotateEpoch(spark, dedupIndexName(sfDir))(buildDedupEpoch(spark, sfDir))

  /** Library core: keep-first survivors of `batch` (doc_id, text, …)
    * against a persisted survivor index — within-batch min per content
    * key, then a left-anti probe of the bucketed index. */
  def dedupBatchAgainstIndex(spark: SparkSession, name: String, batch: DataFrame): DataFrame =
    batch.groupBy(exactKey(col("text")).as("key_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(spark.table(name).select(col("key_hash")), Seq("key_hash"), "left_anti")
      .select(col("doc_id"), col("key_hash"))

  /** Incremental cross-batch dedup — dedup the NEW batch against the
    * persisted survivor index WITHOUT re-scanning the old corpus:
    * within-batch keep-first (one shuffle on the content hash), then a
    * LEFT ANTI join against the bucketed index on its bucket key, so
    * the index side is read co-located and never re-shuffled
    * (spec-asserted: no ShuffleExchange above the index scan). Output:
    * the new batch's surviving (doc_id, key_hash) rows — exactly the
    * rows full-corpus dedup would add beyond the index, which is the
    * composition law `dedup(batch2 | index(batch1)) ∪ index(batch1) ≡
    * dedup(batch1 ∪ batch2)` the DedupOpsSpec proves.
    */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val name = ensureDedupIndex(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val newBatch = docs.filter(col("doc_id") >= batchCut(docs))
    dedupBatchAgainstIndex(spark, name, newBatch).orderBy(col("doc_id"))
  }

  val incrementalDedupSql: String =
    """WITH cut AS (
      |  SELECT (MAX(doc_id) + 1) // 2 AS c FROM documents
      |), oldk AS (
      |  SELECT DISTINCT md5(substring(text, 1, 40)) AS key_hash
      |  FROM documents WHERE doc_id < (SELECT c FROM cut)
      |), newk AS (
      |  SELECT md5(substring(text, 1, 40)) AS key_hash,
      |         CAST(MIN(doc_id) AS BIGINT) AS doc_id
      |  FROM documents WHERE doc_id >= (SELECT c FROM cut)
      |  GROUP BY 1
      |)
      |SELECT n.doc_id, n.key_hash FROM newk n
      |WHERE n.key_hash NOT IN (SELECT key_hash FROM oldk)
      |ORDER BY doc_id""".stripMargin

  /** Exact pairwise n-gram Jaccard near-dup pairs (threshold 0.5) over
    * 5-gram character shingles. **Adaptive two-strategy operator** — the
    * output is identical either way (and identical to a naive all-pairs
    * join, so the brute-force DuckDB oracle is unchanged); the strategy
    * is picked from a cheap corpus statistic, the shingle-vocabulary
    * size, the same way AQE picks plans from runtime stats:
    *
    *  - **Dense vocabulary** (V ≤ 64K and few enough docs to broadcast):
    *    every doc's shingle set becomes a ⌈V/64⌉-word bitmap;
    *    |A∩B| = popcount(A&B) via the codegen'd
    *    [[graft.functions.BitmapIntersectCount]] inside a broadcast
    *    nested-loop self-join. On a templated/synthetic corpus nearly
    *    all pairs share a shingle, so candidate pruning cannot beat
    *    O(n²) — the win is making each pair cost ~V/64 word-ops with no
    *    per-pair allocation. (The sf0.1 testdata has V≈2K over 5K docs:
    *    408 s naive → ~10 s.)
    *
    *  - **Sparse vocabulary** (real text at scale): frequency-ordered
    *    prefix filtering (AllPairs/PPJoin, Bayardo et al. WWW'07 —
    *    lossless). Global shingle order = (document-frequency asc,
    *    shingle asc); a doc of |x| shingles indexes only its
    *    |x| − ⌈t·|x|⌉ + 1 smallest shingles. If J(x,y) ≥ t then
    *    |x∩y| ≥ ⌈t·max(|x|,|y|)⌉, so the smallest common shingle sits
    *    inside BOTH prefixes — no qualifying pair is missed. Candidates
    *    pass the size filter min ≥ ⌈t·max⌉, then are verified exactly
    *    with `array_intersect` on the full sets.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    jaccardPairsIndexed(spark, sfDir, 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The corpus frame every shingle-family operator consumes: 5-gram
    * shingle sets over the fanned documents read (one definition, so
    * the persisted shingle index and every in-flight consumer agree on
    * what a document's shingle set IS).
    */
  private[graft] def shingledDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val n = 5
    Tables.documentsFanned(spark, sfDir)
      .filter(length(col("text")) >= n)
      .select(col("doc_id"), shingles(col("text"), n).as("sh"))
  }

  /** Library surface: exact Jaccard ≥ t pairs for any `docs` frame of
    * (doc_id: long, sh: array<string> — a distinct shingle set), with
    * the adaptive strategy choice described on [[ngramJaccard]].
    */
  def jaccardNearDupPairs(docs: DataFrame, t: Double): DataFrame = {
    // Materialize the shingle sets once: every consumer below (vocab
    // stat, inverted index, bitmap build, pair verification) would
    // otherwise re-run the interpreted shingling HOF over the corpus.
    val d = docs.corpusCheckpoint()
    val inv = d.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val vocab = inv.select(col("shingle")).distinct()
    // Runtime stats for the strategy choice (one cheap count job each —
    // the all-pairs compare that follows dwarfs them).
    val vocabSize = vocab.count()
    if (useBitmapStrategy(vocabSize, d.count()))
      bitmapAllPairsJaccard(d, inv, vocab, vocabSize.toInt, t)
    else prefixFilterJaccard(d, inv, t)
  }

  /** Strategy gate, factored out so the crossover is unit-testable. */
  private[graft] def useBitmapStrategy(vocabSize: Long, nDocs: Long): Boolean =
    vocabSize <= MaxBitmapVocab && nDocs * (nDocs - 1) / 2 <= MaxBitmapPairs

  /** Bitmap path constants: vocabulary must fit a small fixed-width
    * bitmap, and — since the bitmap path compares EVERY doc pair — the
    * gate is a **pair budget**, not a doc count: n·(n−1)/2 ≤ 10⁸ keeps
    * the BNLJ under ~10⁸ popcount loops (~seconds across a cluster,
    * and the ≲14K-row bitmap side trivially broadcastable). A raw doc
    * cap of 10⁵ would have admitted 5×10⁹ pairs — 50× over budget.
    */
  val MaxBitmapVocab = 65536L
  val MaxBitmapPairs = 100000000L

  /** Dense-vocab exact Jaccard: per-doc bitmaps + popcount over a
    * broadcast nested-loop self-join. `localCheckpoint` materializes the
    * tiny bitmap table once so the self-join doesn't rebuild it per side.
    */
  private[graft] def bitmapAllPairsJaccard(
      docs: DataFrame, inv: DataFrame, vocab: DataFrame,
      vocabSize: Int, t: Double): DataFrame =
    bitmapPairs(buildShingleBitmaps(inv, vocab, vocabSize), t)

  /** The all-pairs popcount BNLJ over a ready (doc_id, n_sh, bits)
    * bitmap frame — split out so the persisted shingle index can serve
    * the frame without rebuilding it.
    */
  private[graft] def bitmapPairs(bm: DataFrame, t: Double): DataFrame = {
    import graft.functions.BitmapIntersectCount
    val a = bm.as("a"); val b = bm.as("b")
    a.join(broadcast(b),
        col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n_sh"), col("b.n_sh")) >=
            ceil(greatest(col("a.n_sh"), col("b.n_sh")) * t))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        BitmapIntersectCount(col("a.bits"), col("b.bits")).as("n_inter"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= t)
  }

  /** Materialized (doc_id, n_sh, bits) bitmap table for a dense shingle
    * vocabulary. The vocab is ≤64K rows (callers gate on
    * [[MaxBitmapVocab]]) — indexed on the driver and broadcast, rather
    * than an unpartitioned row_number window (which would drag the frame
    * to one partition and warn in every run).
    */
  private[graft] def buildShingleBitmaps(
      inv: DataFrame, vocab: DataFrame, vocabSize: Int): DataFrame =
    buildShingleBitmapsIndexed(inv, indexVocab(vocab), vocabSize)

  /** Driver-side (shingle → bit index) dictionary as a small DataFrame —
    * factored out so [[ensureShingleIndex]] collects the vocab ONCE for
    * both the `_vocab` sidecar and the bitmap build.
    */
  private[graft] def indexVocab(vocab: DataFrame): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    vocab.orderBy(col("shingle")).collect()
      .map(_.getString(0)).zipWithIndex.toSeq.toDF("shingle", "idx")
  }

  private[graft] def buildShingleBitmapsIndexed(
      inv: DataFrame, indexed: DataFrame, vocabSize: Int): DataFrame = {
    import graft.functions.IndicesToBitmap
    val width = (vocabSize + 63) / 64
    inv.join(broadcast(indexed), "shingle")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("idx")).as("idxs"))
      .select(col("doc_id"),
        size(col("idxs")).cast("long").as("n_sh"),
        IndicesToBitmap(col("idxs"), lit(width)).as("bits"))
      .corpusCheckpoint()
  }

  /** Exact-Jaccard verification of an LSH candidate pair list against
    * the (doc_id, sh) corpus — adaptive like [[jaccardNearDupPairs]]:
    * a dense vocabulary verifies each candidate with one codegen'd
    * bitmap popcount (two narrow hash-join probes per pair), a sparse
    * one with `array_intersect` on the full shingle sets. Candidate
    * count, not corpus size, bounds the quadratic-ish work either way;
    * the adversarially dense testdata corpus makes the popcount path
    * ~30× faster (28 s → <1 s at sf0.1 for 1.8M candidates).
    */
  private[graft] def verifyCandidatesExact(
      cand: DataFrame, docs: DataFrame, t: Double): DataFrame = {
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val vocab = inv.select(col("shingle")).distinct()
    val vocabSize = vocab.count()
    val verified =
      if (vocabSize <= MaxBitmapVocab)
        verifyWithBitmaps(cand,
          buildShingleBitmaps(inv, vocab, vocabSize.toInt), vocabSize.toInt)
      else {
        cand
          .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
          .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_inter"),
            size(col("sh_a")).cast("long").as("n_a"),
            size(col("sh_b")).cast("long").as("n_b"))
      }
    thresholdJaccard(verified, t)
  }

  /** Raw (pre-threshold) candidate verification against a ready bitmap
    * frame. One bitmap row per DOC (not per pair): when that side is
    * small, broadcast it so both probes pipeline in the candidate scan —
    * otherwise the shuffle carries every candidate row twice with a
    * ⌈V/64⌉-word payload attached.
    */
  private[graft] def verifyWithBitmaps(
      cand: DataFrame, bm: DataFrame, vocabSize: Int): DataFrame = {
    import graft.functions.BitmapIntersectCount
    val width = (vocabSize + 63) / 64
    val bmSmall = bm.count() * (width + 2) * 8 <= 64L * 1024 * 1024
    val bmSide = if (bmSmall) broadcast(bm) else bm
    cand
      .join(bmSide.select(col("doc_id").as("doc_a"),
        col("n_sh").as("n_a"), col("bits").as("bits_a")), "doc_a")
      .join(bmSide.select(col("doc_id").as("doc_b"),
        col("n_sh").as("n_b"), col("bits").as("bits_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        BitmapIntersectCount(col("bits_a"), col("bits_b")).as("n_inter"),
        col("n_a"), col("n_b"))
  }

  private def thresholdJaccard(verified: DataFrame, t: Double): DataFrame =
    verified
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))

  // ---------------------------------------------------------------------
  // Persisted shingle-bitmap index — the shared substrate of the
  // exact-Jaccard family
  // ---------------------------------------------------------------------

  private[graft] def shingleIndexName(sfDir: String): String =
    "graft_shbm_idx_" + Layout.corpusTag(sfDir)

  private[graft] val ShingleIndexBuckets = 32

  /** Persist the (doc_id, n_sh, bits) shingle BITMAP table — the state
    * every exact-Jaccard consumer (all-pairs [[ngramJaccard]], the
    * group resolvers, [[minhashVerified]]'s candidate verification)
    * previously rebuilt per query: shingling, vocab distinct, driver
    * vocab indexing, bitmap aggregation. Built once per corpus epoch,
    * bucketed by doc_id (candidate-verification joins arrive co-located);
    * the `_vocab` sidecar stores the (shingle, idx) dictionary — its row
    * count is the vocabulary size the verification's broadcast sizing
    * uses, and the mapping is what an append would need to encode new
    * documents into the SAME bit positions.
    *
    * Returns None — and callers stay on their in-flight adaptive path —
    * when the corpus fails the bitmap gate ([[useBitmapStrategy]]):
    * a sparse-vocab corpus takes the prefix-filter path, which has no
    * dense bitmap state worth persisting.
    */
  /** Session-lifetime memo of corpora the bitmap gate REJECTED: the gate
    * evaluation itself costs a corpus shingling + vocab distinct + two
    * count jobs, and every rejected call is followed by the caller's
    * in-flight fallback doing the same work again — without the memo a
    * sparse-vocab corpus would pay the doubled gate forever, once per
    * query. Keyed by the epoch base name (corpus tag); a corpus append
    * rotates the epoch through [[Layout.rotateEpoch]], which never
    * touches rejected corpora, so the only staleness is a corpus edited
    * in place under the same sfDir.
    */
  private val shingleGateRejected =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def ensureShingleIndex(spark: SparkSession, sfDir: String): Option[String] = {
    Layout.pinBucketedReads(spark)
    val base = shingleIndexName(sfDir)
    if (shingleGateRejected.contains(base)) None
    else Layout.currentEpochTable(spark, base) match {
      case Some(t) if Seq(t, t + "_vocab").forall(spark.catalog.tableExists) =>
        Some(t)
      case _ =>
        val docs = shingledDocs(spark, sfDir).corpusCheckpoint()
        val inv = docs.select(col("doc_id"), explode(col("sh")).as("shingle"))
        val vocab = inv.select(col("shingle")).distinct()
        val vocabSize = vocab.count()
        if (!useBitmapStrategy(vocabSize, docs.count())) {
          shingleGateRejected.add(base); None
        } else Some(Layout.rotateEpoch(spark, base, sidecars = Seq("_vocab")) { t =>
          // ONE driver-side vocab collect feeds both the sidecar and the
          // bitmap build (previously collected once per consumer);
          // `indexed` is a LocalRelation, so the two writes are
          // independent — overlapped (guide §2.6)
          val indexed = indexVocab(vocab)
          Layout.inParallel(
            () => indexed
              .write.format("parquet").mode("overwrite").saveAsTable(t + "_vocab"),
            () => Layout.writeBucketed(
              buildShingleBitmapsIndexed(inv, indexed, vocabSize.toInt),
              t, "doc_id", ShingleIndexBuckets))
        })
    }
  }

  /** The parquet round-trip erases `containsNull=false` from the stored
    * bits arrays, which [[graft.functions.BitmapIntersectCount]] rejects
    * at analysis time by design. Elements are never null by construction
    * (indices_to_bitmap wrote them), so re-assert the property with one
    * row-local pass at the SCAN — per doc, not per pair, so the
    * popcount loop's no-null-branch codegen is preserved.
    */
  private def readBitmaps(spark: SparkSession, tbl: String): DataFrame =
    spark.table(tbl).withColumn("bits",
      transform(col("bits"), x => coalesce(x, lit(0L))))

  /** Corpus-keyed exact-Jaccard pairs served from the persisted shingle
    * index when the bitmap gate admits the corpus (identical output to
    * [[jaccardNearDupPairs]] — same bitmaps, same BNLJ — so every
    * consumer keeps its oracle); in-flight adaptive otherwise.
    */
  def jaccardPairsIndexed(spark: SparkSession, sfDir: String,
      t: Double): DataFrame =
    ensureShingleIndex(spark, sfDir) match {
      case Some(tbl) => bitmapPairs(readBitmaps(spark, tbl), t)
      case None      => jaccardNearDupPairs(shingledDocs(spark, sfDir), t)
    }

  /** Exact-Jaccard pairs among a SUBSET of the corpus, served from the
    * persisted index bitmaps semi-joined to `ids`. Jaccard of two
    * documents is independent of which OTHER documents exist, so
    * full-corpus-vocab bitmaps compute identical pairs for any subset;
    * `inFlight` supplies the subset's (doc_id, sh) frame for the
    * adaptive fallback when the gate rejects the corpus.
    */
  def jaccardPairsIndexedAmong(spark: SparkSession, sfDir: String,
      ids: DataFrame, t: Double)(inFlight: => DataFrame): DataFrame =
    ensureShingleIndex(spark, sfDir) match {
      case Some(tbl) =>
        bitmapPairs(readBitmaps(spark, tbl).join(ids, Seq("doc_id"), "left_semi"), t)
      case None => jaccardNearDupPairs(inFlight, t)
    }

  /** Candidate verification against the persisted shingle index (the
    * [[verifyCandidatesExact]] bitmap branch with the build amortized);
    * in-flight adaptive when the gate rejects the corpus.
    */
  private[graft] def verifyCandidatesIndexed(spark: SparkSession,
      sfDir: String, cand: DataFrame, t: Double): DataFrame =
    ensureShingleIndex(spark, sfDir) match {
      case Some(tbl) =>
        val vocabSize = spark.table(tbl + "_vocab").count().toInt
        thresholdJaccard(
          verifyWithBitmaps(cand, readBitmaps(spark, tbl), vocabSize), t)
      case None =>
        // Gate-rejected corpus: verification only ever touches candidate
        // docs, so restrict the shingle frame FIRST (the in-flight
        // vocab/bitmap build inside verifyCandidatesExact is then
        // candidate-sized, not corpus-sized) and materialize it once —
        // the vocab count and both join sides would otherwise re-run
        // the interpreted shingling HOF over the corpus per consumer.
        val c = cand.corpusCheckpoint() // id restriction + verify plan
        val candIds = c.select(col("doc_a").as("doc_id"))
          .union(c.select(col("doc_b").as("doc_id"))).distinct()
        val needed = shingledDocs(spark, sfDir)
          .join(candIds, Seq("doc_id"), "left_semi").corpusCheckpoint()
        verifyCandidatesExact(c, needed, t)
    }

  /** Candidate budget for the prefix-filter path — the [[MaxBitmapPairs]]
    * analog for the regime the bitmap gate can't take (>64K vocab). The
    * prefix self-join generates Σ_s c_s·(c_s−1)/2 raw candidates, where
    * c_s counts the PREFIX entries carrying shingle s: on real sparse
    * corpora this is near-linear (frequency-ordering puts only each
    * doc's RAREST shingles in its prefix — round-5 crossover corpus A,
    * 100K docs / 1.18M vocab, ran the whole path in 153.4 s and its
    * cost was the verification of 2.45M genuinely-similar pairs, not
    * candidate explosion). An ADVERSARIALLY dense corpus — huge vocab
    * (so the bitmap gate is closed) whose docs still share their rare
    * shingles, e.g. near-identical templates with unique noise — can
    * push c_s toward n and the candidate count toward n²/2, and no
    * lossless exact-Jaccard algorithm can do better there (the output
    * itself is quadratic). The guard computes the exact candidate count
    * with one linear aggregation over the prefix index (dwarfed by the
    * join it protects) and fails FAST with the actionable knobs —
    * raise t (shorter prefixes), longer shingles (rarer collisions), or
    * shard the corpus — instead of melting down in the self-join.
    */
  val MaxPrefixCandidates = 1000000000L

  /** Sparse-vocab exact Jaccard: AllPairs/PPJoin prefix filtering (see
    * [[ngramJaccard]] scaladoc for the completeness argument and
    * [[MaxPrefixCandidates]] for the dense-corpus cost model + guard).
    */
  private[graft] def prefixFilterJaccard(
      docs: DataFrame, inv: DataFrame, t: Double,
      maxCandidates: Long = MaxPrefixCandidates): DataFrame = {
    val dfreq = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // per-doc shingles sorted by the global (df, shingle) order
    val ranked = inv.join(dfreq, "shingle")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("rsh"))
      .select(col("doc_id"),
        transform(col("rsh"), r => r.getField("shingle")).as("ssh"),
        size(col("rsh")).as("n_sh"))
    val prefix = ranked.select(col("doc_id"), col("n_sh"),
      explode(slice(col("ssh"), lit(1),
        (col("n_sh") - ceil(col("n_sh") * t) + 1).cast("int"))).as("shingle"))
      .corpusCheckpoint() // one materialization feeds the guard + both join sides
    // long arithmetic throughout (Spark's `/` on longs yields double,
    // which loses exactness past 2^53); c·(c−1) is even so /2 is exact
    val rawCandidates = prefix.groupBy(col("shingle"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)).cast("long"))
      .head().getLong(0) / 2
    if (rawCandidates > maxCandidates)
      throw new IllegalStateException(
        s"prefix-filter candidate budget exceeded: $rawCandidates raw " +
          s"candidates > $maxCandidates. The corpus is adversarially dense " +
          "(docs share even their rarest shingles); raise t, use longer " +
          "shingles, or shard the corpus before the self-join.")
    val a = prefix.as("a"); val b = prefix.as("b")
    val cand = a.join(b,
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n_sh"), col("b.n_sh")) >=
            ceil(greatest(col("a.n_sh"), col("b.n_sh")) * t))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_inter"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= t)
  }

  /** Oracle CTE chain for exact n-gram Jaccard pairs, ending in
    * `jpairs(doc_a, doc_b, n_inter, jaccard)` — shared by
    * [[ngramJaccardSql]] and [[neardupGroupsSql]].
    */
  private[graft] val jaccardPairCtes: String =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, length(text) - 4),
      |    i -> substring(text, i, 5)))) AS shingle
      |  FROM documents
      |  WHERE length(text) >= 5
      |), sizes AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(COUNT(*) AS BIGINT) AS n_inter
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |), jpairs AS (
      |  SELECT i.doc_a, i.doc_b, i.n_inter,
      |    CAST(i.n_inter AS DOUBLE)
      |      / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard
      |  FROM inter i
      |  JOIN sizes sa ON i.doc_a = sa.doc_id
      |  JOIN sizes sb ON i.doc_b = sb.doc_id
      |  WHERE CAST(i.n_inter AS DOUBLE)
      |      / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5
      |)""".stripMargin

  val ngramJaccardSql: String =
    s"""WITH $jaccardPairCtes
       |SELECT doc_a, doc_b, n_inter, jaccard FROM jpairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** IDF-weighted cosine near-duplicate pairs over word-shingle TF
    * vectors — the SpotSigs-style signal (Theobald et al. SIGIR'08):
    * each document is a sparse vector over its word 3-gram shingles
    * weighted `tf · ln(N/df)`, and a near-dup is a pair with cosine
    * ≥ 0.5 in the vector space RESTRICTED to discriminative shingles
    * (df ≤ 32). This completes the near-dup family's third axis:
    * [[ngramJaccard]] treats every shingle equally (set overlap),
    * [[simhash]] compresses the weighted vector to one 32-bit word
    * (lossy), while IDF-weighted cosine keys the decision on shared
    * DISCRIMINATIVE phrasing — boilerplate shingles that appear
    * corpus-wide cannot vote a pair together no matter how many a pair
    * shares.
    *
    * The df cap is load-bearing twice. Semantically it defines the
    * restricted vector space (the stopword-pruning every VSM retrieval
    * system applies). Physically it is the candidate bound: pairs are
    * generated per-shingle, and Σ_{df≤cap} df² ≤ cap · |restricted
    * postings| — LINEAR in corpus size at constant cap, never
    * all-pairs. The generation is exact (not probabilistic like LSH
    * banding): any pair with nonzero restricted cosine shares ≥1
    * restricted shingle by definition, so no qualifying pair can be
    * missed.
    *
    * Plan at 100 TB: one corpus tokenize→shingle hash-aggregate for tf
    * (map-side combined), one vocab-sized df aggregate off it, the
    * df-capped self-join on `shingle` (fan-out bounded as above), one
    * doc-grain norm aggregate, and the candidate-pair aggregate whose
    * norm joins AQE broadcasts while the candidate set is small. The
    * tf and restricted-weight frames materialize once
    * ([[Materialize.corpus]]) because each feeds multiple consumers.
    * Double sums (dot, norms) are order-ambiguous across engines only
    * below ~1e-12 relative; rounding the cosine to 6 decimals before
    * the threshold compare absorbs that (the bm25/keywordSearch
    * precedent), and the corpus's score distribution is bimodal
    * (planted near-dups ≥ 0.92, unrelated pairs ≤ 0.13 at sf0.01) so
    * the 0.5 threshold sits in a wide margin.
    */
  def tfidfNeardup(spark: SparkSession, sfDir: String): DataFrame =
    tfidfNeardupPairs(Tables.documentsFanned(spark, sfDir), dfCap = 32L, t = 0.5)

  /** Library core of [[tfidfNeardup]] for any (doc_id, text) frame —
    * parameterized so specs can exercise the df cap on planted
    * fixtures (a corpus-wide boilerplate shingle must be excluded from
    * both weights and candidate generation). */
  private[graft] def tfidfNeardupPairs(
      docs: DataFrame, dfCap: Long, t: Double): DataFrame = {
    val toksed = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3) // sequence(1, n-2) needs n ≥ 3 (negative-step pitfall)
    val sh = toksed.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("toks")) - 2), i =>
        concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2)))).as("shingle"))
    val tf = sh.groupBy(col("shingle"), col("doc_id"))
      .agg(count(lit(1)).as("tf")).corpusCheckpoint()
    // N = full corpus size (standard VSM idf), incl. docs too short to shingle
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val dfT = tf.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val r = tf.join(dfT.filter(col("df") <= dfCap), "shingle")
      .crossJoin(broadcast(nDocs))
      .select(col("shingle"), col("doc_id"),
        (col("tf").cast("double") * log(col("n_docs") / col("df").cast("double")))
          .as("w"))
      .corpusCheckpoint()
    val nrm = r.groupBy(col("doc_id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val dot = r.select(col("shingle"), col("doc_id").as("doc_a"), col("w").as("wa"))
      .join(r.select(col("shingle"), col("doc_id").as("doc_b"), col("w").as("wb")),
        Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    dot
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= t)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val tfidfNeardupSql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                         FOR i IN range(1, len(toks) - 1)]) AS shingle
      |  FROM tok WHERE len(toks) >= 3
      |), tf AS (
      |  SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM sh GROUP BY 1, 2
      |), n AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
      |), dfs AS (
      |  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
      |), r AS (
      |  SELECT tf.doc_id, tf.shingle,
      |    CAST(tf.tf AS DOUBLE) * LN(n.n_docs / CAST(dfs.df AS DOUBLE)) AS w
      |  FROM tf JOIN dfs USING (shingle) CROSS JOIN n
      |  WHERE dfs.df <= 32
      |), nrm AS (
      |  SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM r GROUP BY 1
      |), dt AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
      |  FROM r a JOIN r b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT dt.doc_a, dt.doc_b,
      |  ROUND(dt.dot / (na.nrm * nb.nrm), 6) AS cosine
      |FROM dt
      |JOIN nrm na ON na.doc_id = dt.doc_a
      |JOIN nrm nb ON nb.doc_id = dt.doc_b
      |WHERE ROUND(dt.dot / (na.nrm * nb.nrm), 6) >= 0.5
      |ORDER BY dt.doc_a, dt.doc_b""".stripMargin

  /** 32-bit SimHash signatures over token features (Charikar '02):
    * token hash = first 8 hex chars of md5 (engine-portable); each of
    * the 32 bit positions accumulates +tf when the token hash has the
    * bit set, −tf otherwise; signature bit j = [Σ_j ≥ 0].
    *
    * Shape: one explode + two hash aggregates — map-side partial agg
    * makes the shuffle carry (doc, token) pairs then one 32-column row
    * per doc; no join, no skew risk (doc_id keys are unique).
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashSignatures(Tables.documentsFanned(spark, sfDir)).orderBy(col("doc_id"))

  /** Core: (doc_id, simhash: long) for a (doc_id, text) frame. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val hashed = toks.select(col("doc_id"), col("tf"),
      conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long").as("h"))
    val sumExprs = (0 until 32).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, col("tf"))
        .otherwise(-col("tf"))).as(s"s$j"))
    val sums = hashed.groupBy(col("doc_id")).agg(sumExprs.head, sumExprs.tail: _*)
    val sig = (0 until 32)
      .map(j => when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** Shared oracle CTE chain ending in `sig(doc_id, simhash)` —
    * declared BEFORE every val interpolating it (object init order),
    * composed by CTE list rather than string surgery on a complete
    * statement (the round-3 failure class).
    */
  private val simhashSigCtes: String = {
    val sums = (0 until 32).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN tf ELSE -tf END) AS s$j").mkString(",\n      ")
    val bits = (0 until 32).map(j =>
      s"(CASE WHEN s$j >= 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END)").mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
       |    FROM documents) WHERE token <> '' GROUP BY doc_id, token
       |), hashed AS (
       |  SELECT doc_id, tf,
       |    CAST(CONCAT('0x', substring(md5(token), 1, 8)) AS BIGINT) AS h
       |  FROM toks
       |), sums AS (
       |  SELECT doc_id,
       |      $sums
       |  FROM hashed GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, $bits AS simhash FROM sums
       |)""".stripMargin
  }

  val simhashSql: String =
    s"""WITH $simhashSigCtes
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs (hamming ≤ 2) via **banded bucketing**, not
    * an all-pairs join: the 32-bit signature splits into 3 bands
    * (11/11/10 bits); by pigeonhole, ≤2 differing bits can spoil at
    * most 2 bands, so every qualifying pair shares ≥1 intact band —
    * exact candidate generation with one shuffle on (band, value),
    * then hamming verification on the candidates only. Same shape as
    * MinHash-LSH banding, but lossless for the hamming threshold.
    */
  def simhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    simhashNearDupPairs(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  /** The UNSORTED pair core of [[simhashNearDup]] — consumed directly by
    * [[ensembleGroups]], whose connected-components shuffle would bury a
    * global range sort anyway (the sorted form is only the oracle-hashed
    * output surface).
    */
  private[graft] def simhashNearDupPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val maxHamming = 2
    // materialized: the band self-join reads the signatures twice
    val sig = simhashSignatures(Tables.documentsFanned(spark, sfDir)).corpusCheckpoint()
    // 3 bands: bits [0,11), [11,22), [22,32)
    val bandsOf = Seq((0, 11), (11, 11), (22, 10))
    val bands = sig.select(col("doc_id"), col("simhash"),
      explode(array(bandsOf.zipWithIndex.map { case ((off, len), i) =>
        struct(lit(i).as("band"),
          shiftright(col("simhash"), off).bitwiseAND(lit((1L << len) - 1)).as("v"))
      }: _*)).as("bv"))
      .select(col("doc_id"), col("simhash"),
        col("bv.band").as("band"), col("bv.v").as("v"))
    val a = bands.as("a"); val b = bands.as("b")
    // hamming filter INSIDE the join condition: band collisions between
    // dissimilar docs (11-bit band values collide often on a clustered
    // corpus) die before the dedup shuffle ever sees them
    a.join(b,
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id") &&
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
  }

  val simhashNearDupSql: String =
    s"""WITH $simhashSigCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash-LSH candidate near-dup pairs: 8 hash components, 4 bands ×
    * 2 rows. A pair is a candidate iff some band's 2-hash slice matches
    * exactly. Output: candidate pairs with their (exact) band match
    * count — at scale you then verify candidates with exact Jaccard on
    * the (tiny) candidate set only.
    *
    * Hashing: TWO seed-tagged md5s per shingle, computed once in a
    * dedicated projection, then sliced into 8 fixed-width 8-hex-char
    * (32-bit) pieces; each minhash component is the per-piece array_min.
    * Fixed-width hex compares lexicographically ≡ numerically, md5 is
    * stable across engines so even the LSH path is oracle-checkable.
    * (2 md5 calls/shingle instead of 8 — md5 dominates signature cost;
    * this cut the sf0.1 bench from 18 s to ~6 s.)
    */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    // Served from the persisted band index since round 8: the band rows
    // are BUILT by [[minhashBands]] over [[shingledDocs]], so the
    // candidate set is identical to running the pipeline in-flight
    // (same oracle gates both this and q_minhash_persisted) — the
    // signature pass just runs once per corpus instead of once per
    // query. The in-flight banding stays exercised by the index build
    // itself and by the r=1 fuzzy-decontamination net.
    minhashPersisted(spark, sfDir)

  /** Library surface: LSH candidate pairs (doc_a, doc_b, n_bands) for any
    * (doc_id, sh: array<string>) frame — the banding stage of the Broder
    * pipeline, reusable by [[minhashVerified]].
    */
  def minhashCandidates(docs: DataFrame): DataFrame =
    bandCandidates(minhashBands(docs))

  /** Candidate pairs from a (doc_id, bucket) band frame — shared by
    * the in-flight pipeline and the persisted-index probe, so the
    * join/aggregation semantics (which the shared oracle gates for
    * BOTH queries) cannot drift between them.
    */
  private def bandCandidates(bands: DataFrame): DataFrame = {
    val l = bands.as("l"); val r = bands.as("r")
    l.join(r, col("l.bucket") === col("r.bucket") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** The banding stage alone: (doc_id, bucket) rows, 4 per document —
    * the state [[minhashCandidates]] self-joins, and the frame
    * [[ensureMinhashIndex]] persists.
    */
  def minhashBands(docs: DataFrame): DataFrame =
    minhashBandsWith(docs, rowsPerBand = 2)

  /** [[minhashBands]] with a chosen band width — the sensitivity knob:
    * r rows per band over 8 hashes gives hit probability
    * 1 − (1 − Jʳ)^(8/r), so r = 2 (4 bands) targets the dedup family's
    * J ≥ 0.5 and r = 1 (8 bands) the fuzzy-decontamination triage net
    * at J ≥ 0.25 (0.90 recall there, vs 0.23 under r = 2).
    */
  private[graft] def minhashBandsWith(docs: DataFrame,
      rowsPerBand: Int): DataFrame = {
    val nHashes = 8
    // Row-level (NOT higher-order-function) hashing: HOF lambdas are
    // CodegenFallback in Spark, so md5-inside-transform runs interpreted.
    // explode → codegen'd md5 → groupBy(doc) with 8 min(substring)
    // aggregates (map-side partial agg: the shuffle carries one
    // 8×8-char row per doc per mapper, not per shingle).
    //
    // Measured negative result, recorded so it isn't retried: hashing a
    // broadcast DISTINCT-shingle dictionary and probing it per instance
    // (5000× fewer md5 calls on this corpus) benched SLOWER than inline
    // hashing at sf0.1 (6.0 s vs 3.5 s for q_minhash_lsh) — the join
    // probe + extra stat/distinct jobs cost more than the two codegen'd
    // md5 calls they replace, and the join breaks the single
    // explode→hash→partial-agg codegen pipeline.
    val hashed = docs
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        concat(md5(concat(lit("a|"), col("s"))),
               md5(concat(lit("b|"), col("s")))).as("h64"))
    val minExprs = (0 until nHashes).map(i =>
      min(substring(col("h64"), 1 + 8 * i, 8)).as(s"h$i"))
    // one signature row per doc; materialized so the band self-join
    // below doesn't re-run the md5 pass per side
    val sig = hashed.groupBy(col("doc_id")).agg(minExprs.head, minExprs.tail: _*)
      .corpusCheckpoint()
    // One pass over sig: each row fans out to its band buckets via
    // explode (band index is baked into the bucket hash input, so buckets
    // from different bands cannot collide).
    val bandCols = (0 until nHashes / rowsPerBand).map { b =>
      md5(concat_ws("|",
        (lit(b.toString) +:
          (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))): _*))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bucket"))
  }

  /** Epoch-family base name ([[dedupIndexName]] conventions). */
  private[graft] def minhashIndexName(sfDir: String): String =
    "graft_minhash_idx_" + Layout.corpusTag(sfDir)

  private[graft] val MinhashIndexBuckets = 32

  /** Persist the minhash BAND index — the third persisted index type
    * beside the IVF cell table and the exact-dedup survivor index: the
    * (doc_id, bucket) band rows, bucketed BY the band bucket. The
    * signature pass (the md5-dominated cost of the whole minhash
    * pipeline) runs once at build; every later candidate query
    * self-joins the stored table with BOTH sides arriving co-located
    * on the join key, so candidate generation needs no exchange at all
    * (spec-asserted). This is the shape an always-on dedup service
    * runs: index the corpus nightly, answer "what collides with what"
    * from the index.
    */
  def ensureMinhashIndex(spark: SparkSession, sfDir: String): String =
    Layout.ensureEpochIndex(spark, minhashIndexName(sfDir)) { name =>
      Layout.writeBucketed(bandRowsOf(Tables.documentsFanned(spark, sfDir)),
        name, "bucket", MinhashIndexBuckets)
    }

  /** The (doc_id, bucket) band rows of a (doc_id, text, …) frame — the
    * ONE encode path shared by the bulk index build
    * ([[ensureMinhashIndex]], [[dedupLifecycle]]'s batch half) and the
    * streamed maintenance appends
    * ([[graft.streaming.DocStream.appendBandsStream]]), so stream-built
    * and batch-built band indexes cannot diverge. Same n=5 shingles and
    * length guard as the in-flight minhash family.
    */
  private[graft] def bandRowsOf(docs: DataFrame): DataFrame = {
    val n = 5
    minhashBands(docs
      .filter(length(col("text")) >= n)
      .select(col("doc_id"), shingles(col("text"), n).as("sh")))
  }

  /** Append one micro-batch's band rows to epoch table `name`,
    * preserving the bucket spec (bucketBy the band bucket, like the
    * bulk build) so candidate self-joins stay exchange-free over
    * build + appends alike.
    */
  private[graft] def appendBandRows(name: String, batch: DataFrame): Unit = {
    // micro-batch-sized, inside foreachBatch: a failed batch re-runs
    // from the STREAM's checkpoint, which is the recovery path here
    val rows = bandRowsOf(batch).localCheckpoint()
    if (!rows.isEmpty)
      rows.write.format("parquet")
        .bucketBy(MinhashIndexBuckets, "bucket").sortBy("bucket")
        .mode("append").saveAsTable(name)
    rows.unpersist()
    ()
  }

  /** Catalog base of [[dedupLifecycle]]'s OWN epoch family — separate
    * from [[minhashIndexName]] so the lifecycle rebuild never races the
    * shared index q_minhash_persisted and the verified/group keys probe.
    */
  private[graft] def dedupLifecycleBase(sfDir: String): String =
    "graft_mh_lc_" + Layout.corpusTag(sfDir)

  /** The DEDUP lifecycle under the oracle — sixth member of the
    * stream ≡ batch family (search / ANN / IVF×PQ / events / media):
    * bulk-build the minhash BAND index from HALF the corpus (even
    * doc_ids), stream the other half through the REAL maintenance path
    * ([[graft.streaming.DocStream.appendBandsStream]] — a Structured
    * Streaming file source micro-batching the odd half through
    * [[appendBandRows]]'s bucket-spec-preserving appends), then answer
    * the standard LSH candidate query from the appended epoch. The
    * oracle is [[minhashLshSql]] VERBATIM — the one-pass full-corpus
    * recompute — so the driver hash-match proves build + streamed
    * appends reconstruct exactly the band state a one-pass build
    * produces (banding is per-document independent, so arrival order
    * and batch boundaries cannot change the rows — the property the
    * spec proves in-process and this key puts in the driver gate).
    *
    * Rotates a fresh epoch every call (the rebuild IS the operator —
    * caching would reduce this key to a second q_minhash_persisted)
    * and prunes to two. No corpus-sized driver state: the streamed
    * half rides a parquet file source, not a driver collect.
    */
  def dedupLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val base = dedupLifecycleBase(sfDir)
    // quarter-corpus (doc_id % 4 = 0) under the matching filtered
    // oracle ([[dedupLifecycleSql]]) — r14 lifecycle fixed-cost
    // discipline: banding is per-document independent, so the
    // build+append ≡ one-pass claim is corpus-size invariant, while
    // the per-call shingle+minhash rebuild is corpus-linear. The batch
    // key q_minhash_lsh keeps the full-corpus oracle.
    val docs = Tables.documentsFanned(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 4 === 0)
    val even = docs.filter(col("doc_id") % 8 === 0)
    val odd = docs.filter(col("doc_id") % 8 =!= 0)
    val t = Layout.rotateEpoch(spark, base) { name =>
      Layout.writeBucketed(bandRowsOf(even), name, "bucket", MinhashIndexBuckets)
    }
    Layout.withStagedParquet(odd, "graft-mhlc") { arrivals =>
      val stream = graft.streaming.DocStream.appendBandsStream(
        spark.readStream.schema(odd.schema).parquet(arrivals), base)
      try stream.processAllAvailable() finally stream.stop()
    }
    Layout.pruneEpochs(spark, base, keep = 2)
    bandCandidates(spark.table(t)).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Epoch-family base of the r=1 (8-band) index that serves fuzzy
    * decontamination — a SEPARATE family from [[minhashIndexName]]'s
    * r=2 bands because the two bandings answer different recall
    * targets (J ≥ 0.25 triage vs J ≥ 0.5 dedup) and must never mix.
    */
  private[graft] def fuzzyBandIndexName(sfDir: String): String =
    "graft_fband_idx_" + Layout.corpusTag(sfDir)

  /** Persist the r=1 band rows over the whole corpus (benchmark docs
    * included — the triage anti/semi-joins split them at probe time),
    * bucketed by band bucket like [[ensureMinhashIndex]]. The 8-hash
    * md5 signature pass — the dominant cost of
    * [[graft.operators.CurationOps.decontaminateFuzzy]] — runs once
    * per corpus epoch instead of once per query.
    */
  def ensureFuzzyBandIndex(spark: SparkSession, sfDir: String): String =
    Layout.ensureEpochIndex(spark, fuzzyBandIndexName(sfDir)) { name =>
      Layout.writeBucketed(
        minhashBandsWith(shingledDocs(spark, sfDir), rowsPerBand = 1),
        name, "bucket", MinhashIndexBuckets)
    }

  /** LSH candidate pairs served from the persisted band index —
    * identical output to [[minhashLsh]] (same oracle), but the
    * signature pass is amortized into the index build and the band
    * self-join runs exchange-free on the bucketed table.
    */
  def minhashPersisted(spark: SparkSession, sfDir: String): DataFrame =
    bandCandidates(spark.table(ensureMinhashIndex(spark, sfDir)))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The full Broder MinHash pipeline: LSH candidates verified with EXACT
    * Jaccard on the candidate set only — survivors are pairs with true
    * J ≥ t. This is the 100 TB near-dup operator: the quadratic work is
    * confined to bucket-local candidate pairs (linear-ish on real
    * corpora), and the verification join touches only candidate rows.
    */
  def minhashVerified(spark: SparkSession, sfDir: String): DataFrame =
    minhashVerifiedPairs(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  /** Library surface: the verified pair set of [[minhashVerified]]
    * (unordered) — also the edge list for [[neardupGroups]]. */
  def minhashVerifiedPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // both stages ride persisted state since round 8: candidates from
    // the band index, verification bitmaps from the shingle index —
    // identical output to the in-flight pipeline (band rows and bitmaps
    // encode the same shingle sets), so the oracle is unchanged
    val cand = bandCandidates(spark.table(ensureMinhashIndex(spark, sfDir)))
      .select(col("doc_a"), col("doc_b"))
    verifyCandidatesIndexed(spark, sfDir, cand, 0.5)
  }

  /** Near-dup GROUP resolution — the operation a curation pipeline
    * actually runs on its pair list: verified near-dup pairs → connected
    * components → keep-first survivor per group. Output is one row per
    * document: its group id (the smallest doc_id reachable through
    * near-dup edges; singletons are their own group) and whether it is
    * the kept representative.
    *
    * Components come from iterative min-label propagation
    * ([[connectedComponents]]): O(component diameter) rounds of one
    * shuffle join + partial-agg min each. Near-dup graphs are
    * short-diameter (dups cluster around a template), so this converges
    * in a handful of rounds at any corpus size; for adversarial
    * long-chain graphs the large-star/small-star algorithm (Kiveris et
    * al., SoCC'14) halves the diameter per round instead.
    */
  def neardupGroups(spark: SparkSession, sfDir: String): DataFrame = {
    val vertices = Tables.documents(spark, sfDir).select(col("doc_id"))
    val pairs = jaccardPairsIndexed(spark, sfDir, 0.5)
      .select(col("doc_a"), col("doc_b"))
    connectedComponents(vertices, pairs)
      .select(col("doc_id"), col("group_id"),
        (col("doc_id") === col("group_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Connected components over (doc_id) vertices and (doc_a, doc_b)
    * undirected edges → (doc_id, group_id = min id in component).
    *
    * **Adaptive two-strategy operator**, same posture as
    * [[jaccardNearDupPairs]]: the strategy is picked from the edge
    * count, the output is identical either way.
    *
    *  - **Small edge set** (≤ [[MaxDriverEdges]], ~32 MB of long pairs):
    *    collect the PAIR LIST — not the corpus — to the driver and run
    *    path-compressed union-find in milliseconds. This is the same
    *    collect-small-state pattern as the k-means codebook and the
    *    bitmap vocabulary index: iterative shuffle rounds on a
    *    few-hundred-row graph cost more in job scheduling than the
    *    whole answer.
    *  - **Large edge set**: distributed min-label propagation, one
    *    shuffle join + partial-agg min per round, label frames persisted
    *    per round and released when superseded. Labels only ever
    *    decrease, so `changed = rows where new < old` reaching 0 is a
    *    fixpoint; non-convergence inside the diameter backstop throws
    *    rather than returning silently split groups.
    *
    * Either path emits labels for edge ENDPOINTS only; vertices with no
    * incident edge are trivially their own component and union back in
    * at the end without paying any propagation.
    */
  val MaxDriverEdges = 2000000L

  def connectedComponents(vertices: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponents(vertices, pairs, MaxDriverEdges)

  /** `maxDriverEdges` is injectable so specs can force the distributed
    * path on small graphs; `maxPropagationRounds` so specs can trigger
    * the diameter-halving fallback cheaply. Production callers use the
    * defaults. */
  private[graft] def connectedComponents(
      vertices: DataFrame, pairs: DataFrame, maxDriverEdges: Long,
      maxPropagationRounds: Int = 50): DataFrame = {
    // checkpoint BEFORE the union self-reference: both union branches read
    // the materialized pair list instead of re-running its pipeline twice
    val p = pairs.corpusCheckpoint()
    if (p.count() <= maxDriverEdges) return driverUnionFind(vertices, p)
    val edges = p
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // Iterate over edge ENDPOINTS only: near-dup graphs are sparse
    // relative to the corpus, so the label frame the rounds churn on is
    // a sliver of the vertex set; every vertex not touching an edge is
    // trivially its own component and unions back in at the end without
    // ever paying a propagation round. When the endpoint set is small,
    // broadcast the per-round label frames — the rounds then run with
    // no shuffle except the tiny neighbor-min aggregation.
    val endpoints = edges.select(col("src").as("doc_id")).distinct().corpusCheckpoint()
    val bcastLabels = endpoints.count() <= 1000000L // ≈16 MB of (long,long) rows
    def maybeB(df: DataFrame): DataFrame = if (bcastLabels) broadcast(df) else df
    var labels = endpoints
      .select(col("doc_id"), col("doc_id").as("group_id"))
      .corpusCheckpoint()
    var converged = false
    var rounds = 0
    val maxRounds = maxPropagationRounds // diameter bound, hit only by adversarial chains
    while (!converged && rounds < maxRounds) {
      val neighborMin = edges
        .join(maybeB(labels.select(col("doc_id").as("dst"), col("group_id").as("dst_label"))), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("dst_label")).as("nmin"))
      // lazy persist + a convergence count that joins back to the previous
      // labels: ONE job per round materializes the new labels into cache
      // AND tests the fixpoint (an eager checkpoint would double the job
      // count; every 8th round still checkpoints to truncate the
      // accumulated iterative-join lineage before planning cost shows)
      val updatedRaw = labels
        .join(maybeB(neighborMin), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("group_id"), coalesce(col("nmin"), col("group_id"))).as("group_id"))
      val updated =
        if (rounds % 8 == 7) updatedRaw.corpusCheckpoint() else updatedRaw.persist()
      val changed = updated.select(col("doc_id"), col("group_id").as("new_label"))
        .join(maybeB(labels), Seq("doc_id"))
        .filter(col("new_label") < col("group_id"))
        .count()
      // the count job materialized `updated`'s cache; the superseded
      // frame is never read again — release it instead of waiting on LRU.
      // Fault-tolerance note: when the superseded frame was a
      // localCheckpoint, its blocks are lineage-free — if `updated`'s
      // cached partitions were later LOST (executor failure in cluster
      // mode) recomputation would reach the freed blocks and fail. Fine
      // in local mode (no block loss without process death); on a real
      // cluster use reliable `checkpoint()` to HDFS/S3 for the 8-round
      // lineage cuts, or re-run the round on failure (labels-only state,
      // cheap to rebuild from the still-materialized edge list).
      labels.unpersist()
      labels = updated
      converged = changed == 0
      rounds += 1
    }
    if (!converged) {
      // component diameter exceeded the propagation backstop (an
      // adversarial long-chain graph): switch to the diameter-halving
      // algorithm instead of failing — O(log n) rounds on any shape
      labels.unpersist()
      labels = starComponents(p)
    }
    // singletons: every vertex with no incident edge is its own group
    val singletons = vertices
      .join(maybeB(endpoints), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("group_id"))
    labels.union(singletons)
  }

  /** Diameter-halving connected components: alternating large-star /
    * small-star contractions (Kiveris et al., SoCC'14) — O(log n)
    * rounds on ANY graph shape, vs min-label propagation's O(diameter).
    * Serves as [[connectedComponents]]' automatic fallback when
    * propagation hits its round backstop; propagation stays the
    * primary because its per-round cost is lower on the short-diameter
    * graphs near-dup clustering actually produces (one join+agg vs the
    * star rounds' two neighborhood mins + edge rewrite + fixpoint diff).
    *
    *  - large-star: every node links its LARGER neighbors to the
    *    minimum of its closed neighborhood — long tails fold toward
    *    small ids without ever creating an upward edge;
    *  - small-star: every node links its smaller-or-equal neighbors
    *    and itself to the minimum of that set — stars consolidate.
    *
    * Each round halves-ish the component diameter; at the fixpoint the
    * graph is a union of stars centered at component minima, so the
    * label of a node is just its minimum neighbor (centers label
    * themselves). Per round: two shuffles per star op on the edge
    * list + an exceptAll fixpoint check, every frame localCheckpoint'd
    * (iterative joins would otherwise stack planning cost). Input:
    * canonical (doc_a < doc_b) pair list; output: (doc_id, group_id)
    * for every edge ENDPOINT — singletons are the caller's union, as
    * in the propagation path.
    */
  private[graft] def starComponents(pairs: DataFrame): DataFrame = {
    // Materialization discipline: each round's edge frame MUST
    // localCheckpoint — a star round's plan references its
    // predecessor's ~6× (two union directions × three neighborhood
    // consumers), so persist-only rounds grow the logical plan ~6^r
    // and the planner itself OOMs within a handful of rounds (measured:
    // treeString heap exhaustion at round ~7). The trade-off, stated
    // honestly: Dataset.unpersist() cannot release a localCheckpoint's
    // blocks (the checkpoint RDD never registers with the cache
    // manager), so superseded rounds' blocks free when ContextCleaner
    // GCs the dropped RDD references — promptly dropped here, bounded
    // by O(one edge list) live garbage per round. The intra-round
    // `large` frame is persist()-ed instead: its parent is the
    // checkpointed edge frame (no plan growth) and persist IS
    // deterministically releasable.
    var edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v")).distinct().corpusCheckpoint()
    var converged = false
    var rounds = 0
    val maxRounds = 100 // 2^100 nodes: unreachable; guards a logic bug only
    while (!converged && rounds < maxRounds) {
      val dir = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      // large-star: (v, m) for every neighbor v > u, m = min(Γ(u) ∪ {u})
      val minsL = dir.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = dir.filter(col("v") > col("u")).join(minsL, "u")
        .select(col("m").as("u"), col("v"))
        .filter(col("u") =!= col("v")).distinct().persist()
      // small-star over the large-star output: (x, m) for every
      // neighbor x < u plus u itself, m = min of that set
      val dir2 = large.union(large.select(col("v").as("u"), col("u").as("v")))
      val smallN = dir2.filter(col("v") < col("u"))
      val minsS = smallN.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = smallN.join(minsS, "u")
        .filter(col("v") =!= col("m"))
        .select(col("m").as("u"), col("v"))
        .union(minsS.select(col("m").as("u"), col("u").as("v")))
        .distinct().corpusCheckpoint()
      // the fixpoint check reads the superseded frames for the last
      // time; after it `large` releases deterministically and the old
      // `edges` reference drops for ContextCleaner (see note above).
      // ONE action per round (r16, guide §2.4): both sides are
      // distinct sets, so |nextΔedges| = 0 ⟺ the former
      // exceptAll-both-ways pair — multisetDiffCount plans one
      // aggregate per side + one null-safe full-outer join instead of
      // two Generate/ExceptAll subtrees that each re-scan both inputs,
      // and needs one head() instead of two isEmpty actions.
      converged = GovernanceOps
        .multisetDiffCount(next, edges).head().getLong(0) == 0L
      large.unpersist()
      edges = next
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"starComponents did not reach a fixpoint within $maxRounds rounds")
    val dirF = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    dirF.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("mv"))
      .select(col("doc_id"), least(col("mv"), col("doc_id")).as("group_id"))
  }

  /** Small-graph path: collected pair list → path-compressed union-find
    * with union-by-min (root = smallest member, matching the
    * distributed fixpoint exactly); endpoint labels broadcast back and
    * singletons join untouched.
    *
    * Memory honesty at the [[MaxDriverEdges]] gate: the collect
    * deserializes to `(Long, Long)` tuples (~56 B each, ≈110 MB
    * transient at 2M edges, freed after the union loop) and the
    * parent map is a primitive-keyed `LongMap` (≈40 B/entry, bounded
    * by endpoint count ≤ 2·edges) — hundreds of MB worst-case on a
    * default 1 GB driver would be the naive Row-collect cost, not this.
    */
  private def driverUnionFind(vertices: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().foreach {
      case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union-by-min keeps the smallest id as root
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
    }
    val keys = parent.keySet.toSeq
    val labels = (keys ++ keys.map(find)).distinct.map(k => (k, find(k)))
    val labelDf = labels.toDF("doc_id", "group_id")
    val singletons = vertices
      .join(broadcast(labelDf.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("group_id"))
    labelDf.union(singletons)
  }

  /** Shared oracle CTE chain (docs → hsrc → sig → bands) for the two
    * minhash oracles below. Factored so [[minhashVerifiedSql]] composes
    * by CTE list, not by string surgery on a complete statement (and so
    * declaration order carries no hidden init dependency).
    */
  private[graft] val minhashBandCtes: String = minhashBandCtesWith(2)

  /** Oracle twin of [[minhashBandsWith]]: band CTEs at a chosen width. */
  private[graft] def minhashBandCtesWith(rowsPerBand: Int): String = {
    val terms = (0 until 8).map(i =>
      s"list_min(list_transform(hs, h -> substring(h, ${1 + 8 * i}, 8))) AS h$i")
      .mkString(",\n      ")
    val bandRows = (0 until 8 / rowsPerBand).map { b =>
      val hs = (0 until rowsPerBand)
        .map(r => s"h${b * rowsPerBand + r}").mkString(" || '|' || ")
      s"SELECT doc_id, md5('$b' || '|' || $hs) AS bucket FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""docs AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      generate_series(1, greatest(length(text) - 4, 0)),
       |      i -> substring(text, i, 5))) AS sh
       |  FROM documents
       |  WHERE length(text) >= 5
       |), hsrc AS (
       |  SELECT doc_id,
       |    list_transform(sh, s -> md5('a|' || s) || md5('b|' || s)) AS hs
       |  FROM docs
       |), sig AS (
       |  SELECT doc_id,
       |      $terms
       |  FROM hsrc
       |), bands AS (
       |  $bandRows
       |)""".stripMargin
  }

  /** [[minhashLshSql]] with the corpus predicate narrowed to
    * [[dedupLifecycle]]'s quarter — derived by substitution so the
    * band CTEs can never drift from the batch oracle's. */
  lazy val dedupLifecycleSql: String = {
    val full = "WHERE length(text) >= 5"
    require(minhashLshSql.contains(full), "band CTE corpus predicate moved")
    minhashLshSql.replace(full, full + " AND doc_id % 4 = 0")
  }

  val minhashLshSql: String =
    s"""WITH $minhashBandCtes
       |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_bands
       |FROM bands l JOIN bands r
       |  ON l.bucket = r.bucket AND l.doc_id < r.doc_id
       |GROUP BY l.doc_id, r.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** [[minhashBandCtes]] extended through the verification stage: adds
    * cand/sizes/inter and a final `verified(doc_a, doc_b, n_inter,
    * jaccard)` CTE — shared by [[minhashVerifiedSql]] and
    * [[neardupGroupsSql]].
    */
  private val minhashVerifiedCtes: String =
    s"""$minhashBandCtes, cand AS (
       |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r
       |    ON l.bucket = r.bucket AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2
       |), sizes AS (
       |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM docs
       |), inter AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter
       |  FROM cand c
       |  JOIN docs a ON a.doc_id = c.doc_a
       |  JOIN docs b ON b.doc_id = c.doc_b
       |), verified AS (
       |  SELECT i.doc_a, i.doc_b, i.n_inter,
       |    CAST(i.n_inter AS DOUBLE)
       |      / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard
       |  FROM inter i
       |  JOIN sizes sa ON i.doc_a = sa.doc_id
       |  JOIN sizes sb ON i.doc_b = sb.doc_id
       |  WHERE CAST(i.n_inter AS DOUBLE)
       |      / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5
       |)""".stripMargin

  val minhashVerifiedSql: String =
    s"""WITH $minhashVerifiedCtes
       |SELECT doc_a, doc_b, n_inter, jaccard FROM verified
       |ORDER BY doc_a, doc_b""".stripMargin

  /** ENSEMBLE near-dup group resolution — the multi-signal form a
    * production curation pipeline actually runs: no single detector
    * catches everything (exact hashing misses a one-char edit, Jaccard
    * misses heavy paraphrase that SimHash's tf-weighted tokens still
    * catch, and vice versa), so the pair lists of three independent
    * signals UNION into one edge set before group resolution:
    *
    *   1. exact content-key duplicates (star edges to each group min),
    *   2. exact n-gram Jaccard ≥ 0.5 pairs (adaptive strategy),
    *   3. SimHash hamming ≤ 2 pairs (banded).
    *
    * Connected components over the union — a doc chained to a group by
    * ANY signal joins it. One extra union vs the single-signal
    * operator; each signal's pair generation keeps its own scale path.
    */
  def ensembleGroups(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val vertices = docs.select(col("doc_id"))
    val keyed = docs.select(exactKey(col("text")).as("k"), col("doc_id"))
    val exactPairs = keyed
      .join(keyed.groupBy(col("k")).agg(min(col("doc_id")).as("doc_a")), "k")
      .filter(col("doc_id") > col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
    val jaccardPairs = jaccardPairsIndexed(spark, sfDir, 0.5)
      .select(col("doc_a"), col("doc_b"))
    val simhashPairs = simhashNearDupPairs(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val edges = exactPairs.union(jaccardPairs).union(simhashPairs)
    connectedComponents(vertices, edges)
      .select(col("doc_id"), col("group_id"),
        (col("doc_id") === col("group_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Oracle CTE pair for min-label connected components over an
    * `edges(src, dst)` CTE (both directions present) on the `documents`
    * universe, ending in `walk(doc_id, label)` whose per-doc MIN is the
    * component root. The walk is a LOCAL-MINIMA-SEEDED monotone
    * frontier, not the all-seeds label walk: only docs with no
    * smaller-id neighbor seed themselves, and a label propagates only
    * to larger-id receivers. Exactness is unchanged — a component's
    * global min is itself a local min and `min < dst` holds for every
    * hop, so it still floods the whole component, and MIN discards the
    * non-minimal local-min labels that co-propagate. Cost collapses:
    * the old walk seeded EVERY doc, so a dense dup-cluster of size s
    * materialized all s² (doc, label) pairs; a clique has exactly one
    * local min, so the frontier carries s rows. This is what keeps the
    * full-surface sf0.1 selfcheck inside one invocation (the all-seeds
    * form needed ~40 CPU-minutes for the ensemble key alone).
    */
  private def ccWalkCtes(universe: String): String =
    s"""lmin AS (
       |  SELECT d.doc_id FROM $universe d
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM edges e WHERE e.dst = d.doc_id AND e.src < d.doc_id)
       |), walk(doc_id, label) AS (
       |  SELECT doc_id, doc_id FROM lmin
       |  UNION
       |  SELECT e.dst, w.label FROM walk w
       |  JOIN edges e ON e.src = w.doc_id AND w.label < e.dst
       |)""".stripMargin

  val ensembleGroupsSql: String =
    s"""WITH RECURSIVE $jaccardPairCtes, $simhashSigCtes, spairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
       |), epairs AS (
       |  SELECT m.doc_a, d.doc_id AS doc_b
       |  FROM documents d JOIN (
       |    SELECT md5(substring(text, 1, 40)) AS k, MIN(doc_id) AS doc_a
       |    FROM documents GROUP BY 1) m
       |  ON md5(substring(d.text, 1, 40)) = m.k AND d.doc_id > m.doc_a
       |), edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM jpairs
       |  UNION SELECT doc_b, doc_a FROM jpairs
       |  UNION SELECT doc_a, doc_b FROM spairs
       |  UNION SELECT doc_b, doc_a FROM spairs
       |  UNION SELECT doc_a, doc_b FROM epairs
       |  UNION SELECT doc_b, doc_a FROM epairs
       |), ${ccWalkCtes("documents")}
       |SELECT doc_id, CAST(MIN(label) AS BIGINT) AS group_id,
       |  (doc_id = CAST(MIN(label) AS BIGINT)) AS keep
       |FROM walk
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Transitive closure by the local-minima-seeded monotone walk
    * ([[ccWalkCtes]]); MIN picks the component root. */
  val neardupGroupsSql: String =
    s"""WITH RECURSIVE $jaccardPairCtes, edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM jpairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM jpairs
       |), ${ccWalkCtes("documents")}
       |SELECT doc_id, CAST(MIN(label) AS BIGINT) AS group_id,
       |  (doc_id = CAST(MIN(label) AS BIGINT)) AS keep
       |FROM walk
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** CANONICAL SELECTION — keep the BEST doc per near-dup group, not the
    * min-id one: the production survivor policy (RefinedWeb/FineWeb keep
    * the highest-quality representative of each duplicate cluster so
    * dedup never trades a clean copy for a boilerplate-wrapped one).
    * Groups come from the same persisted-shingle-index pair generator as
    * [[neardupGroups]]; quality is the classifier margin in EXACT
    * integer cents ([[TextOps.classifierMarginCents]] — row-local fold,
    * no FP anywhere), so the argmax can never flip cross-engine;
    * canonical = max margin, ties to the smaller doc_id.
    *
    * Scale shape: margins are row-local, groups reuse the adaptive
    * connected-components paths, and the canonical pick is ONE
    * partitioned window over (group_id) — group-sized state, no
    * corpus-wide sort. Output keeps every doc's row (group, margin,
    * canonical, keep) so downstream filters stay a predicate.
    */
  def canonicalDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val vertices = docs.select(col("doc_id"))
    val pairs = jaccardPairsIndexed(spark, sfDir, 0.5)
      .select(col("doc_a"), col("doc_b"))
    val groups = connectedComponents(vertices, pairs)
    val margins = docs.select(col("doc_id"),
      graft.operators.TextOps.classifierMarginCents(col("text")).as("margin_cents"))
    canonicalOver(groups, margins).orderBy(col("doc_id"))
  }

  /** The survivor POLICY of [[canonicalDocs]], factored out so the
    * argmax semantics are testable on planted groups independent of the
    * corpus pair generator: per (group_id), canonical = the member with
    * the max margin, ties to the smaller doc_id — one partitioned
    * window, group-sized state.
    */
  private[graft] def canonicalOver(groups: DataFrame, margins: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("group_id"))
      .orderBy(col("margin_cents").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    groups.join(margins, "doc_id")
      .select(col("doc_id"), col("group_id"), col("margin_cents"),
        first(col("doc_id")).over(w).as("canonical_doc"))
      .withColumn("keep", col("doc_id") === col("canonical_doc"))
  }

  /** LEAKAGE-FREE train/validation split — the group-aware split every
    * serious pretraining pipeline needs: a plain per-doc hash split
    * puts near-duplicate copies of the same content on BOTH sides, so
    * validation loss silently measures memorization of training
    * near-dups. Here the split KEY is the near-dup `group_id` (from the
    * same persisted-shingle-index pairs + connected components as
    * [[neardupGroups]]), so a whole duplicate cluster moves together —
    * by construction NO group straddles the boundary (spec-asserted,
    * and the oracle reproduces the exact assignment). The 5% validation
    * rate uses the [[graft.operators.CurationOps.stratifiedFilter]]
    * md5-bucket predicate on the group id — deterministic, resample-
    * stable, engine-portable.
    *
    * Scale shape: groups reuse the adaptive CC paths; the split itself
    * is one row-local predicate over the label frame. At 100 TB this
    * is a metadata-only operation on top of state the dedup pipeline
    * already maintains.
    */
  def trainValSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val vertices = docs.select(col("doc_id"))
    val pairs = jaccardPairsIndexed(spark, sfDir, 0.5)
      .select(col("doc_a"), col("doc_b"))
    val bucket = CurationOps.md5Bucket(col("group_id"))
    connectedComponents(vertices, pairs)
      .select(col("doc_id"), col("group_id"),
        when(bucket < 5, lit("val")).otherwise(lit("train")).as("split"))
      .orderBy(col("doc_id"))
  }

  val trainValSplitSql: String =
    s"""WITH RECURSIVE $jaccardPairCtes, edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM jpairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM jpairs
       |), ${ccWalkCtes("documents")}, groups AS (
       |  SELECT doc_id, CAST(MIN(label) AS BIGINT) AS group_id
       |  FROM walk GROUP BY doc_id
       |)
       |SELECT doc_id, group_id,
       |  CASE WHEN CAST(CONCAT('0x',
       |      substring(md5(CAST(group_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 5
       |    THEN 'val' ELSE 'train' END AS split
       |FROM groups
       |ORDER BY doc_id""".stripMargin

  val canonicalDocsSql: String = {
    val centsCase = TextOps.classifierVocab
      .map { case (t, w) =>
        s"WHEN '$t' THEN ${(BigDecimal(w) * 100).toLongExact}" }
      .mkString(" ")
    s"""WITH RECURSIVE $jaccardPairCtes, edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM jpairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM jpairs
       |), ${ccWalkCtes("documents")}, groups AS (
       |  SELECT doc_id, CAST(MIN(label) AS BIGINT) AS group_id
       |  FROM walk GROUP BY doc_id
       |), m AS (
       |  SELECT doc_id, CAST(COALESCE(list_sum(list_transform(
       |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                  x -> x <> ''),
       |      t -> CASE t $centsCase ELSE 0 END)), 0)
       |    + (${(BigDecimal(TextOps.classifierBias) * 100).toLongExact})
       |    AS BIGINT) AS margin_cents
       |  FROM documents
       |), c AS (
       |  SELECT group_id, doc_id AS canonical_doc FROM (
       |    SELECT g.group_id, g.doc_id,
       |      row_number() OVER (PARTITION BY g.group_id
       |        ORDER BY m.margin_cents DESC, g.doc_id) AS rn
       |    FROM groups g JOIN m USING (doc_id))
       |  WHERE rn = 1
       |)
       |SELECT g.doc_id, g.group_id, m.margin_cents, c.canonical_doc,
       |  (g.doc_id = c.canonical_doc) AS keep
       |FROM groups g JOIN m USING (doc_id) JOIN c USING (group_id)
       |ORDER BY g.doc_id""".stripMargin
  }
}
