package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The end-to-end training-data curation flow, composed from the
  * library's oracle-gated operators — the demonstration that the
  * pieces (each verified in isolation by `SparkEntry.queries`) chain
  * into the pipeline a pretraining-data team actually runs:
  *
  *   raw corpus
  *     → exact dedup (content-hash keep-first)          [DedupOps]
  *     → near-dup groups → keep-first survivors          [DedupOps]
  *     → deterministic stratified sampling               [CurationOps]
  *     → PII scrub                                       [CurationOps]
  *     → concat-and-chunk sequence packing               [CurationOps]
  *
  * Everything stays one declarative DataFrame flow until the packing
  * prefix-sum; no stage collects the corpus. The funnel counts are
  * computed on the returned frames by the caller (counting here would
  * force extra jobs on users who only want the packed output).
  */
object CurationPipeline {

  /** Intermediate frames of the flow, exposed for inspection/testing;
    * `packed` is the final training-shard layout.
    */
  case class Flow(raw: DataFrame, exactKept: DataFrame, neardupKept: DataFrame,
                  sampled: DataFrame, scrubbed: DataFrame, packed: DataFrame)

  def run(spark: SparkSession, sfDir: String): Flow = {
    val raw = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text"))

    // 1. exact dedup: one shuffle on the 128-bit content-key hash,
    //    min(doc_id) survivor per group, semi-joined back for full rows —
    //    the SAME keying as the oracle-gated docDedup, via the shared core
    val exactKept = raw.join(
      DedupOps.exactDedupSurvivorIds(raw), Seq("doc_id"), "left_semi")

    // 2. near-dup resolution among exact survivors: exact-Jaccard pairs
    //    (persisted shingle-index bitmaps semi-joined to the survivors —
    //    identical pairs, Jaccard doesn't depend on the dropped docs) →
    //    connected components → keep group roots
    val pairs = DedupOps.jaccardPairsIndexedAmong(
        spark, sfDir, exactKept.select(col("doc_id")), 0.5) {
      exactKept.filter(length(col("text")) >= 5)
        .select(col("doc_id"), DedupOps.shingles(col("text"), 5).as("sh"))
    }.select(col("doc_a"), col("doc_b"))
    val roots = DedupOps.connectedComponents(exactKept.select(col("doc_id")), pairs)
      .filter(col("doc_id") === col("group_id"))
      .select(col("doc_id"))
    val neardupKept = exactKept.join(roots, Seq("doc_id"), "left_semi")

    // 3-4. hash-quota language mix, then row-local scrub
    val sampled = CurationOps.stratifiedFilter(neardupKept)
      .select(col("doc_id"), col("lang"), col("text"))
    val scrubbed = sampled
      .withColumn("text", CurationOps.scrubbedText(col("text")))

    // 5. pack the curated corpus into fixed 2048-token sequences
    val packed = CurationOps.packSequencesFor(scrubbed)
    Flow(raw, exactKept, neardupKept, sampled, scrubbed, packed)
  }

  /** The pipeline's ORACLE surface: one row of funnel counts plus the
    * final token total — the whole five-stage flow hash-verified
    * against a single DuckDB statement that reproduces it (exact-dedup
    * grouping, Jaccard pairs, recursive-CTE components, hash-quota
    * sampling, scrub, tokenize).
    *
    * The row is ONE aggregate over the union of the five stage frames,
    * each row tagged with its stage: the four counts are per-tag
    * `count`s (bigint) and the token total a per-tag `sum` (nullable
    * bigint, null on an empty corpus) — the row five cross-joined
    * aggregates gave. Nothing is persisted: within the one query the
    * stages' shared shuffles are reused exchanges, and persisting the
    * stage frames cost more jobs (25 instead of 18 per warm call at
    * sf0.01) for no faster call.
    */
  def curationFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val f = run(spark, sfDir)
    val noTokens = lit(null).cast("long")
    val tagged = Seq(f.raw -> noTokens, f.exactKept -> noTokens, f.neardupKept -> noTokens,
        f.sampled -> noTokens, f.packed -> col("n_tokens"))
      .zipWithIndex
      .map { case ((df, tokens), stage) => df.select(lit(stage).as("stage"), tokens.as("n_tokens")) }
      .reduce(_ union _)
    def at(stage: Int) = col("stage") === stage
    tagged.agg(
      count(when(at(0), 1)).as("n_raw"),
      count(when(at(1), 1)).as("n_exact"),
      count(when(at(2), 1)).as("n_neardup"),
      count(when(at(3), 1)).as("n_sampled"),
      sum(when(at(4), col("n_tokens"))).as("n_total_tokens"))
  }

  val curationFunnelSql: String =
    """WITH RECURSIVE raw AS (
      |  SELECT doc_id, lang, text FROM documents
      |), ex AS (
      |  SELECT MIN(doc_id) AS doc_id FROM raw GROUP BY md5(substring(text, 1, 40))
      |), exd AS (
      |  SELECT r.* FROM raw r JOIN ex USING (doc_id)
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, length(text) - 4),
      |    i -> substring(text, i, 5)))) AS shingle
      |  FROM exd
      |  WHERE length(text) >= 5
      |), sizes AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(COUNT(*) AS BIGINT) AS n_inter
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |), jp AS (
      |  SELECT i.doc_a, i.doc_b FROM inter i
      |  JOIN sizes sa ON i.doc_a = sa.doc_id
      |  JOIN sizes sb ON i.doc_b = sb.doc_id
      |  WHERE CAST(i.n_inter AS DOUBLE)
      |      / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5
      |), edges AS MATERIALIZED (
      |  SELECT doc_a AS src, doc_b AS dst FROM jp
      |  UNION ALL SELECT doc_b, doc_a FROM jp
      |), lmin AS (
      |  SELECT d.doc_id FROM exd d
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM edges e WHERE e.dst = d.doc_id AND e.src < d.doc_id)
      |), walk(doc_id, label) AS (
      |  SELECT doc_id, doc_id FROM lmin
      |  UNION
      |  SELECT e.dst, w.label FROM walk w
      |  JOIN edges e ON e.src = w.doc_id AND w.label < e.dst
      |), roots AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, MIN(label) AS g FROM walk GROUP BY doc_id)
      |  WHERE doc_id = g
      |), nd AS (
      |  SELECT exd.* FROM exd JOIN roots USING (doc_id)
      |), samp AS (
      |  SELECT * FROM nd
      |  WHERE CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      |    < (CASE WHEN lang = 'en' THEN 50 ELSE 20 END)
      |), scr AS (
      |  SELECT doc_id, regexp_replace(
      |    regexp_replace(text,
      |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
      |    '[0-9]{7,}', '<NUM>', 'g') AS text
      |  FROM samp
      |), toks AS (
      |  SELECT CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '')) AS BIGINT) AS n
      |  FROM scr
      |)
      |SELECT
      |  CAST((SELECT COUNT(*) FROM raw) AS BIGINT) AS n_raw,
      |  CAST((SELECT COUNT(*) FROM exd) AS BIGINT) AS n_exact,
      |  CAST((SELECT COUNT(*) FROM nd) AS BIGINT) AS n_neardup,
      |  CAST((SELECT COUNT(*) FROM samp) AS BIGINT) AS n_sampled,
      |  CAST((SELECT SUM(n) FROM toks) AS BIGINT) AS n_total_tokens""".stripMargin
}
