package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import Materialize.CorpusSyntax

/** Text-analysis operators for an LLM-data pipeline (SURVEY.md §2b):
  * tokenization + corpus token counts, per-document quality scoring,
  * document fingerprinting, and marker-based language ID.
  *
  * Scale notes:
  *  - Tokenization uses codegen'd `split`/higher-order functions; the
  *    per-document scoring queries are shuffle-free (row-local) and
  *    pipeline straight out of the parquet scan.
  *  - Corpus token counts shuffle once on the token key with map-side
  *    partial aggregation; token frequency follows Zipf's law so the hot
  *    tokens ("the") are exactly the partial-agg best case — each mapper
  *    emits one row per distinct token, not per occurrence.
  *  - All tokenization is lowercase-ASCII regex ([^a-z0-9]+ split),
  *    deliberately identical across Spark (Java regex) and the DuckDB
  *    oracle (RE2) — the class has no engine-divergent metacharacters.
  */
object TextOps {

  /** Lowercased ASCII tokens of `text` as an array column (no shuffle). */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= "")

  /** Corpus-wide token frequencies, top 100 by (count desc, token) —
    * total order, stable under LIMIT.
    */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documentsFanned(spark, sfDir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(100)
  }

  val tokenCountsSql: String =
    """SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      |  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
      |  FROM documents)
      |WHERE token <> ''
      |GROUP BY token
      |ORDER BY cnt DESC, token
      |LIMIT 100""".stripMargin

  /** Per-document quality signals: token count, character count, mean
    * token length, stopword ratio, punctuation ratio. Ratios are IEEE
    * double divisions of exact integer counts — deterministic across
    * engines.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it")
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin(stop: _*))).cast("long")
    val charLen = length(col("text")).cast("long")
    val tokChars = aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
    val nPunct = charLen - length(regexp_replace(col("text"), "[^a-z0-9 ]", "")).cast("long")
    Tables.documentsFanned(spark, sfDir)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        charLen.as("n_chars_actual"),
        when(nTok > 0, tokChars.cast("double") / nTok.cast("double")).otherwise(lit(0d))
          .as("mean_token_len"),
        when(nTok > 0, nStop.cast("double") / nTok.cast("double")).otherwise(lit(0d))
          .as("stopword_ratio"),
        when(charLen > 0, nPunct.cast("double") / charLen.cast("double")).otherwise(lit(0d))
          .as("punct_ratio"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars_actual,
      |  CASE WHEN len(toks) > 0 THEN
      |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
      |      / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS mean_token_len,
      |  CASE WHEN len(toks) > 0 THEN
      |    CAST(len(list_filter(toks, x -> x IN
      |      ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
      |      / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
      |  CASE WHEN length(text) > 0 THEN
      |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
      |      AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio
      |FROM t
      |ORDER BY doc_id""".stripMargin

  /** (token, weight) rows of the toy "trained" quality model head.
    * Weights are decimal(4,2) so the per-doc weighted sum aggregates
    * EXACTLY (order-independent) in both engines; only the final
    * sigmoid touches floating point, and the keep decision is made on
    * the exact decimal margin, never on the rounded sigmoid.
    */
  private[graft] val classifierVocab: Seq[(String, String)] = Seq(
    "spark" -> "0.80", "query" -> "0.45", "fast" -> "0.60",
    "window" -> "0.35", "join" -> "0.30", "hash" -> "0.25",
    "slow" -> "-0.70", "the" -> "-0.25", "a" -> "-0.20", "row" -> "-0.10")
  private[graft] val classifierBias = "-1.50"

  /** fastText-style linear quality classifier: every curation pipeline
    * scores documents with a small trained model before filtering. The
    * model is (vocab weights, bias); score = σ(bias + Σ w·tf), keep =
    * margin ≥ 0. Shape chosen for a REAL model size (fastText heads are
    * 10⁵-10⁷ hashed-ngram buckets — far past literal-map territory):
    * tokens explode row-locally, a broadcast hash join tags the vocab
    * hits (the weight table broadcasts like the model file an executor
    * would mmap), and ONE partial-agg shuffle on doc_id sums the
    * margin — per-occurrence weights sum to the same decimal total as
    * tf-weighted sums, so no (doc, token) pre-aggregation shuffle is
    * needed. Docs with zero vocab hits survive via the left join.
    * Accepted-risk note: `round(σ, 6)` absorbs the ≤1-ulp difference
    * between Java's and DuckDB's `exp`; the boolean `keep` column is
    * computed from the exact decimal margin so it can never flip.
    */
  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val vocab = broadcast(classifierVocab.toDF("token", "w_str")
      .select(col("token"), col("w_str").cast("decimal(4,2)").as("w")))
    val docs = Tables.documentsFanned(spark, sfDir)
    val z = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(vocab, "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("zsum"))
    val margin = coalesce(col("zsum"), lit(0).cast("decimal(4,2)")) +
      lit(classifierBias).cast("decimal(4,2)")
    docs.select(col("doc_id")).join(z, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-margin.cast("double"))), 6).as("score"),
        (margin >= 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Row-local (streaming-safe) form of the classifier margin, in
    * integer CENTS: the weights ride a literal map and the per-doc sum
    * is a sequential fold over the token array — exact long
    * arithmetic, no join, no aggregation, so the SAME keep decision
    * can run stateless inside a streaming micro-batch
    * ([[graft.streaming.DocStream.curateDocStreamContent]]) where the
    * broadcast-join form's groupBy would demand watermarked
    * aggregation state. Spec-asserted to reproduce
    * [[qualityClassifier]]'s score and keep on every corpus doc.
    * The literal-map form caps at a few thousand vocab terms; the
    * broadcast-join form remains the big-vocab batch path.
    */
  def classifierMarginCents(text: Column): Column = {
    val entries = classifierVocab.flatMap { case (t, w) =>
      Seq(lit(t), lit((BigDecimal(w) * 100).toLongExact)) }
    val weightOf = map(entries: _*)
    aggregate(tokens(text), lit(0L),
      (acc, tk) => acc + coalesce(element_at(weightOf, tk), lit(0L))) +
      lit((BigDecimal(classifierBias) * 100).toLongExact)
  }

  val qualityClassifierSql: String =
    """WITH v(token, w) AS (VALUES
      |  ('spark', CAST(0.80 AS DECIMAL(4,2))), ('query', CAST(0.45 AS DECIMAL(4,2))),
      |  ('fast', CAST(0.60 AS DECIMAL(4,2))), ('window', CAST(0.35 AS DECIMAL(4,2))),
      |  ('join', CAST(0.30 AS DECIMAL(4,2))), ('hash', CAST(0.25 AS DECIMAL(4,2))),
      |  ('slow', CAST(-0.70 AS DECIMAL(4,2))), ('the', CAST(-0.25 AS DECIMAL(4,2))),
      |  ('a', CAST(-0.20 AS DECIMAL(4,2))), ('row', CAST(-0.10 AS DECIMAL(4,2)))),
      |tok AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
      |  FROM documents),
      |z AS (
      |  SELECT t.doc_id, SUM(v.w) AS zsum FROM tok t JOIN v USING (token)
      |  GROUP BY t.doc_id)
      |SELECT d.doc_id,
      |  ROUND(1.0 / (1.0 + EXP(-CAST(COALESCE(z.zsum, CAST(0 AS DECIMAL(4,2)))
      |    - CAST(1.50 AS DECIMAL(4,2)) AS DOUBLE))), 6) AS score,
      |  (COALESCE(z.zsum, CAST(0 AS DECIMAL(4,2)))
      |    - CAST(1.50 AS DECIMAL(4,2))) >= 0 AS keep
      |FROM documents d LEFT JOIN z USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** The TRAINING half of the quality classifier — distributed
    * logistic-regression-style training that DISTILLS the published
    * teacher model ([[classifierVocab]]'s exact keep decision) into a
    * freshly initialized linear student, the standard curation recipe
    * for turning an expensive filter into a cheap head (and, on this
    * synthetic corpus, the only deterministic label with learnable
    * text signal). Features are integer term frequencies over the
    * teacher's 10-token vocabulary plus a bias, so learning is
    * verifiable: the student must rediscover the teacher's weight
    * SIGNS from labels alone (spec-asserted, along with
    * teacher-agreement accuracy beating the majority class).
    *
    * Exactness: the link is the HARD sigmoid (0 below z = −2, 1 above
    * z = 2, (z+2)/4 between), which keeps every quantity in the loop
    * an EXACT decimal — ×0.25 and the 5e−4 learning-rate multiplier
    * are exact decimal scalings, there is no division and no
    * transcendental anywhere — so [[TrainIters]] unrolled
    * batch-gradient iterations replay bit-identically in DuckDB (both
    * engines ROUND
    * half-away-from-zero to scale 6 at each weight update; the update
    * uses the raw gradient SUM with a small rate, so no 1/N division
    * exists to round differently; rate-per-corpus-size is the
    * production tuning knob this fixed-rate demo pins down).
    *
    * Scale shape (re-planned in the r15 optimization round, guide
    * §2.4 — remove shuffles outright): the feature frame is ONE ROW
    * PER DOC carrying the vocab term frequencies as a WIDE long
    * vector (one column per term — the vocabulary is a fixed ≤10-term
    * constant, so wide columns keep every iteration expression plain
    * codegen'd arithmetic: no higher-order function, no per-term
    * explode; the bias feature is the implicit constant 1), built once
    * (explode → broadcast vocab semi-join → one pivot-agg shuffle) and
    * checkpointed; labels ride the row-local
    * [[classifierMarginCents]] (no teacher join). Each iteration is
    * then ONE GLOBAL AGGREGATE with zero exchanges of doc-grain rows:
    * the per-doc margin and error are row-local linear combinations,
    * and every term's gradient is its own sum column in a single
    * 1-row result collected to the driver — exactly like
    * [[SimilarityOps]]' ivfKmeans codebook, but without even the
    * former groupBy(term) shuffle (the old loop ran a per-doc
    * aggregate, an err join, and a term-keyed exchange per iteration —
    * three stages of doc-grain movement for an 11-number answer).
    * Jobs are O(iterations), never O(corpus). All arithmetic is the
    * same exact-decimal recurrence (decimal addition is exact and
    * order-independent barring overflow; absent terms contribute
    * exact zeros; every cast stays far under its precision cap), so
    * the weights are bit-identical to the row-form loop — proven by
    * the unchanged oracle. Output: the trained (term, weight) table +
    * `__bias__` row, which plugs straight into
    * [[qualityClassifierWith]] (spec-proven).
    */
  private[graft] val trainVocab: Seq[String] = classifierVocab.map(_._1)
  private[graft] val TrainIters = 25
  private[graft] val BiasTerm = "__bias__"

  def classifierTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsFanned(spark, sfDir)
    val vocabDf = broadcast(trainVocab.toDF("term"))
    // the bias rides as a constant feature on every doc, so one
    // aggregation produces all 11 gradients (one Spark job/iteration)
    // the label rides on every feature row (max(y) in the per-doc agg
    // recovers it), so the loop needs NO label join at all
    val base = docs.select(col("doc_id"),
      when(classifierMarginCents(col("text")) >= 0, 1L).otherwise(0L).as("y"),
      col("text"))
    // ONE ROW PER DOC, vocab tf as a WIDE long vector (one column per
    // term — the vocabulary is a fixed ≤10-term constant, so wide
    // columns beat a map: every iteration expression stays plain
    // codegen'd arithmetic, no higher-order function, no per-term
    // explode). The bias feature is the constant 1, kept implicit.
    def tfc(t: String) = s"__tf_$t"
    val docv0 = base
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .join(vocabDf, "term")
      .groupBy(col("doc_id"))
      .pivot("term", trainVocab)
      .agg(count(lit(1)).cast("long"))
    val docv1 = base.select(col("doc_id"), col("y"))
      .join(docv0, Seq("doc_id"), "left")
      .select(col("doc_id") +: col("y") +:
        trainVocab.map(t => coalesce(col(s"`$t`"), lit(0L)).as(tfc(t))): _*)
    // Loop-input partition count sized to the doc count (docs.count()
    // is a parquet metadata read), scale-adaptive like the former
    // feature-row formula; one checkpoint materializes the loop input.
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (docs.count() / 8192L + 1L).toInt))
    val docv = docv1.repartition(parts, col("doc_id")).corpusCheckpoint()
    def d6(s: String) = new java.math.BigDecimal(s).setScale(6)
    var w: Map[String, java.math.BigDecimal] =
      (trainVocab :+ BiasTerm).map(_ -> d6("0")).toMap
    val lr = new java.math.BigDecimal("0.0005")
    // Weight columns ride a broadcast 1-ROW FRAME (LocalRelation), not
    // per-iteration literals: literals change each iteration and force
    // a fresh whole-stage-codegen compile per loop step (plan text =
    // cache key); a cross-joined 1-row frame keeps every iteration's
    // plan structurally identical, so the compiled stage is reused and
    // only the tiny broadcast refreshes. Same exact decimal(12,6)
    // arithmetic — createDataFrame carries the values verbatim.
    def wc(t: String) = s"__w_$t"
    val wSchema = org.apache.spark.sql.types.StructType(
      (trainVocab :+ BiasTerm).map(t =>
        org.apache.spark.sql.types.StructField(wc(t),
          org.apache.spark.sql.types.DecimalType(12, 6), nullable = false)))
    for (_ <- 1 to TrainIters) {
      // precision hygiene: every multiply stays far under decimal(38)
      // on BOTH engines — Spark silently ROUNDS the scale down when a
      // product's precision hits the 38 cap, which would break the
      // exact replay (caught by the oracle during development).
      // Decimal addition is exact and order-independent barring
      // overflow, so the wide linear combination reproduces the former
      // per-row SUM bit for bit.
      val wDf = spark.createDataFrame(
        java.util.Collections.singletonList(org.apache.spark.sql.Row(
          (trainVocab :+ BiasTerm).map(w): _*)), wSchema)
      val zsum = trainVocab.map(t =>
          col(wc(t)) * col(tfc(t)).cast("decimal(10,0)"))
        .reduce(_ + _) +
        col(wc(BiasTerm)) * lit(1L).cast("decimal(10,0)")
      val zc = zsum.cast("decimal(12,6)")
      val err = (when(zc <= -2, lit(new java.math.BigDecimal("0.00000000")))
        .when(zc >= 2, lit(new java.math.BigDecimal("1.00000000")))
        .otherwise((zc + lit(2)) * lit(new java.math.BigDecimal("0.25")))
        - col("y")).cast("decimal(16,8)")
      // ONE global aggregate per iteration — every term's gradient is
      // its own sum column, so there is no per-term shuffle at all
      // (the former groupBy(term) exchanged doc-grain rows; the 1-row
      // result here is the model, never data).
      val gradCols = trainVocab.map(t =>
        sum(col("__err") * col(tfc(t)).cast("decimal(10,0)")).as(t)) :+
        sum(col("__err") * lit(1L).cast("decimal(10,0)")).as(BiasTerm)
      val gRow = docv.crossJoin(broadcast(wDf))
        .select(col("doc_id") +: err.as("__err") +:
          trainVocab.map(t => col(tfc(t))): _*)
        .agg(gradCols.head, gradCols.tail: _*)
        .head() // bounded: 1 row × |trainVocab|+1 cols — the model, not data
      val grads = (trainVocab :+ BiasTerm).zipWithIndex
        .map { case (t, i) => t -> gRow.getDecimal(i) }.toMap
      w = w.map { case (t, v) =>
        t -> v.subtract(lr.multiply(
            grads.getOrElse(t, java.math.BigDecimal.ZERO)))
          .setScale(6, java.math.RoundingMode.HALF_UP)
      }
    }
    w.toSeq
      .map { case (t, v) => (t, v.doubleValue) }
      .toDF("term", "weight")
      .orderBy(col("term"))
  }

  /** Sequential unrolled oracle of [[classifierTrain]] — the identical
    * recurrence in DuckDB decimals, MATERIALIZED per level.
    */
  private def classifierTrainSql(iters: Int): String = {
    val vocabVals = trainVocab.map(t => s"('$t')").mkString(", ")
    val teacherVals = classifierVocab
      .map { case (t, wv) => s"('$t', CAST($wv AS DECIMAL(4,2)))" }
      .mkString(", ")
    val rounds = (1 to iters).map { i =>
      s"""z$i AS MATERIALIZED (
         |  SELECT l.doc_id, l.y, CAST(s.zsum AS DECIMAL(12,6)) AS z
         |  FROM lab l JOIN (
         |    SELECT f.doc_id,
         |      SUM(CAST(w.w AS DECIMAL(12,6)) * CAST(f.tf AS DECIMAL(10,0))) AS zsum
         |    FROM feat f JOIN w${i - 1} w USING (term) GROUP BY 1) s
         |  USING (doc_id)
         |), e$i AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(CASE WHEN z <= -2 THEN CAST(0 AS DECIMAL(16,8))
         |         WHEN z >= 2 THEN CAST(1 AS DECIMAL(16,8))
         |         ELSE (z + 2) * CAST(0.25 AS DECIMAL(3,2)) END - y
         |      AS DECIMAL(16,8)) AS err
         |  FROM z$i
         |), w$i AS MATERIALIZED (
         |  SELECT w.term,
         |    CAST(ROUND(w.w - CAST(0.0005 AS DECIMAL(8,6))
         |      * COALESCE(g.grad, 0), 6) AS DECIMAL(18,6)) AS w
         |  FROM w${i - 1} w LEFT JOIN (
         |    SELECT f.term, SUM(e.err * CAST(f.tf AS DECIMAL(10,0))) AS grad
         |    FROM feat f JOIN e$i e USING (doc_id) GROUP BY 1) g
         |  USING (term)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH v(term) AS (VALUES $vocabVals),
       |feat AS MATERIALIZED (
       |  SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(list_filter(
       |          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
       |        FROM documents) t
       |  JOIN v USING (term)
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT doc_id, '__bias__', CAST(1 AS BIGINT) FROM documents
       |), teacher(token, tw) AS (VALUES $teacherVals),
       |lab AS MATERIALIZED (
       |  SELECT d.doc_id, CAST(CASE WHEN
       |      COALESCE(tz.zsum, CAST(0 AS DECIMAL(4,2)))
       |        + CAST($classifierBias AS DECIMAL(4,2)) >= 0
       |    THEN 1 ELSE 0 END AS BIGINT) AS y
       |  FROM documents d LEFT JOIN (
       |    SELECT t.doc_id, SUM(teacher.tw) AS zsum
       |    FROM (SELECT doc_id, unnest(list_filter(
       |            string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
       |          FROM documents) t
       |    JOIN teacher USING (token) GROUP BY 1) tz
       |  USING (doc_id)
       |), w0(term, w) AS (
       |  SELECT term, CAST(0 AS DECIMAL(18,6)) FROM v
       |  UNION ALL SELECT '__bias__', CAST(0 AS DECIMAL(18,6))
       |),
       |$rounds
       |SELECT term, CAST(w AS DOUBLE) AS weight FROM w$iters
       |ORDER BY term""".stripMargin
  }

  val classifierTrainOracleSql: String = classifierTrainSql(TrainIters)

  /** [[qualityClassifier]] parameterized by the (vocab, bias) model —
    * the plug point for [[classifierTrain]]'s learned weights (weights
    * arrive as scale-6 decimal strings; the published literal model
    * keeps its own key so its oracle stays a flat statement).
    */
  def qualityClassifierWith(spark: SparkSession, sfDir: String,
      vocab: Seq[(String, String)], bias: String,
      scale: Int = 2): DataFrame = {
    import spark.implicits._
    val dt = s"decimal(18,$scale)"
    val vocabDf = broadcast(vocab.toDF("token", "w_str")
      .select(col("token"), col("w_str").cast(dt).as("w")))
    val docs = Tables.documentsFanned(spark, sfDir)
    val z = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(vocabDf, "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("zsum"))
    val margin = coalesce(col("zsum"), lit(0).cast(dt)) + lit(bias).cast(dt)
    docs.select(col("doc_id")).join(z, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-margin.cast("double"))), 6).as("score"),
        (margin >= 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text.
    * The cheap exact-dup key for cross-corpus joins (md5 is identical in
    * every engine); the ~10×-cheaper Rabin rolling-hash variant is
    * [[rollingFingerprint]] via [[graft.functions.RollingHash]].
    */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documentsFanned(spark, sfDir)
      .select(
        col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  val docFingerprintSql: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Rabin polynomial rolling fingerprint over ASCII-normalized text
    * (lowercase, [a-z0-9 ] only — byte == codepoint so the per-codepoint
    * DuckDB oracle folds the identical sequence). Base 31, mod 1e9+7.
    */
  def rollingFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")
    Tables.documentsFanned(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.RollingHash(norm).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing k-gram / selection-window sizes: guarantee threshold
    * t = WinnowW + WinnowK − 1 = 8 tokens — any shared run of ≥8 tokens
    * shares a selected fingerprint, aligning with substring dedup's
    * 8-token windows at ~2/(w+1) = 40% of the fingerprint volume.
    */
  private[graft] val WinnowK = 5
  private[graft] val WinnowW = 4

  /** Winnowing fingerprint selection (Schleimer et al. SIGMOD'03 —
    * MOSS): thin the every-offset [[graft.functions.RollingWindowHashes]]
    * stream to the winnowed subset via
    * [[graft.functions.WinnowedFingerprints]] (min per w-window,
    * rightmost tie). Output is the (doc_id, j, fp) fingerprint table —
    * the thing a plagiarism/overlap index actually stores: O(corpus/w)
    * rows instead of O(corpus), with the t = w+k−1 shared-substring
    * guarantee intact. Plan shape: scan → two codegen'd native
    * expressions → explode — entirely row-local until the pinned
    * output sort; building the cross-corpus index from it is one
    * bucketed write ([[graft.operators.Layout.writeBucketed]]), same as
    * the substring-dedup state.
    */
  /** The winnowed (doc_id, j, fp) rows pre-sort — shared by
    * [[winnowFingerprint]] (the fingerprint table itself) and
    * [[winnowOverlap]] (the cross-doc application).
    */
  private[graft] def winnowFps(spark: SparkSession, sfDir: String): DataFrame =
    winnowFpsOf(Tables.documentsFanned(spark, sfDir))

  /** Library core of [[winnowFps]] for any (doc_id, text) frame.
    *
    * `explode_outer` + a post-generate null filter, NOT plain `explode`:
    * InferFiltersFromGenerate turns a plain explode into a
    * `size(sel) > 0` PRE-filter that re-evaluates the whole
    * hash+winnow expression chain a second time per row — and, sitting
    * below the fan-out repartition, at input parallelism. The outer
    * form generates one null row per short doc and drops it with a
    * cheap reference to the generated column instead.
    */
  private[graft] def winnowFpsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.WinnowedFingerprints(
          graft.functions.RollingWindowHashes(tokens(col("text")), WinnowK),
          WinnowW).as("sel"))
      .select(col("doc_id"), explode_outer(col("sel")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id"), col("s.j").cast("long").as("j"), col("s.fp").as("fp"))

  def winnowFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    winnowFps(spark, sfDir).orderBy(col("doc_id"), col("j"))

  /** Shared CTE chain producing the winnowed selection — `sel2` is the
    * DISTINCT (doc_id, j, fp) table matching [[winnowFps]]. */
  private val winnowSelCtes: String =
    """t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '') AS toks
      |  FROM documents
      |), v AS (
      |  SELECT doc_id, len(toks) AS n,
      |    list_transform(toks, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (h, c) -> (h * 31 + c) % 1000000007)) AS vals
      |  FROM t
      |), wh AS (
      |  SELECT doc_id, n - 4 AS m,
      |    list_transform(generate_series(1, n - 4),
      |      j -> list_reduce(list_prepend(CAST(0 AS BIGINT), vals[j : j + 4]),
      |        (h, x) -> (h * 1000003 + x) % 1000000007)) AS whs
      |  FROM v WHERE n >= 5
      |), sel AS (
      |  -- winnowing: min of each 4-hash window, RIGHTMOST tie (see the
      |  -- WinnowedFingerprints scaladoc re the paper's robust tie rule);
      |  -- last occurrence found via list_position over the reversed slice
      |  SELECT doc_id, i,
      |    list_min(whs[i : i + 3]) AS fp,
      |    i - 1 + len(whs[i : i + 3])
      |      - list_position(list_reverse(whs[i : i + 3]),
      |          list_min(whs[i : i + 3])) + 1 AS jpos
      |  FROM wh, UNNEST(generate_series(1, greatest(1, m - 3))) AS u(i)
      |), sel2 AS (
      |  SELECT DISTINCT doc_id, CAST(jpos - 1 AS BIGINT) AS j, fp FROM sel
      |)""".stripMargin

  val winnowFingerprintSql: String =
    s"""WITH $winnowSelCtes
       |SELECT doc_id, j, fp FROM sel2
       |ORDER BY doc_id, j""".stripMargin

  /** A fingerprint shared by more documents than this is boilerplate
    * (license headers, navigation chrome), not copying — MOSS drops
    * them, and the cap is ALSO the scale guard: per-fp pair fan-out is
    * ≤ cap²/2, so the overlap join's output is bounded by
    * #kept-fps · cap²/2 regardless of corpus size.
    */
  private[graft] val MaxWinnowFpDocs = 32

  /** Cross-document overlap detection from the winnowed fingerprint
    * table — the MOSS application of [[winnowFingerprint]]: candidate
    * pairs are documents sharing a SELECTED fingerprint (set semantics
    * per doc), scored by n_shared and the containment-style
    * `n_shared / min(|A|, |B|)` ratio, reported when n_shared ≥ 2
    * (a single shared 8-token run is noise at corpus scale).
    *
    * Scale shape: fingerprint sets are O(corpus/w); the per-fp
    * self-join is banded by construction — the [[MaxWinnowFpDocs]]
    * boilerplate cap bounds every fp group, so the join is never
    * all-pairs (the minhash-band discipline); pair aggregation
    * map-side-combines on (doc_a, doc_b); the two totals joins attach
    * O(pairs) rows to an O(docs) frame.
    */
  def winnowOverlap(spark: SparkSession, sfDir: String): DataFrame =
    winnowOverlapOf(Tables.documentsFanned(spark, sfDir))

  /** Library core of [[winnowOverlap]] for any (doc_id, text) frame. */
  private[graft] def winnowOverlapOf(docs: DataFrame): DataFrame = {
    val byDoc = winnowFpsOf(docs).select(col("doc_id"), col("fp"))
      .distinct()
      .corpusCheckpoint() // one pass over the corpus feeds all three uses
    val totals = byDoc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val kept = byDoc.join(
      byDoc.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs").between(2, MaxWinnowFpDocs))
        .select(col("fp")),
      "fp")
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    pairs
      .join(totals.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_fp", "n_fp_a"), "doc_a")
      .join(totals.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_fp", "n_fp_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("n_fp_a"), col("n_fp_b")).cast("double"), 6).as("overlap"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val winnowOverlapSql: String =
    s"""WITH $winnowSelCtes, fpd AS (
       |  SELECT DISTINCT doc_id, fp FROM sel2
       |), totals AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fpd GROUP BY 1
       |), kept AS (
       |  SELECT doc_id, fp FROM fpd
       |  WHERE fp IN (SELECT fp FROM fpd GROUP BY fp
       |               HAVING COUNT(*) BETWEEN 2 AND 32)
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM kept a JOIN kept b
       |    ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= 2
       |)
       |SELECT p.doc_a, p.doc_b, p.n_shared,
       |  ROUND(CAST(p.n_shared AS DOUBLE) /
       |    LEAST(ta.n_fp, tb.n_fp), 6) AS overlap
       |FROM pairs p
       |JOIN totals ta ON ta.doc_id = p.doc_a
       |JOIN totals tb ON tb.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  val rollingFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(
      |        string_split(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ''),
      |        x -> CAST(ascii(x) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 1000000007) AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** BPE-style pre-tokenizer counts: the GPT-2 pre-tokenization regex
    * family (contraction suffixes | space-prefixed letter runs | digit
    * runs | punctuation runs | whitespace), restricted to RE2-safe
    * syntax (no lookahead) so Spark's Java regex and the DuckDB oracle's
    * RE2 match identically. Counting pre-tokens ≈ the upper bound on
    * BPE tokens — the standard cheap length signal for data curation.
    */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+|\\s+"

  def bpeTokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documentsFanned(spark, sfDir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  val bpeTokenCountsSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text,
      |    '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+|\s+'))
      |    AS BIGINT) AS n_bpe_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Per-language trigram profiles, alphabetical language order. Every
    * trigram here is non-self-overlapping (first char ≠ last char), a
    * property [[langNgram]]'s replace-based counting depends on.
    */
  private[graft] val LangTrigramProfile: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "ein", "und", "sch"),
    "en" -> Seq("the", "and", "ing", "ion"),
    "es" -> Seq("los", "ado", "cio", "ien"),
    "fr" -> Seq("les", "ent", "que", "eur"))

  def langNgram(spark: SparkSession, sfDir: String): DataFrame = {
    // ROW-LOCAL plan, fully codegen'd: occurrence count of trigram g in
    // lowered text = (len − len(replace(text, g)))/3, valid because no
    // profile trigram can overlap itself (first ≠ last char ⇒ no period
    // 1 or 2), so non-overlapping replace count = overlapping count.
    // Per-language hits are sums of 4 such counts; argmax via greatest
    // over struct(hits, -langRank) preserves the hits-desc/lang-asc
    // tie-break. Replaces the explode(character n-grams) → broadcast join →
    // groupBy → window → corpus-sized join-back plan: no arrays, no
    // HOFs, no exchanges but the pinned output sort — and unlike the
    // rejected tfidf HOF experiment, replace/length are whole-stage-
    // codegen string intrinsics, so the row-local form is also the
    // faster one at sf0.1.
    val docs = Tables.documentsFanned(spark, sfDir)
    val lt = lower(col("text"))
    def hitsOf(gs: Seq[String]): Column =
      (gs.map(g => length(lt) - length(replace(lt, lit(g), lit(""))))
        .reduce(_ + _) / lit(3)).cast("long")
    val scored = LangTrigramProfile.zipWithIndex.map { case ((_, gs), i) =>
      struct(hitsOf(gs).as("hits"), lit(-i).as("neg_rank"))
    }
    val best = greatest(scored: _*)
    val decoded = LangTrigramProfile.zipWithIndex.foldLeft(lit("und")) {
      case (acc, ((lang, _), i)) =>
        when(best.getField("neg_rank") === -i, lit(lang)).otherwise(acc)
    }
    docs.select(col("doc_id"),
        when(best.getField("hits") === 0L, lit("und"))
          .otherwise(decoded).as("predicted_lang"),
        best.getField("hits").as("hits"))
      .orderBy(col("doc_id"))
  }

  val langNgramSql: String =
    """WITH profile(trigram, profile_lang) AS (VALUES
      |  ('the','en'),('and','en'),('ing','en'),('ion','en'),
      |  ('les','fr'),('ent','fr'),('que','fr'),('eur','fr'),
      |  ('los','es'),('ado','es'),('cio','es'),('ien','es'),
      |  ('der','de'),('ein','de'),('und','de'),('sch','de')
      |), grams AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, length(text) - 2),
      |      i -> substring(lower(text), i, 3))) AS trigram
      |  FROM documents WHERE length(text) >= 3
      |), scores AS (
      |  SELECT doc_id, profile_lang, CAST(COUNT(*) AS BIGINT) AS hits
      |  FROM grams JOIN profile USING (trigram)
      |  GROUP BY doc_id, profile_lang
      |), best AS (
      |  SELECT doc_id, profile_lang, hits,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY hits DESC, profile_lang) AS rn
      |  FROM scores)
      |SELECT d.doc_id,
      |  COALESCE(b.profile_lang, 'und') AS predicted_lang,
      |  COALESCE(b.hits, 0) AS hits
      |FROM documents d
      |LEFT JOIN (SELECT doc_id, profile_lang, hits FROM best WHERE rn = 1) b
      |  USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Per-language marker-token sets, alphabetical language order — the
    * static 20-token "model" of [[langId]]. Pinyin markers chosen to
    * NOT collide with common en/fr/es/de tokens ('de'/'he'/'shi'
    * would); real Chinese text needs a CJK tokenizer — langId is the
    * scoring skeleton, not a model.
    */
  private[graft] val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist"),
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "los", "es", "y"),
    "fr" -> Seq("le", "la", "et", "est"),
    "zh" -> Seq("zhong", "guo", "wo", "ni"))

  /** Marker-token language ID: score each language by hits of its marker
    * tokens, predict argmax (ties broken by language code), fall back to
    * 'und'.
    *
    * ROW-LOCAL plan: the model is 20 static tokens, so scoring is a
    * projection — per language, `size(filter(toks, _ ∈ markers))`
    * (occurrence-counting, duplicates preserved), then argmax via
    * `greatest` over `struct(hits, -langRank)` (struct ordering is
    * lexicographic, so ties on hits resolve to the alphabetically
    * first language). Zero hits → 'und'. The previous join-aggregate
    * form (explode → broadcast join → groupBy → window → corpus-sized
    * join-back) carried two corpus-keyed exchanges that this shape
    * simply doesn't have: at 100 TB the only shuffle left is the
    * pinned output sort.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documentsFanned(spark, sfDir)
    val toks = tokens(col("text"))
    val scored = LangMarkers.zipWithIndex.map { case ((_, markers), i) =>
      struct(
        size(filter(toks, t => t.isInCollection(markers))).cast("long").as("hits"),
        lit(-i).as("neg_rank"))
    }
    val best = greatest(scored: _*)
    val decoded = LangMarkers.zipWithIndex.foldLeft(lit("und")) {
      case (acc, ((lang, _), i)) =>
        when(best.getField("neg_rank") === -i, lit(lang)).otherwise(acc)
    }
    docs.select(
        col("doc_id"), col("lang").as("labeled_lang"),
        when(best.getField("hits") === 0L, lit("und"))
          .otherwise(decoded).as("predicted_lang"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String =
    """WITH markers(token, marker_lang) AS (VALUES
      |  ('the','en'),('and','en'),('of','en'),('is','en'),
      |  ('le','fr'),('la','fr'),('et','fr'),('est','fr'),
      |  ('el','es'),('los','es'),('es','es'),('y','es'),
      |  ('der','de'),('die','de'),('und','de'),('ist','de'),
      |  ('zhong','zh'),('guo','zh'),('wo','zh'),('ni','zh')
      |), toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
      |  FROM documents
      |), scores AS (
      |  SELECT doc_id, marker_lang, COUNT(*) AS hits
      |  FROM toks JOIN markers USING (token)
      |  WHERE token <> ''
      |  GROUP BY doc_id, marker_lang
      |), best AS (
      |  SELECT doc_id, marker_lang,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY hits DESC, marker_lang) AS rn
      |  FROM scores)
      |SELECT d.doc_id, d.lang AS labeled_lang,
      |  COALESCE(b.marker_lang, 'und') AS predicted_lang
      |FROM documents d
      |LEFT JOIN (SELECT doc_id, marker_lang FROM best WHERE rn = 1) b
      |  USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Group-wise top-k: the k longest documents per language — the
    * "pick the best exemplars per stratum" curation shape. Ranking by
    * (n_tokens DESC, doc_id) makes the cut deterministic under ties in
    * both engines. Spark 4 plans the `row_number() ≤ k` filter as
    * WindowGroupLimit: a PARTIAL per-partition top-k heap runs before
    * the window shuffle, so the exchange carries k rows per (partition,
    * group) instead of the corpus — per-group top-k at 100 TB without a
    * global sort (same Partial/Final shape as TakeOrderedAndProject,
    * but per group).
    */
  def topkPerLang(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 3
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_tokens").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("doc_id"), col("n_tokens"))
      .orderBy(col("lang"), col("rank"))
  }

  val topkPerLangSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |      x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), r AS (
      |  SELECT lang, doc_id, n_tokens,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rank
      |  FROM t
      |)
      |SELECT lang, rank, doc_id, n_tokens FROM r
      |WHERE rank <= 3
      |ORDER BY lang, rank""".stripMargin

  /** TF-IDF keyword extraction: top-3 highest-scoring terms per doc,
    * score = tf · ln(N/df). The shuffle budget is the floor for this
    * computation: one partial-agg shuffle for (doc, term) tf, one
    * term-keyed agg reusing that frame for df, a join of tf against the
    * (vocab-sized, ≪ corpus) df table, and a per-doc WindowGroupLimit
    * top-3 — per-partition heaps, never a global sort. N rides in as a
    * broadcast 1-row aggregate so the whole thing is one DAG (no
    * driver-side count round-trip). Ranking compares the ROUNDED score
    * (then term) so a ≤1-ulp `ln` divergence between engines cannot
    * reorder a tie. At 100 TB the df join is the only sized decision:
    * Catalyst/AQE broadcasts it while the vocab fits (hashed-ngram
    * vocabs cap it by construction), else it degrades to a sort-merge
    * join that is still term-balanced.
    */
  /** Per-doc top-k TF-IDF terms SERVED FROM THE POSTINGS INDEX — the
    * r10 re-plan: the (doc_id, term, tf) rows this query used to
    * recompute (tokenize → explode → hash agg, the whole-corpus pass
    * every retrieval key shares) already sit in
    * [[ensureInvertedIndex]]'s term-bucketed table, column-pruned to
    * three columns here (positions/dl never read). df aggregates
    * EXCHANGE-FREE off the term-bucketed scan (the keyword-search df
    * precedent) and joins back co-located; n_docs is the exact stats
    * sidecar. The only data exchange left is the per-doc ranking
    * window (partitioned, WindowGroupLimit-pruned) plus the output
    * sort — down from three corpus-keyed exchanges plus a tokenize
    * pass in the in-flight form. One corpus index now serves keyword /
    * phrase / boolean / hybrid search AND tf-idf profiling, which is
    * the production shape: you build the inverted index once per
    * corpus epoch and every ranking signal reads it.
    *
    * (Historical receipt — a row-local sorted-run-length HOF form
    * computing tf pairs per row benched 30 s vs 0.77 at sf0.1:
    * interpreted HOF evaluation loses ~40× to codegen'd hash
    * aggregation on this volume. Don't re-run it.)
    */
  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 3
    val name = ensureInvertedIndex(spark, sfDir)
    val tf = spark.table(name).select(col("doc_id"), col("term"), col("tf"))
    val nDocs = spark.table(name + "_stats")
      .select(col("n_docs").cast("double").as("n_docs"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(dfT, "term").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double") * log(col("n_docs") / col("df")), 6)
          .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfTopTermsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
      |), n AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
      |), df AS (
      |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
      |), s AS (
      |  SELECT tf.doc_id, tf.term,
      |    ROUND(CAST(tf.tf AS DOUBLE) * LN(n.n_docs / df.df), 6) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |), r AS (
      |  SELECT doc_id, term, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, term) AS BIGINT) AS rank
      |  FROM s
      |)
      |SELECT doc_id, rank, term, score FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** Distributed BPE merge TRAINING (Sennrich et al. ACL'16) — the
    * tokenizer-training step itself, not just the application of a
    * pre-tokenizer ([[bpeTokenCounts]]). Semantics are strict
    * sequential BPE over the WORD-FREQUENCY table: count adjacent
    * symbol pairs (weighted by word frequency, overlapping positions
    * counted, per the reference implementation), pick the most
    * frequent pair (ties by count desc, left asc, right asc — total
    * order), merge its occurrences left-to-right non-overlapping,
    * repeat.
    *
    * Merge correctness — boundary-owning representation: a symbol
    * string is joined with DOUBLE separators and wrapped
    * (`[a,b,x]` becomes `.a..b..x.` with `.` = chr(31)) so each symbol
    * owns a flanking separator on both sides. A pair merge is then the
    * plain non-overlapping left-to-right `replace(.l..r. -> .lr.)` —
    * the pattern's outer separators force whole-symbol alignment
    * (symbols are `[a-z0-9]+`, never containing the separator), so a
    * symbol merely ENDING in l or STARTING with r can never be
    * captured (the bug class an unanchored single-separator replace
    * has: after (a,b)->"ab", a later (b,x) merge must NOT fire inside
    * "ab.x"), and the replacement restores both flanks, so consecutive
    * occurrences (`a.b.a.b`) all merge in one pass exactly as greedy
    * left-to-right BPE does. Java's and DuckDB's `replace` share these
    * semantics, which keeps the whole loop oracle-checkable; there is
    * no floating point anywhere.
    *
    * Scale shape — two tiers, jobs sublinear in merges. Real BPE
    * trainers run on the word-count table, not the corpus: one
    * corpus-sized shuffle builds (word, freq), and by Heap's law that
    * vocabulary is sublinear in corpus size (~10M distinct
    * pre-tokenized words even at web scale — low-hundreds of MB).
    * Tier 1 (the normal path, vocab ≤ [[MaxLocalBpeVocab]]): collect
    * the vocabulary ONCE and train on the driver with incremental
    * pair-count deltas — each merge re-counts only the words that
    * contain the merged pair (tracked by an inverted pair→words
    * index), exactly like the classic in-memory trainers — so ANY
    * merge depth costs ONE Spark job total. Tier 2 (vocab over the
    * bound): a distributed loop over the vocabulary frame — pair
    * explode → partial-agg count → top-256 candidate pool to the
    * driver (a bounded, codebook-sized collect, like
    * [[SimilarityOps]]' ivfKmeans centroids), where a batch of merges
    * provably equivalent to the sequential schedule is selected and
    * applied in ONE vocabulary pass. The batch is limited by genuine
    * sequential dependencies (in natural language the top pairs chain
    * — (t,h) then (h,e) — and a chained pair's count is changed by the
    * earlier merge, so exactness forces a new round), which is why the
    * delta tier, not the batch tier, is the depth path.
    * Batch safety argument: merging (l, r) reduces
    * only pair forms (x, l) and (r, y) — an (l, y) or (x, r)
    * occurrence survives the merge untouched — so, scanning candidates
    * in (count desc, l, r) order, a candidate is accepted while its
    * count is provably exact under every earlier accepted merge
    * (right not an accepted left, left not an accepted right, neither
    * operand an accepted product; a product equal to a pre-existing
    * SYMBOL could boost that symbol's pairs, so it closes the batch).
    * At the first violation the batch is a strict pool PREFIX, and it
    * is truncated to counts STRICTLY above the violating candidate's
    * count: any pair newly created by an accepted merge (x, lr) is a
    * sub-occurrence of (x, l) — a pair whose right is an accepted
    * left, hence outside the prefix, hence bounded by that stop count
    * — so sequential BPE schedules every creation after the whole
    * batch. Within the batch, counts are mutually exact, so the sorted
    * order IS the sequential pick order; chaining the replaces in that
    * order equals applying them one at a time (each consumes disjoint
    * occurrence instances). The DuckDB oracle is deliberately NEITHER
    * delta-based NOR batched — it unrolls the pure one-merge-per-round
    * full-recount recurrence — so the hash match is an end-to-end
    * proof of both tiers' shortcuts on the actual corpus, on top of
    * [[TextOpsSpec]]'s adversarial fixtures (which cross-check tier 1,
    * tier 2, and a naive recount reference against each other).
    */
  private[graft] val BpeSep = "\u001f" // matches the oracle's chr(31)
  private[graft] val BpeTrainIters = 50
  private[graft] val BpeCandidatePool = 256
  private[graft] val MaxLocalBpeVocab = 2000000 // rows; ~tens of MB on the driver

  def bpeTrainMerges(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrainMergesFor(
      Tables.documentsFanned(spark, sfDir)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq")),
      iters = BpeTrainIters)

  /** Library core of [[bpeTrainMerges]] for any (w, freq) word table:
    * tier dispatch (see the scaladoc above). The `limit(bound + 1)`
    * probe keeps the tier check itself a single bounded job.
    */
  def bpeTrainMergesFor(words: DataFrame, iters: Int = 3): DataFrame =
    mergesDf(words.sparkSession, bpeTrainSchedule(words, iters))

  /** The tier dispatch itself, returning the merge schedule as a
    * driver value — shared by [[bpeTrainMergesFor]] and [[bpeApply]]
    * so the two can never dispatch differently (and both maintain the
    * [[bpeLastRounds]] witness).
    */
  private[graft] def bpeTrainSchedule(words: DataFrame,
      iters: Int): Seq[(Long, String, String, Long)] = {
    val probe = words.limit(MaxLocalBpeVocab + 1).collect()
    if (probe.length <= MaxLocalBpeVocab) {
      bpeLastRounds = 1
      bpeTrainLocal(probe.map(r => (r.getString(0), r.getLong(1))).toSeq, iters)
    } else bpeTrainMergesDistributed(words, iters).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
  }

  /** Tier-1 trainer: exact sequential BPE with incremental pair-count
    * deltas over an in-memory vocabulary. Per merge, only words
    * containing the merged pair (via the inverted pair→word index) are
    * re-counted: their old adjacent pairs are subtracted and their new
    * ones added — by construction identical to a full recount, since
    * untouched words contribute the same counts to both. The argmax is
    * a scan of the live pair table (a lazy max-heap is the classic
    * upgrade if merge depth × pair count ever matters).
    */
  private[graft] def bpeTrainLocal(vocab: Seq[(String, Long)], iters: Int)
      : Seq[(Long, String, String, Long)] = {
    val syms = vocab.map(_._1.map(_.toString).toVector).toArray
    val freqs = vocab.map(_._2).toArray
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    val pairWords = scala.collection.mutable.Map
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def index(p: (String, String), w: Int): Unit =
      pairWords.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += w
    for (w <- syms.indices; i <- 0 until syms(w).length - 1) {
      val p = (syms(w)(i), syms(w)(i + 1))
      counts(p) += freqs(w); index(p, w)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var it = 1
    var done = false
    while (it <= iters && !done) {
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.min(Ordering.by[((String, String), Long),
          (Long, String, String)] { case ((pl, pr), pc) => (-pc, pl, pr) })
        out += ((it.toLong, l, r, c))
        val affected = pairWords.getOrElse((l, r), Set.empty[Int]).toArray
        for (w <- affected) {
          val old = syms(w)
          for (i <- 0 until old.length - 1) {
            val p = (old(i), old(i + 1))
            counts(p) -= freqs(w)
            if (counts(p) <= 0L) { counts.remove(p); pairWords.remove(p) }
            else pairWords.get(p).foreach(_ -= w)
          }
          val nb = Vector.newBuilder[String]
          var i = 0
          while (i < old.length) {
            if (i + 1 < old.length && old(i) == l && old(i + 1) == r) {
              nb += l + r; i += 2
            } else { nb += old(i); i += 1 }
          }
          syms(w) = nb.result()
          for (i2 <- 0 until syms(w).length - 1) {
            val p = (syms(w)(i2), syms(w)(i2 + 1))
            counts(p) += freqs(w); index(p, w)
          }
        }
        it += 1
      }
    }
    out.toSeq
  }

  /** Tier-2 trainer: distributed batched rounds (see scaladoc). */
  private[graft] def bpeTrainMergesDistributed(words: DataFrame,
      iters: Int): DataFrame = {
    val spark = words.sparkSession
    var state = words
      // separator-joined single chars; substr-by-position builds the
      // identical char list in both engines (split-on-empty differs)
      .select(concat_ws(BpeSep,
        expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))")).as("sym"),
        col("freq"))
      .corpusCheckpoint() // each round re-reads the merged state
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    // Current vocabulary symbols (36 possible initial chars + every
    // product applied so far) — the product-collision guard's witness;
    // bounded by 36 + iters entries.
    val knownSymbols = scala.collection.mutable.Set.empty[String]
    knownSymbols ++= (('a' to 'z') ++ ('0' to '9')).map(_.toString)
    var exhausted = false
    var rounds = 0
    while (picked.length < iters && !exhausted) {
      rounds += 1
      val toks = split(col("sym"), BpeSep)
      // guard: sequence(1, 0) would infer a NEGATIVE step in Spark
      val pairIdx = when(size(toks) > 1,
        sequence(lit(1), size(toks) - 1)).otherwise(array().cast("array<int>"))
      val pool = state
        .select(col("freq"), toks.as("toks"), explode(pairIdx).as("i"))
        .select(col("freq"),
          element_at(col("toks"), col("i")).as("l"),
          element_at(col("toks"), col("i") + 1).as("r"))
        .groupBy(col("l"), col("r"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(BpeCandidatePool)
        .collect() // bounded: <=256 rows — the batch planner's input
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      if (pool.isEmpty) exhausted = true // vocabulary fully merged
      else {
        // Greedy safe batch — role-aware conflict rule. Merging (l, r)
        // REDUCES only pairs of the form (x, l) and (r, y) (an (l, y)
        // or (x, r) occurrence survives: its l is followed by y not r /
        // its r is preceded by x not l — so those counts are EXACT and
        // the pairs safely co-batch). Accept scanning in pool order
        // while the candidate's count is provably untouched by every
        // earlier accepted merge: right ∉ acceptedLefts, left ∉
        // acceptedRights, neither operand ∈ acceptedProducts. A
        // product colliding with a PRE-EXISTING symbol (tracked across
        // rounds) can BOOST that symbol's pre-existing pairs above the
        // stop bound, so it closes the batch after its own merge.
        val accLefts = scala.collection.mutable.Set.empty[String]
        val accRights = scala.collection.mutable.Set.empty[String]
        val accProducts = scala.collection.mutable.Set.empty[String]
        val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var productCollision = false
        var stopCount = -1L
        var i = 0
        while (i < pool.length && stopCount < 0) {
          val (l, r, c) = pool(i)
          if (productCollision || accLefts(r) || accRights(l) ||
              accProducts(l) || accProducts(r)) stopCount = c
          else {
            batch += ((l, r, c))
            accLefts += l; accRights += r; accProducts += l + r
            if (knownSymbols(l + r)) productCollision = true
          }
          i += 1
        }
        // A truncated pool may hide ties just below its tail; bound by it.
        if (stopCount < 0 && pool.length == BpeCandidatePool) stopCount = pool.last._3
        val safe0 = if (stopCount < 0) batch.toSeq
                    else batch.toSeq.takeWhile(_._3 > stopCount)
        // Always make progress: the single top pair IS the sequential pick.
        val safe = (if (safe0.isEmpty) batch.take(1).toSeq else safe0)
          .take(iters - picked.length)
        val base = picked.length
        picked ++= safe.zipWithIndex.map { case ((l, r, c), k) =>
          ((base + k + 1).toLong, l, r, c)
        }
        // One vocabulary pass applies the whole batch: pad to the
        // boundary-owning form, chain the replaces in pick order, unpad.
        var e: Column = concat(lit(BpeSep),
          replace(col("sym"), lit(BpeSep), lit(BpeSep + BpeSep)), lit(BpeSep))
        for ((l, r, _) <- safe)
          e = replace(e, lit(BpeSep + l + BpeSep + BpeSep + r + BpeSep),
            lit(BpeSep + l + r + BpeSep))
        state = state
          .select(trim(replace(e, lit(BpeSep + BpeSep), lit(BpeSep)), BpeSep).as("sym"),
            col("freq"))
          .corpusCheckpoint()
        knownSymbols ++= safe.map { case (l, r, _) => l + r }
      }
    }
    bpeLastRounds = rounds
    mergesDf(spark, picked.toSeq)
  }

  /** Spark rounds the last [[bpeTrainMergesFor]] call used — the
    * sublinearity witness (jobs per training run = 2×rounds, not
    * 2×merges); read by TextOpsSpec, not part of the operator result.
    */
  @volatile private[graft] var bpeLastRounds: Int = 0

  private def mergesDf(spark: SparkSession,
      rows: Seq[(Long, String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("iteration", "merge_left", "merge_right", "pair_count")
      .orderBy(col("iteration"))
  }

  /** The shared CTE chain of the sequential BPE oracle: w0 plus
    * `iters` (pair-count, best-pick, merge) levels. MATERIALIZED pins
    * DuckDB to linear evaluation (each w/b level is referenced twice;
    * inlining would be exponential). Reused by the training oracle
    * AND the apply oracle, so the two can never train differently.
    */
  private def bpeTrainChainSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT toks[i] AS merge_left, toks[i+1] AS merge_right,
         |         CAST(SUM(freq) AS BIGINT) AS pair_count
         |  FROM (SELECT string_split(sym, chr(31)) AS toks, freq FROM w${i - 1}) s,
         |       UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
         |  GROUP BY 1, 2
         |), b$i AS MATERIALIZED (
         |  SELECT * FROM p$i ORDER BY pair_count DESC, merge_left, merge_right LIMIT 1
         |), w$i AS MATERIALIZED (
         |  SELECT trim(replace(replace(
         |           chr(31) || replace(sym, chr(31), chr(31) || chr(31)) || chr(31),
         |           chr(31) || merge_left || chr(31) || chr(31) || merge_right || chr(31),
         |           chr(31) || merge_left || merge_right || chr(31)),
         |         chr(31) || chr(31), chr(31)), chr(31)) AS sym, freq
         |  FROM w${i - 1} CROSS JOIN b$i
         |)""".stripMargin
    }.mkString(", ")
    s"""w0 AS MATERIALIZED (
       |  SELECT array_to_string(list_transform(generate_series(1, length(w)),
       |           i -> substring(w, i, 1)), chr(31)) AS sym,
       |         CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(
       |          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       |        FROM documents)
       |  GROUP BY 1
       |), $rounds""".stripMargin
  }

  private def bpeTrainSeqSql(iters: Int): String = {
    val union = (1 to iters).map(i =>
      s"SELECT CAST($i AS BIGINT) AS iteration, merge_left, merge_right, pair_count FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeTrainChainSql(iters)}
       |$union
       |ORDER BY iteration""".stripMargin
  }

  val bpeTrainMergesSql: String = bpeTrainSeqSql(BpeTrainIters)

  /** APPLY the trained merges — the tokenizer itself, closing the
    * train → tokenize loop: every corpus token is re-segmented by the
    * [[BpeTrainIters]] learned merges (in schedule order) and the
    * per-document BPE token count emitted, the number a packing/budget
    * stage actually consumes. Row-local end to end: the merge chain is
    * string `replace`s over the boundary-owning padded form (the same
    * representation the trainer proves out), applied per token inside
    * one higher-order aggregate — no join, no shuffle before the
    * output sort; the only non-map work is the training itself (one
    * bounded job via the tier-1 delta trainer; the merges are always a
    * ≤iters-row driver value at ANY corpus scale). The oracle re-runs
    * the sequential training chain and applies the same 50 replaces
    * per token, so a single hash compare covers train + apply
    * composition.
    */
  def bpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documentsFanned(spark, sfDir)
    val words = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val merges = bpeTrainSchedule(words, BpeTrainIters)
      .sortBy(_._1).map(t => (t._2, t._3))
    bpeApplyFor(docs.select(col("doc_id"), col("text")), merges)
  }

  /** Library core of [[bpeApply]] for any (doc_id, text) frame and
    * merge schedule. */
  def bpeApplyFor(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    def nSyms(tok: Column): Column = {
      var e: Column = concat(lit(BpeSep),
        concat_ws(BpeSep + BpeSep,
          transform(sequence(lit(1), length(tok)), i => tok.substr(i, lit(1)))),
        lit(BpeSep))
      for ((l, r) <- merges)
        e = replace(e, lit(BpeSep + l + BpeSep + BpeSep + r + BpeSep),
          lit(BpeSep + l + r + BpeSep))
      // each symbol owns exactly two flanking separators
      ((length(e) - length(replace(e, lit(BpeSep), lit("")))).cast("long")
        / lit(2L)).cast("long")
    }
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + nSyms(t))
          .as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  private def bpeApplySeqSql(iters: Int): String = {
    val padded = "chr(31) || array_to_string(list_transform(" +
      "generate_series(1, length(t)), i -> substring(t, i, 1)), " +
      "chr(31) || chr(31)) || chr(31)"
    // COALESCE guards an exhausted-vocabulary round (empty b_i): the
    // pattern falls back to chr(30), which never occurs in the padded
    // form, making the level a no-op instead of a NULL propagation
    val applied = (1 to iters).foldLeft(padded) { (prev, i) =>
      s"replace($prev, COALESCE(chr(31) || (SELECT merge_left FROM b$i) || " +
        s"chr(31) || chr(31) || (SELECT merge_right FROM b$i) || chr(31), chr(30)), " +
        s"COALESCE(chr(31) || (SELECT merge_left FROM b$i) || " +
        s"(SELECT merge_right FROM b$i) || chr(31), ''))"
    }
    s"""WITH ${bpeTrainChainSql(iters)},
       |tok AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
       |  FROM documents
       |), ap AS (
       |  SELECT doc_id, $applied AS af FROM tok
       |), agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM((length(af) - length(replace(af, chr(31), ''))) // 2)
       |      AS BIGINT) AS n_bpe_tokens
       |  FROM ap GROUP BY 1
       |)
       |SELECT d.doc_id, COALESCE(agg.n_tokens, 0) AS n_tokens,
       |  COALESCE(agg.n_bpe_tokens, 0) AS n_bpe_tokens
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  val bpeApplySql: String = bpeApplySeqSql(BpeTrainIters)

  // -------------------------------------------------------------------
  // Unigram-LM tokenizer (SentencePiece-style, Kudo ACL'18) — the other
  // tokenizer family the field ships beside BPE: a vocabulary of pieces
  // with log-probabilities, trained by EM over a seed vocabulary, and a
  // Viterbi segmenter at apply time. Hard-EM (Viterbi-E-step) variant:
  // every quantity is deterministic, so the DuckDB oracle re-derives
  // the ENTIRE pipeline — seed, both EM rounds, prune, apply — and the
  // hash match proves train + apply end to end.
  //
  // Exactness discipline: the one transcendental (log) is taken ONCE
  // per integer count — lpnMicro(n) = floor(1e6·ln n), the collocations
  // precedent — and everything downstream (piece scores, Viterbi sums,
  // argmax comparisons) is exact BIGINT arithmetic, so no float
  // divergence can accumulate across DP steps in either engine.
  //
  // Spec (authoritative, mirrored by unigramChainSqlCtes):
  //  - words: the shared `tokens` split; types LONGER than
  //    UnigramMaxWord are excluded from training and char-fallback
  //    (n_pieces = length) at apply — the max-piece-length/long-token
  //    cap every production sentencepiece config sets.
  //  - seed: every substring of length 1..UnigramMaxPiece of every
  //    (≤ MaxWord) word occurrence, count = Σ freq·occurrences; vocab0
  //    = top-UnigramSeedSize by (cnt desc, piece) ∪ ALL single chars
  //    (coverage guarantee); lp = lpnMicro(cnt) − lpnMicro(Σcnt).
  //  - EM ×UnigramEmIters: Viterbi-segment each word type (argmax on
  //    exact integer score; ties → LONGEST last piece); piece counts =
  //    Σ freq over chosen pieces; multi-char pieces keep cnt > 0 only,
  //    single chars persist with cnt floored to ≥ 1 (the character-
  //    coverage floor — keeps every word segmentable and ln defined);
  //    re-normalize lp.
  //  - prune: top-UnigramVocabSize by (cnt desc, piece) ∪ chars,
  //    re-normalized — the caps are sized BELOW this corpus's natural
  //    sizes so seed cap, prune cap, and char floor all genuinely bind
  //    (the MgCapacity discipline: bounds exercised, never vacuous).
  //
  // Scale shape: driver state is the word-TYPE table (Heap's-law
  // sublinear — the bpeTrainSchedule argument) on tier 1, and on the
  // distributed tier only the MODEL (≤ SeedSize + |charset| rows) plus
  // per-partition combiner maps ever leave the executors; the E-step
  // shuffles ≤ model-size rows per partition. The per-word sequential
  // DP (argmax + path backtrace) runs in mapPartitions over the TYPE
  // frame — the Misra-Gries precedent: a stateful per-row algorithm a
  // Catalyst expression can't express — with the model riding the
  // closure, never a corpus-sized broadcast. Apply joins the per-type
  // piece counts back to token instances broadcast-side, so the
  // corpus-sized frame only ever carries a long.
  // -------------------------------------------------------------------

  private[graft] val UnigramMaxPiece = 4
  private[graft] val UnigramMaxWord = 24
  private[graft] val UnigramSeedSize = 64
  private[graft] val UnigramVocabSize = 24
  private[graft] val UnigramEmIters = 2

  /** floor(1e6 · ln n) — the single rounding point; exact BIGINT after. */
  private[graft] def lpnMicro(n: Long): Long =
    math.floor(1e6 * math.log(n.toDouble)).toLong

  /** Viterbi segmentation of one word under integer micro-log-prob
    * piece scores. Ties pick the LONGEST piece (the oracle checks
    * lengths descending with ≥). Positions are reachable iff position
    * 0 or a piece was chosen there; an end-unreachable word (possible
    * only for models without full char coverage — spec fixtures) yields
    * the empty segmentation, matching the oracle's NULL-bail rows.
    */
  private[graft] def unigramViterbi(w: String,
      lp: scala.collection.Map[String, Long]): List[String] = {
    val L = w.length
    val s = new Array[Long](L + 1)
    val k = new Array[Int](L + 1)
    var i = 1
    while (i <= L) {
      var best = 0L
      var bjj = 0
      var jj = 1
      val top = math.min(UnigramMaxPiece, i)
      while (jj <= top) {
        val j = i - jj
        if (j == 0 || k(j) >= 1) lp.get(w.substring(j, i)) match {
          case Some(v) =>
            val cand = s(j) + v
            if (bjj == 0 || cand > best || (cand == best && jj > bjj)) {
              best = cand; bjj = jj
            }
          case None => ()
        }
        jj += 1
      }
      s(i) = best
      k(i) = bjj
      i += 1
    }
    var q = L
    var out = List.empty[String]
    while (q > 0 && k(q) >= 1) {
      out = w.substring(q - k(q), q) :: out
      q -= k(q)
    }
    out
  }

  /** lp map of a floored count set: lpnMicro(cnt) − lpnMicro(total). */
  private def unigramLpOf(cnts: Seq[(String, Long)]): Map[String, Long] = {
    val total = cnts.map(_._2).sum
    val lt = lpnMicro(total)
    cnts.map { case (p, c) => p -> (lpnMicro(c) - lt) }.toMap
  }

  /** M-step floor rule: multi-char pieces survive iff counted; single
    * chars persist with cnt ≥ 1 (character-coverage floor). */
  private def unigramFloors(counts: scala.collection.Map[String, Long],
      chars: Set[String]): Seq[(String, Long)] =
    (counts.toSeq.filter { case (p, c) => p.length > 1 && c > 0 } ++
      chars.toSeq.map(ch => ch -> math.max(counts.getOrElse(ch, 0L), 1L)))
      .sortBy(_._1)

  /** Shared EM loop + final prune — both tiers differ only in how the
    * E-step counts are produced, so they cannot train differently. */
  private def unigramEmLoop(chars: Set[String], b0: Seq[(String, Long)],
      eStep: Map[String, Long] => scala.collection.Map[String, Long])
      : Seq[(String, Long, Long)] = {
    var cnts = b0
    var lp = unigramLpOf(cnts)
    var t = 0
    while (t < UnigramEmIters) {
      cnts = unigramFloors(eStep(lp), chars)
      lp = unigramLpOf(cnts)
      t += 1
    }
    val keep = cnts.sortBy { case (p, c) => (-c, p) }.take(UnigramVocabSize)
    val fin = (keep ++ cnts.filter(_._1.length == 1)).distinctBy(_._1)
    val lt = lpnMicro(fin.map(_._2).sum)
    fin.map { case (p, c) => (p, c, lpnMicro(c) - lt) }
      .sortBy { case (p, c, _) => (-c, p) }
  }

  /** Tier-1 trainer: seed + EM entirely on the driver over the
    * collected word-type table. */
  private[graft] def unigramTrainLocal(types: Seq[(String, Long)])
      : Seq[(String, Long, Long)] = {
    val tr = types.filter(_._1.length <= UnigramMaxWord)
    val seed = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for ((w, f) <- tr; i <- 0 until w.length;
         jj <- 1 to math.min(UnigramMaxPiece, w.length - i))
      seed(w.substring(i, i + jj)) += f
    val chars = seed.keysIterator.filter(_.length == 1).toSet
    val top = seed.toSeq.sortBy { case (p, c) => (-c, p) }.take(UnigramSeedSize)
    val b0 = (top ++ chars.toSeq.map(c => c -> seed(c))).distinctBy(_._1)
    unigramEmLoop(chars, b0, lp => {
      val counts = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((w, f) <- tr; p <- unigramViterbi(w, lp)) counts(p) += f
      counts
    })
  }

  /** Tier-2 trainer: the word-type table never reaches the driver —
    * seed counts aggregate distributed (top-k + charset are the only
    * collects, both model-bounded), and each E-step maps the type
    * frame through the shared Viterbi with per-partition combiner maps
    * (≤ model-size rows shuffle per partition). */
  private[graft] def unigramTrainDistributed(types: DataFrame)
      : Seq[(String, Long, Long)] = {
    val spark = types.sparkSession
    import spark.implicits._
    val tr = types.filter(length(col("w")) <= UnigramMaxWord)
      .select(col("w"), col("freq")).as[(String, Long)]
    val subs = flatten(transform(sequence(lit(1), length(col("w"))), i =>
      transform(sequence(lit(1), least(lit(UnigramMaxPiece),
          length(col("w")) - i + 1)),
        jj => col("w").substr(i, jj))))
    val seed = tr.toDF("w", "freq")
      .select(explode(subs).as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val top = seed.orderBy(col("cnt").desc, col("piece"))
      .limit(UnigramSeedSize).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val charRows = seed.filter(length(col("piece")) === 1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val chars = charRows.map(_._1).toSet
    val b0 = (top ++ charRows).distinctBy(_._1).toSeq
    unigramEmLoop(chars, b0, lp => {
      tr.mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        it.foreach { case (w, f) =>
          unigramViterbi(w, lp).foreach(p => acc(p) += f)
        }
        acc.iterator
      }.toDF("piece", "c").groupBy(col("piece"))
        .agg(sum(col("c")).as("cnt")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    })
  }

  /** Tier dispatch (the bpeTrainSchedule probe) returning the final
    * (piece, cnt, logp_micro) model rows. */
  private[graft] def unigramTrainFull(words: DataFrame)
      : Seq[(String, Long, Long)] = {
    val probe = words.limit(MaxLocalBpeVocab + 1).collect()
    if (probe.length <= MaxLocalBpeVocab)
      unigramTrainLocal(probe.map(r => (r.getString(0), r.getLong(1))).toSeq)
    else unigramTrainDistributed(words)
  }

  private def unigramWords(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  def unigramTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    unigramTrainFull(unigramWords(Tables.documentsFanned(spark, sfDir)))
      .toDF("piece", "cnt", "logp_micro")
      .orderBy(col("cnt").desc, col("piece"))
  }

  /** Segment the corpus under the trained model: per-doc whitespace
    * token count and unigram piece count (the packing/budget number).
    * The DP runs once per word TYPE; token instances only ever carry
    * the joined long. Words over the length cap fall back to
    * char-count (n = length), the oracle's CASE arm.
    */
  def unigramApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsFanned(spark, sfDir)
    val words = unigramWords(docs)
    val lp = unigramTrainFull(words).map(t => t._1 -> t._3).toMap
    val typeN = words.select(col("w")).as[String].mapPartitions { it =>
      it.map { w =>
        val n = if (w.length > UnigramMaxWord) w.length.toLong
          else unigramViterbi(w, lp).length.toLong
        (w, n)
      }
    }.toDF("w", "np")
    val agg = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(broadcast(typeN), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("np")).as("n_pieces"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
      .orderBy(col("doc_id"))
  }

  // Oracle SQL for the unigram pipeline. Every DP position is its own
  // MATERIALIZED CTE level: lateral aliases would inline-expand the
  // 4-way s_i recursion EXPONENTIALLY in DuckDB's binder (the same
  // trap bpeTrainChainSql's MATERIALIZED note records); with one CTE
  // per position, every alias bottoms out in the previous level's
  // materialized columns. Candidate aliases are position-qualified
  // (c{i}_{jj}) because each level's SELECT * re-exposes all earlier
  // levels' columns and an unqualified c_1 would resolve to the stale
  // one.

  private def unigramLpnSql(e: String): String =
    s"CAST(floor(1000000 * ln($e)) AS BIGINT)"

  /** DP + backtrace CTE levels over pivoted lp_{i}_{jj} columns;
    * returns (ctes, nameOfLastLevel). */
  private def unigramDpLevels(tag: String, src: String,
      withN: Boolean): (Seq[String], String) = {
    val W = UnigramMaxWord
    val P = UnigramMaxPiece
    val ctes = scala.collection.mutable.ArrayBuffer.empty[String]
    val zero = "CAST(0 AS BIGINT) AS s_0" +
      (if (withN) ", CAST(0 AS BIGINT) AS n_0" else "")
    ctes += s"${tag}d0 AS MATERIALIZED (SELECT *, $zero FROM $src)"
    var prev = s"${tag}d0"
    for (i <- 1 to W) {
      val jjs = (1 to math.min(P, i)).toSeq
      val alias = scala.collection.mutable.ArrayBuffer.empty[String]
      for (jj <- jjs) alias += s"(s_${i - jj} + lp_${i}_$jj) AS c${i}_$jj"
      val ks = jjs.reverse.map { jj =>
        val conds = s"c${i}_$jj IS NOT NULL" +: jjs.filter(_ != jj).map(jo =>
          s"c${i}_$jj >= COALESCE(c${i}_$jo, c${i}_$jj)")
        s"WHEN ${conds.mkString(" AND ")} THEN $jj"
      }
      alias += s"CASE ${ks.mkString(" ")} ELSE 0 END AS k_$i"
      val sCase = jjs.reverse.map(jj => s"WHEN $jj THEN c${i}_$jj").mkString(" ")
      alias += s"CASE k_$i $sCase END AS s_$i"
      if (withN) {
        val nCase = jjs.reverse.map(jj => s"WHEN $jj THEN n_${i - jj} + 1")
          .mkString(" ")
        alias += s"CASE k_$i $nCase END AS n_$i"
      }
      ctes += s"${tag}d$i AS MATERIALIZED (SELECT *, ${alias.mkString(", ")} FROM $prev)"
      prev = s"${tag}d$i"
    }
    ctes += s"${tag}b0 AS MATERIALIZED (SELECT *, len AS q_0 FROM $prev)"
    prev = s"${tag}b0"
    for (t <- 1 to W) {
      val kk = (1 to W).map(i => s"WHEN $i THEN k_$i").mkString(" ")
      val alias = Seq(
        s"CASE q_${t - 1} $kk ELSE 0 END AS kk_$t",
        s"CASE WHEN q_${t - 1} > 0 AND kk_$t >= 1 THEN substring(w, q_${t - 1} - kk_$t + 1, kk_$t) END AS e_$t",
        s"CASE WHEN q_${t - 1} > 0 AND kk_$t >= 1 THEN q_${t - 1} - kk_$t ELSE 0 END AS q_$t")
      ctes += s"${tag}b$t AS MATERIALIZED (SELECT *, ${alias.mkString(", ")} FROM $prev)"
      prev = s"${tag}b$t"
    }
    (ctes.toSeq, prev)
  }

  private def unigramPivotCols: String = {
    val W = UnigramMaxWord
    val P = UnigramMaxPiece
    (for (i <- 1 to W; jj <- 1 to math.min(P, i)) yield
      s"MAX(CASE WHEN i=$i AND jj=$jj THEN lp END) AS lp_${i}_$jj")
      .mkString(",\n    ")
  }

  private def unigramEmChainCtes(t: Int): Seq[String] = {
    val W = UnigramMaxWord
    val P = UnigramMaxPiece
    val (dp, last) = unigramDpLevels(s"u$t", s"up$t", withN = false)
    val emits = (1 to W).map(k => s"SELECT e_$k AS piece, freq FROM $last")
      .mkString("\nUNION ALL\n")
    Seq(
      s"""ue$t AS MATERIALIZED (
         |  SELECT uw.w, uw.freq, uw.len, a.i, b.jj, m.lp
         |  FROM uw,
         |       UNNEST(generate_series(1, uw.len)) AS a(i),
         |       UNNEST(generate_series(1, $P)) AS b(jj),
         |       um${t - 1} m
         |  WHERE b.jj <= a.i AND m.piece = substring(uw.w, a.i - b.jj + 1, b.jj)
         |)""".stripMargin,
      s"""up$t AS MATERIALIZED (
         |  SELECT w, ANY_VALUE(freq) AS freq, ANY_VALUE(len) AS len,
         |    $unigramPivotCols
         |  FROM ue$t GROUP BY w
         |)""".stripMargin) ++ dp ++ Seq(
      s"""ucnt$t AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM ($emits)
         |  WHERE piece IS NOT NULL
         |  GROUP BY piece
         |)""".stripMargin,
      s"""ub$t AS MATERIALIZED (
         |  SELECT COALESCE(c.piece, ch.piece) AS piece,
         |         CASE WHEN length(COALESCE(c.piece, ch.piece)) = 1
         |              THEN GREATEST(COALESCE(c.cnt, 0), 1) ELSE c.cnt END AS cnt
         |  FROM ucnt$t c
         |  FULL OUTER JOIN (SELECT piece FROM um${t - 1} WHERE length(piece) = 1) ch
         |    ON c.piece = ch.piece
         |  WHERE length(COALESCE(c.piece, ch.piece)) = 1 OR c.cnt > 0
         |)""".stripMargin,
      s"""um$t AS MATERIALIZED (
         |  SELECT piece, cnt,
         |    ${unigramLpnSql("cnt")} - (SELECT ${unigramLpnSql("SUM(cnt)")} FROM ub$t) AS lp
         |  FROM ub$t
         |)""".stripMargin)
  }

  private def unigramBaseCtes: Seq[String] = {
    val W = UnigramMaxWord
    val P = UnigramMaxPiece
    val head = Seq(
      s"""uw AS MATERIALIZED (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq, length(w) AS len
         |  FROM (SELECT unnest(list_filter(
         |          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
         |        FROM documents)
         |  GROUP BY 1 HAVING length(w) <= $W
         |)""".stripMargin,
      s"""useed AS MATERIALIZED (
         |  SELECT substring(uw.w, a.i, b.jj) AS piece, CAST(SUM(uw.freq) AS BIGINT) AS cnt
         |  FROM uw,
         |       UNNEST(generate_series(1, uw.len)) AS a(i),
         |       UNNEST(generate_series(1, $P)) AS b(jj)
         |  WHERE a.i + b.jj - 1 <= uw.len
         |  GROUP BY 1
         |)""".stripMargin,
      s"""ub0 AS MATERIALIZED (
         |  SELECT piece, MAX(cnt) AS cnt FROM (
         |    SELECT piece, cnt FROM (
         |      SELECT piece, cnt FROM useed ORDER BY cnt DESC, piece LIMIT $UnigramSeedSize)
         |    UNION ALL
         |    SELECT piece, cnt FROM useed WHERE length(piece) = 1
         |  ) GROUP BY piece
         |)""".stripMargin,
      s"""um0 AS MATERIALIZED (
         |  SELECT piece, cnt,
         |    ${unigramLpnSql("cnt")} - (SELECT ${unigramLpnSql("SUM(cnt)")} FROM ub0) AS lp
         |  FROM ub0
         |)""".stripMargin)
    val ems = (1 to UnigramEmIters).flatMap(unigramEmChainCtes)
    val tail = Seq(
      s"""ufin0 AS MATERIALIZED (
         |  SELECT piece, MAX(cnt) AS cnt FROM (
         |    SELECT piece, cnt FROM (
         |      SELECT piece, cnt FROM ub$UnigramEmIters ORDER BY cnt DESC, piece LIMIT $UnigramVocabSize)
         |    UNION ALL
         |    SELECT piece, cnt FROM ub$UnigramEmIters WHERE length(piece) = 1
         |  ) GROUP BY piece
         |)""".stripMargin,
      s"""ufinal AS MATERIALIZED (
         |  SELECT piece, cnt,
         |    ${unigramLpnSql("cnt")} - (SELECT ${unigramLpnSql("SUM(cnt)")} FROM ufin0) AS logp_micro
         |  FROM ufin0
         |)""".stripMargin)
    head ++ ems ++ tail
  }

  val unigramTrainSql: String =
    s"""WITH ${unigramBaseCtes.mkString(", ")}
       |SELECT piece, cnt, logp_micro FROM ufinal
       |ORDER BY cnt DESC, piece""".stripMargin

  val unigramApplySql: String = {
    val W = UnigramMaxWord
    val P = UnigramMaxPiece
    val (dp, last) = unigramDpLevels("a", "ap", withN = true)
    val nAt = (1 to W).map(i => s"WHEN $i THEN n_$i").mkString(" ")
    val ctes = unigramBaseCtes ++ Seq(
      s"""aw AS MATERIALIZED (
         |  SELECT w, length(w) AS len FROM (
         |    SELECT DISTINCT unnest(list_filter(
         |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
         |    FROM documents)
         |)""".stripMargin,
      s"""ae AS MATERIALIZED (
         |  SELECT aw.w, aw.len, a.i, b.jj, m.logp_micro AS lp
         |  FROM aw,
         |       UNNEST(generate_series(1, aw.len)) AS a(i),
         |       UNNEST(generate_series(1, $P)) AS b(jj),
         |       ufinal m
         |  WHERE aw.len <= $W AND b.jj <= a.i
         |    AND m.piece = substring(aw.w, a.i - b.jj + 1, b.jj)
         |)""".stripMargin,
      s"""ap AS MATERIALIZED (
         |  SELECT w, 1 AS freq, ANY_VALUE(len) AS len,
         |    $unigramPivotCols
         |  FROM ae GROUP BY w
         |)""".stripMargin) ++ dp ++ Seq(
      s"""an AS MATERIALIZED (
         |  SELECT aw.w,
         |    CASE WHEN aw.len > $W THEN CAST(aw.len AS BIGINT)
         |         ELSE (SELECT CAST(CASE d.len $nAt END AS BIGINT)
         |               FROM $last d WHERE d.w = aw.w) END AS np
         |  FROM aw
         |)""".stripMargin,
      """tok AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
        |  FROM documents
        |)""".stripMargin,
      """agg AS MATERIALIZED (
        |  SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |         CAST(SUM(an.np) AS BIGINT) AS n_pieces
        |  FROM tok JOIN an ON tok.w = an.w
        |  GROUP BY 1
        |)""".stripMargin)
    s"""WITH ${ctes.mkString(", ")}
       |SELECT d.doc_id, COALESCE(agg.n_tokens, 0) AS n_tokens,
       |       COALESCE(agg.n_pieces, 0) AS n_pieces
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // WordPiece tokenizer (BERT's family; Schuster & Nakajima 2012, Wu et
  // al. 2016) — the third tokenizer family the field ships beside BPE
  // and unigram-LM. Training is BPE-shaped but merges are picked by the
  // LIKELIHOOD score count(l,r) / (count(l)·count(r)) over the CURRENT
  // segmentation's unit counts, not by raw pair count; apply is greedy
  // longest-match-first over '##'-prefixed continuation pieces, with
  // the two production fallbacks (a word over WpMaxWord chars, or one
  // with any unmatchable position, becomes a single [UNK]).
  //
  // Exactness discipline: the score is a RATIONAL — it is never
  // divided. Argmax comparisons cross-multiply in BigInt (HUGEINT in
  // the DuckDB oracle), ties break (l, r) ascending, so the pick order
  // is engine-identical with zero float involvement anywhere.
  //
  // Scale shape mirrors the BPE/unigram tiers: tier 1 trains on the
  // driver over the Heap's-law-bounded word-TYPE table with
  // delta-updated pair/unit/inverted-index state (only words containing
  // the merged pair are touched per round); tier 2 never collects the
  // type table — per-round unit counts are a model-bounded broadcast
  // (≤ 2·|charset| + merges rows) and the exact argmax runs as a
  // distributed Dataset.reduce with the SAME BigInt comparator, so the
  // tiers cannot pick differently (WordpieceSpec proves them identical
  // on a fixture where the score order defeats the count order).
  // Unlike BPE's count-prefix batching, score-ordered picks can NOT be
  // safely batched — a merge changes its operands' unit counts and
  // thereby every score sharing them — so tier 2 is one-merge-per-round
  // by construction, the honest sequential-equivalent fallback.
  // Apply runs the greedy matcher once per word TYPE in mapPartitions
  // (the Misra-Gries sequential-algorithm precedent) with the
  // model-bounded vocab in the closure; token instances only carry the
  // broadcast-joined (pieces, unk) longs into one partial+final agg,
  // so the corpus-sized frame stays narrow at any scale.
  // -------------------------------------------------------------------

  private[graft] val WpIters = 30
  private[graft] val WpMaxWord = 24

  private[graft] final case class WpPick(it: Long, l: String, r: String,
      piece: String, c: Long, cl: Long, cr: Long)

  /** Exact WordPiece argmax step: keep the candidate with the higher
    * c/(cl·cr), ties by (l, r) ascending — cross-multiplied in BigInt,
    * never divided (the oracle's HUGEINT comparison, verbatim). */
  private[graft] def wpBetter(a: (String, String, Long, Long, Long),
      b: (String, String, Long, Long, Long))
      : (String, String, Long, Long, Long) = {
    val lhs = BigInt(a._3) * BigInt(b._4) * BigInt(b._5)
    val rhs = BigInt(b._3) * BigInt(a._4) * BigInt(a._5)
    if (lhs > rhs) a
    else if (lhs < rhs) b
    else {
      val cl = a._1.compareTo(b._1)
      if (cl < 0 || (cl == 0 && a._2.compareTo(b._2) <= 0)) a else b
    }
  }

  /** Initial WordPiece segmentation: word-initial char bare, every
    * continuation char '##'-prefixed. */
  private[graft] def wpInitSyms(w: String): Vector[String] =
    w.substring(0, 1) +: w.drop(1).map(c => "##" + c).toVector

  /** Tier-1 trainer: exact sequential WordPiece with delta-updated
    * pair counts, unit counts, and the pair→word inverted index — the
    * [[bpeTrainLocal]] structure plus the unit-count ledger the score
    * needs. Per merge only words containing the picked pair are
    * re-counted (subtract their old pairs/units, rebuild, add the new
    * ones), identical to a full recount since untouched words
    * contribute the same counts to both (WordpieceSpec cross-checks
    * against a naive full-recount reference). */
  private[graft] def wpTrainLocal(vocab: Seq[(String, Long)], iters: Int)
      : Seq[WpPick] = {
    val syms = vocab.map(t => wpInitSyms(t._1)).toArray
    val freqs = vocab.map(_._2).toArray
    val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    val units = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val pairWords = scala.collection.mutable.Map
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def index(p: (String, String), w: Int): Unit =
      pairWords.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += w
    for (w <- syms.indices) {
      for (s <- syms(w)) units(s) += freqs(w)
      for (i <- 0 until syms(w).length - 1) {
        val p = (syms(w)(i), syms(w)(i + 1))
        pairs(p) += freqs(w); index(p, w)
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[WpPick]
    var it = 1
    var done = false
    while (it <= iters && !done) {
      if (pairs.isEmpty) done = true
      else {
        val (l, r, c, cl, cr) = pairs.iterator
          .map { case ((pl, pr), pc) => (pl, pr, pc, units(pl), units(pr)) }
          .reduce(wpBetter _)
        val prod = l + r.drop(2) // r is always a '##' continuation
        out += WpPick(it.toLong, l, r, prod, c, cl, cr)
        val affected = pairWords.getOrElse((l, r), Set.empty[Int]).toArray
        for (w <- affected) {
          val old = syms(w)
          for (s <- old) {
            units(s) -= freqs(w)
            if (units(s) <= 0L) units.remove(s)
          }
          for (i <- 0 until old.length - 1) {
            val p = (old(i), old(i + 1))
            pairs(p) -= freqs(w)
            if (pairs(p) <= 0L) { pairs.remove(p); pairWords.remove(p) }
            else pairWords.get(p).foreach(_ -= w)
          }
          val nb = Vector.newBuilder[String]
          var i = 0
          while (i < old.length) {
            if (i + 1 < old.length && old(i) == l && old(i + 1) == r) {
              nb += prod; i += 2
            } else { nb += old(i); i += 1 }
          }
          syms(w) = nb.result()
          for (s <- syms(w)) units(s) += freqs(w)
          for (i2 <- 0 until syms(w).length - 1) {
            val p = (syms(w)(i2), syms(w)(i2 + 1))
            pairs(p) += freqs(w); index(p, w)
          }
        }
        it += 1
      }
    }
    out.toSeq
  }

  /** Tier-2 trainer: one merge per round (see the section scaladoc for
    * why score-ordered picks can't batch). Per round: unit counts are a
    * model-bounded aggregate broadcast onto the pair frame, and the
    * exact rational argmax is a distributed Dataset.reduce with the
    * shared comparator; the type-state frame is re-checkpointed after
    * each padded replace, exactly like the BPE tier-2 state. */
  private[graft] def wpTrainDistributed(words: DataFrame, iters: Int)
      : Seq[WpPick] = {
    val spark = words.sparkSession
    import spark.implicits._
    val init = transform(sequence(lit(1), length(col("w"))), i =>
      when(i === 1, col("w").substr(i, lit(1)))
        .otherwise(concat(lit("##"), col("w").substr(i, lit(1)))))
    var state = words.select(concat_ws(BpeSep, init).as("sym"), col("freq"))
      .corpusCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[WpPick]
    var exhausted = false
    while (out.length < iters && !exhausted) {
      val toks = split(col("sym"), BpeSep)
      // ≤ 2·|charset| + merges rows — the model, not the corpus
      val units = state.select(explode(toks).as("s"), col("freq"))
        .groupBy(col("s")).agg(sum(col("freq")).as("uc"))
      val pairIdx = when(size(toks) > 1,
        sequence(lit(1), size(toks) - 1)).otherwise(array().cast("array<int>"))
      val scored = state
        .select(col("freq"), toks.as("toks"), explode(pairIdx).as("i"))
        .select(col("freq"),
          element_at(col("toks"), col("i")).as("l"),
          element_at(col("toks"), col("i") + 1).as("r"))
        .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("c"))
        .join(broadcast(units.select(col("s").as("l"), col("uc").as("cl"))), "l")
        .join(broadcast(units.select(col("s").as("r"), col("uc").as("cr"))), "r")
        .select(col("l"), col("r"), col("c"), col("cl"), col("cr"))
        .as[(String, String, Long, Long, Long)]
      // ONE job per round: per-partition winners (≤ one row per
      // partition) collected, final argmax on the driver — an empty
      // result IS the exhaustion signal, so no separate emptiness
      // probe re-executes the scoring plan
      val winners = scored.mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else Iterator(it.reduce(wpBetter _))
      }.collect()
      if (winners.isEmpty) exhausted = true // vocabulary fully merged
      else {
        val (l, r, c, cl, cr) = winners.reduce(wpBetter _)
        val prod = l + r.drop(2)
        out += WpPick((out.length + 1).toLong, l, r, prod, c, cl, cr)
        val e = replace(
          concat(lit(BpeSep),
            replace(col("sym"), lit(BpeSep), lit(BpeSep + BpeSep)), lit(BpeSep)),
          lit(BpeSep + l + BpeSep + BpeSep + r + BpeSep),
          lit(BpeSep + prod + BpeSep))
        state = state
          .select(trim(replace(e, lit(BpeSep + BpeSep), lit(BpeSep)), BpeSep).as("sym"),
            col("freq"))
          .corpusCheckpoint()
      }
    }
    out.toSeq
  }

  /** Tier dispatch (the [[bpeTrainSchedule]] probe). */
  private[graft] def wpTrainSchedule(words: DataFrame, iters: Int): Seq[WpPick] = {
    val probe = words.limit(MaxLocalBpeVocab + 1).collect()
    if (probe.length <= MaxLocalBpeVocab)
      wpTrainLocal(probe.map(r => (r.getString(0), r.getLong(1))).toSeq, iters)
    else wpTrainDistributed(words, iters)
  }

  def wordpieceTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    wpTrainSchedule(unigramWords(Tables.documentsFanned(spark, sfDir)), WpIters)
      .map(p => (p.it, p.l, p.r, p.piece, p.c, p.cl, p.cr))
      .toDF("iteration", "merge_left", "merge_right", "piece",
        "pair_count", "left_count", "right_count")
      .orderBy(col("iteration"))
  }

  /** Greedy longest-match-first segmentation (the BERT matcher):
    * (n_pieces, is_unk) for one word. A word over [[WpMaxWord]] chars,
    * or one where no vocab piece matches at some position, is a single
    * [UNK] — both standard production behaviors. */
  private[graft] def wpGreedy(w: String, vocab: Set[String], maxRaw: Int)
      : (Long, Long) =
    if (w.length > WpMaxWord) (1L, 1L)
    else wpGreedySegments(w, vocab, maxRaw) match {
      case Some(ps) => (ps.length.toLong, 0L)
      case None     => (1L, 1L)
    }

  /** The greedy pieces themselves ('##'-prefixed past position 0), or
    * None when some position is unmatchable. The length cap is
    * [[wpGreedy]]'s policy, not applied here — PropertySpec checks the
    * reconstruction invariant on the raw segmentation. */
  private[graft] def wpGreedySegments(w: String, vocab: Set[String],
      maxRaw: Int): Option[List[String]] = {
    val out = List.newBuilder[String]
    var pos = 0
    var unk = false
    while (pos < w.length && !unk) {
      var jj = math.min(maxRaw, w.length - pos)
      var hit = 0
      while (jj >= 1 && hit == 0) {
        val cand = if (pos == 0) w.substring(0, jj)
                   else "##" + w.substring(pos, pos + jj)
        if (vocab(cand)) hit = jj
        jj -= 1
      }
      if (hit == 0) unk = true
      else {
        out += (if (pos == 0) w.substring(0, hit)
                else "##" + w.substring(pos, pos + hit))
        pos += hit
      }
    }
    if (unk) None else Some(out.result())
  }

  /** Segment the corpus under the trained vocabulary: per-doc token
    * count, WordPiece piece count, and [UNK] count — the budget numbers
    * a packing stage consumes plus the coverage diagnostic. The matcher
    * runs once per word TYPE; instances only carry the joined longs. */
  def wordpieceApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsFanned(spark, sfDir)
    val words = unigramWords(docs)
    val sched = wpTrainSchedule(words, WpIters)
    val init = transform(sequence(lit(1), length(col("w"))), i =>
      when(i === 1, col("w").substr(i, lit(1)))
        .otherwise(concat(lit("##"), col("w").substr(i, lit(1)))))
    // the corpus alphabet in both position classes — bounded: ≤ 2·36 rows
    val alpha = words.select(explode(init).as("s")).distinct()
      .collect().map(_.getString(0))
    val vocab = alpha.toSet ++ sched.map(_.piece)
    val maxRaw = vocab.iterator
      .map(p => if (p.startsWith("##")) p.length - 2 else p.length).max
    val typeN = words.select(col("w")).as[String].mapPartitions { it =>
      it.map { w =>
        val (n, u) = wpGreedy(w, vocab, maxRaw)
        (w, n, u)
      }
    }.toDF("w", "np", "unk")
    val agg = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(broadcast(typeN), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("np")).as("n_pieces"),
        sum(col("unk")).as("n_unk"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("n_unk"), lit(0L)).as("n_unk"))
      .orderBy(col("doc_id"))
  }

  /** The sequential WordPiece oracle chain: per round, unit counts
    * (wu), pair counts (wp), the score join (ws), the exact-HUGEINT
    * argmax via NOT EXISTS (wb — cross-multiplied, so no rational is
    * ever rounded; quadratic only over the model-sized pair table), and
    * the padded merge replace (wv). MATERIALIZED pins DuckDB to linear
    * evaluation exactly as in [[bpeTrainChainSql]]. */
  private def wpChainSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""wu$i AS MATERIALIZED (
         |  SELECT s, CAST(SUM(freq) AS BIGINT) AS uc
         |  FROM (SELECT unnest(string_split(sym, chr(31))) AS s, freq FROM wv${i - 1})
         |  GROUP BY 1
         |), wp$i AS MATERIALIZED (
         |  SELECT toks[i] AS l, toks[i+1] AS r, CAST(SUM(freq) AS BIGINT) AS c
         |  FROM (SELECT string_split(sym, chr(31)) AS toks, freq FROM wv${i - 1}) s,
         |       UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
         |  GROUP BY 1, 2
         |), ws$i AS MATERIALIZED (
         |  SELECT p.l, p.r, p.c, ul.uc AS cl, ur.uc AS cr
         |  FROM wp$i p JOIN wu$i ul ON ul.s = p.l JOIN wu$i ur ON ur.s = p.r
         |), wb$i AS MATERIALIZED (
         |  SELECT * FROM ws$i a WHERE NOT EXISTS (
         |    SELECT 1 FROM ws$i b WHERE
         |      CAST(b.c AS HUGEINT) * a.cl * a.cr > CAST(a.c AS HUGEINT) * b.cl * b.cr
         |      OR (CAST(b.c AS HUGEINT) * a.cl * a.cr = CAST(a.c AS HUGEINT) * b.cl * b.cr
         |          AND (b.l < a.l OR (b.l = a.l AND b.r < a.r))))
         |), wv$i AS MATERIALIZED (
         |  SELECT trim(replace(replace(
         |           chr(31) || replace(sym, chr(31), chr(31) || chr(31)) || chr(31),
         |           chr(31) || l || chr(31) || chr(31) || r || chr(31),
         |           chr(31) || l || substring(r, 3) || chr(31)),
         |         chr(31) || chr(31), chr(31)), chr(31)) AS sym, freq
         |  FROM wv${i - 1} CROSS JOIN wb$i
         |)""".stripMargin
    }.mkString(", ")
    s"""ww0 AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(
       |          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       |        FROM documents)
       |  GROUP BY 1
       |), wv0 AS MATERIALIZED (
       |  SELECT array_to_string(list_transform(generate_series(1, length(w)),
       |           i -> CASE WHEN i = 1 THEN substring(w, 1, 1)
       |                     ELSE '##' || substring(w, i, 1) END), chr(31)) AS sym, freq
       |  FROM ww0
       |), $rounds""".stripMargin
  }

  val wordpieceTrainSql: String = {
    val union = (1 to WpIters).map(i =>
      s"SELECT CAST($i AS BIGINT) AS iteration, l AS merge_left, r AS merge_right, " +
        s"l || substring(r, 3) AS piece, c AS pair_count, cl AS left_count, " +
        s"cr AS right_count FROM wb$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${wpChainSql(WpIters)}
       |$union
       |ORDER BY iteration""".stripMargin
  }

  /** Apply oracle: vocabulary = the wv0 alphabet ∪ every wb product
    * (UNION dedups; an exhausted round contributes no rows, so no
    * COALESCE guard is needed), then one greedy step per CTE level —
    * each level's longest-match is a correlated MAX over the model-
    * sized vocab table, 24 levels bounding any word the cap admits. */
  val wordpieceApplySql: String = {
    val prods = (1 to WpIters)
      .map(i => s"        UNION SELECT l || substring(r, 3) FROM wb$i")
      .mkString("\n")
    val levels = (1 to WpMaxWord).map { t =>
      s"""gm$t AS MATERIALIZED (
         |  SELECT *, CASE WHEN unk OR pos >= len THEN NULL
         |         ELSE (SELECT MAX(v.plen) FROM wvocab v
         |               WHERE v.cont = (pos > 0) AND v.plen <= len - pos
         |                 AND v.raw = substring(w, pos + 1, v.plen)) END AS m
         |  FROM gg${t - 1}
         |), gg$t AS MATERIALIZED (
         |  SELECT w, len, freq,
         |    CASE WHEN unk OR pos >= len THEN pos
         |         WHEN m IS NULL THEN len ELSE pos + m END AS pos,
         |    CASE WHEN unk OR pos >= len THEN np
         |         WHEN m IS NULL THEN CAST(1 AS BIGINT) ELSE np + 1 END AS np,
         |    (unk OR (pos < len AND m IS NULL)) AS unk
         |  FROM gm$t
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${wpChainSql(WpIters)},
       |walpha AS (SELECT DISTINCT s AS piece
       |  FROM (SELECT unnest(string_split(sym, chr(31))) AS s FROM wv0)),
       |wvocab AS MATERIALIZED (
       |  SELECT piece,
       |    CASE WHEN piece LIKE '##%' THEN length(piece) - 2 ELSE length(piece) END AS plen,
       |    (piece LIKE '##%') AS cont,
       |    CASE WHEN piece LIKE '##%' THEN substring(piece, 3) ELSE piece END AS raw
       |  FROM (SELECT piece FROM walpha
       |$prods)
       |),
       |gg0 AS MATERIALIZED (
       |  SELECT w, length(w) AS len, freq, 0 AS pos,
       |    CASE WHEN length(w) > $WpMaxWord THEN CAST(1 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS np,
       |    (length(w) > $WpMaxWord) AS unk
       |  FROM ww0
       |),
       |$levels,
       |wt AS (SELECT w, np,
       |         CASE WHEN unk THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS u
       |       FROM gg$WpMaxWord),
       |tok AS (SELECT doc_id, unnest(list_filter(
       |          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
       |        FROM documents),
       |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |          CAST(SUM(np) AS BIGINT) AS n_pieces, CAST(SUM(u) AS BIGINT) AS n_unk
       |        FROM tok JOIN wt USING (w) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(agg.n_tokens, 0) AS n_tokens,
       |  COALESCE(agg.n_pieces, 0) AS n_pieces, COALESCE(agg.n_unk, 0) AS n_unk
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Tokenizer fertility comparison across the three trained families —
    * the metric that picks a tokenizer for a corpus (fertility =
    * pieces per word; BLOOM/XLM-R methodology): every family is
    * trained on the corpus and applied to it, and the per-(source,
    * lang) piece sums land side by side. Sums stay exact BIGINTs (the
    * reader divides; the engine never does), so one hash gates the
    * COMPOSITION of all three train+apply pipelines at once.
    *
    * Scale shape: three independent apply plans (each already 100 TB-
    * shaped: model-bounded driver training + per-TYPE segmentation +
    * broadcast join onto instances) joined on doc_id and re-aggregated
    * by (source, lang) — the join keys are the doc spine, the payload
    * is five longs, and the final agg output is |sources|·|langs| rows.
    */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documentsFanned(spark, sfDir)
    val bpe = bpeApply(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("n_bpe_tokens"))
    val uni = unigramApply(spark, sfDir)
      .select(col("doc_id"), col("n_pieces").as("n_unigram_pieces"))
    val wp = wordpieceApply(spark, sfDir)
      .select(col("doc_id"), col("n_pieces").as("n_wordpiece_pieces"))
    docs.select(col("doc_id"), col("source"), col("lang"))
      .join(bpe, "doc_id").join(uni, "doc_id").join(wp, "doc_id")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_words"),
        sum(col("n_bpe_tokens")).as("bpe_pieces"),
        sum(col("n_unigram_pieces")).as("unigram_pieces"),
        sum(col("n_wordpiece_pieces")).as("wordpiece_pieces"))
      .orderBy(col("source"), col("lang"))
  }

  /** Each family's apply oracle runs inside its own parenthesized
    * subquery, so the three WITH namespaces cannot collide. */
  val tokenizerFertilitySql: String =
    s"""SELECT d.source, d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(b.n_tokens) AS BIGINT) AS n_words,
       |  CAST(SUM(b.n_bpe_tokens) AS BIGINT) AS bpe_pieces,
       |  CAST(SUM(u.n_pieces) AS BIGINT) AS unigram_pieces,
       |  CAST(SUM(w.n_pieces) AS BIGINT) AS wordpiece_pieces
       |FROM documents d
       |JOIN ($bpeApplySql) b USING (doc_id)
       |JOIN ($unigramApplySql) u USING (doc_id)
       |JOIN ($wordpieceApplySql) w USING (doc_id)
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** BM25 retrieval scoring (Robertson/Spärck Jones; k1 = 1.2,
    * b = 0.75) of a fixed conjunctive keyword query against the corpus
    * — the ranking half of a data-pipeline's search/inspection tooling.
    * idf uses the +1 form, ln(1 + (N − df + ½)/(df + ½)), so scores
    * stay positive.
    *
    * Scale shape — deliberately ZERO data shuffles: per-term tf and
    * document length are row-local array expressions over one
    * tokenization; N, avgdl, and per-term df reduce to a single
    * broadcast 1-row aggregate (per-term df via size(filter(…)) > 0
    * flags, so no (doc, term) explode exists anywhere); scoring is a
    * row-local formula and the top-20 plans as TakeOrderedAndProject
    * (per-partition heaps + driver merge of k×partitions rows). The
    * ranking compares the ROUNDED score so a ≤1-ulp `ln`/division
    * divergence between engines cannot reorder ties.
    */
  private[graft] val Bm25Terms = Seq("spark", "fast", "query")

  def bm25TopK(spark: SparkSession, sfDir: String): DataFrame = {
    val (k1, b, k) = (1.2, 0.75, 20)
    val toks = tokens(col("text"))
    val base = Tables.documentsFanned(spark, sfDir)
      .select(col("doc_id") +: size(toks).cast("long").as("dl") +:
        Bm25Terms.map(t =>
          size(filter(toks, x => x === t)).cast("long").as(s"tf_$t")): _*)
    val statCols = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      Bm25Terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).cast("double")
          .as(s"df_$t"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
    val score = Bm25Terms.map { t =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5))
      val tf = col(s"tf_$t").cast("double")
      idf * (tf * (k1 + 1)) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    }.reduce(_ + _)
    scored.select(col("doc_id"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  val bm25TopKSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS dl,
      |    CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf_spark,
      |    CAST(len(list_filter(toks, x -> x = 'fast')) AS BIGINT) AS tf_fast,
      |    CAST(len(list_filter(toks, x -> x = 'query')) AS BIGINT) AS tf_query
      |  FROM (
      |    SELECT doc_id, list_filter(
      |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |    FROM documents)
      |), stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
      |    AVG(dl) AS avgdl,
      |    CAST(SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
      |    CAST(SUM(CASE WHEN tf_fast > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_fast,
      |    CAST(SUM(CASE WHEN tf_query > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_query
      |  FROM base
      |)
      |SELECT doc_id, ROUND(
      |    LN(1 + (n_docs - df_spark + 0.5) / (df_spark + 0.5))
      |      * (CAST(tf_spark AS DOUBLE) * 2.2)
      |      / (CAST(tf_spark AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
      |  + LN(1 + (n_docs - df_fast + 0.5) / (df_fast + 0.5))
      |      * (CAST(tf_fast AS DOUBLE) * 2.2)
      |      / (CAST(tf_fast AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
      |  + LN(1 + (n_docs - df_query + 0.5) / (df_query + 0.5))
      |      * (CAST(tf_query AS DOUBLE) * 2.2)
      |      / (CAST(tf_query AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)),
      |  6) AS score
      |FROM base CROSS JOIN stats
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  /** Gopher-style repetition filtering (Rae et al. 2021 §A1.1, the
    * repetition subset of its quality rules, adapted to token n-grams):
    * per-document repetition metrics plus the keep decision —
    *
    *  - `dup_word_ratio`: 1 − distinct/total tokens (drop > 0.6);
    *  - `top_bigram_frac`: occurrences of the document's most frequent
    *    bigram over all bigram instances (drop > 0.2 — Gopher's
    *    published top-2-gram threshold; a tighter cut would
    *    structurally drop SHORT clean docs, whose top bigram is 1/n);
    *  - `rep_trigram_frac`: fraction of trigram instances whose trigram
    *    repeats within the document (drop > 0.2).
    *
    * On the test corpus the dup-word rule does the discriminating
    * (observed median 0.54 vs the 0.6 cut) so the decision is
    * non-trivial at test scale. Shape at
    * 100 TB: the word metric is row-local; each n-gram metric is one
    * explode + two hash aggregations on (doc_id, gram) — map-side
    * partial aggregation collapses the per-doc gram counts before the
    * shuffle, and everything joins back on doc_id. No windows, no
    * self-joins.
    */
  def repetitionFilter(spark: SparkSession, sfDir: String): DataFrame =
    repetitionMetrics(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** Library core of [[repetitionFilter]] for any (doc_id, text) frame.
    *
    * Scale shape — fully ROW-LOCAL: every Gopher metric is a per-doc
    * statistic, so nothing about it warrants a corpus shuffle. The
    * n-gram multiplicities come from a sort + run-length fold over the
    * doc's own gram array (max run = top gram count; total − singleton
    * runs = repeated-gram mass) instead of the explode →
    * groupBy(doc, gram) → re-agg → join chain an aggregation-shaped
    * first draft used — that shape shuffled the corpus' entire gram
    * stream TWICE and joined three times, for numbers each row already
    * had locally. Exact integer counts either way, so the unchanged
    * DuckDB oracle (which still groups) is the equivalence proof.
    */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    // sorted-run fold: returns struct(best = max multiplicity,
    // singles = #values occurring exactly once)
    def runStats(grams: Column): Column = {
      val sorted = array_sort(grams)
      aggregate(sorted,
        struct(lit("").as("prev"), lit(0L).as("run"),
          lit(0L).as("best"), lit(0L).as("singles")),
        (acc, x) => {
          val same = acc.getField("prev") === x
          val run = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"),
            (acc.getField("singles") +
              when(!same && acc.getField("run") === 1L, 1L).otherwise(0L))
              .as("singles"))
        },
        acc => struct(acc.getField("best").as("best"),
          (acc.getField("singles") +
            when(acc.getField("run") === 1L, 1L).otherwise(0L)).as("singles")))
    }
    def grams(n: Int): Column = expr(
      s"transform(sequence(0, size(toks) - $n), i -> " +
        (0 until n).map(k => s"toks[i + $k]").mkString("concat_ws(' ', ", ", ", ")") +
        ")")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"),
        runStats(grams(2)).as("bi"), runStats(grams(3)).as("tri"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        round(lit(1.0) -
          size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6)
          .as("dup_word_ratio"),
        round(col("bi.best").cast("double") /
          (size(col("toks")) - 1).cast("double"), 6).as("top_bigram_frac"),
        round((size(col("toks")).cast("long") - 2L - col("tri.singles"))
          .cast("double") / (size(col("toks")) - 2).cast("double"), 6)
          .as("rep_trigram_frac"))
      .withColumn("keep",
        (col("dup_word_ratio") <= 0.6 && col("top_bigram_frac") <= 0.2 &&
          col("rep_trigram_frac") <= 0.2).cast("int"))
      .orderBy(col("doc_id"))
  }

  val repetitionFilterSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '') AS toks
      |  FROM documents
      |), base AS (
      |  SELECT doc_id, toks FROM t WHERE len(toks) >= 3
      |), words AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    ROUND(1 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
      |      AS dup_word_ratio
      |  FROM base
      |), bic AS (
      |  SELECT doc_id, g, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1])) AS g FROM base)
      |  GROUP BY 1, 2
      |), bi AS (
      |  SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
      |  FROM bic GROUP BY 1
      |), tric AS (
      |  SELECT doc_id, g, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g FROM base)
      |  GROUP BY 1, 2
      |), tri AS (
      |  SELECT doc_id,
      |    ROUND(CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS DOUBLE) / SUM(c), 6)
      |      AS rep_trigram_frac
      |  FROM tric GROUP BY 1
      |)
      |SELECT w.doc_id, w.n_tokens, w.dup_word_ratio, bi.top_bigram_frac,
      |  tri.rep_trigram_frac,
      |  CAST(w.dup_word_ratio <= 0.6 AND bi.top_bigram_frac <= 0.2
      |    AND tri.rep_trigram_frac <= 0.2 AS INT) AS keep
      |FROM words w JOIN bi USING (doc_id) JOIN tri USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Corpus profiling per language stratum — the distribution stats a
    * curation pipeline reads before choosing mixing rates and packing
    * budgets: doc counts, length quantiles, token-count median.
    *
    * Quantiles are EXACT interpolated percentiles (Spark `percentile`,
    * DuckDB `quantile_cont` — the same (n−1)·p definition in both
    * engines), not an approx sketch, so the result is oracle-checkable.
    * Shape: one shuffle on the low-cardinality `lang` key with map-side
    * partial aggregation; exact percentile state is per-group value
    * counts, fine for per-stratum profiling (at 100 TB switch to
    * `percentile_approx` and drop the oracle, or profile on a sample —
    * the query shape is unchanged).
    */
  def docQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), length(col("text")).as("len"),
        size(tokens(col("text"))).as("n_tok"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("len")).cast("long").as("len_min"),
        round(expr("percentile(len, 0.25)"), 6).as("len_p25"),
        round(expr("percentile(len, 0.5)"), 6).as("len_p50"),
        round(expr("percentile(len, 0.75)"), 6).as("len_p75"),
        max(col("len")).cast("long").as("len_max"),
        round(expr("percentile(n_tok, 0.5)"), 6).as("tok_p50"))
      .orderBy(col("lang"))

  /** Char-bigram LM quality scoring — the CCNet/KenLM idea (score
    * documents by how probable their character transitions are under a
    * corpus-trained LM, low score ⇒ gibberish/boilerplate candidate)
    * with the log-perplexity replaced by an EXACT integer statistic so
    * the trained-model apply stays oracle-gated: per bigram occurrence
    * the conditional probability in micro units,
    * `⌊10⁶·c(ab)/c(a·)⌋` over corpus counts, averaged per document by
    * integer division. No log, no FP, no rounding ambiguity anywhere
    * (the [[graft.operators.SimilarityOps]] integer-micro precedent).
    *
    * Scale shape: the model is the corpus bigram count table — ≤ ~1.4K
    * rows over the [a-z0-9 ] alphabet at ANY corpus size (alphabet²,
    * not Heap's law) — so training is one map-side-combinable
    * aggregation and the apply joins it BROADCAST; per-doc bigram
    * multiplicities aggregate on (doc_id, bigram) with map-side
    * combine. Two data shuffles total (multiplicity agg reused by
    * train and apply, final per-doc rollup).
    */
  def lmBigramScore(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")
    val d = Tables.documentsFanned(spark, sfDir)
      .select(col("doc_id"), norm.as("s"))
      .filter(length(col("s")) >= 2)
    val bg = d.select(col("doc_id"),
      explode(transform(sequence(lit(1), length(col("s")) - 1),
        i => col("s").substr(i, lit(2)))).as("bg"))
    // per-doc multiplicities: ONE corpus-wide shuffle, read by both the
    // model build (summed to corpus counts) and the scoring join
    val bgc = bg.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("m"))
      .corpusCheckpoint()
    val c2 = bgc.groupBy(col("bg")).agg(sum(col("m")).as("c2"))
    val c1 = c2.groupBy(col("bg").substr(1, 1).as("a"))
      .agg(sum(col("c2")).as("c1"))
    val model = c2.join(c1, c2("bg").substr(1, 1) === c1("a"))
      .select(col("bg"), expr("(1000000 * c2) div c1").as("p_micro"))
    bgc.join(broadcast(model), "bg")
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        expr("sum(m * p_micro) div sum(m)").as("lm_micro"))
      .orderBy(col("doc_id"))
  }

  val lmBigramScoreSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') AS s
      |  FROM documents
      |), d2 AS (
      |  SELECT doc_id, s FROM d WHERE length(s) >= 2
      |), bgx AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, length(s) - 1), i -> substring(s, i, 2))) AS bg
      |  FROM d2
      |), bgc AS (
      |  SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS m
      |  FROM bgx GROUP BY 1, 2
      |), c2 AS (
      |  SELECT bg, CAST(SUM(m) AS BIGINT) AS c2 FROM bgc GROUP BY 1
      |), c1 AS (
      |  SELECT substring(bg, 1, 1) AS a, CAST(SUM(c2) AS BIGINT) AS c1
      |  FROM c2 GROUP BY 1
      |), model AS (
      |  SELECT bg, (1000000 * c2.c2) // c1.c1 AS p_micro
      |  FROM c2 JOIN c1 ON substring(c2.bg, 1, 1) = c1.a
      |)
      |SELECT bgc.doc_id,
      |  CAST(SUM(m) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(m * p_micro) // SUM(m) AS BIGINT) AS lm_micro
      |FROM bgc JOIN model USING (bg)
      |GROUP BY 1
      |ORDER BY doc_id""".stripMargin

  /** The 100 TB path [[docQuantiles]]'s scaladoc points at, EXECUTED
    * under the ORACLE GATE: the same profiling shape with
    * `percentile_approx` — a mergeable bounded-size quantile sketch per
    * (group, column) instead of exact per-group value counts, so
    * aggregation state no longer grows with distinct values. Sketch
    * estimates can't hash-match another engine, so the hashed row
    * carries exact per-group stats plus four `*_ok` booleans — each
    * asserts the estimate's RANK interval in the actual data
    * (`[#strictly-below + 1, #at-or-below]`) intersects the target rank
    * window `p·N ± max(2, 2·N/accuracy)`, the sketch's own guarantee
    * stated convention-independently. The oracle asserts all four TRUE
    * over the same exact stats: a drifting sketch flips a boolean and
    * the driver compare goes red.
    */
  def docQuantilesApproxGated(spark: SparkSession, sfDir: String): DataFrame = {
    // The estimate join keys on a NULL-safe surrogate (coalesce to a
    // sentinel no real lang code can be): an inner join on `lang`
    // itself would silently drop a NULL-lang group that the oracle's
    // GROUP BY keeps.
    val d = Tables.documents(spark, sfDir)
      .select(col("lang"), length(col("text")).cast("long").as("len"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("lang_k", coalesce(col("lang"), lit("\u0000")))
    val est = d.groupBy(col("lang_k")).agg(
      expr("percentile_approx(len, 0.25, 10000)").cast("long").as("e25"),
      expr("percentile_approx(len, 0.5, 10000)").cast("long").as("e50"),
      expr("percentile_approx(len, 0.75, 10000)").cast("long").as("e75"),
      expr("percentile_approx(n_tok, 0.5, 10000)").cast("long").as("etok"))
    def okCol(lt: Column, le: Column, p: Double): Column = {
      val n = col("n_docs")
      val eps = greatest(lit(2.0), n * 2e-4)
      (lt + 1 <= n * p + eps) && (le >= n * p - eps)
    }
    d.join(broadcast(est), "lang_k")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("len")).as("len_min"),
        max(col("len")).as("len_max"),
        sum(when(col("len") < col("e25"), 1L).otherwise(0L)).as("lt25"),
        sum(when(col("len") <= col("e25"), 1L).otherwise(0L)).as("le25"),
        sum(when(col("len") < col("e50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("len") <= col("e50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("len") < col("e75"), 1L).otherwise(0L)).as("lt75"),
        sum(when(col("len") <= col("e75"), 1L).otherwise(0L)).as("le75"),
        sum(when(col("n_tok") < col("etok"), 1L).otherwise(0L)).as("lttok"),
        sum(when(col("n_tok") <= col("etok"), 1L).otherwise(0L)).as("letok"))
      .select(col("lang"), col("n_docs"), col("len_min"), col("len_max"),
        okCol(col("lt25"), col("le25"), 0.25).as("p25_ok"),
        okCol(col("lt50"), col("le50"), 0.50).as("p50_ok"),
        okCol(col("lt75"), col("le75"), 0.75).as("p75_ok"),
        okCol(col("lttok"), col("letok"), 0.50).as("tok_ok"))
      .orderBy(col("lang"))
  }

  val docQuantilesApproxGatedSql: String =
    """WITH d AS (
      |  SELECT lang, CAST(length(text) AS BIGINT) AS len
      |  FROM documents
      |)
      |SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(len) AS BIGINT) AS len_min,
      |  CAST(MAX(len) AS BIGINT) AS len_max,
      |  TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok, TRUE AS tok_ok
      |FROM d
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  val docQuantilesSql: String =
    """WITH d AS (
      |  SELECT lang, length(text) AS len,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |      x -> x <> '')) AS n_tok
      |  FROM documents
      |)
      |SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(len) AS BIGINT) AS len_min,
      |  ROUND(quantile_cont(len, 0.25), 6) AS len_p25,
      |  ROUND(quantile_cont(len, 0.5), 6) AS len_p50,
      |  ROUND(quantile_cont(len, 0.75), 6) AS len_p75,
      |  CAST(MAX(len) AS BIGINT) AS len_max,
      |  ROUND(quantile_cont(n_tok, 0.5), 6) AS tok_p50
      |FROM d
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // Positional inverted index + probes (keyword search, phrase search)
  // ---------------------------------------------------------------------

  /** Catalog base name of the persisted positional postings index for
    * one corpus directory (per-corpus; epoch-versioned like every
    * other persisted index). */
  private[graft] def invIndexName(sfDir: String): String =
    "graft_inv_idx_" + Layout.corpusTag(sfDir)

  private[graft] val InvIndexBuckets = 16

  /** Query terms for [[keywordSearch]] — disjoint from [[Bm25Terms]] so
    * the two retrieval keys exercise different probe paths. */
  private[graft] val SearchTerms = Seq("window", "merge", "batch")

  /** The fixed adjacency phrase for [[phraseSearch]]: term2 must occur
    * at position(term1) + 1. */
  private[graft] val PhraseTerms = ("hash", "value")

  /** Build-once half of a search system over the corpus: the POSITIONAL
    * POSTINGS index — one row per (term, document) carrying term
    * frequency, document length, and the sorted 1-based token positions
    * — persisted BUCKETED BY term ([[Layout.writeBucketed]]), plus a
    * 1-row corpus-stats sidecar (N, avgdl) that versions with its epoch
    * exactly like the IVF codebook. Probes read only their query terms'
    * buckets (`SelectedBucketsCount`, spec-asserted) — at 100 TB a
    * query touches kilobytes of postings, never the corpus text.
    * [[bm25TopK]] is the deliberate contrast: same ranking formula,
    * but recomputed from a full scan every time — the index is what a
    * pipeline builds once the query rate outgrows that.
    */
  /** Postings rows of a (doc_id, text) frame: posexplode keeps the
    * token position; collect_list's nondeterministic order is
    * canonicalized by sort_array so the positions column is
    * deterministic for the oracle and for phrase intersection. dl
    * rides the groupBy (functionally dependent on doc_id) to avoid a
    * second pass / join. Shared by the bulk build and the streaming
    * append so encode semantics cannot drift between them.
    */
  private[graft] def postingsOf(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos") + 1)).as("positions"))
  }

  /** Exact (n_docs, sum_dl) of a (doc_id, text) frame — the stats
    * sidecar stores these as LONGS (not a precomputed avgdl double) so
    * a streaming append can advance them by integer addition with zero
    * drift; probes derive avgdl by one division. dl = 0 docs carry no
    * postings but do count here (they shape the BM25 normalizer, as in
    * [[bm25TopK]]).
    */
  private def statsDelta(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(size(toks).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
  }

  /** Bulk-build the postings table + stats sidecar for `docs` under
    * catalog name `name` — the body of [[ensureInvertedIndex]], also
    * the bootstrap step of the streaming ingest loop. */
  private[graft] def buildInvertedIndex(spark: SparkSession, name: String,
      docs: DataFrame): Unit =
    // two independent writes off the same source frame — overlapped
    // (guide §2.6; each unit scans `docs` for itself, as before)
    Layout.inParallel(
      () => statsDelta(docs)
        .write.format("parquet").mode("overwrite").saveAsTable(name + "_stats"),
      () => Layout.writeBucketed(postingsOf(docs), name, "term", InvIndexBuckets))

  def ensureInvertedIndex(spark: SparkSession, sfDir: String): String =
    Layout.ensureEpochIndex(spark, invIndexName(sfDir),
        sidecars = Seq("_stats")) { name =>
      buildInvertedIndex(spark, name,
        Tables.documentsFanned(spark, sfDir).select(col("doc_id"), col("text")))
    }

  /** WRITE half of the search ingest loop: append a new batch's
    * postings to epoch table `name` using the index's own bucket spec
    * (new files land in the same term buckets — later probes stay
    * pruned and co-located over build + appends alike) and advance the
    * exact stats sidecar by integer addition. The postings materialize
    * (localCheckpoint) BEFORE the append so the read plan never lists
    * files the write is adding; the 1-row sidecar overwrite is the
    * same single-writer contract as the epoch pointer flip.
    */
  private[graft] def appendToInvertedIndex(spark: SparkSession, name: String,
      batch: DataFrame): Unit = {
    val delta = statsDelta(batch).collect()(0)
    if (delta.getLong(0) > 0) {
      // micro-batch-sized, inside foreachBatch: a failed batch re-runs
      // from the STREAM's checkpoint, which is the recovery path here
      val p = postingsOf(batch).localCheckpoint()
      if (!p.isEmpty)
        p.write.format("parquet")
          .bucketBy(InvIndexBuckets, "term").sortBy("term")
          .mode("append").saveAsTable(name)
      p.unpersist()
      val cur = spark.table(name + "_stats").collect()(0)
      val s = spark; import s.implicits._
      Seq((cur.getLong(0) + delta.getLong(0), cur.getLong(1) + delta.getLong(1)))
        .toDF("n_docs", "sum_dl")
        .write.format("parquet").mode("overwrite").saveAsTable(name + "_stats")
    }
  }

  /** BM25 keyword search served from the persisted postings index —
    * the query-many half of [[ensureInvertedIndex]]. Standard retrieval
    * semantics: only documents containing ≥1 query term are candidates
    * (contrast [[bm25TopK]], which scores the whole corpus). Per-term
    * df is exact, aggregated from the SAME pruned buckets the scoring
    * reads — no full-corpus pass anywhere. The only exchanges are over
    * candidate postings (3 terms' buckets), never the corpus: pruned
    * scan → broadcast df/stats → row-local contribution → per-doc sum
    * (map-side combined) → TakeOrderedAndProject top-20. Scores round
    * to 6 decimals before ranking (the bm25TopK ulp-tie precedent; the
    * per-doc sum adds ≤ |terms| doubles whose order may differ between
    * engines, absorbed at 6 decimals).
    */
  def keywordSearch(spark: SparkSession, sfDir: String): DataFrame =
    keywordSearchIndex(spark, ensureInvertedIndex(spark, sfDir))

  /** [[keywordSearch]] against an explicit epoch table — the probe the
    * streaming ingest spec points at stream-built state. */
  private[graft] def keywordSearchIndex(spark: SparkSession, name: String): DataFrame =
    bm25Probe(spark, name, SearchTerms.map(_ -> 1.0), 20)

  /** The WEIGHTED BM25 probe every index-served retrieval leg shares:
    * per-term contributions scaled by a query-side weight (1.0 = plain
    * BM25; Rocchio feedback terms ride in at β), summed per doc,
    * rounded to 6 decimals, top-k by (score desc, doc_id). Exactly the
    * historical keywordSearch plan — pruned postings scan, exact df
    * aggregated from the SAME pruned rows, broadcast stats — with one
    * broadcast (term, wt) join added; `wt·x` at wt = 1.0 is
    * bit-identical to `x` for the positive scores BM25 produces, so
    * factoring q_keyword_search through this probe changes nothing it
    * gates. */
  private[graft] def bm25Probe(spark: SparkSession, name: String,
      weights: Seq[(String, Double)], k: Int): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val terms = weights.map(_._1)
    val wDf = spark.createDataFrame(weights).toDF("term", "wt")
    val p = spark.table(name)
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
    val dfs = p.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    // derive (n_docs, avgdl) doubles from the exact long sidecar
    val stats = spark.table(name + "_stats")
      .select(col("n_docs").cast("double").as("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val contrib = col("wt") * idf * (tf * (k1 + 1)) /
      (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    p.join(broadcast(dfs), "term")
      .join(broadcast(wDf), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round(sum(contrib), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** [[keywordSearchSql]] with the corpus narrowed to
    * [[searchLifecycle]]'s quarter — derived by substitution so the
    * BM25 CTE chain can never drift from the batch oracle's (n_docs /
    * avgdl / df all re-derive from the filtered base). */
  lazy val searchLifecycleSql: String = {
    require(keywordSearchSql.contains("FROM documents"),
      "keyword oracle corpus anchor moved")
    keywordSearchSql.replaceFirst("FROM documents",
      "FROM documents WHERE doc_id % 4 = 0")
  }

  val keywordSearchSql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents
      |), stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
      |    AVG(CAST(len(toks) AS BIGINT)) AS avgdl
      |  FROM base
      |), p AS (
      |  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |          unnest(toks) AS term FROM base)
      |  WHERE term IN ('window', 'merge', 'batch')
      |  GROUP BY 1, 2, 3
      |), dfs AS (
      |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM p GROUP BY 1
      |)
      |SELECT doc_id, ROUND(SUM(
      |    LN(1 + (n_docs - df + 0.5) / (df + 0.5))
      |      * (CAST(tf AS DOUBLE) * 2.2)
      |      / (CAST(tf AS DOUBLE)
      |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))), 6) AS score
      |FROM p JOIN dfs USING (term) CROSS JOIN stats
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  // --------------------------------------- pseudo-relevance feedback

  /** Catalog base of the FEEDBACK sidecar family for one corpus: the
    * forward index (doc_id → its (term, tf, dl) rows, bucketed by
    * doc_id — the doc-keyed access path feedback/snippets need that a
    * term-bucketed postings table cannot serve without a corpus scan)
    * plus the `_lex` lexicon sidecar (term → exact df, vocab-sized,
    * bucketed by term). Both derive from the postings index in one
    * pass each. */
  private[graft] def fbIndexName(sfDir: String): String =
    "graft_fb_idx_" + Layout.corpusTag(sfDir)

  def ensureFeedbackIndex(spark: SparkSession, sfDir: String): String = {
    val inv = ensureInvertedIndex(spark, sfDir)
    Layout.ensureEpochIndex(spark, fbIndexName(sfDir), sidecars = Seq("_lex")) {
      name =>
        // both layouts re-read the published postings table (never a
        // table a sibling writes) — overlapped (guide §2.6)
        Layout.inParallel(
          () => Layout.writeBucketed(
            spark.table(inv).select(col("doc_id"), col("term"), col("tf"), col("dl")),
            name, "doc_id", InvIndexBuckets),
          () => Layout.writeBucketed(
            spark.table(inv).groupBy(col("term")).agg(count(lit(1)).as("df")),
            name + "_lex", "term", InvIndexBuckets))
    }
  }

  /** Seed query and interpolation weight for [[rocchioSearch]] —
    * 'dup' is the one discriminative token in the corpus vocabulary,
    * so the feedback set is topical, not uniform. β = 0.5 is Rocchio's
    * standard expansion weight. */
  private[graft] val RocchioQuery = Seq("dup", "sort")
  private[graft] val RocchioBeta = 0.5

  /** PSEUDO-RELEVANCE-FEEDBACK retrieval (Rocchio '71, the RM3-style
    * loop every production ranker ships as an option): (1) BM25 top-10
    * for the seed query off the postings index; (2) rank expansion
    * terms by the Rocchio weight Σ_feedback tf · ln(N/df) — computed
    * from the FORWARD index's doc-bucket-pruned point reads of just
    * those 10 docs and the lexicon's exact df — take the top 5
    * (rounded weight desc, term asc); (3) re-probe BM25 with the seed
    * terms at weight 1.0 and the expansion terms at β = 0.5, top-20.
    *
    * Scale: after the build, a query touches ≤|terms| postings buckets
    * (stage 1, 3) and ≤10 forward-index doc buckets (stage 2) — no
    * corpus pass anywhere; the two driver collects are the 10-row
    * feedback id list and the 5-row expansion term list, bounded by
    * the algorithm's own constants. This is WHY the forward index and
    * lexicon exist as index structures: without them stage 2 is a
    * full postings scan per query.
    */
  def rocchioSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val inv = ensureInvertedIndex(spark, sfDir)
    val fb = ensureFeedbackIndex(spark, sfDir)
    val seedIds = bm25Probe(spark, inv, RocchioQuery.map(_ -> 1.0), 10)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq // ≤10 — bounded
    val nDocs = spark.table(inv + "_stats")
      .select(col("n_docs").cast("double").as("n_docs"))
    val expansion =
      if (seedIds.isEmpty) Seq.empty[String]
      else spark.table(fb)
        .filter(col("doc_id").isin(seedIds: _*)) // doc-bucket-pruned point reads
        .filter(!col("term").isin(RocchioQuery: _*))
        .groupBy(col("term")).agg(sum(col("tf")).as("ftf"))
        .join(spark.table(fb + "_lex"), "term")
        .crossJoin(broadcast(nDocs))
        .select(col("term"),
          round(col("ftf").cast("double") *
            log(col("n_docs") / col("df").cast("double")), 6).as("rw"))
        .orderBy(col("rw").desc, col("term")).limit(5)
        .collect().map(_.getString(0)).toSeq // ≤5 — bounded
    bm25Probe(spark, inv,
      RocchioQuery.map(_ -> 1.0) ++ expansion.map(_ -> RocchioBeta), 20)
  }

  val rocchioSearchSql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents
      |), stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
      |    AVG(CAST(len(toks) AS BIGINT)) AS avgdl
      |  FROM base
      |), p AS (
      |  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |          unnest(toks) AS term FROM base)
      |  GROUP BY 1, 2, 3
      |), lex AS (
      |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM p GROUP BY 1
      |), s1 AS (
      |  SELECT p.doc_id,
      |    ROUND(SUM(LN(1 + (stats.n_docs - lex.df + 0.5) / (lex.df + 0.5))
      |      * (CAST(p.tf AS DOUBLE) * 2.2)
      |      / (CAST(p.tf AS DOUBLE)
      |         + 1.2 * (0.25 + 0.75 * CAST(p.dl AS DOUBLE) / stats.avgdl))), 6)
      |      AS score
      |  FROM p JOIN lex USING (term) CROSS JOIN stats
      |  WHERE p.term IN ('dup', 'sort')
      |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10
      |), expn AS (
      |  SELECT p.term,
      |    ROUND(CAST(SUM(p.tf) AS DOUBLE) * LN(stats.n_docs / lex.df), 6) AS rw
      |  FROM p JOIN s1 USING (doc_id) JOIN lex USING (term) CROSS JOIN stats
      |  WHERE p.term NOT IN ('dup', 'sort')
      |  GROUP BY p.term, lex.df, stats.n_docs
      |  ORDER BY rw DESC, term LIMIT 5
      |), w AS (
      |  SELECT term, 1.0 AS wt FROM (VALUES ('dup'), ('sort')) t(term)
      |  UNION ALL SELECT term, 0.5 AS wt FROM expn
      |)
      |SELECT p.doc_id,
      |  ROUND(SUM(w.wt * LN(1 + (stats.n_docs - lex.df + 0.5) / (lex.df + 0.5))
      |    * (CAST(p.tf AS DOUBLE) * 2.2)
      |    / (CAST(p.tf AS DOUBLE)
      |       + 1.2 * (0.25 + 0.75 * CAST(p.dl AS DOUBLE) / stats.avgdl))), 6)
      |    AS score
      |FROM p JOIN w USING (term) JOIN lex USING (term) CROSS JOIN stats
      |GROUP BY p.doc_id
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  /** Adjacency phrase search from the SAME positional index: documents
    * where "<term1> <term2>" occurs as consecutive tokens, with the
    * exact occurrence count — `|positions(term1) ∩ (positions(term2)
    * − 1)|`, all-integer, so the key is immune to FP drift. The two
    * sides are each a bucket-pruned single-term scan; the doc_id join
    * and the HOF shift/intersect run over candidate postings only
    * (docs containing BOTH terms), never the corpus. This is the
    * operator tf-only postings cannot express — the reason production
    * indexes store positions.
    */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame =
    phraseSearchIndex(spark, ensureInvertedIndex(spark, sfDir))

  private[graft] def phraseSearchIndex(spark: SparkSession, name: String): DataFrame = {
    val (t1, t2) = PhraseTerms
    def side(t: String, as: String) = spark.table(name)
      .filter(col("term") === t)
      .select(col("doc_id"), col("positions").as(as))
    val occ = size(array_intersect(col("pa"),
      transform(col("pb"), x => x - 1)))
    side(t1, "pa").join(side(t2, "pb"), "doc_id")
      .select(col("doc_id"), occ.cast("long").as("n_occ"))
      .filter(col("n_occ") > 0)
      .orderBy(col("doc_id"))
  }

  val phraseSearchSql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents
      |), m AS (
      |  SELECT doc_id,
      |    list_filter(generate_series(1, len(toks)), i -> toks[i] = 'hash') AS pa,
      |    list_filter(generate_series(1, len(toks)), i -> toks[i] = 'value') AS pb
      |  FROM base
      |)
      |SELECT doc_id, CAST(len(list_intersect(pa,
      |    list_transform(pb, x -> x - 1))) AS BIGINT) AS n_occ
      |FROM m
      |WHERE len(list_intersect(pa, list_transform(pb, x -> x - 1))) > 0
      |ORDER BY doc_id""".stripMargin

  /** The fixed boolean query for [[booleanSearch]]: MUST contain all,
    * SHOULD (score-only) any, MUST NOT contain any. Overlaps
    * [[SearchTerms]]/[[PhraseTerms]] deliberately — the three retrieval
    * keys share index buckets, proving one index serves many query
    * shapes. */
  private[graft] val BoolMust = Seq("window", "hash")
  private[graft] val BoolShould = Seq("merge")
  private[graft] val BoolMustNot = Seq("batch")

  /** Conjunctive boolean retrieval with document-at-a-time BM25 scoring
    * from the SAME positional postings index — the query shape beyond
    * [[keywordSearch]]'s bag-of-terms OR: `(window AND hash) AND NOT
    * batch`, with `merge` as a score-only SHOULD term. All four terms'
    * postings come out of ONE bucket-pruned scan (`SelectedBucketsCount`,
    * spec-asserted), and the whole boolean evaluation is
    * document-at-a-time: a single per-doc aggregation computes the
    * MUST-coverage count (postings are unique per (term, doc), so
    * coverage = conditional row count), the NOT flag (conditional max),
    * and the BM25 sum over scoring terms (conditional sum) — no
    * per-clause joins or intersections, so adding query terms grows the
    * pruned scan, never the plan. Per-term df is exact from the same
    * pruned rows; scores round to 6 decimals before ranking (the
    * [[keywordSearch]] ulp-tie precedent).
    */
  def booleanSearch(spark: SparkSession, sfDir: String): DataFrame =
    booleanSearchIndex(spark, ensureInvertedIndex(spark, sfDir))

  private[graft] def booleanSearchIndex(spark: SparkSession, name: String): DataFrame = {
    val (k1, b, k) = (1.2, 0.75, 20)
    val scoring = BoolMust ++ BoolShould
    val all = scoring ++ BoolMustNot
    val p = spark.table(name)
      .filter(col("term").isin(all: _*))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
    val dfs = p.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val stats = spark.table(name + "_stats")
      .select(col("n_docs").cast("double").as("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val contrib = idf * (tf * (k1 + 1)) /
      (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    p.join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("term").isin(scoring: _*), contrib).otherwise(lit(0d)))
          .as("raw"),
        count(when(col("term").isin(BoolMust: _*), lit(1))).as("n_must"),
        max(when(col("term").isin(BoolMustNot: _*), lit(1)).otherwise(lit(0)))
          .as("neg"))
      .filter(col("n_must") === BoolMust.size && col("neg") === 0)
      .select(col("doc_id"), round(col("raw"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  val booleanSearchSql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents
      |), stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
      |    AVG(CAST(len(toks) AS BIGINT)) AS avgdl
      |  FROM base
      |), p AS (
      |  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |          unnest(toks) AS term FROM base)
      |  WHERE term IN ('window', 'hash', 'merge', 'batch')
      |  GROUP BY 1, 2, 3
      |), dfs AS (
      |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM p GROUP BY 1
      |)
      |SELECT doc_id, ROUND(SUM(
      |    CASE WHEN term IN ('window', 'hash', 'merge') THEN
      |      LN(1 + (n_docs - df + 0.5) / (df + 0.5))
      |        * (CAST(tf AS DOUBLE) * 2.2)
      |        / (CAST(tf AS DOUBLE)
      |           + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
      |    ELSE 0 END), 6) AS score
      |FROM p JOIN dfs USING (term) CROSS JOIN stats
      |GROUP BY doc_id
      |HAVING COUNT(CASE WHEN term IN ('window', 'hash') THEN 1 END) = 2
      |   AND MAX(CASE WHEN term = 'batch' THEN 1 ELSE 0 END) = 0
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  /** Catalog base name of [[searchLifecycle]]'s OWN epoch family —
    * separate from [[invIndexName]] so the lifecycle rebuild never
    * races the shared index the other retrieval keys probe. */
  private[graft] def lifecycleIndexName(sfDir: String): String =
    "graft_inv_lc_" + Layout.corpusTag(sfDir)

  /** The search-index LIFECYCLE under the oracle: bulk-build the
    * positional postings index from HALF the corpus (even doc_ids),
    * stream the other half through the REAL maintenance path
    * ([[graft.streaming.DocStream.appendPostingsStream]] — a Structured
    * Streaming file source micro-batching the odd half through
    * [[appendToInvertedIndex]]'s bucket-spec-preserving appends and
    * exact integer sidecar advance), then serve the standard
    * [[keywordSearch]] probe from the appended epoch. The oracle is
    * [[keywordSearchSql]] verbatim — a full-corpus recompute — so the
    * driver hash-match proves build + streamed appends together
    * reconstruct exactly the state a one-pass build would have
    * produced. (DocStreamSpec proves the same equivalence in-process;
    * this key moves that claim into the per-round driver gate.)
    *
    * Each call rotates a fresh epoch (the build IS the operator —
    * caching it would reduce the key to a second q_keyword_search) and
    * prunes to the latest two so repeated benchmark runs don't grow
    * the catalog. No corpus-sized driver state anywhere: the streamed
    * half goes through a parquet file source, not a driver collect.
    */
  def searchLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val base = lifecycleIndexName(sfDir)
    // quarter-corpus (doc_id % 4 = 0) under the matching filtered
    // oracle ([[searchLifecycleSql]]) — r14 lifecycle fixed-cost
    // discipline: postings/stats maintenance correctness is
    // corpus-size invariant (BM25 stats re-derive from the indexed
    // set on both sides), the per-call tokenize+index rebuild is not.
    // q_keyword_search keeps the full-corpus oracle.
    val docs = Tables.documentsFanned(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 4 === 0)
    val even = docs.filter(col("doc_id") % 8 === 0)
    val odd = docs.filter(col("doc_id") % 8 =!= 0)
    val t = Layout.rotateEpoch(spark, base, sidecars = Seq("_stats")) { name =>
      buildInvertedIndex(spark, name, even)
    }
    Layout.withStagedParquet(odd, "graft-lc") { arrivals =>
      val stream = graft.streaming.DocStream.appendPostingsStream(
        spark.readStream.schema(odd.schema).parquet(arrivals), base)
      try { stream.processAllAvailable() } finally { stream.stop() }
    }
    Layout.pruneEpochs(spark, base, keep = 2, sidecars = Seq("_stats"))
    keywordSearchIndex(spark, t)
  }

  /** Misra-Gries summary capacity for [[heavyHittersGated]] — chosen
    * BELOW the fixture's 31-token vocabulary so evictions actually
    * happen and the error bounds are exercised, never vacuous. */
  private[graft] val MgCapacity = 16

  /** One partition's Misra-Gries pass: capacity-k counter map over a
    * token stream — hit increments, free slot inserts, full map
    * decrements every counter and drops zeros. O(k) worst-case per
    * token (k is a small constant), O(k) state. */
  private[graft] def mgSummarize(tokens: Iterator[String], k: Int)
      : Iterator[(String, Long)] = {
    // Mutable one-cell counters + entry-iterator removal keep the
    // full-map decrement pass allocation-free — the previous
    // `m.keys.toList` copied the key set on EVERY non-tracked token,
    // an O(k) allocation on the hottest per-token path in the corpus.
    val m = new java.util.HashMap[String, Array[Long]](k * 2)
    tokens.foreach { t =>
      val cell = m.get(t)
      if (cell != null) cell(0) += 1
      else if (m.size < k) m.put(t, Array(1L))
      else {
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val c = it.next().getValue
          c(0) -= 1
          if (c(0) == 0L) it.remove()
        }
      }
    }
    import scala.jdk.CollectionConverters._
    m.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue()(0)))
  }

  /** Merge per-partition MG summaries into one capacity-k summary —
    * sum per token, then (if over capacity) subtract the (k+1)-th
    * largest total and drop non-positives. Mergeable-summaries result
    * (Agarwal et al., PODS'12): the merged summary keeps the sequential
    * guarantee `true(t) − n/(k+1) ≤ est(t) ≤ true(t)` for EVERY token,
    * and any token with `true(t) > n/(k+1)` is present — regardless of
    * partitioning or merge order.
    */
  private[graft] def mgMerge(entries: Seq[(String, Long)], k: Int): Map[String, Long] = {
    val summed = entries.groupBy(_._1).map { case (t, es) => t -> es.map(_._2).sum }
    if (summed.size <= k) summed
    else {
      val d = summed.values.toSeq.sorted(Ordering[Long].reverse)(k)
      summed.map { case (t, e) => t -> (e - d) }.filter(_._2 > 0)
    }
  }

  /** Distributed MG summary of a one-array-column frame of token
    * arrays. Round-12 re-plan (the q_countmin_counts precedent): the
    * corpus-sized pass is now a codegen'd map-side-combined
    * `groupBy(token).count()` — ONE hash-aggregate job whose output is
    * Heap's-law vocabulary-bounded, the same one-job-at-any-corpus-size
    * claim the tokenizer trainers make — and Misra-Gries runs WEIGHTED
    * over that vocab-sized count table. The imperative `mapPartitions`
    * MG pass over raw tokens (a whole-stage-codegen exit on
    * corpus-sized data, 2-3× the aggregate's cost on a slow host) is
    * gone from this path; [[mgSummarize]] remains the per-stream form,
    * property-tested against the same bound. */
  private[graft] def mgSummaryOf(spark: SparkSession, toksDf: DataFrame,
      k: Int): Map[String, Long] = {
    val tokCol = col(toksDf.columns.head)
    mgSummaryOfCounts(spark,
      toksDf.select(explode(tokCol).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt")), k)
  }

  /** Weighted MG over an exact (token, cnt) table: a single count row
    * is itself a ZERO-error MG summary of its sub-stream, so the merge
    * tree below is exactly the Agarwal et al. (PODS'12) MERGE
    * operation and the sequential guarantee
    * `true(t) − n/(k+1) ≤ est(t) ≤ true(t)` (n = total weight) holds
    * for every token regardless of partitioning or tree shape.
    * TWO-LEVEL merge: ≤ k·P partial rows shuffle down to ~√P tasks,
    * so the driver merges only ≤ k·√P rows — bounded small state, the
    * codebook-collect precedent, never O(corpus). */
  private[graft] def mgSummaryOfCounts(spark: SparkSession,
      counts: DataFrame, k: Int): Map[String, Long] = {
    import spark.implicits._
    val partials = counts.as[(String, Long)]
      .mapPartitions(it => mgMerge(it.toSeq, k).iterator)
    val p = partials.rdd.getNumPartitions
    val mid = math.max(1, math.sqrt(p.toDouble).round.toInt)
    val level1 = partials.repartition(mid)
      .mapPartitions(it => mgMerge(it.toSeq, k).iterator)
      .collect()
    mgMerge(level1.toSeq, k)
  }

  /** Approximate HEAVY HITTERS, gated like the other two sketch keys
    * (q_approx_distinct, q_doc_quantiles_approx): the oracle-hashed row
    * is the EXACT top-10 token counts plus Spark-evaluated booleans
    * asserting the Misra-Gries theorem held — `est ≤ cnt` and
    * `est ≥ cnt − ⌈n/(k+1)⌉` with absent-from-summary read as est 0
    * (absence of a token with cnt ≤ n/(k+1) is exactly what the
    * theorem permits, so the bound stays the real mathematical claim,
    * not a vacuity). The estimates themselves are partition-order
    * dependent and deliberately NOT in the hashed output; the BOUNDS
    * hold under any partitioning (spec-asserted by re-running the
    * summary under adversarial repartitioning, plus a planted-skew
    * fixture proving the membership guarantee for true heavy items).
    * Scale shape (round-12 re-plan): ONE codegen'd tokenize + explode +
    * map-side-combined count over the corpus, localCheckpointed at
    * vocab size (Heap's-bounded — the CMS counter-table precedent at
    * [[countMinGated]]) and reused by the weighted MG summary, the
    * total, and the exact top-10 twin; the former second corpus pass
    * (imperative per-token `mapPartitions` MG outside whole-stage
    * codegen) is gone.
    */
  def heavyHittersGated(spark: SparkSession, sfDir: String): DataFrame = {
    val k = MgCapacity
    val docs = Tables.documentsFanned(spark, sfDir)
    val counts = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // vocab-sized; read by summary + total + twin
    val summary = mgSummaryOfCounts(spark, counts, k)
    val totals = counts.agg(sum(col("cnt")).as("n_total"))
    val estOf: Column = if (summary.isEmpty) lit(0L)
      else coalesce(element_at(
        map(summary.toSeq.sortBy(_._1).flatMap { case (t, e) =>
          Seq(lit(t), lit(e)) }: _*), col("token")), lit(0L))
    counts
      .orderBy(col("cnt").desc, col("token")).limit(10)
      .crossJoin(broadcast(totals))
      .select(col("token"), col("cnt"),
        (estOf <= col("cnt")).as("est_le"),
        (estOf >= col("cnt") - ceil(col("n_total") / (k + 1)).cast("long"))
          .as("est_ge"))
      .orderBy(col("cnt").desc, col("token"))
  }

  val heavyHittersGatedSql: String =
    """WITH base AS (
      |  SELECT list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents
      |), tok AS (SELECT unnest(toks) AS token FROM base)
      |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt,
      |  TRUE AS est_le, TRUE AS est_ge
      |FROM tok
      |GROUP BY token
      |ORDER BY cnt DESC, token
      |LIMIT 10""".stripMargin

  /** Count-Min depth (d = 4 seeded hash rows) and width (w = 2¹⁴
    * counters per row) for [[countMinGated]]. Slack for the est_le
    * gate is 8·N/w — looser than the classic ε = e/w bound so the
    * fixed-corpus check is deterministic headroom, not a coin flip
    * (the per-row Markov bound at 8/w is 1/8; all d rows
    * simultaneously ≈ 2.4e-4 per probed token even before seeds). */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 1 << 14

  /** COUNT-MIN frequency estimation (Cormode & Muthukrishnan '05) under
    * the oracle gate — the fifth mergeable summary beside HLL / KLL /
    * Misra-Gries / Bloom, and the one that answers POINT-FREQUENCY
    * queries: d seeded-xxhash64 rows of w counters; every token
    * increments one counter per row; est(t) = min over rows. Counters
    * only ever overcount (collisions add), so `est_ge` (est ≥ exact) is
    * structural; `est_le` checks the ε·N error envelope with the sized
    * slack. Like the other gated sketches the hashed row carries the
    * EXACT top-10 (token, cnt) — oracle-verified — plus the two
    * Spark-evaluated bound booleans; production keeps the sketch alone.
    *
    * Scale shape: the d×w counter table is a hash aggregate over the
    * exploded token stream (d rows per token, map-side combined down to
    * ≤ d·w rows per mapper — the sketch IS the combiner state), fixed
    * size regardless of corpus: the 100 TB point-lookup story. The
    * probe side joins the 10 ranked tokens' (row, bucket) pairs back
    * against the ≤ d·w counter frame — model-sized, no collect at all.
    * Accepted cost: the exact ranking twin is a second corpus pass
    * (exists only to judge the sketch, like every gated key).
    */
  /** The d seeded (row, bucket) pairs of one token — shared by the
    * counter build and every probe so the two can never hash apart. */
  private def cmsRowBuckets(c: Column): Column =
    explode(array((0 until CmsDepth).map(i =>
      struct(lit(i).as("i"),
        pmod(xxhash64(c, lit(i)), lit(CmsWidth.toLong)).as("b"))): _*))

  /** Build the d×w counter frame (i, b, c) for a one-column `token`
    * frame — ≤ d·w rows after the map-side-combined aggregate. */
  private[graft] def cmsCounters(toks: DataFrame): DataFrame =
    toks.select(cmsRowBuckets(col("token")).as("ib"))
      .select(col("ib.i").as("i"), col("ib.b").as("b"))
      .groupBy(col("i"), col("b")).agg(count(lit(1)).as("c"))

  /** Count-Min point estimates for `probes` (any frame with a `token`
    * column; other columns ride along): est = min over the d rows.
    * LEFT join + coalesce-to-0: a probed token the counted stream never
    * touched can hash to (i,b) cells no stream token landed in — those
    * cells hold an implicit 0, so the minimum must include it (an inner
    * join would silently take the min over the surviving subset, or
    * drop the token entirely, overestimating a zero-frequency probe). */
  private[graft] def cmsEstimatesAgainst(counters: DataFrame,
      probes: DataFrame): DataFrame = {
    val carried = probes.columns.filter(_ != "token").map(col).toSeq
    probes.select((col("token") +: carried) :+ cmsRowBuckets(col("token")).as("ib"): _*)
      .select((col("token") +: carried) :+ col("ib.i").as("i") :+ col("ib.b").as("b"): _*)
      .join(counters, Seq("i", "b"), "left")
      .groupBy(col("token") +: carried: _*)
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  def countMinGated(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documentsFanned(spark, sfDir)
    val exploded = docs.select(explode(tokens(col("text"))).as("token"))
    val counters = cmsCounters(exploded)
      .localCheckpoint() // ≤ d·w rows; read by the total and the probe
    val totals = counters.filter(col("i") === 0)
      .agg(sum(col("c")).as("n_total"))
    val top = exploded.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(10)
    cmsEstimatesAgainst(counters, top)
      .crossJoin(broadcast(totals))
      .select(col("token"), col("cnt"),
        (col("est") >= col("cnt")).as("est_ge"),
        (col("est") <= col("cnt") +
          ceil(col("n_total") * lit(8.0) / CmsWidth).cast("long")).as("est_le"))
      .orderBy(col("cnt").desc, col("token"))
  }

  val countMinGatedSql: String =
    """WITH base AS (
      |  SELECT list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents
      |), tok AS (SELECT unnest(toks) AS token FROM base)
      |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt,
      |  TRUE AS est_ge, TRUE AS est_le
      |FROM tok
      |GROUP BY token
      |ORDER BY cnt DESC, token
      |LIMIT 10""".stripMargin

  /** Reciprocal-rank-fusion constant (Cormack et al. SIGIR'09's k=60 —
    * the universally shipped default). */
  private[graft] val RrfK = 60

  /** HYBRID retrieval — reciprocal rank fusion of the two index-served
    * retrieval legs a modern curation/RAG pipeline runs side by side:
    * the BM25 keyword probe over the persisted postings index
    * ([[keywordSearchIndex]], top-20) and the dense-vector cosine leg
    * over the embeddings (the [[SimilarityOps.knnCosine]] list for the
    * fixed query vector, top-10; doc_id and vec_id share an id space in
    * the testdata). RRF score = Σ 1/(k + rank) over the lists a doc
    * appears in — rank-only, so the two legs' incomparable score scales
    * never mix, and the fused ordering is immune to either leg's FP
    * noise (each leg's list is already rounded + tie-broken total-order).
    *
    * Scale shape: each leg is its own indexed top-k (bucket-pruned
    * postings; ANN at scale); fusion then operates on TWO k-ROW LISTS —
    * inherently bounded, never corpus-sized. Ranks are derived from the
    * k-row frames with a bounded inequality self-join (count of
    * strictly-better rows; ≤ k×k = 400 comparisons — the documented
    * BNLJ), NOT a global window, keeping the plan-audit invariant that
    * nothing ever plans an unpartitioned Window.
    */
  def hybridSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val kwLeg = keywordSearchIndex(spark, ensureInvertedIndex(spark, sfDir))
      .select(col("doc_id").as("id"), col("score"))
    val vecLeg = SimilarityOps.knnCosine(spark, sfDir)
      .select(col("vec_id").as("id"), col("score"))
    def ranked(leg: DataFrame, as: String): DataFrame = {
      val better = leg.select(col("id").as("id2"), col("score").as("s2"))
      leg.join(broadcast(better),
          col("s2") > col("score") ||
            (col("s2") === col("score") && col("id2") < col("id")), "left")
        .groupBy(col("id"))
        .agg((count(col("id2")) + 1).as(as))
    }
    ranked(kwLeg, "kw_rank")
      .join(ranked(vecLeg, "vec_rank"), Seq("id"), "full_outer")
      .select(col("id").as("doc_id"),
        round(coalesce(lit(1.0) / (lit(RrfK) + col("kw_rank")), lit(0d)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0d)), 6)
          .as("rrf_score"),
        col("kw_rank"), col("vec_rank"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
  }

  val hybridSearchSql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents
      |), stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
      |    AVG(CAST(len(toks) AS BIGINT)) AS avgdl
      |  FROM base
      |), p AS (
      |  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |          unnest(toks) AS term FROM base)
      |  WHERE term IN ('window', 'merge', 'batch')
      |  GROUP BY 1, 2, 3
      |), dfs AS (
      |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM p GROUP BY 1
      |), kw AS (
      |  SELECT doc_id, ROUND(SUM(
      |      LN(1 + (n_docs - df + 0.5) / (df + 0.5))
      |        * (CAST(tf AS DOUBLE) * 2.2)
      |        / (CAST(tf AS DOUBLE)
      |           + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))), 6) AS score
      |  FROM p JOIN dfs USING (term) CROSS JOIN stats
      |  GROUP BY doc_id
      |  ORDER BY score DESC, doc_id
      |  LIMIT 20
      |), kwr AS (
      |  SELECT doc_id AS id,
      |    row_number() OVER (ORDER BY score DESC, doc_id) AS kw_rank
      |  FROM kw
      |), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |pairs AS (
      |  SELECT e.vec_id,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS x,
      |    CAST(unnest(q.qe) AS DOUBLE) AS y
      |  FROM embeddings e, q
      |  WHERE e.vec_id <> 0
      |), s AS (
      |  SELECT vec_id,
      |    SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))) AS score
      |  FROM pairs GROUP BY vec_id
      |), vec AS (
      |  SELECT vec_id, ROUND(score, 4) AS score
      |  FROM s
      |  ORDER BY ROUND(score, 4) DESC, vec_id
      |  LIMIT 10
      |), vecr AS (
      |  SELECT vec_id AS id,
      |    row_number() OVER (ORDER BY score DESC, vec_id) AS vec_rank
      |  FROM vec
      |)
      |SELECT COALESCE(kwr.id, vecr.id) AS doc_id,
      |  ROUND(COALESCE(1.0 / (60 + kw_rank), 0)
      |      + COALESCE(1.0 / (60 + vec_rank), 0), 6) AS rrf_score,
      |  kw_rank, vec_rank
      |FROM kwr FULL OUTER JOIN vecr ON kwr.id = vecr.id
      |ORDER BY rrf_score DESC, doc_id""".stripMargin

  /** Minimum corpus frequency for a bigram to be considered a
    * collocation candidate (the standard PMI small-count guard: rare
    * pairs have wildly overestimated PMI). */
  private[graft] val CollocationMinCount = 5L

  /** PMI-ranked collocation extraction (Church & Hanks 1990) — the
    * phrase-induction / vocab-extension signal a tokenizer pipeline
    * mines before merging multiword units: for every adjacent token
    * pair, `pmi = ln(p(a,b) / (p(a)·p(b)))` with `p(a,b) = c_ab / B`
    * over bigram occurrences and `p(t) = c_t / N` over unigram
    * occurrences; top-50 by (pmi desc, pair).
    *
    * Cross-engine exactness: the score is evaluated in LOG SPACE with
    * one fixed association — `ln c_ab + ln N + ln N − ln B − ln c_a −
    * ln c_b`, rounded to 6 — so no intermediate product exists to
    * overflow at ANY corpus size (the ratio form c_ab·N²/(B·c_a·c_b)
    * would exceed BIGINT already at sf0.1), and both engines take ln
    * of exact integers with identical operand order (≤1-ulp drift,
    * absorbed at 6 decimals — the bm25TopK precedent).
    *
    * Scale shape: bigram construction follows [[CurationOps
    * .dsirWeights]] (transform builds the pair strings pre-explode;
    * the groupBy map-side-combines so the shuffle carries one row per
    * distinct pair per mapper — Zipf's best case); unigram counts are
    * a second explode→combine pass; N and B reduce from the SAME
    * tokenized frame without re-unnesting. The unigram join sides
    * broadcast under the Heap's-law vocab bound (the
    * quality-classifier precedent); the 1-row totals cross-join is
    * the allowlisted broadcast. min-count ≥ [[CollocationMinCount]]
    * prunes the pair tail BEFORE both joins.
    */
  def collocations(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = tokens(col("text"))
    val bigrams = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ",
          element_at(col("toks"), i), element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val base = Tables.documentsFanned(spark, sfDir)
      .select(toks.as("toks"))
    val u = base.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val p = base.select(explode(bigrams).as("f"))
      .groupBy(col("f")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= CollocationMinCount)
      .select(element_at(split(col("f"), " "), 1).as("a"),
        element_at(split(col("f"), " "), 2).as("b"), col("c_ab"))
    val tot = base.agg(
      sum(size(col("toks"))).cast("long").as("n_uni"),
      sum(greatest(size(col("toks")) - 1, lit(0))).cast("long").as("n_bg"))
    val pmi = log(col("c_ab")) + log(col("n_uni")) + log(col("n_uni")) -
      log(col("n_bg")) - log(col("c_a")) - log(col("c_b"))
    p.join(broadcast(u.withColumnRenamed("t", "a").withColumnRenamed("c", "c_a")), "a")
      .join(broadcast(u.withColumnRenamed("t", "b").withColumnRenamed("c", "c_b")), "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("c_ab"), round(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(50)
  }

  val collocationsSql: String =
    """WITH base AS (
      |  SELECT list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents
      |), u AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(toks) AS t FROM base) GROUP BY 1
      |), p AS (
      |  SELECT string_split(f, ' ')[1] AS a, string_split(f, ' ')[2] AS b, c_ab
      |  FROM (
      |    SELECT f, CAST(COUNT(*) AS BIGINT) AS c_ab
      |    FROM (
      |      SELECT unnest(CASE WHEN len(toks) >= 2
      |        THEN list_transform(generate_series(1, len(toks) - 1),
      |          i -> toks[i] || ' ' || toks[i + 1])
      |        ELSE [] END) AS f
      |      FROM base)
      |    GROUP BY 1)
      |  WHERE c_ab >= 5
      |), tot AS (
      |  SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_uni,
      |    CAST(SUM(GREATEST(len(toks) - 1, 0)) AS BIGINT) AS n_bg
      |  FROM base
      |)
      |SELECT a, b, c_ab, ROUND(
      |    LN(c_ab) + LN(n_uni) + LN(n_uni) - LN(n_bg) - LN(ua.c) - LN(ub.c),
      |  6) AS pmi
      |FROM p JOIN u ua ON p.a = ua.t JOIN u ub ON p.b = ub.t CROSS JOIN tot
      |ORDER BY pmi DESC, a, b
      |LIMIT 50""".stripMargin
}
