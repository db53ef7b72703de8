package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Flipped-scale validation harness for the three adaptive strategy
  * gates in the dedup family. Every gate is spec-forced on both
  * branches at test scale, but until this harness none had *executed*
  * on data that NATURALLY crosses it — the exact blind spot a
  * strategy crossover bug would live in. Two synthetic corpora (built
  * once under /tmp, deterministic md5-derived text so re-runs are
  * identical) cross the gates from above:
  *
  *  - corpus A (100K docs, ~4M shingle vocab, ~2.4M true near-dup
  *    pairs): vocab ≫ 64K flips jaccardNearDupPairs to the
  *    PREFIX-FILTER path; the verified pair list > 2M edges flips
  *    connectedComponents to DISTRIBUTED min-label propagation.
  *    Groups are 50 mutated copies of a per-group base text (unique
  *    md5 chains → genuinely sparse vocabulary, the regime the sparse
  *    path exists for; within-group Jaccard ≈ 0.72).
  *  - corpus B (12K docs, ~58K vocab ≤ 64K): the bitmap VERIFICATION
  *    path fires, but its bitmap table (~87 MB > the 64 MB broadcast
  *    budget) flips verifyCandidatesExact to the SHUFFLE-join probe.
  *    Suffix tokens draw from a 499-token pool so vocabulary stays
  *    under the bitmap gate while every copy still differs.
  *
  * Correctness at the flipped scale is checked WITHIN Spark (DuckDB
  * oracles are quadratic in these corpus sizes): corpus A's
  * distributed CC labels must equal the driver union-find's on the
  * same 2.4M-edge graph; corpus B's shuffle-verified pairs must equal
  * an independent array_intersect verification of the same candidates.
  * Results are recorded in BASELINE.md §crossovers.
  */
object CrossoverBench {

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[xover] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  /** Corpus A: 2000 groups × 50 copies; per-group unique base (6 md5
    * chunks, 192 chars) + per-copy unique 32-char md5 suffix.
    */
  private def genCorpusA(spark: SparkSession, path: String): Unit = {
    val nGroups = 2000L; val copies = 50L
    val base = concat((0 until 6).map(k =>
      md5(concat(col("g").cast("string"), lit(s"-$k")))): _*)
    spark.range(nGroups * copies)
      .select(col("id").as("doc_id"), (col("id") / copies).cast("long").as("g"))
      .withColumn("text", concat(base, lit(" "), md5(col("doc_id").cast("string"))))
      .select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(path)
  }

  /** Corpus B: 240 groups × 50 copies; shorter unique base (5 chunks,
    * 160 chars), fixed " ---- " sentinel (keeps boundary shingles off
    * the per-copy vocabulary), pool-drawn suffix (499 tokens).
    */
  private def genCorpusB(spark: SparkSession, path: String): Unit = {
    val nGroups = 240L; val copies = 50L
    val base = concat((0 until 5).map(k =>
      md5(concat(col("g").cast("string"), lit(s"-$k")))): _*)
    val poolTok = md5(pmod(col("doc_id") * 17L, lit(499L)).cast("string"))
    spark.range(nGroups * copies)
      .select(col("id").as("doc_id"), (col("id") / copies).cast("long").as("g"))
      .withColumn("text", concat(base, lit(" ---- "), poolTok))
      .select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(path)
  }

  private def shingled(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 5)
      .select(col("doc_id"), DedupOps.shingles(col("text"), 5).as("sh"))

  /** Corpus C (200K docs): 30 pool-drawn filler tokens per doc (50K-token
    * pool → the query terms' postings are ~1-2% of the corpus) with the
    * three [[graft.operators.TextOps.SearchTerms]] planted on co-prime
    * strides — the regime where term-bucket pruning, not scan speed, is
    * the difference between a probe and a corpus pass.
    */
  private def genCorpusC(spark: SparkSession, path: String): Unit = {
    val filler = concat_ws(" ", (0 until 30).map(j =>
      md5(pmod(col("doc_id") * 31L + j * 7L, lit(50000L)).cast("string"))): _*)
    val planted = concat(
      when(pmod(col("doc_id"), lit(101L)) === 0, lit(" window")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(103L)) === 0, lit(" merge merge")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(107L)) === 0, lit(" batch")).otherwise(lit("")))
    spark.range(200000L).select(col("id").as("doc_id"))
      .select(col("doc_id"), concat(filler, planted).as("text"))
      .write.mode("overwrite").parquet(path)
  }

  /** Independent full-scan reference for the keyword probe: the
    * [[graft.operators.TextOps.bm25TopK]] whole-corpus shape (tokenize
    * every doc, 1-row stats broadcast, row-local scoring) restricted to
    * candidate semantics (≥1 query term). Shares NO code with the
    * postings-index probe beyond the tokenizer.
    */
  private def fullScanKeyword(docs: DataFrame): DataFrame = {
    import graft.operators.TextOps
    val (k1, b, k) = (1.2, 0.75, 20)
    val toksC = TextOps.tokens(col("text"))
    val base = docs.select(col("doc_id") +: size(toksC).cast("long").as("dl") +:
      TextOps.SearchTerms.map(t =>
        size(filter(toksC, x => x === t)).cast("long").as(s"tf_$t")): _*)
    val statCols = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      TextOps.SearchTerms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).cast("double").as(s"df_$t"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val score = TextOps.SearchTerms.map { t =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5))
      val tf = col(s"tf_$t").cast("double")
      idf * (tf * (k1 + 1)) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .filter(TextOps.SearchTerms.map(t => col(s"tf_$t") > 0).reduce(_ || _))
      .select(col("doc_id"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** 100K synthetic 64-dim vectors in 64 planted clusters — 10× the
    * sf0.1 vector count, deterministic exact-rational components so
    * re-runs are identical and the integer-micro quantization is
    * stable.
    */
  private def genVectors(spark: SparkSession, path: String): Unit = {
    val emb = transform(sequence(lit(0), lit(63)), j =>
      ((pmod(col("cid") * 73L + j * 37L, lit(41L)) - 20L).cast("double") / 10.0d) +
        ((pmod(col("vec_id") * 13L + j * 7L, lit(17L)) - 8L).cast("double") / 100.0d))
    spark.range(100000L)
      .select(col("id").as("vec_id"), pmod(col("id"), lit(64L)).as("cid"))
      .select(col("vec_id"), emb.cast("array<float>").as("embedding"))
      .write.mode("overwrite").parquet(path)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    // optional section filter for iteration: any of "ab","c","v","e",
    // "s","u","w","k","h","p","q" (no args = everything, the round-record configuration)
    val only: Set[String] =
      if (args.isEmpty)
        Set("ab", "c", "v", "e", "s", "u", "w", "k", "h", "p", "q", "z", "b")
      else args.toSet
    var failed = false

    if (only("ab")) {
    val dirA = "/tmp/crossover/a"; val dirB = "/tmp/crossover/b"
    timed("gen corpus A (100K docs)")(genCorpusA(spark, dirA))
    timed("gen corpus B (12K docs)")(genCorpusB(spark, dirB))

    // ---- corpus A: prefix-filter flip + distributed-CC flip ----
    val docsA = shingled(spark.read.parquet(dirA)).localCheckpoint()
    val invA = docsA.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val vocabA = invA.select("shingle").distinct().count()
    val nA = docsA.count()
    println(s"[xover] corpus A: $nA docs, vocab $vocabA — " +
      s"bitmap gate ${DedupOps.useBitmapStrategy(vocabA, nA)} (expect false → PREFIX-FILTER path)")
    val pairsA = timed("A jaccardNearDupPairs t=0.5 (prefix-filter)") {
      DedupOps.jaccardNearDupPairs(docsA, 0.5)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
    }
    val nEdges = pairsA.count()
    println(s"[xover] corpus A: $nEdges verified pairs — " +
      s"driver-CC gate ${nEdges <= DedupOps.MaxDriverEdges} (expect false → DISTRIBUTED CC)")
    val vertsA = spark.read.parquet(dirA).select(col("doc_id"))
    val ccDist = timed("A connectedComponents (distributed label propagation)") {
      val cc = DedupOps.connectedComponents(vertsA, pairsA).localCheckpoint()
      cc.count(); cc
    }
    val ccDriver = timed("A connectedComponents (driver union-find, forced)") {
      val cc = DedupOps.connectedComponents(vertsA, pairsA, Long.MaxValue).localCheckpoint()
      cc.count(); cc
    }
    val ccDiff = ccDist.exceptAll(ccDriver).count() + ccDriver.exceptAll(ccDist).count()
    println(s"[xover] A CC cross-check: distributed vs driver diff rows = $ccDiff " +
      (if (ccDiff == 0) "PASS" else "FAIL"))
    val nGroupsA = ccDist.select("group_id").distinct().count()
    println(s"[xover] A groups: $nGroupsA (expect 2000 planted groups)")

    // ---- PageRank tier flip on the same graph (the CC-posture gate
    // executed at a scale that genuinely crosses it: 2.45M edges >
    // MaxDriverEdges → production picks the DISTRIBUTED Pregel-on-SQL
    // rounds; the forced driver loop cross-checks — exact integer
    // arithmetic means the tiers must be IDENTICAL, not close) ----
    val prDist = timed("A pagerank (distributed rounds — gate flipped)") {
      val r = graft.operators.GraphOps.pagerankOver(pairsA).localCheckpoint()
      r.count(); r
    }
    val prDriver = timed("A pagerank (driver loop, forced)") {
      val r = graft.operators.GraphOps.pagerankOver(pairsA, Long.MaxValue)
        .localCheckpoint()
      r.count(); r
    }
    val prDiff = prDist.exceptAll(prDriver).count() +
      prDriver.exceptAll(prDist).count()
    println(s"[xover] A pagerank cross-check: distributed vs driver diff rows = $prDiff " +
      (if (prDiff == 0) "PASS" else "FAIL"))

    // ---- corpus B: broadcast→shuffle verification flip ----
    val docsB = shingled(spark.read.parquet(dirB)).localCheckpoint()
    val invB = docsB.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val vocabB = invB.select("shingle").distinct().count()
    val nB = docsB.count()
    val widthB = (vocabB.toInt + 63) / 64
    val bmBytes = nB * (widthB + 2) * 8
    println(s"[xover] corpus B: $nB docs, vocab $vocabB (≤64K → BITMAP verify), " +
      s"bitmap table ≈ ${bmBytes / 1024 / 1024} MB — broadcast gate ${bmBytes <= 64L * 1024 * 1024} " +
      "(expect false → SHUFFLE verify)")
    val candB = timed("B minhash LSH candidates") {
      DedupOps.minhashCandidates(docsB).select(col("doc_a"), col("doc_b")).localCheckpoint()
    }
    println(s"[xover] B candidates: ${candB.count()}")
    val verifiedB = timed("B verifyCandidatesExact (bitmap popcount, shuffle-joined)") {
      val v = DedupOps.verifyCandidatesExact(candB, docsB, 0.5)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      v.count(); v
    }
    // independent verification of the same candidates via array_intersect
    val refB = timed("B independent array_intersect verification") {
      val a = docsB.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val b = docsB.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      val v = candB.join(a, "doc_a").join(b, "doc_b")
        .withColumn("ni", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("j", col("ni").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("ni")).cast("double"))
        .filter(col("j") >= 0.5)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      v.count(); v
    }
    val vDiff = verifiedB.exceptAll(refB).count() + refB.exceptAll(verifiedB).count()
    println(s"[xover] B verify cross-check: shuffle-bitmap vs array_intersect diff rows = $vDiff " +
      (if (vDiff == 0) "PASS" else "FAIL") + s" (${verifiedB.count()} verified pairs)")
    // ---- diameter-halving CC on a shape propagation cannot handle ----
    // a 100K-node chain has diameter 100K: min-label propagation would
    // need 100K rounds (its backstop fires at 50); the star fallback
    // must converge in O(log n) rounds. Expected labels are known in
    // closed form (every node's component min is 0).
    val nChain = 100000L
    val chain = spark.range(nChain - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val starLabels = timed(s"star CC on a ${nChain}-node chain (diameter ${nChain - 1})") {
      val l = DedupOps.starComponents(chain).localCheckpoint()
      l.count(); l
    }
    val starBad = starLabels
      .filter(col("group_id") =!= 0L || col("doc_id") < 0L || col("doc_id") >= nChain)
      .count()
    val starCovered = starLabels.count()
    println(s"[xover] chain star-CC: $starCovered labeled, $starBad wrong " +
      (if (starBad == 0 && starCovered == nChain) "PASS" else "FAIL"))
    failed ||= ccDiff != 0 || prDiff != 0 || vDiff != 0 || starBad != 0 || starCovered != nChain
    }

    import graft.operators.{Layout, SimilarityOps, TextOps}
    if (only("c")) {
    // ---- corpus C: postings-index probe vs full-scan BM25 at 200K docs ----
    val dirC = "/tmp/crossover/c"
    timed("gen corpus C (200K docs)")(genCorpusC(spark, dirC))
    val docsC = spark.read.parquet(dirC)
    Layout.pinBucketedReads(spark)
    val invName = "graft_xover_inv"
    Seq(invName, invName + "_stats").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Layout.clearStaleTableLocation(spark, t)
    }
    timed("C inverted-index build (one-time)") {
      TextOps.buildInvertedIndex(spark, invName, docsC)
    }
    // min-of-2 for both: the probe's advantage must survive warm caches
    def minOf2(label: String)(f: => Array[org.apache.spark.sql.Row]) = {
      var best: Array[org.apache.spark.sql.Row] = null
      var bt = Double.MaxValue
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime(); best = f
        bt = math.min(bt, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[xover] $label: $bt%.2f s (min of 2)")
      best
    }
    val probeRows = minOf2("C keyword probe (bucket-pruned postings)") {
      TextOps.keywordSearchIndex(spark, invName).collect()
    }
    val scanRows = minOf2("C keyword full-scan (tokenize whole corpus)") {
      fullScanKeyword(docsC).collect()
    }
    val kwSame = probeRows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      scanRows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
    println(s"[xover] C probe vs full-scan top-20 identity: " +
      (if (kwSame) "PASS" else "FAIL"))
    failed ||= !kwSame
    }

    if (only("v")) {
    // ---- 10× vectors: IVF×PQ nprobe recall scaling + decode identity ----
    val dirV = "/tmp/crossover/v"
    timed("gen vectors (100K × 64d)")(genVectors(spark, dirV))
    val vecs = spark.read.parquet(dirV)
    val pqName = "graft_xover_ivfpq"
    Seq(pqName, pqName + "_coarse", pqName + "_books").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Layout.clearStaleTableLocation(spark, t)
    }
    timed("V IVF×PQ build (one-time)") {
      SimilarityOps.buildIvfPqEpochFrom(spark, vecs, vecs)(pqName)
    }
    // query straddles two planted clusters (midpoint of vec 0 / vec 1's
    // cells) so the true top-10 spans multiple coarse cells and the
    // nprobe sweep traces a real recall curve instead of saturating at 1
    val qm = vecs.filter(col("vec_id").isin(0L, 1L))
      .orderBy(col("vec_id"))
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * 1000000d + 0.5d).cast("long")))
      .collect().map(_.getSeq[Long](0))
    val q0 = Array.tabulate(qm(0).length)(i => (qm(0)(i) + qm(1)(i)) / 2)
    val nCells = SimilarityOps.IvfPqCells
    val sweep = Seq(1, 2, 4, 8, nCells).map { np =>
      var rows: Array[org.apache.spark.sql.Row] = null
      var bt = Double.MaxValue
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        rows = SimilarityOps.probeIvfPqIndex(spark, pqName, q0,
          topk = 10, nProbe = np).collect()
        bt = math.min(bt, (System.nanoTime() - t0) / 1e9)
      }
      (np, rows, bt)
    }
    val fullRows = sweep.last._2
    val fullIds = fullRows.map(_.getLong(0)).toSet
    val recalls = sweep.map { case (np, rows, bt) =>
      val rec = rows.map(_.getLong(0)).count(fullIds) / 10.0
      println(f"[xover] V nprobe=$np%2d: recall@10 vs exhaustive-PQ $rec%.1f, $bt%.2f s (min of 2)")
      rec
    }
    // candidate sets grow with nprobe ⟹ recall vs the exhaustive-PQ
    // ranking is monotone (a true top-10 member found at nprobe stays
    // found at every larger nprobe); 1.0 at nprobe = ncells by definition
    val recallMono = recalls.zip(recalls.tail).forall { case (a, b) => a <= b }
    println(s"[xover] V recall monotone in nprobe: " +
      (if (recallMono && recalls.last == 1.0) "PASS" else "FAIL"))
    // decode identity: reconstruct centroid+book per component and
    // compute the L2 directly — shares no code with the ADC-table probe;
    // the integer sums must agree EXACTLY
    val bookMap = spark.table(pqName + "_books")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val bm = typedLit(bookMap)
    val qLit = typedLit(q0.toSeq)
    val sub = SimilarityOps.PqSubDim
    val dist = aggregate(sequence(lit(0), lit(q0.length - 1)), lit(0L),
      (acc, i) => {
        val code = element_at(col("codes"), (i / lit(sub)).cast("int") + 1).cast("long")
        val rec = element_at(col("cemb"), i + 1) + element_at(element_at(bm, code), i + 1)
        val d = element_at(qLit, i + 1) - rec
        acc + d * d
      })
    val decodeRows = spark.table(pqName).filter(col("vec_id") =!= 0)
      .join(spark.table(pqName + "_coarse"), "cell")
      .select(col("vec_id"), dist.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id")).limit(10)
      .collect()
    val decodeSame = decodeRows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      fullRows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    println(s"[xover] V exhaustive probe vs independent decode identity: " +
      (if (decodeSame) "PASS" else "FAIL"))
    failed ||= !recallMono || recalls.last != 1.0 || !decodeSame
    }

    if (only("e")) {
    // ---- 10× events: the watermark is LOAD-BEARING for stream ≡ batch ----
    // 1M synthetic events spanning 30 days, written via repartition(16)
    // so EVERY file spans the whole range — the worst-case replay order
    // a file-source restart produces. A disorder-covering watermark must
    // reproduce the batch aggregation EXACTLY; a 1-hour watermark over
    // the same shuffled replay must DROP late rows (the one way streamed
    // state legitimately diverges) — both directions asserted, so the
    // lifecycle keys' 90-day delay is demonstrated necessary, not
    // ceremonial.
    import graft.operators.EventOps
    import graft.streaming.EventStream
    val dirE = "/tmp/crossover/e"
    val dayMicros = 24L * 3600 * 1000000
    timed("gen events (1M over 30 days)") {
      spark.range(1000000L).select(
          timestamp_micros((lit(1704067200000000L) +
            pmod(col("id") * 2654435761L, lit(30L * dayMicros))).cast("long")).as("ts"),
          (pmod(col("id"), lit(1000L)).cast("double") / 100.0).as("value"))
        .repartition(16).write.mode("overwrite").parquet(dirE)
    }
    val ev = spark.read.parquet(dirE)
    val batchRows = EventOps.windowedAgg(ev)
      .orderBy(col("window_start")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSeq
    val batchTotal = batchRows.map(_._2).sum
    // each run streams its OWN copy of the input (sentinels are appended
    // to the run dir, never to the shared source)
    def streamedWindows(base: String, watermark: String): Seq[(java.sql.Timestamp, Long, Double)] = {
      val runDir = dirE + "_" + base.split("_").last
      spark.read.parquet(dirE).repartition(16)
        .write.mode("overwrite").parquet(runDir)
      Seq(base, base + "_ptr").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"); Layout.clearStaleTableLocation(spark, t)
      }
      val t = Layout.rotateEpoch(spark, base) { name =>
        EventOps.windowedAggPartial(ev.filter(lit(false)))
          .write.format("parquet").mode("overwrite").saveAsTable(name)
      }
      val run = spark.read.parquet(runDir)
      val maxTs = run.agg(max(col("ts"))).head().getTimestamp(0)
      val stream = EventStream.appendWindowPartialsStream(
        spark.readStream.schema(run.schema)
          .option("maxFilesPerTrigger", 2).parquet(runDir), base, watermark)
      try {
        stream.processAllAvailable()
        val s = spark; import s.implicits._
        // two separate drains: sentinel 2 gets its own real-data batch
        // (emission must not depend on the optional no-data batch)
        val s1 = new java.sql.Timestamp(maxTs.getTime + 100L * 24 * 3600 * 1000)
        Seq((s1, 0.0)).toDF("ts", "value")
          .coalesce(1).write.mode("append").parquet(runDir)
        stream.processAllAvailable()
        Seq((new java.sql.Timestamp(s1.getTime + 60000L), 0.0))
          .toDF("ts", "value").coalesce(1).write.mode("append").parquet(runDir)
        stream.processAllAvailable()
      } finally stream.stop()
      val out = spark.table(t)
        .groupBy(col("window_start"))
        .agg(sum(col("n_events")).as("n"), sum(col("value_dec")).as("vd"))
        .select(col("window_start"), col("n"), col("vd").cast("double"))
        .orderBy(col("window_start")).collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSeq
      spark.sql(s"DROP TABLE IF EXISTS $t")
      out
    }
    val covered = timed("E streamed, covering watermark (90 days)") {
      streamedWindows("graft_xover_evt_cov", "90 days")
    }
    val covSame = covered == batchRows
    println(s"[xover] E covering-watermark stream ≡ batch: " +
      (if (covSame) "PASS" else s"FAIL (${covered.size} vs ${batchRows.size} windows)"))
    val tight = timed("E streamed, 1-hour watermark over the same shuffled replay") {
      streamedWindows("graft_xover_evt_tight", "1 hour")
    }
    val tightTotal = tight.map(_._2).sum
    val dropped = batchTotal - tightTotal
    println(s"[xover] E tight-watermark drops late rows: $dropped of $batchTotal " +
      (if (dropped > 0) "PASS (divergence is real, which is why the delay must cover the disorder)" else "FAIL"))
    failed ||= !covSame || dropped <= 0
    }

    if (only("s")) {
    // ---- 10× sessions with a genuine bot: skew-safe path identity ----
    // 1M events where user 0 holds 200K (a bot 2500× the median user) —
    // the regime the segmented path exists for: WindowExec has no
    // partial aggregation and no AQE skew split, so the plain path
    // funnels the bot's whole history into ONE task. The segmented
    // path must produce IDENTICAL sessions (stitching across segment
    // boundaries is the part that can silently break).
    import graft.operators.EventOps
    val dirS = "/tmp/crossover/s"
    val dayMicros2 = 24L * 3600 * 1000000
    timed("gen sessions corpus (1M events, 200K-event bot)") {
      spark.range(1000000L).select(
          when(col("id") < 200000L, 0L)
            .otherwise(pmod(col("id"), lit(9999L)) + 1).as("user_id"),
          timestamp_micros((lit(1704067200000000L) +
            pmod(col("id") * 1103515245L, lit(7L * dayMicros2))).cast("long")).as("ts"),
          col("id").as("event_id"))
        .repartition(32).write.mode("overwrite").parquet(dirS)
    }
    val evS = spark.read.parquet(dirS)
    val gap = 30L * 60 * 1000000
    def sessionStats(sessioned: DataFrame): DataFrame =
      sessioned.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n"), min(col("ts")).as("t0"), max(col("ts")).as("t1"))
    var plainRows = 0L
    val tPlain = { val t0 = System.nanoTime()
      plainRows = sessionStats(EventOps.sessionize(
        evS, "user_id", "ts", Seq("event_id"), gap)).count()
      (System.nanoTime() - t0) / 1e9 }
    var safeRows = 0L
    val tSafe = { val t0 = System.nanoTime()
      safeRows = sessionStats(EventOps.sessionizeSkewSafe(
        evS, "user_id", "ts", Seq("event_id"), gap,
        heavyThreshold = 10000L, segmentMicros = 6L * 3600 * 1000000)).count()
      (System.nanoTime() - t0) / 1e9 }
    println(f"[xover] S plain window: $plainRows sessions in $tPlain%.1f s; " +
      f"segmented skew-safe: $safeRows sessions in $tSafe%.1f s")
    val sDiff = {
      val a = sessionStats(EventOps.sessionize(
        evS, "user_id", "ts", Seq("event_id"), gap)).localCheckpoint()
      val b = sessionStats(EventOps.sessionizeSkewSafe(
        evS, "user_id", "ts", Seq("event_id"), gap,
        heavyThreshold = 10000L, segmentMicros = 6L * 3600 * 1000000)).localCheckpoint()
      a.exceptAll(b).count() + b.exceptAll(a).count()
    }
    println(s"[xover] S segmented ≡ plain session stats: diff rows = $sDiff " +
      (if (sDiff == 0) "PASS" else "FAIL"))
    failed ||= sDiff != 0
    }

    // ---- section U: unigram tier flip at 4 orders above the corpus ----
    // The trainer's tier gate (2M word types) owns a distributed
    // fallback; the repo rule is that every adaptive gate's flipped
    // path is EXECUTED at a realistic scale, not only spec-forced on a
    // 300-type fixture. ~290K synthetic types (the testdata corpus has
    // 31): md5-prefix words of length 4-12 over [0-9a-f], freqs 1-7.
    if (only("u")) {
      import graft.operators.TextOps
      val types = timed("gen unigram types (~290K)") {
        spark.range(300000L)
          .select(substring(md5(col("id").cast("string")), lit(1),
              (pmod(col("id"), lit(9L)) + 4).cast("int")).as("w"),
            (pmod(col("id"), lit(7L)) + 1L).as("freq"))
          .groupBy(col("w")).agg(sum(col("freq")).as("freq"))
          .localCheckpoint() // bench tool, single-host: both tiers read it
      }
      val nTypes = types.count()
      var localModel: Seq[(String, Long, Long)] = Nil
      val tLocal = { val t0 = System.nanoTime()
        localModel = TextOps.unigramTrainLocal(types.collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq)
        (System.nanoTime() - t0) / 1e9 }
      var distModel: Seq[(String, Long, Long)] = Nil
      val tDist = { val t0 = System.nanoTime()
        distModel = TextOps.unigramTrainDistributed(types)
        (System.nanoTime() - t0) / 1e9 }
      println(f"[xover] U unigram tiers at $nTypes types: driver EM $tLocal%.1f s, " +
        f"distributed E-step $tDist%.1f s, model ${localModel.size} pieces")
      val uOk = localModel == distModel
      println(s"[xover] U tier-1 ≡ tier-2 trained model: " +
        (if (uOk) "PASS" else
          s"FAIL\n  local=${localModel.take(5)}\n  dist=${distModel.take(5)}"))
      failed ||= !uOk
    }

    // ---- section W: WordPiece tier flip at 4 orders above the corpus ----
    // Same rule as section U for the third tokenizer family: the
    // distributed one-merge-per-round tier (score-ordered picks can't
    // batch — see the TextOps section scaladoc) must be EXECUTED at a
    // realistic flipped scale and train the identical schedule as the
    // driver delta-trainer. 12 merges suffice for the equality proof;
    // the per-round cost, not the merge depth, is the scale question.
    if (only("w")) {
      import graft.operators.TextOps
      val types = timed("gen wordpiece types (~290K)") {
        spark.range(300000L)
          .select(substring(md5(col("id").cast("string")), lit(1),
              (pmod(col("id"), lit(9L)) + 4).cast("int")).as("w"),
            (pmod(col("id"), lit(7L)) + 1L).as("freq"))
          .groupBy(col("w")).agg(sum(col("freq")).as("freq"))
          .localCheckpoint() // bench tool, single-host: both tiers read it
      }
      val nTypes = types.count()
      val wpIters = 12
      var localSched: Seq[TextOps.WpPick] = Nil
      val tLocal = { val t0 = System.nanoTime()
        localSched = TextOps.wpTrainLocal(types.collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq, wpIters)
        (System.nanoTime() - t0) / 1e9 }
      var distSched: Seq[TextOps.WpPick] = Nil
      val tDist = { val t0 = System.nanoTime()
        distSched = TextOps.wpTrainDistributed(types, wpIters)
        (System.nanoTime() - t0) / 1e9 }
      println(f"[xover] W wordpiece tiers at $nTypes types, $wpIters merges: " +
        f"driver deltas $tLocal%.1f s, distributed rounds $tDist%.1f s")
      val wOk = localSched == distSched
      println(s"[xover] W tier-1 ≡ tier-2 merge schedule: " +
        (if (wOk) "PASS" else
          s"FAIL\n  local=${localSched.take(4)}\n  dist=${distSched.take(4)}"))
      failed ||= !wOk
    }

    // ---- section K: skyline bucketed decomposition at 1M points ----
    // The two-phase bucketed frontier (RelOps.skylineOver) must equal
    // the textbook single-partition global-window plan on a corpus
    // whose frontier is LARGE: for a min-cents/MAX-d objective the
    // hard case is a POSITIVE price↔date tradeoff curve (paying more
    // buys a later date) plus noise — thousands of running-record
    // points contend — with planted duplicate (cents, d) pairs and
    // same-cents ties, the edge classes the dominance decomposition
    // has to get exactly right.
    if (only("k")) {
      import graft.operators.RelOps
      val pts = timed("gen skyline corpus (1M tradeoff-curve points)") {
        spark.range(1000000L).select(
          col("id").as("pid"),
          // cents uniform in [0, 1e6); duplicates planted by id % 999983
          pmod(conv(substring(md5(pmod(col("id"), lit(999983L)).cast("string")),
            1, 8), 16, 10).cast("long"), lit(1000000L)).as("cents"))
          .withColumn("d",
            col("cents") +
              pmod(conv(substring(md5(concat(col("pid").cast("string"), lit("|d"))),
                1, 8), 16, 10).cast("long"), lit(10000L)) - 5000L)
          .localCheckpoint() // bench tool, single-host: both plans read it
      }
      var bucketed: DataFrame = null
      val tBucketed = { val t0 = System.nanoTime()
        // localCheckpoint like the global side: both timings include one
        // full materialization, and the diff check below reuses it
        bucketed = RelOps.skylineOver(pts).localCheckpoint()
        println(s"[xover] K bucketed frontier: ${bucketed.count()} points")
        (System.nanoTime() - t0) / 1e9 }
      // textbook reference: ONE global range-frame window (the plan the
      // operator exists to avoid — here it is the independent oracle)
      val gPrev = org.apache.spark.sql.expressions.Window.orderBy(col("cents"))
        .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val gCents = org.apache.spark.sql.expressions.Window.partitionBy(col("cents"))
      var global: DataFrame = null
      val tGlobal = { val t0 = System.nanoTime()
        global = pts
          .withColumn("prev_d", max(col("d")).over(gPrev))
          .withColumn("cents_max_d", max(col("d")).over(gCents))
          .filter((col("prev_d").isNull || col("d") > col("prev_d")) &&
            col("d") === col("cents_max_d"))
          .select(col("pid"), col("cents"), col("d"))
          .localCheckpoint()
        (System.nanoTime() - t0) / 1e9 }
      println(f"[xover] K skyline at 1M points: bucketed $tBucketed%.1f s, " +
        f"global-window reference $tGlobal%.1f s")
      val kDiff = bucketed.unionAll(global)
        .groupBy(col("pid"), col("cents"), col("d"))
        .agg(count(lit(1)).as("n")).filter(col("n") =!= 2).count()
      println(s"[xover] K bucketed ≡ global-window frontier: diff rows = $kDiff " +
        (if (kDiff == 0) "PASS" else "FAIL"))
      failed ||= kDiff != 0
    }

    // ---- section P: compaction class-decomposed sum at 1M files ----
    // The bounded bit-length-class decomposition
    // (GovernanceOps.compactionBins: per-class PARTITIONED windows + a
    // ≤64-row driver prefix) must equal the textbook single-partition
    // global-window running sum on an inventory at metadata scale: 1M
    // files spanning ~18 size classes with heavy planted byte-size
    // ties — the regime where a class boundary slicing a tie group or
    // an off-by-one in the class prefix would corrupt bins wholesale.
    if (only("p")) {
      import graft.operators.GovernanceOps
      val target = 268435456L // 256 MiB
      val inv = timed("gen inventory (1M files, 18 size classes, planted ties)") {
        spark.range(1000000L).select(
          concat(lit("t"), pmod(col("id"), lit(64L))).as("event_type"),
          date_add(lit("2024-01-01").cast("date"),
            (col("id") / 64L).cast("int")).as("day"), // unique (type, day) keys
          // mantissa from a SMALL space (1..1000, ties guaranteed) shifted
          // into an md5-derived bit class 0..17 (SQL shiftleft accepts a
          // column shift; the Scala function wrapper is Int-only)
          expr("""shiftleft(
            pmod(conv(substring(md5(concat(cast(id AS string), '|m')), 1, 8),
              16, 10), 1000) + 1,
            cast(pmod(conv(substring(md5(concat(cast(id AS string), '|e')), 1, 6),
              16, 10), 18) AS int))""").cast("long").as("bytes"))
          .localCheckpoint() // bench tool, single host: both plans read it
      }
      var classed: DataFrame = null
      val tClassed = { val t0 = System.nanoTime()
        classed = GovernanceOps.compactionBins(inv, target).localCheckpoint()
        println(s"[xover] P class-decomposed plan: ${classed.count()} files, " +
          s"${classed.select(col("bin")).distinct().count()} bins")
        (System.nanoTime() - t0) / 1e9 }
      // textbook reference: ONE global running-sum window (the plan the
      // gated key refuses — here it is the independent oracle)
      val gw = org.apache.spark.sql.expressions.Window
        .orderBy(col("bytes").desc, col("event_type"), col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      var global: DataFrame = null
      val tGlobal = { val t0 = System.nanoTime()
        global = inv
          .withColumn("cum_before", coalesce(sum(col("bytes")).over(gw), lit(0L)))
          .select(col("event_type"), col("day"), col("bytes"), col("cum_before"),
            expr(s"cum_before div $target").as("bin"))
          .localCheckpoint()
        global.count()
        (System.nanoTime() - t0) / 1e9 }
      println(f"[xover] P compaction at 1M files: class-decomposed $tClassed%.1f s, " +
        f"global-window reference $tGlobal%.1f s")
      val pDiff = classed.unionAll(global)
        .groupBy(col("event_type"), col("day"), col("bytes"),
          col("cum_before"), col("bin"))
        .agg(count(lit(1)).as("n")).filter(col("n") =!= 2).count()
      println(s"[xover] P class-decomposed ≡ global-window bins: diff rows = $pDiff " +
        (if (pDiff == 0) "PASS" else "FAIL"))
      failed ||= pDiff != 0
    }

    // ---- section H: graph-ANN build gate + beam search at 100K ----
    // Two claims executed at natural scale: (1) the within-cell kNN
    // build crosses the HnswSubBucketGate (cells of ~6250 ≫ 512, so
    // candidates come from the (cell × sign-LSH) intersection — the
    // sf-scale spec corpora never fire this branch), and (2) on
    // CLUSTERED vectors (the production regime; the sf embeddings are
    // near-orthogonal noise, documented as the adversarial case needing
    // ef=128) a MODEST beam reaches the gated recall floor while
    // visiting a tiny fraction of the corpus — the sublinearity the
    // graph index exists for.
    if (only("h")) {
      import graft.operators.{Layout, SimilarityOps}
      val dirV = "/tmp/crossover/v"
      timed("gen vectors (100K × 64d, 64 planted clusters)")(
        genVectors(spark, dirV))
      val vecs = spark.read.parquet(dirV)
      val hName = "graft_xover_hnsw"
      (hName +: SimilarityOps.HnswSidecars.map(hName + _)).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        Layout.clearStaleTableLocation(spark, t)
      }
      timed("H graph build (100K, sub-bucketed kNN)") {
        SimilarityOps.buildHnswEpochFrom(spark, vecs)(hName)
      }
      // the gate actually fired: no node's kNN pool was its whole
      // ~6250-member cell, so out-degree stays at the bounded contract
      val maxDeg = spark.table(hName).groupBy(col("src")).count()
        .agg(max(col("count"))).head().getLong(0)
      val degBound = SimilarityOps.HnswMaxDegreeBound
      println(s"[xover] H max out-degree $maxDeg (bound $degBound): " +
        (if (maxDeg <= degBound) "PASS" else "FAIL"))
      val qEmb = vecs.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val exact = vecs.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          SimilarityOps.cosine(col("embedding"), typedLit(qEmb)).as("s"))
        .orderBy(col("s").desc, col("vec_id")).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val exactIds = exact.map(_._1).toSet
      val exact10th = exact.map(_._2).min
      // ε-RECALL is the honest gate on THIS corpus: the planted
      // clusters put >3000 members within 0.002 cosine of each other
      // (ten of them EXACTLY equal to the query), so exact-SET recall
      // is tie-break noise — the ann-benchmarks convention scores a
      // result correct when its similarity is within ε of the true
      // k-th (here ε = 0.01, five times the within-cluster spread)
      var eps32 = 0.0; var visited32 = 0
      for (ef <- Seq(16, 32, 64)) {
        var ids: Seq[Long] = null; var scores: Seq[Double] = null
        var vis = 0; var bt = Double.MaxValue
        (1 to 2).foreach { _ =>
          val t0 = System.nanoTime()
          val (beam, v) = SimilarityOps.hnswBeamSearch(spark, hName, qEmb,
            ef, SimilarityOps.HnswMaxHops)
          val top = beam.filter(_._1 != 0L).take(10)
          ids = top.map(_._1); scores = top.map(_._2); vis = v
          bt = math.min(bt, (System.nanoTime() - t0) / 1e9)
        }
        val setRec = ids.count(exactIds) / 10.0
        val epsRec = scores.count(_ >= exact10th - 0.01) / 10.0
        if (ef == 32) { eps32 = epsRec; visited32 = vis }
        println(f"[xover] H ef=$ef%3d: ε-recall@10 $epsRec%.1f (set-recall $setRec%.1f), visited $vis of 100000, $bt%.2f s (min of 2)")
      }
      // clustered-regime claims: the beam navigates from a random
      // entry into the query's cluster at MODEST ef (vs the ef=128 the
      // near-orthogonal sf corpus needs) while visiting <5% of the
      // corpus — bounded probe, sublinear by two orders
      val hPass = eps32 >= 0.9 && visited32 < 5000
      println(s"[xover] H ef=32 ε-recall ≥ 0.9 and visited < 5%: " +
        (if (hPass) "PASS" else "FAIL"))
      failed ||= maxDeg > degBound || !hPass
      (hName +: SimilarityOps.HnswSidecars.map(hName + _))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }

    // ---- section Q: batched vs per-query graph probe at 100K ----
    // The q_hnsw_batch crossover claim EXECUTED at natural scale: for
    // the same 8 queries over the same 100K-vector clustered graph,
    // the frame-keyed batched sweep (one adjacency join + one vecs
    // join per hop for ALL queries) must reach the same ε-recall as 8
    // independent serving-loop probes — result-quality parity is the
    // gate; the printed timings are the amortization evidence (the
    // serving loop pays hops·2 driver round-trips PER QUERY, the
    // batch pays them ONCE for the whole panel).
    if (only("q")) {
      import graft.operators.{Layout, SimilarityOps}
      val dirV = "/tmp/crossover/v"
      timed("gen vectors (100K × 64d, 64 planted clusters)")(
        genVectors(spark, dirV))
      val vecs = spark.read.parquet(dirV)
      val hName = "graft_xover_hnswq"
      (hName +: SimilarityOps.HnswSidecars.map(hName + _)).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        Layout.clearStaleTableLocation(spark, t)
      }
      timed("Q graph build (100K)") {
        SimilarityOps.buildHnswEpochFrom(spark, vecs)(hName)
      }
      val nQ = SimilarityOps.HnswBatchQueries
      val ef = 32
      val qEmbs = vecs.filter(col("vec_id") < nQ)
        .orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      // exact ε thresholds per query (ann-benchmarks convention, the
      // section-H discipline: clustered ties make set-recall noise)
      val exact10thOf = (0L until nQ.toLong).map { q =>
        val tenth = vecs.filter(col("vec_id") =!= q)
          .select(SimilarityOps.cosine(col("embedding"),
            typedLit(qEmbs(q))).as("s"))
          .orderBy(col("s").desc).limit(10)
          .collect().map(_.getDouble(0)).min
        q -> tenth
      }.toMap
      // serving loop: 8 independent beam searches (min of 2 passes)
      var serveScores: Map[Long, Seq[Double]] = null
      var tServe = Double.MaxValue
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        serveScores = (0L until nQ.toLong).map { q =>
          val (beam, _) = SimilarityOps.hnswBeamSearch(spark, hName,
            qEmbs(q), ef, SimilarityOps.HnswMaxHops)
          q -> beam.filter(_._1 != q).take(10).map(_._2)
        }.toMap
        tServe = math.min(tServe, (System.nanoTime() - t0) / 1e9)
      }
      // batched sweep: ONE frame-keyed search for the whole panel
      val queries = vecs.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      var batchScores: Map[Long, Seq[Double]] = null
      var tBatch = Double.MaxValue
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        val beams = SimilarityOps.hnswBeamSearchBatch(spark, hName,
          queries, ef, SimilarityOps.HnswMaxHops)
        batchScores = beams.filter(col("vec_id") =!= col("query_id"))
          .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
            q -> rs.map(r => (r.getDouble(2), r.getLong(1)))
              .sortBy { case (s, id) => (-s, id) }.take(10).map(_._1).toSeq
          }
        tBatch = math.min(tBatch, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[xover] Q probe of $nQ queries at ef=$ef: batched sweep " +
        f"$tBatch%.2f s vs serving loop $tServe%.2f s (min of 2 each)")
      val eps = 0.01
      var qPass = true
      (0L until nQ.toLong).foreach { q =>
        val th = exact10thOf(q) - eps
        val sRec = serveScores(q).count(_ >= th) / 10.0
        val bRec = batchScores.getOrElse(q, Seq.empty).count(_ >= th) / 10.0
        val ok = bRec >= 0.9 && sRec >= 0.9
        if (!ok) qPass = false
        println(f"[xover] Q query $q: ε-recall batched $bRec%.1f / serving $sRec%.1f" +
          (if (ok) "" else " FAIL"))
      }
      println(s"[xover] Q batched ≡ serving result quality (every query ≥ 0.9): " +
        (if (qPass) "PASS" else "FAIL"))
      failed ||= !qPass
      (hName +: SimilarityOps.HnswSidecars.map(hName + _))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }

    // ---- section Z: zone-map DPP prune at a 100K-file inventory ----
    // The r14 verdict's one standing scale-killer EXECUTED at lakehouse
    // metadata scale: a REAL partitioned table of 100,489 physical
    // files (317×317 clustered grid over (k, d), 100 rows each — the
    // model of an ~12 TB table at 128 MiB files) with its file-grain
    // `_zmap` sidecar, served through the UNCHANGED
    // GovernanceOps.zonemapServe semi-join/DPP path. Claims executed,
    // not argued: (1) the skip decision is metadata-only and stays on
    // the cluster — no per-file driver state; (2) the plan is
    // O(1)-sized (dynamicpruningexpression, no literal), vs the
    // retired literal-isin plan whose size grows with the survivor
    // count; (3) the DPP'd scan LISTS only the surviving partitions
    // (numPartitions metric == files_scanned ≈ 3% of the inventory);
    // (4) the served aggregate equals the full-scan rule-off control.
    if (only("z")) {
      import graft.operators.{GovernanceOps, Layout}
      val zName = "graft_xover_zmap"
      val zLoc = "/dev/shm/graft-xover-zmap"
      Seq(zName, zName + GovernanceOps.ZmapSuffix).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        Layout.clearStaleTableLocation(spark, t)
      }
      org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(zLoc), true)
      val grid = 317
      val rowsPerFile = 100L
      val nFiles = grid.toLong * grid // 100,489
      timed(s"Z gen + write inventory ($nFiles files × $rowsPerFile rows)") {
        val rows = spark.range(nFiles * rowsPerFile).select(
          (col("id") / rowsPerFile).cast("long").as("file_id"),
          col("id"))
          .select(
            // file (i, j) on the grid: k clustered by i, d by j — every
            // file's extents are tight on BOTH dimensions, the layout a
            // Z-order OPTIMIZE produces
            ((col("file_id") / grid).cast("long") * 100
              + pmod(col("id"), lit(rowsPerFile))).as("k"),
            date_add(lit("2020-01-01").cast("date"),
              pmod(col("file_id"), lit(grid.toLong)).cast("int")).as("d"),
            concat(lit("P"), pmod(col("id"), lit(5L))).as("prio"),
            pmod(col("id") * 37L, lit(100000L)).as("cents"),
            col("file_id"))
        rows.repartition(256, col("file_id"))
          .write.format("parquet").partitionBy("file_id")
          .option("path", s"$zLoc/data").mode("overwrite").saveAsTable(zName)
        GovernanceOps.zmapOf(spark.table(zName))
          .write.format("parquet").option("path", s"$zLoc/zmap")
          .mode("overwrite").saveAsTable(zName + GovernanceOps.ZmapSuffix)
      }
      // the serve: decision + DPP'd scan, min of 2 (cold listing first)
      var served: org.apache.spark.sql.DataFrame = null
      var scanned = 0L; var total = 0L
      var zGot: Array[org.apache.spark.sql.Row] = null
      var tServe = Double.MaxValue
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        val (s, sc, tot, _) = GovernanceOps.zonemapServe(spark, zName)
        val sorted = s.orderBy(col("prio"))
        zGot = sorted.collect()
        tServe = math.min(tServe, (System.nanoTime() - t0) / 1e9)
        served = sorted; scanned = sc; total = tot // inspect the EXECUTED plan
      }
      println(f"[xover] Z serve (decision + DPP scan) $tServe%.2f s — " +
        f"scanned $scanned of $total files (${100.0 * scanned / total}%.1f%%)")
      // claim 3: the scan listed ONLY the survivors
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(allScans)
      }
      val factScan = allScans(served.queryExecution.executedPlan)
        .filter(_.tableIdentifier.exists(_.table == zName))
      val listed = factScan.flatMap(_.metrics.get("numPartitions")).map(_.value)
      val semiPlan = served.queryExecution.executedPlan.toString
      val dppOk = semiPlan.contains("dynamicpruning") &&
        factScan.nonEmpty && listed.forall(_ == scanned)
      println(s"[xover] Z DPP listed partitions $listed == files_scanned " +
        s"$scanned, dynamicpruningexpression in plan: " +
        (if (dppOk) "PASS" else s"FAIL\n$semiPlan"))
      // claim 2: plan is O(1)-sized vs the retired literal-isin path
      // (same survivors, same residual — the pre-r15 serve shape)
      val a = spark.table(zName + GovernanceOps.ZmapSuffix)
        .agg(min(col("k_min")), max(col("k_max")),
          min(col("d_min")), max(col("d_max"))).head()
      val (kLo, kHi, dLo, dHi) = GovernanceOps.boxOf(
        a.getLong(0), a.getLong(1), a.getDate(2), a.getDate(3))
      val hitIds = spark.table(zName + GovernanceOps.ZmapSuffix)
        .filter(GovernanceOps.zmapOverlaps(kLo, kHi, dLo, dHi))
        .select(col("file_id")).collect().map(_.getLong(0)).toSeq
      val t1 = System.nanoTime()
      val literal = spark.table(zName)
        .filter(col("file_id").isin(hitIds: _*))
        .filter(col("k").between(kLo, kHi) &&
          col("d").between(lit(dLo), lit(dHi)))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
      val litGot = literal.orderBy(col("prio")).collect()
      val tLiteral = (System.nanoTime() - t1) / 1e9
      // plan-size proof robust to toString truncation: count the
      // LITERAL nodes each optimized plan embeds — the literal twin
      // carries every survivor id in the plan tree, the semi-join
      // carries a constant handful
      // embedded-constant census: plain Literals plus the value sets an
      // `isin` compiles into (In's list under 10 values, InSet's hash
      // set above — the form a 3160-id driver predicate actually takes)
      def literalCount(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.optimizedPlan.collect { case n =>
          n.expressions.map(_.collect {
            case _: org.apache.spark.sql.catalyst.expressions.Literal => 1L
            case i: org.apache.spark.sql.catalyst.expressions.In =>
              i.list.size.toLong
            case s: org.apache.spark.sql.catalyst.expressions.InSet =>
              s.hset.size.toLong
          }.sum).sum
        }.sum
      val litN = literalCount(literal)
      val semiN = literalCount(served)
      println(f"[xover] Z literal-isin twin (${hitIds.length} ids in the " +
        f"driver + plan): $tLiteral%.2f s, $litN plan literals vs " +
        f"$semiN in the semi-join plan")
      // claim 4: served ≡ full-scan rule-off control (and ≡ literal twin)
      val t2 = System.nanoTime()
      val full = spark.table(zName)
        .filter(col("k").between(kLo, kHi) &&
          col("d").between(lit(dLo), lit(dHi)))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
        .orderBy(col("prio")).collect()
      val tFull = (System.nanoTime() - t2) / 1e9
      val zEq = zGot.toSeq == full.toSeq && zGot.toSeq == litGot.toSeq
      println(f"[xover] Z full-scan control $tFull%.2f s; served ≡ control " +
        s"≡ literal twin: " + (if (zEq) "PASS" else "FAIL"))
      val zPruned = scanned.toDouble / total < 0.05 // grid box ≈ 3.1%
      println(s"[xover] Z pruning ratio < 5%: " +
        (if (zPruned) "PASS" else s"FAIL ($scanned/$total)"))
      failed ||= !(dppOk && zEq && zPruned)
      Seq(zName, zName + GovernanceOps.ZmapSuffix)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(zLoc), true)
    }

    // ---- section B: bloom membership decision at a 100K-file inventory ----
    // The r15 bloom family's 100 TB posture, executed: the per-file
    // Bloom sidecar of a 100,489-file / 10M-key inventory (the §Z
    // table model) built in ONE distributed explode + BIT_OR pass, and
    // the point-lookup membership decision run against it metadata-
    // only. Physical-file pruning at this inventory is §Z's proven
    // ground (the scan side is the same semi-join/DPP shape); what is
    // new at scale here is the DECISION: (1) sidecar cardinality is
    // files × ≤128 words — metadata, not data; (2) the k-bit check is
    // a distributed join of a 6·k-row probe frame against it, with the
    // only driver materialization the surviving-file count; (3) zero
    // false negatives — every planted key's true file survives; (4)
    // the false-positive footprint stays ≪ the inventory (the zone map
    // is BLIND for this predicate: a scattered key column gives every
    // file full-span extents, so its overlap rule prunes nothing —
    // measured as the control).
    if (only("b")) {
      import graft.operators.GovernanceOps
      val nFiles = 100489L
      val rowsPerFile = 100L
      val nKeys = nFiles * rowsPerFile
      // scattered assignment: key i lands in file (i*37 mod nFiles) —
      // the layout a Z-order on OTHER columns produces for this key
      val assign = spark.range(nKeys).select(
        col("id").as("o_orderkey"),
        pmod(col("id") * 37L, lit(nFiles)).as("file_id"))
      val bName = "graft_xover_bloom"
      spark.sql(s"DROP TABLE IF EXISTS $bName")
      graft.operators.Layout.clearStaleTableLocation(spark, bName)
      val tBuild = timed(s"B bloom sidecar build ($nFiles files × $rowsPerFile keys)") {
        GovernanceOps.bloomSidecarOf(assign)
          .write.format("parquet").mode("overwrite").saveAsTable(bName)
      }
      val sidecarRows = spark.table(bName).count()
      val maxWords = spark.table(bName).groupBy("file_id").count()
        .agg(max("count")).head().getLong(0)
      val metaOk = sidecarRows <= nFiles * (GovernanceOps.BloomBits / 64) &&
        maxWords <= GovernanceOps.BloomBits / 64
      println(s"[xover] B sidecar $sidecarRows rows (≤ files×128), " +
        s"max $maxWords words/file: " + (if (metaOk) "PASS" else "FAIL"))
      // the decision: 5 planted keys + 1 absent, k-bit check
      val keys = Seq(7L, 12345L, 999999L, 5000000L, nKeys - 3) :+ (nKeys + 17)
      import spark.implicits._
      val kdf = keys.toDF("key")
        .select(col("key"),
          explode(GovernanceOps.bloomPositions(col("key"))).as("pos"))
        .select(col("key"), (col("pos") / 64).cast("int").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
      var cand: Array[(Long, Long)] = null
      var tProbe = Double.MaxValue
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        cand = kdf.join(spark.table(bName), Seq("word"))
          .filter((col("bits").bitwiseAND(col("mask"))) === col("mask"))
          .groupBy(col("key"), col("file_id"))
          .agg(count(lit(1)).as("hits"))
          .filter(col("hits") === GovernanceOps.BloomHashes)
          .select(col("key"), col("file_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        tProbe = math.min(tProbe, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[xover] B membership decision over $sidecarRows%,d sidecar " +
        f"rows: $tProbe%.2f s, ${cand.length} surviving (key,file) pairs")
      // zero false negatives: each present key's true file survives
      val fnOk = keys.dropRight(1).forall { k =>
        cand.contains((k, (k * 37L) % nFiles))
      }
      println(s"[xover] B zero false negatives (5/5 true files survive): " +
        (if (fnOk) "PASS" else "FAIL"))
      // FP footprint ≪ inventory (m=8192,k=4 at 100 keys/file → ~0):
      // allow ≤ 64 total survivors of 6×100,489 possible
      val fpOk = cand.length <= 64
      println(s"[xover] B false-positive footprint ≤ 64 of ${6 * nFiles}: " +
        (if (fpOk) "PASS" else s"FAIL (${cand.length})"))
      // control: the zone map is blind here — the scattered assignment
      // gives every file a near-domain-spanning key extent, so a
      // mid-domain point probe overlaps ~every file's [min,max]
      val ext = assign.groupBy("file_id")
        .agg(min("o_orderkey").as("k_min"), max("o_orderkey").as("k_max"))
      val mid = keys(3) // 5,000,000 — inside every file's stride span
      val blind = ext.filter(col("k_min") <= mid && col("k_max") >= mid).count()
      println(f"[xover] B zone-map control: $blind of $nFiles files " +
        f"overlap a mid-domain point probe (${100.0 * blind / nFiles}%.1f%% — " +
        "extents are blind; membership is the only pruner): " +
        (if (blind > nFiles / 2) "PASS" else "UNEXPECTED-TIGHT"))
      failed ||= !(metaOk && fnOk && fpOk)
      spark.sql(s"DROP TABLE IF EXISTS $bName")
      val _ = tBuild
    }

    spark.stop()
    if (failed) sys.exit(1)
  }
}
