package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

class TextOpsSpec extends SparkSpec {

  test("tokens: lowercase ASCII split, empties removed") {
    val s = spark; import s.implicits._
    val got = Seq("Hello, World! 42", "", "  ", "a-b_c").toDF("t")
      .select(TextOps.tokens(col("t")).as("tok"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(got(0) === Seq("hello", "world", "42"))
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq.empty)
    assert(got(3) === Seq("a", "b", "c"))
  }

  test("qualityScore ratios are bounded and rows preserved") {
    val q = TextOps.qualityScore(spark, sf)
    assert(q.count() === Tables.documents(spark, sf).count())
    val bad = q.filter(
      col("stopword_ratio") < 0 || col("stopword_ratio") > 1 ||
      col("punct_ratio") < 0 || col("punct_ratio") > 1 ||
      col("mean_token_len") < 0).count()
    assert(bad === 0)
  }

  test("docFingerprint: whitespace-insensitive, case-insensitive") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "different")).toDF("doc_id", "text")
    df.createOrReplaceTempView("fp_docs")
    val fp = df.select(col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("RollingHash: known polynomial values, empty → 0") {
    val s = spark; import s.implicits._
    val got = Seq("a", "ab", "").toDF("t")
      .select(graft.functions.RollingHash(col("t")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    // 'a'=97; "ab" = 97*31 + 98 = 3105
    assert(got === Seq(97L, 3105L, 0L))
  }

  test("RollingHash codegen equals interpreted") {
    val s = spark; import s.implicits._
    val df = (0 until 300).map(i => s"doc text $i " * (i % 7)).toDF("t")
    val expr = graft.functions.RollingHash(col("t")).as("h")
    val codegen = df.select(expr).collect().map(_.getLong(0)).toSeq
    val interpreted = df.collect().map(r =>
      graft.functions.RollingHash.hashBytes(
        r.getString(0).getBytes("UTF-8"), 31, 1000000007L)).toSeq
    assert(codegen === interpreted)
  }

  test("BPE-ish pre-tokenizer counts known strings") {
    val s = spark; import s.implicits._
    val got = Seq(
      "it's fine",        // [it]['s][ fine] = 3
      "abc 123 x!!",      // [abc][ 123][ x][!!] = 4
      "",                 // 0
    ).toDF("text").withColumn("doc_id", monotonically_increasing_id())
      .select(size(regexp_extract_all(col("text"), lit(TextOps.bpePattern), lit(0))))
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(3, 4, 0))
  }

  test("langNgram scores trigram profiles, und on no hits") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-langngram").toString
    try {
      Seq(
        (1L, "the thing and the rest"),    // en trigrams dominate
        (2L, "zzz qqq xxx"),               // no profile hits → und
      ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val got = TextOps.langNgram(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      // en hits: "the" twice, "and" and "ing" once each
      assert(got === Seq((1L, "en", 4L), (2L, "und", 0L)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("langId predicts a language (or und) for every doc") {
    val l = TextOps.langId(spark, sf)
    assert(l.count() === Tables.documents(spark, sf).count())
    val langs = l.select("predicted_lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "fr", "es", "de", "zh", "und")))
  }

  test("winnowFingerprint: shared 8-token runs share a fingerprint; density and order hold") {
    val s = spark; import s.implicits._
    import graft.functions.{RollingWindowHashes, WinnowedFingerprints}
    // t = w + k - 1 = 8: the SIGMOD'03 guarantee says two docs sharing
    // a run of >= 8 tokens must share at least one SELECTED fingerprint,
    // regardless of the differing context around the run
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two three $shared four five six seven"),
      (2L, s"nine eight $shared eleven twelve")).toDF("doc_id", "text")
    def fps(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), explode(WinnowedFingerprints(
        RollingWindowHashes(TextOps.tokens(col("text")), TextOps.WinnowK),
        TextOps.WinnowW)).as("sel"))
      .select(col("doc_id"), col("sel.fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fps(docs).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty,
      "guaranteed shared fingerprint missing for an 8-token shared run")

    // the real operator at sf: rows exist, j strictly increases per doc,
    // and selection is a subset (density <= 1) of the window hashes
    val out = TextOps.winnowFingerprint(spark, sf)
    val counts = out.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_fp"),
      (count(lit(1)) === countDistinct(col("j"))).as("j_distinct")).collect()
    assert(counts.nonEmpty)
    assert(counts.forall(_.getBoolean(2)), "duplicate selected positions")
    val win = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(RollingWindowHashes(TextOps.tokens(col("text")), TextOps.WinnowK))
          .as("m"))
      .filter(col("m") > 0)
    val joined = out.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      .join(win, "doc_id")
    assert(joined.filter(col("n_fp") > col("m")).count() === 0)
  }

  test("winnowOverlap: copied runs pair up; boilerplate over the fp-docs cap is dropped") {
    val s = spark; import s.implicits._
    // 16-token shared run → 12 window hashes → ≥2 selected fingerprints
    // 16-token shared run contains two disjoint 8-token runs → the
    // SIGMOD'03 guarantee yields ≥2 distinct shared fingerprints, so
    // the pair survives the n_shared >= 2 noise filter
    val run = (1 to 16).map(i => s"shared$i").mkString(" ")
    // 40 IDENTICAL docs: every one of their fingerprints lands in 40
    // docs > MaxWinnowFpDocs, so ALL drop as boilerplate and NO pair
    // among them is reported (deterministically — exact duplicates are
    // q_doc_dedup's job, not the overlap detector's)
    val boiler = (1 to 20).map(i => s"boiler$i").mkString(" ")
    val docs = (Seq(
      (1L, s"unique alpha prose first $run tail one"),
      (2L, s"second body other words $run closing remarks")) ++
      (10L to 49L).map(i => (i, boiler)))
      .toDF("doc_id", "text")
    val out = TextOps.winnowOverlapOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.exists { case (a, b, sh, ov) =>
      a == 1L && b == 2L && sh >= 2L && ov > 0.0 && ov <= 1.0 },
      s"copied-run pair missing: ${out.toSeq}")
    assert(!out.exists { case (a, b, _, _) => a >= 10L && b >= 10L },
      s"boilerplate-only pair survived the cap: ${out.toSeq}")
  }

  test("repetitionMetrics: crafted repetition shapes get exact metrics and the right verdict") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a a a a a a"),                        // one word: max repetition
      (2L, "clean tokens vary widely here today") // all distinct
    ).toDF("doc_id", "text")
    val m = TextOps.repetitionMetrics(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getInt(5))).toMap
    // doc 1: 6 tokens, dup_word = 1 - 1/6; bigrams all "a a" → top frac 1;
    // trigrams all repeat → frac 1; dropped
    assert(m(1L) === ((6L, BigDecimal(1 - 1.0 / 6).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, 1.0, 1.0, 0)))
    // doc 2: fully distinct → all zeros except the unique-bigram share; kept
    assert(m(2L)._2 === 0.0)
    assert(m(2L)._4 === 0.0)
    assert(m(2L)._5 === 1)
    // corpus-level: every >=3-token doc gets a row; decision is non-trivial
    val corpus = TextOps.repetitionFilter(spark, sf)
    val kept = corpus.filter(col("keep") === 1).count()
    assert(kept > 0 && kept < corpus.count())
  }

  test("qualityClassifier: one row per doc, sigmoid bounds, keep = margin sign") {
    val docs = Tables.documents(spark, sf).count()
    val rows = TextOps.qualityClassifier(spark, sf).collect()
    assert(rows.length === docs)
    rows.foreach { r =>
      val score = r.getDouble(1); val keep = r.getBoolean(2)
      assert(score > 0.0 && score < 1.0)
      // margin is decimal(·,2), so |margin| >= 0.01 when negative and
      // σ(margin) stays a safe distance from the 0.5 boundary even
      // after round(·, 6) — keep must agree with the score side
      assert(keep === (score >= 0.5), s"doc ${r.getLong(0)}: $score vs $keep")
    }
    assert(rows.count(_.getBoolean(2)) > 0)
    assert(rows.count(!_.getBoolean(2)) > 0)
  }

  test("tfidfTopTerms: 3 ranked terms per doc, scores non-increasing") {
    val docs = Tables.documents(spark, sf).count()
    val rows = TextOps.tfidfTopTerms(spark, sf).collect()
    assert(rows.length === docs * 3) // every test doc has >= 3 distinct terms
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L, 3L), s"doc $doc")
      val byRank = rs.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
      assert(byRank === byRank.sorted.reverse, s"doc $doc scores not ranked")
    }
  }

  test("bpeTrainMerges: hand-computed merges on a crafted vocabulary") {
    val s = spark; import s.implicits._
    // abab×3, abc×2: iter1 (a,b)=3·2+2=8 → merge; iter2 (ab,ab)=3;
    // iter3 (ab,c)=2 — exercises weighting, overlap counting, and a
    // merge whose PRODUCT ("ab") re-enters the next iteration's pairs
    val words = Seq(("abab", 3L), ("abc", 2L)).toDF("w", "freq")
    val got = TextOps.bpeTrainMergesFor(words).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, "a", "b", 8L), (2L, "ab", "ab", 3L), (3L, "ab", "c", 2L)))
  }

  test("bpeTrainMerges on the corpus: 50 iterations, non-increasing counts") {
    val rows = TextOps.bpeTrainMerges(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq ===
      (1L to TextOps.BpeTrainIters.toLong))
    val counts = rows.map(_.getLong(3)).toSeq
    // merging only ever removes or re-labels pair occurrences, so the
    // best count cannot grow round-over-round
    assert(counts === counts.sorted.reverse)
    assert(rows.forall(r => r.getString(1).nonEmpty && r.getString(2).nonEmpty))
    // the corpus vocabulary is under MaxLocalBpeVocab, so the delta
    // tier must have trained all 50 merges from ONE collect
    assert(TextOps.bpeLastRounds === 1,
      s"50 merges took ${TextOps.bpeLastRounds} rounds — delta tier not used")
  }

  test("bpeTrainMerges: a symbol ending in merge_left must not be re-merged") {
    val s = spark; import s.implicits._
    // iter1 merges (a,b)=11; iter2's best is (b,x)=5 — the word "abx"
    // is then [ab, x], and an UNANCHORED single-separator replace of
    // "b<sep>x" would wrongly fire inside it, fusing ab+x a round early
    // and erasing iter3's (ab, x) merge. The boundary-owning
    // representation must keep them apart.
    val words = Seq(("ab", 10L), ("bx", 5L), ("abx", 1L)).toDF("w", "freq")
    val got = TextOps.bpeTrainMergesFor(words, iters = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, "a", "b", 11L), (2L, "b", "x", 5L), (3L, "ab", "x", 1L)))
  }

  /** Driver-local strict-sequential BPE: one merge per round, counts
    * weighted by freq with overlapping positions counted, greedy
    * left-to-right merge — the ground truth the batched trainer must
    * reproduce exactly.
    */
  private def seqBpe(words: Seq[(String, Long)], iters: Int)
      : Seq[(Long, String, String, Long)] = {
    var state = words.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var it = 1
    var done = false
    while (it <= iters && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, f) <- state; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq
          .sortBy { case ((pl, pr), pc) => (-pc, pl, pr) }.head
        out += ((it.toLong, l, r, c))
        state = state.map { case (syms, f) =>
          val nb = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              nb += l + r; i += 2
            } else { nb += syms(i); i += 1 }
          }
          (nb.result(), f)
        }
        it += 1
      }
    }
    out.toSeq
  }

  test("bpeTrainMerges: batched schedule equals strict sequential BPE") {
    val s = spark; import s.implicits._
    // Adversarial vocabulary: consecutive-run overlap ("aaaa"), a word
    // equal to a merge product ("ab" while (a,b) merges), shared-symbol
    // chains (ab/ba/bab), count ties resolved by the (l, r) tie-break,
    // and multi-letter cascades (banana family) — everything that can
    // make a naive batch diverge from the sequential schedule.
    val vocab = Seq(
      ("banana", 7L), ("bananana", 3L), ("abab", 6L), ("abc", 4L),
      ("aabb", 5L), ("aaaa", 4L), ("aaab", 2L), ("ab", 9L), ("ba", 9L),
      ("bab", 3L), ("cab", 2L), ("bca", 2L), ("nan", 1L), ("ana", 1L),
      ("cccc", 3L), ("bcbc", 2L), ("abba", 2L), ("baab", 2L))
    val expect = seqBpe(vocab, 50)
    // tier 1 (delta-update local trainer) — the dispatch path for any
    // vocabulary that fits the driver bound
    val got = TextOps.bpeTrainMergesFor(vocab.toDF("w", "freq"), iters = 50)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got === expect)
    // tier 2 (distributed batched trainer) — the over-bound fallback
    // must produce the identical schedule
    val dist = TextOps.bpeTrainMergesDistributed(vocab.toDF("w", "freq"), iters = 50)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(dist === expect)
  }

  test("bpeApply: hand-computed re-segmentation under a known merge schedule") {
    val s = spark; import s.implicits._
    // schedule from the crafted-vocabulary training fixture:
    // (a,b) → ab, (ab,ab) → abab, (ab,c) → abc
    val merges = Seq(("a", "b"), ("ab", "ab"), ("ab", "c"))
    val docs = Seq(
      (1L, "abab abc"),   // [abab] + [abc] — both fully merged
      (2L, "ab cab"),     // [ab] + [c, ab] (c,ab is NOT the (ab,c) pair)
      (3L, "xy abba"),    // [x,y] + [ab, b, a] — only the embedded ab merges
      (4L, ""))           // zero tokens
      .toDF("doc_id", "text")
    val got = TextOps.bpeApplyFor(docs, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 2L, 2L), (2L, 2L, 3L), (3L, 2L, 5L), (4L, 0L, 0L)))
  }

  test("bpeApply on the corpus: counts bounded by chars and words, merges bite") {
    val rows = TextOps.bpeApply(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val chars = Tables.documents(spark, sf)
      .select(col("doc_id"),
        aggregate(TextOps.tokens(col("text")), lit(0L),
          (a, t) => a + length(t).cast("long")).as("n_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, nTok, nBpe) =>
      assert(nBpe >= nTok, s"doc $id: every word is at least one symbol")
      assert(nBpe <= chars(id), s"doc $id: symbols cannot exceed characters")
    }
    // 50 merges on this corpus must compress well below character count
    val totBpe = rows.map(_._3).sum.toDouble
    val totChar = chars.values.sum.toDouble
    assert(totBpe < 0.8 * totChar, s"merges barely bit: $totBpe vs $totChar chars")
  }

  test("classifierTrain: student recovers teacher signs and beats the majority class") {
    val w = TextOps.classifierTrain(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(w.size === TextOps.trainVocab.size + 1) // vocab + __bias__
    // every teacher weight sign is rediscovered from keep labels alone
    val teacherSigns = TextOps.classifierVocab
      .map { case (t, tw) => t -> (BigDecimal(tw) > 0) }
    teacherSigns.foreach { case (t, positive) =>
      assert((w(t) > 0) === positive, s"$t learned ${w(t)}, teacher positive=$positive")
    }
    // the strongest teacher signal is learned as the strongest positive
    assert(w("spark") === teacherSigns.collect { case (t, true) => w(t) }.max)
    // the learned model plugs into the classifier head and agrees with
    // the teacher far above the majority-class baseline
    val vocabW = TextOps.trainVocab.map(t => t -> f"${w(t)}%.6f")
    val student = TextOps.qualityClassifierWith(spark, sf, vocabW,
        f"${w("__bias__")}%.6f", scale = 6)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val teacher = TextOps.qualityClassifier(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val n = teacher.size
    val agree = teacher.count { case (d, y) => student(d) == y }
    val majority = math.max(teacher.count(_._2), n - teacher.count(_._2))
    assert(agree.toDouble / n >= 0.85, s"agreement ${agree.toDouble / n}")
    assert(agree > majority, s"agree $agree vs majority $majority of $n")
  }

  test("classifierMarginCents reproduces the broadcast-join classifier exactly") {
    val batch = TextOps.qualityClassifier(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    val local = Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.classifierMarginCents(col("text")).as("cents"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local.keySet === batch.keySet)
    local.foreach { case (id, cents) =>
      val (score, keep) = batch(id)
      assert(keep === (cents >= 0), s"doc $id keep")
      // cents/100.0 and the decimal→double cast round to the SAME
      // double, so the sigmoid + HALF_UP(6) reproduce bit-for-bit
      val sig = BigDecimal(1.0 / (1.0 + math.exp(-(cents / 100.0))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(sig === score, s"doc $id score")
    }
  }

  test("bm25TopK: 20 rows, descending, top hits contain query terms, plan is shuffle-free top-k") {
    val df = TextOps.bm25TopK(spark, sf)
    val rows = df.collect()
    assert(rows.length === 20)
    val scores = rows.map(_.getDouble(1)).toSeq
    assert(scores === scores.sorted.reverse)
    assert(scores.head > 0)
    // the best-scored doc must actually contain at least one query term
    val topDoc = Tables.documents(spark, sf)
      .filter(col("doc_id") === rows.head.getLong(0))
      .head().getAs[String]("text").toLowerCase
    assert(TextOps.Bm25Terms.exists(topDoc.contains))
    // zero-shuffle contract: scoring is row-local, top-k is
    // TakeOrderedAndProject; the only exchange feeds the 1-row stats agg
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("lmBigramScore: micro-prob bounds, identical docs score identically, plain text beats gibberish") {
    val got = TextOps.lmBigramScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // a mean of per-bigram ⌊1e6·c(ab)/c(a·)⌋ terms lives in [0, 1e6]
    got.foreach { case (id, n, s) =>
      assert(n > 0, s"doc $id")
      assert(s >= 0L && s <= 1000000L, s"doc $id score $s")
    }
    // the model is corpus-global, so equal texts must score equally
    val byText = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val scores = got.map(r => r._1 -> (r._2, r._3)).toMap
    byText.groupBy(_._2).values.filter(_.length > 1).take(5).foreach { g =>
      val ss = g.flatMap(d => scores.get(d._1)).distinct
      assert(ss.length <= 1, s"equal texts diverge: $g -> $ss")
    }
    // an in-distribution text must out-score uniform-random gibberish
    // under the corpus model (the signal the filter exists for) —
    // verified with the model rebuilt driver-side from the same counts
    val norm = byText.map(_._2.toLowerCase.replaceAll("[^a-z0-9]+", " "))
      .filter(_.length >= 2)
    val c2 = scala.collection.mutable.Map.empty[String, Long]
    norm.foreach(s => s.sliding(2).foreach(b => c2(b) = c2.getOrElse(b, 0L) + 1))
    val c1 = c2.groupBy(_._1.substring(0, 1)).map { case (a, m) => a -> m.values.sum }
    def score(s: String): Long = {
      val bgs = s.sliding(2).toSeq
      bgs.map(b => 1000000L * c2.getOrElse(b, 0L) / c1.getOrElse(b.substring(0, 1), 1L))
        .sum / bgs.length
    }
    val natural = norm.maxBy(_.length)
    val gibberish = "q7xq7zj0qv9xjq2zq8vjxq0zjq7xvz9qjx2q"
    assert(score(natural) > score(gibberish),
      s"natural ${score(natural)} should beat gibberish ${score(gibberish)}")
  }

  test("collocations: top-50 PMI matches an independent driver recount") {
    import org.apache.spark.sql.functions._
    val got = TextOps.collocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.length <= 50)
    assert(got.forall(_._3 >= TextOps.CollocationMinCount))
    val pmis = got.map(_._4).toSeq
    assert(pmis === pmis.sorted.reverse)
    // independent recount from raw tokens
    val docs = Tables.documents(spark, sf)
      .select(TextOps.tokens(col("text")).as("toks")).collect()
      .map(_.getSeq[String](0))
    val uni = docs.flatten.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val bg = docs.flatMap(ts => ts.sliding(2).filter(_.length == 2).map(p => (p.head, p(1))))
      .groupBy(identity).map { case (k, o) => k -> o.size.toLong }
    val nUni = docs.map(_.size.toLong).sum.toDouble
    val nBg = docs.map(ts => math.max(ts.size - 1, 0).toLong).sum.toDouble
    val want = bg.toSeq.filter(_._2 >= TextOps.CollocationMinCount)
      .map { case ((a, b), cab) =>
        val pmi = math.log(cab) + math.log(nUni) + math.log(nUni) -
          math.log(nBg) - math.log(uni(a)) - math.log(uni(b))
        (a, b, cab, BigDecimal(pmi).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (a, b, _, pmi) => (-pmi, a, b) }.take(50)
    assert(got.toSeq === want)
  }

  test("keywordSearch: index probe ≡ full-scan BM25 over the same terms, bucket-pruned scan") {
    import org.apache.spark.sql.functions._
    try {
      val got = TextOps.keywordSearch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.nonEmpty)
      // independent full-scan recompute of the same candidates-only BM25
      val toks = TextOps.tokens(col("text"))
      val base = Tables.documentsFanned(spark, sf)
        .select(col("doc_id"), size(toks).cast("long").as("dl"), toks.as("toks"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[String](2)))
      val n = base.length.toDouble
      val avgdl = base.map(_._2).sum.toDouble / n
      val terms = TextOps.SearchTerms
      val tfs = base.map { case (id, dl, ts) =>
        (id, dl, terms.map(t => ts.count(_ == t).toLong)) }
      val dfm = terms.zipWithIndex.map { case (t, i) =>
        t -> tfs.count(_._3(i) > 0).toDouble }.toMap
      val want = tfs.flatMap { case (id, dl, tf) =>
        val s = terms.zipWithIndex.collect { case (t, i) if tf(i) > 0 =>
          math.log(1 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5)) *
            (tf(i) * 2.2) / (tf(i) + 1.2 * (0.25 + 0.75 * dl / avgdl)) }
        if (s.isEmpty) None
        else Some(id -> BigDecimal(s.sum).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, s) => (-s, id) }.take(20)
      assert(got.toSeq === want.toSeq)
      // build-once/query-many: the probe reads ONLY the query terms'
      // buckets (≤ one per term), never the corpus text
      val plan = TextOps.keywordSearch(spark, sf)
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, s"keyword probe must bucket-prune:\n$plan")
      assert(sel.get.group(1).toInt <= TextOps.SearchTerms.length &&
        sel.get.group(2).toInt == TextOps.InvIndexBuckets)
    } finally {
      graft.operators.Layout.dropEpochFamily(spark,
        TextOps.invIndexName(sf), sidecars = Seq("_stats"))
    }
  }

  test("heavyHitters: MG bounds hold under any partitioning, evictions real, planted heavy item survives") {
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val k = TextOps.MgCapacity
    // exact truth for the corpus
    val exact = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val bound = math.ceil(n.toDouble / (k + 1)).toLong
    // bounds must hold for EVERY token (stronger than the gated top-10)
    // under adversarial partitionings of the same corpus
    for (parts <- Seq(1, 7)) {
      val summary = TextOps.mgSummaryOf(spark,
        Tables.documents(spark, sf).repartition(parts)
          .select(TextOps.tokens(col("text")).as("toks")), k)
      for ((t, cnt) <- exact) {
        val est = summary.getOrElse(t, 0L)
        assert(est <= cnt, s"[$parts parts] $t overestimated")
        assert(est >= cnt - bound, s"[$parts parts] $t below MG floor")
      }
      // capacity below vocab → evictions really happened
      assert(summary.size <= k && exact.size > k)
    }
    // the gated key's booleans are all TRUE on the corpus
    val gated = TextOps.heavyHittersGated(spark, sf).collect()
    assert(gated.length === 10)
    assert(gated.forall(r => r.getBoolean(2) && r.getBoolean(3)))
    // planted skew: one token holds half the mass → MUST be in the
    // summary with a usable estimate (the membership half of the
    // theorem, which the near-uniform corpus cannot exercise)
    val planted = (Seq.fill(500)("whale") ++ (1 to 500).map(i => s"tok$i"))
    val pdf = planted.grouped(50).map(_.toSeq).toSeq.toDF("toks")
    val psum = TextOps.mgSummaryOf(spark, pdf.repartition(5), k)
    val pn = planted.size
    val pbound = math.ceil(pn.toDouble / (k + 1)).toLong
    assert(psum.contains("whale"), "true heavy item evicted — MG broken")
    assert(psum("whale") >= 500L - pbound && psum("whale") <= 500L)
  }

  test("booleanSearch: MUST/SHOULD/NOT semantics match a full-scan recompute, one pruned scan") {
    import org.apache.spark.sql.functions._
    try {
      val got = TextOps.booleanSearch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.nonEmpty)
      // independent full-scan recompute of the boolean query
      val toks = TextOps.tokens(col("text"))
      val base = Tables.documentsFanned(spark, sf)
        .select(col("doc_id"), size(toks).cast("long").as("dl"), toks.as("toks"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2)))
      val n = base.length.toDouble
      val avgdl = base.map(_._2).sum.toDouble / n
      val scoring = TextOps.BoolMust ++ TextOps.BoolShould
      val all = scoring ++ TextOps.BoolMustNot
      val tfs = base.map { case (id, dl, ts) =>
        (id, dl, all.map(t => ts.count(_ == t).toLong)) }
      val dfm = all.zipWithIndex.map { case (t, i) =>
        t -> tfs.count(_._3(i) > 0).toDouble }.toMap
      val want = tfs.flatMap { case (id, dl, tf) =>
        val has = all.zipWithIndex.collect { case (t, i) if tf(i) > 0 => t }.toSet
        if (!TextOps.BoolMust.forall(has) ||
            TextOps.BoolMustNot.exists(has)) None
        else {
          val s = all.zipWithIndex.collect {
            case (t, i) if tf(i) > 0 && scoring.contains(t) =>
              math.log(1 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5)) *
                (tf(i) * 2.2) / (tf(i) + 1.2 * (0.25 + 0.75 * dl / avgdl)) }
          Some(id -> BigDecimal(s.sum).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.sortBy { case (id, s) => (-s, id) }.take(20)
      assert(got.toSeq === want.toSeq)
      // NOT-term coverage: at least one doc containing both MUSTs is
      // excluded by the NOT term, so the clause is load-bearing
      val excluded = tfs.count { case (_, _, tf) =>
        val has = all.zipWithIndex.collect { case (t, i) if tf(i) > 0 => t }.toSet
        TextOps.BoolMust.forall(has) && TextOps.BoolMustNot.exists(has)
      }
      assert(excluded > 0, "fixture never exercises the NOT clause")
      // document-at-a-time: all four terms come from ONE pruned scan
      val plan = TextOps.booleanSearch(spark, sf)
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, s"boolean probe must bucket-prune:\n$plan")
      assert(sel.get.group(1).toInt <= 4 &&
        sel.get.group(2).toInt == TextOps.InvIndexBuckets)
    } finally {
      graft.operators.Layout.dropEpochFamily(spark,
        TextOps.invIndexName(sf), sidecars = Seq("_stats"))
    }
  }

  test("searchLifecycle: half-build + streamed-append epoch serves the one-pass probe results") {
    try {
      val viaLifecycle = TextOps.searchLifecycle(spark, sf).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaLifecycle.nonEmpty)
      // one-pass twin over the lifecycle's quarter corpus: a fresh
      // single-shot index build over the same filtered docs (BM25
      // stats re-derive from the indexed set, so a full-corpus probe
      // would NOT match — the quarter changes n_docs/avgdl/df)
      val onePassName = "graft_slc_onepass_spec"
      val onePass = try {
        TextOps.buildInvertedIndex(spark, onePassName,
          Tables.documentsFanned(spark, sf)
            .select(col("doc_id"), col("text"))
            .filter(col("doc_id") % 4 === 0))
        TextOps.keywordSearchIndex(spark, onePassName).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $onePassName")
        spark.sql(s"DROP TABLE IF EXISTS ${onePassName}_stats")
      }
      assert(viaLifecycle === onePass)
      // a second call must rotate a fresh epoch and still agree
      assert(TextOps.searchLifecycle(spark, sf).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq === onePass)
    } finally {
      graft.operators.Layout.dropEpochFamily(spark,
        TextOps.lifecycleIndexName(sf), sidecars = Seq("_stats"))
      graft.operators.Layout.dropEpochFamily(spark,
        TextOps.invIndexName(sf), sidecars = Seq("_stats"))
    }
  }

  test("hybridSearch: RRF fusion matches a local recompute from the two legs' own lists") {
    try {
      val got = TextOps.hybridSearch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSeq
      assert(got.nonEmpty)
      // legs' published lists are the spec'd sources of truth; fuse locally
      val kw = TextOps.keywordSearch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        .sortBy { case (id, s) => (-s, id) }.map(_._1).zipWithIndex
        .map { case (id, i) => id -> (i + 1L) }.toMap
      val vec = operators.SimilarityOps.knnCosine(spark, sf).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        .sortBy { case (id, s) => (-s, id) }.map(_._1).zipWithIndex
        .map { case (id, i) => id -> (i + 1L) }.toMap
      val want = (kw.keySet ++ vec.keySet).toSeq.map { id =>
        val s = kw.get(id).map(r => 1.0 / (TextOps.RrfK + r)).getOrElse(0.0) +
          vec.get(id).map(r => 1.0 / (TextOps.RrfK + r)).getOrElse(0.0)
        (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          kw.get(id), vec.get(id))
      }.sortBy { case (id, s, _, _) => (-s, id) }
      assert(got === want)
      // fusion must actually mix: some doc appears in only one leg
      assert(want.exists(_._3.isEmpty) || want.exists(_._4.isEmpty))
    } finally {
      graft.operators.Layout.dropEpochFamily(spark,
        TextOps.invIndexName(sf), sidecars = Seq("_stats"))
    }
  }

  test("phraseSearch: adjacency counts match a string-level recount, positions index pruned") {
    import org.apache.spark.sql.functions._
    try {
      val got = TextOps.phraseSearch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got.nonEmpty)
      // recount phrase occurrences from raw tokens, independent of the index
      val (t1, t2) = TextOps.PhraseTerms
      val toks = TextOps.tokens(col("text"))
      val want = Tables.documents(spark, sf)
        .select(col("doc_id"), toks.as("toks")).collect()
        .map { r =>
          val ts = r.getSeq[String](1)
          r.getLong(0) -> ts.sliding(2).count(p =>
            p.length == 2 && p.head == t1 && p(1) == t2).toLong
        }.filter(_._2 > 0).toMap
      assert(got === want)
      val plan = TextOps.phraseSearch(spark, sf)
        .queryExecution.executedPlan.toString
      val sels = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findAllMatchIn(plan).toSeq
      assert(sels.nonEmpty && sels.forall(m => m.group(1).toInt <= 1),
        s"each phrase side must prune to its term's single bucket:\n$plan")
    } finally {
      graft.operators.Layout.dropEpochFamily(spark,
        TextOps.invIndexName(sf), sidecars = Seq("_stats"))
    }
  }

  test("countMin: top-10 is the exact ranking, bounds green, runs deterministic") {
    import org.apache.spark.sql.functions._
    val exact = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val top10 = exact.sortBy { case (t, c) => (-c, t) }.take(10).toSeq
    val run1 = TextOps.countMinGated(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    // the hashed columns are the exact top-10 (the sketch only judges)
    assert(run1.map(r => (r._1, r._2)).toSeq === top10)
    // est >= exact is structural (counters only overcount); est <= the
    // sized epsilon-N envelope must hold on this corpus
    assert(run1.forall(_._3), "est_ge violated — CMS undercounted")
    assert(run1.forall(_._4), "est_le violated — collision mass above the sized slack")
    // seeded hashing, fixed layout: a second run is bit-identical
    val run2 = TextOps.countMinGated(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    assert(run2.toSeq === run1.toSeq)
  }

  test("rocchioSearch: feedback is load-bearing, forward index mirrors the " +
      "postings rows, and the stage-2 probe doc-bucket-prunes") {
    import graft.operators.{Layout, TextOps}
    try {
      val inv = TextOps.ensureInvertedIndex(spark, sf)
      val fb = TextOps.ensureFeedbackIndex(spark, sf)
      // the forward index is the postings re-keyed by doc — same rows
      assert(spark.table(fb).count() === spark.table(inv).count())
      // lexicon df is the exact per-term doc count
      val lex = spark.table(fb + "_lex").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val dfTruth = spark.table(inv).groupBy(col("term")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(lex === dfTruth)
      // feedback changes the ranking: the final list must differ from a
      // plain seed-terms-only top-20 (expansion terms carry real weight)
      val rocchio = TextOps.rocchioSearch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val plain = TextOps.bm25Probe(spark, inv,
          TextOps.RocchioQuery.map(_ -> 1.0), 20).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rocchio.nonEmpty)
      assert(rocchio !== plain,
        "expansion had no effect — the feedback loop is vacuous")
      // stage-2 access path: the forward probe reads only the feedback
      // docs' buckets, never the corpus
      val seedIds = TextOps.bm25Probe(spark, inv,
          TextOps.RocchioQuery.map(_ -> 1.0), 10)
        .collect().map(_.getLong(0))
      val plan = spark.table(fb).filter(col("doc_id").isin(seedIds: _*))
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, s"forward probe must bucket-prune:\n$plan")
      assert(sel.get.group(1).toInt <= seedIds.length &&
        sel.get.group(2).toInt == TextOps.InvIndexBuckets)
    } finally {
      Layout.dropEpochFamily(spark, TextOps.fbIndexName(sf), sidecars = Seq("_lex"))
      Layout.dropEpochFamily(spark, TextOps.invIndexName(sf), sidecars = Seq("_stats"))
    }
  }
}
