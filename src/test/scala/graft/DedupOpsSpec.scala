package graft

import org.apache.spark.sql.functions._
import graft.operators.DedupOps

class DedupOpsSpec extends SparkSpec {

  test("shingles: 5-grams of a short string, distinct, order-preserving") {
    val s = spark; import s.implicits._
    val got = Seq("abcdef", "aaaaaa")
      .toDF("t").select(DedupOps.shingles(col("t"), 5).as("sh"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(got(0) === Seq("abcde", "bcdef"))
    assert(got(1) === Seq("aaaaa")) // distinct collapses repeats
  }

  test("bitmap and prefix-filter strategies produce identical pairs (sf0.001)") {
    val n = 5
    val docs = Tables.documents(spark, sf)
      .filter(length(col("text")) >= n)
      .select(col("doc_id"), DedupOps.shingles(col("text"), n).as("sh"))
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val vocab = inv.select(col("shingle")).distinct()
    val v = vocab.count().toInt
    val out = Seq("doc_a", "doc_b", "n_inter", "jaccard")
    val bitmap = DedupOps.bitmapAllPairsJaccard(docs, inv, vocab, v, 0.5)
      .select(out.head, out.tail: _*).orderBy("doc_a", "doc_b").collect().toSeq
    val prefix = DedupOps.prefixFilterJaccard(docs, inv, 0.5)
      .select(out.head, out.tail: _*).orderBy("doc_a", "doc_b").collect().toSeq
    assert(bitmap.nonEmpty)
    assert(bitmap === prefix)
  }

  test("strategy gate is a pair budget, not a doc-count cap") {
    // crossover at n(n-1)/2 = 1e8 → n ≈ 14143
    assert(DedupOps.useBitmapStrategy(2000L, 14000L))
    assert(!DedupOps.useBitmapStrategy(2000L, 15000L))
    // a raw 100k-doc cap would have admitted 5e9 pairs
    assert(!DedupOps.useBitmapStrategy(2000L, 100000L))
    // vocabulary must also fit the fixed-width bitmap
    assert(!DedupOps.useBitmapStrategy(DedupOps.MaxBitmapVocab + 1, 10L))
  }

  test("jaccardNearDupPairs matches a naive all-pairs cross join (crafted)") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, Seq("aa", "bb", "cc", "dd")),
      (2L, Seq("aa", "bb", "cc", "ee")),   // J(1,2)=3/5=0.6 ✓
      (3L, Seq("aa", "xx", "yy", "zz")),   // J(1,3)=1/7 ✗
      (4L, Seq("aa", "bb", "cc", "dd")),   // J(1,4)=1.0 ✓, J(2,4)=0.6 ✓
    ).toDF("doc_id", "sh")
    val got = DedupOps.jaccardNearDupPairs(docs, 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, 2L, 0.6), (1L, 4L, 1.0), (2L, 4L, 0.6)))
  }

  test("minhashLsh is deterministic and pairs are ordered doc_a < doc_b") {
    val a = graft.operators.DedupOps.minhashLsh(spark, sf).collect()
    val b = graft.operators.DedupOps.minhashLsh(spark, sf).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("simhash: identical texts get identical signatures, all 32-bit") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"),
      (3L, "utterly different content entirely"),
    ).toDF("doc_id", "text")
    val sigs = DedupOps.simhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
    assert(sigs.values.forall(v => v >= 0 && v <= 0xffffffffL))
  }

  test("banded simhashNearDup equals brute-force hamming pairs (sf0.001)") {
    val banded = DedupOps.simhashNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val sig = DedupOps.simhashSignatures(Tables.documents(spark, sf))
    val a = sig.as("a"); val b = sig.as("b")
    val brute = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("h"))
      .filter(col("h") <= 2)
      .orderBy(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(banded === brute) // pigeonhole banding is lossless for ham<=2
    assert(banded.nonEmpty)
  }

  test("prefix-filter candidate budget: dense corpus fails fast, normal corpus verifies") {
    import graft.operators.DedupOps
    val s = spark; import s.implicits._
    // adversarial density with a big-vocab shape: every doc carries one
    // UNIQUE shingle (vocab grows with n, closing the bitmap gate at
    // scale) plus one UNIVERSAL shingle — so even the frequency-ordered
    // prefix index collides all docs on the shared shingle and raw
    // candidates are n(n-1)/2-ish, the regime the budget exists for
    val docs = ((1L to 12L).map(i => (i, Seq("aaaaa", s"uniq$i"))) ++
      Seq((13L, Seq("aaaaa", "same")), (14L, Seq("aaaaa", "same"))))
      .toDF("doc_id", "sh")
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val e = intercept[IllegalStateException] {
      DedupOps.prefixFilterJaccard(docs, inv, 0.5, maxCandidates = 50).count()
    }
    assert(e.getMessage.contains("candidate budget exceeded"))
    // same corpus under the default budget: exact answers, no explosion —
    // only the planted identical pair reaches J >= 0.5
    val ok = DedupOps.prefixFilterJaccard(docs, inv, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ok === Seq((13L, 14L)))
  }

  test("docDedup groups exact prefix-dups and keeps min doc_id") {
    val d = graft.operators.DedupOps.docDedup(spark, sf)
    val total = d.agg(sum("dup_count")).head().getLong(0)
    val docs = Tables.documents(spark, sf).count()
    assert(total === docs)           // partition of the corpus
    assert(d.filter(col("dup_count") > 1).count() > 0) // testdata plants dups
  }

  test("passageDedup: cross-doc and within-doc repeated passages flagged exactly") {
    import graft.operators.DedupOps
    val corpus = DedupOps.passageDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toMap
    // testdata plants shared 40-char prefixes → the aligned first passage
    // of each near-dup group collides corpus-wide
    assert(corpus.values.exists(_._2 > 0))
    assert(corpus.values.forall { case (np, nd, frac, keep) =>
      nd <= np && frac >= 0 && frac <= 1 && (keep == 1) == (frac <= 0.25)
    })
    // the passage split is non-overlapping k-token windows: a doc that is
    // one 8-token passage repeated twice flags BOTH copies (within-doc
    // repetition counts — boilerplate stitching inside one document),
    // a 3-passage doc sharing ONE passage with it flags exactly one
    val s = spark; import s.implicits._
    val unit = Seq("p", "q", "r", "s", "t", "u", "v", "w")
    val rep = (unit ++ unit).mkString(" ")
    val mixed = (unit ++ Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi")).mkString(" ")
    val short = "too few tokens here" // < k → no passage row
    val crafted = Seq((1L, rep), (2L, mixed), (3L, short)).toDF("doc_id", "text")
    val got = DedupOps.passageDedupMetrics(crafted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toMap
    assert(got(1L) === ((2L, 2L, 1.0, 0))) // both copies flagged, dropped
    assert(got(2L) === ((3L, 1L, BigDecimal(1.0 / 3).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, 0))) // the shared prefix passage
    assert(!got.contains(3L))
  }

  test("substringDedup catches offset-shifted duplicates the passage grid misses") {
    import graft.operators.DedupOps
    val s = spark; import s.implicits._
    // doc 2 contains doc 1's 8-token span at offset 3 — NOT a multiple
    // of the passage size, so the non-overlapping passage grid of
    // passageDedup slices it differently and sees no repeat, while the
    // overlapping-window scan must flag every window inside the span
    val span = Seq("p", "q", "r", "s", "t", "u", "v", "w")
    val a = (span ++ Seq("one", "two", "three", "four", "five", "six",
      "seven", "eight")).mkString(" ")
    val b = (Seq("alpha", "beta", "gamma") ++ span ++ Seq("delta", "eps",
      "zeta", "eta", "theta")).mkString(" ")
    val clean = ("k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11 k12 k13 k14 k15 k16")
    val crafted = Seq((1L, a), (2L, b), (3L, clean)).toDF("doc_id", "text")
    val pass = DedupOps.passageDedupMetrics(crafted).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pass.values.forall(_ === 0L), s"passage grid should miss the shift: $pass")
    val sub = DedupOps.substringDedupMetrics(crafted).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5))))
      .toMap
    // 16-token docs have 9 windows; exactly ONE window (the span itself)
    // repeats across docs 1 and 2; its 8 positions cover half the doc
    assert(sub(1L) === ((16L, 9L, 1L, 0.5, 0)))
    assert(sub(2L) === ((16L, 9L, 1L, 0.5, 0)))
    assert(sub(3L) === ((16L, 9L, 0L, 0.0, 1)))
    // corpus run: flagged docs exist and invariants hold
    val corpus = DedupOps.substringDedup(spark, sf).collect()
    assert(corpus.exists(_.getLong(3) > 0))
    assert(corpus.forall { r =>
      r.getLong(3) <= r.getLong(2) && r.getDouble(4) >= 0 && r.getDouble(4) <= 1 &&
        (r.getInt(5) == 1) == (r.getDouble(4) <= 0.25)
    })
  }

  test("incrementalDedup: index(batch1) ∪ incremental(batch2) == full-corpus dedup; " +
      "index is probed, never re-shuffled") {
    import graft.operators.DedupOps
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force SMJ so the co-location claim is exercised (at test scale the
      // tiny index would otherwise broadcast, which shuffles nothing anyway)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val inc = DedupOps.incrementalDedup(spark, sf)
      val idxTable = graft.operators.Layout
        .currentEpochTable(spark, DedupOps.dedupIndexName(sf)).get
      val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getString(1))
      val combined =
        (spark.table(idxTable).select("doc_id", "key_hash")
          .collect().map(key) ++
          inc.select("doc_id", "key_hash").collect().map(key)).toSet
      val full = DedupOps.docDedup(spark, sf).select("doc_id", "key_hash")
        .collect().map(key).toSet
      // the composition law that makes incremental dedup correct: applying
      // batch 2 against batch 1's persisted survivor index reproduces
      // exactly what one full-corpus dedup of batch1 ∪ batch2 produces
      assert(combined === full)
      // the persisted index is never re-shuffled: no ShuffleExchange sits
      // between the index scan and the anti join (the one hash exchange in
      // the plan belongs to the new batch's keep-first aggregation)
      val lines = inc.queryExecution.executedPlan.toString.split("\n").toSeq
      val smj = lines.indexWhere(_.contains("LeftAnti"))
      val idxScan = lines.indexWhere(_.contains("graft_dedup_idx"))
      assert(smj >= 0 && idxScan > smj, s"expected anti join over the index:\n${lines.mkString("\n")}")
      // the index subtree is the join's RIGHT child: the lines between the
      // join and the index scan NOT marked with the left-branch ':' rail —
      // none of them may be an Exchange (the new-batch agg's shuffles all
      // live on the ':' side)
      val rightSubtree = lines.slice(smj + 1, idxScan + 1).filterNot(_.trim.startsWith(":"))
      assert(!rightSubtree.exists(_.contains("Exchange")),
        s"persisted index must not be re-shuffled:\n${lines.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      graft.operators.Layout.dropEpochFamily(spark, DedupOps.dedupIndexName(sf))
    }
  }

  test("incrementalDedup is unchanged through an epoch rotation and a rollback") {
    import graft.operators.{DedupOps, Layout}
    val base = DedupOps.dedupIndexName(sf)
    try {
      val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getString(1))
      val before = DedupOps.incrementalDedup(spark, sf).collect().map(key).toSeq
      val e0 = Layout.currentEpochTable(spark, base).get
      // nightly rebuild: a fresh snapshot becomes the published epoch…
      val e1 = DedupOps.rebuildDedupIndex(spark, sf)
      assert(e1 !== e0)
      assert(DedupOps.incrementalDedup(spark, sf).collect().map(key).toSeq === before)
      // …and a rollback pins the previous snapshot, same answers
      Layout.rollbackEpoch(spark, base)
      assert(Layout.currentEpochTable(spark, base) === Some(e0))
      assert(DedupOps.incrementalDedup(spark, sf).collect().map(key).toSeq === before)
    } finally {
      graft.operators.Layout.dropEpochFamily(spark, base)
    }
  }

  test("minhashPersisted: equals minhashLsh; band self-join is exchange-free") {
    import graft.operators.DedupOps
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val persisted = DedupOps.minhashPersisted(spark, sf)
      val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1), r.getLong(2))
      val expect = DedupOps.minhashLsh(spark, sf).collect().map(key).toSeq
      assert(persisted.collect().map(key).toSeq === expect)
      // both self-join sides scan the SAME bucketed table: candidate
      // generation runs with no exchange below the join (the only
      // shuffles are the pair-count agg and the output sort)
      val all = persisted.queryExecution.executedPlan.toString.split("\n").toSeq
      // AQE prints the final plan first, then "== Initial Plan ==" —
      // analyze only the final section or the slice spans both copies
      val lines = all.takeWhile(!_.contains("== Initial Plan =="))
      val smj = lines.indexWhere(_.contains("SortMergeJoin"))
      val lastScan = lines.lastIndexWhere(_.contains("graft_minhash_idx"))
      assert(smj >= 0 && lastScan > smj, all.mkString("\n"))
      assert(!lines.slice(smj + 1, lastScan + 1).exists(_.contains("Exchange")),
        s"band self-join must read both sides co-located:\n${all.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      graft.operators.Layout.dropEpochFamily(spark, DedupOps.minhashIndexName(sf))
    }
  }

  test("ensembleGroups: refines single-signal groups, never splits them") {
    import graft.operators.DedupOps
    val single = DedupOps.neardupGroups(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ensemble = DedupOps.ensembleGroups(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ensemble.keySet === single.keySet) // both partition the corpus
    // adding signals can only MERGE groups: docs grouped by Jaccard alone
    // must still share an ensemble group
    val merged = single.groupBy(_._2).values.forall { members =>
      members.map(m => ensemble(m._1)).toSet.size == 1
    }
    assert(merged, "a single-signal group was split by the ensemble")
    // the extra signals' pairs must be REFLECTED in the ensemble
    // grouping: every simhash pair and every exact-dup pair shares an
    // ensemble group — a union that silently dropped a signal fails
    // this unless another signal happens to imply every one of its
    // pairs (and the nonEmpty asserts rule out vacuity)
    val sp = DedupOps.simhashNearDup(spark, sf).select("doc_a", "doc_b").collect()
    assert(sp.nonEmpty)
    assert(sp.forall(r => ensemble(r.getLong(0)) == ensemble(r.getLong(1))),
      "a simhash pair is not co-grouped in the ensemble")
    val exGroup = Tables.documents(spark, sf)
      .groupBy(DedupOps.exactKey(col("text")).as("k"))
      .agg(min("doc_id").as("a"), max("doc_id").as("b"))
      .filter(col("a") =!= col("b")).limit(5).collect()
    assert(exGroup.nonEmpty)
    assert(exGroup.forall(r => ensemble(r.getLong(1)) == ensemble(r.getLong(2))),
      "an exact-dup pair is not co-grouped in the ensemble")
  }

  test("starComponents: agrees with union-find; rescues the propagation backstop on a long chain") {
    import graft.operators.DedupOps
    val s = spark; import s.implicits._
    // adversarial chain: diameter 149 ≫ a 5-round propagation budget —
    // the distributed path must fall back to diameter-halving, not throw
    val n = 150L
    val verts = (0L until n).toDF("doc_id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = DedupOps.connectedComponents(verts, chain, 0L, maxPropagationRounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (0L until n).map(i => (i, 0L)).toSet)
    // random graph: star labels equal driver union-find labels exactly
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val pdf = pairs.toDF("doc_a", "doc_b")
    val vdf = (0L until 200).toDF("doc_id")
    val star = DedupOps.starComponents(pdf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uf = DedupOps.connectedComponents(vdf, pdf) // driver path at this size
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val endpoints = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(star === uf.filter { case (d, _) => endpoints(d) }) // star covers endpoints
  }

  test("connectedComponents: both strategies agree on a known graph") {
    val s = spark; import s.implicits._
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,11}; {20} isolated
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val expect = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    // default gate: 4 edges → driver union-find path
    val viaDriver = DedupOps.connectedComponents(vertices, pairs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaDriver === expect)
    // forced distributed path: maxDriverEdges = 0
    val viaPropagation = DedupOps.connectedComponents(vertices, pairs, 0L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaPropagation === expect)
  }

  test("neardupGroups: partition of the corpus, keep iff group root") {
    val g = graft.operators.DedupOps.neardupGroups(spark, sf)
    val n = Tables.documents(spark, sf).count()
    assert(g.count() === n) // one row per document
    // keep marks exactly the group roots
    assert(g.filter(col("keep") =!= (col("doc_id") === col("group_id"))).count() === 0)
    // every group's root is a member that keeps itself
    val roots = g.select(col("group_id")).distinct()
    val kept = g.filter(col("keep")).select(col("doc_id"))
    assert(roots.exceptAll(kept).count() === 0)
    // verified near-dup pairs land in the same group
    val pairs = DedupOps.minhashVerifiedPairs(spark, sf)
    val lbl = g.select(col("doc_id"), col("group_id"))
    val crossGroup = pairs
      .join(lbl.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("group_id", "g_a"), "doc_a")
      .join(lbl.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("group_id", "g_b"), "doc_b")
      .filter(col("g_a") =!= col("g_b"))
    assert(crossGroup.count() === 0)
  }

  test("canonicalDocs: same groups as neardupGroups, canonical is the group's exact-margin argmax") {
    val g = DedupOps.canonicalDocs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    val n = Tables.documents(spark, sf).count()
    assert(g.length.toLong === n) // one row per document
    // group labels agree with the min-id operator — only the survivor
    // POLICY differs, never the partition
    val viaGroups = DedupOps.neardupGroups(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g.map(r => r._1 -> r._2).toMap === viaGroups)
    // canonical: member of its own group, max margin, ties to min id,
    // exactly one keep per group
    val byGroup = g.groupBy(_._2)
    for ((gid, members) <- byGroup) {
      val canon = members.map(_._4).distinct
      assert(canon.length === 1, s"group $gid disagrees on canonical")
      val want = members.map(m => (m._3, m._1)) // (margin, id)
        .sortBy { case (m, id) => (-m, id) }.head._2
      assert(canon.head === want, s"group $gid canonical is not the margin argmax")
      assert(members.count(_._5) === 1)
      assert(members.exists(m => m._1 == canon.head))
    }
    // the policy is load-bearing — planted groups where the best margin
    // sits on the LARGER id must elect it over the min-id root (the
    // sf0.001 corpus margins happen to favor min ids, so this case
    // needs planting)
    val s = spark; import s.implicits._
    val pg = Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L))
      .toDF("doc_id", "group_id")
    val pm = Seq((10L, -50L), (11L, 120L), (12L, 120L), (20L, 5L), (21L, 5L))
      .toDF("doc_id", "margin_cents")
    val planted = DedupOps.canonicalOver(pg, pm)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    // group 10: margins -50/120/120 → canonical 11 (max margin, tie → min id)
    assert(Seq(10L, 11L, 12L).map(planted(_)._1).distinct === Seq(11L))
    assert(planted(11L)._2 && !planted(10L)._2 && !planted(12L)._2)
    // group 20: equal margins → tie falls back to min id
    assert(planted(20L)._1 === 20L && planted(20L)._2 && !planted(21L)._2)
  }

  test("persisted shingle index: identical pairs to in-flight, also on subsets") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    try {
      val inFlight = DedupOps
        .jaccardNearDupPairs(DedupOps.shingledDocs(spark, sf), 0.5)
        .collect().map(key).toSet
      val indexed = DedupOps.jaccardPairsIndexed(spark, sf, 0.5)
        .collect().map(key).toSet
      assert(indexed === inFlight)
      assert(indexed.nonEmpty)
      // subset probe: full-vocab bitmaps semi-joined to even doc_ids must
      // equal the in-flight run over the even subcorpus — Jaccard between
      // two docs does not depend on which other docs exist
      val evenIds = Tables.documents(spark, sf)
        .select(col("doc_id")).filter(col("doc_id") % 2 === 0)
      val amongEven = DedupOps.jaccardPairsIndexedAmong(spark, sf, evenIds, 0.5) {
        sys.error("gate passed at test scale; fallback must not run")
      }.collect().map(key).toSet
      val inFlightEven = DedupOps.jaccardNearDupPairs(
          DedupOps.shingledDocs(spark, sf).filter(col("doc_id") % 2 === 0), 0.5)
        .collect().map(key).toSet
      assert(amongEven === inFlightEven)
      // verification against the index ≡ in-flight verification
      val cand = DedupOps.minhashLsh(spark, sf).select(col("doc_a"), col("doc_b"))
      val vIdx = DedupOps.verifyCandidatesIndexed(spark, sf, cand, 0.5)
        .collect().map(key).toSet
      val vFlight = DedupOps.verifyCandidatesExact(
          cand, DedupOps.shingledDocs(spark, sf), 0.5)
        .collect().map(key).toSet
      assert(vIdx === vFlight)
    } finally {
      graft.operators.Layout.dropEpochFamily(spark,
        DedupOps.shingleIndexName(sf), sidecars = Seq("_vocab"))
      graft.operators.Layout.dropEpochFamily(spark, DedupOps.minhashIndexName(sf))
    }
  }

  test("trainValSplit: no near-dup group straddles the split; assignment deterministic") {
    try {
      val rows = DedupOps.trainValSplit(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(rows.nonEmpty)
      // the leakage guarantee: one split value per group — a straddling
      // group would put near-identical text on both sides of the line
      for ((g, members) <- rows.groupBy(_._2))
        assert(members.map(_._3).distinct.length === 1, s"group $g straddles")
      // every near-dup PAIR lands on one side (the group property
      // restated over the raw pair generator — catches a group/pair drift)
      val splitOf = rows.map(r => r._1 -> r._3).toMap
      val pairs = DedupOps.jaccardPairsIndexed(spark, sf, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.nonEmpty)
      for ((a, b) <- pairs)
        assert(splitOf(a) === splitOf(b), s"near-dup pair ($a,$b) split apart")
      // determinism: the md5-bucket assignment is a pure function
      val again = DedupOps.trainValSplit(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(again.toSeq === rows.toSeq)
    } finally {
      graft.operators.Layout.dropEpochFamily(spark, DedupOps.minhashIndexName(sf))
    }
  }

  /** Driver-side recompute of the IDF-weighted shingle-cosine pairs —
    * an implementation-independent third opinion beside the Spark
    * operator and the DuckDB oracle. Returns UNROUNDED cosines. */
  private def naiveTfidfCosine(
      docs: Seq[(Long, String)], cap: Long, t: Double): Map[(Long, Long), Double] = {
    val n = docs.size.toDouble
    val sh: Seq[(Long, Map[String, Int])] = docs.map { case (id, txt) =>
      val ts = txt.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      val ss = if (ts.size >= 3) ts.sliding(3).map(_.mkString(" ")).toSeq else Seq.empty
      id -> ss.groupBy(identity).map { case (k, v) => k -> v.size }
    }
    val df = sh.flatMap(_._2.keys).groupBy(identity).map { case (k, v) => k -> v.size }
    val w: Seq[(Long, Map[String, Double])] = sh.map { case (id, m) =>
      id -> m.collect { case (s, c) if df(s) <= cap => s -> c * math.log(n / df(s)) }
    }
    val nrm = w.map { case (id, m) => id -> math.sqrt(m.values.map(x => x * x).sum) }.toMap
    (for {
      (a, wa) <- w; (b, wb) <- w if a < b
      dot = wa.keySet.intersect(wb.keySet).toSeq.map(s => wa(s) * wb(s)).sum
      if dot > 0
      c = dot / (nrm(a) * nrm(b))
      if c >= t
    } yield (a, b) -> c).toMap
  }

  test("tfidfNeardup: df cap is load-bearing and cosines match a driver recompute") {
    val s = spark; import s.implicits._
    // docs 1,2 share an 8-token DISTINCTIVE phrase (its shingles have
    // df=2); docs 3,4,5 share only a 12-token BOILERPLATE run (df=3);
    // doc 6 is unique filler keeping N=6. With dfCap=2 the boilerplate
    // shingles are outside the vector space, so only (1,2) pairs; the
    // idf weight alone would NOT have excluded df=3 shingles (ln(6/3)
    // is the same weight class as ln(6/2)), so the uncapped twin pairs
    // the boilerplate trio too — the cap, not the weighting, is what
    // keeps template-heavy corpora from voting pairs together.
    val phrase = "quantum flux capacitor alignment protocol for stellar drives"
    val boiler = "standard footer text follows here please disregard " +
      "this generated notice entirely now"
    val docs = Seq(
      (1L, s"$phrase engaged"),
      (2L, s"$phrase review"),
      (3L, s"alpha $boiler"),
      (4L, s"beta $boiler"),
      (5L, s"gamma $boiler"),
      (6L, "entirely unrelated filler content about gardening tools")
    )
    val docsDf = docs.toDF("doc_id", "text")
    val capped = DedupOps.tfidfNeardupPairs(docsDf, dfCap = 2L, t = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    val expect = naiveTfidfCosine(docs, cap = 2L, t = 0.5)
    assert(expect.keySet === Set((1L, 2L)))
    assert(math.abs(capped.head._3 - expect((1L, 2L))) < 5.1e-7) // operator rounds to 6 dp
    // uncapped twin: the boilerplate trio's cosine crosses the threshold
    val uncapped = DedupOps.tfidfNeardupPairs(docsDf, dfCap = 1000000L, t = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val expectUncapped = naiveTfidfCosine(docs, cap = 1000000L, t = 0.5)
    assert(uncapped.keySet === expectUncapped.keySet)
    assert(Set((3L, 4L), (3L, 5L), (4L, 5L)).subsetOf(uncapped.keySet))
    for ((k, v) <- uncapped) assert(math.abs(v - expectUncapped(k)) < 5.1e-7)
  }

  test("tfidfNeardup on the corpus: planted near-dups found, separation is bimodal") {
    val got = DedupOps.tfidfNeardup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    for ((a, b, c) <- got) { assert(a < b); assert(c >= 0.5 && c <= 1.000001) }
    // the corpus's planted twins sit far above the threshold — the 0.5
    // cut operates in a wide margin, not on a knife edge (the oracle
    // compares ROUNDED cosines, so a near-threshold population would
    // make the gate flaky; this pins the distribution assumption)
    assert(got.map(_._3).min > 0.8)
  }
}
