package graft

// Spark 4.1 moved MemoryStream under execution.streaming.runtime
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{CurationOps, DedupOps}
import graft.streaming.DocStream

/** Batch/stream equivalence of the streaming maintainers on the
  * documents table itself (not a synthetic toy): each stream-built
  * table must answer exactly as the one-pass batch operator.
  */
class DocStreamSpec extends SparkSpec {

  test("substringWindowStream: stream-built window index ≡ batch substring dedup") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val table = "graft_sswin_stream_spec"
    try {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val docs = Tables.documents(spark, sf).select("doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val (b1, b2) = docs.splitAt(docs.length / 2)
      val mem = MemoryStream[(Long, String)]
      val q = DocStream.substringWindowStream(
        mem.toDF().toDF("doc_id", "text"), table)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      spark.catalog.refreshTable(table) // foreachBatch wrote via a cloned session
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getInt(5))
      val streamed = DocStream.substringDedupFromWindows(spark, table)
        .collect().map(key).toSeq
      val batch = DedupOps.substringDedup(spark, sf).collect().map(key).toSeq
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("appendPostingsStream: stream-grown inverted index answers probes ≡ full rebuild") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Layout, TextOps}
    val base = "graft_inv_stream_spec"
    val ref = "graft_inv_stream_spec_ref"
    try {
      Layout.dropEpochFamily(spark, base, sidecars = Seq("_stats"))
      Layout.dropEpochFamily(spark, ref, sidecars = Seq("_stats"))
      val all = Tables.documents(spark, sf).select("doc_id", "text")
      val cut = all.agg(expr("percentile(doc_id, 0.5)")).collect()(0).getDouble(0)
      // bootstrap: bulk-build epoch 0 from the first half of the corpus
      val streamed = Layout.ensureEpochIndex(spark, base,
        sidecars = Seq("_stats")) { name =>
        TextOps.buildInvertedIndex(spark, name, all.filter(col("doc_id") <= cut))
      }
      // stream the second half in two micro-batches
      val rest = all.filter(col("doc_id") > cut).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val (b1, b2) = rest.splitAt(rest.length / 2)
      val mem = MemoryStream[(Long, String)]
      val q = DocStream.appendPostingsStream(mem.toDF().toDF("doc_id", "text"), base)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      spark.catalog.refreshTable(streamed) // foreachBatch wrote via a cloned session
      spark.catalog.refreshTable(streamed + "_stats")
      // reference: the same corpus bulk-built in one pass
      val full = Layout.ensureEpochIndex(spark, ref,
        sidecars = Seq("_stats")) { name =>
        TextOps.buildInvertedIndex(spark, name, all)
      }
      assert(spark.table(streamed + "_stats").collect().toSeq.map(r =>
          (r.getLong(0), r.getLong(1))) ===
        spark.table(full + "_stats").collect().toSeq.map(r =>
          (r.getLong(0), r.getLong(1))))
      val kw = (n: String) => TextOps.keywordSearchIndex(spark, n).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(kw(streamed) === kw(full))
      assert(kw(streamed).nonEmpty)
      val ph = (n: String) => TextOps.phraseSearchIndex(spark, n).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(ph(streamed) === ph(full))
      assert(ph(streamed).nonEmpty)
    } finally {
      graft.operators.Layout.dropEpochFamily(spark, base, sidecars = Seq("_stats"))
      graft.operators.Layout.dropEpochFamily(spark, ref, sidecars = Seq("_stats"))
    }
  }

  test("dedupLifecycle: half-built + streamed-append band index answers " +
    "the one-pass LSH candidate query exactly") {
    // the driver gate proves this at sf0.01 via the unchanged
    // minhashLshSql oracle; this is the in-process form at sf0.001,
    // compared against the one-pass batch operator itself
    val lifecycle = DedupOps.dedupLifecycle(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // one-pass twin over the lifecycle's quarter corpus
    val onePass = DedupOps.minhashLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(t => t._1 % 4 == 0 && t._2 % 4 == 0)
    assert(lifecycle.toSeq === onePass.toSeq)
    assert(lifecycle.nonEmpty)
    // a second call rotates a fresh epoch and still answers identically
    // (the rebuild-every-call contract the bench floor documents)
    val again = DedupOps.dedupLifecycle(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === onePass.toSeq)
  }

  test("dedupLifecycle epoch stays exchange-free under the candidate " +
    "self-join after streamed appends (bucket spec preserved)") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val df = DedupOps.dedupLifecycle(spark, sf)
      df.count()
      val all = df.queryExecution.executedPlan.toString.split("\n").toSeq
      val lines = all.takeWhile(!_.contains("== Initial Plan =="))
      val smj = lines.indexWhere(_.contains("SortMergeJoin"))
      val lastScan = lines.lastIndexWhere(_.contains("graft_mh_lc"))
      assert(smj >= 0 && lastScan > smj, all.mkString("\n"))
      assert(!lines.slice(smj + 1, lastScan + 1).exists(_.contains("Exchange")),
        "band self-join over the build+append epoch must read both sides " +
          s"co-located:\n${all.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      graft.operators.Layout.dropEpochFamily(spark,
        DedupOps.dedupLifecycleBase(sf))
    }
  }

  test("curationLifecycle: half-batch + half-streamed curation equals " +
    "the one-pass batch stages; survivor-invariance holds") {
    // the driver gate proves this at sf0.01 via curationLifecycleSql;
    // this is the in-process form vs the batch expressions themselves
    import graft.operators.TextOps
    val got = CurationOps.curationLifecycle(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expect = Tables.documents(spark, sf)
      .select(md5(col("text")).as("key_hash"),
        CurationOps.scrubbedText(col("text")).as("text"))
      .withColumn("scrubbed_md5", md5(col("text")))
      .withColumn("quality_cents", TextOps.classifierMarginCents(col("text")))
      .filter(col("quality_cents") >= 0L)
      .select(col("key_hash"), col("scrubbed_md5"), col("quality_cents"))
      .distinct().orderBy(col("key_hash"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === expect.toSeq)
    assert(got.nonEmpty)
    // survivor-invariance precondition of the gate: same key ⟹ same
    // (scrubbed_md5, quality) — full-content keying makes any
    // replay-order survivor equivalent
    assert(got.groupBy(_._1).forall(_._2.distinct.size == 1))
    // a second call rotates a fresh epoch and answers identically
    val again = CurationOps.curationLifecycle(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(again.toSeq === expect.toSeq)
  }

  test("curationLifecycle NEGATIVE CONTROL: full-content keying is " +
    "load-bearing — prefix keying leaks replay order, content keying " +
    "does not") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two docs sharing the batch exactKey's 40-char prefix, differing
    // after — the 232-collision class at sf0.1
    val prefix = "shared forty character prefix padding xx"
    assert(prefix.length == 40)
    val a = (1L, prefix + " spark fast query tail one")
    val b = (2L, prefix + " spark fast query tail two")
    def runOrder(key: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
        order: Seq[(Long, String)]): Set[String] = {
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().toDF("doc_id", "text")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
        .withWatermark("ts", "365 days")
        .withColumn("key_hash", key(col("text")))
        .dropDuplicatesWithinWatermark("key_hash")
        .withColumn("scrubbed_md5",
          md5(CurationOps.scrubbedText(col("text"))))
      val qn = s"curlc_nc_${System.nanoTime()}"
      val q = stream.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      order.foreach { d => mem.addData(d); q.processAllAvailable() }
      q.stop()
      spark.table(qn).select("scrubbed_md5").collect().map(_.getString(0)).toSet
    }
    val prefixKey = (c: org.apache.spark.sql.Column) => DedupOps.exactKey(c)
    val contentKey = (c: org.apache.spark.sql.Column) => md5(c)
    // prefix keying: the surviving row's downstream values depend on
    // which same-prefix doc arrived first — replay order reaches the
    // output
    val pAB = runOrder(prefixKey, Seq(a, b))
    val pBA = runOrder(prefixKey, Seq(b, a))
    assert(pAB !== pBA,
      "prefix keying should leak replay order on same-prefix docs")
    // content keying: both orders emit both contents — order-free
    val cAB = runOrder(contentKey, Seq(a, b))
    val cBA = runOrder(contentKey, Seq(b, a))
    assert(cAB === cBA && cAB.size == 2)
  }

  test("substringLifecycle: half-built + streamed window-hash state " +
    "yields the one-pass substring metrics exactly") {
    val got = DedupOps.substringLifecycle(spark, sf).collect().map(_.toSeq)
    val expect = DedupOps.substringDedup(spark, sf).collect().map(_.toSeq)
    assert(got.toSeq === expect.toSeq)
    assert(got.nonEmpty)
  }

  test("decontaminateLifecycle: streamed candidate state + one indexed " +
    "verification equals the one-pass fuzzy triage") {
    val got = CurationOps.decontaminateLifecycle(spark, sf)
      .collect().map(_.toSeq)
    val expect = CurationOps.decontaminateFuzzy(spark, sf)
      .collect().map(_.toSeq)
    assert(got.toSeq === expect.toSeq)
    assert(got.nonEmpty)
  }
}
