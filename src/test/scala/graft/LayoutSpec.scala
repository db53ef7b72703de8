package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

class LayoutSpec extends SparkSpec {

  test("corpusTag: sanitizer-colliding corpus dirs map to distinct tags") {
    val a = "data/sf0.01"
    val b = "data/sf0_01"
    // the sanitized forms DO collide — only the raw-path hash separates
    // them, so one corpus can never silently serve the other's index
    assert(a.replaceAll("[^a-zA-Z0-9]", "_") === b.replaceAll("[^a-zA-Z0-9]", "_"))
    assert(Layout.corpusTag(a) !== Layout.corpusTag(b))
    // pin the format (String.hashCode is JVM-stable by spec): a tag
    // change would orphan every persisted index family on disk
    assert(Layout.corpusTag(a) === f"data_sf0_01_${a.hashCode & 0xFFFFFFFFL}%08x")
  }

  test("tableLocation resolves qualified tables from catalog metadata, not the warehouse") {
    val db = "graft_layout_spec_db"
    val dir = java.nio.file.Files.createTempDirectory("graft-db").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$dir'")
    try {
      spark.sql(s"CREATE TABLE $db.loc_probe USING parquet AS SELECT 1 AS x")
      val loc = Layout.tableLocation(spark, s"$db.loc_probe").toString
      // the real location lives under the database's directory …
      assert(loc.contains(new java.io.File(dir).getName),
        s"$loc not under database location $dir")
      // … and is NOT the derived default-warehouse guess, which is what
      // clearStaleTableLocation would otherwise wrongly delete
      val derived = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        s"$db.loc_probe".toLowerCase).toString
      assert(loc !== derived)
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("bucketed tables sort-merge-join with NO shuffle exchange") {
    // warehouse dir (static conf) is set by TestSpark at session build
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val lineitem = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    Layout.writeBucketed(orders, "b_orders", "o_orderkey", 4)
    Layout.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      // and it's still correct
      assert(joined.count() ===
        orders.join(lineitem, orders("o_orderkey") === lineitem("l_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("epoch rotation: pinned readers keep their snapshot; rollback is a pointer flip") {
    val base = "graft_epoch_spec"
    val s = spark; import s.implicits._
    def build(rows: Seq[(Long, String)])(name: String): Unit =
      Layout.writeBucketed(rows.toDF("id", "v"), name, "id", 4)
    try {
      Layout.dropEpochFamily(spark, base)
      val t0 = Layout.ensureEpochIndex(spark, base)(build(Seq((1L, "a"), (2L, "b"))))
      assert(t0 === Layout.epochTable(base, 0))
      // idempotent resolve: no rebuild while the epoch is intact
      assert(Layout.ensureEpochIndex(spark, base)(_ =>
        fail("must not rebuild a published epoch")) === t0)
      // a reader resolves its snapshot BEFORE the rotation…
      val pinned = spark.table(t0)
      val t1 = Layout.rotateEpoch(spark, base) { name =>
        // …and DURING the new build the old epoch is still the published,
        // fully-readable index (probe-under-old-epoch)
        assert(Layout.currentEpochTable(spark, base) === Some(t0))
        assert(spark.table(t0).count() === 2)
        build(Seq((3L, "c")))(name)
      }
      assert(Layout.currentEpochTable(spark, base) === Some(t1))
      // the pinned snapshot is untouched by the flip
      assert(pinned.count() === 2)
      assert(spark.table(t1).count() === 1)
      // rollback: a pointer flip, no data movement
      assert(Layout.rollbackEpoch(spark, base) === t0)
      assert(Layout.currentEpochTable(spark, base) === Some(t0))
      assert(spark.table(t0).count() === 2)
      // retention: prune drops the rolled-back epoch, keeps the published one
      Layout.pruneEpochs(spark, base, keep = 1)
      assert(!spark.catalog.tableExists(t1))
      assert(spark.catalog.tableExists(t0))
    } finally {
      Layout.dropEpochFamily(spark, base)
    }
  }

  test("pointer cache: a publish from a cloned session is visible to the parent") {
    // r16 (the r15 advice item): currentEpoch caches pointer reads per
    // session; a publish through ANY session of this JVM must
    // invalidate every other session's cached entry — otherwise a
    // foreachBatch clone's rotation would leave the parent serving a
    // stale epoch whose table retention still retains.
    val base = "graft_epoch_xsess_spec"
    val s = spark; import s.implicits._
    def build(rows: Seq[(Long, String)])(name: String): Unit =
      Layout.writeBucketed(rows.toDF("id", "v"), name, "id", 2)
    try {
      Layout.dropEpochFamily(spark, base)
      val t0 = Layout.ensureEpochIndex(spark, base)(build(Seq((1L, "a"))))
      // parent session caches epoch 0
      assert(Layout.currentEpochTable(spark, base) === Some(t0))
      // a CLONED session (the foreachBatch shape) rotates the family
      val clone = spark.newSession()
      val t1 = Layout.rotateEpoch(clone, base)(build(Seq((2L, "b"))))
      // the parent must resolve the NEW epoch, not its cached one
      // (epoch 0's table still exists — existence checks alone would
      // serve the stale snapshot)
      assert(spark.catalog.tableExists(t0))
      assert(Layout.currentEpochTable(spark, base) === Some(t1))
    } finally {
      Layout.dropEpochFamily(spark, base)
    }
  }

  test("epoch ensure guards sidecars: a lost codebook rebuilds instead of failing probes") {
    val base = "graft_epoch_sc_spec"
    val s = spark; import s.implicits._
    var builds = 0
    def build(name: String): Unit = {
      builds += 1
      Layout.writeBucketed(Seq((1L, "a")).toDF("id", "v"), name, "id", 2)
      Seq((1, "cb")).toDF("cid", "c").write.format("parquet").saveAsTable(name + "_cb")
    }
    try {
      Layout.dropEpochFamily(spark, base, sidecars = Seq("_cb"))
      val t0 = Layout.ensureEpochIndex(spark, base, sidecars = Seq("_cb"))(build)
      assert(builds === 1)
      Layout.ensureEpochIndex(spark, base, sidecars = Seq("_cb"))(build)
      assert(builds === 1) // intact epoch resolves without rebuilding
      spark.sql(s"DROP TABLE ${t0}_cb") // half-present index
      val t1 = Layout.ensureEpochIndex(spark, base, sidecars = Seq("_cb"))(build)
      assert(builds === 2)
      assert(t1 === Layout.epochTable(base, 1))
      assert(spark.catalog.tableExists(t1 + "_cb"))
    } finally {
      Layout.dropEpochFamily(spark, base, sidecars = Seq("_cb"))
    }
  }

  test("ensureFresh: a missing or zero-row fingerprint sidecar reads as stale and rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fresh").toString
    val name = "graft_fresh_spec"
    val s = spark; import s.implicits._
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/base.parquet")
    var builds = 0
    def ensure(version: String = "v1"): Unit =
      Layout.ensureFresh(spark, name, dir, Seq("base"), version) { n =>
        builds += 1
        Seq(builds).toDF("build").write.format("parquet").saveAsTable(n)
      }
    def built = spark.table(name).head().getInt(0)
    try {
      ensure(); ensure()
      assert(builds === 1) // a fresh sidecar serves the table as built
      spark.sql(s"DROP TABLE ${name}_fp")
      ensure()
      assert(builds === 2 && built === 2, "a missing sidecar must rebuild")
      // a failure between the sidecar's creation and its data commit
      spark.sql(s"DROP TABLE ${name}_fp")
      Seq.empty[String].toDF("fp").write.format("parquet").saveAsTable(name + "_fp")
      ensure()
      assert(builds === 3 && built === 3, "a zero-row sidecar must rebuild")
      assert(spark.table(name + "_fp").count() === 1L)
      ensure()
      assert(builds === 3) // the rewritten sidecar is fresh again
      ensure("v2")
      assert(builds === 4 && built === 4, "a version bump must rebuild")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"DROP TABLE IF EXISTS ${name}_fp")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("inParallel: a failing unit rethrows only after every sibling has settled") {
    val boom = new IllegalStateException("boom")
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Layout.inParallel(
        () => throw boom,
        () => { Thread.sleep(1000); siblingDone.set(true) })
    }
    assert(e eq boom)
    assert(siblingDone.get, "inParallel rethrew while a sibling was still running")
  }

  test("inParallel: results come back in unit order, whatever order the units finish in") {
    // unit i finishes only after unit i + 1 has: they finish in reverse
    val done = Seq.fill(3)(new java.util.concurrent.CountDownLatch(1))
    def unit(i: Int) = () => {
      if (i < 2) assert(done(i + 1).await(30, java.util.concurrent.TimeUnit.SECONDS))
      done(i).countDown()
      s"unit $i"
    }
    assert(Layout.inParallel((0 until 3).map(unit): _*) === Seq("unit 0", "unit 1", "unit 2"))
  }

  test("runtime bloom filter from a selective build side prunes the probe scan") {
    // The shuffle-join analog of broadcast pruning: when one join side
    // carries a selective filter, Spark's InjectRuntimeFilter builds a
    // bloom filter from it and applies `might_contain` on the OTHER
    // side's scan — at 100 TB this skips most probe-side rows before
    // the shuffle. Off at test scale only because of the 10 GB
    // application-side threshold, so the spec lowers the thresholds to
    // prove the plan shape the production conf would produce.
    val prev = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // shuffle join
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
      val urgent = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val j = li.join(urgent, li("l_orderkey") === urgent("o_orderkey"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") &&
        optimized.contains("bloom_filter_agg"),
        s"expected an injected runtime bloom filter on the probe side:\n$optimized")
      // the filtered plan still returns exactly the unfiltered join's rows
      val expect = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf)
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() === expect)
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
