package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.operators.Layout
import graft.plans.MvJoinRewrite

class MvJoinRewriteSpec extends SparkSpec {

  // sparkPlan, not executedPlan: AQE's AdaptiveSparkPlanExec hides the
  // inner tree from collect() (the PlanAuditSpec precedent)
  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten

  private def rewritten(df: org.apache.spark.sql.DataFrame) =
    MvJoinRewrite.rewrite(spark, sf, df)

  test("join-mv rewrite: the 3-table rollup is transparently served from the MV") {
    val served = MvJoinRewrite.monthlyClientRollup(spark, sf)
    val paths = scanPaths(served)
    assert(paths.nonEmpty)
    assert(paths.forall(_.contains(MvJoinRewrite.mvTable(sf))),
      s"rewritten plan still scans a base table: $paths")
    assert(!paths.exists(p => p.contains("lineitem.parquet") ||
      p.contains("orders.parquet") || p.contains("customer.parquet")))
    // exactness: the unrewritten base query
    val base = MvJoinRewrite.monthlyClientRollupBase(spark, sf)
    assert(scanPaths(base).exists(_.contains("lineitem.parquet")),
      "rule-off control unexpectedly rewritten")
    assert(served.collect().toSeq === base.collect().toSeq)
  }

  test("join-mv negative controls: wrong shape falls through to the base join") {
    val c = Tables.customer(spark, sf).select(col("c_custkey"), col("c_name"))
    val o = Tables.orders(spark, sf).select(col("o_custkey"), col("o_orderkey"))
    val l = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
    def joined = c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
    // day grain is finer than the MV's serving contract? No — the MV
    // IS day-grain, but the rule's contract is month-or-coarser; a
    // day-grain trunc must fall through (mirrors the single-table rule)
    val daily = rewritten(joined
      .groupBy(date_trunc("day", col("l_shipdate")).as("d"), c("c_name"))
      .agg(count(lit(1)).as("n")))
    assert(scanPaths(daily).exists(_.contains("lineitem.parquet")),
      "day-grain query was wrongly rewritten")
    // avg of a measure the MV does not carry (the RAW double price,
    // not the reference's decimal(18,2) cast) must still fall through
    val avgQ = rewritten(joined
      .groupBy(date_trunc("month", col("l_shipdate")).as("m"))
      .agg(avg(col("l_extendedprice")).as("a")))
    assert(scanPaths(avgQ).exists(_.contains("lineitem.parquet")),
      "avg of the un-cast double measure was wrongly rewritten")
    // a 2-table join (missing the customer edge) — different row set
    val twoTable = rewritten(o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("m"))
      .agg(count(lit(1)).as("n")))
    assert(scanPaths(twoTable).exists(_.contains("lineitem.parquet")),
      "2-table join was wrongly served from the 3-table MV")
    // a real value predicate the MV cannot honor
    val filtered = rewritten(c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l.filter(col("l_extendedprice") > 1000),
        o("o_orderkey") === l("l_orderkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("m"), c("c_name"))
      .agg(count(lit(1)).as("n")))
    assert(scanPaths(filtered).exists(_.contains("lineitem.parquet")),
      "value-filtered query was wrongly rewritten")
    // a grouping-free GLOBAL count over the matched join tree: COUNT(*)
    // over an empty base is 0 but SUM(n_tx) over an empty MV is NULL
    // (and flips schema nullability) — the rule must bail out
    val globalCnt = rewritten(joined.agg(count(lit(1)).as("n")))
    assert(scanPaths(globalCnt).exists(_.contains("lineitem.parquet")),
      "global (grouping-free) count was wrongly rewritten")
    // month grain WITHOUT the client key also rewrites (coarser
    // grouping subsets stay derivable), with exact agreement
    def monthOnlyBase = joined
      .groupBy(date_trunc("month", col("l_shipdate")).as("m"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("amt"))
    val monthOnly = rewritten(monthOnlyBase)
    assert(scanPaths(monthOnly).forall(_.contains(MvJoinRewrite.mvTable(sf))),
      "client-free month grouping should be served from the MV")
    assert(monthOnly.orderBy("m").collect().toSeq ===
      monthOnlyBase.orderBy("m").collect().toSeq)
  }

  test("join-mv avg measure: served from the MV via sum/count decomposition, " +
      "BIT-identical to the rule-off Average") {
    val c = Tables.customer(spark, sf).select(col("c_custkey"), col("c_name"))
    val o = Tables.orders(spark, sf).select(col("o_custkey"), col("o_orderkey"))
    val l = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
    def avgQuery = c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("m"), c("c_name"))
      .agg(avg(col("l_extendedprice").cast("decimal(18,2)")).as("a"),
        count(lit(1)).as("n"))
      .orderBy(col("m"), col("c_name"))
    val served = rewritten(avgQuery)
    val paths = scanPaths(served)
    assert(paths.nonEmpty && paths.forall(_.contains(MvJoinRewrite.mvTable(sf))),
      s"avg rollup not served from the MV: $paths")
    // avg result type must be unchanged by the rewrite (decimal(22,6))
    assert(served.schema("a").dataType ===
      org.apache.spark.sql.types.DecimalType(22, 6))
    val got = served.collect()
    val base = avgQuery
    assert(scanPaths(base).exists(_.contains("lineitem.parquet")),
      "rule-off control unexpectedly rewritten")
    // exact java.math.BigDecimal equality — the decomposition must
    // reproduce Average's decimal double-rounding digit for digit
    assert(got.nonEmpty)
    assert(got.toSeq === base.collect().toSeq)
  }

  test("join-mv freshness: regenerating ANY base table rebuilds the MV") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mvjfresh").toString
    try {
      Tables.customer(spark, sf).limit(300)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      Tables.orders(spark, sf).limit(300)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Tables.lineitem(spark, sf).limit(300)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      MvJoinRewrite.ensureMv(spark, dir)
      def fingerprint() =
        Layout.baseFingerprint(spark, dir, Seq("customer", "orders", "lineitem"), "v")
      val fp1 = fingerprint()
      MvJoinRewrite.ensureMv(spark, dir) // steady state: no rebuild
      assert(fingerprint() === fp1)
      assert(spark.table(MvJoinRewrite.mvTable(dir))
        .filter(col("client_email").startsWith("zz_")).count() === 0L)
      // regenerate ONE base table (the dimension, not the fact) with
      // deterministically different content — every client renamed
      Tables.customer(spark, sf).limit(300)
        .withColumn("c_name", concat(lit("zz_"), col("c_name")))
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      assert(fingerprint() !== fp1,
        "fingerprint blind to a rewritten dimension table")
      MvJoinRewrite.ensureMv(spark, dir)
      val renamed = spark.table(MvJoinRewrite.mvTable(dir))
        .filter(col("client_email").startsWith("zz_")).count()
      val total = spark.table(MvJoinRewrite.mvTable(dir)).count()
      assert(total > 0 && renamed === total,
        s"stale MV served after dimension regeneration ($renamed/$total renamed)")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${MvJoinRewrite.mvTable(dir)}")
      spark.sql(s"DROP TABLE IF EXISTS ${MvJoinRewrite.mvTable(dir)}_fp")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("mv lifecycle: bulk half + streamed delta appends ≡ the one-shot rollup, " +
      "and the streamed half actually lands as appended partials") {
    val base = MvJoinRewrite.mvLifecycleBase(sf)
    try {
      val got = MvJoinRewrite.mvLifecycle(spark, sf).collect()
      // one-shot twin over the lifecycle's quarter of the fact table
      val want = MvJoinRewrite.monthlyClientRollupOf(spark, sf,
        Tables.lineitem(spark, sf)
          .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
          .filter(col("l_orderkey") % 4 === 0)).collect()
      assert(got.nonEmpty)
      assert(got.toSeq === want.toSeq)
      // provenance check: the epoch holds MORE partial rows than the
      // bulk (l_orderkey % 8 = 0) leg alone produced — the streamed
      // deltas are load-bearing, not vacuously empty
      val t = Layout.currentEpochTable(spark, base).get
      val bulkRows = MvJoinRewrite.dayClientPartialsOf(spark, sf,
        Tables.lineitem(spark, sf)
          .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
          .filter(col("l_orderkey") % 8 === 0)).count()
      assert(spark.table(t).count() > bulkRows,
        "no streamed partials landed — the arriving leg never reached the epoch")
    } finally Layout.dropEpochFamily(spark, base)
  }
}
