package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.operators.Layout
import graft.plans.MvRewrite

class MvRewriteSpec extends SparkSpec {

  // sparkPlan, not executedPlan: AQE's AdaptiveSparkPlanExec hides the
  // inner tree from collect() (the PlanAuditSpec precedent)
  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten

  test("mv rewrite: the base-table query is transparently served from the MV") {
    val served = MvRewrite.monthlyRevenue(spark, sf) // ensures the MV, rewrites
    val paths = scanPaths(served)
    assert(paths.nonEmpty)
    assert(paths.forall(_.contains(MvRewrite.mvTable(sf))),
      s"rewritten plan still scans the base table: $paths")
    assert(!paths.exists(_.contains("orders.parquet")))
    // exactness: the unrewritten base query
    val base = MvRewrite.monthlyRevenueBase(spark, sf)
    assert(scanPaths(base).exists(_.contains("orders.parquet")),
      "rule-off control unexpectedly rewritten")
    assert(served.collect().toSeq === base.collect().toSeq)
  }

  test("mv freshness: a regenerated corpus under the same path rebuilds the MV") {
    // temp corpus: copy orders so we can mutate it in place
    val dir = java.nio.file.Files.createTempDirectory("graft-mvfresh").toString
    try {
      Tables.orders(spark, sf).limit(200)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      MvRewrite.ensureMv(spark, dir)
      val before = spark.table(MvRewrite.mvTable(dir)).agg(sum("n_orders")).head().getLong(0)
      // steady state: a second ensure with untouched files must NOT rebuild
      def fingerprint() = Layout.baseFingerprint(spark, dir, Seq("orders"), "v")
      val fp1 = fingerprint()
      MvRewrite.ensureMv(spark, dir)
      assert(fingerprint() === fp1)
      assert(spark.table(MvRewrite.mvTable(dir))
        .agg(sum("n_orders")).head().getLong(0) === before)
      // regenerate the corpus under the SAME path with different content
      Tables.orders(spark, sf).limit(450)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      assert(fingerprint() !== fp1,
        "fingerprint blind to a rewritten base table")
      MvRewrite.ensureMv(spark, dir)
      val after = spark.table(MvRewrite.mvTable(dir)).agg(sum("n_orders")).head().getLong(0)
      assert(after === 450L, s"stale MV served after corpus regeneration (n=$after)")
      assert(before === 200L)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${MvRewrite.mvTable(dir)}")
      spark.sql(s"DROP TABLE IF EXISTS ${MvRewrite.mvTable(dir)}_fp")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("mv rewrite negative controls: finer grain and foreign measures fall through") {
    def rewritten(df: org.apache.spark.sql.DataFrame) = MvRewrite.rewrite(spark, sf, df)
    // day grain is NOT derivable-coarser — must scan the base table
    val daily = rewritten(Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus"),
        date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n")))
    assert(scanPaths(daily).exists(_.contains("orders.parquet")),
      "day-grain query was wrongly rewritten to the month-safe MV")
    // a measure the MV does not carry — must scan the base table
    val avgQ = rewritten(Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus"))
      .agg(avg(col("o_totalprice")).as("a")))
    assert(scanPaths(avgQ).exists(_.contains("orders.parquet")),
      "avg measure was wrongly rewritten")
    // a grouping-free GLOBAL aggregate: COUNT(*) over an empty base is
    // 0 but SUM over an empty MV is NULL (and flips nullability) — bail
    val globalCnt = rewritten(Tables.orders(spark, sf).agg(count(lit(1)).as("n")))
    assert(scanPaths(globalCnt).exists(_.contains("orders.parquet")),
      "global (grouping-free) count was wrongly rewritten")
    // month grain + covered measures from SQL-built expressions also rewrite
    val sqlForm = rewritten(Tables.orders(spark, sf)
      .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
      .agg(sum(floor(col("o_totalprice") * 100)).as("cents")))
    assert(scanPaths(sqlForm).forall(_.contains(MvRewrite.mvTable(sf))),
      "status-free month grouping should also be served from the MV")
  }
}
