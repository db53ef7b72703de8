package graft

import org.apache.spark.sql.functions._
import graft.operators.RefViews

class RefViewsSpec extends SparkSpec {

  test("importCounts equals actual table counts") {
    val r = RefViews.importCounts(spark, sf).head()
    assert(r.getLong(0) === Tables.customer(spark, sf).count())
    assert(r.getLong(1) === Tables.orders(spark, sf).count())
    assert(r.getLong(2) === Tables.lineitem(spark, sf).count())
  }

  test("clientTransactionCounts: inner-join semantics, counts sum to joined rows") {
    val v = RefViews.clientTransactionCounts(spark, sf)
    val joined = Tables.customer(spark, sf).select(col("c_custkey"))
      .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .count()
    assert(v.agg(sum("transaction_count")).head().getLong(0) === joined)
    // no zero-count rows (INNER join is load-bearing — SURVEY.md Q1)
    assert(v.filter(col("transaction_count") <= 0).count() === 0)
  }

  test("monthlyTransactionSummary month format is yyyy-MM-01") {
    val m = RefViews.monthlyTransactionSummary(spark, sf)
    assert(m.filter(!col("month").rlike("^\\d{4}-\\d{2}-01$")).count() === 0)
  }

  test("monthlyTransactionSummary: decimal-exact internal sum, DOUBLE emission") {
    import org.apache.spark.sql.types.DoubleType
    // the cross-engine key emits DOUBLE (comparator can't canonicalize
    // DECIMAL), and the column must be the exact terminal cast of the
    // decimal(18,2) sum — recomputed here in BigDecimal on the driver
    val dbl = RefViews.monthlyTransactionSummary(spark, sf)
    assert(dbl.schema("total_amount").dataType === DoubleType)
    val lines = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(date_format(col("l_shipdate"), "yyyy-MM-01"), col("c_name"),
        col("l_extendedprice"))
      .collect()
    val expect = lines
      .groupMapReduce(r => (r.getString(0), r.getString(1)))(r =>
        BigDecimal.decimal(r.getDouble(2))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP))(_ + _)
      .map { case (k, v) => k -> v.toDouble }
    val got = dbl.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(got.nonEmpty)
    assert(got === expect)
  }

  test("highTransactionAccounts: HAVING > 2 enforced, date is month start") {
    val h = RefViews.highTransactionAccounts(spark, sf)
    assert(h.filter(col("transaction_count") <= 2).count() === 0)
    assert(h.filter(!col("date").rlike("^\\d{4}-\\d{2}-01$")).count() === 0)
  }

  test("entry smoke: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every queries key has an oracle — no rows-only keys remain") {
    // since round 8 even the sketch keys are oracle-gated: their hashed
    // rows carry exact stats plus Spark-evaluated error-bound booleans
    // the oracle asserts TRUE (engine-specific estimates themselves
    // still never ride the hash)
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
  }

  test("every queries key has a bench regression floor") {
    // a key missing from refMin silently escapes regression flagging —
    // the exact gap the map exists to close
    assert(Bench.refMin.keySet === SparkEntry.queries.keySet)
  }

  test("viewSqlSurface: the DDL/SQL entry path is row-identical to the " +
      "DataFrame form of the same view") {
    val viaSql = RefViews.viewSqlSurface(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val viaDf = RefViews.clientTransactionCounts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(viaSql.nonEmpty)
    assert(viaSql.toSeq === viaDf.toSeq)
    // the view is re-creatable (CREATE OR REPLACE semantics) and reads
    // back identically — the K3 DDL idempotence the reference relies on
    val again = RefViews.viewSqlSurface(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq === viaSql.toSeq)
  }

  test("viewSqlMonthly / viewSqlHigh: the remaining two views' DDL paths are " +
      "row-identical to their DataFrame forms and re-creatable") {
    val monthlySql = RefViews.viewSqlMonthly(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val monthlyDf = RefViews.monthlyTransactionSummary(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(monthlySql.nonEmpty)
    assert(monthlySql.toSeq === monthlyDf.toSeq)
    assert(RefViews.viewSqlMonthly(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq === monthlySql.toSeq) // CREATE OR REPLACE idempotence

    val highSql = RefViews.viewSqlHigh(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val highDf = RefViews.highTransactionAccounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(highSql.nonEmpty)
    assert(highSql.toSeq === highDf.toSeq)
    assert(RefViews.viewSqlHigh(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq === highSql.toSeq)
  }
}
