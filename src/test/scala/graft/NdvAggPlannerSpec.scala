package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}

import graft.plans.NdvAggPlanner

class NdvAggPlannerSpec extends SparkSpec {

  // sparkPlan, not executedPlan: AQE hides the inner tree (the
  // CmsJoinPlannerSpec precedent). Physical aggregates come in pairs
  // (partial + final) per LOGICAL Aggregate — count logical nodes in
  // the optimized plan instead, the level the rule rewrites.
  private def logicalAggs(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size

  private def physicalAggs(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case a: HashAggregateExec => a
      case a: ObjectHashAggregateExec => a
      case a: SortAggregateExec => a
    }.size

  private def rewritten(df: org.apache.spark.sql.DataFrame) =
    NdvAggPlanner.rewrite(spark, sf, df)

  /** Fact rollup: group keys from orders, aggregates over lineitem —
    * the eager-aggregation shape, pushed key l_orderkey at ~4 rows per
    * key (NDV ≈ n/4, past the 2× gate). */
  private def factRollup = {
    val o = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, sf).select(col("l_orderkey"),
      floor(col("l_extendedprice") * 100).cast("long").as("cents"))
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority").as("p"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .orderBy(col("p"))
  }

  /** The mirror shape: group keys from lineitem, aggregates over
    * orders — pushed key o_orderkey is UNIQUE (ndv ≈ n), the sidecar
    * must decline. */
  private def uniqueKeyRollup = {
    val o = Tables.orders(spark, sf).select(col("o_orderkey"),
      floor(col("o_totalprice") * 100).cast("long").as("ocents"))
    val l = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_returnflag"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_returnflag").as("rf"))
      .agg(sum(col("ocents")).as("ocents"))
      .orderBy(col("rf"))
  }

  test("fact-side FK key (4x reduction) → pre-aggregate appears below the " +
      "join; rule-off rows identical") {
    val served = rewritten(factRollup)
    assert(logicalAggs(served) === 2,
      s"expected the eager pre-aggregate (2 logical Aggregates), got " +
        s"${logicalAggs(served)}:\n${served.queryExecution.optimizedPlan}")
    // the pre-agg groups by the pushed join key
    val pre = served.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.groupingExpressions.exists(_.references.map(_.name)
          .exists(_ == "l_orderkey")) => a
    }
    assert(pre.nonEmpty, "pre-aggregate must group by l_orderkey")
    val got = served.collect()
    val base = factRollup
    assert(logicalAggs(base) === 1,
      "rule-off control must keep the single written aggregate")
    assert(physicalAggs(base) < physicalAggs(served),
      "the rewrite must be visible physically too")
    assert(got.nonEmpty)
    assert(got.toSeq === base.collect().toSeq)
  }

  test("unique pushed key (ndv ≈ n) → the sidecar declines, plan untouched; " +
      "rows identical either way") {
    val served = rewritten(uniqueKeyRollup)
    assert(logicalAggs(served) === 1,
      s"no-win key must not be rewritten:\n${served.queryExecution.optimizedPlan}")
    val got = served.collect()
    assert(got.toSeq === uniqueKeyRollup.collect().toSeq)
  }

  test("sidecar: one row per registered column, ndv within the 2% HLL " +
      "envelope of the exact count, fingerprint-fresh rebuild") {
    NdvAggPlanner.ensureStats(spark, sf)
    val stats = spark.table(NdvAggPlanner.statsTable(sf)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(stats.keySet === NdvAggPlanner.Registry.toSet)
    for (((t, c), (n, ndv)) <- stats) {
      val tf = t match {
        case "customer" => Tables.customer(spark, sf)
        case "orders" => Tables.orders(spark, sf)
        case "lineitem" => Tables.lineitem(spark, sf)
        case "events" => Tables.events(spark, sf)
      }
      assert(n === tf.count(), s"$t n_rows")
      val exact = tf.select(col(c)).distinct().count()
      assert(math.abs(ndv - exact) <= math.max(4L, (exact * 0.08).toLong),
        s"$t.$c ndv=$ndv vs exact=$exact outside the sketch envelope")
    }
    // the FK fact key clears the gate, the PK keys do not — the two
    // decisions the plan-flip tests above rely on
    val (nL, ndvL) = stats(("lineitem", "l_orderkey"))
    assert(ndvL * NdvAggPlanner.ReductionFactor <= nL)
    val (nO, ndvO) = stats(("orders", "o_orderkey"))
    assert(ndvO * NdvAggPlanner.ReductionFactor > nO)
  }

  test("decimal/double sums are outside the envelope: the rule must not " +
      "reassociate float addition") {
    val o = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_extendedprice"))
    val df = rewritten(o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority").as("p"))
      .agg(sum(col("l_extendedprice")).as("s")))
    assert(logicalAggs(df) === 1,
      s"double sum must decline:\n${df.queryExecution.optimizedPlan}")
  }
}
