package graft

import org.apache.spark.sql.functions._
import graft.operators.RelOps

class RelOpsSpec extends SparkSpec {

  test("outer join keeps every client; positive counts match distinct order owners") {
    val outer = RelOps.outerOrderCounts(spark, sf)
    assert(outer.count() === Tables.customer(spark, sf).count()) // every client
    val withOrders = outer.filter(col("order_count") > 0).count()
    val ordering = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(withOrders === ordering)
    // count(col) semantics: total equals the orders row count
    assert(outer.agg(sum("order_count")).head().getLong(0) ===
      Tables.orders(spark, sf).count())
  }

  test("semi + anti partition the customer set on the urgent predicate") {
    val semi = RelOps.clientsWithUrgentOrders(spark, sf).count()
    val anti = RelOps.clientsWithoutOrders(spark, sf).count()
    assert(semi + anti === Tables.customer(spark, sf).count())
    assert(semi > 0 && anti > 0)
  }

  test("rollup has per-pair rows, per-status subtotals, one grand total") {
    val r = RelOps.rollupOrders(spark, sf).collect()
    val grand = r.filter(x => x.getLong(0) == 1 && x.getLong(1) == 1)
    assert(grand.length === 1)
    assert(grand.head.getLong(4) === Tables.orders(spark, sf).count())
    val statusSubtotals = r.filter(x => x.getLong(0) == 0 && x.getLong(1) == 1)
    val detail = r.filter(x => x.getLong(0) == 0 && x.getLong(1) == 0)
    assert(statusSubtotals.map(_.getLong(4)).sum === grand.head.getLong(4))
    assert(detail.map(_.getLong(4)).sum === grand.head.getLong(4))
  }

  test("cube adds the per-priority marginals rollup cannot produce") {
    val c = RelOps.cubeOrders(spark, sf).collect()
    val grand = c.filter(x => x.getLong(0) == 1 && x.getLong(1) == 1)
    assert(grand.length === 1)
    // the rollup-missing grouping set: status aggregated out, priority kept
    val prioMarginals = c.filter(x => x.getLong(0) == 1 && x.getLong(1) == 0)
    assert(prioMarginals.nonEmpty)
    assert(prioMarginals.map(_.getLong(4)).sum === grand.head.getLong(4))
    // cube ⊇ rollup: every rollup row appears identically in the cube
    val r = RelOps.rollupOrders(spark, sf).collect().map(_.toString).toSet
    assert(r.subsetOf(c.map(_.toString).toSet))
  }

  test("running totals end at the per-order sum") {
    val rt = RelOps.runningLineTotals(spark, sf)
    val last = rt.groupBy("l_orderkey").agg(
      max(col("running_qty")).as("final_run"), sum(col("qty")).as("total"))
    assert(last.filter(abs(col("final_run") - col("total")) > 1e-9).count() === 0)
  }

  test("intersect users appear in both event types") {
    val both = RelOps.usersClickAndPurchase(spark, sf).collect().map(_.getLong(0)).toSet
    val e = Tables.events(spark, sf)
    val click = e.filter(col("event_type") === "click")
      .select("user_id").collect().map(_.getLong(0)).toSet
    val buy = e.filter(col("event_type") === "purchase")
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(both === click.intersect(buy))
  }

  test("pivot/unpivot round-trip preserves the per-user counts") {
    val wide = RelOps.pivotEventCounts(spark, sf)
    val long = RelOps.unpivotEventCounts(spark, sf)
    val totalWide = wide.select(
      (col("click") + col("error") + col("purchase") + col("signup") + col("view")).as("t"))
      .agg(sum("t")).head().getLong(0)
    val totalLong = long.agg(sum("n_events")).head().getLong(0)
    assert(totalWide === totalLong)
    assert(totalWide === Tables.events(spark, sf).count())
  }

  test("movingAvgDaily: join form equals a driver sliding-window replay") {
    val d = RelOps.movingAvgDaily(spark, sf).collect()
    val daily = d.map(r => (r.getDate(0).toLocalDate, r.getLong(1))).toMap
    d.foreach { r =>
      val day = r.getDate(0).toLocalDate
      val win = (0 to 6).flatMap(k => daily.get(day.minusDays(k)))
      assert(r.getDouble(2) === win.sum.toDouble / win.size)
    }
    // day grain covers the orders table exactly
    assert(d.map(_.getLong(1)).sum ===
      Tables.orders(spark, sf)
        .agg(sum(floor(col("o_totalprice") * 100).cast("long"))).head().getLong(0))
  }

  test("numericHistogram: bins tile the span, counts cover every order") {
    val d = RelOps.numericHistogram(spark, sf).collect()
    assert(d.map(_.getLong(0)).toSeq === d.map(_.getLong(0)).toSeq.sorted)
    assert(d.map(_.getLong(3)).sum === Tables.orders(spark, sf).count())
    // edges tile without gap or overlap across PRESENT buckets' span
    d.sliding(2).foreach {
      case Array(a, b) =>
        if (b.getLong(0) === a.getLong(0) + 1)
          assert(b.getLong(1) === a.getLong(2) + 1, "adjacent bins must tile")
      case _ =>
    }
    d.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2))
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
    assert(math.abs(d.map(_.getDouble(4)).sum - 1.0) < 1e-12)
    // MEMBERSHIP: every value's assigned bucket must contain it within
    // the REPORTED edges (the floor-edge formula failed this on
    // boundary values; the ceil form is what membership implies)
    val edges = d.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cents = Tables.orders(spark, sf)
      .select(floor(col("o_totalprice") * 100).cast("long")).collect().map(_.getLong(0))
    val (cMin, cMax) = (cents.min, cents.max)
    val span = cMax - cMin + 1
    cents.foreach { c =>
      val b = ((c - cMin) * 20) / span
      val (lo, hi) = edges(b)
      assert(lo <= c && c <= hi, s"value $c outside its bucket $b's edges [$lo,$hi]")
    }
  }

  test("skylineOrders: bucketed two-phase frontier equals brute-force dominance") {
    val d = RelOps.skylineOrders(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pts = Tables.orders(spark, sf).select(
      col("o_orderkey"),
      floor(col("o_totalprice") * 100).cast("long"),
      datediff(to_date(col("o_orderdate")), lit("1990-01-01").cast("date")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominates(p: (Long, Long, Long), q: (Long, Long, Long)) =
      p._2 <= q._2 && p._3 >= q._3 && (p._2 < q._2 || p._3 > q._3)
    val brute = pts.filter(q => !pts.exists(p => dominates(p, q)))
      .sortBy(p => (p._2, p._3, p._1))
    assert(d.toSeq === brute.toSeq)
    assert(d.nonEmpty)
  }

  test("itemsetPairs: support counts replay; top-20 is the true ranking head") {
    val d = RelOps.itemsetPairs(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val counts = items.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val trueTop = counts.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(20)
    assert(d.toSeq === trueTop.map { case (k, n) => (k, n) })
  }

  test("hllIntersect: exact twin matches a driver set replay, sketch bound holds") {
    val r = RelOps.hllIntersectGated(spark, sf).head()
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).collect()
    val clicks = evs.filter(_.getString(1) == "click").map(_.getLong(0)).toSet
    val purchases = evs.filter(_.getString(1) == "purchase").map(_.getLong(0)).toSet
    assert(r.getLong(0) === clicks.size.toLong)
    assert(r.getLong(1) === purchases.size.toLong)
    assert(r.getLong(2) === (clicks & purchases).size.toLong)
    assert(r.getBoolean(3), "inclusion-exclusion estimate left its error bound")
  }

  test("cmsJoinEstimate: equals the min-of-rows inner product re-derived from " +
      "the counter frames; est >= exact even under forced collisions") {
    val s = spark; import s.implicits._
    val a = Seq(1L, 1L, 1L, 2L, 3L, 4L, 5L, 5L).toDF("k")
    val b = Seq(1L, 2L, 2L, 6L, 7L).toDF("k")
    // exact |A ⋈ B| = 3·1 (k=1) + 1·2 (k=2) = 5
    val exact = RelOps.exactJoinSize(a, b).head().getDecimal(0).longValueExact()
    assert(exact === 5L)
    val w = 4L // 7 distinct keys into 4 buckets: collisions guaranteed
    val ca = RelOps.cmsKeyCounters(a, 4, w)
    val cb = RelOps.cmsKeyCounters(b, 4, w)
    val est = RelOps.cmsJoinEstimate(ca, cb).head().getDecimal(0).longValueExact()
    assert(est >= exact, "CMS inner product must never undercount")
    // independent driver re-derivation of min_i Σ_b a_i[b]·b_i[b]
    def toMap(c: org.apache.spark.sql.DataFrame) = c.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (ma, mb) = (toMap(ca), toMap(cb))
    val ips = (0 until 4).map(i => (0L until w).map(bk =>
      ma.getOrElse((i, bk), 0L) * mb.getOrElse((i, bk), 0L)).sum)
    assert(est === ips.min)
  }

  test("cmsJoinEstimate: an empty side estimates 0, not NULL") {
    val s = spark; import s.implicits._
    val a = Seq(1L, 2L, 3L).toDF("k")
    val empty = Seq.empty[Long].toDF("k")
    val est = RelOps.cmsJoinEstimate(
        RelOps.cmsKeyCounters(a, 4, 8L), RelOps.cmsKeyCounters(empty, 4, 8L))
      .head()
    assert(!est.isNullAt(0))
    assert(est.getDecimal(0).longValueExact() === 0L)
  }

  test("cmsJoinEstimate: a depth row with zero overlapping buckets drives " +
      "the min to 0 (disjoint key sets)") {
    val s = spark; import s.implicits._
    // wide sketch, two disjoint singleton keys: overwhelmingly likely no
    // bucket collision in ANY row, so every per-row inner product is 0 —
    // the estimate must be 0, not the min over surviving joined rows
    val a = Seq(1L).toDF("k")
    val b = Seq(2L).toDF("k")
    val est = RelOps.cmsJoinEstimate(
        RelOps.cmsKeyCounters(a, 4, RelOps.JcWidth),
        RelOps.cmsKeyCounters(b, 4, RelOps.JcWidth))
      .head().getDecimal(0).longValueExact()
    val exact = RelOps.exactJoinSize(a, b).head().getDecimal(0).longValueExact()
    assert(exact === 0L)
    assert(est === 0L, "zero-overlap rows must participate in the min")
  }

  test("cms key counters are additive — the sketch merges under appends") {
    val s = spark; import s.implicits._
    val a1 = Seq(1L, 2L, 2L, 9L).toDF("k")
    val a2 = Seq(2L, 3L, 9L, 9L).toDF("k")
    val whole = RelOps.cmsKeyCounters(a1.unionByName(a2), 4, 8L)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (m1, m2) = (toMap(RelOps.cmsKeyCounters(a1, 4, 8L)),
      toMap(RelOps.cmsKeyCounters(a2, 4, 8L)))
    val merged = (m1.keySet ++ m2.keySet).map(k =>
      k -> (m1.getOrElse(k, 0L) + m2.getOrElse(k, 0L))).toMap
    assert(whole === merged)
  }

  test("joinCardinalityGated: both scenarios' bound booleans hold on the corpus") {
    val rows = RelOps.joinCardinalityGated(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("events_user_selfjoin", "orders_lineitem"))
    for (r <- rows) {
      assert(r.getBoolean(4), s"${r.getString(0)}: est < exact (impossible)")
      assert(r.getBoolean(5), s"${r.getString(0)}: est left the ε envelope")
    }
  }
}
