package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational-algebra breadth queries: the categories the reference
  * lacks entirely (SURVEY.md §2a "explicitly absent" list) exercised
  * through Spark built-ins, so "we get these for free from Catalyst"
  * is a verified claim, not an assertion — outer/semi/anti joins,
  * distinct aggregation, ROLLUP grouping sets, set operations, and
  * aggregation window frames.
  *
  * Scale notes: all of these plan as ordinary shuffled hash/sort-merge
  * operators with map-side partials where applicable; semi/anti joins
  * broadcast their lookup side exactly like inner joins. ROLLUP
  * duplicates input once per grouping-set level in the Expand operator
  * — at 100 TB prefer two-level partial rollups (agg fine, then agg
  * the aggregate) when the level count is large; at 2 levels Expand
  * is the right plan.
  */
object RelOps {

  /** LEFT OUTER contrast to the reference's inner-join view: clients
    * with NO orders appear with order_count = 0 (COUNT(col) skips the
    * null-extended rows).
    */
  def outerOrderCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"), col("o_orderkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_custkey").as("client_id"))
      .agg(count(col("o_orderkey")).as("order_count"))
      .orderBy(col("client_id"))
  }

  val outerOrderCountsSql: String =
    """SELECT c.c_custkey AS client_id,
      |  CAST(COUNT(a.o_orderkey) AS BIGINT) AS order_count
      |FROM customer c LEFT JOIN orders a ON c.c_custkey = a.o_custkey
      |GROUP BY c.c_custkey
      |ORDER BY client_id""".stripMargin

  /** LEFT ANTI: customers with no urgent-priority order (every customer
    * has SOME order in the fixtures, so the anti join filters on the
    * urgent subset to produce a non-trivial result).
    */
  def clientsWithoutOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey").as("client_id"))
      .orderBy(col("client_id"))
  }

  val clientsWithoutOrdersSql: String =
    """SELECT c_custkey AS client_id FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders a
      |  WHERE a.o_custkey = c.c_custkey AND a.o_orderpriority = '1-URGENT')
      |ORDER BY client_id""".stripMargin

  /** LEFT SEMI: customers having ≥1 urgent-priority order (semi join
    * yields each customer at most once regardless of match count).
    */
  def clientsWithUrgentOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey").as("client_id"))
      .orderBy(col("client_id"))
  }

  val clientsWithUrgentOrdersSql: String =
    """SELECT c_custkey AS client_id FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders a
      |  WHERE a.o_custkey = c.c_custkey AND a.o_orderpriority = '1-URGENT')
      |ORDER BY client_id""".stripMargin

  /** Distinct aggregation: unique users + events per event_type. */
  def distinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  val distinctUsersSql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Two-phase SALTED aggregation — the skew defeat for hot grouping
    * keys, as an oracle-gated query so "identical result, rebalanced
    * shuffle" is a verified claim: phase 1 groups on (key, salt) —
    * 16-way splitting any hot key across reducers — phase 2 re-groups
    * the 16 partials per key. Counts re-sum exactly; the value sum runs
    * in decimal so the extra aggregation level cannot introduce FP
    * reassociation drift vs the oracle's single-level SUM. (Spark's own
    * AQE skew handling covers JOINS; hot-key AGGREGATION still needs
    * manual salting — this is that operator. Salt = pmod(event_id, 16)
    * is deterministic, so the oracle is the PLAIN single-level GROUP BY:
    * same rows, same values, different shuffle shape.)
    */
  def skewAggTwoPhase(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("v"))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("v")).cast("double").as("value_sum"))
      .orderBy(col("event_type"))

  val skewAggTwoPhaseSql: String =
    """SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Sketch-based distinct counting under the ORACLE GATE: HLL
    * `approx_count_distinct` per event_type — the at-scale replacement
    * for [[distinctUsers]]' exact COUNT(DISTINCT). Exact distinct
    * shuffles every distinct key; the HLL sketch is a fixed-size
    * mergeable state, so the shuffle carries one sketch per group per
    * mapper regardless of cardinality. The HLL estimate itself is
    * engine-specific and can never hash-match DuckDB, so the hashed
    * output carries the EXACT distinct count (value-verified by the
    * oracle) plus `est_ok` — the sketch's 3×rsd error bound EVALUATED
    * IN SPARK. The oracle asserts `TRUE`: an estimate drifting out of
    * bounds flips the boolean and turns the row red in the driver
    * compare. (The exact distinct here exists to judge the sketch —
    * production runs the sketch alone.)
    */
  def approxDistinctUsersGated(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("user_id"), 0.02).as("est"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        (abs(col("est") - col("n_users")) <=
          greatest(lit(1L), ceil(col("n_users") * 0.06).cast("long"))).as("est_ok"))
      .orderBy(col("event_type"))

  val approxDistinctUsersGatedSql: String =
    """SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  TRUE AS est_ok
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** HLL set algebra — the sketch answer to "how many users did BOTH
    * X and Y" without materializing either set: three single-pass
    * HLL++ sketches (clickers, purchasers, their union — the union
    * sketch is what a sketch store would get by merging the first two,
    * built here in the same scan) and inclusion–exclusion
    * `|A∩B| ≈ est(A) + est(B) − est(A∪B)`. Same gated pattern as
    * [[approxDistinctUsersGated]]: Spark computes the exact twin AND
    * the error-bound boolean; the oracle pins the exact values and
    * asserts the bound TRUE, so a sketch regression breaks the hash.
    *
    * Scale: the sketch side is ONE scan, no shuffle beyond the ~kB
    * partial-sketch merge (HLL registers are the combiner state). The
    * exact twin needs the per-user flag grain — one combiner-reduced
    * shuffle on user_id — and is exactly the cost the sketch path
    * avoids at 100 TB; it exists here as the gate. Intersection error
    * compounds three sketches, hence the 5%-of-(|A|+|B|) bound vs the
    * single-sketch 2% rsd.
    */
  def hllIntersectGated(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val exact = ev.groupBy(col("user_id"))
      .agg(bool_or(col("event_type") === "click").as("c"),
        bool_or(col("event_type") === "purchase").as("p"))
      .agg(sum(when(col("c"), 1L).otherwise(0L)).as("n_click"),
        sum(when(col("p"), 1L).otherwise(0L)).as("n_purchase"),
        sum(when(col("c") && col("p"), 1L).otherwise(0L)).as("n_both"))
    val est = ev.agg(
      approx_count_distinct(when(col("event_type") === "click", col("user_id")), 0.01).as("e_c"),
      approx_count_distinct(when(col("event_type") === "purchase", col("user_id")), 0.01).as("e_p"),
      approx_count_distinct(when(col("event_type").isin("click", "purchase"),
        col("user_id")), 0.01).as("e_u"))
    exact.crossJoin(est) // 1×1 rows — allowlisted bounded cross
      .select(col("n_click"), col("n_purchase"), col("n_both"),
        (abs(col("e_c") + col("e_p") - col("e_u") - col("n_both")) <=
          greatest(lit(16L),
            ((col("n_click") + col("n_purchase")) * 0.05).cast("long"))).as("inter_ok"))
  }

  val hllIntersectGatedSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |         BOOL_OR(event_type = 'click') AS c,
      |         BOOL_OR(event_type = 'purchase') AS p
      |  FROM events GROUP BY 1
      |)
      |SELECT CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |       CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |       CAST(SUM(CASE WHEN c AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
      |       TRUE AS inter_ok
      |FROM f""".stripMargin

  /** Count-Min JOIN-CARDINALITY estimation (Cormode & Muthukrishnan '05
    * §4.2, the inner-product query) — the sixth mergeable summary, and
    * the one a query PLANNER runs: estimate |A ⋈ B| on a key without
    * executing the join, from one corpus-independent sketch per side.
    * Each side's key stream fills a d×w counter table (same seeded-
    * xxhash64 scheme as TextOps.countMinGated, so a table's sketch is
    * maintainable by integer addition under appends — counters are
    * count-additive by construction); the estimate is
    * `min_i Σ_b a_i[b]·b_i[b]`. Every collision only ADDS mass, so
    * `est ≥ exact` is structural; `est_le` checks the sized ε·|A|·|B|
    * envelope (slack 8·|A|·|B|/w — the Markov-bound headroom argument
    * on countMinGated, per row 1/8, all d rows ≈ 2.4e-4). Two
    * scenarios ship: the FK join orders⋈lineitem, and the self-join
    * size of events on user_id — the second frequency moment F2, the
    * classic CM application (a self-join estimate is what warns a
    * planner about a skewed key BEFORE the shuffle).
    *
    * Like every gated sketch, the row carries the exact twin (computed
    * as Σ_k cnt_A(k)·cnt_B(k) over the key-grain count frames — itself
    * far cheaper than the join it predicts) plus the two
    * Spark-evaluated bound booleans; the oracle pins the exact values
    * and asserts the booleans TRUE, so a sketch regression breaks the
    * hash. All inner-product arithmetic runs in DECIMAL(38,0) — counter
    * products overflow BIGINT long before 100 TB.
    *
    * Scale shape: each sketch is one scan with the d·w counter table as
    * the combiner state (fixed size at any corpus); the inner product
    * joins two ≤ d·w frames. Nothing here is corpus-sized after the
    * scans. The exact twin's key-grain join is the priced-in judge.
    */
  private[graft] val JcDepth = 4
  private[graft] val JcWidth = 1L << 16

  /** d×w counter frame (i, b, c) over a one-column `k` key frame. */
  private[graft] def cmsKeyCounters(keys: DataFrame, d: Int, w: Long): DataFrame =
    keys.select(explode(array((0 until d).map(i =>
        struct(lit(i).as("i"), pmod(xxhash64(col("k"), lit(i)), lit(w)).as("b"))): _*))
        .as("ib"))
      .select(col("ib.i").as("i"), col("ib.b").as("b"))
      .groupBy(col("i"), col("b")).agg(count(lit(1)).as("c"))

  /** 1-row (est DECIMAL(38,0)) Count-Min inner-product estimate from two
    * counter frames. Inner join: a bucket absent on either side
    * contributes 0 to that row's product. */
  private[graft] def cmsJoinEstimate(ca: DataFrame, cb: DataFrame): DataFrame = {
    val perRow = ca.select(col("i"), col("b"), col("c").as("ca"))
      .join(cb.select(col("i"), col("b"), col("c").as("cb")), Seq("i", "b"))
      .groupBy(col("i"))
      .agg(sum(col("ca").cast("decimal(18,0)") * col("cb").cast("decimal(18,0)"))
        .as("ip"))
    // the min must range over ALL depth rows: a row whose buckets never
    // overlap has a true per-row inner product of 0 but is dropped by
    // the inner join + groupBy above, which would leave the min over
    // only the surviving rows (> the Count-Min min-of-rows definition,
    // and possibly > the exact size). Re-seat every row index present
    // in either sketch and coalesce its missing product to 0; an
    // entirely EMPTY pair of sketches estimates 0 via the outer
    // coalesce (the true inner product with the empty multiset).
    ca.select(col("i")).union(cb.select(col("i"))).distinct()
      .join(perRow, Seq("i"), "left")
      .agg(coalesce(min(coalesce(col("ip"), lit(0).cast("decimal(38,0)"))),
        lit(0)).cast("decimal(38,0)").as("est"))
  }

  /** 1-row exact join size Σ_k cnt_A(k)·cnt_B(k) in DECIMAL(38,0) —
    * key-grain aggregates joined, never the join itself. */
  private[graft] def exactJoinSize(a: DataFrame, b: DataFrame): DataFrame =
    a.groupBy(col("k")).agg(count(lit(1)).as("na"))
      .join(b.groupBy(col("k")).agg(count(lit(1)).as("nb")), Seq("k"))
      .agg(coalesce(
        sum(col("na").cast("decimal(18,0)") * col("nb").cast("decimal(18,0)")),
        lit(0)).cast("decimal(38,0)").as("exact_ip"))

  def joinCardinalityGated(spark: SparkSession, sfDir: String): DataFrame = {
    val (d, w) = (JcDepth, JcWidth)
    def scenario(pair: String, a: DataFrame, b: Option[DataFrame]): DataFrame = {
      val ca = cmsKeyCounters(a, d, w)
        .localCheckpoint() // ≤ d·w rows, corpus-independent; read twice
      val cb = b.map(cmsKeyCounters(_, d, w).localCheckpoint()).getOrElse(ca)
      val sizes = a.agg(count(lit(1)).as("n_a"))
        .crossJoin(b.getOrElse(a).agg(count(lit(1)).as("n_b")))
      sizes // 1×1×1×1-row crosses — bounded by construction
        .crossJoin(exactJoinSize(a, b.getOrElse(a)))
        .crossJoin(cmsJoinEstimate(ca, cb))
        .select(lit(pair).as("pair"), col("n_a"), col("n_b"),
          col("exact_ip").cast("long").as("exact_rows"),
          (col("est") >= col("exact_ip")).as("est_ge"),
          // (est − exact)·w ≤ 8·|A|·|B| — the ε envelope cross-multiplied
          // so every quantity stays an exact integer (no decimal division)
          ((col("est") - col("exact_ip")) * lit(w) <=
            col("n_a").cast("decimal(18,0)") * col("n_b").cast("decimal(18,0)")
              * lit(8)).as("est_le"))
    }
    scenario("events_user_selfjoin",
        Tables.events(spark, sfDir).select(col("user_id").as("k")), None)
      .unionByName(scenario("orders_lineitem",
        Tables.orders(spark, sfDir).select(col("o_orderkey").as("k")),
        Some(Tables.lineitem(spark, sfDir).select(col("l_orderkey").as("k")))))
      .orderBy(col("pair"))
  }

  val joinCardinalityGatedSql: String =
    """WITH ev AS (
      |  SELECT 'events_user_selfjoin' AS pair,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_a,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_b,
      |    (SELECT CAST(SUM(c * c) AS BIGINT)
      |     FROM (SELECT COUNT(*) AS c FROM events GROUP BY user_id)) AS exact_rows,
      |    TRUE AS est_ge, TRUE AS est_le
      |), ol AS (
      |  SELECT 'orders_lineitem' AS pair,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_a,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_b,
      |    (SELECT CAST(COUNT(*) AS BIGINT)
      |     FROM orders JOIN lineitem ON o_orderkey = l_orderkey) AS exact_rows,
      |    TRUE AS est_ge, TRUE AS est_le
      |)
      |SELECT * FROM ev UNION ALL SELECT * FROM ol
      |ORDER BY pair""".stripMargin

  /** ROLLUP over (status, priority): per-combination, per-status
    * subtotal, and grand-total rows; GROUPING() flags disambiguate the
    * NULLs so the sort is total and engine-portable.
    */
  def rollupOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        // grouping() is only valid inside the rollup's own Aggregate
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        grouping(col("o_orderpriority")).cast("long").as("g_priority"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
      .select(
        col("g_status"), col("g_priority"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy(col("g_status"), col("g_priority"), col("status"), col("priority"))

  val rollupOrdersSql: String =
    """SELECT
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
      |  o_orderstatus AS status,
      |  o_orderpriority AS priority,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_priority, status, priority""".stripMargin

  /** CUBE over (status, priority) — completes the grouping-sets pair
    * with [[rollupOrders]]: all four grouping sets including the
    * per-PRIORITY marginals ROLLUP cannot produce. Same Expand-operator
    * plan shape (×4 levels here); the same two-level-partial caveat
    * from the object scaladoc applies at high level counts.
    */
  def cubeOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        grouping(col("o_orderpriority")).cast("long").as("g_priority"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
      .select(
        col("g_status"), col("g_priority"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy(col("g_status"), col("g_priority"), col("status"), col("priority"))

  val cubeOrdersSql: String =
    """SELECT
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
      |  o_orderstatus AS status,
      |  o_orderpriority AS priority,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_priority, status, priority""".stripMargin

  /** INTERSECT (distinct set semantics): users who both clicked and
    * purchased.
    */
  def usersClickAndPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    e.filter(col("event_type") === "click").select(col("user_id"))
      .intersect(e.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy(col("user_id"))
  }

  val usersClickAndPurchaseSql: String =
    """SELECT user_id FROM events WHERE event_type = 'click'
      |INTERSECT
      |SELECT user_id FROM events WHERE event_type = 'purchase'
      |ORDER BY user_id""".stripMargin

  /** EXCEPT (distinct): users who clicked but never purchased —
    * completes the set-operation trio with T1's UNION ALL and
    * [[usersClickAndPurchase]]'s INTERSECT.
    */
  def usersClickNoPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    e.filter(col("event_type") === "click").select(col("user_id"))
      .except(e.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy(col("user_id"))
  }

  val usersClickNoPurchaseSql: String =
    """SELECT user_id FROM events WHERE event_type = 'click'
      |EXCEPT
      |SELECT user_id FROM events WHERE event_type = 'purchase'
      |ORDER BY user_id""".stripMargin

  /** Aggregation window frame: per-order running total of quantity in
    * line-number order (ROWS UNBOUNDED PRECEDING..CURRENT), the frame
    * shape the reference never uses.
    */
  def runningLineTotals(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("qty"))
      .withColumn("running_qty", sum(col("qty")).over(w))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val runningLineTotalsSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(l_quantity AS DOUBLE) AS qty,
      |  SUM(CAST(l_quantity AS DOUBLE)) OVER (
      |    PARTITION BY l_orderkey ORDER BY l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
      |FROM lineitem
      |WHERE l_orderkey <= 100
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** 7-day trailing moving average of daily order revenue — the time-
    * series smoothing query, WITHOUT the global-ordered window the
    * textbook form plans (an unpartitioned RANGE window drags every
    * row to one partition — the scale-killer PlanAuditSpec bans).
    * Scalable form: ONE combiner-reduced exchange to the day grain,
    * then each day's total is exploded onto the ≤7 target days it
    * contributes to and re-aggregated — a bounded fan-out equi-join in
    * place of an ordered window, exact to the RANGE-frame semantics
    * (average over the EXISTING days in [d−6, d], which the oracle
    * states as a native RANGE INTERVAL window). Revenue floors to
    * integer cents so both engines sum exactly.
    */
  def movingAvgDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("day_cents"))
    val contrib = daily
      .select(col("day"), col("day_cents"),
        explode(array((0 to 6).map(lit): _*)).as("off"))
      .select(date_add(col("day"), col("off")).as("day"),
        col("day_cents").as("c"))
    val win = contrib.groupBy(col("day"))
      .agg(sum(col("c")).as("win_cents"), count(lit(1)).as("win_days"))
    daily.join(win, "day") // inner: drop fan-out days with no real row
      .select(col("day"), col("day_cents"),
        (col("win_cents").cast("double") / col("win_days")).as("ma7_cents"))
      .orderBy(col("day"))
  }

  val movingAvgDailySql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS day_cents
      |  FROM orders GROUP BY 1
      |)
      |SELECT day, day_cents,
      |  CAST(SUM(day_cents) OVER w AS DOUBLE) / COUNT(*) OVER w AS ma7_cents
      |FROM daily
      |WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  /** Equi-width numeric histogram of order totals in exact integer
    * cents — the distribution panel a catalog profiler publishes next
    * to [[GovernanceOps.profileStats]]'s min/max. Bin edges derive
    * from the data's own min/max span with pure integer arithmetic
    * (both engines run the identical div formula), so the 20 bins,
    * their edges, and their counts are all exact.
    *
    * Scale: bounds are one combiner-reduced aggregate (collected — one
    * row); the binning is a row-local expression under a 20-group
    * hash aggregate. Nothing global anywhere.
    */
  def numericHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = Tables.orders(spark, sfDir)
      .select(floor(col("o_totalprice") * 100).cast("long").as("c"))
    // bounds collect: one 3-column row (recompute-safe)
    val b = cents.agg(min(col("c")), max(col("c")), count(lit(1))).head()
    val (cMin, cMax, total) = (b.getLong(0), b.getLong(1), b.getLong(2))
    val span = cMax - cMin + 1
    cents
      .select(expr(s"((c - $cMin) * 20) div $span").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"))
      // edge formula must match MEMBERSHIP: value c lands in bucket b iff
      // (c-cMin)*20 div span == b, i.e. c >= cMin + ceil(b*span/20) — the
      // floor form would claim boundary values for the wrong bin
      .select(col("bucket"),
        (lit(cMin) + expr(s"(bucket * $span + 19) div 20")).as("lo_cents"),
        (lit(cMin) + expr(s"((bucket + 1) * $span + 19) div 20") - 1).as("hi_cents"),
        col("n_rows"),
        (col("n_rows").cast("double") / lit(total.toDouble)).as("frac"))
      .orderBy(col("bucket"))
  }

  val numericHistogramSql: String =
    """WITH c AS (
      |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders
      |), b AS (
      |  SELECT MIN(c) AS cmin, MAX(c) AS cmax,
      |         CAST(COUNT(*) AS BIGINT) AS total FROM c
      |), g AS (
      |  SELECT ((c.c - b.cmin) * 20) // (b.cmax - b.cmin + 1) AS bucket,
      |         CAST(COUNT(*) AS BIGINT) AS n_rows
      |  FROM c, b GROUP BY 1
      |)
      |SELECT bucket,
      |  b.cmin + (bucket * (b.cmax - b.cmin + 1) + 19) // 20 AS lo_cents,
      |  b.cmin + ((bucket + 1) * (b.cmax - b.cmin + 1) + 19) // 20 - 1 AS hi_cents,
      |  n_rows,
      |  CAST(n_rows AS DOUBLE) / b.total AS frac
      |FROM g, b
      |ORDER BY bucket""".stripMargin

  /** Frequent item PAIRS — the A-Priori first pass of market-basket
    * mining: per order basket, every unordered part pair, counted
    * corpus-wide; top 20 by support. The pair fan-out is bounded by
    * the basket size (≤ C(13,2) here, and small in any retail feed),
    * so the self-join on the basket key explodes per-basket work, not
    * corpus² — the standard scalable formulation. Top-k is a
    * TakeOrdered (per-partition heaps + k-row driver merge), not a
    * global sort; ties break on the (a, b) total order.
    */
  def itemsetPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val items = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("okey"), col("l_partkey"))
      .distinct()
    items.select(col("okey"), col("l_partkey").as("part_a"))
      .join(items.select(col("okey"), col("l_partkey").as("part_b")), "okey")
      .filter(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val itemsetPairsSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey FROM lineitem
      |)
      |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |  CAST(COUNT(*) AS BIGINT) AS support
      |FROM items a JOIN items b
      |  ON a.okey = b.okey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2
      |ORDER BY support DESC, part_a, part_b
      |LIMIT 20""".stripMargin

  /** 2-D SKYLINE (Pareto frontier) of orders — cheapest-for-latest:
    * keep every order NOT strictly dominated (another order at most as
    * expensive AND at least as late, strict in one). The textbook
    * plan is a global (price, date desc) sort with a running max — a
    * single-partition scale killer. Scalable form: price buckets the
    * same bounded-domain trick as [[GovernanceOps.zorderLayout]] —
    * per-bucket max-date reduces to ≤256 rows at any corpus size, the
    * strictly-cheaper-bucket prefix max is a driver scan broadcast
    * back, and the within-bucket strictly-cheaper frontier test is a
    * PARTITIONED range-frame window. Dominance decomposes exactly
    * because the bucket function is monotone in price: a lower bucket
    * is strictly cheaper; an equal bucket defers to the exact
    * within-bucket windows. Duplicated (price, date) points are
    * mutually non-dominating and both survive.
    */
  def skylineOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("pid"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"),
      datediff(to_date(col("o_orderdate")), lit("1990-01-01").cast("date"))
        .cast("long").as("d"))
    skylineOver(pts)
      .select(col("pid").as("o_orderkey"), col("cents"), col("d"))
      .orderBy(col("cents"), col("d"), col("o_orderkey"))
  }

  /** The bucketed skyline core over any (pid, cents, d) frame — minimize
    * cents, maximize d; exposed for the crossover's 1M-point identity
    * check against the textbook global-window plan. Output unsorted. */
  private[graft] def skylineOver(pts: DataFrame): DataFrame = {
    val b = pts.agg(min(col("cents")), max(col("cents"))).head()
    val (cMin, cMax) = (b.getLong(0), b.getLong(1))
    val span = cMax - cMin + 1
    val bucketed = pts.withColumn("bucket", expr(s"((cents - $cMin) * 256) div $span"))
    // ≤256-row bucket maxima → driver exclusive prefix max → broadcast
    val bmax = bucketed.groupBy(col("bucket")).agg(max(col("d")).as("bd"))
      .orderBy(col("bucket")).collect()
    var run = Long.MinValue
    val pref = bmax.map { r =>
      val t = (r.getLong(0), run); run = math.max(run, r.getLong(1)); t
    }.toSeq
    val prefDf = broadcast(
      pts.sparkSession.createDataFrame(pref).toDF("bucket", "pref_d"))
    val byCentsPrev = Window.partitionBy(col("bucket")).orderBy(col("cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val byCents = Window.partitionBy(col("bucket"), col("cents"))
    bucketed.join(prefDf, "bucket")
      .withColumn("prev_d", max(col("d")).over(byCentsPrev))
      .withColumn("cents_max_d", max(col("d")).over(byCents))
      .filter(
        col("d") > greatest(col("pref_d"), coalesce(col("prev_d"), lit(Long.MinValue))) &&
          col("d") === col("cents_max_d"))
      .select(col("pid"), col("cents"), col("d"))
  }

  val skylineOrdersSql: String =
    """WITH pts AS (
      |  SELECT o_orderkey,
      |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |         CAST(date_diff('day', DATE '1990-01-01',
      |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS d
      |  FROM orders
      |), g AS (
      |  SELECT *,
      |    MAX(d) OVER (ORDER BY cents
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_d,
      |    MAX(d) OVER (PARTITION BY cents) AS cents_max_d
      |  FROM pts
      |)
      |SELECT o_orderkey, cents, d
      |FROM g
      |WHERE (prev_d IS NULL OR d > prev_d) AND d = cents_max_d
      |ORDER BY cents, d, o_orderkey""".stripMargin

  /** Pivot: per-user event counts with one column per event type. The
    * value list is EXPLICIT — with it, `pivot` is a single hash
    * aggregate over (user, 5 conditional counts) and needs no
    * distinct-values pre-query; an implicit pivot would scan twice and
    * produce a nondeterministic column order. The oracle is the
    * portable conditional-aggregation form (identical semantics; SQL
    * PIVOT syntax varies by engine).
    */
  def pivotEventCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  val pivotEventCountsSql: String =
    """SELECT user_id,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
      |  CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Unpivot (melt) back to long form via `unpivot` — the inverse
    * surface, wide metric columns → (user, metric, value) rows.
    */
  def unpivotEventCounts(spark: SparkSession, sfDir: String): DataFrame =
    pivotEventCounts(spark, sfDir)
      .unpivot(Array(col("user_id")),
        Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
        "event_type", "n_events")
      .filter(col("n_events") > 0)
      .orderBy(col("user_id"), col("event_type"))

  val unpivotEventCountsSql: String =
    s"""WITH wide AS (${pivotEventCountsSql.replace("ORDER BY user_id", "")})
       |SELECT user_id, event_type, n_events FROM (
       |  SELECT user_id, 'click' AS event_type, click AS n_events FROM wide
       |  UNION ALL SELECT user_id, 'error', error FROM wide
       |  UNION ALL SELECT user_id, 'purchase', purchase FROM wide
       |  UNION ALL SELECT user_id, 'signup', signup FROM wide
       |  UNION ALL SELECT user_id, 'view', view FROM wide)
       |WHERE n_events > 0
       |ORDER BY user_id, event_type""".stripMargin
}
