package graft.plans

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, HintInfo, Join, JoinHint, LogicalPlan, Project, SHUFFLE_MERGE}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Layout, RelOps}

/** Sketch-driven join planning — the planner CONSUMER of the Count-Min
  * join-cardinality estimate (RelOps.cmsJoinEstimate, the q_join_cardinality
  * sketch; Cormode & Muthukrishnan '05 §4.2). The reference's own flagship
  * query is a 3-table join chain (main.py:186-188), exactly where a static
  * byte-size broadcast threshold mis-judges: parquet compression makes a
  * wide table look small, a skewed self-join looks harmless until the
  * probe side explodes. This rule decides from the DATA's own sketch
  * instead:
  *
  *  - a ≤ d×w counter sketch per registered table/key (corpus-independent
  *    size, counter-additive under appends — the same scheme the gated
  *    key proves bounds for) yields est|A ⋈ B| without running the join
  *    and the EXACT row count n per side (Σ of any counter row);
  *  - **explosion gate**: est > [[ExplosionFactor]]·(n_a + n_b) means the
  *    join output dwarfs its inputs (the F2/skew tripwire — a
  *    broadcast-hash join would funnel that explosion through
  *    un-rebalanceable probe tasks, while a shuffle join lets AQE split
  *    skewed partitions at the join itself) → hint SHUFFLE_MERGE;
  *  - otherwise, if the smaller side's exact ROW count is under
  *    [[BroadcastRowCap]] → hint BROADCAST on that side, overriding a
  *    byte-threshold that refused (the row count from the maintained
  *    sketch is current even when file-size stats are stale or the
  *    static threshold was conservatively disabled);
  *  - anything the sketch does not describe — an unregistered table, a
  *    renamed key, a value-filtered side (the sketch summarizes the
  *    UNFILTERED table), a pre-existing user hint — is left untouched.
  *
  * Like the MV rewrites this is a real `Rule[LogicalPlan]`, applied by
  * [[rewrite]] to one DataFrame's optimized plan and never installed on
  * the session; decisions are plan-level only (join hints), so the
  * rule can never change results — CmsJoinPlannerSpec asserts the plan
  * flips both ways (low estimate → BroadcastHashJoin under a disabled
  * static threshold; exploding estimate → SortMergeJoin under a static
  * threshold that would have broadcast) plus rule-off row identity, and
  * q_cms_join_planned gates result identity end to end.
  *
  * Scale shape: the stats sidecar is one 3-row catalog table per corpus
  * (built from 4 one-scan sketches, metadata-fingerprint fresh like the
  * MVs); the rule's driver state is that 3-row map. At 100 TB the same
  * sidecar costs four columnar scans amortized over every query that
  * plans against it.
  */
object CmsJoinPlanner {

  /** est > factor·(n_a+n_b) ⇒ the join output explodes past its inputs. */
  val ExplosionFactor = 8L

  /** Broadcast a side only under ~4M rows — ~100 MB of hashed-relation
    * at typical row widths, the executor-memory envelope a 1000-node
    * cluster tolerates. */
  val BroadcastRowCap = 4L * 1024 * 1024

  /** Registered (table, key, table, key) pairs the sidecar sketches:
    * BOTH edges of the reference's Q1 join chain (main.py:186-188 —
    * clients⋈accounts and accounts⋈transactions in the testdata
    * domain mapping) and the events self-join (F2, the skew
    * tripwire). */
  private[graft] val Registry: Seq[(String, String, String, String)] = Seq(
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("events", "user_id", "events", "user_id"))

  /** The base tables the sketches describe — the sidecar's lineage. */
  private[plans] val Sketched: Seq[String] =
    Registry.flatMap { case (ta, _, tb, _) => Seq(ta, tb) }.distinct

  def statsTable(sfDir: String): String =
    "graft_cms_plan_stats_" + Layout.corpusTag(sfDir)

  /** Build (once per corpus CONTENT, [[Layout.ensureFresh]]) the 3-row
    * stats sidecar: (pair, n_a, n_b, est) per registered join edge —
    * four one-scan d×w sketches plus exact side counts, est from the
    * Count-Min inner product. */
  def ensureStats(spark: SparkSession, sfDir: String): String =
    Layout.ensureFresh(spark, statsTable(sfDir), sfDir, Sketched, "cms_stats:v2") { n =>
      val rows = Registry.map { case (ta, ka, tb, kb) =>
        val selfJoin = ta == tb && ka == kb
        val a = Tables.read(spark, sfDir, ta).select(col(ka).as("k"))
        val b = if (selfJoin) a else Tables.read(spark, sfDir, tb).select(col(kb).as("k"))
        val ca = RelOps.cmsKeyCounters(a, RelOps.JcDepth, RelOps.JcWidth)
          .localCheckpoint() // ≤ d·w rows, corpus-independent
        val cb = if (selfJoin) ca
          else RelOps.cmsKeyCounters(b, RelOps.JcDepth, RelOps.JcWidth).localCheckpoint()
        a.agg(count(lit(1)).as("n_a"))
          .crossJoin(b.agg(count(lit(1)).as("n_b")))
          .crossJoin(RelOps.cmsJoinEstimate(ca, cb))
          .select(lit(s"$ta|$ka|$tb|$kb").as("pair"),
            col("n_a"), col("n_b"), col("est"))
      }
      rows.reduce(_.unionByName(_)).coalesce(1)
        .write.format("parquet").saveAsTable(n)
    }

  /** Resolve a join side to a registered base table, tolerating only
    * Projects and IsNotNull-on-any-column Filters (the inner join's
    * own implied constraints — they do not change cardinality of the
    * MATCHED rows the estimate predicts). A value predicate means the
    * sketch no longer describes the input → None. Shared by the hint
    * rule, the reorder rule and [[NdvAggPlanner]] (whose sidecar covers
    * the same four tables) so table resolution cannot drift. */
  private[plans] def sideOf(sfDir: String, plan: LogicalPlan): Option[String] =
    plan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        Sketched.find(t =>
          fs.location.rootPaths.exists(
            _.toString.endsWith(s"$sfDir/$t.parquet")))
      case Project(_, child) => sideOf(sfDir, child)
      case Filter(cond, child) =>
        def onlyNotNull(e: Expression): Boolean = e match {
          case And(a, b) => onlyNotNull(a) && onlyNotNull(b)
          case IsNotNull(_) => true
          case _ => false
        }
        if (onlyNotNull(cond)) sideOf(sfDir, child) else None
      case _ => None
    }

  /** The single equi-condition's ATTRIBUTE pair, left-side first,
    * verified to belong to the respective sides. */
  private[plans] def equiAttrs(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(AttributeReference, AttributeReference)] =
    cond match {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (left.outputSet.contains(a) && right.outputSet.contains(b))
          Some((a, b))
        else if (left.outputSet.contains(b) && right.outputSet.contains(a))
          Some((b, a))
        else None
      case _ => None
    }

  /** Load the stats sidecar as the rules' driver state (3 rows). */
  private[plans] def loadStats(spark: SparkSession, sfDir: String)
      : Map[String, (Long, Long, BigInt)] =
    spark.table(statsTable(sfDir)).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2),
        BigInt(r.getDecimal(3).toBigInteger)))
    }.toMap

  /** The rule bound to one corpus's base paths + stats sidecar. */
  case class CmsJoinHintRule(spark: SparkSession, sfDir: String)
      extends Rule[LogicalPlan] {

    // 3-row driver state, loaded once per rewrite
    private lazy val stats: Map[String, (Long, Long, BigInt)] =
      loadStats(spark, sfDir)

    private def sideOf(plan: LogicalPlan): Option[String] =
      CmsJoinPlanner.sideOf(sfDir, plan)

    private def equiKey(cond: Expression, left: LogicalPlan,
        right: LogicalPlan): Option[(String, String)] =
      equiAttrs(cond, left, right).map { case (a, b) => (a.name, b.name) }

    private def lookup(lt: String, lk: String, rt: String, rk: String)
        : Option[(Long, Long, BigInt)] =
      stats.get(s"$lt|$lk|$rt|$rk").orElse(
        stats.get(s"$rt|$rk|$lt|$lk").map { case (na, nb, est) => (nb, na, est) })

    override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if hint == JoinHint.NONE =>
        (for {
          lt <- sideOf(left)
          rt <- sideOf(right)
          (lk, rk) <- equiKey(cond, left, right)
          (nL, nR, est) <- lookup(lt, lk, rt, rk)
        } yield {
          if (est > BigInt(ExplosionFactor) * BigInt(nL + nR))
            // output explodes past the inputs: shuffle join so AQE can
            // split the skewed partitions the explosion concentrates in
            j.copy(hint = JoinHint(
              Some(HintInfo(Some(SHUFFLE_MERGE))),
              Some(HintInfo(Some(SHUFFLE_MERGE)))))
          else if (math.min(nL, nR) <= BroadcastRowCap) {
            if (nL <= nR)
              j.copy(hint = JoinHint(Some(HintInfo(Some(BROADCAST))), None))
            else
              j.copy(hint = JoinHint(None, Some(HintInfo(Some(BROADCAST)))))
          } else j
        }).getOrElse(j)
    }
  }

  /** `df` with the sketch's join-algorithm hints: the hint rule runs
    * once over `df`'s own optimized plan, which is then re-optimized as
    * a new DataFrame. Ensures the stats sidecar first. */
  def rewrite(spark: SparkSession, sfDir: String, df: DataFrame): DataFrame = {
    ensureStats(spark, sfDir)
    GraftColumnBridge.ofRows(spark,
      CmsJoinHintRule(spark, sfDir)(df.queryExecution.optimizedPlan))
  }

  /** The BASE query — the reference chain's fact edge rolled up per
    * priority, written with no knowledge of the rule. */
  private[graft] def priorityRollupBase(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"))
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("decimal(28,2)").cast("double").as("total_price"))
      .orderBy(col("priority"))
  }

  /** q_cms_join_planned: the base FK-join rollup with the sketch's
    * hints — the low estimate (est ≈ |lineitem|, an FK join) hints the
    * broadcast, and the oracle gates that the re-planned join is exact.
    * A hint holds whatever the static broadcast threshold says, which
    * CmsJoinPlannerSpec asserts under a disabled threshold, so the key
    * leaves the session's threshold alone. */
  def cmsPlannedJoin(spark: SparkSession, sfDir: String): DataFrame =
    rewrite(spark, sfDir, priorityRollupBase(spark, sfDir))

  val cmsPlannedJoinSql: String =
    """SELECT o.o_orderpriority AS priority,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS total_price
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY 1
      |ORDER BY priority""".stripMargin

  // ------------------------------------------------------ join reordering

  /** Reassociate only when the alternative intermediate is at most HALF
    * the written one: the margin makes the rewrite and its reverse
    * mutually exclusive, so re-applying the rule to its own output
    * changes nothing and it never flaps on near-equal estimates. */
  val ReorderMargin = 2L

  /** Sketch-driven JOIN REORDERING — the other half of what a
    * cost-based planner does with cardinality estimates (the hint rule
    * picks the ALGORITHM; this rule picks the ORDER). A user who writes
    * the reference's Q1 chain fact-first —
    * `(orders ⋈ lineitem) ⋈ customer` — materializes a lineitem-sized
    * intermediate where `(customer ⋈ orders) ⋈ lineitem` would have
    * carried an orders-sized one; a static planner cannot see that
    * without statistics, and Spark's CBO needs ANALYZE-collected column
    * stats. This rule reads the same Count-Min sidecar as the hint
    * rule: for `(A ⋈ B on k1) ⋈ C on k2`, when k2's inner-side
    * attribute comes from A and est|A ⋈ C| · [[ReorderMargin]] ≤
    * est|A ⋈ B|, it reassociates to `(A ⋈ C) ⋈ B` (same two edges, same
    * rows — reassociativity of inner joins), wrapping the result in a
    * Project that preserves the original output order, the
    * CostBasedJoinReorder discipline. Anything the sketch does not
    * describe — an unregistered table or edge, a value-filtered side, a
    * user hint, a non-equi condition — is left untouched.
    *
    * Decisions are plan-level only (rows provably identical by
    * reassociativity); CmsJoinPlannerSpec asserts the bottom join flips
    * to {customer, orders} on the fact-first chain, stays put on the
    * well-written chain and on an unregistered-edge chain, with
    * rule-off row identity; q_cms_join_reorder gates result identity
    * end to end under the oracle.
    */
  case class CmsJoinReorderRule(spark: SparkSession, sfDir: String)
      extends Rule[LogicalPlan] {

    private lazy val stats: Map[String, (Long, Long, BigInt)] =
      loadStats(spark, sfDir)

    private def estOf(lt: String, lk: String, rt: String, rk: String)
        : Option[BigInt] =
      stats.get(s"$lt|$lk|$rt|$rk").map(_._3).orElse(
        stats.get(s"$rt|$rk|$lt|$lk").map(_._3))

    /** Peel the column-pruning Projects the optimizer inserts between
      * chained joins — dropping them in a rewrite is safe ONLY when the
      * projectList is pure AttributeReferences (the pruning shape): the
      * top-level Project(top.output) then restores the schema and
      * pruning re-narrows the scan either way. A Project that COMPUTES
      * anything (an Alias from e.g. withColumn between the joins) must
      * stop the peel — dropping it would leave top.output referencing
      * an attribute no child produces, an unresolved plan. Fall through
      * to no-rewrite there rather than risk it. */
    private def innerJoinOf(p: LogicalPlan): Option[Join] = p match {
      case j: Join => Some(j)
      case Project(projectList, child)
          if projectList.forall(_.isInstanceOf[AttributeReference]) =>
        innerJoinOf(child)
      case _ => None
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
      case top @ Join(l, c, Inner, Some(c2), JoinHint.NONE) =>
        (innerJoinOf(l) match {
          case Some(inner @ Join(a, b, Inner, Some(c1), JoinHint.NONE)) =>
            for {
              ta <- sideOf(sfDir, a)
              tb <- sideOf(sfDir, b)
              tc <- sideOf(sfDir, c)
              (aK, bK) <- equiAttrs(c1, a, b)
              (iK, cK) <- equiAttrs(c2, inner, c)
              // which sub-side feeds the top join's key?
              (pivot, pivotT, pivotK, other) <-
                (if (a.outputSet.contains(iK)) Some((a, ta, iK, b))
                 else if (b.outputSet.contains(iK)) Some((b, tb, iK, a))
                 else None): Option[(LogicalPlan, String, AttributeReference, LogicalPlan)]
              estWritten <- estOf(ta, aK.name, tb, bK.name)
              estAlt <- estOf(pivotT, pivotK.name, tc, cK.name)
              if estAlt * BigInt(ReorderMargin) <= estWritten
            } yield Project(top.output,
              Join(Join(pivot, c, Inner, Some(c2), JoinHint.NONE),
                other, Inner, Some(c1), JoinHint.NONE))
          case _ => None
        }).getOrElse(top)
    }
  }

  /** `df` with its join chains reordered by the sketch: the reorder
    * rule runs once over `df`'s own optimized plan, which is then
    * re-optimized as a new DataFrame. Ensures the stats sidecar first. */
  def reorder(spark: SparkSession, sfDir: String, df: DataFrame): DataFrame = {
    ensureStats(spark, sfDir)
    GraftColumnBridge.ofRows(spark,
      CmsJoinReorderRule(spark, sfDir)(df.queryExecution.optimizedPlan))
  }

  /** The BAD-ORDER base query: the reference chain written fact-first,
    * with no knowledge of the rule — the shape a naive user (or a query
    * generator walking FK edges outward from the fact table) produces. */
  private[graft] def segmentRollupBase(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("decimal(28,2)").cast("double").as("total_price"))
      .orderBy(col("segment"))
  }

  /** q_cms_join_reorder: the fact-first chain, reordered — the sketch's
    * est|customer ⋈ orders| ≈ |orders| vs est|orders ⋈ lineitem| ≈
    * |lineitem| carries the reassociation, and the oracle gates that the
    * re-ordered plan is exact. */
  def cmsReorderedJoin(spark: SparkSession, sfDir: String): DataFrame =
    reorder(spark, sfDir, segmentRollupBase(spark, sfDir))

  val cmsReorderedJoinSql: String =
    """SELECT c.c_mktsegment AS segment,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS total_price
      |FROM orders o
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1
      |ORDER BY segment""".stripMargin
}
