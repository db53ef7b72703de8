package graft.plans

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.Tables
import graft.operators.Layout

/** NDV-driven AGGREGATE planning — the third planner signal after the
  * CMS hint rule (join algorithm) and the CMS reorder rule (join
  * order): an HLL sidecar of per-column distinct counts consumed by a
  * rule that decides WHERE the aggregation runs relative to a join.
  *
  * The decision is the classic eager/lazy aggregation transform (Yan &
  * Larson, VLDB '95): for `Agg[g](A ⋈ B on k)` where the group keys
  * come from A and every aggregate consumes only B (or counts rows),
  * pre-aggregating B by its join key first —
  * `Agg[g](A ⋈ Agg[k, partials](B))` — shrinks the join's probe input
  * from |B| rows to NDV(B.k) GROUPS and turns the final aggregate into
  * a rollup of partials. Whether that is a win is purely a cardinality
  * question: at NDV(B.k) ≈ |B| the pre-aggregate is a wasted shuffle
  * (every "group" is one row); at NDV ≪ |B| it is the difference
  * between shuffling a 100 TB fact table into a join and shuffling its
  * per-key partials. Spark's CBO only sees this with ANALYZE-collected
  * column stats; this rule reads the engine's own HLL sidecar
  * ([[Registry]] columns, `approx_count_distinct` at 2%, one scan per
  * table, metadata-fingerprint fresh) and rewrites only when
  * `ndv · [[ReductionFactor]] ≤ n_rows` — the sketch error margin is
  * absorbed by the factor-2 slack.
  *
  * Soundness envelope (everything else is left untouched):
  *  - inner single-equi-attr join, no user hint (reuses
  *    [[CmsJoinPlanner.equiAttrs]] so key resolution cannot drift);
  *  - group keys are pure attributes of the NON-pushed side;
  *  - aggregates are Sum over an integral (int/long) pushed-side
  *    attribute, Count(1)/Count(*), or Count(pushed attr) — the
  *    decomposable set whose partial-rollup is EXACT; float/decimal
  *    sums are excluded because re-associating their addition changes
  *    ulps (the engine's exact-integer discipline), and count partials
  *    roll up as sums;
  *  - the pushed side resolves through projections / IsNotNull
  *    filters ([[CmsJoinPlanner.sideOf]]; a value-computing Project
  *    such as a derived `floor(price·100)` measure is still per-row B
  *    state) to ONE registered base table whose join-key column the
  *    sidecar sketches.
  *
  * Correctness does not depend on the estimate: the rewrite is exact
  * for the admitted shape regardless of NDV (duplicate matches on the
  * A side multiply partials exactly as they would multiply rows);
  * NDV only decides whether to do it. NdvAggPlannerSpec asserts the
  * plan flips BOTH ways (FK fact side: 4×-reduction key → pre-agg
  * appears; unique-key side → plan untouched) plus rule-off row
  * identity; q_ndv_agg_planned gates result identity under the oracle
  * with the rule applied by [[rewrite]] (never installed on the session).
  *
  * Scale shape: the sidecar is a ≤|Registry|-row catalog table; the
  * rule's driver state is that map. The rewrite itself REMOVES data
  * movement (pre-agg is map-side-combinable on the fact's natural
  * key), never adds any.
  */
object NdvAggPlanner {

  /** Rewrite only past a 2× sketch-certain reduction: HLL at 2% error
    * cannot turn a no-win (ndv ≈ n) into a "2× win". */
  val ReductionFactor = 2L

  /** Sketched (table, column) pairs: the FK join keys of the reference
    * chain's edges — the fact-side keys eager aggregation targets —
    * plus the PK sides whose ndv ≈ n makes the rule decline. */
  private[graft] val Registry: Seq[(String, String)] = Seq(
    ("lineitem", "l_orderkey"),
    ("orders", "o_orderkey"),
    ("orders", "o_custkey"),
    ("customer", "c_custkey"),
    ("events", "user_id"))

  def statsTable(sfDir: String): String =
    "graft_ndv_stats_" + Layout.corpusTag(sfDir)

  /** Build (once per corpus CONTENT, [[Layout.ensureFresh]]) the NDV
    * sidecar: one row per registered column — (table, column, n_rows,
    * ndv) from ONE scan per table (all of a table's HLLs run in a
    * single Aggregate). */
  def ensureStats(spark: SparkSession, sfDir: String): String = {
    val byTable = Registry.groupBy(_._1).toSeq.sortBy(_._1)
    Layout.ensureFresh(spark, statsTable(sfDir), sfDir, byTable.map(_._1), "ndv_stats:v1") { n =>
      val perTable = byTable.map { case (t, cols) =>
        val aggs = count(lit(1)).as("n_rows") +:
          cols.map { case (_, c) =>
            approx_count_distinct(col(c), 0.02).as(s"ndv_$c") }
        val row = Tables.read(spark, sfDir, t).agg(aggs.head, aggs.tail: _*)
        val stacked = cols.map { case (_, c) =>
          row.select(lit(t).as("table"), lit(c).as("column"),
            col("n_rows"), col(s"ndv_$c").as("ndv"))
        }
        stacked.reduce(_.unionByName(_))
      }
      perTable.reduce(_.unionByName(_)).coalesce(1)
        .write.format("parquet").saveAsTable(n)
    }
  }

  private[plans] def loadStats(spark: SparkSession, sfDir: String)
      : Map[(String, String), (Long, Long)] =
    spark.table(statsTable(sfDir)).collect().map { r =>
      (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))
    }.toMap

  /** The eager-aggregation rule bound to one corpus's sidecar. */
  case class NdvEagerAggRule(spark: SparkSession, sfDir: String)
      extends Rule[LogicalPlan] {

    private lazy val stats: Map[(String, String), (Long, Long)] =
      loadStats(spark, sfDir)

    /** Peel optimizer-inserted pure-attr pruning Projects. */
    private def joinOf(p: LogicalPlan): Option[Join] = p match {
      case j: Join => Some(j)
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        joinOf(child)
      case _ => None
    }

    /** One admitted aggregate: its partial on the pushed side and the
      * rollup that replaces it, sharing the original Alias exprId. */
    private def decompose(agg: NamedExpression, pushed: LogicalPlan,
        idx: Int): Option[(NamedExpression, AttributeReference => NamedExpression)] =
      agg match {
        case al @ Alias(AggregateExpression(Sum(x: AttributeReference, mode), Complete, false, None, _), name)
            if pushed.outputSet.contains(x) &&
              (x.dataType == LongType || x.dataType == IntegerType) =>
          val partial = Alias(AggregateExpression(
            Sum(x, mode), Complete, isDistinct = false), s"_presum_$idx")()
          Some((partial, (pa: AttributeReference) => Alias(
            AggregateExpression(Sum(pa), Complete, isDistinct = false),
            name)(exprId = al.exprId)))
        case al @ Alias(AggregateExpression(Count(children), Complete, false, None, _), name)
            if children.forall {
              case _: Literal => true
              case a: AttributeReference => pushed.outputSet.contains(a)
              case _ => false
            } =>
          val partial = Alias(AggregateExpression(
            Count(children), Complete, isDistinct = false), s"_precnt_$idx")()
          Some((partial, (pa: AttributeReference) => Alias(
            AggregateExpression(Sum(pa), Complete, isDistinct = false),
            name)(exprId = al.exprId)))
        case _ => None
      }

    override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
      case agg @ Aggregate(groupExprs, aggExprs, child, None) =>
        (for {
          j <- joinOf(child)
          if j.joinType == Inner && j.hint == JoinHint.NONE && j.condition.isDefined
          (lk, rk) <- CmsJoinPlanner.equiAttrs(j.condition.get, j.left, j.right)
          // which side is pushable? group keys must ALL come from the
          // other side; every aggregate must decompose over the pushed
          (pushed, keep, jk) <-
            (if (groupExprs.forall(e => e.references.subsetOf(j.left.outputSet)))
              Some((j.right, j.left, rk))
            else if (groupExprs.forall(e => e.references.subsetOf(j.right.outputSet)))
              Some((j.left, j.right, lk))
            else None): Option[(LogicalPlan, LogicalPlan, AttributeReference)]
          if groupExprs.forall(_.isInstanceOf[AttributeReference])
          t <- CmsJoinPlanner.sideOf(sfDir, pushed)
          (n, ndv) <- stats.get((t, jk.name))
          if ndv * ReductionFactor <= n // the sidecar's verdict
          // split the output list: group-key passthroughs (no aggregate
          // function — they stay verbatim) vs true aggregates (every
          // one must decompose over the pushed side)
          decomposed <- {
            val aggOnly = aggExprs.filter(_.exists(
              _.isInstanceOf[AggregateExpression]))
            val ds = aggOnly.zipWithIndex.map {
              case (e, i) => decompose(e, pushed, i) }
            if (ds.forall(_.isDefined) && ds.nonEmpty)
              Some(aggOnly.zip(ds.map(_.get)))
            else None
          }
        } yield {
          val partials = decomposed.map(_._2._1)
          val pre = Aggregate(Seq(jk), jk +: partials, pushed)
          val preAttrs = partials.map(_.toAttribute.asInstanceOf[AttributeReference])
          val rollupByOrig: Map[NamedExpression, NamedExpression] =
            decomposed.zip(preAttrs).map {
              case ((orig, (_, mk)), pa) => orig -> mk(pa) }.toMap
          val newJoin =
            if (pushed eq j.right) j.copy(right = pre)
            else j.copy(left = pre)
          // original output order: group-key passthroughs stay, each
          // aggregate is replaced by its rollup under the SAME exprId
          val newAggExprs = aggExprs.map(e => rollupByOrig.getOrElse(e, e))
          Aggregate(groupExprs, newAggExprs, newJoin)
        }).getOrElse(agg)
    }
  }

  /** `df` with the sidecar's eager-aggregation decisions: the rule runs
    * once over `df`'s own optimized plan, which is then re-optimized as
    * a new DataFrame. Ensures the NDV sidecar first. */
  def rewrite(spark: SparkSession, sfDir: String, df: DataFrame): DataFrame = {
    ensureStats(spark, sfDir)
    GraftColumnBridge.ofRows(spark,
      NdvEagerAggRule(spark, sfDir)(df.queryExecution.optimizedPlan))
  }

  /** The BASE query — the reference chain's fact rollup written with no
    * knowledge of the rule: priorities × (item count, exact cents). */
  private[graft] def priorityCentsBase(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("cents"))
      .orderBy(col("priority"))
  }

  /** q_ndv_agg_planned: the base FK rollup, re-planned — the fact
    * side's 4×-reduction join key must carry the eager-aggregation
    * decision, and the oracle gates that the re-planned aggregate is
    * exact. */
  def ndvPlannedAgg(spark: SparkSession, sfDir: String): DataFrame =
    rewrite(spark, sfDir, priorityCentsBase(spark, sfDir))

  val ndvPlannedAggSql: String =
    """SELECT o.o_orderpriority AS priority,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY 1
      |ORDER BY priority""".stripMargin
}
