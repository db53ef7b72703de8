package graft.plans

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.Tables
import graft.operators.Layout

/** Transparent MATERIALIZED-VIEW rewrite — the Calcite/warehouse-MV
  * feature expressed as a Catalyst `Rule[LogicalPlan]`: a registered MV
  * holds day-grain partial aggregates of `orders`, and any
  * month-or-coarser revenue aggregate over the BASE table is rewritten
  * — without the query author doing anything — to re-aggregate the MV
  * instead. At 100 TB this is the difference between scanning a
  * billion-row fact table and a ~10⁵-row summary: the partial-
  * aggregate algebra (count → sum of counts, sum → sum of sums,
  * month(day) ≡ month(ts)) makes the rewrite EXACT, and the driver's
  * oracle gates it — q_mv_rewrite's hash must equal the plain SQL over
  * the base table.
  *
  * Scope: the matcher is deliberately narrow and structural — it fires
  * only when EVERY grouping expression is the status column or a
  * month-or-coarser `date_trunc` of the order date, and EVERY
  * aggregate is `count(*)` or `sum(floor(price × 100))` (matched by
  * `semanticEquals` against templates built from the matched scan's
  * own attributes). Anything else — a finer grain, a different
  * measure, an avg — falls through untouched (the spec's negative
  * control). A production registry would generalize the grain/measure
  * tables; the REWRITE mechanics (attribute mapping, alias/exprId
  * preservation so downstream operators still resolve, merge-aggregate
  * substitution) are exactly what the general rule needs.
  *
  * Applied by [[rewrite]] to one DataFrame's OPTIMIZED plan, so it
  * matches the optimized shape (casts simplified, constants folded);
  * nothing is installed on the session, so a query planned
  * concurrently on it is never rewritten.
  */
object MvRewrite {

  /** Month-or-coarser date_trunc formats whose value is derivable from
    * the MV's day grain. */
  private val CoarseFmts = Set("month", "mon", "mm", "quarter", "year", "yyyy", "yy")

  def mvTable(sfDir: String): String =
    "graft_mv_orders_daily_" + Layout.corpusTag(sfDir)

  /** Build (once per corpus CONTENT) the day-grain partial-aggregate
    * MV: (status, day, n_orders, cents). [[Layout.ensureFresh]] rebuilds
    * it when `orders` is regenerated under the same path, instead of
    * transparently serving stale aggregates. */
  def ensureMv(spark: SparkSession, sfDir: String): String =
    Layout.ensureFresh(spark, mvTable(sfDir), sfDir, Seq("orders"), "mv_orders_daily:v1") { n =>
      Tables.orders(spark, sfDir)
        .groupBy(col("o_orderstatus").as("status"),
          to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100)).as("cents"))
        .write.format("parquet").saveAsTable(n)
    }

  /** The rewrite rule bound to one corpus's base path + MV table. */
  case class OrdersDailyMvRule(spark: SparkSession, sfDir: String)
      extends Rule[LogicalPlan] {

    /** Strip the (possibly computed) Projects the optimizer interposes
      * between the Aggregate and the scan (column pruning +
      * PullOutGroupingExpressions), composing an alias map so grouping/
      * aggregate expressions can be INLINED back to relation-attribute
      * form for matching. */
    private def stripToRelation(plan: LogicalPlan)
        : Option[(LogicalRelation, Map[ExprId, Expression])] = plan match {
      case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.location.rootPaths.exists(
            _.toString.endsWith(s"$sfDir/orders.parquet")) =>
        Some((lr, Map.empty))
      case Project(ps, child) =>
        stripToRelation(child).map { case (rel, inner) =>
          def inline(e: Expression): Expression = e.transformUp {
            case a: AttributeReference if inner.contains(a.exprId) => inner(a.exprId)
          }
          val here = ps.collect {
            case al @ Alias(c, _) => al.exprId -> inline(c)
          }.toMap
          (rel, inner ++ here)
        }
      case _ => None
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
      case agg @ Aggregate(_, _, child, _) =>
        stripToRelation(child).flatMap { case (rel, aliasMap) =>
          rewrite(agg, rel, aliasMap)
        }.getOrElse(agg)
    }

    private def attr(rel: LogicalRelation, name: String): Option[AttributeReference] =
      rel.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }

    private def rewrite(agg: Aggregate, rel: LogicalRelation,
        aliasMap: Map[ExprId, Expression]): Option[LogicalPlan] = {
      // a grouping-free (global) aggregate is not servable: COUNT(*)
      // over an empty base is 0 where SUM(n_orders) over the empty MV
      // is NULL, and Sum's nullable output would change the plan's
      // schema nullability — bail out rather than alter semantics
      if (agg.groupingExpressions.isEmpty) return None
      val (statusA, dateA, priceA) = (
        attr(rel, "o_orderstatus"), attr(rel, "o_orderdate"), attr(rel, "o_totalprice"))
      if (statusA.isEmpty || dateA.isEmpty || priceA.isEmpty) return None

      def inline(e: Expression): Expression = e.transformUp {
        case a: AttributeReference if aliasMap.contains(a.exprId) => aliasMap(a.exprId)
      }

      // strip SubqueryAlias: the main optimizer's EliminateSubqueryAliases
      // already ran, so a spliced-in alias would reach the planner unplanned
      val mv = EliminateSubqueryAliases(
        spark.table(mvTable(sfDir)).queryExecution.analyzed)
      def mvAttr(name: String) = mv.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }.get
      val (mvStatus, mvDay, mvN, mvCents) =
        (mvAttr("status"), mvAttr("day"), mvAttr("n_orders"), mvAttr("cents"))

      // the optimized shape of sum(floor(price * 100)): constants folded
      val centsTemplate: Expression =
        Floor(Multiply(priceA.get, Literal(100.0d)))

      // the trunc child may be the bare (timestamp) attr or a cast of it
      def isDateRef(e: Expression): Boolean = e match {
        case a: AttributeReference => a.semanticEquals(dateA.get)
        case Cast(c, _, _, _) => isDateRef(c)
        case _ => false
      }
      def coarseFmtOf(e: Expression): Option[(Expression, Option[String])] = e match {
        case TruncTimestamp(f @ Literal(fmt, _), d, tz)
            if isDateRef(d) && CoarseFmts(String.valueOf(fmt).toLowerCase) =>
          Some((f, tz))
        case _ => None
      }

      // classify each grouping expression (inlined): the status column,
      // or a month-or-coarser trunc of the order date — anything else
      // means the MV cannot serve this grain
      val sessionTz = Option(spark.sessionState.conf.sessionLocalTimeZone)
      val groupingRepl: Seq[Option[(Expression, NamedExpression)]] =
        agg.groupingExpressions.map { g =>
          val gi = inline(g)
          if (gi.semanticEquals(statusA.get)) Some((g, mvStatus))
          else coarseFmtOf(gi).map { case (fmt, tz) =>
            val e = TruncTimestamp(fmt, Cast(mvDay, TimestampType, sessionTz), tz)
            (g, Alias(e, "_mv_grouping")())
          }
        }
      if (groupingRepl.exists(_.isEmpty)) return None
      val replacements = groupingRepl.flatten

      // attribute-level mapping from the ORIGINAL grouping expr (which
      // downstream aggregate output references by attr when the
      // optimizer pulled it out, or verbatim otherwise) to the new
      // grouping attribute over the MV
      val gAttrOf: Map[Expression, Attribute] = replacements.map {
        case (orig, named) => (orig.canonicalized, named.toAttribute)
      }.toMap

      def mergeAggregate(ae: AggregateExpression): Option[AggregateExpression] =
        ae.aggregateFunction match {
          case Count(Seq(Literal(v, _))) if v != null && !ae.isDistinct =>
            Some(AggregateExpression(Sum(mvN), Complete, isDistinct = false))
          case Sum(e, _) if inline(e).semanticEquals(centsTemplate) && !ae.isDistinct =>
            Some(AggregateExpression(Sum(mvCents), Complete, isDistinct = false))
          case _ => None
        }
      var rewritable = true
      agg.aggregateExpressions.foreach(_.foreachUp {
        case ae: AggregateExpression if mergeAggregate(ae).isEmpty => rewritable = false
        case _ => ()
      })
      if (!rewritable) return None

      // rebuild in normalized shape: Project(mv ++ trunc aliases) under
      // an Aggregate grouping on attributes — the same shape the main
      // optimizer leaves, so planning consumes it directly
      val projected = Project(
        mv.output ++ replacements.collect { case (_, al: Alias) => al }, mv)
      def mapOut(e: Expression): Expression = e match {
        case ae: AggregateExpression => mergeAggregate(ae).get
        case other =>
          gAttrOf.get(other.canonicalized)
            .orElse(gAttrOf.get(inline(other).canonicalized))
            .getOrElse(other match {
              case a: AttributeReference if a.semanticEquals(statusA.get) => mvStatus
              case x => x.mapChildren(mapOut)
            })
      }
      val newGroupings = agg.groupingExpressions.map(mapOut)
      val newAggs = agg.aggregateExpressions.map {
        case a: AttributeReference =>
          Alias(mapOut(a), a.name)(exprId = a.exprId)
        case ne => mapOut(ne).asInstanceOf[NamedExpression]
      }
      Some(Aggregate(newGroupings, newAggs, projected, None))
    }
  }

  /** `df` with every aggregate the MV can serve re-aggregating the MV
    * instead: the rule runs once over `df`'s own optimized plan, which
    * is then re-optimized as a new DataFrame. Ensures the MV first. */
  def rewrite(spark: SparkSession, sfDir: String, df: DataFrame): DataFrame = {
    ensureMv(spark, sfDir)
    GraftColumnBridge.ofRows(spark,
      OrdersDailyMvRule(spark, sfDir)(df.queryExecution.optimizedPlan))
  }

  /** The BASE-table query — written against `orders`, no knowledge of
    * the MV. [[rewrite]] serves it from the MV. */
  private[graft] def monthlyRevenueBase(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100)).as("revenue_cents"))
      .orderBy(col("o_orderstatus"), col("month"))

  /** q_mv_rewrite: the BASE query, rewritten to the MV — the oracle
    * (plain SQL over orders) gates that the transparent rewrite is
    * exact. Only this DataFrame is rewritten; every other query on the
    * session, concurrent ones included, plans as written. */
  def monthlyRevenue(spark: SparkSession, sfDir: String): DataFrame =
    rewrite(spark, sfDir, monthlyRevenueBase(spark, sfDir))

  val monthlyRevenueSql: String =
    """SELECT o_orderstatus,
      |  CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS TIMESTAMP) AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders
      |GROUP BY 1, 2
      |ORDER BY o_orderstatus, month""".stripMargin
}
