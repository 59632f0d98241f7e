package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DataType

/** Materialized-view rewrite — the 100 TB optimization every warehouse
  * ships (Oracle MV rewrite, BigQuery/Redshift/Snowflake automatic
  * rewrite, Calcite `MaterializedViewRule`): an aggregate over a huge
  * fact table is answered from a small pre-aggregated summary instead,
  * TRANSPARENTLY — the user query names the base table; a Catalyst
  * rule proves the summary can answer it and swaps the scan.
  *
  * Soundness rests on aggregate ALGEBRA, not data: a query group-set
  * that is a subset of the MV's group columns partitions each query
  * group into whole MV groups, so re-aggregating the MV's partial
  * states with the merge operation of each function (sum of sums,
  * sum of counts, min of mins, max of maxes) is exact for any data.
  * This is the same partial-aggregate contract Spark's own two-phase
  * HashAggregate relies on, applied across a persisted boundary.
  *
  * Scope (deliberately conservative — fire only when provably exact):
  *  - the Aggregate's child is a plain scan of a registered base path
  *    (column-pruning Projects stripped; any Filter blocks the rewrite
  *    because a residual predicate can split MV groups),
  *  - every grouping expression is a bare column among the MV's group
  *    columns,
  *  - every aggregate is count(*) / sum / min / max over a registered
  *    measure (sum optionally through the exact-decimal cast the
  *    money-sum convention uses, Tables.dec), optionally cast at the
  *    top (`dsum`'s final cast-to-double).
  * Anything else leaves the plan untouched. Output attribute ids and
  * types are preserved exactly (aliases re-issue the original exprIds,
  * re-aggregated sums cast back to the original result type), so
  * parent operators never see the swap.
  */
object MvRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvCatalog.isEmpty) plan
    else plan.transformDown {
      case agg: Aggregate => rewrite(agg).getOrElse(agg)
    }

  /** Base-table scan path under optional attribute-only Projects. */
  private def scanPath(p: LogicalPlan): Option[String] = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      scanPath(c)
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.toList match {
          case one :: Nil => Some(one.toUri.getPath)
          case _ => None
        }
      case _ => None
    }
    case _ => None
  }

  private def rewrite(agg: Aggregate): Option[Aggregate] = for {
    path <- scanPath(agg.child)
    mv <- MvCatalog.forBasePath(path)
    groupNames <- traverse(agg.groupingExpressions) {
      case a: AttributeReference if mv.groupCols.contains(a.name) =>
        Some(a.name)
      case _ => None
    }
    mvPlan = graft.Tables.parquet(SparkSession.active, mv.mvPath)
      .queryExecution.analyzed
    mvAttr = mvPlan.output.map(a => a.name -> a).toMap
    newAggs <- traverse(agg.aggregateExpressions)(
      rewriteNamed(_, mv, mvAttr))
  } yield Aggregate(groupNames.map(mvAttr), newAggs, mvPlan)

  /** Option-collecting map: None if any element fails. */
  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.flatMap(f(_).toList)
    if (out.length == xs.length) Some(out) else None
  }

  private def rewriteNamed(ne: NamedExpression, mv: MvDef,
      mvAttr: Map[String, org.apache.spark.sql.catalyst.expressions.Attribute]): Option[NamedExpression] =
    ne match {
      // grouping column flowing through to the output
      case a: AttributeReference if mv.groupCols.contains(a.name) =>
        mvAttr.get(a.name).map(m => Alias(m, a.name)(exprId = a.exprId))
      case al @ Alias(a: AttributeReference, name)
          if mv.groupCols.contains(a.name) =>
        mvAttr.get(a.name).map(m => Alias(m, name)(exprId = al.exprId))
      // aggregate, optionally under a top-level cast (dsum's to-double)
      case al @ Alias(ae: AggregateExpression, name) =>
        rewriteAgg(ae, mv, mvAttr)
          .map(e => Alias(e, name)(exprId = al.exprId))
      case al @ Alias(c: Cast, name) => c.child match {
        case ae: AggregateExpression =>
          rewriteAgg(ae, mv, mvAttr).map(e =>
            Alias(c.withNewChildren(Seq(e)), name)(exprId = al.exprId))
        case _ => None
      }
      case _ => None
    }

  /** Merge-form of one aggregate over the MV's stored partials, cast
    * back to the original result type. */
  private def rewriteAgg(ae: AggregateExpression, mv: MvDef,
      mvAttr: Map[String, org.apache.spark.sql.catalyst.expressions.Attribute]): Option[Expression] = {
    if (ae.isDistinct || ae.filter.isDefined || ae.mode != Complete)
      return None
    // sum must reproduce the MV's exact pre-sum cast (or absence of
    // one); min/max are cast-insensitive (order is), so they match the
    // bare column
    def sumMeasure(e: Expression): Option[String] = e match {
      case a: AttributeReference
          if mv.measures.exists(m => m.col == a.name && m.castTo.isEmpty) =>
        Some(a.name)
      case c: Cast => c.child match {
        case a: AttributeReference if mv.measures.exists(m =>
            m.col == a.name && m.castTo.contains(c.dataType)) =>
          Some(a.name)
        case _ => None
      }
      case _ => None
    }
    def rawMeasure(e: Expression): Option[String] = e match {
      case a: AttributeReference if mv.measures.exists(_.col == a.name) =>
        Some(a.name)
      case _ => None
    }
    ae.aggregateFunction match {
      case Count(Seq(Literal(_, _))) =>
        // count(*): sum of per-group counts; coalesce keeps the
        // original non-nullable long contract
        mvAttr.get(mv.cntCol).map(c => Coalesce(Seq(
          Sum(c).toAggregateExpression(), Literal(0L))))
      case Sum(e, _) => sumMeasure(e).flatMap(m => mvAttr.get(s"sum_$m"))
        .map(s => Cast(Sum(s).toAggregateExpression(), ae.dataType))
      case Min(e) => rawMeasure(e).flatMap(m => mvAttr.get(s"min_$m"))
        .map(s => Min(s).toAggregateExpression())
      case Max(e) => rawMeasure(e).flatMap(m => mvAttr.get(s"max_$m"))
        .map(s => Max(s).toAggregateExpression())
      case _ => None
    }
  }
}

/** One registered measure column: the base column name plus the exact
  * cast (if any) the MV applied before summing — `castTo` must match
  * the query's cast for sum-rewrite to fire (min/max ignore it). */
case class MvMeasure(col: String, castTo: Option[DataType] = None)

/** A registered materialized view: a summary parquet at [[mvPath]]
  * holding `groupCols ++ (cntCol, sum_/min_/max_<measure>...)`,
  * derived from the base table at [[basePath]]. */
case class MvDef(name: String, basePath: String, mvPath: String,
    groupCols: Seq[String], measures: Seq[MvMeasure],
    cntCol: String = "cnt")

/** Process-wide MV registry consulted by [[MvRewrite]]. Keyed by base
  * path; registration is idempotent. A deployment would back this with
  * the metastore — the rule only needs `forBasePath`. */
object MvCatalog {
  private val byBase = new ConcurrentHashMap[String, MvDef]()

  def register(mv: MvDef): Unit =
    byBase.put(new org.apache.hadoop.fs.Path(mv.basePath).toUri.getPath, mv)

  def forBasePath(path: String): Option[MvDef] = Option(byBase.get(path))

  def isEmpty: Boolean = byBase.isEmpty

  def clear(): Unit = byBase.clear()
}
