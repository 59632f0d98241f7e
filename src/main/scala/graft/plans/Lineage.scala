package graft.plans

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, LogicalPlan, Project, SubqueryAlias, Union, Window => WindowPlan}

/** Column-level VALUE lineage from the analyzed Catalyst plan — the
  * governance / impact-analysis primitive ("which physical columns
  * feed this output column?") every warehouse engine ships. Walking
  * the ANALYZED plan (post-resolution, pre-optimization) means
  * lineage reflects what the user wrote, not what the optimizer
  * rewrote away, and attribute identity is exact: Catalyst `ExprId`s
  * disambiguate same-named columns across tables and self-join arms,
  * so this is not string matching.
  *
  * Value lineage only: columns consumed by filters and join
  * predicates shape WHICH rows flow, not what a value is computed
  * from, and are deliberately excluded (the standard
  * data-vs-control-lineage split). Union branches all contribute
  * (every child's positional column feeds the output column). Known
  * limit: expressions holding ENTIRE sub-plans (scalar/EXISTS
  * subqueries) contribute no sources — their lineage is a plan, not
  * an attribute; extend `definitions` with a SubqueryExpression case
  * if that surface is needed. Plan traversal is driver-side by
  * nature — the input is the plan tree, not data — so the operator
  * costs O(plan size) regardless of corpus scale.
  */
object Lineage extends graft.GateModule {

  /** (table, column) sources keyed by ExprId. The INNERMOST
    * SubqueryAlias is the relation boundary: that is how temp-view /
    * table resolution wraps a relation, its name is the table the
    * query referenced, and its OUTPUT attributes carry the table's
    * column names (the raw leaf below may be a differently-named
    * LocalRelation or a projection). Outer aliases — including the
    * analyzer's `__auto_generated_subquery_name` — pass through.
    * Each reference to the same view resolves with fresh ExprIds, so
    * self-join arms land as distinct sources automatically. */
  private def leafSources(plan: LogicalPlan): Map[Long, (String, String)] =
    plan match {
      case s: SubqueryAlias =>
        val hasInnerAlias =
          s.child.collectFirst { case a: SubqueryAlias => a }.isDefined
        if (hasInnerAlias) leafSources(s.child)
        else s.output.map(a => a.exprId.id -> (s.alias, a.name)).toMap
      case l: LeafNode =>
        l.output.map(a => a.exprId.id -> ("<inline>", a.name)).toMap
      case other =>
        other.children.flatMap(leafSources).toMap
    }

  /** Direct reference sets for every attribute DEFINED by a named
    * expression (Project / Aggregate / Window); pass-through
    * attributes are identity edges already, so only definitions need
    * recording. */
  private def definitions(plan: LogicalPlan): Map[Long, Set[Long]] = {
    val defs = scala.collection.mutable.Map.empty[Long, Set[Long]]
    def add(id: Long, refs: Set[Long]): Unit =
      defs(id) = defs.getOrElse(id, Set.empty) ++ refs
    def record(ne: NamedExpression): Unit = {
      val refs = ne.references.map(_.exprId.id).toSet
      // an AttributeReference "defines" itself; skip identity edges
      if (refs != Set(ne.exprId.id)) add(ne.exprId.id, refs)
    }
    plan.foreach {
      case p: Project => p.projectList.foreach(record)
      case a: Aggregate => a.aggregateExpressions.foreach(record)
      case w: WindowPlan => w.windowExpressions.foreach(record)
      case u: Union =>
        // a Union's output reuses the FIRST child's attributes; every
        // child's positional column is a source of the output column,
        // so fold all branches in (the first child contributes via the
        // leaf/identity path, later children via these edges)
        u.children.foreach { child =>
          u.output.zip(child.output).foreach { case (out, in) =>
            if (out.exprId.id != in.exprId.id)
              add(out.exprId.id, Set(in.exprId.id))
          }
        }
      case _ => ()
    }
    defs.toMap
  }

  /** (output_column, source_table, source_column) triples for every
    * output column of `df`, transitively resolved to relation leaves.
    * Outputs with no column sources (e.g. `count(*)`) contribute no
    * rows. */
  def of(df: DataFrame): Seq[(String, String, String)] = {
    val plan = df.queryExecution.analyzed
    val leaves = leafSources(plan)
    val defs = definitions(plan)
    // a leaf attribute can ALSO carry definition edges (a Union output
    // reuses its first child's attribute), so take both paths
    def resolve(id: Long, seen: Set[Long]): Set[Long] =
      if (seen(id)) Set.empty
      else (if (leaves.contains(id)) Set(id) else Set.empty[Long]) ++
        defs.getOrElse(id, Set.empty)
          .flatMap(r => resolve(r, seen + id))
    plan.output.flatMap { out =>
      resolve(out.exprId.id, Set.empty).toSeq.map { src =>
        val (t, c) = leaves(src)
        (out.name, t, c)
      }
    }.distinct.sorted
  }

  /** Gate: lineage of the star-join SQL — multi-join, aggregation,
    * arithmetic over two source columns, a count(*) with no sources —
    * emitted as rows. Data-independent (a property of the PLAN), so
    * the oracle is a literal VALUES table. */
  def lineageQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.register(spark, dir, "region", "nation", "supplier",
      "lineitem", "orders")
    val df = spark.sql(graft.analytics.CoreQueries.sqlStarJoinText)
    of(df).toDF("out_col", "src_table", "src_col")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "meta_lineage" -> lineageQuery _)

  val oracles: Map[String, String] = Map(
    "meta_lineage" ->
      """SELECT * FROM (VALUES
        |  ('nation', 'nation', 'n_name'),
        |  ('o_orderpriority', 'orders', 'o_orderpriority'),
        |  ('revenue', 'lineitem', 'l_extendedprice'),
        |  ('revenue', 'lineitem', 'l_discount'))
        |AS t(out_col, src_table, src_col)""".stripMargin)
}
