package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BaseSubqueryExec, ExecSubqueryExpression, ReusedSubqueryExec, ScalarSubquery, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.expr.L2Distance
import graft.plans.SearchTemplate

/** Prepared searches: a [[SearchTemplate]] over cached inputs is
  * planned once, and each later call runs that plan with its own query
  * vector bound in place of the vector literal.
  *
  * The first call on a set of inputs plans and runs the template as
  * any query, under AQE. Its final physical plan is then held. A later
  * call copies that plan with its vector swapped into every
  * `graft_l2_distance` and runs the copy. The copy shares every subtree
  * the vector does not reach: the materialized broadcast and cache
  * stages, and the codegen'd classes, since an array literal is a
  * reference of the generated code, not part of it. So only the
  * scan → top-k → probe job runs, with no analysis, optimization,
  * planning or AQE.
  *
  * Keyed on the template's `key`, the columns read and the ids of the
  * inputs' cached RDDs, in [[BroadcastReuse]]'s per-context registry:
  * unpersisting an input drops the plan, and a re-cached input gets new
  * RDDs and so a new plan. A plan is held only when every input is
  * cached whole (`CacheManager.lookupCachedData`) and every vector
  * literal in it can be re-bound: none sits inside a materialized query
  * stage or a subquery other than a scalar one. Otherwise each call
  * plans the template afresh, through this same code. A scalar subquery
  * keeps its first result for the plan copy that ran it, so each call
  * binds the vector inside it too, into a fresh copy.
  *
  * Concurrent calls are safe: each runs its own copy of the held plan.
  * Copies share nodes, and whole-stage codegen records each node's
  * consumer on the node itself while it generates code, so the copies of
  * one plan are built and code-generated one at a time, before their
  * jobs start; the jobs run concurrently. Calls that race to plan the same inputs
  * each run their own plan, and the first one kept stays. A held plan
  * keeps the session conf of the call that planned it.
  */
object PreparedSearches {

  /** A DataFrame over `plan`. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Runs `template` for `query`, reading its `columns`: the physical
    * plan that ran, and its rows. */
  def execute(template: SearchTemplate, columns: Seq[Int],
      query: Array[Double]): (SparkPlan, RDD[InternalRow]) = {
    val spark = template.inputs.head.sparkSession
    val registry = BroadcastReuse.registry(spark.sparkContext)
    val key = keyOf(template, columns)
    key.flatMap(k => Option(registry.searches.get(k))) match {
      case Some(held) =>
        // code generation sets per-node state (each node's consumer) on
        // the nodes a copy shares with the held plan, so copies of one
        // plan are generated one at a time; their jobs run concurrently
        held.synchronized {
          val plan = bind(held, query)
          (plan, plan.execute())
        }
      case None =>
        val df = template.frame(query)
        val analyzed = df.queryExecution.analyzed
        val plan = frame(spark, Project(columns.map(analyzed.output), analyzed))
          .queryExecution.executedPlan
        val rows = plan.execute()
        val done = top(plan)
        key.filter(_ => bindable(done))
          .foreach(k => BroadcastReuse.keep(spark.sparkContext, registry.searches, k, done))
        (done, rows)
    }
  }

  /** The plans held for `spark`'s context. */
  def held(spark: SparkSession): Seq[SparkPlan] = {
    import scala.jdk.CollectionConverters._
    BroadcastReuse.registry(spark.sparkContext).searches.values.asScala.toSeq
  }

  /** The memo key of `template` read through `columns`, when every
    * input is cached whole. */
  private def keyOf(template: SearchTemplate, columns: Seq[Int])
      : Option[(Any, Seq[Int])] = {
    val cached = template.inputs.map(df => df.sparkSession.sharedState
      .cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]]))
    Option.when(cached.forall(_.isDefined))(
      ((template.getClass, template.key, columns),
        cached.map(_.get.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)))
  }

  /** The final plan of an executed adaptive plan; any other plan as is. */
  private def top(plan: SparkPlan): SparkPlan = plan match {
    case a: AdaptiveSparkPlanExec => top(a.executedPlan)
    case r: ResultQueryStageExec => top(r.plan)
    case other => other
  }

  /** A copy of `plan` with `query` as its vector, and fresh copies of
    * the scalar subqueries it reaches. */
  private def bind(plan: SparkPlan, query: Array[Double]): SparkPlan =
    top(plan).transformDown { case a: AdaptiveSparkPlanExec => top(a) }
      .transformAllExpressions {
        case L2Distance(x, l: Literal) =>
          L2Distance(x, Literal(ArrayData.toArrayData(query), l.dataType))
        case s: ScalarSubquery => s.withNewPlan(bindSubquery(s.plan, query))
      }

  private def bindSubquery(sub: BaseSubqueryExec, query: Array[Double])
      : BaseSubqueryExec = sub match {
    // a leaf over the subquery it reuses: this copy runs its own
    case r: ReusedSubqueryExec => bindSubquery(r.child, query)
    case s => s.withNewChildren(s.children.map(bind(_, query)))
      .asInstanceOf[BaseSubqueryExec]
  }

  /** Whether [[bind]] reaches every vector literal of `plan`. */
  private def bindable(plan: SparkPlan): Boolean = plan match {
    case a: AdaptiveSparkPlanExec => bindable(top(a))
    case r: ReusedSubqueryExec => bindable(r.child)
    case r: ResultQueryStageExec => bindable(r.plan)
    // materialized: a vector bound above a stage never reaches its rows
    case s: QueryStageExec => !holdsVector(s.plan)
    case _ =>
      !plan.expressions.exists(_.exists {
        case s: ScalarSubquery => !bindable(s.plan)
        case e: ExecSubqueryExpression => holdsVector(e.plan)
        case _ => false
      }) && plan.children.forall(bindable)
  }

  private def holdsVector(plan: SparkPlan): Boolean = plan match {
    case a: AdaptiveSparkPlanExec => holdsVector(a.executedPlan)
    case r: ReusedSubqueryExec => holdsVector(r.child)
    case s: QueryStageExec => holdsVector(s.plan)
    // a cache scan's predicates (a copy of the filter above it) only
    // skip cached batches by column statistics, through comparisons of a
    // column with a literal: a distance never does, so which rows the
    // scan returns does not depend on the vector
    case _: InMemoryTableScanExec => false
    case _ =>
      plan.expressions.exists(_.exists {
        case L2Distance(_, _: Literal) => true
        case e: ExecSubqueryExpression => holdsVector(e.plan)
        case _ => false
      }) || plan.children.exists(holdsVector)
  }
}
