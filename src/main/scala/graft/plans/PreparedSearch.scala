package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.PreparedSearches
import org.apache.spark.sql.types.StructType

/** A search whose plan differs from call to call only in its query
  * vector — what [[PreparedSearch]] plans once and binds per call.
  * The vector enters [[frame]]'s plan as the literal side of each
  * `graft_l2_distance`, and nowhere else. */
trait SearchTemplate {

  /** The frames the search reads. Its plan is kept only while every
    * one of them is cached whole. */
  def inputs: Seq[DataFrame]

  /** What the plan depends on besides the inputs' cached data. */
  def key: Any

  /** The columns of [[frame]]. */
  def schema: StructType

  /** The search for one query vector. */
  def frame(query: Array[Double]): DataFrame
}

/** One query vector bound into a [[SearchTemplate]], reading the
  * template's `columns` (indices into its schema) as `output`.
  *
  * A leaf: the caller's optimized plan holds no join, window or top-k.
  * [[PreparedSearchPrune]] narrows `columns` to what the caller reads,
  * so the plan kept for it, and that plan's catalog broadcast, hold
  * only those columns. [[PreparedSearchExec]] runs it. */
case class PreparedSearch(template: SearchTemplate, query: Array[Double],
    columns: Seq[Int], output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {

  override def newInstance(): PreparedSearch =
    copy(output = output.map(_.newInstance()))

  override def computeStats(): Statistics =
    Statistics(sizeInBytes = conf.defaultSizeInBytes)

  /** The same search reading only `attrs` (a subset of `output`), in
    * that order. */
  def select(attrs: Seq[Attribute]): PreparedSearch = copy(
    columns = attrs.map(a => columns(output.indexWhere(_.exprId == a.exprId))),
    output = attrs)

  override def simpleString(maxFields: Int): String =
    s"PreparedSearch ${output.mkString("[", ", ", "]")}"
}

object PreparedSearch {
  /** `query` bound into `template`, reading every column. */
  def apply(template: SearchTemplate, query: Array[Double]): PreparedSearch =
    PreparedSearch(template, query, template.schema.indices,
      template.schema.map(f =>
        AttributeReference(f.name, f.dataType, f.nullable, f.metadata)()))
}

/** Pushes a projection into the [[PreparedSearch]] below it: a plain
  * column list becomes the leaf's output, and any other projection
  * keeps only the columns it references. Spark's column pruning stops
  * at leaves, and pruning here is what keeps the columns a caller
  * does not read out of the held plan and its broadcast. */
case class PreparedSearchPrune(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Project(list, s: PreparedSearch) if list.forall(_.isInstanceOf[Attribute]) &&
        list.map(_.exprId).distinct.size == list.size &&
        list.forall(a => s.output.exists(_.exprId == a.exprId)) =>
      s.select(list.map(_.toAttribute))
    case p @ Project(_, s: PreparedSearch) if !s.outputSet.subsetOf(p.references) =>
      p.copy(child = s.select(s.output.filter(p.references.contains)))
  }
}

/** Plans [[PreparedSearch]] as one [[PreparedSearchExec]]. */
case class PreparedSearchStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: PreparedSearch =>
      PreparedSearchExec(s.template, s.query, s.columns, s.output) :: Nil
    case _ => Nil
  }
}

/** Runs a [[PreparedSearch]] through [[PreparedSearches.execute]]: the
  * held physical plan with this query's vector bound, or, with no plan
  * held, the template's plan built for this call. */
case class PreparedSearchExec(template: SearchTemplate, query: Array[Double],
    columns: Seq[Int], output: Seq[Attribute]) extends LeafExecNode {

  @volatile private var ran: SparkPlan = _

  /** The physical plan the last execution ran. */
  def executed: Option[SparkPlan] = Option(ran)

  override protected def doExecute(): RDD[InternalRow] = {
    val (plan, rows) = PreparedSearches.execute(template, columns, query)
    ran = plan
    rows
  }

  // Spark's collect runs the job through lambdas, and its closure
  // cleaner parses the bytecode of each lambda's defining class on every
  // job (RDD's and SparkContext's: ~7 ms of a 33 ms search, measured in
  // process); a named function is not cleaned. A search returns a few
  // rows: they are copied as they are, not packed into bytes.
  override def executeCollect(): Array[InternalRow] = {
    val rows = execute()
    val parts = new Array[Array[InternalRow]](rows.getNumPartitions)
    sparkContext.runJob(rows, new PreparedSearchExec.CopyRows, parts.indices,
      (i: Int, part: Array[InternalRow]) => parts(i) = part)
    parts.flatten
  }

  override def simpleString(maxFields: Int): String =
    s"PreparedSearch ${output.mkString("[", ", ", "]")}"
}

object PreparedSearchExec {
  /** A partition's rows, copied out of the reused row buffers. */
  final class CopyRows
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow])
      with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
      rows.map(_.copy()).toArray
  }
}
