package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.expr.L2Distance
import graft.vector.VectorSearch

/** IVF cell pruning for the declarative kNN idiom — the second half of
  * the SURVEY §7.4 strategy: once [[KnnTopKRewrite]] has turned
  * `ORDER BY l2_distance(vec, q) LIMIT k` into [[KnnTopK]], this rule
  * narrows the scan to the query's `nprobe` nearest IVF cells when the
  * corpus carries a REGISTERED cell-assignment column.
  *
  * Opt-in and explicitly approximate: registering an index
  * ([[KnnIvfCatalog.register]]) is the user's declaration that
  * IVF-recall semantics are acceptable for queries over that cell
  * column (the standard pgvector/FAISS IVF trade-off). Nothing is
  * rewritten for unregistered plans, and only NEAREST-neighbor shapes
  * (ascending L2 distance) are pruned — a descending (farthest-point)
  * sort is left exact, since nearest-cell probes would be the wrong
  * cells entirely.
  *
  * Mechanics: the probe cells are computed DRIVER-side from the sort
  * key's literal query vector against the registered centroids (tiny,
  * by construction) by constant-folding the IVF cell model's own
  * nearest-cell kernel ([[VectorSearch.probeCellsOf]]: squared L2,
  * ties to the lowest cell id) — so the pruned cells are exactly the
  * cells the build assigned rows by and `searchIvf` probes, ulp ties
  * included. They are injected as `Filter(cell IN (...))` directly
  * above the KnnTopK child, or — when a projection above the top-k has
  * let column pruning drop the cell column from the child — above the
  * relation under the child's Project/Filter chain, which still reads
  * it. Catalyst's own PushDownPredicates then carries the filter to
  * the scan, where a `partitionBy(cell)` layout turns it into real
  * partition pruning — at 100 TB the query reads `nprobe`
  * directories, not the corpus.
  */
object KnnIvfCatalog {
  /** One registered index: centroid set + probe width, keyed by the
    * cell column NAME. The name IS the opt-in marker the optimizer
    * matches on, and the registry is process-global — so use a
    * distinctive name per corpus (the `ivf_cell` default suits a
    * single-index session; two live indexes need two column names, or
    * the later registration replaces the earlier one). */
  final case class IvfMeta(centroids: Seq[(Long, Seq[Double])], nprobe: Int)

  private val registry = TrieMap.empty[String, IvfMeta]

  def register(cellCol: String, centroids: Seq[(Long, Seq[Double])],
      nprobe: Int): Unit =
    registry.put(cellCol, IvfMeta(centroids, math.max(nprobe, 1)))

  def unregister(cellCol: String): Unit = registry.remove(cellCol)
  def lookup(cellCol: String): Option[IvfMeta] = registry.get(cellCol)
}

case class IvfPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import KnnIvfCatalog._

  /** The literal query vector, if the head key is L2Distance vs one. */
  private def queryVector(e: Expression): Option[Seq[Double]] = {
    def lit(x: Expression): Option[Seq[Double]] = x match {
      case l: Literal if l.value != null =>
        scala.util.Try {
          val ad = l.value.asInstanceOf[
            org.apache.spark.sql.catalyst.util.ArrayData]
          ad.toDoubleArray.toIndexedSeq
        }.toOption
      case _ => None
    }
    e match {
      case L2Distance(a, b) => lit(b).orElse(lit(a))
      case _ => None
    }
  }

  /** Type-faithful IN literals for the cell attribute (partition
    * columns read back as int/long/string depending on discovery). */
  private def cellLiterals(attr: Attribute, cells: Seq[Long])
      : Option[Seq[Expression]] = attr.dataType match {
    case LongType => Some(cells.map(Literal(_)))
    case IntegerType => Some(cells.map(c => Literal(c.toInt)))
    case StringType => Some(cells.map(c => Literal(c.toString)))
    case _ => None
  }

  /** Has a cell restriction already been injected? Downstream optimizer
    * rules rewrite the injected `In`: OptimizeIn turns a 1-element list
    * into EqualTo and a long list into InSet — all three shapes must
    * count, or the fixpoint batch re-injects every iteration. */
  private def alreadyPruned(plan: LogicalPlan, attr: Attribute): Boolean =
    plan.exists {
      case Filter(cond, _) =>
        cond.exists {
          case In(a: Attribute, _) => a.exprId == attr.exprId
          case EqualTo(a: Attribute, _: Literal) => a.exprId == attr.exprId
          case EqualTo(_: Literal, a: Attribute) => a.exprId == attr.exprId
          case InSet(a: Attribute, _) => a.exprId == attr.exprId
          case _ => false
        }
      case _ => false
    }

  /** The node under the top-k whose output carries a registered cell
    * column: `p` itself, else the first such node down its chain of
    * deterministic Projects and Filters (row-wise, so a cell filter
    * there keeps the same rows as one above `p`). */
  private def cellSource(p: LogicalPlan): Option[(LogicalPlan, Attribute)] =
    p.output.find(a => lookup(a.name).isDefined).map(p -> _).orElse(p match {
      case Project(pl, c) if pl.forall(_.deterministic) => cellSource(c)
      case Filter(cond, c) if cond.deterministic => cellSource(c)
      case _ => None
    })

  /** `p` with `cond` filtering directly above its node `src`. */
  private def filterAt(p: LogicalPlan, src: LogicalPlan,
      cond: Expression): LogicalPlan =
    if (p eq src) Filter(cond, p)
    else p.withNewChildren(p.children.map(filterAt(_, src, cond)))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // nearest-neighbor shapes only: ascending distance. A descending
    // sort (farthest points) must stay exact — nearest-cell probes
    // would return categorically wrong rows.
    case k @ KnnTopK(_, order, child)
        if order.head.direction == Ascending =>
      val pruned = for {
        (src, cellAttr) <- cellSource(child)
        if !alreadyPruned(child, cellAttr)
        meta <- lookup(cellAttr.name)
        q <- queryVector(order.head.child).orElse(
          // aliased form: distance projected one level below the sort
          child match {
            case p: Project =>
              p.projectList.collectFirst {
                case al: org.apache.spark.sql.catalyst.expressions.Alias
                    if order.head.child.references.contains(al.toAttribute) =>
                  queryVector(al.child)
              }.flatten
            case _ => None
          })
        lits <- cellLiterals(cellAttr,
          VectorSearch.probeCellsOf(q, meta.centroids, meta.nprobe))
      } yield k.copy(child = filterAt(child, src, In(cellAttr, lits)))
      pruned.getOrElse(k)
  }
}
