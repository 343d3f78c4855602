package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, Future => JFuture}

import scala.concurrent.{ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, IsNotNull, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.TableCacheQueryStageExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike}

/** Cross-query broadcast reuse for build sides that read cached data.
  *
  * A serving loop that joins each query's hits to the same cached
  * catalog (`EmbeddingPipeline.search`) re-collects and re-broadcasts
  * that catalog on every query — a Spark job of its own under AQE,
  * though neither the catalog nor the broadcast changes. Spark reuses
  * exchanges within one query only; this keeps a broadcast for as long
  * as the cached data it was built from stays cached.
  *
  * Eligible: a build side that is an `InMemoryTableScanExec` (directly
  * or inside AQE's `TableCacheQueryStageExec`) under attribute-only
  * `Project`s and `Filter`s whose conjuncts are all `IsNotNull`, so the
  * entries per cached relation are bounded by its column subsets and
  * join keys. Any other build side keeps Spark's `BroadcastExchangeExec`.
  *
  * Key: the canonical `(mode, child)` of the exchange plus the ids of
  * the `CachedBatch` RDDs it reads — re-caching a relation (after an
  * overwrite, say) gets new RDDs and so a new key. An entry is dropped
  * when a `SparkListenerUnpersistRDD` names one of its RDDs; it is
  * never destroyed, because a query in flight may still hold it, and
  * `ContextCleaner` reclaims it once nothing does. Only successful
  * builds are kept.
  */
object BroadcastReuse extends PredicateHelper {

  /** A kept broadcast and the statistics of its build. */
  final case class Entry(broadcast: Broadcast[Any], stats: Statistics)

  /** What is kept per SparkContext, each entry keyed on the ids of the
    * cached RDDs it was built from: the broadcasts, and the search plans
    * of [[PreparedSearches]]. Unpersisting one of those RDDs drops every
    * entry built from it. */
  private[graft] final class Registry(val sc: SparkContext) extends SparkListener {
    val entries = new ConcurrentHashMap[(SparkPlan, Seq[Int]), Entry]()
    val searches = new ConcurrentHashMap[(Any, Seq[Int]), SparkPlan]()
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
      entries.keySet.removeIf(_._2.contains(e.rddId))
      searches.keySet.removeIf(_._2.contains(e.rddId))
    }
  }

  // one registry per SparkContext: RDD ids restart with a new context
  @volatile private var current: Registry = _

  private[graft] def registry(sc: SparkContext): Registry = synchronized {
    if (current == null || (current.sc ne sc)) {
      current = new Registry(sc)
      sc.addSparkListener(current)
    }
    current
  }

  /** Whether `plan` only reads cached data, per the eligibility above. */
  def readsCache(plan: SparkPlan): Boolean = plan match {
    case _: InMemoryTableScanExec => true
    case s: TableCacheQueryStageExec => readsCache(s.plan)
    case ProjectExec(list, c) => list.forall(_.isInstanceOf[Attribute]) && readsCache(c)
    case FilterExec(cond, c) =>
      splitConjunctivePredicates(cond).forall(_.isInstanceOf[IsNotNull]) && readsCache(c)
    case _ => false
  }

  /** The registry key of a broadcast of `child` in `mode`. */
  private[graft] def keyOf(mode: BroadcastMode, child: SparkPlan)
      : (SparkPlan, Seq[Int]) = {
    // stage ids differ per query; the stage's plan does not
    val plain = child.transformUp { case s: TableCacheQueryStageExec => s.plan }
    val rddIds = plain.collect { case s: InMemoryTableScanExec =>
      s.relation.cacheBuilder.cachedColumnBuffers.id
    }
    (BroadcastExchangeExec(mode, plain).canonicalized, rddIds)
  }

  private[graft] def lookup(sc: SparkContext, key: (SparkPlan, Seq[Int]))
      : Option[Entry] =
    Option(registry(sc).entries.get(key))

  private[graft] def record(sc: SparkContext, key: (SparkPlan, Seq[Int]),
      entry: Entry): Unit =
    keep(sc, registry(sc).entries, key, entry)

  /** Keeps `value` under `key` in `memo`, where `key._2` holds the ids
    * of the cached RDDs `value` was built from. The first value kept
    * under a key stays. */
  private[graft] def keep[K, V](sc: SparkContext,
      memo: ConcurrentHashMap[(K, Seq[Int]), V], key: (K, Seq[Int]),
      value: V): Unit = {
    memo.putIfAbsent(key, value)
    // an unpersist that landed during the build has already been heard
    val live = sc.getPersistentRDDs
    if (!key._2.forall(live.contains)) memo.remove(key, value)
  }

  /** Broadcasts kept for `sc`, and their built size in bytes. */
  def retained(sc: SparkContext): (Int, BigInt) = {
    val es = registry(sc).entries.values.asScala
    (es.size, es.map(_.stats.sizeInBytes).sum)
  }
}

/** Replaces each [[BroadcastReuse.readsCache eligible]] Spark broadcast
  * exchange with a [[CachedBroadcastExchangeExec]]. A query-stage
  * preparation rule: it runs inside AQE after `EnsureRequirements`. */
case class BroadcastReuseRule(spark: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case BroadcastExchangeExec(mode, child) if BroadcastReuse.readsCache(child) =>
      CachedBroadcastExchangeExec(mode, child)
  }
}

/** A broadcast exchange served from [[BroadcastReuse]] when a broadcast
  * of the same cached data was already built; otherwise Spark's own
  * `BroadcastExchangeExec` builds it and the result is kept. */
case class CachedBroadcastExchangeExec(mode: BroadcastMode, child: SparkPlan)
    extends BroadcastExchangeLike {

  // builds on a miss, and gives this exchange its canonical form, so
  // within a query it reuses and is reused like the stock exchange
  @transient private val stock = BroadcastExchangeExec(mode, child)

  @transient private lazy val key = BroadcastReuse.keyOf(mode, child)
  @transient private lazy val hit = BroadcastReuse.lookup(sparkContext, key)

  override lazy val metrics = stock.metrics
  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)
  override def jobTag: String = stock.jobTag
  override def doCanonicalize(): SparkPlan = stock.canonicalized

  @transient override lazy val relationFuture: JFuture[Broadcast[Any]] =
    hit match {
      case Some(e) => CompletableFuture.completedFuture(e.broadcast)
      case None =>
        val k = key
        stock.completionFuture.foreach { b =>
          BroadcastReuse.record(sparkContext, k,
            BroadcastReuse.Entry(b, stock.runtimeStatistics))
        }(ExecutionContext.parasitic)
        stock.relationFuture
    }

  override def completionFuture: Future[Broadcast[Any]] = hit match {
    case Some(e) => Future.successful(e.broadcast)
    case None => relationFuture; stock.completionFuture
  }

  override def runtimeStatistics: Statistics =
    hit.fold(stock.runtimeStatistics)(_.stats)

  override protected def doPrepare(): Unit = relationFuture

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(
      s"$nodeName does not support the execute() code path")

  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] = hit match {
    case Some(e) => e.broadcast.asInstanceOf[Broadcast[T]]
    case None => relationFuture; stock.executeBroadcast[T]()
  }

  override protected def withNewChildInternal(c: SparkPlan)
      : CachedBroadcastExchangeExec = copy(child = c)
}
