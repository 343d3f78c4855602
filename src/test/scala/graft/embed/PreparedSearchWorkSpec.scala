package graft.embed

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, Sort, Window}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.TestBus

import graft.SparkSpec
import graft.plans.{KnnTopK, PreparedSearch}

/** What a warm search costs, in counts rather than time: one job and
  * one task over a one-partition store, no join, window, sort or top-k
  * in the caller's plan, no class compiled for a new query vector; and
  * a cold search starts no more jobs than planning it per query does. */
class PreparedSearchWorkSpec extends SparkSpec {
  import SearchFixtures._

  private val rows = storeRows(60, seed = 31)
  private val qs = queries(seed = 32)
  private val embedder = TableEmbedder(qs)

  private def search(store: DataFrame, catalog: DataFrame, qi: Int,
      ties: Boolean = false): DataFrame =
    EmbeddingPipeline.search(store, catalog, s"q:$qi", embedder, 3, ties)
      .select("product_code", "dist", "product_name")

  /** `body`'s result, and the jobs and tasks it ran. */
  private def counting[A](body: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val jobs, tasks = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      TestBus.drain(sc)
      (a, jobs.get(), tasks.get())
    } finally sc.removeSparkListener(l)
  }

  private def onCached[A](parts: Int)(body: (DataFrame, DataFrame) => A): A = {
    val store = cached(frameOf(spark, rows, parts))
    val catalog = cached(catalogOf(spark, rows))
    try body(store, catalog)
    finally {
      store.unpersist(blocking = true)
      catalog.unpersist(blocking = true)
    }
  }

  test("a warm query over a one-partition store runs one job of one task") {
    onCached(1) { (store, catalog) =>
      search(store, catalog, 0).collect()
      for (qi <- 1 to 5) {
        val (_, jobs, tasks) = counting(search(store, catalog, qi).collect())
        assert((jobs, tasks) == ((1, 1)), s"query $qi")
      }
    }
  }

  test("the caller's optimized plan is the leaf, holding only the columns read") {
    onCached(2) { (store, catalog) =>
      val plan = search(store, catalog, 1).queryExecution.optimizedPlan
      assert(plan.collect {
        case p @ (_: Join | _: Window | _: Sort | _: KnnTopK) => p
      }.isEmpty, plan)
      val leaf = plan.collect { case s: PreparedSearch => s }
      assert(leaf.size == 1 && leaf.head.output.map(_.name) ==
        Seq("product_code", "dist", "product_name"), plan)
    }
  }

  test("50 distinct warm queries compile no class") {
    onCached(2) { (store, catalog) =>
      (0 until 3).foreach(qi => search(store, catalog, qi).collect())
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (3 until 53).foreach(qi => search(store, catalog, qi).collect())
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
    }
  }

  test("a cold query starts no more jobs than planning it per query") {
    // per query: a catalog read off the cache but not cached whole is
    // planned on every call; both sides build their catalog broadcast
    for (ties <- Seq(false, true)) {
      val perQuery = onCached(2) { (store, catalog) =>
        counting(search(store, catalog.filter(lit(true)), 0, ties).collect())._2
      }
      onCached(2) { (store, catalog) =>
        val (_, cold, _) = counting(search(store, catalog, 0, ties).collect())
        assert(cold <= perQuery, s"withTies=$ties")
      }
    }
  }
}
