package graft.plans

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.graft.{BroadcastReuse, CachedBroadcastExchangeExec, TestBus}

import graft.SparkSpec
import graft.embed.{EmbeddingPipeline, HashingEmbedder, SearchFixtures}

/** Cross-query broadcast reuse ([[BroadcastReuse]]): a search against a
  * cached store and a cached catalog runs one job once the catalog's
  * broadcast is kept; a re-cached catalog is never served stale; build
  * sides that are not plain reads of cached data keep Spark's exchange;
  * unpersist drops the kept broadcast without breaking a query that
  * holds it; concurrent cold builds all answer correctly. */
class BroadcastReuseSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val embedder = HashingEmbedder(dim)
  private val codes = (0 until 120).map(i => f"P$i%03d")

  private def storeOf(parts: Int): DataFrame =
    codes.zipWithIndex.map { case (c, i) =>
      (c, Array.tabulate(dim)(d => ((i * 31 + d * 17) % 23 - 11) / 11.0f))
    }.toDF("product_code", "embedding").repartition(parts)

  private def catalogOf(prefix: String): DataFrame =
    codes.zipWithIndex.map { case (c, i) => (c, s"$prefix $c", i.toDouble) }
      .toDF("product_code", "product_name", "price")

  private def cached(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  private def search(store: DataFrame, catalog: DataFrame,
      q: String = "bánh kem"): DataFrame =
    EmbeddingPipeline.search(store, catalog, q, embedder, k = 5)

  private def rows(df: DataFrame): Seq[(String, Double, String, Int)] =
    df.select("product_code", "dist", "product_name", "rank")
      .as[(String, Double, String, Int)].collect().toSeq.sortBy(_._4)

  /** The nodes of the plan the search ran. */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    SearchFixtures.ranNodes(df)
  }

  private def kept: Int = BroadcastReuse.retained(spark.sparkContext)._1

  /** `body`'s result and the number of Spark jobs it ran. */
  private def countingJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      TestBus.drain(sc)
      (a, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  test("the second search on a cached catalog runs one job, same rows") {
    val store = cached(storeOf(3))
    val catalog = cached(catalogOf("name of"))
    try {
      val first = search(store, catalog)
      assert(nodes(first).exists(_.isInstanceOf[CachedBroadcastExchangeExec]))
      val want = rows(first)
      val (again, jobs) = countingJobs(rows(search(store, catalog)))
      assert(jobs == 1)
      assert(again == want)
      assert(want.size == 5 && want.forall(_._3.startsWith("name of ")))
    } finally {
      store.unpersist(blocking = true)
      catalog.unpersist(blocking = true)
    }
  }

  test("a re-cached catalog is never served stale") {
    val dir = java.nio.file.Files.createTempDirectory("bcast_reuse").toString
    val store = cached(storeOf(2))
    try {
      catalogOf("old").write.mode("overwrite").parquet(dir)
      val before = cached(spark.read.parquet(dir))
      assert(rows(search(store, before)).forall(_._3.startsWith("old ")))
      before.unpersist(blocking = true)
      catalogOf("new").write.mode("overwrite").parquet(dir)
      val after = cached(spark.read.parquet(dir))
      try {
        val got = rows(search(store, after))
        assert(got.size == 5 && got.forall(_._3.startsWith("new ")), got)
      } finally after.unpersist(blocking = true)
    } finally {
      store.unpersist(blocking = true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("an uncached catalog, or a value filter on the build side, keeps " +
      "Spark's broadcast exchange") {
    val store = cached(storeOf(2))
    val catalog = cached(catalogOf("name of"))
    try {
      // other rows than `catalog`'s, so the cache cannot serve them
      Seq(catalogOf("uncached"), catalog.filter(col("price") > 10.0)).foreach {
        build =>
          val plan = nodes(search(store, build))
          assert(plan.exists(_.isInstanceOf[BroadcastExchangeExec]),
            plan.map(_.nodeName))
          assert(!plan.exists(_.isInstanceOf[CachedBroadcastExchangeExec]),
            plan.map(_.nodeName))
      }
    } finally {
      store.unpersist(blocking = true)
      catalog.unpersist(blocking = true)
    }
  }

  test("unpersist drops the kept broadcast; a query holding it completes") {
    val store = cached(storeOf(3))
    val catalog = cached(catalogOf("name of"))
    val keptBefore = kept
    try {
      val want = rows(search(store, catalog))
      TestBus.drain(spark.sparkContext)
      assert(kept == keptBefore + 1)
      // the store side waits in its map stage until released; the
      // broadcast is already in the query's hands by then
      BroadcastReuseSpec.entered = new CountDownLatch(1)
      BroadcastReuseSpec.release = new CountDownLatch(1)
      val gated = store.withColumn("embedding",
        BroadcastReuseSpec.gate(col("embedding")))
      @volatile var got: Either[Throwable, Seq[(String, Double, String, Int)]] = null
      val t = new Thread(() => {
        got = try Right(rows(search(gated, catalog))) catch {
          case e: Throwable => Left(e)
        }
      })
      t.start()
      assert(BroadcastReuseSpec.entered.await(60, TimeUnit.SECONDS))
      catalog.unpersist(blocking = true)
      TestBus.drain(spark.sparkContext)
      assert(kept == keptBefore)
      System.gc()
      BroadcastReuseSpec.release.countDown()
      t.join(60000)
      assert(got == Right(want))
    } finally {
      BroadcastReuseSpec.release.countDown()
      store.unpersist(blocking = true)
      catalog.unpersist(blocking = true)
    }
  }

  test("4 concurrent clients on a cold cache all get correct rows") {
    val store = cached(storeOf(3))
    val queries = Seq("bánh kem", "trà sữa", "cà phê", "bánh mì")
    val want = queries.map(q => rows(search(store, catalogOf("name of"), q)))
    val catalog = cached(catalogOf("name of"))
    val keptBefore = kept
    try {
      @volatile var got = Map.empty[Int, Seq[(String, Double, String, Int)]]
      val threads = queries.indices.map { i =>
        new Thread(() => {
          val r = rows(search(store, catalog, queries(i)))
          this.synchronized { got += i -> r }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(queries.indices.map(got.get) == want.map(Some(_)))
      TestBus.drain(spark.sparkContext)
      assert(kept == keptBefore + 1)
    } finally {
      store.unpersist(blocking = true)
      catalog.unpersist(blocking = true)
    }
  }
}

object BroadcastReuseSpec {
  @volatile var entered = new CountDownLatch(0)
  @volatile var release = new CountDownLatch(0)

  /** Identity on the embedding that holds its task until `release`. */
  val gate = udf { (v: Seq[Float]) =>
    entered.countDown()
    release.await(60, TimeUnit.SECONDS)
    v
  }
}
