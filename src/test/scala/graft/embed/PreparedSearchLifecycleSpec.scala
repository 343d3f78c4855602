package graft.embed

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The held search plan's life: `nproc` concurrent clients, starting
  * cold, share one plan and get the serial answers; unpersisting either
  * input drops the plan; an overwritten and re-cached catalog is served
  * its new rows. */
class PreparedSearchLifecycleSpec extends SparkSpec {
  import SearchFixtures._

  private val rows = storeRows(60, seed = 21)
  private val qs = queries(seed = 22)
  private val embedder = TableEmbedder(qs)

  private def hits(df: DataFrame): Seq[(String, Double, Int, String)] =
    df.select("product_code", "dist", "rank", "product_name").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2), r.getString(3)))
      .toSeq.sortBy(h => (h._3, h._1))

  private def search(store: DataFrame, catalog: DataFrame, qi: Int,
      ties: Boolean = false): DataFrame =
    EmbeddingPipeline.search(store, catalog, s"q:$qi", embedder, 5, ties)

  test("nproc clients x 50 queries from a cold start: serial answers, one plan") {
    val clients = Runtime.getRuntime.availableProcessors
    val store = cached(frameOf(spark, rows, 3))
    val catalog = cached(catalogOf(spark, rows))
    try {
      val before = held(spark)
      val got = new ConcurrentHashMap[(Int, Int), Seq[(String, Double, Int, String)]]()
      val errors = new ConcurrentHashMap[Int, Throwable]()
      val start = new CountDownLatch(1)
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          start.await()
          try (0 until 50).foreach { i =>
            val qi = (c * 50 + i) % qs.size
            got.put((c, i), hits(search(store, catalog, qi)))
          } catch { case e: Throwable => errors.put(c, e) }
        })
      }
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join(300000))
      assert(errors.isEmpty, errors)
      assert(got.size == clients * 50)
      assert(held(spark) == before + 1)
      for (c <- 0 until clients; i <- 0 until 50) {
        val qi = (c * 50 + i) % qs.size
        assert(got.get((c, i)) == hits(search(store, catalog, qi)), s"query $qi")
      }
      assert(held(spark) == before + 1)
    } finally {
      store.unpersist(blocking = true)
      catalog.unpersist(blocking = true)
    }
  }

  test("unpersisting either input drops the plan") {
    val before = held(spark)
    for (dropStore <- Seq(true, false)) {
      val store = cached(frameOf(spark, rows, 2))
      val catalog = cached(catalogOf(spark, rows))
      try {
        for (ties <- Seq(false, true)) hits(search(store, catalog, 1, ties))
        assert(held(spark) == before + 2)
        (if (dropStore) store else catalog).unpersist(blocking = true)
        assert(held(spark) == before, s"dropStore=$dropStore")
      } finally {
        store.unpersist(blocking = true)
        catalog.unpersist(blocking = true)
      }
    }
  }

  test("an overwritten and re-cached catalog serves its new rows") {
    val dir = java.nio.file.Files.createTempDirectory("prepared_catalog").toString
    val store = cached(frameOf(spark, rows, 2))
    val before = held(spark)
    try {
      for (prefix <- Seq("old", "new")) {
        catalogOf(spark, rows, prefix).write.mode("overwrite").parquet(dir)
        val catalog = cached(spark.read.parquet(dir))
        try {
          for (qi <- Seq(2, 3)) {
            val want = plain(rows, qs(qi), 5)
              .map { case (c, d, r) => (c, d, r, nameOf(c, prefix)) }
            assert(hits(search(store, catalog, qi)) == want, s"$prefix, query $qi")
          }
          assert(held(spark) == before + 1)
        } finally catalog.unpersist(blocking = true)
        assert(held(spark) == before)
      }
    } finally {
      store.unpersist(blocking = true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
