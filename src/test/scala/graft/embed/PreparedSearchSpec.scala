package graft.embed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}

import graft.SparkSpec

/** [[EmbeddingPipeline.search]] answers through one held plan exactly
  * as a plain-Scala brute force does: 200 random queries per mode on
  * one plan each, over a store with null embeddings, repeated product
  * codes and a distance-tie group straddling rank k, including the zero
  * query vector, k = 1 and k > n. Two different queries in a row are
  * both right (no stale vector, no stale with-ties bound), and an
  * uncached store overwritten between calls is read again. */
class PreparedSearchSpec extends SparkSpec {
  import SearchFixtures._

  private val rows = storeRows(60, seed = 14)
  private val qs = queries(seed = 15)
  private val embedder = TableEmbedder(qs)

  private type Hit = (String, Double, Int, String, Double)

  private def hits(df: DataFrame): Seq[Hit] =
    df.select("product_code", "dist", "rank", "product_name", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2), r.getString(3),
        r.getDouble(4)))
      .toSeq.sortBy(h => (h._3, h._1))

  private def want(rows: Store, qi: Int, k: Int, ties: Boolean): Seq[Hit] =
    (if (ties) withTies(rows, qs(qi), k) else plain(rows, qs(qi), k))
      .map { case (c, d, r) => (c, d, r, nameOf(c), 1.0 - d) }
      .sortBy(h => (h._3, h._1))

  private def search(store: DataFrame, catalog: DataFrame, qi: Int, k: Int,
      ties: Boolean): DataFrame =
    EmbeddingPipeline.search(store, catalog, s"q:$qi", embedder, k, ties)

  /** Runs `body` on a cached store (3 partitions) and catalog. */
  private def onCached(body: (DataFrame, DataFrame) => Unit): Unit = {
    val store = cached(frameOf(spark, rows, 3))
    val catalog = cached(catalogOf(spark, rows))
    try body(store, catalog)
    finally {
      store.unpersist(blocking = true)
      catalog.unpersist(blocking = true)
    }
  }

  test("the search frame has the per-query plan's columns") {
    val df = search(frameOf(spark, rows, 1), catalogOf(spark, rows), 0, 5, false)
    assert(df.schema.map(f => (f.name, f.dataType)) == Seq(
      "product_code" -> StringType, "dist" -> DoubleType, "rank" -> IntegerType,
      "product_name" -> StringType, "score" -> DoubleType))
  }

  test("200 random queries on one plan per mode equal the brute force") {
    onCached { (store, catalog) =>
      val before = held(spark)
      for (ties <- Seq(false, true); qi <- qs.indices)
        assert(hits(search(store, catalog, qi, 5, ties)) == want(rows, qi, 5, ties),
          s"query $qi, withTies=$ties")
      assert(held(spark) == before + 2)
    }
  }

  test("the zero query: the tie group straddles rank k, both modes right") {
    val zero = want(rows, 0, 5, ties = true)
    assert(zero.size > 5 && zero.map(_._2).distinct.size == 2, zero)
    onCached { (store, catalog) =>
      for (ties <- Seq(false, true))
        assert(hits(search(store, catalog, 0, 5, ties)) == want(rows, 0, 5, ties))
    }
  }

  test("k = 1 and k > n, both modes") {
    val searchable = rows.count(_._2 != null)
    onCached { (store, catalog) =>
      for (k <- Seq(1, rows.size + 10); ties <- Seq(false, true);
          qi <- qs.indices.take(25)) {
        val got = hits(search(store, catalog, qi, k, ties))
        assert(got == want(rows, qi, k, ties), s"query $qi, k=$k, withTies=$ties")
        if (k > rows.size) assert(got.size == searchable)
      }
    }
  }

  test("two different queries in a row on one plan are both right") {
    onCached { (store, catalog) =>
      // the zero query's bound is sqrt(2); query 3's is another, so a
      // stale vector or a stale scalar bound shows in the second answer
      for (ties <- Seq(true, false); qi <- Seq(0, 3, 0, 4, 3))
        assert(hits(search(store, catalog, qi, 5, ties)) == want(rows, qi, 5, ties),
          s"query $qi, withTies=$ties")
    }
  }

  test("an uncached parquet store overwritten between calls is read again") {
    val dir = java.nio.file.Files.createTempDirectory("prepared_search").toString
    val other = storeRows(60, seed = 99)
    val catalog = cached(catalogOf(spark, rows ++ other))
    try {
      val before = held(spark)
      for ((version, qi) <- Seq((rows, 3), (other, 3), (rows, 5))) {
        frameOf(spark, version, 2).write.mode("overwrite").parquet(dir)
        for (ties <- Seq(false, true)) {
          val got = hits(search(spark.read.parquet(dir), catalog, qi, 5, ties))
          assert(got == (if (ties) withTies(version, qs(qi), 5)
            else plain(version, qs(qi), 5)).map { case (c, d, r) =>
              (c, d, r, nameOf(c), 1.0 - d) }.sortBy(h => (h._3, h._1)))
        }
      }
      assert(held(spark) == before)
    } finally {
      catalog.unpersist(blocking = true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
