package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** v13's tie contract. Through r15 this spec guarded the one legal
  * cross-engine divergence window: plain top-K's hit SET is ambiguous
  * when a distance tie straddles the rank-K boundary, so it asserted
  * no such tie existed at the fixture SFs. The r16 sf1 check then hit
  * exactly that straddle (a 6-member sqrt(7) tie group at rank 17) —
  * so v13 moved to `search(withTies = true)` (`rank() <= K`
  * semantics), whose result set is deterministic at ANY scale. This
  * spec now pins that contract instead of policing fixtures:
  *
  *  1. the query's hit set equals an independently recomputed
  *     `{dist <= d_K}` (d_K = K-th smallest distance);
  *  2. on a constructed store with a tie group straddling the
  *     boundary, the WHOLE group is returned — more than K rows, the
  *     same set every run.
  */
class V13BoundarySpec extends SparkSpec {
  import spark.implicits._

  test("with-ties hit set == independently recomputed {dist <= d_K}") {
    val dir = "/root/testdata/sf0.01"
    val (store, catalog) = VectorSuite.v13StoreCatalog(spark, dir)
    val qvec = VectorSuite.FlakyClient
      .featureHash16(VectorSuite.V13QueryText)
    val dists = store
      .select(col("product_code"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("dist",
        sqrt(aggregate(zip_with(col("v"), lit(qvec.map(_.toDouble)),
          (x, y) => (x - y) * (x - y)), lit(0.0d), (s, x) => s + x)))
      .select("product_code", "dist")
      .as[(String, Double)].collect()
    val dK = dists.map(_._2).sorted.apply(VectorSuite.V13K - 1)
    val expected = dists.filter(_._2 <= dK).map(_._1).toSet
    val got = graft.embed.EmbeddingPipeline.search(store, catalog,
        VectorSuite.V13QueryText,
        graft.embed.ExternalEmbedder(VectorSuite.FlakyTransport, dim = 16),
        VectorSuite.V13K, withTies = true)
      .select("product_code").as[String].collect().toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    assert(got.size >= VectorSuite.V13K)
  }

  test("a tie group straddling rank K is returned WHOLE, every run") {
    // store: 3 vectors at distance 0 from the query, 4 more at an
    // identical nonzero distance, k=5 → boundary inside the tie group
    // → with-ties must return all 7
    import graft.embed.{EmbeddingPipeline, HashingEmbedder}
    val e = HashingEmbedder(dim = 8)
    val q = "query text"
    val qv = e.embedBatch(Seq(q)).head
    def shifted(delta: Float, i: Int): Array[Float] = {
      val v = qv.clone(); v(i % 8) += delta; v
    }
    val near = (0 until 3).map(i => (s"zero_$i", qv.toSeq))
    val tied = (0 until 4).map(i => (s"tie_$i", shifted(0.25f, 0).toSeq))
    val store = (near ++ tied).toDF("product_code", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val catalog = (near ++ tied).map(_._1).toDF("product_code")
      .withColumn("lang", lit("en"))
    val runs = (0 until 2).map { _ =>
      EmbeddingPipeline.search(store, catalog, q, e, k = 5,
          withTies = true)
        .select("product_code", "rank").as[(String, Int)].collect().toSet
    }
    assert(runs.head.size == 7, runs.head.toString)
    assert(runs.head == runs(1))
    // `rank` is SQL rank(): the tie group shares rank 4
    assert(runs.head.toSeq.map(_._2).sorted == Seq(1, 1, 1, 4, 4, 4, 4))
    // and the plain mode still returns exactly k (ambiguous members,
    // bounded count — the serving contract)
    val plain = EmbeddingPipeline.search(store, catalog, q, e, k = 5)
      .select("product_code").as[String].collect()
    assert(plain.length == 5)
  }
}
