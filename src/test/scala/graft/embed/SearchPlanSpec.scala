package graft.embed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, SortExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

import graft.SparkSpec
import graft.plans.KnnTopKExec

/** [[EmbeddingPipeline.search]]'s contract: plain mode is the pgvector
  * `ORDER BY embedding <-> q LIMIT k` idiom planned as one KnnTopK
  * exec over ONE store scan, ranked on the merged partition,
  * then left-joined to the catalog — the shape of the plan held for a
  * cached store and catalog, which every warm query runs; results
  * equal a plain-Scala brute force, null embeddings are not
  * searchable, and k bounds the row count even when product codes
  * repeat in the store. */
class SearchPlanSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val embedder = HashingEmbedder(dim)
  private val query = "bánh kem dâu tây"
  private val qvec = embedder.embedBatch(Seq(query)).head

  /** `n` deterministic vectors over `parts` partitions; every 7th
    * embedding is null. */
  private def storeRows(n: Int): Seq[(String, Array[Float])] =
    (0 until n).map { i =>
      val v = if (i % 7 == 3) null
        else Array.tabulate(dim)(d => ((i * 31 + d * 17) % 23 - 11) / 11.0f)
      (f"P$i%03d", v)
    }

  private def storeOf(rows: Seq[(String, Array[Float])], parts: Int)
      : DataFrame =
    rows.toDF("product_code", "embedding").repartition(parts)

  private def catalogOf(codes: Seq[String]): DataFrame =
    codes.map(c => (c, s"name of $c")).toDF("product_code", "product_name")

  /** (code, dist) of the k nearest non-null embeddings, the same
    * double arithmetic as `graft_l2_distance`, ties by code. */
  private def bruteForce(rows: Seq[(String, Array[Float])],
      k: Int): Seq[(String, Double)] =
    rows.collect { case (c, v) if v != null =>
      var acc = 0.0
      v.indices.foreach { i =>
        val d = v(i).toDouble - qvec(i).toDouble
        acc = acc + d * d
      }
      (c, math.sqrt(acc))
    }.sortBy { case (c, d) => (d, c) }.take(k)

  private def ranked(df: DataFrame): Seq[(String, Double, Int)] =
    df.select("product_code", "dist", "rank").as[(String, Double, Int)]
      .collect().toSeq.sortBy(_._3)

  /** Runs `body` on the nodes of the plan held for a cached 3-partition
    * store and a cached catalog: the plan a second, warm query ran. */
  private def heldPlan(rows: Seq[(String, Array[Float])], withTies: Boolean)
      (body: Seq[SparkPlan] => Unit): Unit = {
    val store = storeOf(rows, 3).persist()
    val catalog = catalogOf(rows.map(_._1)).persist()
    try {
      store.count(); catalog.count()
      val before = SearchFixtures.held(spark)
      def search(q: String) = EmbeddingPipeline.search(store, catalog, q,
        embedder, k = 5, withTies = withTies)
      search("bánh mì").collect()
      assert(SearchFixtures.held(spark) == before + 1)
      val warm = search(query)
      warm.collect()
      body(SearchFixtures.ranNodes(warm))
    } finally {
      store.unpersist(blocking = true)
      catalog.unpersist(blocking = true)
    }
  }

  test("plain mode: one KnnTopK exec, one store scan, no shuffle " +
      "exchange, grouped aggregate or nested-loop join, rank on the " +
      "merged partition") {
    heldPlan(storeRows(200), withTies = false) { plan =>
      val names = plan.map(_.nodeName)
      assert(names.count(_ == "KnnTopKGlobal") == 1, names)
      assert(!names.contains("KnnTopKLocal"), names)
      // the merge to one partition is internal to the exec
      assert(!plan.exists(_.isInstanceOf[ShuffleExchangeExec]), names)
      assert(!names.exists(_.startsWith("ObjectHashAggregate")), names)
      assert(!names.exists(_.startsWith("BroadcastNestedLoopJoin")), names)
      assert(SearchFixtures.storeScans(plan) == 1, names)
      // row_number reads KnnTopKGlobal's sorted single partition as is
      assert(!plan.exists(_.isInstanceOf[SortExec]), names)
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.size == 1 &&
        windows.head.child.isInstanceOf[KnnTopKExec], names)
    }
  }

  test("with ties: the bound's top-k and one filtered pass, two scans") {
    heldPlan(storeRows(200), withTies = true) { plan =>
      assert(SearchFixtures.storeScans(plan) == 2, plan.map(_.nodeName))
      assert(plan.exists(_.nodeName == "KnnTopKGlobal"), plan.map(_.nodeName))
    }
  }

  test("results equal brute force: null embeddings excluded, k < n " +
      "and k > n, rank 1..k in distance order") {
    val rows = storeRows(40)
    val store = storeOf(rows, 3)
    val catalog = catalogOf(rows.map(_._1))
    Seq(7, 100).foreach { k =>
      val got = ranked(EmbeddingPipeline.search(store, catalog, query,
        embedder, k))
      val want = bruteForce(rows, k)
      assert(got.map(r => (r._1, r._2)) == want, s"k=$k")
      assert(got.map(_._3) == (1 to want.size), s"k=$k")
    }
    // k > n returns every searchable row: 40 minus the 6 null embeddings
    assert(bruteForce(rows, 100).size == 34)
  }

  test("a hit with no catalog row keeps null catalog columns") {
    val rows = storeRows(20)
    val want = bruteForce(rows, 3)
    val catalog = catalogOf(rows.map(_._1).filterNot(_ == want.head._1))
    val got = EmbeddingPipeline.search(storeOf(rows, 2), catalog, query,
        embedder, k = 3)
      .select("product_code", "product_name", "rank", "score").collect()
      .sortBy(_.getInt(2))
    assert(got.map(_.getString(0)).toSeq == want.map(_._1))
    assert(got.head.isNullAt(1))
    assert(got.tail.forall(r => r.getString(1) == s"name of ${r.getString(0)}"))
    assert(got.map(_.getDouble(3)).toSeq == want.map(1.0 - _._2))
  }

  test("a product_code repeated in the store still yields exactly k rows") {
    val base = storeRows(20).filter(_._2 != null)
    val nearest = bruteForce(base, 1).head._1
    // the nearest product stored three times, identical vectors
    val rows = base ++ Seq.fill(2)(base.find(_._1 == nearest).get)
    val got = EmbeddingPipeline.search(storeOf(rows, 3),
      catalogOf(base.map(_._1)), query, embedder, k = 4).collect()
    assert(got.length == 4)
    assert(got.count(r => r.getAs[String]("product_code") == nearest) == 3)
    assert(got.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 4))
  }
}
