package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.VectorDedupIndex

/** The IVF seeding rule on corpora with exact duplicates: every IVF
  * build, k-means fit and dedup-index seeding takes the lowest-id
  * DISTINCT vectors, so a replica-heavy corpus still gets one real cell
  * per seed instead of n copies of one vector collapsing into one. */
class IvfSeedingSpec extends SparkSpec {
  import spark.implicits._

  private val NCells = 4

  // 6 distinct base vectors, each repeated 5 times under consecutive
  // ids (id = base·5 + rep): the replica-inflated bench corpus at test
  // size, where the NCells lowest ids are all copies of base 0
  private lazy val replicas: DataFrame =
    (for (b <- 0 until 6; rep <- 0 until 5)
      yield ((b * 5 + rep).toLong, Seq(b.toDouble, (b * b % 7).toDouble)))
      .toDF("id", "vec").repartition(3)

  /** The distinct-vector aggregate form of the rule, as a reference. */
  private def groupByForm(df: DataFrame, n: Int): Seq[(Long, Seq[Double])] =
    df.groupBy("vec").agg(min(col("id")).as("id"))
      .orderBy("id").limit(n).collect()
      .map(r => (r.getAs[Long]("id"), r.getSeq[Double](0))).toSeq

  test("buildIvf on a replica-heavy corpus: NCells distinct seeds, " +
      "every cell holds rows") {
    val index = VectorSearch.buildIvf(replicas, "id", "vec", NCells)
    assert(index.centroids.map(_._1) == Seq(0L, 5L, 10L, 15L))
    assert(index.centroids.map(_._2).distinct.size == NCells)
    assert(index.assigned.select("cell").distinct().as[Long].collect()
      .toSet == index.centroids.map(_._1).toSet)
  }

  test("Kmeans.fit on a replica-heavy corpus: NCells distinct seeds, " +
      "every trained cell holds rows") {
    val seeds = Kmeans.fit(replicas, "id", "vec", NCells, iters = 0)
    assert(seeds.map(_._1) == Seq(0L, 5L, 10L, 15L))
    assert(seeds.map(_._2).distinct.size == NCells)
    val trained = Kmeans.fit(replicas, "id", "vec", NCells, iters = 3)
    assert(trained.size == NCells)
    assert(VectorSearch.buildIvfWith(replicas, "id", "vec", trained)
      .assigned.select("cell").distinct().as[Long].collect().toSet ==
      trained.map(_._1).toSet)
  }

  test("fewer distinct vectors than cells: fewer seeds, one per " +
      "distinct vector") {
    val few = replicas.filter(col("id") < 15) // bases 0, 1, 2
    val want = Seq(0L, 5L, 10L)
    assert(VectorDedupIndex.seedCentroids(few, "id", "vec", 8)
      .map(_._1) == want)
    assert(VectorSearch.buildIvf(few, "id", "vec", 8).centroids
      .map(_._1) == want)
    assert(Kmeans.fit(few, "id", "vec", 8, iters = 0).map(_._1) == want)
  }

  test("every IVF seeding equals the distinct-vector groupBy form on " +
      "random corpora with duplicates and one hot vector") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 4) {
      val pool = Seq.fill(30)(Seq.fill(3)(rnd.nextInt(4).toDouble)).distinct
      val hot = pool.head
      val df = rnd.shuffle((-200L until 200L).toList)
        .map(id => (id,
          if (rnd.nextDouble() < 0.5) hot else pool(rnd.nextInt(pool.size))))
        .toDF("id", "vec").repartition(1 + 2 * trial)
      for (n <- Seq(1, 4, 16, pool.size, pool.size + 5)) {
        val want = groupByForm(df, n)
        assert(VectorDedupIndex.seedCentroids(df, "id", "vec", n) == want,
          s"seedCentroids trial=$trial n=$n")
        assert(VectorSearch.buildIvf(df, "id", "vec", n).centroids == want,
          s"buildIvf trial=$trial n=$n")
        assert(Kmeans.fit(df, "id", "vec", n, iters = 0) == want,
          s"Kmeans.fit trial=$trial n=$n")
      }
    }
  }
}
