package graft.vector

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.KnnIvfCatalog

/** One nearest-cell rule across the IVF family at an ulp tie: two
  * centroids whose squared distances to the query differ by one ulp
  * but share one sqrt. Every probe path — the map-side probe, the
  * IVFPQ static partition filter and the optimizer prune — must pick
  * the cell the build assigned rows by (squared L2), and so return
  * the same rows. */
class IvfUlpTieSpec extends SparkSpec {
  import spark.implicits._

  private val c0 = Seq(1.3607422037916341, 0.3555958848476398)
  private val c1 = Seq(1.3607422037916341, 0.35559588484763976)
  private val centroids = Seq(0L -> c0, 1L -> c1)
  private val origin = Seq(0.0, 0.0)
  // cell 1 (the strictly nearer one, squared) holds ids 11 and 13
  private val want = Set(11L, 13L)

  private lazy val corpus: DataFrame = Seq(10L -> c0, 11L -> c1,
    12L -> Seq(1.36, 0.36), 13L -> Seq(1.37, 0.35)).toDF("id", "vec")
  private lazy val queries: DataFrame =
    Seq(0L -> origin).toDF("query_id", "qvec")
  private lazy val index =
    VectorSearch.buildIvfWith(corpus, "id", "vec", centroids)
  private lazy val pq = ProductQuantizer.train(corpus, "id", "vec",
    m = 1, ncent = 2, sampleN = 4, iters = 1)

  // collects whole rows: a projection above the top-k would let column
  // pruning drop the cell column the optimizer prune keys on
  private def ids(df: DataFrame): Set[Long] =
    df.collect().map(_.getAs[Long]("id")).toSet

  override def afterAll(): Unit = {
    KnnIvfCatalog.unregister("tie_cell")
    super.afterAll()
  }

  test("the fixture is an ulp tie, and the build splits it by " +
      "squared distance") {
    def ss(c: Seq[Double]) = c.map(x => x * x).sum
    assert(math.nextUp(ss(c1)) == ss(c0))
    assert(math.sqrt(ss(c0)) == math.sqrt(ss(c1)))
    assert(index.assigned.select("id", "cell").as[(Long, Long)].collect()
      .toMap == Map(10L -> 0L, 11L -> 1L, 12L -> 0L, 13L -> 1L))
  }

  test("searchIvf at nprobe=1 returns cell 1's rows") {
    assert(ids(VectorSearch.searchIvf(index, queries, "query_id", "qvec",
      k = 4, nprobe = 1)) == want)
  }

  test("searchIvfPq in memory at nprobe=1 returns cell 1's rows") {
    val cells = ProductQuantizer.encodeIvf(index, "vec", pq)
    assert(ids(ProductQuantizer.searchIvfPq(index, cells, queries,
      "query_id", "qvec", pq, k = 4, nprobe = 1)) == want)
  }

  test("searchIvfPq over a writeIvfPq/readIvfPq layout at nprobe=1 " +
      "returns cell 1's rows") {
    val dir = Files.createTempDirectory("graft_tie_ivfpq").toString + "/i"
    ProductQuantizer.writeIvfPq(index, "vec", pq, dir)
    assert(ids(ProductQuantizer.searchIvfPq(index,
      ProductQuantizer.readIvfPq(spark, dir), queries,
      "query_id", "qvec", pq, k = 4, nprobe = 1)) == want)
  }

  test("a registered readIvfIndexed read pruned by IvfPruneRule at " +
      "nprobe=1 returns cell 1's rows") {
    val dir = Files.createTempDirectory("graft_tie_ivf").toString + "/i"
    VectorSearch.writeIvfIndexed(index, dir, "tie_cell")
    val df = VectorSearch.readIvfIndexed(spark, dir, centroids,
        nprobe = 1, cellCol = "tie_cell")
      .orderBy(call_function("graft_l2_distance", col("vec"),
        typedLit(origin)), col("id"))
      .limit(4)
    assert(ids(df) == want)
    val p = df.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*tie_cell#\d+ (IN|=)""".r
      .findFirstIn(p).isDefined, p)
  }

  test("a projection above the pruned top-k keeps the prune: " +
      "select(\"id\") returns cell 1's rows over PartitionFilters") {
    val dir = Files.createTempDirectory("graft_tie_ivf_sel").toString + "/i"
    VectorSearch.writeIvfIndexed(index, dir, "tie_cell")
    // column pruning drops tie_cell from the top-k's child: the prune
    // must find it in the relation under the top-k
    val df = VectorSearch.readIvfIndexed(spark, dir, centroids,
        nprobe = 1, cellCol = "tie_cell")
      .orderBy(call_function("graft_l2_distance", col("vec"),
        typedLit(origin)), col("id"))
      .limit(4)
      .select("id")
    assert(ids(df) == want)
    val p = df.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*tie_cell#\d+ (IN|=)""".r
      .findFirstIn(p).isDefined, p)
  }
}
