package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.vector.VectorSearch

/** End-to-end IVF pruning through the optimizer: write a cell-
  * partitioned corpus, register its centroids, and check that the
  * declarative top-k reads only the probed cells — partition pruning
  * visible in the scan, results identical to an explicit cell-filtered
  * search. */
class IvfPruneSpec extends SparkSpec {

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    (0 until 600).map { i =>
      (i.toLong, Array.tabulate(6)(d => ((i * 7 + d * 3) % 50).toDouble))
    }.toDF("id", "vec")
  }

  private val qvec: Seq[Double] = Seq.tabulate(6)(d => (d * 5 % 50).toDouble)

  private def l2(df: DataFrame): DataFrame =
    df.withColumn("dist",
      call_function("graft_l2_distance", col("vec"), typedLit(qvec)))

  private lazy val (path, centroids) = {
    val dir = Files.createTempDirectory("graft_ivf").toFile.getAbsolutePath
    val index = VectorSearch.buildIvf(corpus, "id", "vec", nCells = 8)
    VectorSearch.writeIvfIndexed(index, dir)
    (dir, index.centroids)
  }

  override def afterAll(): Unit = {
    KnnIvfCatalog.unregister("ivf_cell")
    super.afterAll()
  }

  test("registered index: top-k scans only the probed cells") {
    val indexed = VectorSearch.readIvfIndexed(spark, path, centroids,
      nprobe = 2)
    val df = l2(indexed).orderBy(col("dist"), col("id")).limit(10)
    val rows = df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("KnnTopKGlobal"), p)
    // the injected IN filter must reach the scan as a partition filter
    assert("""PartitionFilters: \[[^\]]*ivf_cell#\d+ (IN|=)""".r.findFirstIn(p).isDefined, p)

    // ground truth: explicit filter to the 2 nearest cells, by a
    // brute-force squared-distance sort (ties to the lowest cell id)
    val probes = centroids.map { case (cell, c) =>
      (c.zip(qvec).map { case (a, b) => (a - b) * (a - b) }.sum, cell)
    }.sorted.take(2).map(_._2)
    val manual = l2(spark.read.parquet(path))
      .filter(col("ivf_cell").isin(probes: _*))
      .orderBy(col("dist"), col("id")).limit(10).collect()
    assert(rows.map(_.getLong(0)).toSeq == manual.map(_.getLong(0)).toSeq)
    assert(rows.length == 10)
  }

  test("inline sort key (no dist column) prunes the same way") {
    val indexed = VectorSearch.readIvfIndexed(spark, path, centroids,
      nprobe = 1)
    val df = indexed
      .orderBy(call_function("graft_l2_distance", col("vec"),
        typedLit(qvec)), col("id"))
      .limit(5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*ivf_cell#\d+ (IN|=)""".r.findFirstIn(p).isDefined, p)
  }

  test("descending (farthest-point) sort is never pruned") {
    val indexed = VectorSearch.readIvfIndexed(spark, path, centroids,
      nprobe = 1)
    val df = l2(indexed).orderBy(col("dist").desc, col("id")).limit(10)
    val rows = df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("KnnTopKGlobal"), p) // top-k rewrite still applies
    assert(!"""PartitionFilters: \[[^\]]*ivf_cell#\d+ (IN|=)""".r
      .findFirstIn(p).isDefined,
      "farthest-point query was pruned to NEAREST cells: " + p)
    // exactness: must equal brute force over the full corpus
    val exact = l2(spark.read.parquet(path))
      .orderBy(col("dist").desc, col("id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(rows.map(_.getLong(0)).toSeq == exact)
  }

  test("unregistered corpus is never pruned (exact semantics preserved)") {
    KnnIvfCatalog.unregister("ivf_cell")
    val plain = spark.read.parquet(path)
    val df = l2(plain).orderBy(col("dist"), col("id")).limit(10)
    val rows = df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("KnnTopKGlobal"), p) // top-k rewrite still fires
    assert(!"""PartitionFilters: \[[^\]]*ivf_cell""".r.findFirstIn(p).isDefined, p)
    // exact answer: brute force over the full corpus
    val exact = l2(corpus).orderBy(col("dist"), col("id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(rows.map(_.getLong(0)).toSeq == exact)
  }
}
