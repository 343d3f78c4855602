package graft.vector

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

class VectorSearchSpec extends SparkSpec {
  import spark.implicits._

  /** The per-centroid struct-literal argmin the matrix-literal cell
    * kernels replaced, kept here as their parity reference: sqrt L2
    * per centroid, ties to the lowest cell id. */
  private implicit class StructLiteralCells(index: VectorSearch.IvfIndex) {
    import index.centroids
    private def l2(a: Column, b: Column): Column =
      call_function("graft_l2_distance", a, b)

    /** (distance-to-centroid, cell) candidates as one literal-array
      * expression over `vec` — evaluated map-side, fully codegen. */
    def cellCandidates(vec: Column): Column =
      array(centroids.map { case (cellId, cvec) =>
        struct(
          l2(vec, typedLit(cvec)).as("d"),
          lit(cellId).as("cell"))
      }: _*)

    /** Nearest cell for a vector: argmin over the literal candidates. */
    def nearestCell(vec: Column): Column =
      array_min(cellCandidates(vec)).getField("cell")
  }

  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("brute-force knn returns k ranked neighbors per query") {
    val queries = emb.filter(col("vec_id") < 3)
    val out = VectorSearch.knn(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 4).collect()
    assert(out.length == 12)
    // rank 1 is the query itself at distance 0
    val self = out.filter(_.getAs[Int]("rank") == 1)
    assert(self.forall(r =>
      r.getAs[Long]("query_id") == r.getAs[Long]("id") &&
        r.getAs[Double]("dist") == 0.0))
    // distances ascend with rank per query
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      val byRank = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("dist"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
    }
  }

  test("ivf probe with all cells probed matches brute force top-1") {
    val queries = emb.filter(col("vec_id").isin(100L, 200L))
    val index = VectorSearch.buildIvf(emb, "vec_id", "embedding", nCells = 4)
    assert(index.assigned.select("cell").distinct().count() <= 4)
    val exact = VectorSearch.knn(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 1)
      .collect().map(r =>
        r.getAs[Long]("query_id") -> r.getAs[Long]("id")).toMap
    val ivf = VectorSearch.searchIvf(index, queries, "vec_id", "embedding",
      k = 1, nprobe = 4)
      .collect().map(r =>
        r.getAs[Long]("query_id") -> r.getAs[Long]("id")).toMap
    // probing every cell makes IVF exact
    assert(ivf == exact)
  }

  test("ivf with nprobe=1 scans only one cell per query") {
    val queries = emb.filter(col("vec_id") === 100L)
    val index = VectorSearch.buildIvf(emb, "vec_id", "embedding", nCells = 4)
    val out = VectorSearch.searchIvf(index, queries, "vec_id", "embedding",
      k = 5, nprobe = 1).collect()
    assert(out.nonEmpty && out.map(_.getAs[Long]("cell")).distinct.length == 1)
  }

  test("lsh search: self is always found (same bucket), ranks ascend") {
    val planes = Seq.tabulate(8)(b =>
      Seq.tabulate(16)(i => ((b * 31 + i * 17) % 19 - 9).toDouble))
    val queries = emb.filter(col("vec_id").isin(7L, 42L, 99L))
    val out = VectorSearch.searchLsh(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", planes, k = 5).collect()
    // a vector shares its own bucket, so rank 1 is self at dist 0
    val self = out.filter(_.getAs[Int]("rank") == 1)
    assert(self.length == 3 && self.forall(r =>
      r.getAs[Long]("query_id") == r.getAs[Long]("id") &&
        r.getAs[Double]("dist") == 0.0))
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      val byRank = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("dist"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
    }
  }

  test("persisted LSH index: partition-pruned probes match in-memory") {
    val planes = Seq.tabulate(8)(b =>
      Seq.tabulate(16)(i => ((b * 31 + i * 17) % 19 - 9).toDouble))
    val path = java.nio.file.Files
      .createTempDirectory("graft_lsh_idx").toString + "/idx"
    VectorSearch.writeLshIndexed(emb, "vec_id", "embedding", planes, path)
    val queries = emb.filter(col("vec_id").isin(7L, 42L))
    val indexed = VectorSearch.searchLshIndexed(spark, path, queries,
      "vec_id", "embedding", planes, k = 5)
    indexed.collect()
    val p = indexed.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*lsh_bucket""".r
      .findFirstIn(p).isDefined,
      "probe buckets did not become partition filters: " + p)
    val inMem = VectorSearch.searchLsh(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", planes, k = 5)
    val a = indexed.select("query_id", "id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val b = inMem.select("query_id", "id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(a == b, "indexed and in-memory LSH results diverge")
    // an empty query set probes nothing, under the non-empty schema
    val none = VectorSearch.searchLshIndexed(spark, path,
      emb.filter(col("vec_id") < 0), "vec_id", "embedding", planes, k = 5)
    assert(none.count() == 0)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType)
    assert(shape(none) == shape(indexed))
  }

  test("multiprobe visits strictly more candidates than single-bucket") {
    val planes = Seq.tabulate(8)(b =>
      Seq.tabulate(16)(i => ((b * 13 + i * 7) % 11 - 5).toDouble))
    val queries = emb.filter(col("vec_id") < 5)
    def hits(mp: Boolean) = VectorSearch.searchLsh(emb, "vec_id",
      "embedding", queries, "vec_id", "embedding", planes,
      k = 1000000, multiprobe = mp).count()
    assert(hits(true) >= hits(false))
  }

  test("assignCells (the matrix-literal argmin) matches the " +
      "struct-literal argmin cell for cell") {
    // buildIvfWith switched to graft_nearest_centroid because the
    // per-centroid struct-literal tree degenerates past a few dozen
    // cells (a 160-cell × 64-dim tree stalled a 2M-row assignment);
    // both forms share the (distance, lowest-cell) tiebreak, so their
    // assignments must be identical wherever both run
    val rows = emb.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("vec"))
    val cents = rows.orderBy("id").limit(8).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val index = VectorSearch.IvfIndex(null, cents)
    val viaStruct = rows
      .withColumn("cell", index.nearestCell(col("vec")))
      .select("id", "cell").as[(Long, Long)].collect().toMap
    val viaMatrix = VectorSearch.assignCells(rows, "vec", cents)
      .select("id", "cell").as[(Long, Long)].collect().toMap
    assert(viaMatrix == viaStruct)
  }

  test("admitLshIndexed: N admits ≡ one full rebuild — search " +
      "results and bounded files per bucket (the LSH leg of the " +
      "r14 admit contract)") {
    val planes = Seq.tabulate(8)(b =>
      Seq.tabulate(16)(i => ((b * 13 + i * 7) % 11 - 5).toDouble))
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    val incr = java.nio.file.Files
      .createTempDirectory("lsh_admit_incr").toString
    VectorSearch.writeLshIndexed(half1, "vec_id", "embedding",
      planes, incr)
    VectorSearch.admitLshIndexed(half2, "vec_id", "embedding",
      planes, incr)
    val full = java.nio.file.Files
      .createTempDirectory("lsh_admit_full").toString
    VectorSearch.writeLshIndexed(emb, "vec_id", "embedding",
      planes, full)
    def content(p: String) = spark.read.parquet(p)
      .select(col("id"), col("lsh_bucket").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(content(incr) == content(full))
    val queries = emb.filter(col("vec_id") < 5)
    def hits(p: String) = VectorSearch.searchLshIndexed(spark, p,
        queries, "vec_id", "embedding", planes, k = 10)
      .select("query_id", "id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(hits(incr) == hits(full) && hits(incr).nonEmpty)
    // ≤ 1 file per bucket per write; compaction restores exactly 1
    def maxFiles(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("lsh_bucket=")).map(
        _.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(maxFiles(incr) <= 2)
    val comp = java.nio.file.Files
      .createTempDirectory("lsh_admit_comp").toString
    graft.io.Layout.compactPartitioned(spark, incr, comp,
      Seq("lsh_bucket"), sortCols = Seq("id"))
    assert(maxFiles(comp) == 1 && content(comp) == content(full))
  }

  test("probeCells (graft_nearest_centroid_k) matches the old " +
      "array_sort(cellCandidates) composition order for order") {
    // IvfIndex.probeCells migrated to the flat n-slot expression in
    // r14 (the struct-literal sort degenerates at large k, like the
    // argmin before it); both share the (distance, lowest cell id)
    // tiebreak, so the probe sequences must be identical
    val rows = emb.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("vec"))
    val cents = rows.orderBy("id").limit(8).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val index = VectorSearch.IvfIndex(null, cents)
    for (np <- Seq(1, 3, 8)) {
      val viaStruct = rows.withColumn("p",
          transform(
            slice(array_sort(index.cellCandidates(col("vec"))), 1, np),
            c => c.getField("cell")))
        .select("id", "p").as[(Long, Seq[Long])].collect().toMap
      val viaExpr = rows.withColumn("p",
          index.probeCells(col("vec"), np))
        .select("id", "p").as[(Long, Seq[Long])].collect().toMap
      assert(viaExpr == viaStruct, s"nprobe=$np")
    }
  }

  test("assignCellsWithDist: same cell as assignCells, distance " +
      "equals the struct-literal argmin's d (ADVICE r13 migration)") {
    val rows = emb.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("vec"))
    val cents = rows.orderBy("id").limit(8).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val index = VectorSearch.IvfIndex(null, cents)
    val viaStruct = rows
      .withColumn("cell", index.nearestCell(col("vec")))
      .withColumn("dc",
        array_min(index.cellCandidates(col("vec"))).getField("d"))
      .select("id", "cell", "dc").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val got = VectorSearch.assignCellsWithDist(rows, "vec", cents, "dc")
      .select("id", "cell", "dc").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == viaStruct.keySet)
    got.foreach { case (id, (cell, dc)) =>
      assert(cell == viaStruct(id)._1, s"cell mismatch at $id")
      // both compute sqrt(sum of squared diffs) against the SAME
      // chosen centroid — bit-identical, not merely close
      assert(dc == viaStruct(id)._2, s"dist mismatch at $id")
    }
  }
}
