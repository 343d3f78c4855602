package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.expr.NearestCentroidK
import graft.io.Layout

/** Library-level similarity-search API (the reference's
  * `generate_embeddings.py` search path, V5/V6, re-expressed as plans):
  * brute-force kNN as the exact baseline and an IVF-partitioned variant
  * as the scale path. Distances use the native codegen expressions from
  * [[graft.expr]] (registered by GraftExtensions).
  *
  * Scale design (100 TB): `knn` broadcasts the query set — the corpus
  * is scanned once, map-side, and ranking goes through the grouped
  * bounded-heap aggregate ([[graft.functions.GroupedTopK]] via
  * [[graft.ops.Ops.topKPerGroupAgg]]): each scan partition keeps a
  * local top-k PER QUERY before the exchange, so the shuffle carries
  * only `partitions × queries × k` pairs — never the corpus×queries
  * product, and never a per-query single-task sort. `IvfIndex` embeds
  * the (tiny) centroid set as a *literal array expression*, so cluster
  * assignment is a pure map-side argmin — no crossJoin, no shuffle, no
  * window — and probes read only `nprobe` cells; persisted through
  * [[writeIvfIndexed]] that becomes real partition pruning.
  */
object VectorSearch {

  private def l2(a: Column, b: Column): Column =
    call_function("graft_l2_distance", a, b)

  /** Rank scored (query_id, id, dist) candidates: top-k per query via
    * the mergeable bounded-heap aggregate — the one ranking tail of
    * every search here and in [[ProductQuantizer]]. The double
    * distance rides the order-preserving sortable-bits map and is
    * restored bit-for-bit on output. */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    graft.ops.Ops.topKPerGroupAgg(
      scored.withColumn("__dk",
        call_function("graft_sortable_bits", col("dist"))),
      Seq("query_id"), col("__dk"), col("id"), k, "dkey", "id", "rank")
      .select(col("query_id"), col("id"),
        call_function("graft_sortable_double", col("dkey")).as("dist"),
        col("rank"))

  /** Exact brute-force top-k: one row per (query, rank<=k neighbor).
    * `queries` must be small (it is broadcast). */
  def knn(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame =
    rankTopK(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
        .crossJoin(broadcast(queries.select(
          col(qidCol).as("query_id"), col(qvecCol).as("qvec"))))
        .withColumn("dist", l2(col("vec"), col("qvec"))),
      k)

  /** IVF index: corpus rows tagged with their nearest centroid cell.
    * `centroids` is driver-side (tiny by construction). */
  final case class IvfIndex(
      assigned: DataFrame, centroids: Seq[(Long, Seq[Double])]) {

    /** The query's nprobe nearest cells, nearest first
      * ([[probeCellsLit]]). */
    def probeCells(vec: Column, nprobe: Int): Column =
      probeCellsLit(vec, centroids, nprobe)
  }

  /** The IVF family's one cell model. Every build, k-means round,
    * probe, optimizer prune and static partition filter decides
    * "nearest cell" through the flat matrix-literal kernels
    * [[graft.expr.NearestCentroid]] / [[graft.expr.NearestCentroidK]]:
    * squared L2, ties to the lowest cell id. This is the one centroid
    * layout they read: ids ascending and the matching matrix rows, so
    * matrix row i is cell `ids(i)` and the kernels' lowest-index
    * tiebreak is the lowest-cell-id tiebreak. */
  private def cellMatrix(centroids: Seq[(Long, Seq[Double])])
      : (Seq[Long], Seq[Seq[Double]]) =
    centroids.sortBy(_._1).unzip

  /** The nprobe nearest cell IDS for a vector, nearest first:
    * `graft_nearest_centroid_k`'s flat n-slot insertion loop over the
    * centroid matrix, mapped from matrix positions back to cell ids. */
  private[graft] def probeCellsLit(vec: Column,
      centroids: Seq[(Long, Seq[Double])], nprobe: Int): Column = {
    val (ids, matrix) = cellMatrix(centroids)
    transform(
      call_function("graft_nearest_centroid_k",
        vec, typedLit(matrix), lit(nprobe)),
      i => element_at(typedLit(ids), i + 1))
  }

  /** [[probeCellsLit]] for one driver-side query vector: the same
    * `NearestCentroidK` over the same literals, evaluated the way
    * ConstantFolding evaluates a foldable expression. Driver-side cell
    * choices (the optimizer prune, [[ProductQuantizer.searchIvfPq]]'s
    * static partition filter) are therefore the cells the map-side
    * probes and assignments pick, ulp ties included. A dimension
    * mismatch means the WRONG index — the kernel would silently
    * truncate its distance loop, so fail loudly instead. */
  private[graft] def probeCellsOf(q: Seq[Double],
      centroids: Seq[(Long, Seq[Double])], nprobe: Int): Seq[Long] = {
    val (ids, matrix) = cellMatrix(centroids)
    matrix.foreach(c => require(c.length == q.length,
      s"IVF centroid dim ${c.length} != query dim ${q.length} — " +
        "the registered index does not match this corpus/query"))
    NearestCentroidK(Literal.create(q, ArrayType(DoubleType)),
        Literal.create(matrix, ArrayType(ArrayType(DoubleType))),
        Literal(nprobe))
      .eval().asInstanceOf[ArrayData].toIntArray.toSeq.map(ids)
  }

  /** The IVF seeding rule: the `n` lowest-id DISTINCT vectors,
    * id-ascending — [[buildIvf]], [[Kmeans.fit]] and
    * [[graft.ops.VectorDedupIndex.seedCentroids]] all seed through it.
    * Distinct matters: on a replica-heavy corpus the lowest n ids can
    * all be copies of one vector, and n copies of one seed make one
    * cell. A corpus with fewer than n distinct vectors yields fewer
    * than n seeds. Ids must be unique (they become the cell ids).
    *
    * One map-side pass, no shuffle: each partition keeps its own n
    * lowest-id distinct vectors ([[lowestDistinct]]) and the driver
    * folds the partitions' survivors in with the same rule as they
    * arrive, holding at most 2n. Exact: a vector among the global n
    * lowest has fewer than n distinct vectors with a lower id
    * anywhere, so its own partition keeps it. */
  private[graft] def seedCells(corpus: DataFrame, idCol: String,
      vecCol: String, n: Int): Seq[(Long, Seq[Double])] =
    corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .rdd.mapPartitions(rows => Iterator(lowestDistinct(
        rows.map(r => (r.getLong(0), r.getSeq[Double](1))), n)))
      .fold(Seq.empty)((a, b) => lowestDistinct((a ++ b).iterator, n))

  /** The `n` lowest-id distinct vectors of `rows` (any order),
    * id-ascending; a vector counts at its lowest id. Holds at most n
    * vectors at a time. */
  private[graft] def lowestDistinct(rows: Iterator[(Long, Seq[Double])],
      n: Int): Seq[(Long, Seq[Double])] = {
    val byId = scala.collection.mutable.TreeMap.empty[Long, Seq[Double]]
    val idOf = scala.collection.mutable.HashMap.empty[Seq[Double], Long]
    rows.foreach { case (id, v) =>
      if (n > 0 && (byId.size < n || id < byId.lastKey)) {
        val prev = idOf.get(v)
        if (prev.forall(id < _)) {
          prev.foreach(byId.remove)
          byId(id) = v
          idOf(v) = id
          if (byId.size > n) byId.remove(byId.lastKey).foreach(idOf.remove)
        }
      }
    }
    byId.toSeq
  }

  /** Build the IVF index: [[seedCells]] picks nCells seed centroids
    * deterministically, and [[buildIvfWith]] tags every corpus row
    * with its nearest cell in one map-side pass. */
  def buildIvf(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int): IvfIndex =
    buildIvfWith(corpus, idCol, vecCol,
      seedCells(corpus, idCol, vecCol, nCells))

  /** Map-side nearest-centroid assignment that scales in centroid
    * count: ONE `graft_nearest_centroid` expression over the centroid
    * MATRIX literal (flat generated loop — [[graft.expr
    * .NearestCentroid]]). The alternatives both fail at large k,
    * measured: a per-centroid struct-literal argmin builds an
    * nCells×dim expression tree that degenerates past a few dozen
    * cells (160×64 stalled a 2M-row assignment 20+ min), and a
    * join+aggregate form OOMs carrying vectors as group keys through a
    * sort-fallback aggregate. Appends `cell`. */
  private[graft] def assignCells(rows: DataFrame, vecCol: String,
      centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    val (ids, matrix) = cellMatrix(centroids)
    rows.withColumn("cell",
      element_at(typedLit(ids),
        call_function("graft_nearest_centroid",
          col(vecCol), typedLit(matrix)) + 1))
  }

  /** [[assignCells]] plus the L2 distance to the chosen centroid in
    * `distCol` — the pair [[graft.ops.SemanticDecontam]] needs for its
    * per-cell radius stats. The argmin runs through the same scalable
    * matrix-literal expression; the distance is then ONE O(d)
    * `graft_l2_distance` against `element_at(matrix, argmin+1)` —
    * never a second O(k·d) pass. Appends `cell` and `distCol`. */
  private[graft] def assignCellsWithDist(rows: DataFrame, vecCol: String,
      centroids: Seq[(Long, Seq[Double])], distCol: String): DataFrame = {
    val (ids, matrix) = cellMatrix(centroids)
    rows
      .withColumn("__ci",
        call_function("graft_nearest_centroid",
          col(vecCol), typedLit(matrix)))
      .withColumn("cell", element_at(typedLit(ids), col("__ci") + 1))
      .withColumn(distCol,
        l2(col(vecCol), element_at(typedLit(matrix), col("__ci") + 1)))
      .drop("__ci")
  }

  /** Build the IVF index from GIVEN centroids — e.g. [[Kmeans.fit]]
    * output, the production path (trained cells are tighter, so
    * `nprobe` cells capture more true neighbors than seed cells at
    * the same read cost). Assignment is the map-side matrix-literal
    * argmin ([[assignCells]]), which scales in centroid count. */
  def buildIvfWith(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])]): IvfIndex = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val ids = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    IvfIndex(assignCells(ids, "vec", centroids), centroids)
  }

  /** Persist the IVF-assigned corpus partitioned on its cell — the
    * layout the optimizer-level prune ([[graft.plans.IvfPruneRule]])
    * turns into real partition pruning; written through the
    * [[graft.io.Layout]] standing-index core. The cell column name
    * doubles as the registry key, so pick a distinctive one. */
  def writeIvfIndexed(index: IvfIndex, path: String,
      cellCol: String = "ivf_cell"): Unit =
    Layout.writePartitioned(index.assigned.withColumnRenamed("cell", cellCol),
      path, Seq(cellCol))

  /** Read an IVF-partitioned corpus back AND register its centroids
    * for optimizer-level cell pruning: any subsequent
    * `orderBy(l2_distance(vec, q)).limit(k)` over the frame is
    * rewritten to scan only the query's `nprobe` nearest cells.
    * Registering is the explicit opt-in to IVF-recall semantics. */
  def readIvfIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Seq[(Long, Seq[Double])], nprobe: Int,
      cellCol: String = "ivf_cell"): DataFrame = {
    graft.plans.KnnIvfCatalog.register(cellCol, centroids, nprobe)
    Layout.readIndex(spark, path)
  }

  /** Probe the IVF index: rank the query's `nprobe` nearest cells
    * map-side, then kNN only within those cells. Approximate (standard
    * IVF recall trade-off), exact within the probed cells. */
  def searchIvf(index: IvfIndex, queries: DataFrame, qidCol: String,
      qvecCol: String, k: Int, nprobe: Int = 1): DataFrame = {
    val q = queries.select(col(qidCol).as("query_id"),
      col(qvecCol).cast("array<double>").as("qvec"))
      .withColumn("cell", explode(index.probeCells(col("qvec"), nprobe)))
    val scored = index.assigned.join(broadcast(q), Seq("cell"))
      .withColumn("dist", l2(col("vec"), col("qvec")))
      .withColumn("__dk", call_function("graft_sortable_bits", col("dist")))
    // two-level so the cell provenance column survives WITHOUT a second
    // corpus scan: bounded-heap top-k per (query, probed cell) — the
    // global per-query top-k is a subset of the per-cell top-ks — then
    // a window over the ≤ nprobe × k survivors per query (bounded by
    // construction, never corpus-sized)
    val perCell = graft.ops.Ops.topKPerGroupAgg(scored,
      Seq("query_id", "cell"), col("__dk"), col("id"), k,
      "dkey", "id", "__r1").drop("__r1")
    graft.ops.Ops.topKPerGroup(perCell, Seq("query_id"),
        Seq(col("dkey").asc, col("id").asc), k)
      .select(col("query_id"), col("id"), col("cell"),
        call_function("graft_sortable_double", col("dkey")).as("dist"),
        col("rank"))
  }

  // ------------------------------------------------------------- LSH ANN

  /** Random-hyperplane LSH — the second ANN scale path next to IVF
    * (indyk-motwani style sign buckets): bucket(v) = the B sign bits of
    * v against B fixed hyperplanes, packed into a long. Like the IVF
    * centroids, the (tiny) hyperplane set embeds in the plan as
    * literals, so bucketing is pure map-side expression math — at scale
    * the bucket is a partition/cluster key and probes read only the
    * query's bucket(s). Multiprobe widens recall by also visiting every
    * 1-bit-flip neighbor bucket (B+1 buckets) — still O(1) of the
    * corpus. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (h, b) =>
      when(call_function("graft_dot", vec, typedLit(h)) > 0d,
        lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)

  /** The query's probe buckets: its own, plus each 1-bit flip when
    * `multiprobe` is on. */
  def lshProbes(vec: Column, planes: Seq[Seq[Double]],
      multiprobe: Boolean): Column = {
    val own = lshBucket(vec, planes)
    if (!multiprobe) array(own)
    else array(own +: planes.indices.map(b =>
      own.bitwiseXOR(lit(1L << b))): _*)
  }

  private def lshRows(df: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], bucketCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .withColumn(bucketCol, lshBucket(col("vec"), planes))

  /** Queries exploded across their probe `bucket`s. */
  private def lshQueries(queries: DataFrame, qidCol: String,
      qvecCol: String, planes: Seq[Seq[Double]],
      multiprobe: Boolean): DataFrame =
    queries.select(col(qidCol).as("query_id"),
      col(qvecCol).cast("array<double>").as("qvec"))
      .withColumn("bucket",
        explode(lshProbes(col("qvec"), planes, multiprobe)))

  /** Persist the LSH-bucketed corpus partitioned on its bucket through
    * the [[graft.io.Layout]] standing-index core — the same layout
    * contract as [[writeIvfIndexed]]: probes then become REAL
    * partition pruning on read (asserted in VectorSearchSpec). */
  def writeLshIndexed(corpus: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], path: String,
      bucketCol: String = "lsh_bucket"): Unit =
    Layout.writePartitioned(lshRows(corpus, idCol, vecCol, planes,
      bucketCol), path, Seq(bucketCol))

  /** Append a batch into a persisted LSH index — [[writeLshIndexed]]'s
    * nightly other half, completing the admit contract across all
    * three persisted layouts ([[graft.ops.VectorDedupIndex.admitBatch]]
    * on IVF cells, [[graft.ops.TextDedupIndex.admitBatch]] on MinHash
    * bands, this on sign buckets): bucket map-side with the SAME
    * plane literals and append. Bucketing is row-local and
    * deterministic, so admitted rows are indistinguishable from
    * build-time rows — probes see them immediately (spec pins admit ≡
    * rebuild, search-for-search); compact with
    * [[graft.io.Layout.compactPartitioned]] on the usual cadence. */
  def admitLshIndexed(batch: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], path: String,
      bucketCol: String = "lsh_bucket"): Unit =
    Layout.writePartitioned(lshRows(batch, idCol, vecCol, planes,
      bucketCol), path, Seq(bucketCol), SaveMode.Append)

  /** Probe a persisted LSH index: only the bucket directories the
    * query set probes are read; the exploded queries are built once and
    * held on the driver ([[graft.io.Layout.probeSides]]; queries are
    * small by contract); exact top-k within them. */
  def searchLshIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, qidCol: String, qvecCol: String,
      planes: Seq[Seq[Double]], k: Int, multiprobe: Boolean = true,
      bucketCol: String = "lsh_bucket"): DataFrame = {
    val (corpus, q) = Layout.probeSides(spark, path,
      lshQueries(queries, qidCol, qvecCol, planes, multiprobe)
        .withColumnRenamed("bucket", bucketCol), Seq(bucketCol))
    rankTopK(
      corpus.join(broadcast(q), Seq(bucketCol))
        .withColumn("dist", l2(col("vec"), col("qvec"))),
      k)
  }

  /** ANN search through sign-bucket LSH: corpus tagged map-side,
    * queries (broadcast) probe their bucket set, exact top-k within
    * the union of probed buckets. */
  def searchLsh(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      planes: Seq[Seq[Double]], k: Int, multiprobe: Boolean = true)
      : DataFrame = {
    val tagged = lshRows(corpus, idCol, vecCol, planes, "bucket")
    val q = lshQueries(queries, qidCol, qvecCol, planes, multiprobe)
    rankTopK(
      tagged.join(broadcast(q), Seq("bucket"))
        .withColumn("dist", l2(col("vec"), col("qvec"))),
      k)
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    * from each query's candidate pool pick k items greedily by
    * `λ·rel(c) − (1−λ)·max_{s∈picked} cos(c, s)` — the standard
    * diversification pass RAG retrieval runs AFTER first-stage kNN,
    * so near-duplicate passages don't crowd out coverage.
    *
    * Scale design (100 TB): MMR is inherently sequential IN k, so the
    * right distributed shape is per-QUERY parallelism over the
    * already-bounded stage-1 pools: `candidates` is the output of
    * [[knn]]/[[searchIvf]]/[[searchLsh]] joined back to its vectors —
    * contractually ≤ poolSize rows per query — and each query's
    * greedy loop runs in ONE task via `flatMapGroups` (state = that
    * query's pool; O(k·pool) dot products). Nothing corpus-scale is
    * grouped, collected, or shuffled beyond the (query_id) exchange
    * of the small pool frame. Ties break on candidate id, and the
    * pool is pre-sorted (rel desc, id) before the loop, so the result
    * is deterministic under any input partitioning.
    *
    * `candidates` schema: (query_id: long, id: long,
    * vec: array<double>, rel: double — higher is more relevant).
    * Returns (query_id, id, rank 1..k, mmr_score). */
  def mmrRerank(candidates: DataFrame, k: Int,
      lambda: Double = 0.5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val out = candidates
      .select(col("query_id").cast("long"), col("id").cast("long"),
        col("vec").cast("array<double>"), col("rel").cast("double"))
      .as[(Long, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val pool = it.toArray.sortBy { case (_, id, _, rel) => (-rel, id) }
        // a NaN rel would make every `s > bestScore` comparison false
        // and crash the greedy loop at taken(-1) — fail with the
        // offending (query, id) instead of an index error
        pool.foreach { case (_, id, _, rel) =>
          require(!rel.isNaN, s"NaN rel for query=$qid id=$id") }
        // unit-normalize once so candidate-candidate sim is one dot
        val unit = pool.map { case (_, _, v, _) =>
          val n = math.sqrt(v.map(x => x * x).sum)
          if (n == 0.0) v else v.map(_ / n)
        }
        def dot(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
        val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
        val maxSim = Array.fill(pool.length)(0.0) // max cos to picked set
        val taken = Array.fill(pool.length)(false)
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Int, Double)]
        var rank = 1
        while (rank <= math.min(k, pool.length)) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < pool.length) {
            if (!taken(i)) {
              val s = lambda * pool(i)._4 -
                (1.0 - lambda) * (if (picked.isEmpty) 0.0 else maxSim(i))
              // strict > keeps the (rel desc, id) pre-sort as tiebreak
              if (s > bestScore) { bestScore = s; best = i }
            }
            i += 1
          }
          taken(best) = true
          picked += best
          rows += ((qid, pool(best)._2, rank, bestScore))
          var j = 0
          while (j < pool.length) {
            if (!taken(j)) {
              val sim = dot(unit(j), unit(best))
              if (sim > maxSim(j)) maxSim(j) = sim
            }
            j += 1
          }
          rank += 1
        }
        rows.iterator
      }
    out.toDF("query_id", "id", "rank", "mmr_score")
  }
}
