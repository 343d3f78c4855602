package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-bound scale path for
  * similarity search (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011; the technique behind FAISS's
  * IVF-PQ indexes).
  *
  * The 100 TB problem it solves: a 768-dim float corpus is 3 KB/row —
  * a brute-force or IVF scan is memory-bandwidth-bound on the vectors
  * themselves. PQ splits each vector into `m` subvectors, quantizes
  * each against a 2^b-entry per-subspace codebook, and stores only the
  * m codes (m bytes at b=8): a 384× compression at 768-dim/m=8. Query
  * time uses ADC (asymmetric distance computation): the query
  * precomputes an m × 2^b lookup table of subspace distances ONCE, and
  * every corpus row costs m table lookups instead of d FMAs — the scan
  * touches m bytes per row, not d floats.
  *
  * Spark mapping (all deterministic, no RNG):
  *  - **train** happens driver-side on a bounded, content-ordered
  *    sample (the [[VectorSearch.buildIvf]] stance: a sample-trained
  *    codebook broadcast as literals IS the at-scale design — FAISS
  *    trains on samples too); Lloyd iterations with fixed seeding
  *    (first-k init, lowest-index tie-breaks) make the codebooks a
  *    pure function of the corpus;
  *  - **encode** is a pure map-side projection: per subspace, argmin
  *    over codebook-literal distances (the IVF cell-assignment trick)
  *    — no shuffle, no UDF, stays in whole-stage codegen;
  *  - **search** broadcasts the (tiny) query set with per-query lookup
  *    tables computed driver-side, scores each corpus row with the
  *    codegen [[graft.expr.PqAdc]] lookup-sum, and ranks through the
  *    grouped bounded-heap aggregate — the corpus never shuffles and
  *    nothing corpus-sized is ever sorted.
  */
object ProductQuantizer {

  /** Trained model: `codebooks(j)(c)` is centroid c of subspace j.
    * Sizes are bounded (m × ncent × dsub doubles — a few KB), so the
    * model embeds in plan literals and broadcasts implicitly. */
  final case class PqModel(
      dim: Int, m: Int, codebooks: Array[Array[Array[Double]]]) {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    // the flat lookupTable layout (j*ncent+c) and PqAdc's per-row
    // ncent = table.length/m inference both assume ONE codebook size;
    // train() pads to uniform length, so a violation here means a
    // hand-built model — fail loudly instead of misindexing distances
    require(codebooks.forall(_.length == codebooks(0).length),
      s"PqModel: per-subspace codebook sizes must be uniform, got " +
        codebooks.map(_.length).mkString(","))
    val dsub: Int = dim / m
    def ncent: Int = codebooks(0).length

    private def sqDist(a: Array[Double], off: Int, c: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < c.length) {
        val d = a(off + i) - c(i)
        s += d * d
        i += 1
      }
      s
    }

    /** Nearest-centroid code per subspace (driver-side twin of the
      * encode projection; lowest index wins ties, same as array_min on
      * (dist, idx) structs). */
    def encodeOne(vec: Array[Double]): Array[Int] =
      Array.tabulate(m) { j =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < codebooks(j).length) {
          val d = sqDist(vec, j * dsub, codebooks(j)(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }

    /** The query's ADC lookup table, FLAT row-major (entry j*ncent+c =
      * squared distance from the query's j-th subvector to centroid c
      * of subspace j) — the layout [[graft.expr.PqAdc]] reads with one
      * `getDouble` per subspace, no nested-array views. */
    def lookupTable(q: Array[Double]): Array[Double] = {
      val out = new Array[Double](m * ncent)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < codebooks(j).length) {
          out(j * ncent + c) = sqDist(q, j * dsub, codebooks(j)(c))
          c += 1
        }
        j += 1
      }
      out
    }

    /** Reconstruction (decode) of a code array — for distortion
      * measurement and specs. */
    def decode(codes: Array[Int]): Array[Double] = {
      val out = new Array[Double](dim)
      var j = 0
      while (j < m) {
        System.arraycopy(codebooks(j)(codes(j)), 0, out, j * dsub, dsub)
        j += 1
      }
      out
    }

    /** Map-side encode column: one [[graft.expr.PqEncode]] call with
      * the codebooks as a plan LITERAL — a flat triple loop in
      * generated Java reading the codebooks from the references array.
      * (The composed alternative — m × ncent `struct(sqdist, idx)`
      * argmin nodes — costs tens of seconds of codegen at m=32/nc=64
      * and was replaced; parity with [[encodeOne]] is spec-pinned.) */
    def encodeCol(vec: Column): Column =
      call_function("graft_pq_encode", vec,
        typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq))
  }

  /** Deterministic per-subspace Lloyd/k-means:
    * init = the first `ncent` DISTINCT subvectors in sample order (the
    * IVF seeding rule, [[VectorSearch.lowestDistinct]]);
    * `iters` assignment/update rounds with lowest-index tie-breaks and
    * empty clusters keeping their centroid. Pure function of the
    * sample — retraining on the same corpus reproduces the codebooks
    * bit-for-bit. */
  private def kmeans(sub: Array[Array[Double]], ncent: Int, iters: Int)
      : Array[Array[Double]] = {
    var cents = VectorSearch.lowestDistinct(sub.iterator.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toSeq) }, ncent)
      .map(_._2.toArray).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](sub(0).length))
      val counts = new Array[Long](cents.length)
      sub.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0
          var k = 0
          while (k < v.length) {
            val x = v(k) - cents(c)(k)
            d += x * x
            k += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var k = 0
        while (k < v.length) { sums(best)(k) += v(k); k += 1 }
      }
      cents = Array.tabulate(cents.length)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c)))
      it += 1
    }
    cents
  }

  /** Train on a bounded, content-ordered corpus sample. The collect is
    * provably bounded by `sampleN` rows × dim doubles (default 2048 ×
    * 64 = 1 MB) — the same justified-collect class as the IVF seed
    * centroids. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ncent: Int, sampleN: Int = 2048, iters: Int = 5): PqModel = {
    val sample = corpus
      .select(col(vecCol).cast("array<double>").as("vec"), col(idCol).as("id"))
      .orderBy("id").limit(sampleN)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "PQ train: empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val codebooks = Array.tabulate(m) { j =>
      kmeans(sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub,
        (j + 1) * dsub)), ncent, iters)
    }
    // kmeans seeds from DISTINCT subvectors, so a low-diversity sample
    // can leave subspaces with fewer centroids than others. The flat
    // ADC table layout (and PqAdc's table.length/m inference) requires
    // one uniform ncent — pad short codebooks by duplicating their
    // last centroid: duplicates sit at higher indices and encodeOne's
    // strict `<` tiebreak never selects them, so encodes, decodes and
    // distances are unchanged.
    val maxLen = codebooks.map(_.length).max
    val uniform = codebooks.map { cb =>
      if (cb.length == maxLen) cb
      else cb ++ Array.fill(maxLen - cb.length)(cb.last.clone())
    }
    PqModel(dim, m, uniform)
  }

  /** Encode the corpus: one map-side projection adding `codeCol`
    * (array<int>, m entries). At rest this is the index — persist it
    * instead of the vectors for the compressed scan path. */
  def encode(corpus: DataFrame, vecCol: String, model: PqModel,
      codeCol: String = "pq_codes"): DataFrame =
    corpus.withColumn(codeCol,
      model.encodeCol(col(vecCol).cast("array<double>")))

  /** The query set, collected once (bounded: it is small by contract,
    * the broadcast side of every search in this engine): (query_id,
    * query vector) in qidx order, and their ADC lookup tables for
    * `graft_pq_adc_lit(codes, qidx, tables)`. The tables ride as
    * ONE foldable literal that graft_pq_adc_lit materializes into a
    * primitive double[][] at plan time — NOT as a data column (16 KB
    * copied into every corpus×queries join row) and NOT element_at
    * over the literal (GenericArrayData boxes every getDouble — one
    * Double unbox per lookup, half a billion on a 2M-row scan). */
  private def adcQueries(queries: DataFrame, qidCol: String,
      qvecCol: String, model: PqModel)
      : (Seq[(Long, Seq[Double])], Column) = {
    val qs = queries
      .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    (qs, typedLit(qs.map(q => model.lookupTable(q._2.toArray).toSeq)))
  }

  /** Approximate top-k by ADC scan over PQ codes. `queries` must be
    * small (collected to build per-query lookup tables, broadcast as
    * a frame). Returns (query_id, id, dist, rank) with dist the ADC
    * approximation of SQUARED L2. */
  def search(encoded: DataFrame, idCol: String, codeCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      model: PqModel, k: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val (qs, tables) = adcQueries(queries, qidCol, qvecCol, model)
    val qdf = broadcast(
      qs.map(_._1).zipWithIndex.toDF("query_id", "qidx"))
    val scored = encoded
      .select(col(idCol).as("id"), col(codeCol).as("codes"))
      .crossJoin(qdf)
      .withColumn("dist", call_function("graft_pq_adc_lit",
        col("codes"), col("qidx"), tables))
    VectorSearch.rankTopK(scored, k)
  }

  /** PQ-encode an IVF-assigned corpus: (id, cell, pq_codes) — the
    * FAISS-style IVFPQ index. Persisted `partitionBy(cell)` this is
    * BOTH prunable (probes read nprobe cells) and 16-32× smaller than
    * the vectors (codes only). */
  def encodeIvf(index: VectorSearch.IvfIndex, vecCol: String,
      model: PqModel, codeCol: String = "pq_codes"): DataFrame =
    encode(index.assigned, vecCol, model, codeCol)
      .select(col("id"), col("cell"), col(codeCol))

  /** Persist the IVFPQ index: (id, pq_codes) partitioned on `cell` —
    * the FAISS IVFPQ layout as a lake table, written through the
    * [[graft.io.Layout]] standing-index core. Composes the two 100 TB
    * properties in ONE artifact: probes read `nprobe` DIRECTORIES
    * ([[searchIvfPq]]'s static cell filter → parquet PartitionFilters)
    * and each row costs m bytes (codes, no vectors). */
  def writeIvfPq(index: VectorSearch.IvfIndex, vecCol: String,
      model: PqModel, path: String, codeCol: String = "pq_codes"): Unit =
    graft.io.Layout.writePartitioned(encodeIvf(index, vecCol, model,
      codeCol), path, Seq("cell"))

  /** Read a [[writeIvfPq]] layout back for [[searchIvfPq]]. */
  def readIvfPq(spark: org.apache.spark.sql.SparkSession, path: String)
      : DataFrame =
    graft.io.Layout.readIndex(spark, path)

  /** IVFPQ search: the query probes its `nprobe` nearest cells (the
    * nearest-cell kernel [[VectorSearch.searchIvf]] probes with) and
    * ADC-scans only those cells' codes. The two approximations
    * compose: IVF bounds WHAT is scanned (nprobe/nCells of the
    * corpus), PQ bounds WHAT EACH ROW COSTS (m byte codes); at 100 TB
    * this is the only shape where neither the scan set nor the
    * bytes-per-row grows with the corpus. */
  def searchIvfPq(index: VectorSearch.IvfIndex, encodedCells: DataFrame,
      queries: DataFrame, qidCol: String, qvecCol: String,
      model: PqModel, k: Int, nprobe: Int = 1,
      codeCol: String = "pq_codes"): DataFrame = {
    val spark = encodedCells.sparkSession
    import spark.implicits._
    val (qs, tables) = adcQueries(queries, qidCol, qvecCol, model)
    // (query_id, qidx, cell) per probed cell, computed driver-side by
    // the cell model's own kernel ([[VectorSearch.probeCellsOf]]). The
    // same list is the broadcast join side AND the STATIC cell filter
    // that restricts the corpus before the join — over a
    // [[writeIvfPq]] layout real PartitionFilters (read nprobe
    // directories, not the corpus), in memory a cheap row filter.
    val probes = qs.zipWithIndex.flatMap { case ((qid, qvec), qidx) =>
      VectorSearch.probeCellsOf(qvec, index.centroids, nprobe)
        .map((qid, qidx, _))
    }
    val scored = graft.io.Layout.keepPartitions(encodedCells,
        Seq("cell"), probes.map(p => Seq(p._3)).distinct)
      .join(broadcast(probes.toDF("query_id", "qidx", "cell")), Seq("cell"))
      .withColumn("dist", call_function("graft_pq_adc_lit",
        col(codeCol), col("qidx"), tables))
    VectorSearch.rankTopK(scored, k)
  }
}
