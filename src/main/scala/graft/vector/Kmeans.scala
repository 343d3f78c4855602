package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means for embedding clustering — the trainer
  * behind the IVF/SemDeDup ladder (`v06`/`v14`/`v17` assign to SEED
  * cells; production FAISS-style indexes train the cells first, which
  * tightens every probe at the same read cost). The oracle query
  * `v18_kmeans_iter` is one round of exactly this loop in its
  * cross-engine-exact form.
  *
  * Determinism (the property rand-init floating k-means lacks): seeds
  * are the k lowest-id distinct vectors ([[VectorSearch.seedCells]] —
  * a corpus with fewer than k distinct vectors fits fewer than k
  * cells); per-cell sums run over vectors QUANTIZED to longs
  * (`round(x·quantScale)`), so the shuffle-order-dependent
  * float-sum problem disappears — the centroid is `(Σqv/scale)/n`,
  * identical under any partitioning; assignment distances are
  * per-row map-side folds (fixed evaluation order). Fit twice, get
  * the same model bit-for-bit.
  *
  * Scale shape (100 TB): each round is ONE broadcast-argmin corpus
  * scan (no shuffle for assignment — the centroids ride as literals,
  * exactly [[VectorSearch.assignCells]], the cell model every IVF
  * build and probe uses) plus ONE partial-combining groupBy to k·dim
  * sum rows; only that k·dim model frame is collected per round.
  * Empty cells keep their previous centroid (documented FAISS
  * behavior) rather than dying.
  */
object Kmeans {

  /** Returns (cellId, centroid) in the [[VectorSearch.IvfIndex]]
    * centroid contract; cell ids are the seed vector ids. */
  def fit(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, quantScale: Double = 1e6): Seq[(Long, Seq[Double])] = {
    require(k > 0 && iters >= 0, s"need k>0, iters>=0; got $k, $iters")
    val ids = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    var cents = VectorSearch.seedCells(ids, "id", "vec", k)
    require(cents.nonEmpty, "corpus must be non-empty (no seed vectors)")
    val dim = cents.head._2.length
    // floor(x+0.5), NOT round(): same determinism guarantee but a pure
    // codegen double op — round() allocates a BigDecimal per ELEMENT,
    // which at dim·|corpus| per Lloyd round dominated training CPU
    // (x25 bench arm: 21 s → measured after this change in BENCH_FULL)
    val qv = ids.withColumn("qv",
      transform(col("vec"),
        x => floor(x * quantScale + 0.5d).cast("long")))
      // persisted for the fit's lifetime: every round re-reads the
      // quantized frame; without this each round re-quantizes the
      // corpus from the source scan
      .persist()
    try {
      for (_ <- 1 to iters) {
        // k·dim rows to the driver — bounded by the MODEL size, never
        // the corpus (64 cells × 768 dims = 49k longs)
        val sums = VectorSearch.assignCells(qv, "vec", cents)
          .select(col("cell"), posexplode(col("qv")))
          .groupBy("cell", "pos")
          .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
          .collect()
          .groupBy(_.getLong(0))
        cents = cents.map { case (cell, prev) =>
          sums.get(cell) match {
            case Some(rows) =>
              val byDim = rows.map(r =>
                r.getInt(1) -> (r.getLong(2), r.getLong(3))).toMap
              (cell, Seq.tabulate(dim) { d =>
                val (s, n) = byDim(d)
                s.toDouble / quantScale / n
              })
            case None => (cell, prev) // empty cell: carry, don't die
          }
        }
      }
      cents
    } finally qv.unpersist(blocking = false)
  }
}
