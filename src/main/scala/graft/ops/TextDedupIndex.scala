package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Layout

import graft.functions.TextOps.{md5Long60, md5Long60Jvm, shingles, tokens}

/** Persisted MinHash-LSH index for INCREMENTAL text dedup — the
  * production nightly-ingest flow: dedup a small new batch against a
  * 100 TB corpus without rescanning the corpus.
  *
  * A band layout under the [[graft.io.Layout]] standing-index
  * contract (one file per directory per write, probe keys bounded by
  * the partition count, parameter sidecar): band rows are partitioned
  * on (band, bgroup), and `k`/`rowsPerBand` are recorded at build and
  * checked by every admit and probe. The probe equi-joins the pruned
  * index rows on the exact (band, bkey); candidates then verify
  * downstream (Jaccard on shingle sets — same as the batch path d04).
  */
object TextDedupIndex {

  /** LSH band rows (doc_id, band, bkey) for a document set: distinct
    * 3-shingles → K salted minima in ONE groupBy (the d02 recipe,
    * salts pre-folded driver-side) → bands of `rowsPerBand` adjacent
    * minima hashed to one 60-bit key. */
  def bandRows(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    require(k % rowsPerBand == 0, "k must be a multiple of rowsPerBand")
    val sh = docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(shingles(tokens(col(textCol)), 3))).as("sh"))
      .select(col("doc_id"), md5Long60(col("sh")).as("shh"))
    val minCols = (0 until k).map(i =>
      min(col("shh").bitwiseXOR(lit(md5Long60Jvm(i.toString))))
        .as(s"mh$i"))
    val sig = sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val nBands = k / rowsPerBand
    sig.select(col("doc_id"),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band"),
            md5Long60(concat_ws(":",
              (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*))
              .as("bkey"))
        }: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"),
        col("x.bkey").as("bkey"))
  }

  /** The banding parameters the index records and its callers must
    * match. */
  private def meta(k: Int, rowsPerBand: Int) = Map("k" -> k.toLong,
    "rowsPerBand" -> rowsPerBand.toLong, "groupMod" -> Layout.GroupMod.toLong)

  private def write(docs: DataFrame, path: String, idCol: String,
      textCol: String, k: Int, rowsPerBand: Int, mode: SaveMode): Unit =
    Layout.writePartitioned(
      Layout.withBandGroup(bandRows(docs, idCol, textCol, k, rowsPerBand)),
      path, Layout.BandCols, mode, meta(k, rowsPerBand))

  /** Build + persist the corpus index. One corpus scan; the write's
    * clustering is the only shuffle after the signature aggregate. */
  def writeIndex(docs: DataFrame, path: String, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, rowsPerBand: Int = 2): Unit =
    write(docs, path, idCol, textCol, k, rowsPerBand, SaveMode.Overwrite)

  /** Append an accepted batch's band rows into the persisted index —
    * the vector twin is [[VectorDedupIndex.admitBatch]], same nightly
    * contract (VERDICT r13 item 3): probe → dedup → admit survivors,
    * so tomorrow's batch dedups against tonight's. Hashing is
    * deterministic and row-local, so admitted rows are
    * indistinguishable from build-time rows (spec pins N admit cycles
    * ≡ one full rebuild); run [[compactIndex]] on the cadence that
    * keeps files-per-directory bounded. Fails loudly when `k` or
    * `rowsPerBand` differ from the index's. */
  def admitBatch(docs: DataFrame, indexPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 8, rowsPerBand: Int = 2): Unit = {
    Layout.requireIndexMeta(docs.sparkSession, indexPath,
      meta(k, rowsPerBand), "admitBatch")
    write(docs, indexPath, idCol, textCol, k, rowsPerBand, SaveMode.Append)
  }

  /** Rewrite the index with one bkey-sorted file per (band, bgroup)
    * directory — the small-file maintenance pass for nightly
    * [[admitBatch]] appends. Writes to `outPath` (never in place);
    * swap after validating. */
  def compactIndex(spark: SparkSession, indexPath: String,
      outPath: String): Unit =
    Layout.compactPartitioned(spark, indexPath, outPath,
      Layout.BandCols, sortCols = Seq("bkey"))

  /** Candidate (corpus_id, new_id) pairs for a new batch against the
    * persisted index, reading ONLY the index partitions the batch
    * hashes into. The batch's band rows are built once and held on the
    * driver ([[graft.io.Layout.probeSides]]); the batch is assumed
    * small next to the corpus (the incremental contract). Fails loudly
    * when `k` or `rowsPerBand` differ from the index's. */
  def probeCandidates(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, rowsPerBand: Int = 2)
      : DataFrame = {
    Layout.requireIndexMeta(spark, indexPath, meta(k, rowsPerBand),
      "probeCandidates")
    val (index, nb) = Layout.probeSides(spark, indexPath,
      Layout.withBandGroup(bandRows(newDocs, idCol, textCol, k, rowsPerBand)),
      Layout.BandCols)
    index
      .select(col("doc_id").as("corpus_id"), col("band"), col("bkey"))
      .join(nb.select(col("doc_id").as("new_id"), col("band"),
        col("bkey")), Seq("band", "bkey"))
      .filter(col("corpus_id") =!= col("new_id"))
      .select("corpus_id", "new_id")
      .distinct()
  }
}
