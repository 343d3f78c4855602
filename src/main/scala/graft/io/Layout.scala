package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListedParquet

/** Data-layout utilities for the 100 TB posture — the concerns that
  * dominate real lake maintenance and that no single query shows:
  *
  *  - **Partition pruning**: facts written `partitionBy(<date>)` let a
  *    time-bounded query read only its days — the scan carries
  *    `PartitionFilters` instead of touching the whole corpus
  *    (LayoutSpec asserts the executed plan does exactly that).
  *  - **Small-file compaction**: streaming/incremental ingest leaves
  *    thousands of KB-sized files per partition; each parquet file
  *    costs a task + footer read, so scan parallelism degenerates into
  *    scheduler overhead. Compaction rewrites to a bounded file count
  *    with rows co-sorted for locality.
  */
object Layout {

  /** Write `df` day-partitioned on `tsCol` (a `p_day=YYYY-MM-DD`
    * directory per day). The partition column is derived, so the
    * original timestamp column survives intact. */
  def writeDayPartitioned(df: DataFrame, tsCol: String, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("p_day", date_format(col(tsCol), "yyyy-MM-dd"))
      .write.partitionBy("p_day").mode(mode).parquet(path)

  /** Read a day-partitioned table back; day-range filters on `p_day`
    * prune at the driver before any file is opened. */
  def readDayPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compact a directory in place-adjacent fashion: read, re-sort for
    * locality, rewrite with at most `maxRecordsPerFile` rows per file
    * into `outPath`. `sortCols` should lead with the columns queries
    * filter/join on most (range-partitioned + sorted data keeps
    * min/max row-group stats tight, so predicate pushdown skips whole
    * row groups).
    *
    * The output file count is bounded from BOTH sides: `targetFiles`
    * (or, when 0, input-bytes / `targetFileBytes`, so a small
    * fragmented directory compacts to a handful of files instead of
    * `spark.sql.shuffle.partitions` shards) sets the range-partition
    * count, and `maxRecordsPerFile` caps rows per file. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      sortCols: Seq[String], maxRecordsPerFile: Long = 1000000L,
      targetFiles: Int = 0, targetFileBytes: Long = 128L << 20): Unit = {
    val df = spark.read.parquet(inPath)
    val nFiles =
      if (targetFiles > 0) targetFiles
      else {
        // globStatus, not getContentSummary: the latter throws on glob
        // input paths (which spark.read.parquet accepts) and counts
        // non-data files like _SUCCESS; sum matched data files instead
        val p = new org.apache.hadoop.fs.Path(inPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def dataBytes(st: org.apache.hadoop.fs.FileStatus): Long =
          // hidden names are skipped BEFORE the directory branch: a
          // half-written _temporary tree (or .hive-staging) must not
          // inflate the sizing any more than a _SUCCESS file does
          if (st.getPath.getName.startsWith("_") ||
              st.getPath.getName.startsWith(".")) 0L
          else if (st.isDirectory)
            fs.listStatus(st.getPath).map(dataBytes).sum
          else st.getLen
        val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
        val bytes = matched.map(dataBytes).sum
        math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
          .min(Int.MaxValue).toInt
      }
    val sorted =
      if (sortCols.isEmpty) df.repartition(nFiles)
      else df.repartitionByRange(nFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    sorted.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.Overwrite).parquet(outPath)
  }

  // ------------------------------------------------ standing indexes

  /** The partitioned-index core: the ONE write, probe side and
    * parameter sidecar behind all five standing-index layouts —
    * MinHash bands ([[graft.ops.TextDedupIndex]]), pHash bands
    * ([[graft.multimodal.VideoFrameIndex]]), IVF cells
    * ([[graft.vector.VectorSearch.writeIvfIndexed]],
    * [[graft.ops.VectorDedupIndex]]), IVFPQ cells
    * ([[graft.vector.ProductQuantizer.writeIvfPq]]) and LSH buckets
    * ([[graft.vector.VectorSearch.writeLshIndexed]]). Each index owns
    * only its key derivation (which partition columns a row gets), its
    * verification, and its public signatures; the layout contract
    * lives here, once:
    *
    *  - **One file per directory per write.** [[writePartitioned]]
    *    hash-clusters on the partition columns before `partitionBy`,
    *    so each partition value lands in exactly one write task: a
    *    build or an admit leaves at most one new file per directory it
    *    touches, and [[compactPartitioned]] brings a directory back to
    *    one file after many admits. Without the clustering every input
    *    task writes into every directory (measured: 32 tasks × 256
    *    directories = 8k small files, and a 40-directory probe paid
    *    ~1,300 file opens for ~60k rows).
    *  - **One probe side, evaluated once on the driver.** Every probe
    *    hands its batch's key rows to [[probeSides]], which collects
    *    them ONCE and joins nothing itself: the probe joins the pruned
    *    index read to the batch held as a driver-side local frame, so
    *    the batch's subtree (shingling, hashing, cell assignment) is
    *    never re-evaluated, and nothing is cached. The batch must
    *    therefore fit on the driver — as the vector, video and LSH
    *    probes already required, since they broadcast it. An empty
    *    batch keys no partitions, so its probe is the ordinary join
    *    with no rows, under the non-empty schema.
    *  - **A listing-free read.** Every read of a standing index —
    *    probe, compaction, occupancy audit — goes through
    *    [[readIndex]], which lists on the driver, with Spark's serial
    *    lister and its hidden-file rules, only the leaf directories it
    *    wants: a probe's the directories its keys name (one that does
    *    not exist is skipped), a full read's every leaf. Both are
    *    bounded by the partition count, so no read starts a listing
    *    job or a schema job, however many directories the layout has
    *    (`spark.read.parquet` started four 64-task listing jobs per
    *    text-index read). Each read lists afresh, so an admit is
    *    visible to the next probe.
    *  - **Probe keys bounded by the partition count.** The distinct
    *    partition-key tuples of the batch — at most the layout's
    *    partition count (bands × [[GroupMod]], cells, buckets),
    *    independent of corpus AND batch size — are pushed as a filter
    *    on the partition columns ([[keepPartitions]]), so only those
    *    directories are read (`PartitionFilters` in the executed plan,
    *    pinned per index). Band layouts bound the count by grouping the
    *    band key: `bgroup = bkey mod GroupMod` instead of one directory
    *    per key.
    *  - **The sidecar.** Key-derivation parameters that are part of
    *    the index, not of the caller ([[graft.multimodal
    *    .VideoFrameIndex]]'s `bands`, [[graft.ops.TextDedupIndex]]'s
    *    `k`/`rowsPerBand`, both with `groupMod`), are recorded by the
    *    build in [[MetaFile]], carried over by [[compactPartitioned]],
    *    and checked by every admit and probe ([[requireIndexMeta]]): a
    *    batch keyed with other parameters would join to (near-)nothing
    *    and read as "no duplicates" — the silent-wrong-answer class.
    *    An index written without a sidecar stays readable, unchecked.
    *    IVF centroids and LSH planes are caller-held models, persisted
    *    by the caller next to the path as with any ANN index. */
  val MetaFile = "_graft_index_meta.json"

  /** Band-key grouping modulus of the two band layouts — see the
    * contract above. */
  val GroupMod = 64

  /** Partition columns of the two band layouts. */
  val BandCols = Seq("band", "bgroup")

  /** Band rows (with `bkey`) plus their `bgroup` partition column. */
  def withBandGroup(bands: DataFrame): DataFrame =
    bands.withColumn("bgroup", pmod(col("bkey"), lit(GroupMod)))

  /** Hash-cluster `df` on `partCols` for a `partitionBy` write with an
    * EXPLICIT shuffle-partition count — the clustering step of
    * [[writePartitioned]].
    *
    * Why explicit (r18, guide §2.6 idle capacity): a bare
    * `repartition(cols)` is subject to AQE partition coalescing, and
    * on a small exchange AQE collapses it to ONE task — which then
    * creates every partition directory's file SEQUENTIALLY. Measured:
    * a 256-directory VideoFrameIndex write of 6,800 band rows spent
    * ~3.1 s in one task's serial file creation against 0.15 s of
    * actual compute+shuffle; with the count pinned the files are
    * created by as many tasks as the deployment's own shuffle knob
    * allows. Each partition value still hashes to exactly ONE task,
    * so the one-file-per-directory invariant is unchanged, as is the
    * hot-partition skew caveat. `spark.sql.shuffle.partitions` is the
    * deployment's scale setting (cores locally, thousands on a
    * cluster), not a bench constant — the same code spreads a 100 TB
    * append across the cluster's width. */
  def clusterForPartitionedWrite(df: DataFrame,
      partCols: Seq[String]): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(n, partCols.map(col): _*)
  }

  /** Write `df` as a standing index `partitionBy(partCols)` — the one
    * write of every build (`Overwrite`), admit (`Append`) and
    * compaction. Clusters first ([[clusterForPartitionedWrite]]),
    * optionally co-sorts rows within each file on `sortCols` and caps
    * rows per file (`maxRecordsPerFile`, 0 = no cap), and on
    * `Overwrite` records a non-empty `params` in the [[MetaFile]]
    * sidecar. */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite,
      params: Map[String, Long] = Map.empty, sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L): Unit = {
    clusterForPartitionedWrite(df, partCols)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*).mode(mode).parquet(path)
    if (mode == SaveMode.Overwrite && params.nonEmpty)
      writeIndexMeta(df.sparkSession, path, params)
  }

  /** [[compact]] for a `partitionBy(partCols)` layout, PRESERVING the
    * layout and its sidecar — the maintenance half of nightly index
    * admits, which leave one file per touched partition value per
    * night (a year of appends is 365 footer reads per directory).
    * Goes through [[writePartitioned]], so the rewrite emits exactly
    * one file per partition directory (`maxRecordsPerFile` splits only
    * a genuinely oversized one); `sortCols` co-sorts rows within each
    * file for tight row-group stats.
    *
    * Writes to `outPath` — never in place (Spark cannot safely
    * overwrite its own input); the caller swaps directories after
    * validating. Skew caveat: a single very hot partition value is
    * rewritten by one task — acceptable for maintenance, and the
    * occupancy skew that causes it is itself the re-fit signal (see
    * VectorDedupIndex's drift contract). */
  def compactPartitioned(spark: SparkSession, inPath: String,
      outPath: String, partCols: Seq[String],
      sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 1000000L): Unit =
    writePartitioned(readIndex(spark, inPath), outPath, partCols,
      params = readIndexMeta(spark, inPath).getOrElse(Map.empty),
      sortCols = sortCols, maxRecordsPerFile = maxRecordsPerFile)

  /** The two sides of a probe: the index at `path` read with only the
    * partitions `batch` keys into, and `batch` as a driver-held local
    * frame. `batch` holds the probe's key rows (`partCols` among its
    * columns) and is evaluated exactly once, by the collect; its
    * distinct `partCols` tuples become the partition filter
    * ([[keepPartitions]]). See the contract above. */
  def probeSides(spark: SparkSession, path: String, batch: DataFrame,
      partCols: Seq[String]): (DataFrame, DataFrame) = {
    val rows = batch.collect()
    val keyAt = partCols.map(batch.schema.fieldIndex)
    val keys = rows.toSeq.map(r => keyAt.map(r.get)).distinct
    (readIndex(spark, path, Some((partCols, keys))),
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), batch.schema))
  }

  /** The standing index at `path`, read without a listing or schema
    * job (see the contract above). With `keep` = (partition columns,
    * keys), only the directories those partition-key tuples name are
    * listed, and [[keepPartitions]] keeps exactly their rows; when
    * none of them exists, every leaf is listed for the schema and none
    * is kept. Without `keep`, every leaf is read. A key names the
    * directory the write made for it: each value rendered as a
    * string, null as Spark's default partition name. Partition
    * columns are typed by discovery over the directories read. */
  def readIndex(spark: SparkSession, path: String,
      keep: Option[(Seq[String], Seq[Seq[Any]])] = None): DataFrame = {
    val index = ListedParquet.read(spark, path, keep.map { case (cols, keys) =>
      keys.map(k => cols.zip(k).map { case (c, v) => ExternalCatalogUtils
        .getPartitionPathString(c, Option(v).map(_.toString).orNull)
      }.mkString("/")).distinct })
    keep.fold(index) { case (cols, keys) => keepPartitions(index, cols, keys) }
  }

  /** Keep only the rows of `index` whose `partCols` tuple is one of
    * `keys` (an IN list over the column, or over the struct of the
    * columns). Each key literal is cast to its column's type (partition
    * discovery reads small integer keys back as INT), so the predicate
    * compares the bare partition columns and plans as
    * `PartitionFilters`; a key that does not fit the column's type
    * matches nothing. */
  def keepPartitions(index: DataFrame, partCols: Seq[String],
      keys: Seq[Seq[Any]]): DataFrame = {
    def tuple(cs: Seq[Column]) = if (cs.size == 1) cs.head else struct(cs: _*)
    index.filter(tuple(partCols.map(col)).isin(keys.map(k => tuple(
      partCols.zip(k).map { case (c, v) =>
        lit(v).try_cast(index.schema(c).dataType).as(c) })): _*))
  }

  private implicit val jsonFormats: org.json4s.Formats =
    org.json4s.DefaultFormats

  private def metaPath(path: String) =
    new org.apache.hadoop.fs.Path(path, MetaFile)

  private def writeIndexMeta(spark: SparkSession, path: String,
      params: Map[String, Long]): Unit = {
    val p = metaPath(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(org.json4s.jackson.Serialization.write(params)
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** The parameters recorded in an index's [[MetaFile]] sidecar, or
    * `None` for an index written without one. The leading underscore
    * keeps the sidecar invisible to parquet directory scans, so it
    * lives inside the index directory itself. */
  def readIndexMeta(spark: SparkSession, path: String)
      : Option[Map[String, Long]] = {
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option.when(fs.exists(p)) {
      val in = fs.open(p)
      try org.json4s.jackson.JsonMethods.parse(in)
        .extract[Map[String, Long]]
      finally in.close()
    }
  }

  /** Fail unless every `params` entry the index recorded equals the
    * caller's value — called by every admit and probe of a layout with
    * a sidecar, so a mismatched caller fails loudly instead of reading
    * as "no duplicates". `legacy` stands in for the sidecar of an
    * index written before it existed (empty: unchecked). */
  def requireIndexMeta(spark: SparkSession, path: String,
      params: Map[String, Long], op: String,
      legacy: => Map[String, Long] = Map.empty): Unit = {
    val built = readIndexMeta(spark, path).getOrElse(legacy)
    params.foreach { case (k, v) => built.get(k).foreach { b =>
      require(b == v, s"index at $path was built with $k=$b but $op " +
        s"was called with $k=$v — keys derived with other parameters " +
        "would join to (near-)nothing and read as 'no duplicates'")
    } }
  }
}
