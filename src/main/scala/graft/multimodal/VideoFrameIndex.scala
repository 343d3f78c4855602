package graft.multimodal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Layout

/** Persisted pHash-band index for INCREMENTAL video near-dup — the
  * third standing index next to [[graft.ops.TextDedupIndex]] (MinHash
  * bands) and [[graft.ops.VectorDedupIndex]] (IVF cells), completing
  * VERDICT r16 item 8: a nightly video batch probes a persisted
  * band-partitioned frame-hash index instead of re-pairing the whole
  * corpus through [[Multimodal.videoPairsFromFrameHashes]].
  *
  * Input frames are the (video, frame_idx, phash) projection —
  * [[Multimodal.containerFrames]] → [[PHash.phash64]] upstream; only
  * 64-bit hashes ever reach the index, never rasters.
  *
  * A band layout under the [[graft.io.Layout]] standing-index
  * contract (one file per directory per write, probe keys bounded by
  * the partition count, parameter sidecar): band rows are partitioned
  * on (band, bgroup); the probe equi-joins the pruned index rows on
  * the exact (band, bkey) and Hamming-verifies. Recall contract is
  * [[Multimodal.videoPairsFromFrameHashes]]'s: guaranteed for
  * Hamming ≤ bands−1, best-effort LSH above.
  *
  * The banding parameter is PART OF THE INDEX, not of the probe: an
  * index written with bands=8 carries 8-bit keys, and probing it with
  * 16-bit bands=4 keys would join to (near-)nothing and read as "no
  * duplicates". So [[writeIndex]] records `bands` in the sidecar and
  * every reader ([[probePairs]], [[admitBatch]], [[nightlyIngest]])
  * require-checks its caller's value against it (ADVICE r17). Indexes
  * predating the sidecar derive bands from the `band=` partition
  * directories (every frame explodes into all bands, so a non-empty
  * index has all of them).
  */
object VideoFrameIndex {

  /** One row per (frame, band): the frame's 64/bands-bit slice keyed
    * for exact-equality blocking — the same banding
    * [[Multimodal.videoPairsFromFrameHashes]] uses (shared here so
    * batch path and standing index can never drift). */
  def bandRows(frames: DataFrame, bands: Int = 4): DataFrame =
    bandRowsKeeping(frames.select("video", "frame_idx", "phash"), bands)

  /** [[bandRows]] generalized: explode `phash` into its (band, bkey)
    * slices while PRESERVING every input column — the shared banding
    * arithmetic for callers whose rows are not raw (video, frame_idx,
    * phash) frames (e.g. the collapsed distinct-hash rows the r18
    * candidate-join optimization feeds through
    * [[Multimodal.videoPairsFromFrameHashes]] / [[probePairs]]).
    * Keeping ONE implementation here is what stops the batch path and
    * the standing index from ever drifting on the key arithmetic. */
  def bandRowsKeeping(rows: DataFrame, bands: Int): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64, got $bands")
    val bandBits = 64 / bands
    val bandMask = if (bandBits == 64) -1L else (1L << bandBits) - 1L
    val keep = rows.columns.map(col).toSeq
    rows.select(keep :+
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("phash"), b * bandBits)
            .bitwiseAND(lit(bandMask)).as("bkey"))): _*)).as("blk"): _*)
      .select(keep :+ col("blk.band").as("band") :+
        col("blk.bkey").as("bkey"): _*)
  }

  private def meta(bands: Int) =
    Map("bands" -> bands.toLong, "groupMod" -> Layout.GroupMod.toLong)

  /** The banding an existing index was built with: the sidecar when
    * present, else (pre-sidecar indexes) `max(band)+1` from the
    * partition directory names. Fails loudly on an empty/unreadable
    * index — "can't tell the banding" must never degrade into a
    * silently-empty probe. */
  def indexBands(spark: SparkSession, indexPath: String): Int =
    Layout.readIndexMeta(spark, indexPath).map(_("bands").toInt)
      .getOrElse(dirBands(spark, indexPath))

  private def dirBands(spark: SparkSession, indexPath: String): Int = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val dirs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("band=")).map(_.stripPrefix("band=").toInt)
    require(dirs.nonEmpty, s"no ${Layout.MetaFile} and no band= " +
      s"partition directories under $indexPath — not a VideoFrameIndex")
    dirs.max + 1
  }

  private def requireBands(spark: SparkSession, indexPath: String,
      bands: Int, op: String): Unit =
    Layout.requireIndexMeta(spark, indexPath, meta(bands), op,
      Map("bands" -> dirBands(spark, indexPath).toLong))

  private def indexRows(frames: DataFrame, bands: Int): DataFrame =
    Layout.withBandGroup(bandRows(frames, bands))

  /** Build + persist the corpus index. One corpus scan; the write's
    * clustering is the only shuffle. Records `bands` in the sidecar —
    * see the class doc. */
  def writeIndex(frames: DataFrame, path: String, bands: Int = 4): Unit =
    Layout.writePartitioned(indexRows(frames, bands), path,
      Layout.BandCols, params = meta(bands))

  /** Append an accepted batch's band rows — the nightly admit half.
    * Hashing is deterministic and row-local, so admitted rows are
    * indistinguishable from build-time rows (spec pins admit ≡
    * rebuild); run [[compactIndex]] on the usual cadence. Fails loudly
    * when the caller's `bands` differs from the index's. */
  def admitBatch(frames: DataFrame, indexPath: String,
      bands: Int = 4): Unit = {
    requireBands(frames.sparkSession, indexPath, bands, "admitBatch")
    Layout.writePartitioned(indexRows(frames, bands), indexPath,
      Layout.BandCols, SaveMode.Append)
  }

  /** Rewrite the index with one bkey-sorted file per (band, bgroup)
    * directory — small-file maintenance for nightly appends. Writes
    * to `outPath` (never in place); swap after validating. The
    * banding sidecar travels with the rewrite. */
  def compactIndex(spark: SparkSession, indexPath: String,
      outPath: String): Unit =
    Layout.compactPartitioned(spark, indexPath, outPath,
      Layout.BandCols, sortCols = Seq("bkey"))

  /** Probe the persisted index with a new batch of frame hashes,
    * reading ONLY the index partitions the batch hashes into.
    * Returns (pairs, droppedBuckets): pairs = one row per
    * (corpus_video, new_video) with matched keyframe counts and
    * `new_frac = matched_new / n_frames_new` — the fraction of the
    * NEW video already present in the corpus, which is the quantity
    * an ingest gate thresholds (the admit decision is about the new
    * item; the corpus side's frame totals live with the corpus, not
    * in a full-index rescan that would defeat the pruning this index
    * exists for). droppedBuckets is the
    * [[graft.ops.Blocking.capBucketsWeighted]] report over the CORPUS
    * side (identical rows to the raw-row capBuckets report —
    * bucket_size is the expanded frame-row count):
    * a hot band key (flat/black frames — the exact case the batch
    * path's cap exists for) is dropped AND reported, never allowed
    * to explode the nightly probe's fan-out unbounded (ADVICE r17;
    * the batch side needs no cap — its contribution is bounded by
    * the nightly batch's own size, so per-bucket fan-out is at most
    * bucketCap × |batch|).
    *
    * The batch is small next to the corpus by the incremental
    * contract: its band rows are built once and held on the driver,
    * and only the index partitions they hash into are read
    * ([[graft.io.Layout.probeSides]]). Fails loudly when the caller's
    * `bands` differs from the index's. */
  def probePairs(spark: SparkSession, indexPath: String,
      newFrames: DataFrame, hammingMax: Int = 10,
      bands: Int = 4, bucketCap: Int = 10000): (DataFrame, DataFrame) = {
    require(hammingMax >= 0, s"hammingMax must be >= 0, got $hammingMax")
    requireBands(spark, indexPath, bands, "probePairs")
    // r18: collapse both sides to distinct (video, phash) rows with
    // frame multiplicities before the candidate join — the same
    // equivalence as [[Multimodal.videoPairsFromFrameHashes]] (frames
    // sharing a hash band identically; whole buckets are capped;
    // per-hash frame sets within a video are disjoint, so
    // countDistinct(frame) = Σ multiplicity over distinct matched
    // hashes). The batch side collapses before banding; the corpus
    // side collapses the pruned index rows map-side (duplicates of a
    // hash co-locate in their (band, bgroup) partition files, so the
    // partial aggregate collapses before the exchange).
    val (index, nb) = Layout.probeSides(spark, indexPath,
      Layout.withBandGroup(bandRowsKeeping(
        newFrames.groupBy("video", "phash").agg(count(lit(1)).as("nnf")),
        bands)),
      Layout.BandCols)
    // collapse pruned corpus rows to distinct (bucket, video, hash)
    // with frame counts — the weighted cap keeps the same buckets
    // and the same (band, bkey, bucket_size) dropped report as the
    // raw-row capBuckets did (whole buckets, summed multiplicities)
    val pruned = index
      .select(col("video").as("corpus_video"),
        col("phash").as("corpus_ph"),
        col("band").cast("int").as("band"), col("bkey"))
      .groupBy("band", "bkey", "corpus_video", "corpus_ph")
      .agg(count(lit(1)).as("cnf"))
    val (corpus, dropped) = graft.ops.Blocking.capBucketsWeighted(
      pruned, Seq("band", "bkey"), bucketCap, "cnf")
    val cand = corpus
      .join(broadcast(nb.select(col("video").as("new_video"),
        col("phash").as("new_ph"), col("nnf"),
        col("band"), col("bkey"))), Seq("band", "bkey"))
      .filter(col("corpus_video") =!= col("new_video"))
      .filter(bit_count(col("corpus_ph").bitwiseXOR(col("new_ph")))
        <= hammingMax)
    // n_frames_new = Σ nnf over a video's distinct hashes (= its frame
    // count under the one-row-per-(video, frame_idx) input contract);
    // band 0 holds each distinct hash once
    val nNew = nb.filter(col("band") === 0)
      .groupBy(col("video").as("new_video"))
      .agg(sum(col("nnf")).as("n_frames_new"))
    // collect_set dedups multi-band hash matches; the in-row fold
    // sums multiplicities (sets bounded by distinct hashes/video)
    val pairs = cand.groupBy("corpus_video", "new_video")
      .agg(collect_set(struct(col("corpus_ph"), col("cnf"))).as("sc"),
        collect_set(struct(col("new_ph"), col("nnf"))).as("sn"))
      .select(col("corpus_video"), col("new_video"),
        aggregate(col("sc"), lit(0L), (acc, x) => acc + x("cnf"))
          .as("matched_corpus"),
        aggregate(col("sn"), lit(0L), (acc, x) => acc + x("nnf"))
          .as("matched_new"))
      .join(broadcast(nNew), Seq("new_video"))
      .select(col("corpus_video"), col("new_video"),
        col("matched_corpus"), col("matched_new"), col("n_frames_new"),
        (col("matched_new").cast("double") / col("n_frames_new"))
          .as("new_frac"))
    (pairs, dropped)
  }

  /** One NIGHTLY video-ingest tick, composed end-to-end (VERDICT r17
    * item 5 — the video twin of
    * [[graft.etl.CorpusCuration.curateIncremental]]): probe the
    * standing index with tonight's frame batch, GATE each new video
    * on how much of it the corpus already contains (max `new_frac`
    * over its corpus partners ≥ `dupFrac` ⇒ rejected as a near-dup),
    * admit the surviving videos' frames into the index, and return
    * the decisions. Run [[compactIndex]] on the usual cadence — the
    * admit leaves one new file per touched partition per night.
    *
    * Intra-batch duplicates are the BATCH path's job
    * ([[Multimodal.videoPairsFromFrameHashes]] over the night's
    * files): this gate is new-vs-corpus, so two novel videos that
    * duplicate only each other are both admitted tonight — and the
    * family blocks from tomorrow on, because tonight's admits ARE
    * tomorrow's corpus (spec-pinned: N gated nights ≡ one gated
    * rebuild).
    *
    * Both returned frames are MATERIALIZED (collected — decisions
    * are one row per new video and the dropped report one row per
    * hot bucket, both nightly-bounded) BEFORE the admit append: the
    * probe reads the index lazily, so an uncollected frame evaluated
    * after admitBatch would see tonight's own rows in the corpus and
    * read as self-dups.
    *
    * Returns (decisions, droppedBuckets): decisions = (video,
    * dup_frac — max new_frac vs the corpus, 0.0 when no corpus
    * partner — admitted: boolean); droppedBuckets = [[probePairs]]'
    * hot-bucket report. */
  def nightlyIngest(spark: SparkSession, indexPath: String,
      newFrames: DataFrame, dupFrac: Double = 0.5, hammingMax: Int = 10,
      bands: Int = 4, bucketCap: Int = 10000): (DataFrame, DataFrame) = {
    require(dupFrac > 0.0 && dupFrac <= 1.0,
      s"dupFrac must be in (0, 1], got $dupFrac")
    import spark.implicits._
    val (pairs, dropped) = probePairs(spark, indexPath, newFrames,
      hammingMax, bands, bucketCap)
    val maxFrac = pairs.groupBy("new_video")
      .agg(max(col("new_frac")).as("dup_frac"))
    val decisions = newFrames.select(col("video")).distinct()
      .join(maxFrac, col("video") === col("new_video"), "left_outer")
      .select(col("video"),
        coalesce(col("dup_frac"), lit(0.0)).as("dup_frac"))
      .withColumn("admitted", col("dup_frac") < dupFrac)
      .as[(String, Double, Boolean)].collect()
    val droppedLocal = dropped
      .as[(Int, Long, Long)].collect()
    val admittedVideos = decisions.collect {
      case (v, _, true) => v
    }.toSeq
    if (admittedVideos.nonEmpty)
      admitBatch(
        newFrames.join(
          broadcast(admittedVideos.toDF("video")), Seq("video"),
          "left_semi"),
        indexPath, bands)
    (decisions.toSeq.toDF("video", "dup_frac", "admitted"),
      droppedLocal.toSeq.toDF("band", "bkey", "bucket_size"))
  }
}
