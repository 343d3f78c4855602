package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, QuerySuite, Tables}

/** Oracle rows for the multimodal pipeline's RELATIONAL halves
  * (VERDICT r16 item 3). The decode/hash halves are binary and
  * spec-pinned (`VideoDedupSpec`, `PHashSpec` — rasters can't cross
  * the DuckDB boundary), but everything after the pHash projection in
  * [[graft.multimodal.Multimodal.videoPairsFromFrameHashes]] is plain
  * relational algebra over (video, frame_idx, phash: long) — so m01
  * drives that exact code against a DuckDB twin on a synthesized
  * frame-hash table, the same derive-binary-semantics-from-TPC-H
  * trick as the f20-f23 HTML rows.
  *
  * Fixture (deterministic, integer-only, identical in both engines —
  * [[frameHashes]]): one frame per `documents` row. 50 videos
  * (`doc_id % 50`), frame_idx = `doc_id div 50`. Videos 0..39 pair up
  * (2g, 2g+1) by sharing a content id `h_base = g*1009 +
  * (frame_idx % 97)*131` — unique per (g, fmod) since 1009 ⟂ 131 and
  * g < 131 — spread into four independent band patterns (16-bit for bands
  * 0-2, 15-bit for band 3) via multiplicative mixes — every term and
  * the sum stay under 2^63, so no overflow in either
  * engine, values stay non-negative so `>>` ≡ shiftrightunsigned).
  * Odd videos then perturb some frames: XOR 0xFF (8 bits — over the
  * Hamming budget, candidates generated via the 3 clean bands but
  * verify REJECTS) on frame_idx%5==0, XOR 0x3 (2 bits — under budget,
  * band 0 dirty but verify accepts through bands 1-3) on
  * frame_idx%3==0. Videos 40..49 get globally unique content (no
  * partner). So the oracle exercises: band blocking, the
  * candidate-not-result distinction, Hamming accept AND reject, and
  * the per-video rollup — at sf0.01 (10 frames/video) and sf1
  * (1000 frames/video, fmod wrapping 0..96).
  */
object MultimodalSuite extends QuerySuite {

  /** The synthesized (video, frame_idx, phash) frame table — see the
    * class doc for the construction. Shared with the x33 bench arm
    * ([[BenchSuite]]), which probes a standing [[graft.multimodal
    * .VideoFrameIndex]] built from the SAME fixture so its probe
    * number reads directly against m01's full re-pair number. */
  private[queries] def frameHashes(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"))
      .withColumn("vnum", col("doc_id") % 50)
      .withColumn("video",
        concat(lit("v"), lpad(col("vnum").cast("string"), 2, "0")))
      .withColumn("frame_idx", expr("doc_id div 50"))
      .withColumn("h_base",
        when(col("vnum") < 40,
          expr("vnum div 2") * 1009 + (col("frame_idx") % 97) * 131)
          .otherwise(lit(100000L) + col("doc_id")))
      .withColumn("phash",
        (col("h_base") * lit(2654435761L)) % 65536
          + ((col("h_base") * 40503) % 65536) * 65536
          + ((col("h_base") * 30011) % 65536) * lit(4294967296L)
          // band 3 is 15-bit: a 16-bit mix × 2^48 can exceed Long.Max
          // (65535 × 2^48 ≈ 1.8e19) — 15 bits keeps phash < 2^63 and
          // non-negative in both engines
          + ((col("h_base") * 12347) % 32768) * lit(281474976710656L))
      .withColumn("phash",
        when(col("vnum") % 2 === 1 && col("frame_idx") % 5 === 0,
          col("phash").bitwiseXOR(lit(255L)))
          .when(col("vnum") % 2 === 1 && col("frame_idx") % 3 === 0,
            col("phash").bitwiseXOR(lit(3L)))
          .otherwise(col("phash")))
      .select("video", "frame_idx", "phash")

  /** The shared fixture + banding as SQL, parameterized by band count
    * (m01 exercises the default 4-band LSH regime, m02 the 8-band
    * h ≤ 7 GUARANTEED-recall regime from the honest contract in
    * `Multimodal.scala` — more/narrower keys, hotter buckets); the
    * mask CASE mirrors the Spark `when` chain (%5 wins over %3, both
    * odd-video-only). */
  private def framesSql(bands: Int): String = {
    val bits = 64 / bands
    val mask = (1L << bits) - 1
    s"""frames AS (
      SELECT 'v' || lpad(CAST(doc_id % 50 AS VARCHAR), 2, '0') AS video,
             doc_id // 50 AS frame_idx,
             xor(
               (h_base * 2654435761) % 65536
                 + ((h_base * 40503) % 65536) * 65536
                 + ((h_base * 30011) % 65536) * 4294967296
                 + ((h_base * 12347) % 32768) * 281474976710656,
               CASE WHEN (doc_id % 50) % 2 = 1
                         AND (doc_id // 50) % 5 = 0 THEN 255
                    WHEN (doc_id % 50) % 2 = 1
                         AND (doc_id // 50) % 3 = 0 THEN 3
                    ELSE 0 END) AS phash
      FROM (SELECT doc_id,
              CASE WHEN doc_id % 50 < 40
                   THEN ((doc_id % 50) // 2) * 1009
                        + ((doc_id // 50) % 97) * 131
                   ELSE 100000 + doc_id END AS h_base
            FROM documents)),
    banded AS (
      SELECT video, frame_idx, phash, b.band,
             (phash >> ($bits * b.band)) & $mask AS bkey
      FROM frames, (SELECT unnest([${(0 until bands).mkString(", ")}]) AS band) b),
    hot AS (
      SELECT band, bkey FROM banded
      GROUP BY band, bkey HAVING count(*) > 10000),
    kept AS (
      SELECT b.* FROM banded b ANTI JOIN hot USING (band, bkey))"""
  }

  /** The full near-dup rollup as SQL at a given (bands, hammingMax)
    * parameterization — the DuckDB twin of
    * [[graft.multimodal.Multimodal.videoPairsFromFrameHashes]]. */
  private def nearDupSql(bands: Int, hammingMax: Int): String =
    s"""WITH ${framesSql(bands)},
    cand AS (
      SELECT DISTINCT a.video AS video_a, b.video AS video_b,
             a.frame_idx AS fi_a, b.frame_idx AS fi_b
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.bkey = b.bkey
      WHERE a.video < b.video
        AND bit_count(xor(a.phash, b.phash)) <= $hammingMax),
    nf AS (SELECT video, count(*) AS n_frames FROM frames GROUP BY video),
    agg AS (
      SELECT video_a, video_b,
             count(DISTINCT fi_a) AS matched_a,
             count(DISTINCT fi_b) AS matched_b
      FROM cand GROUP BY video_a, video_b)
    SELECT agg.video_a, agg.video_b, matched_a, matched_b,
           na.n_frames AS n_frames_a, nb.n_frames AS n_frames_b,
           least(CAST(matched_a AS DOUBLE) / na.n_frames,
                 CAST(matched_b AS DOUBLE) / nb.n_frames) AS shared_frac
    FROM agg
    JOIN nf na ON na.video = agg.video_a
    JOIN nf nb ON nb.video = agg.video_b"""

  /** m01 — video near-dup rollup over the synthesized frame hashes:
    * the full [[graft.multimodal.Multimodal.videoPairsFromFrameHashes]]
    * path (band → cap → candidates → Hamming verify → shared_frac). */
  private val m01 = GraftQuery(
    "m01_video_neardup",
    (s, dir) => graft.multimodal.Multimodal
      .videoPairsFromFrameHashes(frameHashes(s, dir),
        hammingMax = 6, bucketCap = 10000, bands = 4)._1,
    Some(nearDupSql(bands = 4, hammingMax = 6)))

  /** m02 — the SAME rollup at the 8-band parameterization (VERDICT
    * r17 item 8): 64/8 = 8-bit keys, so blocking GUARANTEES a
    * candidate for every pair within Hamming ≤ bands−1 = 7 (m01's
    * 4-band run is best-effort LSH above h=3). hammingMax = 7 rides
    * the guarantee's edge: the fixture's XOR-0x3 frames (h=2) must
    * verify-accept, XOR-0xFF frames (h=8) must verify-REJECT even
    * though 8-bit banding still makes them candidates. Cross-engine,
    * this pins the banding arithmetic at a second (bits, mask,
    * unnest-range) parameterization — exactly the drift the r17
    * bands-sidecar guard exists to catch engine-side. */
  private val m02 = GraftQuery(
    "m02_video_neardup_b8",
    (s, dir) => graft.multimodal.Multimodal
      .videoPairsFromFrameHashes(frameHashes(s, dir),
        hammingMax = 7, bucketCap = 10000, bands = 8)._1,
    Some(nearDupSql(bands = 8, hammingMax = 7)))

  /** m03 — the STANDING-INDEX lifecycle, oracled end-to-end (the
    * video twin of `v19_admit_probe`; VERDICT r17 item 5's gate
    * composition is spec-pinned in `VideoFrameIndexSpec`, this row
    * cross-engine-pins the storage loop under it): build the
    * persisted [[graft.multimodal.VideoFrameIndex]] from the first
    * nightly slice of the m01 fixture (videos with vnum % 3 = 0),
    * ADMIT the other two slices on later "nights" (append-only band
    * rows), COMPACT to one sorted file per (band, bgroup) directory,
    * then PROBE with a batch (videos with vnum % 7 = 0 — these ARE in
    * the corpus, so the probe's corpus≠new filter and the partner
    * pairs v00↔v01, v07↔v06, … are both exercised). The DuckDB twin
    * recomputes the pair set from the banding DIRECTLY on the full
    * frame table — so the green row certifies that N admits +
    * compaction + a partition-pruned capped probe ≡ the batch banding
    * recipe over everything ever admitted, pair-for-pair. (The cap is
    * equivalent across engines because a (band, bkey) bucket lies
    * entirely inside its bgroup = bkey mod 64 partition: partition
    * pruning keeps buckets whole, so every bucket that can join the
    * batch has its full-corpus count on both sides.) */
  private val m03 = GraftQuery(
    "m03_video_admit_probe",
    (s, dir) => {
      import graft.multimodal.VideoFrameIndex
      val frames = frameHashes(s, dir)
        .withColumn("vnum",
          substring(col("video"), 2, 2).cast("int"))
      // three "nights" sliced by vnum % 3; fresh temp dirs per run,
      // so bench reruns never double-admit
      val idx = graft.Arm.tempDir(s, "m03_idx")
      VideoFrameIndex.writeIndex(
        frames.filter(col("vnum") % 3 === 0).drop("vnum"), idx)
      VideoFrameIndex.admitBatch(
        frames.filter(col("vnum") % 3 === 1).drop("vnum"), idx)
      VideoFrameIndex.admitBatch(
        frames.filter(col("vnum") % 3 === 2).drop("vnum"), idx)
      val compacted = graft.Arm.tempDir(s, "m03_cmp")
      VideoFrameIndex.compactIndex(s, idx, compacted)
      VideoFrameIndex.probePairs(s, compacted,
        frames.filter(col("vnum") % 7 === 0).drop("vnum"),
        hammingMax = 6, bands = 4, bucketCap = 10000)._1
    },
    Some(s"""WITH ${framesSql(bands = 4)},
    batch AS (
      SELECT * FROM banded
      WHERE CAST(substr(video, 2) AS INTEGER) % 7 = 0),
    cand AS (
      SELECT DISTINCT k.video AS corpus_video, b.video AS new_video,
             k.frame_idx AS cfi, b.frame_idx AS nfi
      FROM kept k JOIN batch b
        ON k.band = b.band AND k.bkey = b.bkey
      WHERE k.video <> b.video
        AND bit_count(xor(k.phash, b.phash)) <= 6),
    nf AS (
      SELECT video, count(*) AS n_frames_new FROM frames
      WHERE CAST(substr(video, 2) AS INTEGER) % 7 = 0
      GROUP BY video)
    SELECT cand.corpus_video, cand.new_video,
           count(DISTINCT cfi) AS matched_corpus,
           count(DISTINCT nfi) AS matched_new,
           nf.n_frames_new,
           CAST(count(DISTINCT nfi) AS DOUBLE) / nf.n_frames_new
             AS new_frac
    FROM cand JOIN nf ON nf.video = cand.new_video
    GROUP BY cand.corpus_video, cand.new_video, nf.n_frames_new"""))

  override val suite: Seq[GraftQuery] = Seq(m01, m02, m03)
}
