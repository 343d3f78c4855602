package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[VideoFrameIndex]] — the standing frame-hash index: probe finds
  * exactly the band-blocked Hamming matches a brute-force reference
  * computes, reads only the batch's partitions (PartitionFilters),
  * N admits ≡ one rebuild, the banding travels WITH the index
  * (ADVICE r17: a bands-mismatched probe fails loudly instead of
  * silently joining 16-bit keys against 8-bit keys), hot corpus
  * buckets are capped AND reported, and the composed nightly
  * lifecycle (probe → gate → admit) is equivalent to one gated
  * rebuild. */
class VideoFrameIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic 64-bit "pHash" per (family, frame): four mixed
    * band patterns, top band 15-bit (same no-overflow construction as
    * the m01 fixture). */
  private def hash(family: Int, frame: Int): Long = {
    val h = family.toLong * 1009 + frame * 131
    (h * 2654435761L) % 65536 +
      ((h * 40503) % 65536) * 65536 +
      ((h * 30011) % 65536) * 4294967296L +
      ((h * 12347) % 32768) * 281474976710656L
  }

  /** Corpus: 4 videos × 8 frames, families 0-3 (all content distinct). */
  private def corpus: DataFrame =
    (for (v <- 0 until 4; f <- 0 until 8)
      yield (s"c$v", f.toLong, hash(v, f)))
      .toDF("video", "frame_idx", "phash")

  /** Batch: n0 re-uses family 0 with 2-bit perturbations on half its
    * frames (all within hammingMax), n1 shares 4 of 8 frames with
    * family 2 (a clip reuse), n2 is novel (family 9). */
  private def batch: DataFrame =
    ((0 until 8).map(f =>
      ("n0", f.toLong, if (f % 2 == 0) hash(0, f) ^ 3L else hash(0, f))) ++
      (0 until 8).map(f =>
        ("n1", f.toLong, if (f < 4) hash(2, f) else hash(8, f))) ++
      (0 until 8).map(f => ("n2", f.toLong, hash(9, f))))
      .toDF("video", "frame_idx", "phash")

  /** Brute-force reference: band-key equality then exact Hamming. */
  private def wantPairs(idx: DataFrame, nb: DataFrame): Set[(String, String, Long, Long)] = {
    val c = VideoFrameIndex.bandRows(idx)
      .select(col("video").as("cv"), col("frame_idx").as("cf"),
        col("phash").as("cp"), col("band"), col("bkey"))
    val n = VideoFrameIndex.bandRows(nb)
      .select(col("video").as("nv"), col("frame_idx").as("nf"),
        col("phash").as("np"), col("band"), col("bkey"))
    c.join(n, Seq("band", "bkey"))
      .filter(col("cv") =!= col("nv"))
      .filter(bit_count(col("cp").bitwiseXOR(col("np"))) <= 6)
      .select("cv", "nv", "cf", "nf").distinct()
      .groupBy("cv", "nv")
      .agg(countDistinct("cf").as("mc"), countDistinct("nf").as("mn"))
      .as[(String, String, Long, Long)].collect().toSet
  }

  test("probe = brute-force reference; pruned scan; fractions correct") {
    val path = java.nio.file.Files
      .createTempDirectory("vframe_idx").toString
    VideoFrameIndex.writeIndex(corpus, path)
    val got =
      VideoFrameIndex.probePairs(spark, path, batch, hammingMax = 6)._1
    got.collect() // finalize AQE before reading the executed plan
    val gotSet = got
      .select("corpus_video", "new_video", "matched_corpus", "matched_new")
      .as[(String, String, Long, Long)].collect().toSet
    assert(gotSet == wantPairs(corpus, batch), s"got $gotSet")
    // semantic pins: full re-use 1.0, clip re-use 0.5, novel absent
    val frac = got.select("corpus_video", "new_video", "new_frac")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(frac(("c0", "n0")) === 1.0)
    assert(frac(("c2", "n1")) === 0.5)
    assert(!frac.keySet.exists(_._2 == "n2"))
    // and the index scan must be partition-pruned, not a full read
    val plan = got.queryExecution.executedPlan.toString
    val scan = plan.split("\n").find(_.contains("PartitionFilters"))
    assert(scan.isDefined, plan)
    assert(!scan.get.contains("PartitionFilters: []"),
      s"index scan reads all partitions:\n$plan")
  }

  test("admitBatch ≡ rebuild: tomorrow's probe sees tonight's admits") {
    val nightly = java.nio.file.Files
      .createTempDirectory("vframe_admit").toString
    val rebuilt = java.nio.file.Files
      .createTempDirectory("vframe_rebuild").toString
    VideoFrameIndex.writeIndex(corpus, nightly)
    VideoFrameIndex.admitBatch(batch, nightly)
    VideoFrameIndex.writeIndex(corpus.unionByName(batch), rebuilt)
    // a second batch near-dups yesterday's ADMITTED n1 (family 8 tail)
    val batch2 = (0 until 8).map(f => ("m0", f.toLong, hash(8, f)))
      .toDF("video", "frame_idx", "phash")
    def probe(p: String) =
      VideoFrameIndex.probePairs(spark, p, batch2, hammingMax = 6)._1
        .select("corpus_video", "new_video", "matched_corpus",
          "matched_new", "n_frames_new", "new_frac")
        .as[(String, String, Long, Long, Long, Double)].collect().toSet
    val viaAdmit = probe(nightly)
    assert(viaAdmit == probe(rebuilt))
    // n1's frames 4-7 are family 8 => m0 matches them, 4/8 = 0.5
    assert(viaAdmit == Set(("n1", "m0", 4L, 4L, 8L, 0.5)))
  }

  test("empty batch probes nothing and returns the empty pair frame") {
    val path = java.nio.file.Files
      .createTempDirectory("vframe_empty").toString
    VideoFrameIndex.writeIndex(corpus, path)
    val empty = Seq.empty[(String, Long, Long)]
      .toDF("video", "frame_idx", "phash")
    val (pairs, dropped) = VideoFrameIndex.probePairs(spark, path, empty)
    assert(pairs.count() === 0)
    assert(dropped.count() === 0)
    // both carry the non-empty probe's columns and types
    val (fullPairs, fullDropped) =
      VideoFrameIndex.probePairs(spark, path, batch)
    assert(fullPairs.count() > 0)
    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(shape(pairs) == shape(fullPairs))
    assert(shape(dropped) == shape(fullDropped))
  }

  test("banding travels with the index: mismatched probe/admit fail loudly") {
    val path = java.nio.file.Files
      .createTempDirectory("vframe_bands").toString
    VideoFrameIndex.writeIndex(corpus, path, bands = 8)
    assert(VideoFrameIndex.indexBands(spark, path) === 8)
    // the exact ADVICE r17 scenario: written at 8, probed at the
    // default 4 — must throw, not return (near-)empty pairs
    val e = intercept[IllegalArgumentException] {
      VideoFrameIndex.probePairs(spark, path, batch, hammingMax = 6)
    }
    assert(e.getMessage.contains("bands=8") &&
      e.getMessage.contains("bands=4"), e.getMessage)
    intercept[IllegalArgumentException] {
      VideoFrameIndex.admitBatch(batch, path) // default 4 vs built 8
    }
    // matching bands works, and 8 bands GUARANTEES recall at h ≤ 7
    // (the honest-contract parameterization, Multimodal.scala doc)
    val got = VideoFrameIndex
      .probePairs(spark, path, batch, hammingMax = 6, bands = 8)._1
      .select("corpus_video", "new_video", "matched_corpus", "matched_new")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == wantPairs(corpus, batch), s"got $got")
  }

  test("pre-sidecar index: bands derived from partition directories") {
    val path = java.nio.file.Files
      .createTempDirectory("vframe_legacy").toString
    VideoFrameIndex.writeIndex(corpus, path, bands = 8)
    // simulate an index written before the sidecar existed
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(path, graft.io.Layout.MetaFile))
    assert(VideoFrameIndex.indexBands(spark, path) === 8)
    val got = VideoFrameIndex
      .probePairs(spark, path, batch, hammingMax = 6, bands = 8)._1
    assert(got.count() > 0)
  }

  test("compactIndex carries the banding sidecar to the rewrite") {
    val path = java.nio.file.Files
      .createTempDirectory("vframe_cmp_in").toString
    val out = java.nio.file.Files
      .createTempDirectory("vframe_cmp_out").toString
    VideoFrameIndex.writeIndex(corpus, path, bands = 8)
    VideoFrameIndex.compactIndex(spark, path, out)
    assert(VideoFrameIndex.indexBands(spark, out) === 8)
    intercept[IllegalArgumentException] {
      VideoFrameIndex.probePairs(spark, out, batch) // default 4 vs 8
    }
  }

  test("hot corpus buckets are capped AND reported, never unbounded") {
    // 30 flat videos (test patterns / black frames): every frame the
    // SAME phash — 120 corpus rows per band bucket, the fan-out case
    val flatHash = hash(77, 0)
    val flat = (for (v <- 0 until 30; f <- 0 until 4)
      yield (s"f$v", f.toLong, flatHash))
      .toDF("video", "frame_idx", "phash")
    val path = java.nio.file.Files
      .createTempDirectory("vframe_hot").toString
    VideoFrameIndex.writeIndex(corpus.unionByName(flat), path)
    // batch: n0 near-dups c0 (normal), nf is another flat video
    val nf = (0 until 4).map(f => ("nf", f.toLong, flatHash))
      .toDF("video", "frame_idx", "phash")
    val probeBatch = batch.filter(col("video") === "n0").unionByName(nf)
    val (pairs, dropped) = VideoFrameIndex.probePairs(
      spark, path, probeBatch, hammingMax = 6, bucketCap = 50)
    // the flat buckets (4 bands × 120 rows) are dropped and reported;
    // the normal near-dup survives untouched
    val droppedRows = dropped.as[(Int, Long, Long)].collect()
    assert(droppedRows.length === 4, droppedRows.mkString(","))
    assert(droppedRows.forall(_._3 === 120L), droppedRows.mkString(","))
    val pairSet = pairs.select("corpus_video", "new_video")
      .as[(String, String)].collect().toSet
    assert(pairSet === Set(("c0", "n0")), pairSet)
    // and without the cap the flat family floods the result
    val (uncapped, noDrop) = VideoFrameIndex.probePairs(
      spark, path, probeBatch, hammingMax = 6)
    assert(noDrop.count() === 0)
    assert(uncapped.filter(col("new_video") === "nf").count() === 30)
  }

  test("nightly lifecycle: probe → gate → admit ≡ one gated rebuild") {
    val path = java.nio.file.Files
      .createTempDirectory("vframe_life").toString
    VideoFrameIndex.writeIndex(corpus, path)
    // night 1: n0 is a full near-dup of c0 (dup_frac 1.0 → reject),
    // n1 half-overlaps c2 (0.5 < 0.6 → admit), n2 novel (admit)
    val (dec1, _) = VideoFrameIndex.nightlyIngest(
      spark, path, batch, dupFrac = 0.6, hammingMax = 6)
    val d1 = dec1.as[(String, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(d1("n0") === ((1.0, false)), d1)
    assert(d1("n1") === ((0.5, true)), d1)
    assert(d1("n2") === ((0.0, true)), d1)
    // night 2: m0 half-overlaps night-1-ADMITTED n1 (admit at 0.5),
    // m1 near-dups night-1-ADMITTED n2 — the gate must see
    // yesterday's admits and reject it (dup_frac 1.0)
    val night2 = ((0 until 8).map(f => ("m0", f.toLong, hash(8, f))) ++
      (0 until 8).map(f => ("m1", f.toLong, hash(9, f) ^ 3L)))
      .toDF("video", "frame_idx", "phash")
    val (dec2, _) = VideoFrameIndex.nightlyIngest(
      spark, path, night2, dupFrac = 0.6, hammingMax = 6)
    val d2 = dec2.as[(String, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(d2("m0") === ((0.5, true)), d2)
    assert(d2("m1") === ((1.0, false)), d2)
    // two gated nights ≡ one rebuild over corpus + every ADMITTED
    // video (rejects excluded) — the index rows are identical
    val rebuilt = java.nio.file.Files
      .createTempDirectory("vframe_life_rb").toString
    val admitted = batch.filter(col("video").isin("n1", "n2"))
      .unionByName(night2.filter(col("video") === "m0"))
    VideoFrameIndex.writeIndex(corpus.unionByName(admitted), rebuilt)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("video"), col("frame_idx"), col("phash"),
        col("band").cast("int"), col("bgroup").cast("int"), col("bkey"))
      .as[(String, Long, Long, Int, Int, Long)].collect().toSet
    assert(rows(path) === rows(rebuilt))
  }
}
