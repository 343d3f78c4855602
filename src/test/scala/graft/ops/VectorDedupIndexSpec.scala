package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** The persisted-IVF embedding dedup probe (VERDICT r12 item 3): the
  * pruned executed plan and pair-set parity with the batch cell-blocked
  * form (`v14_blocked_neardup`).
  *
  * Numeric note: v14's oracle works in round(x*1e6)-quantized longs,
  * the library in raw doubles. Parity between the two is legitimate to
  * pin because the fixture's decision margins dwarf the quantization
  * error (~1e-6 relative): measured min argmin gap 2.3e-4 squared
  * units, min |cos − τ| 5.8e-5.
  */
class VectorDedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val Tau = 0.3

  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  test("full-corpus probe reproduces batch v14's pair set exactly") {
    val path = java.nio.file.Files
      .createTempDirectory("ivf_dedup_full").toString
    val cents = VectorDedupIndex.seedCentroids(emb, "vec_id", "embedding", 8)
    assert(cents.map(_._1) == (0L until 8L), "v14's seed convention")
    VectorDedupIndex.writeIndex(emb, "vec_id", "embedding", cents, path)
    // probing the corpus against itself yields each v14 pair in both
    // directions; orient to a<b for the comparison
    val got = VectorDedupIndex.probePairs(spark, path, cents,
        emb, "vec_id", "embedding", Tau)
      .filter(col("corpus_id") < col("new_id"))
      .select("corpus_id", "new_id")
      .as[(Long, Long)].collect().toSet
    val want = SparkEntry.queries("v14_blocked_neardup")(spark, dir)
      .filter(col("cos") >= Tau) // v14 reports down to > 0.3 strict; align
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(got.nonEmpty, "degenerate: no pairs above tau on the fixture")
  }

  test("incremental probe equals the union-batch form's cross slice " +
      "and reads only the probed cell partitions") {
    // nightly split: the last few ids arrive as tonight's batch
    val maxId = emb.agg(max("vec_id")).as[Long].head()
    val batch = emb.filter(col("vec_id") > maxId - 5)
    val corpus = emb.filter(col("vec_id") <= maxId - 5)
    val path = java.nio.file.Files
      .createTempDirectory("ivf_dedup_incr").toString
    // centroids from the standing corpus (ids 0..7 are in it), so the
    // index and the union-batch reference assign identically
    val cents = VectorDedupIndex.seedCentroids(
      corpus, "vec_id", "embedding", 8)
    VectorDedupIndex.writeIndex(corpus, "vec_id", "embedding", cents, path)

    val got = VectorDedupIndex.probePairs(spark, path, cents,
      batch, "vec_id", "embedding", Tau)
    got.collect() // finalize AQE before reading the executed plan
    val gotPairs = got.select("corpus_id", "new_id")
      .as[(Long, Long)].collect().toSet

    // reference: the batch v14 recipe over corpus ∪ batch (= the whole
    // fixture, same centroids), restricted to (corpus, batch) pairs
    val batchIds = batch.select("vec_id").as[Long].collect().toSet
    val union = SparkEntry.queries("v14_blocked_neardup")(spark, dir)
      .filter(col("cos") >= Tau)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val want = union.collect {
      case (a, b) if !batchIds(a) && batchIds(b) => (a, b)
      case (a, b) if batchIds(a) && !batchIds(b) => (b, a)
    }.toSet
    assert(gotPairs == want,
      s"missing=${(want -- gotPairs).take(5)} " +
        s"extra=${(gotPairs -- want).take(5)}")
    assert(gotPairs.nonEmpty,
      "degenerate: tonight's batch collides with nothing")

    // the scale contract: the index scan is partition-pruned to the
    // batch's cells — PartitionFilters on the cell column, non-empty
    val plan = got.queryExecution.executedPlan.toString
    val scan = plan.split("\n").find(_.contains("PartitionFilters"))
    assert(scan.isDefined, plan)
    assert(!scan.get.contains("PartitionFilters: []"),
      s"index scan reads all partitions:\n$plan")
    assert("""PartitionFilters: \[[^\]]*ivf_cell""".r
      .findFirstIn(scan.get).isDefined, scan.get)
  }

  test("streaming ingest probes the index per micro-batch " +
      "(foreachBatch — the nightly flow as a stream, mirroring " +
      "TextDedupIndexSpec)") {
    val maxId = emb.agg(max("vec_id")).as[Long].head()
    val batch = emb.filter(col("vec_id") > maxId - 5)
    val corpus = emb.filter(col("vec_id") <= maxId - 5)
    val idxPath = java.nio.file.Files
      .createTempDirectory("ivf_stream_idx").toString
    val cents = VectorDedupIndex.seedCentroids(
      corpus, "vec_id", "embedding", 8)
    VectorDedupIndex.writeIndex(corpus, "vec_id", "embedding",
      cents, idxPath)
    val srcDir = java.nio.file.Files
      .createTempDirectory("ivf_stream_src").toString
    batch.write.mode("overwrite").parquet(srcDir)
    val cp = java.nio.file.Files
      .createTempDirectory("ivf_stream_cp").toString
    val hits = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = spark.readStream
      .schema(batch.schema)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty)
          hits.synchronized {
            hits ++= VectorDedupIndex.probePairs(spark, idxPath, cents,
                b, "vec_id", "embedding", Tau)
              .select("corpus_id", "new_id")
              .as[(Long, Long)].collect()
          }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val want = VectorDedupIndex.probePairs(spark, idxPath, cents,
        batch, "vec_id", "embedding", Tau)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(hits.toSet == want && want.nonEmpty, s"got $hits want $want")
  }

  test("admitBatch: N nightly admits ≡ one full rebuild — index " +
      "content, probe results, and bounded files per cell " +
      "(VERDICT r13 item 3)") {
    val b0 = emb.filter(col("vec_id") < 200)
    val b1 = emb.filter(col("vec_id") >= 200 && col("vec_id") < 350)
    val b2 = emb.filter(col("vec_id") >= 350)
    val cents = VectorDedupIndex.seedCentroids(b0, "vec_id", "embedding", 8)

    val incr = java.nio.file.Files
      .createTempDirectory("vdi_admit_incr").toString
    VectorDedupIndex.writeIndex(b0, "vec_id", "embedding", cents, incr)
    VectorDedupIndex.admitBatch(b1, cents, incr, "vec_id", "embedding")
    VectorDedupIndex.admitBatch(b2, cents, incr, "vec_id", "embedding")
    val full = java.nio.file.Files
      .createTempDirectory("vdi_admit_full").toString
    VectorDedupIndex.writeIndex(emb, "vec_id", "embedding", cents, full)

    def content(p: String) = spark.read.parquet(p)
      .select(col("id"), col("ivf_cell").cast("long"),
        col("vec").cast("string"))
      .as[(Long, Long, String)].collect().toSet
    assert(content(incr) == content(full))

    // probe-for-probe: tomorrow's batch sees the same pairs either way
    val probe = emb.filter(col("vec_id") % 7 === 0)
    def pairs(p: String) = VectorDedupIndex.probePairs(spark, p, cents,
        probe, "vec_id", "embedding", Tau)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    val gotIncr = pairs(incr)
    assert(gotIncr == pairs(full) && gotIncr.nonEmpty)

    // small-file contract: ≤ 1 file per cell per write that touched it,
    // and compaction brings every cell back to exactly one file
    // without changing content
    val occ = VectorDedupIndex.cellOccupancy(spark, incr)
      .select(col("cell"), col("n_files")).as[(Long, Long)]
      .collect().toMap
    assert(occ.values.max <= 3, s"files per cell: $occ")
    val compacted = java.nio.file.Files
      .createTempDirectory("vdi_admit_comp").toString
    VectorDedupIndex.compactIndex(spark, incr, compacted)
    val occC = VectorDedupIndex.cellOccupancy(spark, compacted)
      .select(col("cell"), col("n_files")).as[(Long, Long)]
      .collect().toMap
    assert(occC.keySet == occ.keySet && occC.values.forall(_ == 1L),
      s"post-compaction files per cell: $occC")
    assert(content(compacted) == content(full))
  }

  test("cumulative admit-then-probe cycles reproduce the full " +
      "rebuild's pair set (the nightly loop never loses a pair)") {
    // seed = one row (no internal pairs), then three nightly slices;
    // each night ADMITS its slice and probes it — so within-slice and
    // cross-slice pairs are both seen exactly when they form
    val cents = VectorDedupIndex.seedCentroids(emb, "vec_id", "embedding", 8)
    val path = java.nio.file.Files
      .createTempDirectory("vdi_cycles").toString
    VectorDedupIndex.writeIndex(
      emb.filter(col("vec_id") === 0), "vec_id", "embedding", cents, path)
    val slices = Seq(
      emb.filter(col("vec_id") > 0 && col("vec_id") < 170),
      emb.filter(col("vec_id") >= 170 && col("vec_id") < 340),
      emb.filter(col("vec_id") >= 340))
    val seen = scala.collection.mutable.Set.empty[(Long, Long)]
    slices.foreach { s =>
      VectorDedupIndex.admitBatch(s, cents, path, "vec_id", "embedding")
      seen ++= VectorDedupIndex.probePairs(spark, path, cents,
          s, "vec_id", "embedding", Tau)
        .select("corpus_id", "new_id").as[(Long, Long)].collect()
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    }
    // reference: the fully-rebuilt index probed with the whole corpus
    val want = VectorDedupIndex.probePairs(spark, path, cents,
        emb, "vec_id", "embedding", Tau)
      .filter(col("corpus_id") < col("new_id"))
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(seen.toSet == want,
      s"missing=${(want -- seen).take(5)} extra=${(seen -- want).take(5)}")
    assert(want.nonEmpty)
  }

  test("nprobe=2 finds a boundary-straddling pair that nprobe=1 " +
      "misses, and the scan stays partition-pruned (VERDICT r13 " +
      "item 4)") {
    // geometry: centroids at the axes; the batch vector leans toward
    // cell 1 but its true near-dup lives in cell 0
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    val corpus = Seq(
      (10L, Seq(1.0, 0.0)), // cell 0 — cos with batch = 0.6
      (11L, Seq(0.0, 1.0))) // cell 1 — cos with batch = 0.8
      .toDF("vec_id", "embedding")
    val batch = Seq((99L, Seq(0.6, 0.8))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("vdi_multiprobe").toString
    VectorDedupIndex.writeIndex(corpus, "vec_id", "embedding", cents, path)
    def pairs(np: Int) = VectorDedupIndex.probePairs(spark, path, cents,
      batch, "vec_id", "embedding", tau = 0.55, nprobe = np)
    assert(pairs(1).select("corpus_id").as[Long].collect().toSet
      == Set(11L))
    val two = pairs(2)
    two.collect()
    assert(two.select("corpus_id").as[Long].collect().toSet
      == Set(10L, 11L))
    val scan = two.queryExecution.executedPlan.toString
      .split("\n").find(_.contains("PartitionFilters"))
    assert(scan.isDefined && !scan.get.contains("PartitionFilters: []"),
      s"multiprobe scan reads all partitions: $scan")
  }

  test("maybeRefit: a planted drifted stream trips the shift alarm " +
      "and the rebuild restores probe parity with a from-scratch " +
      "index (VERDICT r14 item 2)") {
    val base = emb.filter(col("vec_id") < 300)
    val cents = VectorDedupIndex.seedCentroids(base, "vec_id", "embedding", 8)
    val path = java.nio.file.Files
      .createTempDirectory("vdi_refit_drift").toString
    VectorDedupIndex.writeIndex(base, "vec_id", "embedding", cents, path)
    // tonight's slice: the same corpus shape shifted +0.5 on every dim
    // (the DriftSpec plant: shift_l2 ≈ sqrt(64)·0.5 = 4, well past
    // 0.5× the fixture's dispersion)
    val drifted = emb.filter(col("vec_id") >= 300)
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => x + lit(0.5)).as("embedding"))
    // the nightly order: admit first, then measure+maybe-refit
    VectorDedupIndex.admitBatch(drifted, cents, path, "vec_id", "embedding")
    val out = java.nio.file.Files
      .createTempDirectory("vdi_refit_out").toString + "/idx"
    val report = VectorDedupIndex.maybeRefit(spark, path, drifted,
      "vec_id", "embedding", cents, out,
      skewThreshold = 1e9, shiftThreshold = 0.5) // isolate the shift leg
    assert(report.refit && report.rebuiltPath.contains(out),
      report.toString)
    assert(report.shiftRatio >= 0.5, report.toString)
    assert(report.centroids != cents, "re-fit must produce new centroids")

    // parity: the rebuilt index probes exactly like one built from
    // scratch on the same content (Kmeans.fit is deterministic —
    // lowest-k-id seeds, quantized sums)
    val content = spark.read.parquet(path).select(col("id"), col("vec"))
    val scratchCents = graft.vector.Kmeans.fit(content, "id", "vec",
      k = 8, iters = 5)
    assert(report.centroids == scratchCents,
      "refit must equal a from-scratch fit on the same content")
    val scratch = java.nio.file.Files
      .createTempDirectory("vdi_refit_scratch").toString
    VectorDedupIndex.writeIndex(content, "id", "vec", scratchCents, scratch)
    val probe = emb.filter(col("vec_id") % 7 === 0)
    def pairs(p: String, cs: Seq[(Long, Seq[Double])]) =
      VectorDedupIndex.probePairs(spark, p, cs, probe,
          "vec_id", "embedding", Tau)
        .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    val got = pairs(out, report.centroids)
    assert(got == pairs(scratch, scratchCents) && got.nonEmpty)
  }

  test("maybeRefit: an un-drifted stream is a no-op — same " +
      "distribution in, nothing rebuilt, centroids unchanged") {
    val base = emb.filter(col("vec_id") % 2 === 0)
    val cents = VectorDedupIndex.seedCentroids(base, "vec_id", "embedding", 8)
    val path = java.nio.file.Files
      .createTempDirectory("vdi_norefit").toString
    VectorDedupIndex.writeIndex(base, "vec_id", "embedding", cents, path)
    val sameDist = emb.filter(col("vec_id") % 2 === 1)
    val out = java.nio.file.Files
      .createTempDirectory("vdi_norefit_out").toString + "/idx"
    val report = VectorDedupIndex.maybeRefit(spark, path, sameDist,
      "vec_id", "embedding", cents, out,
      skewThreshold = 1e9, shiftThreshold = 0.5)
    assert(!report.refit && report.rebuiltPath.isEmpty, report.toString)
    assert(report.centroids eq cents, "no-op must return the input matrix")
    assert(report.shiftRatio < 0.5, report.toString)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out)),
      "untripped maybeRefit must write nothing")
    // and an empty batch is a no-op with zero shift evidence
    val r2 = VectorDedupIndex.maybeRefit(spark, path,
      sameDist.filter(col("vec_id") < 0), "vec_id", "embedding",
      cents, out, skewThreshold = 1e9)
    assert(!r2.refit && r2.shiftRatio == 0.0)
  }

  test("maybeRefit: occupancy skew alone trips it — the one-giant-" +
      "cell degenerate state re-fits even with an in-distribution " +
      "batch") {
    // centroids at 4 axes, every corpus row crowded near axis 0:
    // skew = max·k/total = 4.0 (k−1 cells empty COUNT in the mean)
    val cents = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 1.0, 0.0)), (3L, Seq(0.0, 0.0, 0.0, 1.0)))
    val corpus = (0 until 64).map(i =>
        (i.toLong, Seq(1.0, 0.001 * i, 0.002 * i, 0.001 * (64 - i))))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("vdi_skew").toString
    VectorDedupIndex.writeIndex(corpus, "vec_id", "embedding", cents, path)
    val batch = Seq((100L, Seq(1.0, 0.03, 0.06, 0.01)))
      .toDF("vec_id", "embedding")
    val out = java.nio.file.Files
      .createTempDirectory("vdi_skew_out").toString + "/idx"
    val report = VectorDedupIndex.maybeRefit(spark, path, batch,
      "vec_id", "embedding", cents, out,
      skewThreshold = 4.0, shiftThreshold = 1e9) // isolate the skew leg
    assert(report.occupancySkew == 4.0, report.toString)
    assert(report.refit && report.centroids.size == 4)
    // the re-fit centroids spread the crowded mass: occupancy of the
    // rebuilt index is strictly more even
    val occ = VectorDedupIndex.cellOccupancy(spark, out)
      .select(col("n_rows")).as[Long].collect()
    assert(occ.length > 1, s"re-fit still degenerate: ${occ.toSeq}")

    // guards
    intercept[IllegalArgumentException] {
      VectorDedupIndex.maybeRefit(spark, path, batch, "vec_id",
        "embedding", cents, out, skewThreshold = 1.0) }
    intercept[IllegalArgumentException] {
      VectorDedupIndex.maybeRefit(spark, path, batch, "vec_id",
        "embedding", cents, out, sampleFraction = 0.0) }
  }

  test("an empty micro-batch probes nothing and does not crash") {
    val path = java.nio.file.Files
      .createTempDirectory("ivf_dedup_empty").toString
    val cents = VectorDedupIndex.seedCentroids(emb, "vec_id", "embedding", 8)
    VectorDedupIndex.writeIndex(emb, "vec_id", "embedding", cents, path)
    val empty = emb.filter(col("vec_id") < 0)
    val none = VectorDedupIndex.probePairs(spark, path, cents,
      empty, "vec_id", "embedding", Tau)
    assert(none.count() == 0)
    // the non-empty probe's columns and types
    val full = VectorDedupIndex.probePairs(spark, path, cents,
      emb.filter(col("vec_id") < 20), "vec_id", "embedding", Tau)
    assert(full.count() > 0)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType)
    assert(shape(none) == shape(full))
  }
}
