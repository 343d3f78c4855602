package graft.queries

import graft.{Arm, SparkEntry, SparkSpec}

/** The arm lifecycle's storage contract ([[graft.Arm]]): per-run
  * scratch (cached frames, temp dirs, stage caches) goes when the run
  * ends; the memos (DedupSuite bands/words/simhash, the inflated
  * corpus, the IVF/PQ indexes, the standing-index dirs) stay across
  * runs until one `Arm.release(session)` removes exactly them, and
  * rebuild lazily afterwards.
  *
  * Assertions track RDD IDs, not global counts: the spec shares its
  * JVM with every other suite, and Spark's ContextCleaner may reap an
  * unreferenced cached RDD from a neighbour at any moment — an
  * equality check on the global persistent-RDD count is inherently
  * racy (it failed exactly that way in full-suite runs). */
class CacheLifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def cachedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
  /** Temp-dir names with one of the arms' prefixes. */
  private def dirs(prefixes: Seq[String]): Set[String] =
    Option(tmp.list()).map(_.toSet).getOrElse(Set.empty[String])
      .filter(n => prefixes.exists(n.startsWith))

  private def runArm(name: String): Unit =
    Arm.run(spark, dir, SparkEntry.arms(name))(_.collect())

  /** Every arm that holds a memo or registers scratch. */
  private val lifecycleArms = Seq(
    "d04_jaccard_verify", "d06_simhash_pairs", "c07_pagerank",
    "v13_degraded_pipeline", "v19_admit_probe", "m03_video_admit_probe",
    "x02_knn_codegen", "x03_knn_ivf", "x04_topk_rewrite", "x14_pq_adc",
    "x15_ivfpq", "x16_bpe_encode", "x17_stream_asof", "x18_stream_hh",
    "x21_stream_ssj", "x24_mmr_rerank", "x25_kmeans_train",
    "x26_curation_pipeline", "x27_vector_dedup_probe",
    "x28_curate_incremental", "x29_decontam_128cells",
    "x30_dedup_probe_np2", "x31_decontam_trained", "x32_admit_lifecycle",
    "x33_video_probe", "x35_video_ingest")
  private val memoDirs = Seq("x27_vdi", "x28_cur", "x33_vfi", "x35_vfi")
  private val runDirs = Seq("x32_night", "x32_cmp", "x32_refit",
    "m03_idx", "m03_cmp", "v19_idx", "v19_cmp", "graft-bench-ckpt")

  test("Arm.release removes exactly the memoized blocks; lazily rebuilt") {
    Arm.release(spark)
    val base = cachedIds
    val dirsBefore = dirs(memoDirs ++ runDirs)

    lifecycleArms.foreach(runArm)
    val added = cachedIds -- base
    assert(added.nonEmpty,
      "expected the memos to hold cached RDDs after the arms ran")
    for (p <- memoDirs)
      assert((dirs(Seq(p)) -- dirsBefore).nonEmpty, s"no $p dir was memoized")
    assert((dirs(runDirs) -- dirsBefore).isEmpty,
      s"run scratch outlived its run: ${dirs(runDirs) -- dirsBefore}")

    Arm.release(spark)
    assert((cachedIds -- base).isEmpty,
      s"Arm.release left cached RDDs behind: ${cachedIds -- base}")
    assert((dirs(memoDirs ++ runDirs) -- dirsBefore).isEmpty,
      s"Arm.release left ${dirs(memoDirs ++ runDirs) -- dirsBefore} behind")

    // lazily rebuilt on next use — same results, caches repopulate
    assert(Arm.run(spark, dir, SparkEntry.arms("d06_simhash_pairs"))(
      _.count()) > 0)
    val rebuilt = cachedIds -- base
    assert(rebuilt.nonEmpty, "memo did not rebuild after release")
    Arm.release(spark)
    assert(cachedIds.intersect(rebuilt).isEmpty)
  }

  test("v13 leaves no held search plan once its run ends") {
    val before = graft.embed.SearchFixtures.held(spark)
    runArm("v13_degraded_pipeline")
    assert(graft.embed.SearchFixtures.held(spark) == before)
  }

  test("run scratch goes at run end: x32/m03/v19 dirs, c07 caches") {
    val base = cachedIds
    val before = dirs(runDirs)
    Arm.run(spark, dir, SparkEntry.arms("c07_pagerank")) { df =>
      df.collect()
      assert((cachedIds -- base).nonEmpty, "c07 cached nothing in its run")
    }
    assert((cachedIds -- base).isEmpty,
      s"c07 left persistent RDDs behind: ${cachedIds -- base}")
    for (arm <- Seq("x32_admit_lifecycle", "m03_video_admit_probe",
        "v19_admit_probe")) {
      Arm.run(spark, dir, SparkEntry.arms(arm)) { df =>
        df.collect()
        assert((dirs(runDirs) -- before).nonEmpty,
          s"$arm made no scratch dir in its run")
      }
      assert((dirs(runDirs) -- before).isEmpty,
        s"$arm left ${dirs(runDirs) -- before} behind")
    }
    Arm.release(spark)
  }
}
