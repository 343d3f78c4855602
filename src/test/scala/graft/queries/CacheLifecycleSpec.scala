package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The suite memo caches (DedupSuite bands/words/simhash, BenchSuite
  * inflated corpus + IVF index) pin executor storage per (session, dir)
  * — `releaseCaches` must remove exactly those blocks, and the caches
  * must rebuild lazily afterwards. The standing indexes the bench arms
  * memoize on local disk must go with it.
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

  test("releaseCaches removes exactly the memoized blocks; lazily rebuilt") {
    DedupSuite.releaseCaches(spark)
    BenchSuite.releaseCaches(spark)
    val base = cachedIds

    // force the dedup memos (bands, words, simhash) and the bench
    // inflated-corpus memo to materialize
    SparkEntry.queries("d04_jaccard_verify")(spark, dir).collect()
    SparkEntry.queries("d06_simhash_pairs")(spark, dir).collect()
    SparkEntry.queries("x02_knn_codegen")(spark, dir).collect()
    val added = cachedIds -- base
    assert(added.nonEmpty,
      "expected the suite memos to hold cached RDDs after queries ran")

    DedupSuite.releaseCaches(spark)
    BenchSuite.releaseCaches(spark)
    val leftover = cachedIds.intersect(added)
    assert(leftover.isEmpty,
      s"releaseCaches left cached RDDs behind: $leftover")

    // lazily rebuilt on next use — same results, caches repopulate
    val again = SparkEntry.queries("d06_simhash_pairs")(spark, dir)
    assert(again.count() > 0)
    val rebuilt = cachedIds -- base -- added
    assert(rebuilt.nonEmpty, "memo did not rebuild after release")
    DedupSuite.releaseCaches(spark)
    BenchSuite.releaseCaches(spark)
    assert(cachedIds.intersect(rebuilt).isEmpty)
  }

  test("memoized standing-index dirs go with releaseCaches; x32 " +
      "deletes its per-night dirs before it returns") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def dirs(prefix: String): Set[String] =
      Option(tmp.list()).map(_.toSet).getOrElse(Set.empty[String])
        .filter(_.startsWith(prefix))
    val perNight = Seq("x32_night", "x32_cmp", "x32_refit")
    BenchSuite.releaseCaches(spark)
    val before = Seq("x28_cur", "x27_vdi").map(p => p -> dirs(p)).toMap
    val nightBefore = perNight.map(p => p -> dirs(p)).toMap

    SparkEntry.benchOnlyQueries("x28_curate_incremental")(spark, dir)
      .collect()
    SparkEntry.benchOnlyQueries("x32_admit_lifecycle")(spark, dir)
      .collect()
    for ((p, seen) <- before)
      assert((dirs(p) -- seen).nonEmpty, s"no $p dir was memoized")
    for ((p, seen) <- nightBefore)
      assert((dirs(p) -- seen).isEmpty, s"x32 left a $p dir behind")

    BenchSuite.releaseCaches(spark)
    for ((p, seen) <- before)
      assert((dirs(p) -- seen).isEmpty,
        s"releaseCaches left ${dirs(p) -- seen} behind")
  }
}
