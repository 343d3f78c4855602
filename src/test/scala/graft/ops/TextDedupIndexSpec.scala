package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.SparkSpec

class TextDedupIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Corpus of distinct sentences plus a batch where some docs are
    * near-copies of corpus docs (one token changed out of ten). */
  private def sentence(seed: Int): String =
    (0 until 10).map(j => s"w${(seed * 31 + j * 7) % 97}_$j").mkString(" ")

  private def corpus = (0 until 40)
    .map(i => (i.toLong, sentence(i))).toDF("doc_id", "text")

  private def batch = Seq(
    (100L, sentence(3)), // exact copy of corpus doc 3
    (101L, sentence(7).replace("_9", "_9x")), // near-copy of doc 7
    // novel: token values cycle with seed mod 97, so any seed in
    // [40, 96] is guaranteed disjoint from the 0..39 corpus
    (102L, sentence(50)),
    (103L, sentence(11)) // exact copy of doc 11
  ).toDF("doc_id", "text")

  test("probe prunes index partitions and finds the cross candidates") {
    val path = java.nio.file.Files
      .createTempDirectory("lsh_index").toString
    TextDedupIndex.writeIndex(corpus, path)
    val got = TextDedupIndex.probeCandidates(spark, path, batch)
    got.collect() // finalize AQE before reading the executed plan
    val pairs = got.as[(Long, Long)].collect().toSet
    // brute-force reference: band-key equality between corpus and batch
    val cb = TextDedupIndex.bandRows(corpus, "doc_id", "text")
      .select(col("doc_id").as("corpus_id"), col("band"), col("bkey"))
    val bb = TextDedupIndex.bandRows(batch, "doc_id", "text")
      .select(col("doc_id").as("new_id"), col("band"), col("bkey"))
    val want = cb.join(bb, Seq("band", "bkey"))
      .select("corpus_id", "new_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs == want, s"got $pairs want $want")
    // the copies MUST surface; the novel doc must not pair with anything
    assert(pairs.contains((3L, 100L)) && pairs.contains((11L, 103L)))
    assert(pairs.contains((7L, 101L)),
      "near-copy missed — 4 bands of 2 should catch a 1-token edit")
    assert(!pairs.exists(_._2 == 102L))
    // and the scan must be partition-pruned, not a full index read
    val plan = got.queryExecution.executedPlan.toString
    val scan = plan.split("\n").find(_.contains("PartitionFilters"))
    assert(scan.isDefined, plan)
    assert(!scan.get.contains("PartitionFilters: []"),
      s"index scan reads all partitions:\n$plan")
  }

  test("streaming ingest probes the index per micro-batch (foreachBatch)") {
    // the nightly-ingest flow as a STREAM: each arriving micro-batch of
    // documents dedups against the persisted corpus index; only the
    // matching index partitions are read per batch
    val idx = java.nio.file.Files
      .createTempDirectory("lsh_stream_idx").toString
    TextDedupIndex.writeIndex(corpus, idx)
    val srcDir = java.nio.file.Files
      .createTempDirectory("lsh_stream_src").toString
    batch.write.mode("overwrite").parquet(srcDir)
    val cp = java.nio.file.Files
      .createTempDirectory("lsh_stream_cp").toString
    val hits = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = spark.readStream
      .schema(batch.schema)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty)
          hits.synchronized {
            hits ++= TextDedupIndex.probeCandidates(spark, idx, b)
              .as[(Long, Long)].collect()
          }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(hits.toSet == Set((3L, 100L), (7L, 101L), (11L, 103L)),
      s"got $hits")
  }

  test("empty and sub-shingle probe batches return empty, not crash") {
    val path = java.nio.file.Files
      .createTempDirectory("lsh_empty").toString
    TextDedupIndex.writeIndex(corpus, path)
    // a streaming micro-batch can legitimately be empty …
    val empty = corpus.filter(col("doc_id") < 0)
    assert(TextDedupIndex.probeCandidates(spark, path, empty).count() == 0)
    // … or contain only docs too short to produce a single 3-shingle
    val tiny = Seq((200L, "one two")).toDF("doc_id", "text")
    assert(TextDedupIndex.probeCandidates(spark, path, tiny).count() == 0)
    // both carry the non-empty probe's columns and types — the caller's
    // id type included (int here)
    def intIds(df: DataFrame) = df.withColumn("doc_id", col("doc_id").cast("int"))
    val intPath = java.nio.file.Files
      .createTempDirectory("lsh_empty_int").toString
    TextDedupIndex.writeIndex(intIds(corpus), intPath)
    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val full = TextDedupIndex.probeCandidates(spark, intPath, intIds(batch))
    assert(full.count() > 0)
    assert(shape(full) == Seq("corpus_id" -> IntegerType,
      "new_id" -> IntegerType))
    for (b <- Seq(empty, tiny)) {
      val none = TextDedupIndex.probeCandidates(spark, intPath, intIds(b))
      assert(none.count() == 0 && shape(none) == shape(full))
    }
  }

  test("admitBatch: N nightly admits ≡ one full rebuild — band-row " +
      "content, probe results, bounded files; compaction restores " +
      "one file per directory (VERDICT r13 item 3)") {
    val s1 = (40 until 60).map(i => (i.toLong, sentence(i)))
      .toDF("doc_id", "text")
    val s2 = (60 until 80).map(i => (i.toLong, sentence(i)))
      .toDF("doc_id", "text")
    val incr = java.nio.file.Files
      .createTempDirectory("lsh_admit_incr").toString
    TextDedupIndex.writeIndex(corpus, incr)
    TextDedupIndex.admitBatch(s1, incr)
    TextDedupIndex.admitBatch(s2, incr)
    val full = java.nio.file.Files
      .createTempDirectory("lsh_admit_full").toString
    TextDedupIndex.writeIndex(
      corpus.unionByName(s1).unionByName(s2), full)

    def content(p: String) = spark.read.parquet(p)
      .select(col("doc_id"), col("band").cast("long"), col("bkey"),
        col("bgroup").cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(content(incr) == content(full))

    def pairs(p: String) = TextDedupIndex
      .probeCandidates(spark, p, batch)
      .as[(Long, Long)].collect().toSet
    val got = pairs(incr)
    assert(got == pairs(full) && got.nonEmpty)

    // ≤ 1 file per directory per write that touched it; compaction
    // brings it back to exactly 1 with content intact
    def maxFiles(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("band=")).flatMap(_.listFiles())
      .filter(_.getName.startsWith("bgroup=")).map(
        _.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(maxFiles(incr) <= 3, s"files per dir: ${maxFiles(incr)}")
    val compacted = java.nio.file.Files
      .createTempDirectory("lsh_admit_comp").toString
    TextDedupIndex.compactIndex(spark, incr, compacted)
    assert(maxFiles(compacted) == 1)
    assert(content(compacted) == content(full))
  }

  test("index layout bounds partition count by bands x GroupMod") {
    val path = java.nio.file.Files
      .createTempDirectory("lsh_layout").toString
    TextDedupIndex.writeIndex(corpus, path)
    val bandDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("band="))
    assert(bandDirs.length == 4) // k=8, rowsPerBand=2
    bandDirs.foreach { d =>
      val groups = d.listFiles().count(_.getName.startsWith("bgroup="))
      assert(groups <= graft.io.Layout.GroupMod, d.toString)
    }
  }

  test("banding travels with the index: a k/rowsPerBand mismatch " +
      "fails loudly; a pre-sidecar index stays readable unchecked") {
    val path = java.nio.file.Files
      .createTempDirectory("lsh_meta").toString
    TextDedupIndex.writeIndex(corpus, path)
    assert(graft.io.Layout.readIndexMeta(spark, path) ===
      Some(Map("k" -> 8L, "rowsPerBand" -> 2L, "groupMod" -> 64L)))
    // 4-hash band keys against an index of 2-hash band keys join to
    // nothing — must throw, not return zero candidates
    val e = intercept[IllegalArgumentException] {
      TextDedupIndex.probeCandidates(spark, path, batch, rowsPerBand = 4)
    }
    assert(e.getMessage.contains("rowsPerBand=2") &&
      e.getMessage.contains("rowsPerBand=4"), e.getMessage)
    val a = intercept[IllegalArgumentException] {
      TextDedupIndex.admitBatch(batch, path, k = 16)
    }
    assert(a.getMessage.contains("k=8") && a.getMessage.contains("k=16"),
      a.getMessage)
    assert(TextDedupIndex.probeCandidates(spark, path, batch).count() > 0)
    // an index written before the sidecar existed is not checked
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(path, graft.io.Layout.MetaFile))
    assert(TextDedupIndex
      .probeCandidates(spark, path, batch, rowsPerBand = 4).count() == 0)
  }
}
