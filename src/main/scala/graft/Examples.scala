package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.streaming.EventStreams

/** Runnable tour of the non-query library surfaces: a Structured
  * Streaming pipeline over the events fixture (file source → watermarked
  * window agg + stateful sessionization → memory sink) and the
  * multimodal decode→featurize path over generated media files.
  * `sbt "runMain graft.Examples"` */
object Examples {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // --- streaming ---
    val srcDir = Files.createTempDirectory("graft_ex_events").toString
    Tables(spark, "/root/testdata/sf0.001", "events")
      .write.mode("append").parquet(srcDir)
    val stream = EventStreams.fromFiles(spark, srcDir)
    val q1 = EventStreams.windowedAgg(stream)
      .writeStream.format("memory").queryName("ex_windows")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val q2 = EventStreams.sessionize(stream).toDF()
      .writeStream.format("memory").queryName("ex_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q1.awaitTermination(); q2.awaitTermination()
    println(s"streaming: windows=${spark.table("ex_windows").count()} " +
      s"sessions=${spark.table("ex_sessions").count()}")
    spark.table("ex_windows").orderBy("win_start", "event_type").show(5)

    // --- multimodal (real javax.imageio decode + corrupt quarantine) ---
    val mediaDir = Files.createTempDirectory("graft_ex_media").toFile
    def png(name: String, w: Int, h: Int): Unit = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (x * 37 + y * 91) & 0xffffff)
      javax.imageio.ImageIO.write(img, "png",
        new java.io.File(mediaDir, name))
    }
    png("x.png", 12, 8); png("y.png", 9, 9)
    Files.write(new java.io.File(mediaDir, "broken.png").toPath,
      Array.tabulate[Byte](64)(i => (i * 11).toByte)) // corrupt on purpose
    val media = Multimodal.readMediaDir(spark, mediaDir.getAbsolutePath)
    val (decoded, rejects) = Multimodal.decodeImagesSplit(media)
    val feats = Multimodal.featurize(decoded)
    println(s"multimodal: images=${feats.count()} " +
      s"quarantined=${rejects.count()}")
    feats.select(col("path"), col("width"), col("height"),
      slice(col("embedding"), 1, 4).as("emb_head")).show(false)

    // --- sketches + declarative kNN ---
    import graft.functions.{HyperLogLog, TextOps}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.groupBy(col("lang"))
      .agg(countDistinct(col("text")).as("exact"),
        HyperLogLog.hll(TextOps.md5Long32(col("text"))).as("hll_est"))
      .orderBy("lang").show()
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val q = emb.filter(col("vec_id") === 0)
      .select("vec").collect().head.getSeq[Double](0).toIndexedSeq
    val knn = emb.filter(col("vec_id") =!= 0)
      .orderBy(call_function("graft_l2_distance", col("vec"), typedLit(q)),
        col("vec_id"))
      .limit(3)
    knn.select("vec_id").show()
    val knnPlan = knn.queryExecution.executedPlan.toString
    println("knn plan: " + (if (knnPlan.contains("KnnTopKGlobal") &&
      !knnPlan.contains("KnnTopKLocal") &&
      !knnPlan.contains("Exchange SinglePartition")) "KnnTopK rewrite (one exec)"
      else "stock"))

    // --- training-data prep (round 5): pack, dedupe, decontaminate ---
    val withTok = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val packed = graft.ops.Packing.packBins(withTok, "doc_id", "n_tokens",
      maxLen = 512L)
    println(s"packing: ${packed.agg(max("bin")).head().getLong(0) + 1} " +
      s"bins of 512 tokens for ${withTok.count()} docs")
    val pairs = SparkEntry.queries("d04_jaccard_verify")(
      spark, "/root/testdata/sf0.001").select("a_id", "b_id")
    val deduped = graft.ops.NearDedup.dedup(docs, "doc_id", pairs)
    println(s"near-dedup: ${docs.count()} docs -> ${deduped.count()} " +
      "after collapsing verified near-dup clusters")

    // --- LSH ANN (second index type beside IVF) ---
    val planes = Seq.tabulate(8)(b =>
      Seq.tabulate(16)(i => ((b * 31 + i * 17) % 19 - 9).toDouble))
    val lsh = graft.vector.VectorSearch.searchLsh(emb, "vec_id", "vec",
      emb.filter(col("vec_id") < 2), "vec_id", "vec", planes, k = 3)
    println(s"lsh ann: ${lsh.count()} results across 2 queries")

    // --- audio modality (real WAV decode path) ---
    println("audio: see graft.multimodal.Audio — WAV/PCM16 decode, " +
      "quarantine, frame RMS/ZCR (AudioSpec drives it end-to-end)")

    // --- as-of join (round 10): nearest order activity per event ---
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "ts")
    val sig = Tables(spark, "/root/testdata/sf0.001", "events")
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("m_ts"),
        col("event_id").as("m_event_id"))
      .groupBy("user_id", "m_ts").agg(max("m_event_id").as("m_event_id"))
    val asof = graft.ops.Ops.asofJoin(ev, sig, "user_id", "user_id",
      "ts", "m_ts", Seq("m_event_id", "m_ts"),
      direction = graft.ops.Ops.AsofNearest)
    println(s"as-of nearest: ${asof.filter(col("m_event_id").isNotNull)
      .count()} of ${asof.count()} events matched a signup")

    // --- product quantization (round 10): 16x-smaller ANN index ---
    val pq = graft.vector.ProductQuantizer.train(
      Tables(spark, "/root/testdata/sf0.001", "embeddings"),
      "vec_id", "embedding", m = 16, ncent = 32, iters = 5)
    val encoded = graft.vector.ProductQuantizer.encode(
      emb.withColumnRenamed("vec", "v"), "v", pq)
    val ann = graft.vector.ProductQuantizer.search(
      encoded.select(col("vec_id").as("id"), col("pq_codes")),
      "id", "pq_codes", emb.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("vec").as("qvec")),
      "query_id", "qvec", pq, k = 3)
    println(s"pq adc: ${ann.count()} results; codes are ${pq.m} bytes " +
      s"per vector vs ${pq.dim * 4} raw")

    // --- HTML extraction (round 11): the crawl's pure parse half ---
    import graft.etl.ProductExtract
    val site = ProductExtract.SiteConfig("demo", "https://shop.example.com/",
      ProductExtract.DetailSelectors(
        name = Some(".entry-title"), code = None,
        description = Seq(".short-desc"),
        unitPrice = Some("p.price bdi"),
        imageSelector = Some(".gallery"), detailImage = Some(".slide"),
        originalCategory = Some(".posted_in"), categoryTag = Some("a")))
    import spark.implicits._
    val pages = Seq(
      ("https://shop.example.com/cakes/tiramisu/",
        """<h1 class="entry-title">Tiramisu</h1>
          |<p class="price"><bdi>85,000 &#8363;</bdi></p>
          |<div class="gallery"><div class="slide">
          |<img src="//cdn.example.com/tiramisu.jpg" alt="tiramisu.jpg">
          |</div></div>
          |<span class="posted_in"><a>Bánh ngọt</a></span>""".stripMargin),
      ("https://shop.example.com/broken", "<p>not a product page</p>"))
      .toDF("url", "html")
    val (prods, rejected) = ProductExtract.productsFromHtmlSplit(pages, site)
    println(s"html extract: ${prods.count()} products, " +
      s"${rejected.count()} quarantined")
    prods.select("product_name", "product_unit_price", "category_name",
      "product_image").show(false)

    // --- degraded external inference (round 11, oracled as v13) ---
    println("external inference: LlmFill + ExternalEmbedder degraded " +
      "paths run end-to-end under the v13 oracle (see VectorSuite)")

    // --- persisted IVFPQ (round 11): pruned directories of byte codes ---
    val ivf = graft.vector.VectorSearch.buildIvf(
      emb.select(col("vec_id").as("id"), col("vec")), "id", "vec", 4)
    val ivfpqDir = Files.createTempDirectory("graft_ex_ivfpq").toString
    graft.vector.ProductQuantizer.writeIvfPq(ivf, "vec", pq, ivfpqDir)
    val hits = graft.vector.ProductQuantizer.searchIvfPq(ivf,
      graft.vector.ProductQuantizer.readIvfPq(spark, ivfpqDir),
      emb.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("vec").as("qvec")),
      "query_id", "qvec", pq, k = 3, nprobe = 2)
    val pruned = hits.queryExecution.executedPlan.toString
      .contains("PartitionFilters")
    println(s"ivfpq: ${hits.count()} hits; partition-pruned=$pruned " +
      s"(probes read nprobe directories of ${pq.m}-byte codes)")

    // --- BPE tokenizer induction (round 10) ---
    val corpus = Tables(spark, "/root/testdata/sf0.001", "documents")
    val bpe = graft.ops.BpeTrainer.train(corpus, "text", nMerges = 50)
    val toks = corpus.select(explode(bpe.encodeCol(col("text"))).as("t"))
    println(s"bpe: 50 merges learned; corpus tokenizes to " +
      s"${toks.count()} subwords (first merges: " +
      s"${bpe.merges.take(5).mkString(" ")})")

    // --- the composed curation lifecycle (round 11) ---
    val evalSet = corpus.filter(col("doc_id") % 23 === 0)
    val curated = graft.etl.CorpusCuration.curate(
      corpus.filter(col("doc_id") % 23 =!= 0), "doc_id", "text",
      evalDocs = Some(evalSet))
    println("curation funnel (docs, tokens per stage):")
    curated.report.orderBy("stage").show(false)
    println(s"curated corpus: ${curated.corpus.count()} docs in " +
      s"8 token-balanced shards")
    curated.release()

    // --- fit-once/score-many DSIR + trained k-means (round 11) ---
    val model = graft.ops.Dsir.fit(corpus, col("lang") === "en")
    val scored = graft.ops.Dsir.score(model, corpus, Seq("doc_id"))
    println(s"dsir: ${scored.filter(col("selected")).count()} of " +
      s"${scored.count()} docs selected as target-like")
    val cents = graft.vector.Kmeans.fit(
      emb.select(col("vec_id").as("id"), col("vec")), "id", "vec",
      k = 4, iters = 3)
    println(s"kmeans: 4 trained cells, first centroid dim0 = " +
      f"${cents.head._2.head}%.4f (deterministic under any partitioning)")

    // --- the nightly incremental surfaces (round 13) ---
    // 1. persisted vector-dedup index: build once, probe tonight's
    //    batch against only its cell directories
    val embRaw = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val idxPath = Files.createTempDirectory("graft_ex_vdi").toString
    val standing = embRaw.filter(col("vec_id") % 11 =!= 0)
    val tonight = embRaw.filter(col("vec_id") % 11 === 0)
    val seeds = graft.ops.VectorDedupIndex
      .seedCentroids(standing, "vec_id", "embedding", 8)
    graft.ops.VectorDedupIndex
      .writeIndex(standing, "vec_id", "embedding", seeds, idxPath)
    val probed = graft.ops.VectorDedupIndex.probePairs(spark, idxPath,
      seeds, tonight, "vec_id", "embedding", tau = 0.3)
    println(s"vector dedup index: tonight's ${tonight.count()}-vector " +
      s"batch collides with ${probed.count()} corpus vectors " +
      "(scan read only the batch's cells)")

    // 2. semantic decontamination: eval-vs-corpus cosine overlap,
    //    lossless cell pruning (d17's library form)
    val flagged = graft.ops.SemanticDecontam.flagged(
      embRaw.filter(col("vec_id") % 23 =!= 0), "vec_id", "embedding",
      embRaw.filter(col("vec_id") % 23 === 0), "vec_id", "embedding",
      seeds, tau = 0.3)
    println(s"semantic decontam: ${flagged.count()} corpus-eval pairs " +
      "above tau (blocking provably lossless - brute-force-equal)")

    // 3. incremental curation: the whole funnel on a slice, zero
    //    corpus scans
    val idx0 = graft.etl.CorpusCuration.fitIndexes(
      corpus.filter(col("doc_id") % 31 =!= 0 && col("doc_id") % 23 =!= 0),
      curated.corpus.select("doc_id", "text"), "doc_id", "text",
      evalDocs = Some(evalSet))
    val nightSlice = corpus.filter(
      col("doc_id") % 31 === 0 && col("doc_id") % 23 =!= 0)
    val inc = graft.etl.CorpusCuration.curateIncremental(
      nightSlice, idx0, "doc_id", "text")
    println(s"incremental curation: ${nightSlice.count()}-doc slice -> " +
      s"${inc.curated.count()} accepted against standing indexes")

    // --- the nightly loop's other half (round 14) ---
    // 1. admit tonight's accepted batch into the standing vector
    //    index (same frozen centroids — probe-consistency guaranteed),
    //    then read the maintenance dashboard and compact
    graft.ops.VectorDedupIndex.admitBatch(
      tonight, seeds, idxPath, "vec_id", "embedding")
    val occ = graft.ops.VectorDedupIndex.cellOccupancy(spark, idxPath)
      .agg(max("n_files"), sum("n_rows")).head()
    println(s"admit: index now ${occ.getLong(1)} vectors, " +
      s"max ${occ.getLong(0)} files/cell")
    val compactedIdx = Files.createTempDirectory("graft_ex_vdic").toString
    graft.ops.VectorDedupIndex.compactIndex(spark, idxPath, compactedIdx)
    println(s"compact: back to one sorted file per cell at $compactedIdx")

    // 2. multiprobe: tomorrow's batch probes its 2 nearest cells —
    //    catches near-dups straddling a cell boundary
    val probed2 = graft.ops.VectorDedupIndex.probePairs(spark,
      compactedIdx, seeds, tonight, "vec_id", "embedding",
      tau = 0.3, nprobe = 2)
    println(s"multiprobe nprobe=2: ${probed2.count()} pairs " +
      s"(nprobe=1 saw ${probed.count()} against the pre-admit index)")

    // 3. refresh the standing curation dictionary once the corpus has
    //    grown enough to move the top-K — future slices then strip
    //    exactly as the batch funnel would
    val accumulated = corpus.filter(col("doc_id") % 23 =!= 0)
    val idxR = graft.etl.CorpusCuration.refreshIndexes(
      accumulated, inc.updated, "doc_id", "text")
    println(s"refreshIndexes: dictionary re-fit over " +
      s"${accumulated.count()} accumulated docs " +
      s"(${idxR.boilerplate.count()} segments; hash state untouched)")

    //    ...and round 15 makes the WHEN executable too: maybeRefresh
    //    measures the standing dictionary's coverage on tonight's
    //    slice (+ doc-length TVD) and re-fits only on a trip — the
    //    curation twin of VectorDedupIndex.maybeRefit
    val nightly = corpus.filter(col("doc_id") % 23 === 0)
    val mr = graft.etl.CorpusCuration.maybeRefresh(
      accumulated, nightly, inc.updated, "doc_id", "text")
    println(f"maybeRefresh: refreshed=${mr.refreshed} " +
      f"(coverage ${mr.stripRateCur}%.3f vs ${mr.stripRateRef}%.3f, " +
      s"lengthTvd=${mr.lengthTvd.map(t => f"$t%.3f").getOrElse("n/a")})")

    // 4. drift detection — the number that DECIDES when to refresh:
    //    TVD between the standing corpus's signal and tonight's slice
    val evs = Tables(spark, "/root/testdata/sf0.001", "events")
    val drift = graft.ops.Drift.tvd(
        evs.filter(col("event_id") % 2 === 0),
        evs.filter(col("event_id") % 2 === 1),
        "value", bucketWidth = 8.0).head()
    println(f"drift: tvd=${drift.getAs[Double]("tvd")}%.4f over " +
      s"${drift.getAs[Long]("n_buckets")} buckets — refresh when it " +
      "crosses your re-fit threshold (0.1-0.25 band)")

    // --- container media (round 15): the ffmpeg transcoder seam ---
    // production: Multimodal.transcodeAudioSplit(files,
    //   FfmpegCliTranscoder()) / containerFrames / probeMedia — the
    // codec session opens once per executor JVM (TranscoderCache) and
    // everything downstream is the already-tested WAV/image path.
    // This sandbox has no ffmpeg binary, so the tour just points at
    // the specs: TranscoderSpec (deterministic fake, runs everywhere)
    // and FfmpegLiveSpec (live binary, env-gated).
    println("container media: mp3/flac/mp4 -> Multimodal." +
      "transcodeAudioSplit/containerFrames/probeMedia via the " +
      "Transcoder seam (FfmpegCliTranscoder in production; " +
      "TranscoderSpec drives the plumbing end-to-end)")

    spark.stop()
  }
}
