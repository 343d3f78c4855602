package graft.queries

import org.apache.spark.sql.functions._

/** Phase-level profile of the m03_video_admit_probe lifecycle arm —
  * r18 measurement harness (guide §1: isolate the expensive query,
  * attribute time operator by operator before changing anything).
  * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.queries.M03Profile"
  */
object M03Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = graft.GraftSession.builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    import graft.io.Layout
    import graft.multimodal.VideoFrameIndex

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[m03prof] $label%-12s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    (0 until 3).foreach { it =>
      System.err.println(s"[m03prof] --- iteration $it ---")
      val frames = MultimodalSuite.frameHashes(s, dir)
        .withColumn("vnum", substring(col("video"), 2, 2).cast("int"))
      val idx = java.nio.file.Files.createTempDirectory("m03p_idx").toString
      val slice0 = frames.filter(col("vnum") % 3 === 0).drop("vnum")
      t("count")(System.err.println("  rows=" + slice0.count()))
      t("write-noop")(Layout.clusterForPartitionedWrite(
          Layout.withBandGroup(VideoFrameIndex.bandRows(slice0)),
          Layout.BandCols)
        .write.format("noop").mode("overwrite").save())
      t("write")(VideoFrameIndex.writeIndex(slice0, idx))
      t("admit1")(VideoFrameIndex.admitBatch(
        frames.filter(col("vnum") % 3 === 1).drop("vnum"), idx))
      t("admit2")(VideoFrameIndex.admitBatch(
        frames.filter(col("vnum") % 3 === 2).drop("vnum"), idx))
      val cmp = java.nio.file.Files.createTempDirectory("m03p_cmp").toString
      t("compact")(VideoFrameIndex.compactIndex(s, idx, cmp))
      t("probe")(VideoFrameIndex.probePairs(s, cmp,
          frames.filter(col("vnum") % 7 === 0).drop("vnum"),
          hammingMax = 6, bands = 4, bucketCap = 10000)
        ._1.write.format("noop").mode("overwrite").save())
    }
    s.stop()
  }
}
