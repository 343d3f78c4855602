package graft.io

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TestBus
import org.apache.spark.util.LongAccumulator

import graft.SparkSpec
import graft.multimodal.VideoFrameIndex
import graft.ops.{TextDedupIndex, VectorDedupIndex}
import graft.vector.VectorSearch

/** The standing-index probe side ([[Layout.probeSides]]): each of the
  * four probes evaluates its batch exactly once — the pruning keys and
  * the join side come from one collect — however many of the batch's
  * consumers the returned frames hold. Each batch row passes a
  * counting UDF on its way in; the count after every returned frame is
  * collected must equal the batch's row count.
  *
  * And its index side ([[Layout.readIndex]]): over layouts with more
  * directories per level than Spark's 32-path discovery threshold, no
  * probe and no compaction starts a listing job, and every read
  * returns the rows and schema of
  * `keepPartitions(spark.read.parquet(path), …)`. */
class ProbeSidesSpec extends SparkSpec {
  import spark.implicits._

  /** `df` with long column `c` routed through a UDF that counts each
    * evaluation. Nondeterministic, so the optimizer neither duplicates
    * nor folds it. */
  private def counted(df: DataFrame, c: String): (DataFrame, LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator(s"rows_$c")
    val tick = udf((x: Long) => { acc.add(1); x }).asNondeterministic()
    (df.withColumn(c, tick(col(c))), acc)
  }

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  test("text probe evaluates every batch row exactly once") {
    def sentence(seed: Int) =
      (0 until 10).map(j => s"w${(seed * 31 + j * 7) % 97}_$j").mkString(" ")
    val path = tmp("probe_once_text")
    TextDedupIndex.writeIndex(
      (0 until 40).map(i => (i.toLong, sentence(i))).toDF("doc_id", "text"),
      path)
    val (batch, acc) = counted(Seq((100L, sentence(3)), (101L, sentence(7)),
      (102L, sentence(50))).toDF("doc_id", "text"), "doc_id")
    val got = TextDedupIndex.probeCandidates(spark, path, batch)
      .as[(Long, Long)].collect().toSet
    assert(Set((3L, 100L), (7L, 101L)).subsetOf(got))
    assert(acc.value == 3L)
  }

  private def vectors(ids: Range): DataFrame =
    ids.map(i => (i.toLong, Seq.tabulate(4)(d => ((i * 7 + d * 3) % 11).toDouble)))
      .toDF("id", "vec")

  test("vector probe evaluates every batch row exactly once, at any nprobe") {
    val corpus = vectors(0 until 40)
    val cents = VectorDedupIndex.seedCentroids(corpus, "id", "vec", 4)
    val path = tmp("probe_once_vec")
    VectorDedupIndex.writeIndex(corpus, "id", "vec", cents, path)
    for (nprobe <- Seq(1, 2)) {
      val (batch, acc) = counted(vectors(100 until 105), "id")
      val got = VectorDedupIndex.probePairs(spark, path, cents, batch,
        "id", "vec", 0.99, nprobe = nprobe).collect()
      assert(got.nonEmpty)
      assert(acc.value == 5L, s"nprobe=$nprobe")
    }
  }

  test("video probe evaluates every batch row exactly once") {
    def frames(video: String, seed: Int) = (0 until 6).map { f =>
      def h(s: String) = scala.util.hashing.MurmurHash3.stringHash(s).toLong
      (video, f.toLong, (h(s"$seed/$f") << 32) | (h(s"$f/$seed") & 0xffffffffL))
    }
    val path = tmp("probe_once_video")
    VideoFrameIndex.writeIndex(
      (frames("c0", 0) ++ frames("c1", 1)).toDF("video", "frame_idx", "phash"),
      path)
    val (batch, acc) = counted(
      (frames("n0", 0) ++ frames("n1", 7)).toDF("video", "frame_idx", "phash"),
      "phash")
    val (pairs, dropped) = VideoFrameIndex.probePairs(spark, path, batch)
    assert(pairs.select("corpus_video", "new_video").as[(String, String)]
      .collect().toSet == Set(("c0", "n0")))
    dropped.collect()
    assert(acc.value == 12L)
  }

  test("LSH probe evaluates every query row exactly once") {
    val planes = Seq.tabulate(3)(b =>
      Seq.tabulate(4)(i => ((b * 5 + i * 3) % 7 - 3).toDouble))
    val path = tmp("probe_once_lsh") + "/idx"
    VectorSearch.writeLshIndexed(vectors(0 until 40), "id", "vec", planes,
      path)
    val (queries, acc) = counted(vectors(0 until 3), "id")
    val got = VectorSearch.searchLshIndexed(spark, path, queries, "id",
      "vec", planes, k = 2).collect()
    assert(got.length == 6)
    assert(acc.value == 3L)
  }

  // ------------------------------------------------ listing-free reads

  /** `body`'s result and the descriptions of the Spark jobs it started. */
  private def jobsOf[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val descs = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      TestBus.drain(sc)
      (a, descs.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** Jobs that Spark's parallel partition discovery started. */
  private def listings(descs: Seq[String]): Int =
    descs.count(_.startsWith("Listing leaf files and directories"))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The listing-free read of `keys` (every leaf when `None`) starts no
    * listing job and returns what the listed read returns. */
  private def sameAsListedRead(path: String, partCols: Seq[String],
      keys: Option[Seq[Seq[Any]]]): Unit = {
    val listed = spark.read.parquet(path)
    val want = keys.fold(listed)(Layout.keepPartitions(listed, partCols, _))
    val ((schema, rows), descs) = jobsOf {
      val df = Layout.readIndex(spark, path, keys.map((partCols, _)))
      (df.schema, sorted(df))
    }
    assert(listings(descs) == 0, descs)
    assert(schema == want.schema)
    assert(rows == sorted(want))
  }

  /** Some partition-key tuples the index holds, and one it does not. */
  private def someKeys(path: String, partCols: Seq[String],
      absent: Seq[Any]): Seq[Seq[Any]] =
    spark.read.parquet(path).select(partCols.map(col): _*).distinct()
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("/")).take(5) :+ absent

  private def sentence(seed: Int) =
    (0 until 10).map(j => s"w${(seed * 31 + j * 7) % 997}_$j").mkString(" ")

  /** A text index whose bands hold more than 32 `bgroup=` directories. */
  private def wideTextIndex(name: String): String = {
    val path = tmp(name)
    TextDedupIndex.writeIndex(
      (0 until 120).map(i => (i.toLong, sentence(i))).toDF("doc_id", "text"),
      path)
    path
  }

  private def spread(ids: Range, dim: Int): DataFrame = {
    val rnd = new scala.util.Random(7)
    ids.map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian()))).toDF("id", "vec")
  }

  test("probes over layouts above the discovery threshold start no listing job") {
    val text = wideTextIndex("wide_text")
    val corpus = spread(0 until 200, 4)
    val cents = VectorDedupIndex.seedCentroids(corpus, "id", "vec", 40)
    val vec = tmp("wide_vec")
    VectorDedupIndex.writeIndex(corpus, "id", "vec", cents, vec)
    def ph(i: Int) = scala.util.hashing.MurmurHash3.stringHash(s"f$i").toLong << 32 |
      (scala.util.hashing.MurmurHash3.stringHash(s"g$i") & 0xffffffffL)
    val video = tmp("wide_video")
    VideoFrameIndex.writeIndex((0 until 120).map(i => (s"c${i / 6}", i.toLong, ph(i)))
      .toDF("video", "frame_idx", "phash"), video)
    val rnd = new scala.util.Random(3)
    val planes = Seq.fill(8)(Seq.fill(8)(rnd.nextGaussian()))
    val lsh = tmp("wide_lsh") + "/idx"
    VectorSearch.writeLshIndexed(spread(0 until 300, 8), "id", "vec", planes, lsh)
    // the premise: the listed read of each layout starts a listing job
    for (p <- Seq(text, vec, video, lsh))
      assert(listings(jobsOf(spark.read.parquet(p).schema)._2) > 0, p)

    val (textPairs, t) = jobsOf(TextDedupIndex.probeCandidates(spark, text,
      Seq((500L, sentence(3)), (501L, sentence(900))).toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSet)
    assert(textPairs.contains((3L, 500L)))
    val (vecPairs, v) = jobsOf(VectorDedupIndex.probePairs(spark, vec, cents,
      corpus.filter(col("id") < 5).withColumn("id", col("id") + 1000),
      "id", "vec", 0.99, nprobe = 2).select("corpus_id", "new_id")
      .as[(Long, Long)].collect().toSet)
    assert((0L until 5L).forall(i => vecPairs.contains((i, i + 1000))))
    val (videoPairs, f) = jobsOf(VideoFrameIndex.probePairs(spark, video,
      (0 until 6).map(i => ("n0", i.toLong, ph(i))).toDF("video", "frame_idx", "phash"))
      ._1.select("corpus_video", "new_video").as[(String, String)].collect().toSet)
    assert(videoPairs == Set(("c0", "n0")))
    val (hits, l) = jobsOf(VectorSearch.searchLshIndexed(spark, lsh,
      spread(0 until 3, 8), "id", "vec", planes, k = 1).collect())
    assert(hits.length == 3)
    for ((descs, what) <- Seq((t, "text"), (v, "vector"), (f, "video"), (l, "LSH")))
      assert(listings(descs) == 0, s"$what: $descs")

    sameAsListedRead(text, Layout.BandCols,
      Some(someKeys(text, Layout.BandCols, Seq(0, 999))))
    sameAsListedRead(vec, Seq("ivf_cell"), Some(someKeys(vec, Seq("ivf_cell"), Seq(999L))))
    sameAsListedRead(video, Layout.BandCols,
      Some(someKeys(video, Layout.BandCols, Seq(3, 999))))
    sameAsListedRead(lsh, Seq("lsh_bucket"),
      Some(someKeys(lsh, Seq("lsh_bucket"), Seq(1L << 40))))
    for ((p, cols) <- Seq((text, Layout.BandCols), (vec, Seq("ivf_cell"))))
      sameAsListedRead(p, cols, None)
  }

  test("keys with no directory and an empty batch keep the non-empty schema") {
    val text = wideTextIndex("empty_keys_text")
    sameAsListedRead(text, Layout.BandCols, Some(Seq(Seq(0, 999), Seq(7, 1))))
    sameAsListedRead(text, Layout.BandCols, Some(Nil))
    val (pairs, descs) = jobsOf(TextDedupIndex.probeCandidates(spark, text,
      Seq((1L, "x")).toDF("doc_id", "text").filter(lit(false))))
    assert(pairs.schema.fieldNames.toSeq == Seq("corpus_id", "new_id"))
    assert(pairs.collect().isEmpty)
    assert(listings(descs) == 0)
  }

  test("an admit between two probes is seen by the second probe") {
    val text = wideTextIndex("admit_between")
    val batch = Seq((700L, sentence(500))).toDF("doc_id", "text")
    def probe() = TextDedupIndex.probeCandidates(spark, text, batch)
      .as[(Long, Long)].collect().toSet
    assert(!probe().contains((600L, 700L)))
    TextDedupIndex.admitBatch(Seq((600L, sentence(500))).toDF("doc_id", "text"), text)
    assert(probe().contains((600L, 700L)))
  }

  test("stray _temporary trees, .crc files, _SUCCESS and the sidecar are ignored") {
    val text = wideTextIndex("strays")
    val root = Paths.get(text)
    val leaf = Files.list(root.resolve("band=0")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("bgroup=")).toSeq.minBy(_.toString)
    val data = Files.list(leaf).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.head
    assert(Files.exists(root.resolve(Layout.MetaFile)))
    assert(Files.exists(root.resolve("_SUCCESS")))
    assert(Files.list(leaf).iterator().asScala.exists(_.toString.endsWith(".crc")))
    val before = spark.read.parquet(text).count()
    for (stray <- Seq(
        root.resolve("_temporary/0/_temporary/attempt_0/band=0")
          .resolve(leaf.getFileName).resolve("part-stray.parquet"),
        leaf.resolve("_temporary/0/part-stray.parquet"),
        leaf.resolve(".part-stray.parquet"))) {
      Files.createDirectories(stray.getParent)
      Files.copy(data, stray, StandardCopyOption.REPLACE_EXISTING)
    }
    Files.write(leaf.resolve("_SUCCESS"), Array.emptyByteArray)
    val band0 = Seq(Seq[Any](0, leaf.getFileName.toString.stripPrefix("bgroup=").toInt))
    assert(Layout.readIndex(spark, text).count() == before)
    assert(Layout.readIndex(spark, text, Some((Layout.BandCols, band0))).count() ==
      spark.read.parquet(leaf.toString).count())
    sameAsListedRead(text, Layout.BandCols, Some(band0))
    sameAsListedRead(text, Layout.BandCols, None)
  }

  test("compaction starts no listing job") {
    val text = wideTextIndex("compact_src")
    val out = tmp("compact_out") + "/idx"
    val (_, descs) = jobsOf(TextDedupIndex.compactIndex(spark, text, out))
    assert(listings(descs) == 0, descs)
    assert(sorted(spark.read.parquet(out)) == sorted(spark.read.parquet(text)))
  }
}
