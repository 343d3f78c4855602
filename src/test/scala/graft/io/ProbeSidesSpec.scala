package graft.io

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
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
  * collected must equal the batch's row count. */
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
}
