package graft.io

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.multimodal.VideoFrameIndex
import graft.ops.{TextDedupIndex, VectorDedupIndex}
import graft.vector.{ProductQuantizer, VectorSearch}

class LayoutSpec extends SparkSpec with AdaptiveSparkPlanHelper
    with Eventually {

  private lazy val events = graft.Tables(spark,
    "/root/testdata/sf0.001", "events")

  test("day-partitioned write prunes partitions on day filters") {
    val dir = Files.createTempDirectory("graft_layout").toString + "/ev"
    Layout.writeDayPartitioned(events, "ts", dir)
    val back = Layout.readDayPartitioned(spark, dir)
    // partition-column type inference may read p_day back as DATE
    val day = back.select(min("p_day")).head().get(0).toString
    val q = back.filter(col("p_day") === day)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), p)
    // the filter must reach the partition level, not just the data scan
    assert("""PartitionFilters: \[[^\]]*p_day""".r.findFirstIn(p).isDefined,
      "day filter did not become a partition filter: " + p)
    // row parity: partition column adds, rows do not change
    assert(back.count() == events.count())
    assert(q.count() ==
      events.filter(date_format(col("ts"), "yyyy-MM-dd") === day).count())
  }

  test("compaction bounds file count and preserves rows") {
    val base = Files.createTempDirectory("graft_compact").toString
    val frag = base + "/frag"
    val compacted = base + "/compact"
    // simulate incremental ingest: 40 tiny appends
    val ev = events.limit(2000).cache()
    (0 until 40).foreach { i =>
      ev.filter(col("event_id") % 40 === i)
        .coalesce(1).write.mode("append").parquet(frag)
    }
    val fragFiles = new java.io.File(frag).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(fragFiles >= 40, s"expected fragmented input, got $fragFiles")
    Layout.compact(spark, frag, compacted, Seq("user_id", "ts"))
    val outFiles = new java.io.File(compacted).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(outFiles < fragFiles / 4,
      s"compaction left $outFiles files (from $fragFiles)")
    val a = spark.read.parquet(frag)
    val b = spark.read.parquet(compacted)
    assert(a.count() == b.count())
    assert(a.join(b, a.columns.toSeq, "left_anti").count() == 0)

    // glob input paths size correctly too (getContentSummary threw on
    // them; sizing now goes through globStatus over data files only)
    val globOut = base + "/compact_glob"
    Layout.compact(spark, frag + "/part-*.parquet", globOut,
      Seq("user_id", "ts"))
    assert(spark.read.parquet(globOut).count() == a.count())

    // a leftover _temporary tree (crashed earlier write) must not
    // inflate the sizing: with a huge junk file hidden inside it, the
    // compaction must still produce the same small file count
    val junkDir = new java.io.File(frag, "_temporary/0")
    junkDir.mkdirs()
    val junk = new java.io.File(junkDir, "junk.bin")
    val out = new java.io.FileOutputStream(junk)
    out.write(new Array[Byte](8 << 20)); out.close()
    val hiddenOut = base + "/compact_hidden"
    Layout.compact(spark, frag, hiddenOut, Seq("user_id", "ts"),
      targetFileBytes = 1 << 20)
    val hiddenFiles = new java.io.File(hiddenOut).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val cleanFiles = {
      junk.delete()
      val cleanOut = base + "/compact_clean"
      Layout.compact(spark, frag, cleanOut, Seq("user_id", "ts"),
        targetFileBytes = 1 << 20)
      new java.io.File(cleanOut).listFiles()
        .count(_.getName.endsWith(".parquet"))
    }
    assert(hiddenFiles == cleanFiles,
      s"hidden _temporary junk changed sizing: $hiddenFiles vs $cleanFiles")
  }

  // ------------------------------------------- standing-index core

  // 4-partition inputs without an exchange of their own, so the only
  // user shuffle in a build's plan is the layout's clustering
  private def docs(ids: Range): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ids.map(i => (i.toLong,
      (0 until 12).map(j => s"w${(i * 31 + j * 7) % 97}_$j").mkString(" "))), 4)
      .toDF("doc_id", "text")
  }
  private def frames(videos: Range): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(for (v <- videos; f <- 0 until 8)
      yield (s"v$v", f.toLong, (v * 1009L + f * 131L) * 2654435761L), 4)
      .toDF("video", "frame_idx", "phash")
  }
  private def vecs(ids: Range): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ids.map(i =>
      (i.toLong, Seq.tabulate(8)(d => ((i * 7 + d * 3) % 23 - 11).toDouble))), 4)
      .toDF("id", "vec")
  }
  private lazy val cents = VectorDedupIndex.seedCentroids(vecs(0 until 200),
    "id", "vec", 6)
  private val planes = Seq.tabulate(5)(b =>
    Seq.tabulate(8)(i => ((b * 13 + i * 7) % 11 - 5).toDouble))
  private lazy val pq = ProductQuantizer.train(vecs(0 until 200), "id",
    "vec", m = 2, ncent = 4)

  /** One standing-index layout: its partition columns, a build from
    * a 4-partition input, and (where the layout has one) an admit. */
  private case class Idx(name: String, partCols: Seq[String],
      build: String => Unit, admit: Option[String => Unit])
  private lazy val layouts = Seq(
    Idx("text MinHash bands", Seq("band", "bgroup"),
      TextDedupIndex.writeIndex(docs(0 until 200), _),
      Some(TextDedupIndex.admitBatch(docs(200 until 260), _))),
    Idx("video pHash bands", Seq("band", "bgroup"),
      VideoFrameIndex.writeIndex(frames(0 until 40), _),
      Some(VideoFrameIndex.admitBatch(frames(40 until 50), _))),
    Idx("IVF cells", Seq("ivf_cell"),
      VectorDedupIndex.writeIndex(vecs(0 until 200), "id", "vec", cents, _),
      Some(VectorDedupIndex.admitBatch(vecs(200 until 260), cents, _,
        "id", "vec"))),
    Idx("IVFPQ cells", Seq("cell"),
      ProductQuantizer.writeIvfPq(VectorSearch.buildIvfWith(
        vecs(0 until 200), "id", "vec", cents), "vec", pq, _),
      None),
    Idx("LSH buckets", Seq("lsh_bucket"),
      VectorSearch.writeLshIndexed(vecs(0 until 200), "id", "vec", planes, _),
      Some(VectorSearch.admitLshIndexed(vecs(200 until 260), "id", "vec",
        planes, _))))

  private def withoutCoalescing[A](f: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, old)
  }

  /** Data files per leaf partition directory under `root`. */
  private def filesPerDir(root: String): Map[String, Int] = {
    def leaves(d: File): Seq[File] = {
      val sub = d.listFiles().filter(_.isDirectory)
      if (sub.isEmpty) Seq(d) else sub.toSeq.flatMap(leaves)
    }
    leaves(new File(root)).map(d => d.getPath ->
      d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
  }

  /** Runs `f` — which must run exactly one write — and returns the
    * write's executed plan. */
  private def writePlan(f: => Unit): SparkPlan = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec])
            .isDefined) seen.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      eventually(timeout(30.seconds)) { assert(seen.size == 1) }
      seen.peek()
    } finally spark.listenerManager.unregister(listener)
  }

  /** The key columns of every user-requested (non-planner) shuffle. */
  private def userShuffles(plan: SparkPlan): Seq[Seq[String]] =
    collect(plan) {
      case e: ShuffleExchangeExec if e.shuffleOrigin != ENSURE_REQUIREMENTS =>
        e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
          case p => Seq(p.toString)
        }
    }

  test("every standing-index build leaves exactly one data file per " +
      "partition directory (4-partition input, no AQE coalescing)") {
    val bad = withoutCoalescing {
      layouts.flatMap { l =>
        val dir = Files.createTempDirectory("graft_idx").toString + "/idx"
        l.build(dir)
        val per = filesPerDir(dir).values
        Option.unless(per.size > 1 && per.forall(_ == 1))(
          s"${l.name}: ${per.size} directories, up to ${per.max} files")
      }
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("every standing-index build and admit runs exactly one hash " +
      "exchange, on its partition columns") {
    val bad = layouts.flatMap { l =>
      val dir = Files.createTempDirectory("graft_idx").toString + "/idx"
      (Seq("build" -> userShuffles(writePlan(l.build(dir)))) ++
        l.admit.map(a => "admit" -> userShuffles(writePlan(a(dir)))))
        .collect { case (op, got) if got != Seq(l.partCols) =>
          s"${l.name} $op: $got" }
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("build → admit → compact keeps the parameter sidecar") {
    val text = Files.createTempDirectory("graft_meta").toString
    TextDedupIndex.writeIndex(docs(0 until 200), text + "/idx",
      k = 12, rowsPerBand = 3)
    TextDedupIndex.admitBatch(docs(200 until 260), text + "/idx",
      k = 12, rowsPerBand = 3)
    TextDedupIndex.compactIndex(spark, text + "/idx", text + "/cmp")
    assert(Layout.readIndexMeta(spark, text + "/cmp") ===
      Some(Map("k" -> 12L, "rowsPerBand" -> 3L, "groupMod" -> 64L)))
    val video = Files.createTempDirectory("graft_meta").toString
    VideoFrameIndex.writeIndex(frames(0 until 40), video + "/idx", bands = 8)
    VideoFrameIndex.admitBatch(frames(40 until 50), video + "/idx", bands = 8)
    VideoFrameIndex.compactIndex(spark, video + "/idx", video + "/cmp")
    assert(Layout.readIndexMeta(spark, video + "/cmp") ===
      Some(Map("bands" -> 8L, "groupMod" -> 64L)))
    assert(filesPerDir(video + "/cmp").values.forall(_ == 1))
    // a layout without key parameters writes no sidecar
    val lsh = Files.createTempDirectory("graft_meta").toString + "/idx"
    VectorSearch.writeLshIndexed(vecs(0 until 200), "id", "vec", planes, lsh)
    assert(Layout.readIndexMeta(spark, lsh).isEmpty)
  }
}
