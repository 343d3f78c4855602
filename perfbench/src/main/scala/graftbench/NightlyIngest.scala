package graftbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.embed.{EmbeddingPipeline, HashingEmbedder}
import graft.etl.CorpusCuration
import graft.ops.{TextDedupIndex, VectorDedupIndex}

import NightlyIngest.Night

/** `nightly_ingest`: standing dedup indexes that each night's slice is
  * curated against, probed against, admitted into and — on the last
  * night of a repetition — compacted. Many small jobs bound by planning
  * and scheduling, partitioned writes beside partition-pruned reads on
  * one io layout. */
object NightlyIngest {
  final case class Night(wallMs: Double, compact: Boolean, sliceDocs: Int,
      curated: Int, candidates: Int, pairs: Int, admitted: Int,
      traced: Boolean)
}

final class NightlyIngest extends Workload {
  private val NStanding = 1200
  private val NightsPerRep = 3
  private val SliceSize = 20
  private val Dim = 64
  private val Cells = 16
  private val Tau = 0.9
  private var standing: Gen.Corpus = _
  private var slices: IndexedSeq[IndexedSeq[Gen.Doc]] = _
  private var planted = (0, 0)

  val kind = "night"

  def generate(seed: Long): Unit = {
    standing = Gen.corpus(seed, NStanding)
    var nExact, nNear = 0
    slices = (0 until NightsPerRep).map { n =>
      val (s, e, nn) = Gen.slice(seed, n, standing.docs, SliceSize,
        idBase = NStanding.toLong + n.toLong * SliceSize)
      nExact += e; nNear += nn
      s
    }
    planted = (nExact, nNear)
  }

  private def embed(df: DataFrame): DataFrame =
    EmbeddingPipeline.embedDocuments(
      df.select(col("id").cast("string").as("product_code"), col("text")),
      HashingEmbedder(Dim))
      .select(col("product_code").cast("long").as("id"), col("embedding").as("vec"))

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  private def dataFiles(root: File): Seq[File] =
    if (!root.exists()) Nil
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.startsWith("part-")).toSeq

  /** (files, max files in one partition directory, leaf dirs, bytes). */
  private def layout(root: String): (Int, Int, Int, Long) = {
    val fs = dataFiles(new File(root))
    val byDir = fs.groupBy(_.getParentFile)
    (fs.size, if (byDir.isEmpty) 0 else byDir.values.map(_.size).max,
      byDir.size, fs.map(_.length).sum)
  }

  def run(ctx: Ctx, ph: Phases): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    standing.docs.map(d => (d.id, d.text)).toDF("id", "text")
      .repartition(ctx.cores).write.parquet(ctx.path("standing"))
    standing.eval.map(d => (d.id, d.text)).toDF("id", "text")
      .coalesce(1).write.parquet(ctx.path("eval"))
    // one partitioned write; a night reads its own partition directory
    slices.zipWithIndex.flatMap { case (s, n) => s.map(d => (d.id, d.text, n)) }
      .toDF("id", "text", "night").repartition(col("night"))
      .write.partitionBy("night").parquet(ctx.path("slices"))

    // ---- set-up: curate the standing corpus, fit and write the indexes
    var idx: CorpusCuration.Indexes = null
    var centroids: Seq[(Long, Seq[Double])] = Nil
    var standingTextBytes = 0L
    var standingDocs = 0L
    var curateMs = 0.0
    var curation: CurateChecks = null
    def buildStanding(): Unit = Trace.op(ctx.sc, "setup") {
      val base = ctx.path("base")
      val raw = spark.read.parquet(ctx.path("standing"))
      val eval = spark.read.parquet(ctx.path("eval"))
      val t0 = System.nanoTime()
      val (rows, report) = Trace.span("etl.curate") {
        val res = CorpusCuration.curate(raw, "id", "text", evalDocs = Some(eval))
        val rows = res.corpus.select("id", "text", "shard", "n_tokens").collect()
        val report = res.report.orderBy("stage").collect()
        res.release()
        ctx.sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        (rows, report)
      }
      curateMs = (System.nanoTime() - t0) / 1e6
      curation = CurateChecks(rows, report, standing.dupOf.keySet)
      val curated = Trace.span("io.write_standing") {
        rows.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("id", "text")
          .repartition(ctx.cores).write.parquet(s"$base/curated")
        spark.read.parquet(s"$base/curated")
      }
      idx = Trace.span("etl.fit_indexes") {
        val fit = CorpusCuration.fitIndexes(raw, curated, "id", "text",
          evalDocs = Some(eval))
        val cached = fit.copy(boilerplate = fit.boilerplate.persist(),
          evalDict = fit.evalDict.map(_.persist()),
          seenHashes = fit.seenHashes.persist())
        cached.boilerplate.count(); cached.evalDict.foreach(_.count())
        cached.seenHashes.count()
        cached
      }
      Trace.span("ops.write_text_index") {
        TextDedupIndex.writeIndex(curated, s"$base/text", "id", "text")
      }
      val vecs = Trace.span("embed.embed_standing") {
        val v = embed(curated).persist()
        v.count()
        v
      }
      Trace.span("ops.write_vector_index") {
        centroids = VectorDedupIndex.seedCentroids(vecs, "id", "vec", Cells)
        VectorDedupIndex.writeIndex(vecs, "id", "vec", centroids, s"$base/vec")
      }
      vecs.unpersist(blocking = true)
      standingDocs = rows.length
      standingTextBytes = rows.map(_.getString(1).getBytes("UTF-8").length.toLong).sum
    }

    val nights = mutable.ArrayBuffer.empty[Night]
    val caches = mutable.ArrayBuffer.empty[Double]
    val problems = mutable.ArrayBuffer.empty[String]
    val layouts = mutable.ArrayBuffer.empty[(Int, Int)] // (files, max per dir)
    val dirTotals = mutable.HashMap.empty[String, Int]   // index root -> leaf dirs
    var finalState: Option[(String, String, Seq[(Long, String)])] = None // (text, vec, admitted)
    var rep = 0
    var bytesPerInput = Double.NaN

    /** Replay the first `nNights` nights from fresh copies of the
      * standing indexes (copied outside any timed op). The last night
      * replayed compacts, so the final check sees a compacted index and
      * a one-night warmup also warms the compaction path. */
    def replay(nNights: Int, measured: Boolean): Unit = {
      val root = ctx.path(s"rep$rep")
      rep += 1
      val base = new File(ctx.path("base")).toPath
      copyTree(base.resolve("text"), new File(s"$root/text0").toPath)
      copyTree(base.resolve("vec"), new File(s"$root/vec0").toPath)
      var textPath = s"$root/text0"
      var vecPath = s"$root/vec0"
      var seen = idx.seenHashes
      val admittedDocs = mutable.ArrayBuffer.empty[(Long, String)]
      var n = 0
      while (n < nNights) {
        val night = n
        val compact = night == nNights - 1
        dirTotals(textPath) = layout(textPath)._3
        dirTotals(vecPath) = layout(vecPath)._3
        val res = ph.attempt(s"night $night") {
          Trace.op(ctx.sc, "night") {
            val slice = spark.read.parquet(ctx.path(s"slices/night=$night"))
            val (cur, rows, nextSeen) = Trace.span("etl.curate_incremental") {
              val inc = CorpusCuration.curateIncremental(slice,
                idx.copy(seenHashes = seen), "id", "text")
              val cur = inc.curated.select("id", "text").persist()
              val rows = cur.as[(Long, String)].collect()
              // the nightly job keeps its exact-dedup state on disk: a
              // cached frame would chain every past night into its plan
              val seenPath = s"$root/seen$night"
              inc.updated.seenHashes.write.parquet(seenPath)
              (cur, rows, spark.read.parquet(seenPath))
            }
            val vecs = Trace.span("embed.embed_slice") {
              val v = embed(cur).persist()
              v.count()
              v
            }
            val cands = Trace.span("ops.text_probe") {
              TextDedupIndex.probeCandidates(spark, textPath, cur, "id", "text")
                .as[(Long, Long)].collect()
            }
            val pairs = Trace.span("ops.vector_probe") {
              VectorDedupIndex.probePairs(spark, vecPath, centroids, vecs,
                "id", "vec", Tau).select("corpus_id", "new_id")
                .as[(Long, Long)].collect()
            }
            val held = (cands.map(_._2) ++ pairs.map(_._2)).toSet
            val keep = !col("id").isin(held.toSeq: _*)
            Trace.span("ops.admit") {
              TextDedupIndex.admitBatch(cur.filter(keep), textPath, "id", "text")
              VectorDedupIndex.admitBatch(vecs.filter(keep), centroids,
                vecPath, "id", "vec")
            }
            if (compact) Trace.span("ops.compact") {
              val t2 = s"$root/text${night + 1}"
              val v2 = s"$root/vec${night + 1}"
              TextDedupIndex.compactIndex(spark, textPath, t2)
              VectorDedupIndex.compactIndex(spark, vecPath, v2)
              textPath = t2
              vecPath = v2
            }
            cur.unpersist(blocking = true)
            vecs.unpersist(blocking = true)
            seen = nextSeen
            val admitted = rows.filterNot(r => held.contains(r._1))
            admittedDocs ++= admitted
            (rows.length, cands.length, pairs.length, admitted.length)
          }
        }
        ph.restoreConf()
        res.foreach { case ((curN, candN, pairN, admN), o) =>
          ph.log(f"night $night: ${(o.end - o.start) / 1e6}%.0f ms, curated $curN, cands $candN, pairs $pairN, admitted $admN")
          if (measured) {
            nights += Night((o.end - o.start) / 1e6, compact,
              slices(night).size, curN, candN, pairN, admN, o.traced)
            val (files, perDir, _, _) = layout(textPath)
            val (vf, vPerDir, _, _) = layout(vecPath)
            layouts += ((files + vf, math.max(perDir, vPerDir)))
          }
        }
        n += 1
      }
      if (measured) caches += ph.cacheMb()
      finalState = Some((textPath, vecPath, admittedDocs.toSeq))
      val (_, _, _, tb) = layout(textPath)
      val (_, _, _, vb) = layout(vecPath)
      val idxDocs = standingDocs + admittedDocs.size
      bytesPerInput = (tb + vb).toDouble /
        (standingTextBytes + admittedDocs.map(_._2.getBytes("UTF-8").length.toLong).sum +
          idxDocs * Dim * 4L)
    }

    ph.log("inputs written")
    ph.setup(buildStanding())
    ph.log("standing indexes built")
    ph.freezeConf()
    // warmup: one night, compaction included, on a scratch copy, so
    // measured nights (the compaction night too) run warm
    ph.setup(ph.untraced(ph.attempt("warmup")(replay(1, measured = false))))
    ph.measure(ctx.seconds, minIters = 1) { _ =>
      replay(NightsPerRep, measured = true)
      true
    }
    val probe = ph.stopTrace()

    // ---- output checks on the last repetition's final, compacted state
    var indexEqual, admittedOnce = false
    finalState.foreach { case (textPath, vecPath, admitted) =>
      val curated = spark.read.parquet(ctx.path("base/curated"))
      val all = curated.union(admitted.toDF("id", "text"))
      def rows(df: DataFrame): Seq[(Long, Int, Long)] =
        df.select(col("doc_id").cast("long"), col("band").cast("int"),
          col("bkey").cast("long")).as[(Long, Int, Long)].collect().toSeq.sorted
      val textRows = rows(spark.read.parquet(textPath))
      indexEqual = rows(TextDedupIndex.bandRows(all, "id", "text")) == textRows
      // a doc holds one row per band in the text index, one in the vector index
      val vecIds = spark.read.parquet(vecPath).select(col("id").cast("long"))
        .as[Long].collect()
      admittedOnce = textRows.map(r => (r._1, r._2)).distinct.size == textRows.size &&
        vecIds.distinct.length == vecIds.length
    }
    if (!indexEqual) problems += "compacted text index != bandRows(standing + admitted)"
    if (!admittedOnce) problems += "a doc appears twice in the compacted indexes"
    problems ++= curation.results.filterNot(_._2).map(c => s"${c._1}: ${c._3}")
    ph.failed += math.min(problems.size, ph.attempted - ph.failed)
    val keepMap = curation.keepCounts.toMap

    // io and probe-efficiency layers, from the traced nights
    val traced = nights.filter(_.traced)
    def scanned(span: String): (Double, Double) = {
      val reads = Layers.views("night", probe).flatMap { case (_, ss, accs) =>
        ss.filter(_.name == span).flatMap(s => accs.get(s.id)).flatMap(_.scanRoots) }
      (reads.map(_._2.toDouble).sum,
        reads.map(r => dirTotals.getOrElse(r._1.stripPrefix("file:"), 0).toDouble).sum)
    }
    val (tRead, tTotal) = scanned("ops.text_probe")
    val (vRead, vTotal) = scanned("ops.vector_probe")
    val vecRowsRead = Layers.sumOver("night", "ops.vector_probe", probe)(_.scanRows.toDouble)
    val written = Layers.views("night", probe).map(_._3.values.map(_.written).sum).sum
    val layerMetrics =
      if (!ctx.trace) Nil
      else Seq(
        ("io.files_read_frac", if (tTotal + vTotal > 0) (tRead + vRead) / (tTotal + vTotal) else 0.0, "ratio"),
        ("io.bytes_written_per_night", written.toDouble / math.max(1, traced.size), "bytes"),
        ("ops.vector_pairs_per_row_read",
          if (vecRowsRead > 0) traced.map(_.pairs).sum / vecRowsRead else 0.0, "ratio"))

    val walls = nights.map(_.wallMs).toSeq
    val tail = Stats.tail(walls)
    val med = Stats.median(walls)
    val n = nights.size.toDouble
    def mean(f: Night => Double): Double = nights.map(f).sum / n
    Outcome(
      metrics = Seq(
        ("op_p50_ms", med, "ms"),
        ("op_tail_ms", tail.value, "ms"),
        ("work_per_s", nights.map(_.sliceDocs).sum / (walls.sum / 1000), "1/s"),
        ("cache_mb", Stats.median(caches.toSeq), "MB"),
        ("ops.text_candidates", mean(_.candidates), "count"),
        ("io.index_files", layouts.map(_._1).sum.toDouble / layouts.size, "count"),
        ("io.files_per_dir_max", layouts.map(_._2).max.toDouble, "count")) ++
        CurateChecks.Gates.map(g =>
          (s"ops.keep.$g", keepMap.getOrElse(g, 0L).toDouble, "count")) ++
        layerMetrics,
      checks = curation.results ++ Seq(
        ("compacted_text_index_equals_bandRows", indexEqual, ""),
        ("no_doc_admitted_twice", admittedOnce, "")),
      artifact = Seq(
        "inputs" -> ListMap(standing.props ++ Seq(
          "slice_docs" -> SliceSize, "nights_per_rep" -> NightsPerRep,
          "compact_every" -> NightsPerRep,
          "slice_exact_dup_share" -> planted._1.toDouble / (SliceSize * NightsPerRep),
          "slice_near_dup_share" -> planted._2.toDouble / (SliceSize * NightsPerRep),
          "vector_dim" -> Dim, "ivf_cells" -> Cells, "probe_tau" -> Tau): _*),
        "input_digest" -> Gen.digestOf(standing.docs ++ standing.eval ++ slices.flatten),
        "standing_curate_ms" -> curateMs,
        "curate_docs_per_s" -> NStanding / (curateMs / 1000),
        "corpus_checksum" -> curation.checksum,
        "keep_counts" -> keepMap,
        "night_p50_s" -> med / 1000,
        "night_tail_s" -> ListMap("value" -> tail.value / 1000,
          "percentile" -> tail.percentile, "n" -> tail.n, "beyond" -> tail.beyond),
        "index_bytes_per_input_byte" -> bytesPerInput,
        "nights" -> nights.map(x => ListMap("ms" -> x.wallMs,
          "compact" -> x.compact, "curated" -> x.curated,
          "candidates" -> x.candidates, "pairs" -> x.pairs,
          "admitted" -> x.admitted)).toSeq,
        "index_dirs" -> dirTotals.toMap,
        "problems" -> problems.toSeq),
      )
  }

}
