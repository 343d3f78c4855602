package graftbench

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Per-layer numbers of a traced run, per op of the workload's measured
  * kind (a curate repetition, a night, a search query) unless the name
  * says otherwise. Spark-runtime metrics come from the [[Probe]]
  * listeners; module metrics from the benchmark's spans. */
object Layers {

  /** Clock pair for mapping Spark's epoch-millisecond stage times onto
    * the nanoTime axis the ops and spans use. */
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def epochToNano(ms: Long): Long = nano0 + (ms - epoch0) * 1000000L

  /** Metrics every traced run reports; those of the other workload read
    * 0. Step timings are shares of the wall time of the ops that ran
    * them (set-up, nights, queries); their milliseconds are in
    * the artifact's span table. */
  val Names: Seq[(String, String)] = Seq(
    "spark.plan_ms" -> "ms", "spark.codegen_share" -> "ratio",
    "spark.codegen_classes" -> "count", "spark.sched_gap_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_cpu_ms" -> "ms",
    "spark.core_util" -> "ratio", "spark.gc_ms" -> "ms",
    "spark.task_skew" -> "ratio", "spark.single_task_stage_frac" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_fetch_wait_ms" -> "ms",
    "spark.spill_mb" -> "MB", "trace.overhead_ms" -> "ms") ++
    Seq(
      // nightly_ingest set-up
      "etl.curate", "io.write_standing", "etl.fit_indexes",
      "ops.write_text_index", "embed.embed_standing", "ops.write_vector_index",
      // nightly_ingest nights
      "etl.curate_incremental", "embed.embed_slice", "ops.text_probe",
      "ops.vector_probe", "ops.admit", "ops.compact",
      // product_search set-up and queries
      "etl.read_csv", "etl.chain", "etl.normalize", "embed.build_docs",
      "embed.embed", "io.store_write", "embed.search"
    ).map(n => s"${n}_share" -> "ratio") ++ Seq(
    "ops.keep.quality" -> "count", "ops.keep.repetition" -> "count",
    "ops.keep.boilerplate" -> "count", "ops.keep.decontaminate" -> "count",
    "ops.keep.exact_dedup" -> "count",
    "ops.text_candidates" -> "count", "ops.vector_pairs_per_row_read" -> "ratio",
    "io.files_read_frac" -> "ratio", "io.index_files" -> "count",
    "io.files_per_dir_max" -> "count", "io.bytes_written_per_night" -> "bytes",
    "vector.search_share" -> "ratio", "vector.rows_scored_per_query" -> "count",
    "plans.knn_rewrite_hits" -> "count")

  /** The traced ops of one kind, each with its spans and the probe
    * records of every span it opened (keyed by span id). */
  def views(kind: String, probe: Option[Probe]): Seq[(Trace.Op, Seq[Trace.Span], Map[Long, Probe#OpAcc])] = {
    val accs = probe.map(_.all()).getOrElse(Map.empty)
    val spans = Trace.spans.asScala.toSeq.groupBy(_.op)
    Trace.ops.asScala.toSeq.filter(o => o.traced && o.ok && o.kind == kind)
      .map { o =>
        val ss = spans.getOrElse(o.id, Nil)
        (o, ss, ss.flatMap(s => accs.get(s.id).map(s.id -> _)).toMap)
      }
  }

  /** Sum of `f` over the probe records of every traced `kind` op's
    * spans named `span`. */
  def sumOver(kind: String, span: String, probe: Option[Probe])
      (f: Probe#OpAcc => Double): Double =
    views(kind, probe).map { case (_, ss, accs) =>
      ss.filter(_.name == span).flatMap(s => accs.get(s.id)).map(f).sum
    }.sum

  /** Traced spans by name: (name, op kind, total ms, self ms, total wall
    * ms of the traced ops of that kind). Op root spans are left out. */
  private def spanGroups(): Seq[(String, String, Double, Double, Double)] = {
    val ops = Trace.ops.asScala.toSeq.filter(o => o.traced && o.ok)
    val kindOf = ops.map(o => o.id -> o.kind).toMap
    val wall = ops.groupBy(_.kind).map { case (k, os) =>
      k -> os.map(o => (o.end - o.start) / 1e6).sum }
    val all = Trace.spans.asScala.toSeq.filter(s => kindOf.contains(s.op))
    val self = Trace.selfTimes(all)
    all.filter(s => s.id != s.op).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (name, ss) =>
        val k = kindOf(ss.head.op)
        (name, k, ss.map(s => (s.end - s.start) / 1e6).sum,
          ss.map(s => self(s.id) / 1e6).sum, wall(k))
      }
  }

  /** Per span name: op kind, calls, total and self ms, ms per op. */
  def spanTable(): Seq[ListMap[String, Any]] = {
    val perKind = Trace.ops.asScala.toSeq.filter(o => o.traced && o.ok)
      .groupBy(_.kind).map { case (k, os) => k -> os.size }
    spanGroups().map { case (name, kind, ms, selfMs, _) =>
      ListMap("name" -> name, "op_kind" -> kind,
        "calls" -> Trace.spans.asScala.count(_.name == name),
        "total_ms" -> ms, "self_ms" -> selfMs,
        "ms_per_op" -> ms / perKind.getOrElse(kind, 1))
    }
  }

  /** The generic Spark-runtime and module metrics over the traced ops of
    * `kind`, plus span timings of every other traced op kind (set-up). */
  def compute(ctx: Ctx, kind: String, probe: Option[Probe])
      : Seq[(String, Double, String)] = {
    val vs = views(kind, probe)
    val n = math.max(1, vs.size).toDouble
    def sum(f: Probe#OpAcc => Double): Double =
      vs.map(_._3.values.map(f).sum).sum
    val wallNs = vs.map { case (o, _, _) => (o.end - o.start).toDouble }.sum
    val gapMs = vs.map { case (o, _, as) =>
      Stats.gap(o.start, o.end, as.values.toSeq.flatMap(_.stageIv.map {
        case (s, e) => (epochToNano(s), epochToNano(e)) })) / 1e6
    }.sum
    val stages = sum(_.stages.toDouble)
    val spark = Seq(
      ("spark.plan_ms", sum(_.planMs) / n, "ms"),
      ("spark.codegen_share", if (wallNs > 0) vs.map(_._1.codegenNs).sum / wallNs else 0.0, "ratio"),
      ("spark.codegen_classes", vs.map(_._1.codegenClasses).sum / n, "count"),
      ("spark.sched_gap_ms", gapMs / n, "ms"),
      ("spark.jobs", sum(_.jobs.toDouble) / n, "count"),
      ("spark.stages", stages / n, "count"),
      ("spark.tasks", sum(_.tasks.toDouble) / n, "count"),
      ("spark.task_cpu_ms", sum(_.cpuNs / 1e6) / n, "ms"),
      ("spark.core_util", if (wallNs > 0) sum(_.cpuNs.toDouble) / (wallNs * ctx.cores) else 0.0, "ratio"),
      ("spark.gc_ms", sum(_.gcMs.toDouble) / n, "ms"),
      ("spark.task_skew", vs.map(v =>
        (v._3.values.map(_.worstSkew) ++ Seq(1.0)).max).sum / n, "ratio"),
      ("spark.single_task_stage_frac",
        if (stages > 0) sum(_.singleTaskStages.toDouble) / stages else 0.0, "ratio"),
      ("spark.shuffle_write_mb", sum(_.shuffleWrite / 1048576.0) / n, "MB"),
      ("spark.shuffle_fetch_wait_ms", sum(_.fetchWaitMs.toDouble) / n, "ms"),
      ("spark.spill_mb", sum(_.spill / 1048576.0) / n, "MB"))

    // module spans: share of the wall time of the ops that opened them
    val modules = spanGroups().map { case (name, _, ms, _, wallMs) =>
      (s"${name}_share", if (wallMs > 0) ms / wallMs else 0.0, "ratio")
    }

    val overhead = Stats.tracingOverhead(Trace.ops.asScala.toSeq
      .filter(o => o.ok && o.kind == kind)
      .map(o => (o.slot, o.traced, (o.end - o.start) / 1e6)))
    spark ++ modules ++ Seq(("trace.overhead_ms", overhead, "ms"))
  }
}
