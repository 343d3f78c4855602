package graftbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** Entry point of one benchmark run:
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *
  * Generates the seeded inputs, starts a `GraftSession` with one local
  * core per host processor, runs the workload, writes the full artifact
  * (and, traced, the spans) under DIR, and prints one JSON line with
  * every metric it measured. `perfbench/run.py` picks the metrics that
  * BENCHMARK.json names from that line. */
object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "nightly_ingest" -> (() => new NightlyIngest),
    "product_search" -> (() => new ProductSearch))

  /** Writes the result line and the artifact; ListMaps keep key order. */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** /proc/stat aggregate cpu line: (user + nice, steal, total) jiffies. */
  private def hostCpu(): Option[(Long, Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (f(0) + f(1), f(7), f.take(8).sum)
      }
    } finally src.close()
  } catch { case _: Exception => None }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args.getOrElse("workload", sys.error("--workload required"))
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val out = new File(args.getOrElse("out", "perfbench/out")).getAbsoluteFile
    val workload = Workloads.getOrElse(name,
      sys.error(s"unknown workload $name; known: ${Workloads.keys.mkString(", ")}"))()
    val work = new File(out, s"work-$name-$seed-${if (trace) 1 else 0}")
    deleteTree(work)
    work.mkdirs()

    workload.generate(seed) // input generation: not part of setup_s

    val cores = Runtime.getRuntime.availableProcessors
    val cpu0 = hostCpu()
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, seed, seconds, trace, work, cores)
    val ph = new Phases(ctx)
    ph.startTrace()
    val outcome = workload.run(ctx, ph)
    val cpu1 = hostCpu()
    val setupS = sessionS + ph.setupS

    val layers =
      if (!trace) Nil
      else Layers.compute(ctx, workload.kind, ph.probe) ++
        Layers.Names.map { case (k, u) => (k, 0.0, u) }
    val correct = outcome.checks.forall(_._2) && ph.failed == 0
    val metrics = (Seq(("setup_s", setupS, "s")) ++ outcome.metrics ++ layers)
      .distinctBy(_._1)
      .map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }

    // host-wide shares over the run: user CPU (ours included) and time
    // the hypervisor gave to other guests, so a contended run shows
    val hostShare = for ((u0, s0, t0c) <- cpu0; (u1, s1, t1c) <- cpu1 if t1c > t0c)
      yield ((u1 - u0).toDouble / (t1c - t0c), (s1 - s0).toDouble / (t1c - t0c))
    val rt = Runtime.getRuntime
    val artifact = ListMap(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> ph.attempted, "failed" -> ph.failed,
      "failed_ops_frac" -> ph.failed.toDouble / math.max(1, ph.attempted),
      "host" -> ListMap("nproc" -> cores,
        "spark_cores" -> spark.sparkContext.defaultParallelism,
        "heap_max_mb" -> rt.maxMemory / 1048576,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version,
        "host_user_cpu_frac" -> hostShare.map(_._1),
        "host_steal_cpu_frac" -> hostShare.map(_._2)),
      "setup" -> ListMap("session_s" -> sessionS, "work_s" -> ph.setupS),
      "checks" -> outcome.checks.map { case (n, ok, d) =>
        ListMap("name" -> n, "ok" -> ok, "detail" -> d) },
      "metrics" -> ListMap(metrics: _*),
      "spans" -> (if (trace) Layers.spanTable() else Nil)) ++ outcome.artifact
    write(new File(out, s"$name-seed$seed-trace${if (trace) 1 else 0}.json"),
      json.writeValueAsString(artifact) + "\n")
    if (trace) {
      val spans = Trace.spans.asScala.toSeq.sortBy(_.start)
      val self = Trace.selfTimes(spans)
      write(new File(out, s"$name-seed$seed-spans.jsonl"), spans.map(s =>
        json.writeValueAsString(ListMap("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
          "self_ns" -> self(s.id)))).mkString("\n") + "\n")
    }

    spark.stop()
    deleteTree(work)
    println(json.writeValueAsString(ListMap("correct" -> correct,
      "attempted" -> ph.attempted, "failed" -> ph.failed,
      "metrics" -> ListMap(metrics: _*))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def write(f: File, s: String): Unit = {
    val w = new PrintWriter(f, UTF_8)
    try w.write(s) finally w.close()
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
