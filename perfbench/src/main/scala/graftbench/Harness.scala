package graftbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload needs from the run, and what it hands back. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, work: File, cores: Int) {
  def sc: org.apache.spark.SparkContext = spark.sparkContext
  def path(rel: String): String = new File(work, rel).getAbsolutePath
}

/** A workload's result. `metrics` are (name, value, unit); the run
  * prints whichever BENCHMARK.json asks for. `artifact` is everything
  * else worth keeping: input properties, named metrics, check details. */
final case class Outcome(metrics: Seq[(String, Double, String)],
    checks: Seq[(String, Boolean, String)], artifact: Seq[(String, Any)])

trait Workload {
  /** The op kind whose latency the workload measures. */
  def kind: String
  /** Build the seeded inputs in memory (no Spark, not timed). */
  def generate(seed: Long): Unit
  /** Run it: write inputs, set up, warm up, measure, check. Ops and
    * failed checks are counted in `phases`. */
  def run(ctx: Ctx, phases: Phases): Outcome
}

/** Timing bookkeeping shared by the workloads: set-up time, the
  * measured window (traced and untraced ops interleaved when tracing),
  * failure counts and conf hygiene. */
final class Phases(ctx: Ctx) {
  var setupS = 0.0
  var attempted = 0
  var failed = 0
  var probe: Option[Probe] = None
  private var confs: Map[String, String] = Map.empty

  /** Time set-up work (building state, warmup) into setup_s. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupS += (System.nanoTime() - t0) / 1e9
  }

  /** Remember the session conf after set-up; [[restoreConf]] puts it
    * back after every op, so a conf an op pins never leaks into the
    * next one. */
  def freezeConf(): Unit = confs = ctx.spark.conf.getAll.toMap

  def restoreConf(): Unit = if (confs.nonEmpty) {
    val conf = ctx.spark.conf
    val now = conf.getAll.toMap
    now.foreach { case (k, v) =>
      if (conf.isModifiable(k) && !confs.get(k).contains(v))
        confs.get(k) match {
          case Some(old) => conf.set(k, old)
          case None => conf.unset(k)
        }
    }
    confs.foreach { case (k, v) =>
      if (!now.contains(k) && conf.isModifiable(k)) conf.set(k, v) }
  }

  /** Run iterations until `seconds` pass (and at least `minIters` ran).
    * In a traced run ops alternate traced and untraced (see
    * [[Trace.iteration]]), and twice the iterations run, so each kind
    * has `minIters`. `iter` gets the iteration index and returns false
    * to stop early. */
  def measure(seconds: Double, minIters: Int)(iter: Int => Boolean): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val min = if (ctx.trace) 2 * minIters else minIters
    startTrace()
    var i = 0
    var go = true
    while (go && (i < min || System.nanoTime() < deadline)) {
      if (ctx.trace) Trace.iteration(i)
      go = iter(i)
      i += 1
    }
    startTrace()
  }

  /** Attach the probes and trace every op (a no-op untraced). Set-up
    * runs traced, so its spans give the set-up layer split. */
  def startTrace(): Unit =
    if (ctx.trace) {
      val p = probe.getOrElse(new Probe(ctx.spark))
      if (!attached) p.register()
      attached = true
      probe = Some(p)
      Trace.mode = Trace.Mode.Traced
    }

  private var attached = false

  private def pauseTrace(): Unit = {
    Trace.mode = Trace.Mode.Off
    probe.foreach { p => if (attached) { p.drain(); p.unregister() } }
    attached = false
  }

  /** Run `body` with tracing paused (warmups), then resume it. */
  def untraced[T](body: => T): T = {
    val was = attached
    pauseTrace()
    try body finally if (was) startTrace()
  }

  /** End tracing; the probe's records are complete once this returns. */
  def stopTrace(): Option[Probe] = {
    pauseTrace()
    probe
  }

  private val born = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench] +${(System.nanoTime() - born) / 1e9}%.1fs $msg")

  /** Count an op; a thrown failure counts as failed and is logged. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(body)
    catch {
      case NonFatal(e) =>
        synchronized(failed += 1)
        System.err.println(s"[graftbench] $what failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Spark storage memory (and disk) held by cached blocks, MB. */
  def cacheMb(): Double =
    ctx.sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}
