package graft

/** Bench artifact model + JSON writer, factored out of [[Bench]] so the
  * serialization contract is unit-testable (VERDICT r10 items 1/2/4).
  *
  * Why this exists: three driver rounds in a row produced inflated
  * wall-times on queries whose committed quiet-window steadies are
  * sub-second, and the old artifact (steady+cold only) could not
  * distinguish "the plan regressed" from "the machine was contended"
  * from "late-run heap pressure". The per-iteration telemetry makes
  * that call decidable post-hoc from the artifact alone:
  *
  *  - `times`: ALL iteration wall-times — `min == first` (cold is the
  *    fastest) or monotonic growth across iterations is the
  *    degrading-environment signature, invisible in a bare min;
  *  - `gc_ms` / `gc_n`: JVM GC time/count delta per iteration — a slow
  *    iteration with proportional GC growth is heap pressure, one with
  *    flat GC is external contention;
  *  - `cpu_ms`: process CPU delta — wall-time up with our own CPU flat
  *    means the cores went to someone else (contention), wall and CPU
  *    up together means the query genuinely did more work;
  *  - `load`: system 1-min load average sampled BEFORE the iteration —
  *    load far above this JVM's core budget is direct evidence of a
  *    co-tenant;
  *  - `heap_mb` / `storage_mb`: used heap and executor storage memory
  *    AFTER the iteration — late-run storage growth that correlates
  *    with slowdowns indicts cache pressure, not the plan;
  *  - `tainted`: true from the moment any bench worker survived
  *    cancel+interrupt (a zombie thread may still be running jobs that
  *    overlap later timings) — previously only a stderr note.
  */
object BenchReport {

  /** One timed iteration with its environment evidence. `sec` is the
    * wall time, or -1.0 (failed) / -2.0 (timed out — see [[Bench]]'s
    * watchdog). `hostCpuMs` is the WHOLE host's user-mode (user +
    * nice + steal) CPU delta over the iteration (/proc/stat; -1 where
    * unreadable) — `hostCpuMs − cpuMs` is user CPU burned by
    * processes that are not us, the direct co-tenant measure (system
    * time is excluded on purpose: kernel writeback workers doing OUR
    * checkpoint I/O must not read as a co-tenant; since our own cpuMs
    * includes our sys time the subtraction under-counts slightly —
    * conservative in the right direction). */
  final case class Iter(
      sec: Double, gcMs: Long, gcN: Long, cpuMs: Long,
      heapMb: Long, storageMb: Long, load: Double, tainted: Boolean,
      hostCpuMs: Long = -1L)

  final case class QueryResult(name: String, iters: Seq[Iter]) {
    def times: Seq[Double] = iters.map(_.sec)
    def tainted: Boolean = iters.exists(_.tainted)
  }

  /** Fixture fingerprint: total bytes of the sf dir's parquet files.
    * Byte-exact over all tables — any layout/order/compression shift
    * in a regenerated fixture moves it, which is the point (see the
    * env block's scaladoc). -1 when the dir is unreadable. */
  def fixtureBytes(sfDir: String): Long =
    try {
      import scala.jdk.CollectionConverters._
      val dir = java.nio.file.Paths.get(sfDir)
      val stream = java.nio.file.Files.list(dir)
      try stream.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
      finally stream.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Steady-state = min over the iterations that SUCCEEDED; -1.0 /
    * -2.0 (timed out) only when every iteration failed — one flaky run
    * must not poison the number when the retries were fine. */
  def steadyOf(ts: Seq[Double]): Double = {
    val ok = ts.filter(_ >= 0)
    if (ok.nonEmpty) ok.min
    else if (ts.contains(-2.0)) -2.0
    else -1.0
  }

  /** The query's own characteristic parallelism (busy cores): the max
    * over successful iterations of cpu/wall, clamped to the host.
    * None when CPU telemetry is absent everywhere. Iterations run
    * back-to-back, so the 1-min load sampled before an iteration is
    * saturated mostly with THIS query's own prior burn — this is the
    * number to discount it by. */
  def selfCores(iters: Seq[Iter], hostCores: Int): Option[Double] = {
    val xs = iters.filter(i => i.sec > 0 && i.cpuMs >= 0)
      .map(i => (i.cpuMs / 1000.0) / i.sec)
    if (xs.isEmpty) None else Some(xs.max.min(hostCores.toDouble))
  }

  /** CPU burned by processes that are NOT this JVM over the
    * iteration, in busy cores: (host busy − own) / wall. None where
    * either probe is unsupported. The direct co-tenant measure — a
    * load average cannot provide it, because the 1-min average still
    * carries the PREVIOUS queries' own burn (measured: a verified-
    * quiet host read median load 6 on 32 cores mid-bench, purely
    * self-inflicted by back-to-back heavy queries, while host−own
    * external CPU read ~0). */
  def externalCores(it: Iter): Option[Double] =
    if (it.hostCpuMs >= 0 && it.cpuMs >= 0 && it.sec > 0)
      Some(math.max(0.0, (it.hostCpuMs - it.cpuMs) / 1000.0 / it.sec))
    else None

  /** Per-iteration contention verdict, decidable from the artifact
    * alone (VERDICT r11 item 4 — the flag replaces the last prose step
    * in the "that number is the host, not the plan" argument).
    *
    * Primary clause (reworked twice in r13 — ADVICE r12: the raw
    * `load > cores/8` rule cannot tell host contention from the
    * benchmark's own multi-core burn and self-flagged 97/189 r12
    * steadies; discounting the query's own parallelism from the load
    * still left ~100 false flags because the 1-min average carries
    * the PRECEDING queries' burn too): the co-tenant evidence is
    * [[externalCores]] — host busy CPU minus our own, per iteration,
    * from /proc/stat. Threshold cores/8: a verified-quiet full run
    * reads ~0 external cores throughout; the r12 driver host ran
    * co-tenants at 5-10 cores. Fallbacks, in order, where /proc/stat
    * is unavailable: self-discounted load (`load − max own cpu/wall
    * > cores/12`), then the legacy raw `load > cores/8` when CPU
    * telemetry is absent entirely.
    *
    * The second clause catches interference CPU accounting misses:
    * the SAME deterministic query burning >1.6× its own
    * best-iteration CPU while its wall more than doubles is cache/SMT
    * thrash (the contended x03 signature: 34.3 s CPU vs 17.0 s
    * baseline), unless GC dominates the iteration — that is heap
    * pressure, already readable from gc_ms, and must not be laundered
    * into a contention claim. */
  def contendedFlags(iters: Seq[Iter], hostCores: Int): Seq[Boolean] = {
    val ok = iters.filter(_.sec >= 0)
    if (ok.isEmpty) return iters.map(_ => false)
    val best = ok.minBy(_.sec)
    val self = selfCores(iters, hostCores)
    iters.zipWithIndex.map { case (it, idx) =>
      if (it.sec < 0) false
      else {
        // probes carry -1 "telemetry unsupported" sentinels: a
        // missing probe must read as "no evidence", never as evidence
        val loadHigh = externalCores(it) match {
          case Some(ext) => ext > hostCores / 8.0
          case None => it.load >= 0 && (self match {
            case Some(sc) => it.load - sc > hostCores / 12.0
            case None => it.load > hostCores / 8.0
          })
        }
        val wallInflated = it.sec > 2 * best.sec + 0.2
        val cpuInflated = it.cpuMs >= 0 && best.cpuMs > 0 &&
          it.cpuMs > 1.6 * best.cpuMs
        val gcDominant = it.gcMs > 0.3 * it.sec * 1000
        // the interference clause exempts the COLD pass (idx 0):
        // shuffle writes, codegen, and cache fill are real extra work
        // there — cold wall+CPU above the warm baseline is expected,
        // not evidence (the clean-session x03 cold runs 3x its warm
        // wall at 3.5x its warm CPU). The primary clause still applies.
        loadHigh || (idx > 0 && wallInflated && cpuInflated && !gcDominant)
      }
    }
  }

  /** The headline steady number is suspect exactly when the iteration
    * that PRODUCED it (the fastest success) is itself flagged. */
  def steadyContended(iters: Seq[Iter], hostCores: Int): Boolean = {
    val okIdx = iters.zipWithIndex.filter(_._1.sec >= 0)
    okIdx.nonEmpty &&
      contendedFlags(iters, hostCores)(okIdx.minBy(_._1.sec)._2)
  }

  /** Cross-run regression flag (VERDICT r12 item 1 — the within-query
    * classifier's blind spot: a query whose EVERY iteration is
    * uniformly inflated looks internally consistent, which is exactly
    * how r08 at 5.2× and r20 at 6.7× their committed steadies sailed
    * through r12 unflagged). `pin` is the query's committed
    * clean-session steady from BENCH_BASELINE.json; the flag fires
    * when this run's steady exceeds 2× the pin (plus a 0.2 s floor so
    * millisecond queries don't flag on job-scheduling noise) WHILE the
    * within-run signals are clean — a steady that is itself
    * contention-flagged already carries its explanation and must not
    * double-report. */
  def regressedVsBaseline(iters: Seq[Iter], hostCores: Int,
      pin: Double): Boolean = {
    val s = steadyOf(iters.map(_.sec))
    s >= 0 && pin > 0 && s > 2 * pin + 0.2 &&
      !steadyContended(iters, hostCores)
  }

  private def jsStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Env-sourced values (cpus, sf) splice as bare numbers only when
    * they ARE numbers — SPARK_GRAFT_CPUS="*" is a legal local[N]
    * setting and a raw splice would make the whole artifact
    * unparseable. */
  private def jsNumOrStr(s: String): String =
    if (s.matches("-?\\d+(\\.\\d+)?")) s else jsStr(s)

  /** Run-level external-CPU evidence (VERDICT r13 item 1): total CPU
    * seconds burned by processes that are NOT this JVM across every
    * iteration of the run, plus the single worst per-iteration
    * external-cores reading. A "clean but slow" run (no contended
    * flag, yet >2× its pin) carries its own adjudication: a near-zero
    * total says the host really was quiet and the pin (or in-JVM
    * state) is the suspect; a large total says sub-threshold
    * steal/co-tenancy accumulated without ever tripping the
    * per-iteration cores/8 gate. */
  def extCpuTotals(results: Seq[QueryResult])
      : (Double, Double) = {
    val per = for {
      q <- results
      it <- q.iters
      ext <- externalCores(it)
    } yield (ext * it.sec, ext)
    (per.map(_._1).sum, if (per.isEmpty) 0.0 else per.map(_._2).max)
  }

  private def arr(xs: Iterable[String]) = xs.mkString("[", ",", "]")
  private def obj(kvs: Iterable[(String, String)]) =
    kvs.map { case (k, v) => jsStr(k) + ":" + v }.mkString("{", ",", "}")

  /** The BENCH_FULL.json document. Top-level `steady`/`cold` keep the
    * shape earlier rounds' tooling reads; `detail` carries the
    * per-iteration evidence; `env` pins the run's fixed context;
    * `baseline` is the committed clean-session pin set (None when the
    * gate is off — see `baselineStatus`). */
  def fullJson(iters: Int, sfDir: String, cpus: String,
      results: Seq[QueryResult],
      hostCores: Int = Runtime.getRuntime.availableProcessors(),
      baseline: Option[Map[String, Double]] = None,
      warmup: Option[String] = None,
      benchHeapMb: Long = -1L,
      baselineStatus: String = "off:not_reported"): String = {
    val steady = results.map(q => q.name -> steadyOf(q.times))
    val detail = results.map { q =>
      val pin = baseline.flatMap(_.get(q.name))
      q.name -> obj(Seq(
        "times" -> arr(q.times.map(jsNum)),
        "gc_ms" -> arr(q.iters.map(_.gcMs.toString)),
        "gc_n" -> arr(q.iters.map(_.gcN.toString)),
        "cpu_ms" -> arr(q.iters.map(_.cpuMs.toString)),
        "host_cpu_ms" -> arr(q.iters.map(_.hostCpuMs.toString)),
        // the derived co-tenant measure, precomputed so a reader need
        // not re-derive it: (host user+nice+steal − own)/wall. On this
        // class of VM a borderline value next to a regressed flag
        // reads as sub-threshold steal/contention, not a plan change.
        "ext_cores" -> arr(q.iters.map(i => externalCores(i)
          .map(e => jsNum(math.rint(e * 100) / 100)).getOrElse("null"))),
        "heap_mb" -> arr(q.iters.map(_.heapMb.toString)),
        "storage_mb" -> arr(q.iters.map(_.storageMb.toString)),
        "load" -> arr(q.iters.map(i => jsNum(i.load))),
        "contended" -> arr(
          contendedFlags(q.iters, hostCores).map(_.toString)),
        "steady_contended" ->
          steadyContended(q.iters, hostCores).toString,
        "baseline_sec" -> pin.map(jsNum).getOrElse("null"),
        "regressed_vs_baseline" -> pin.map(p =>
          regressedVsBaseline(q.iters, hostCores, p).toString)
          .getOrElse("false"),
        "tainted" -> q.tainted.toString))
    }
    val (extSecTotal, extCoresMax) = extCpuTotals(results)
    val env = obj(Seq(
      // the measuring JVM's max heap (-1 = not reported). The number
      // pins are scoped to — the r14 driver/builder disagreement was
      // exactly a run at 91136 graded against pins taken at 8192
      // (VERDICT r14 item 1).
      "bench_heap_mb" -> benchHeapMb.toString,
      "host_cores" -> hostCores.toString,
      // thresholds, in contendedFlags' fallback order: external busy
      // cores (host_cpu_ms − cpu_ms)/wall vs ext_busy_thresh; then
      // self-discounted load vs ext_load_margin; then raw load vs
      // load_thresh when CPU telemetry is absent entirely
      "ext_busy_thresh" -> jsNum(hostCores / 8.0),
      "ext_load_margin" -> jsNum(hostCores / 12.0),
      "load_thresh" -> jsNum(hostCores / 8.0),
      "jvm_uptime_s" -> jsNum(
        java.lang.management.ManagementFactory.getRuntimeMXBean
          .getUptime / 1000.0),
      // fixture fingerprint: total bytes of the sf dir's parquet
      // files. Pins are only comparable against the exact fixture
      // they measured — a REGENERATED fixture with identical rows can
      // legitimately read slower (parquet row order/layout shifts
      // under the generator's parallel writes changed scan costs 2-3x
      // on d01 in r15), and that must surface as "different fixture",
      // not as a plan regression
      "fixture_bytes" -> fixtureBytes(sfDir).toString))
    obj(Seq(
      "iters" -> iters.toString,
      "sf_dir" -> jsStr(sfDir),
      "cpus" -> jsNumOrStr(cpus),
      "env" -> env,
      // whether the cross-run pin gate was armed, and if not, why —
      // a disabled gate must never read as "0 regressions"
      "baseline_status" -> jsStr(baselineStatus),
      // run-level co-tenant evidence (see extCpuTotals): external CPU
      // seconds summed over the whole run + worst per-iteration cores
      "ext_cpu_sec_total" -> jsNum(math.rint(extSecTotal * 10) / 10),
      "ext_cores_max" -> jsNum(math.rint(extCoresMax * 100) / 100),
      // the query run untimed ahead of the timed entries to absorb
      // the fresh JVM's JIT/codegen spin-up (see Bench.runRegistry)
      "warmup" -> warmup.map(jsStr).getOrElse("null"),
      "steady" -> obj(steady.map { case (k, v) => k -> jsNum(v) }),
      "cold" -> obj(results.map(q => q.name -> jsNum(q.times.head))),
      "detail" -> obj(detail)))
  }

  /** The one compact stdout line (< 1 KB — the harness keeps only a
    * ~2000-char stdout tail). `headline` picks the per-family subset;
    * the engine total sums every arm's steady time. */
  def headlineJson(results: Seq[QueryResult], iters: Int, sfNum: String,
      headline: Seq[String], detailFile: String = "BENCH_FULL.json",
      hostCores: Int = Runtime.getRuntime.availableProcessors(),
      baseline: Option[Map[String, Double]] = None,
      baselineStatus: String = "off:not_reported"): String = {
    val steady = results.map(q => q.name -> steadyOf(q.times)).toMap
    def r3(d: Double) = f"$d%.3f"
    val engineTotal = steady.values.map(_.max(0.0)).sum
    val head = headline.flatMap(h => steady.get(h).map(h -> _))
    val (extSecTotal, _) = extCpuTotals(results)
    obj(Seq(
      "metric" -> jsStr("engine_total_steady_sec"),
      "value" -> r3(engineTotal),
      "unit" -> jsStr("sec"),
      "sf" -> jsNumOrStr(sfNum),
      "iters" -> iters.toString,
      "nq" -> steady.size.toString,
      "failed" -> steady.count(_._2 == -1.0).toString,
      "timed_out" -> steady.count(_._2 == -2.0).toString,
      "tainted" -> results.count(_.tainted).toString,
      // queries whose HEADLINE number came from a contended iteration
      // (detail.<q>.steady_contended) — nonzero means read the
      // per-iteration evidence before grading regressions
      "contended" -> results.count(q =>
        steadyContended(q.iters, hostCores)).toString,
      // queries >2x their committed clean-session pin with clean
      // within-run signals (detail.<q>.regressed_vs_baseline) — the
      // cross-run check the within-query classifier cannot make
      "regressed" -> results.count(q =>
        baseline.flatMap(_.get(q.name)).exists(p =>
          regressedVsBaseline(q.iters, hostCores, p))).toString,
      // pin-gate provenance: "regressed: 0" with pins off is not a
      // clean bill — this field says whether the gate was armed
      "pins" -> jsStr(baselineStatus),
      // CPU seconds burned by non-this-JVM processes over the whole
      // run — the evidence line for "regressed flags with clean
      // within-run signals" (near 0 ⇒ host quiet, suspect the pin)
      "ext_cpu_sec" -> jsNum(math.rint(extSecTotal * 10) / 10),
      "detail" -> jsStr(detailFile),
      "queries" -> obj(head.map { case (k, v) => k -> r3(v) })))
  }
}
