package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * Methodology (round 3, per VERDICT.md item 3 — the round-2 n=1 cold
  * numbers swung 2x on unchanged code):
  *  - each query runs `iters` times (default 3): iteration 0 is the cold
  *    pass, the rest are warm reruns in the same JVM;
  *  - the headline per-query number is the MIN across the iterations
  *    that succeeded (steady-state); -1.0 only when every iteration
  *    failed;
  *  - results are materialized through the noop sink, not `.count()` —
  *    count() lets Catalyst prune the projected expressions, so
  *    expression-heavy queries would be under-measured.
  *
  * Self-diagnosis (round 11, VERDICT r10 items 1/2/4): every iteration
  * records wall time PLUS GC-time/GC-count/process-CPU deltas, system
  * load average, and post-iteration heap/storage occupancy into
  * BENCH_FULL.json (see [[BenchReport]] for how each field separates
  * "plan regressed" from "machine contended" from "heap pressure"),
  * and a watchdog-surviving zombie worker taints every subsequent
  * entry in the artifact instead of only logging to stderr.
  *
  * Output contract (round 5 — rounds 1-4 each produced `parsed: null`):
  * the harness keeps only the LAST ~2000 chars of stdout, and the full
  * per-query maps are several KB, so the JSON line start was always
  * truncated away. stdout gets ONE compact line (< 1 KB): the engine
  * total over every timed arm and a headline subset of per-query
  * steady times. The complete per-iteration record goes to
  * BENCH_FULL.json.
  */
object Bench {

  /** One representative per family for the compact stdout line; the
    * full map is in BENCH_FULL.json. Kept short enough that the whole
    * JSON line plus sbt's `[success]` trailer fits in a 2000-char tail. */
  private val Headline = Seq(
    "r01_pricing_summary", "r08_join_agg", "j01_shipping_priority",
    "w01_lead_lag", "f01_string_chain", "d01_exact_dedup",
    "d03_lsh_candidates", "d06_simhash_pairs", "d09_contamination",
    "e01_tumbling_agg", "e02_sessionize", "e11_attribution_join",
    "t01_quality_metrics", "t04_top_bigrams", "v03_knn_bruteforce",
    "v08_topk_rewrite", "v11_lsh_ann", "s02_hll_distinct",
    "s04_cms_freq", "s08_pack_bins", "p03_curation_funnel",
    "x02_knn_codegen", "x03_knn_ivf")

  // ---- telemetry probes (deltas computed around each iteration) ----

  private def gcStats(): (Long, Long) = {
    var ms = 0L; var n = 0L
    val it = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.iterator()
    while (it.hasNext) {
      val b = it.next()
      // -1 means "undefined" for a collector; treat as 0
      ms += math.max(0L, b.getCollectionTime)
      n += math.max(0L, b.getCollectionCount)
    }
    (ms, n)
  }

  private def processCpuMs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val ns = os.getProcessCpuTime
        // keep the -1 "unsupported" sentinel intact: -1/1000000 is 0,
        // which would read as "CPU flat" and manufacture contention
        // evidence in the artifact instead of marking CPU telemetry
        // absent
        if (ns < 0) -1L else ns / 1000000L
      case _ => -1L
    }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Whole-host USER-mode CPU in ms since boot (/proc/stat first
    * line: user + nice + steal). Deliberately NOT system time:
    * kernel threads (writeback kworkers during checkpoint-heavy
    * streaming queries burned 4-9 "cores" in validation runs) belong
    * to no process, so counting system time misreads our own kernel
    * work as a co-tenant; real co-tenants — other JVMs, other
    * benches — burn user time, and steal is hypervisor-level
    * co-tenancy by definition. Ticks are USER_HZ = 100/s on every
    * mainstream Linux (hardcoding avoids a getconf exec per
    * iteration). -1 where /proc/stat is unreadable (non-Linux) — the
    * classifier then falls back to load-average heuristics. */
  private def hostCpuMs(): Long =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f(0) + f(1) + (if (f.length > 7) f(7) else 0L)
      busy * 10L
    } catch { case scala.util.control.NonFatal(_) => -1L }

  private def heapUsedMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  private def storageUsedMb(spark: SparkSession): Long =
    try spark.sparkContext.statusTracker.getExecutorInfos
      .map(i => i.usedOnHeapStorageMemory + i.usedOffHeapStorageMemory)
      .sum / (1024 * 1024)
    catch { case scala.util.control.NonFatal(_) => -1L }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // all host cores unless set: a bench that silently runs local[4]
    // on a 32-core box produces numbers incomparable with every pinned
    // baseline (the artifact's `cpus` field is the tell)
    val cpus = GraftSession.cpus
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    // optional comma-separated name filter for targeted iteration
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // the heap the registry is measured under: this JVM's own max
    // (run/fork's -Xmx, SPARK_DRIVER_MEM). Recorded in the artifact
    // and checked against pins — heap is part of the measurement
    // environment, not an accident of who launched us.
    val benchHeapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)

    // committed clean-session pins for the cross-run regression flag
    // (VERDICT r12 item 1). Pins apply to FULL runs only: a targeted
    // run measures its arms without the JIT/codegen residue of the
    // registry ahead of them (measured: a lone r08 reads 0.817 s vs
    // its 0.31 s full-run pin — conditions, not a regression).
    val (baseline, baselineStatus) =
      if (only.isDefined) (None, "off:targeted_run")
      else loadBaseline(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
          "BENCH_BASELINE.json"), sfDir, benchHeapMb,
        Runtime.getRuntime.availableProcessors(),
        BenchReport.fixtureBytes(sfDir))

    val (results, warmedUp) = runRegistry(only, sfDir, cpus, iters)

    // full-precision detail file (every query, all iterations + the
    // per-iteration GC/CPU/load/memory evidence — see BenchReport).
    // Filtered (SPARK_GRAFT_BENCH_ONLY) runs write BENCH_PARTIAL.json:
    // a targeted iteration must never clobber the committed
    // full-registry artifact (it did, twice, in round 10).
    val detailFile =
      if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_FULL.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(detailFile),
      BenchReport.fullJson(iters, sfDir, cpus, results,
        baseline = baseline, warmup = warmedUp, benchHeapMb = benchHeapMb,
        baselineStatus = baselineStatus).getBytes("UTF-8"))

    val sfNum = raw".*sf([0-9.]+)/?$$".r
      .findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0.1")
    // ONE compact line, printed last so it survives tail truncation
    println(BenchReport.headlineJson(
      results, iters, sfNum, Headline, detailFile,
      baseline = baseline, baselineStatus = baselineStatus))
  }

  /** BENCH_BASELINE.json: `{"sf_dir": ..., "bench_heap_mb": ...,
    * "host_cores": ..., "steady": {query: sec}}` plus provenance keys
    * the reader ignores. Pins only apply when THIS run's measurement
    * environment matches the pinned one:
    *
    *  - `sf_dir` must be equal — an sf1 scaling run compared against
    *    sf0.1 pins manufactured 4 false `regressed` flags;
    *  - `bench_heap_mb` (the measuring JVM's heap) must be within
    *    25% — the r14 driver's 88 GiB-heap run flagged 10 A/B arms
    *    against 8 GiB pins while run totals agreed within 2%: a
    *    GC-ergonomics environment trade, not a plan change, and the
    *    gate must not re-litigate it every cross-environment run
    *    (VERDICT r14 item 1);
    *  - `host_cores` must be equal — a down-cored run is incomparable
    *    with every pin (the r14 local[4] afternoon).
    *
    * Absent/unparseable/mismatched → no pins (the flag simply never
    * fires) — a bench run must not die on its own calibration file.
    * Returns the pins plus a status string the artifact records, so
    * a disabled gate names its own cause instead of reading as
    * "0 regressions". A pin file missing any of the three scope keys
    * is refused too (regenerate it via tools/pin_baseline.py);
    * `fixture_bytes` is checked only where the pin file records it. */
  private[graft] def loadBaseline(path: String, sfDir: String,
      benchHeapMb: Long, hostCores: Int, fixtureBytes: Long = -1L)
      : (Option[Map[String, Double]], String) =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) (None, "off:no_pin_file")
      else {
        import org.json4s._
        val doc = jackson.JsonMethods.parse(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        def str(k: String) = doc \ k match {
          case JString(s) => Some(s); case _ => None
        }
        def num(k: String) = doc \ k match {
          case JInt(v) => Some(v.toLong)
          case JDouble(v) => Some(v.toLong)
          case _ => None
        }
        val pinnedSf = str("sf_dir")
        val pinnedHeap = num("bench_heap_mb")
        val pinnedCores = num("host_cores")
        def off(reason: String): (Option[Map[String, Double]], String) = {
          System.err.println(s"[bench] $reason — cross-run flag disabled")
          (None, s"off:$reason")
        }
        val unscoped = Seq("sf_dir" -> pinnedSf, "bench_heap_mb" -> pinnedHeap,
          "host_cores" -> pinnedCores).collect { case (k, None) => k }
        if (unscoped.nonEmpty)
          off(s"unscoped_pins(missing ${unscoped.mkString(",")})")
        else if (!pinnedSf.contains(sfDir))
          off(s"pins are for sf_dir=${pinnedSf.get}, this run is $sfDir")
        else if (pinnedHeap.exists(h =>
            math.abs(h - benchHeapMb).toDouble / math.max(h, benchHeapMb)
              > 0.25))
          off(s"pins were measured at bench_heap_mb=${pinnedHeap.get}, " +
            s"this run measures at $benchHeapMb")
        else if (pinnedCores.exists(_ != hostCores))
          off(s"pins were measured at host_cores=${pinnedCores.get}, " +
            s"this run has $hostCores")
        // fixture scope: same rows re-written in a different parquet
        // layout/order measure differently (r15: regenerated sf1 read
        // d01 3x its pin) — refuse rather than flag phantom plans
        else if (fixtureBytes >= 0 && num("fixture_bytes").exists(f =>
            f >= 0 && f != fixtureBytes))
          off(s"pins were measured on fixture_bytes=" +
            s"${num("fixture_bytes").get}, this run reads $fixtureBytes")
        else doc \ "steady" match {
          case JObject(kvs) =>
            val pins = kvs.collect {
              case (k, JDouble(v)) => k -> v
              case (k, JInt(v)) => k -> v.toDouble
            }.toMap
            (Some(pins), s"applied(${pins.size})")
          case _ => (None, "off:no_steady_block")
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] baseline unreadable ($path): " +
          s"${e.getMessage} — cross-run flag disabled")
        (None, "off:unreadable")
    }

  /** The registry run: one SparkSession, `iters` timed passes per
    * (filtered) query, telemetry per iteration. Returns the results
    * plus the name of the untimed warmup query (None only when the
    * filter matched nothing). */
  private def runRegistry(only: Option[Set[String]], sfDir: String,
      cpus: String, iters: Int)
      : (Seq[BenchReport.QueryResult], Option[String]) = {
    val spark = GraftSession.builder(cpus).getOrCreate()
    // ERROR, not WARN: benign-but-noisy warnings (e.g. WindowExec's
    // single-partition notice on provably-tiny dim frames) would flood
    // the stdout tail the harness keeps and crowd out the JSON line
    spark.sparkContext.setLogLevel("ERROR")

    // Watchdog (round 9): one wedged query must never hang the whole
    // round (round 7's 786 s cold x03 turned the driver window into
    // rc=124 thrash). Each iteration runs in its own thread under a
    // cancellable job group; past the cap the group is cancelled and
    // the iteration records -2.0 (timed out) vs -1.0 (failed).
    val capSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_CAP_SEC", "300").toLong

    // set once a worker survives cancel+interrupt: its jobs may still
    // be running and can overlap every later timing — from that point
    // every iteration (and the zombie's own) is marked tainted in the
    // artifact, not just in a stderr note the judge never sees
    @volatile var zombieActive = false

    // the arm's lifecycle (its confs, then the run's scratch) wraps
    // the watchdog on this thread: the clock runs inside the worker,
    // so restoring and releasing stay untimed
    def runOnce(arm: GraftQuery): BenchReport.Iter = {
      val name = arm.name
      val group = s"bench-$name-${System.nanoTime()}"
      val taintedBefore = zombieActive
      val load0 = loadAvg()
      val (gcMs0, gcN0) = gcStats()
      val cpu0 = processCpuMs()
      val host0 = hostCpuMs()
      @volatile var result = -1.0
      val sec = Arm.run(spark, arm) {
        val worker = new Thread(() => {
          val t0 = System.nanoTime()
          try {
            // job group is per-thread state — set it in the worker so
            // cancelJobGroup reaches exactly this iteration's jobs
            spark.sparkContext.setJobGroup(group, name,
              interruptOnCancel = true)
            arm.run(spark, sfDir).write.format("noop").mode("overwrite").save()
            result = (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => () } // result stays -1.0
          finally spark.sparkContext.clearJobGroup()
        }, group)
        worker.setDaemon(true)
        worker.start()
        worker.join(capSec * 1000L)
        if (worker.isAlive) {
          System.err.println(s"[bench] $name exceeded ${capSec}s — cancelling")
          spark.sparkContext.cancelJobGroup(group)
          worker.join(30000L)
          if (worker.isAlive) {
            // a worker that survives job-group cancellation is wedged in
            // driver-side code (plan/codegen/collect): interrupt it and
            // wait again — an abandoned-but-running zombie would overlap
            // the next iteration's jobs and race the conf restore,
            // skewing every subsequent timing
            worker.interrupt()
            worker.join(30000L)
            if (worker.isAlive) {
              System.err.println(s"[bench] $name worker survived cancel+" +
                "interrupt — tainting this and all subsequent entries")
              zombieActive = true
            }
          }
          -2.0
        } else result
      }
      val (gcMs1, gcN1) = gcStats()
      val cpu1 = processCpuMs()
      val host1 = hostCpuMs()
      BenchReport.Iter(
        sec = sec,
        gcMs = gcMs1 - gcMs0,
        gcN = gcN1 - gcN0,
        cpuMs = if (cpu0 < 0 || cpu1 < 0) -1L else cpu1 - cpu0,
        heapMb = heapUsedMb(),
        storageMb = storageUsedMb(spark),
        load = load0,
        tainted = taintedBefore || zombieActive,
        hostCpuMs = if (host0 < 0 || host1 < 0) -1L else host1 - host0)
    }

    val registry = SparkEntry.arms
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // untimed warmup pass: the alphabetically-FIRST query runs once
    // and its timing is discarded — it absorbs the fresh JVM's JIT,
    // codegen-compiler, and shuffle-machinery spin-up so the first
    // TIMED entries measure the plan, not the VM (without it c01's
    // cold iteration read 5.8–6.5 s in a full run, vs 0.5 s steady).
    // The name lands in the artifact (`warmup`). Sorted, not
    // headOption: the registry is a HashMap, so headOption made the
    // warmup query hash-order arbitrary (ADVICE r13).
    val orderedNames = registry.keys.toSeq.sorted
    val warmedUp = orderedNames.headOption.map { name =>
      System.err.println(s"[bench] warmup $name (untimed) ...")
      runOnce(registry(name))
      name
    }

    // timed entries run in the same sorted order — reproducible
    // position (who benefits from whose JIT residue) run over run,
    // instead of HashMap iteration order
    val results = orderedNames
      .map { name =>
        // per-query progress to stderr (NOT stdout — the harness parses
        // the stdout tail): makes a wedged or slow query identifiable
        // from the log instead of requiring a thread dump
        System.err.println(s"[bench] $name ...")
        val rs = (0 until iters).map(_ => runOnce(registry(name)))
        System.err.println(s"[bench] $name " +
          rs.map(i => f"${i.sec}%.2f(gc=${i.gcMs}ms)").mkString(","))
        BenchReport.QueryResult(name, rs)
      }.toSeq
    // the arm memos pin executor storage and local dirs per session:
    // release before stop so a long-lived session starts from baseline
    Arm.release(spark)
    spark.stop()
    (results, warmedUp)
  }
}
