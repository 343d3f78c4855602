package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Contract pins for the bench artifact writer (VERDICT r10 items 1/2/4:
  * the artifact must carry the per-iteration evidence, and a zombie
  * worker must taint subsequent entries IN the artifact). Parsed with
  * json4s (ships with Spark) so well-formedness is asserted by a real
  * parser, not string matching. */
class BenchReportSpec extends AnyFunSuite {
  import BenchReport._

  private def iter(sec: Double, gcMs: Long = 10, tainted: Boolean = false) =
    Iter(sec = sec, gcMs = gcMs, gcN = 2, cpuMs = 900, heapMb = 512,
      storageMb = 64, load = 3.5, tainted = tainted)

  private val results = Seq(
    QueryResult("q_fast", Seq(iter(1.5), iter(0.5), iter(0.6))),
    QueryResult("q_flaky", Seq(iter(-1.0), iter(2.0), iter(-1.0))),
    QueryResult("q_wedged", Seq(iter(-2.0), iter(-2.0, tainted = true))),
    QueryResult("q_after_zombie",
      Seq(iter(0.3, tainted = true), iter(0.3, tainted = true))))

  test("steadyOf: min over successes; -2 beats -1 when all fail") {
    assert(steadyOf(Seq(1.5, 0.5, 0.6)) == 0.5)
    assert(steadyOf(Seq(-1.0, 2.0, -1.0)) == 2.0)
    assert(steadyOf(Seq(-1.0, -1.0)) == -1.0)
    assert(steadyOf(Seq(-1.0, -2.0)) == -2.0)
  }

  test("fullJson carries all iteration times and telemetry per query") {
    val doc = JsonMethods.parse(
      fullJson(3, "/root/testdata/sf0.1", "32", results))
    // legacy shape earlier tooling reads
    assert((doc \ "steady" \ "q_fast") == JDouble(0.5))
    assert((doc \ "cold" \ "q_fast") == JDouble(1.5))
    assert((doc \ "sf_dir") == JString("/root/testdata/sf0.1"))
    // the round-11 evidence block
    val d = doc \ "detail" \ "q_fast"
    assert((d \ "times") == JArray(List(JDouble(1.5), JDouble(0.5),
      JDouble(0.6))))
    assert((d \ "gc_ms") == JArray(List(JInt(10), JInt(10), JInt(10))))
    assert((d \ "cpu_ms").asInstanceOf[JArray].arr.length == 3)
    assert((d \ "load") == JArray(List(JDouble(3.5), JDouble(3.5),
      JDouble(3.5))))
    assert((d \ "storage_mb").asInstanceOf[JArray].arr.length == 3)
    assert((d \ "tainted") == JBool(false))
    // env snapshot present with sane values
    assert((doc \ "env" \ "host_cores").asInstanceOf[JInt].num.toInt > 0)
  }

  test("run-level external-CPU totals land in both artifacts " +
      "(VERDICT r13 item 1: clean-but-slow runs carry evidence)") {
    // own cpu 900ms; host 2900ms over 1.0s -> 2.0 ext cores, 2.0 ext sec
    // second iter: host 1400ms over 0.5s -> 1.0 ext cores, 0.5 ext sec
    val rs = Seq(QueryResult("q", Seq(
      Iter(1.0, 10, 2, 900, 512, 64, 3.5, tainted = false,
        hostCpuMs = 2900),
      Iter(0.5, 10, 2, 900, 512, 64, 3.5, tainted = false,
        hostCpuMs = 1400))))
    val (tot, mx) = extCpuTotals(rs)
    assert(math.abs(tot - 2.5) < 1e-9)
    assert(math.abs(mx - 2.0) < 1e-9)
    val doc = JsonMethods.parse(fullJson(2, "d", "32", rs))
    assert((doc \ "ext_cpu_sec_total") == JDouble(2.5))
    assert((doc \ "ext_cores_max") == JDouble(2.0))
    val line = JsonMethods.parse(headlineJson(rs, 2, "0.1", Nil))
    assert((line \ "ext_cpu_sec") == JDouble(2.5))
    // -1 "unsupported" sentinels contribute nothing, not garbage
    val (tot0, mx0) = extCpuTotals(results)
    assert(tot0 == 0.0 && mx0 == 0.0)
  }

  test("a zombie taints its own and subsequent entries") {
    val doc = JsonMethods.parse(fullJson(2, "d", "4", results))
    assert((doc \ "detail" \ "q_wedged" \ "tainted") == JBool(true))
    assert((doc \ "detail" \ "q_after_zombie" \ "tainted") == JBool(true))
    assert((doc \ "detail" \ "q_fast" \ "tainted") == JBool(false))
  }

  test("headline line is compact, totals every arm, and counts " +
      "failures/taints") {
    val line = headlineJson(results :+
        QueryResult("x_arm", Seq(iter(100.0))),
      3, "0.1", Seq("q_fast", "q_flaky"))
    assert(line.length < 1000, s"headline line too long: ${line.length}")
    val doc = JsonMethods.parse(line)
    // 0.5 + 2.0 + 0 + 0.3 + 100 (q_after_zombie counted; negatives
    // clamp 0)
    assert((doc \ "value") == JDouble(102.8))
    assert((doc \ "total_with_ab_baselines") == JNothing)
    assert((doc \ "failed") == JInt(0))
    assert((doc \ "timed_out") == JInt(1))
    assert((doc \ "tainted") == JInt(2))
    assert((doc \ "queries" \ "q_fast") == JDouble(0.5))
  }

  test("contendedFlags: high load flags an iteration; flat-load runs " +
      "stay clean; sentinels read as no-evidence") {
    def it(sec: Double, cpu: Long, load: Double, gc: Long = 10) =
      Iter(sec, gc, 2, cpu, 512, 64, load, tainted = false)
    // clean-session shape: load ~2.7 on 32 cores, stable walls
    val clean = Seq(it(2.3, 5900, 2.7), it(0.78, 1700, 2.7),
      it(0.81, 1400, 2.7))
    assert(contendedFlags(clean, 32) == Seq(false, false, false))
    assert(!steadyContended(clean, 32))
    // driver-contended x03 shape: load 6-9, every wall inflated —
    // load alone must flag it (incl. the steady-defining min)
    val cont = Seq(it(17.1, 34300, 8.7), it(9.3, 28080, 7.0),
      it(7.2, 16970, 6.2))
    assert(contendedFlags(cont, 32) == Seq(true, true, true))
    assert(steadyContended(cont, 32))
    // interference without a load spike: a WARM iteration at wall >2x
    // best AND cpu >1.6x best cpu, GC flat -> flagged; the best
    // iteration is not, and neither is an expensive COLD pass (idx 0
    // is exempt from the interference clause — codegen/cache fill is
    // real work, which is exactly the `clean` shape above)
    val thrash = Seq(it(0.5, 2000, 3.0), it(1.4, 3600, 3.0),
      it(0.52, 2100, 3.0))
    assert(contendedFlags(thrash, 32) == Seq(false, true, false))
    assert(!steadyContended(thrash, 32)) // steady (0.5) is trustworthy
    // same wall/cpu inflation but GC-dominated -> heap pressure, NOT
    // laundered into a contention claim
    val heap = Seq(it(0.5, 2000, 3.0), it(1.4, 3600, 3.0, gc = 600))
    assert(contendedFlags(heap, 32) == Seq(false, false))
    // -1 telemetry sentinels (unsupported probes) produce no evidence
    val noTel = Seq(it(0.5, -1, -1.0), it(1.4, -1, -1.0))
    assert(contendedFlags(noTel, 32) == Seq(false, false))
    // all-failed query: nothing to compare against
    assert(contendedFlags(Seq(it(-1.0, 10, 2.0)), 32) == Seq(false))
  }

  test("contention verdicts land in both artifacts") {
    def it(sec: Double, load: Double) =
      Iter(sec, 10, 2, 900, 512, 64, load, tainted = false)
    val rs = Seq(
      QueryResult("q_clean", Seq(it(1.0, 2.0), it(0.5, 2.0))),
      QueryResult("q_cont", Seq(it(9.0, 9.0), it(8.0, 9.0))))
    val doc = JsonMethods.parse(
      fullJson(2, "d", "32", rs, hostCores = 32,
        warmup = Some("q_clean"), benchHeapMb = 8192L))
    assert((doc \ "detail" \ "q_cont" \ "contended") ==
      JArray(List(JBool(true), JBool(true))))
    assert((doc \ "detail" \ "q_cont" \ "steady_contended") == JBool(true))
    assert((doc \ "detail" \ "q_clean" \ "steady_contended") == JBool(false))
    assert((doc \ "env" \ "load_thresh") == JDouble(4.0))
    assert((doc \ "env" \ "ext_load_margin") == JDouble(32 / 12.0))
    // one JVM measures every arm: the artifact names its warmup once
    // at top level and records the heap once, with no per-group block
    assert((doc \ "warmup") == JString("q_clean"))
    assert((doc \ "fork_groups") == JNothing)
    val envKeys = (doc \ "env").asInstanceOf[JObject].obj.map(_._1)
    assert(envKeys.filter(_.contains("heap")) == List("bench_heap_mb"))
    assert((doc \ "env" \ "bench_heap_mb") == JInt(8192))
    val line = JsonMethods.parse(headlineJson(rs, 2, "0.1", Nil,
      hostCores = 32))
    assert((line \ "contended") == JInt(1))
  }

  test("direct external-CPU evidence (host_cpu_ms) overrides every " +
      "load heuristic: own burn reads as 0 external, a co-tenant as " +
      "its cores") {
    def it(sec: Double, cpuMs: Long, hostMs: Long, load: Double) =
      Iter(sec, 10, 2, cpuMs, 512, 64, load, tainted = false,
        hostCpuMs = hostMs)
    // the measured mid-bench shape on a VERIFIED-quiet host: load 6+
    // (self-inflicted by preceding heavy queries, 1-min decay) but
    // host busy ≈ own busy — must NOT flag
    val quiet = Seq(it(0.3, 450, 500, 6.1), it(0.2, 300, 320, 6.1))
    assert(contendedFlags(quiet, 32) == Seq(false, false))
    assert(externalCores(quiet.head).exists(_ < 0.2))
    // r12 driver shape: co-tenant burning ~6 cores while we burn ~1
    val cotenant = Seq(it(2.0, 2000, 14000, 7.0), it(1.9, 1900, 13500, 7.0))
    assert(contendedFlags(cotenant, 32) == Seq(true, true))
    // host probe missing (-1, non-Linux) → falls back to the
    // discounted-load rule, which DOES flag this low-own/high-load shape
    val noHost = Seq(it(2.0, 2000, -1, 7.0), it(1.9, 1900, -1, 7.0))
    assert(contendedFlags(noHost, 32) == Seq(true, true))
  }

  test("the load clause discounts the query's own parallelism before " +
      "thresholding (ADVICE r12: self-load must not read as a co-tenant)") {
    def it(sec: Double, cpuMs: Long, load: Double) =
      Iter(sec, 10, 2, cpuMs, 512, 64, load, tainted = false)
    // c07_pagerank's shape: ~14 busy cores of its OWN, load 5.6-6.0 —
    // the r12 rule flagged this; discounted external load is ~0
    val heavyClean = Seq(it(3.0, 42000, 5.8), it(2.8, 40000, 6.0))
    assert(contendedFlags(heavyClean, 32) == Seq(false, false))
    assert(selfCores(heavyClean, 32).exists(c => c > 13 && c < 15))
    // a genuinely contended low-parallelism query: own burn ~1 core,
    // load 7 — external ~6 cores, flagged under the same rule
    val cont = Seq(it(3.0, 3000, 7.0), it(2.8, 2900, 7.2))
    assert(contendedFlags(cont, 32) == Seq(true, true))
    // no CPU telemetry anywhere -> discount unavailable -> legacy raw
    // threshold (cores/8) still applies
    val noCpu = Seq(it(3.0, -1, 7.0), it(2.8, -1, 2.0))
    assert(contendedFlags(noCpu, 32) == Seq(true, false))
  }

  test("regressed_vs_baseline fires on the r08/r20 signature and only " +
      "then: uniform inflation, clean within-run signals") {
    def it(sec: Double, load: Double) =
      Iter(sec, 10, 2, (sec * 900).toLong, 512, 64, load, tainted = false)
    // r08's r12 shape: steady 1.824 vs pinned 0.351, load moderate,
    // CPU proportional — within-run clean, cross-run regressed
    val r08 = Seq(it(2.1, 2.5), it(1.9, 2.5), it(1.824, 2.5))
    assert(regressedVsBaseline(r08, 32, pin = 0.351))
    // same steady but the steady iteration is contention-flagged ->
    // already explained, not double-reported as a regression
    val cont = Seq(it(2.1, 9.0), it(1.9, 9.0), it(1.824, 9.0))
    assert(!regressedVsBaseline(cont, 32, pin = 0.351))
    // small absolute drift on a millisecond query stays below the
    // 2x + 0.2s floor
    assert(!regressedVsBaseline(Seq(it(0.12, 2.5)), 32, pin = 0.05))
    // healthy steady at its pin
    assert(!regressedVsBaseline(Seq(it(0.36, 2.5)), 32, pin = 0.351))
    // all-failed query never counts as regressed
    val failed = Seq(Iter(-1.0, 0, 0, -1, 0, 0, -1.0, tainted = false))
    assert(!regressedVsBaseline(failed, 32, pin = 0.351))

    // and the artifact wiring: baseline_sec + flag in detail, count in
    // the headline line
    val rs = Seq(QueryResult("r08_join_agg", r08),
      QueryResult("q_unpinned", Seq(it(0.5, 2.5))))
    val pins = Some(Map("r08_join_agg" -> 0.351))
    val doc = JsonMethods.parse(fullJson(3, "d", "32", rs,
      hostCores = 32, baseline = pins))
    assert((doc \ "detail" \ "r08_join_agg" \ "baseline_sec")
      == JDouble(0.351))
    assert((doc \ "detail" \ "r08_join_agg" \ "regressed_vs_baseline")
      == JBool(true))
    assert((doc \ "detail" \ "q_unpinned" \ "baseline_sec") == JNull)
    assert((doc \ "detail" \ "q_unpinned" \ "regressed_vs_baseline")
      == JBool(false))
    val line = JsonMethods.parse(headlineJson(rs, 3, "0.1", Nil,
      hostCores = 32, baseline = pins))
    assert((line \ "regressed") == JInt(1))
  }

  test("environment scoping lands in both artifacts: bench_heap_mb in " +
      "env, pin-gate status in full + headline (VERDICT r14 item 1)") {
    val rs = Seq(QueryResult("q", Seq(iter(1.0))))
    val doc = JsonMethods.parse(fullJson(1, "d", "32", rs,
      benchHeapMb = 8192L, baselineStatus = "applied(197)"))
    assert((doc \ "env" \ "bench_heap_mb") == JInt(8192))
    assert((doc \ "baseline_status") == JString("applied(197)"))
    // fixture fingerprint recorded (-1 here: "d" is not a real dir)
    assert((doc \ "env" \ "fixture_bytes") == JInt(-1))
    val line = JsonMethods.parse(headlineJson(rs, 1, "0.1", Nil,
      baselineStatus =
        "off:pins were measured at bench_heap_mb=8192"))
    assert((line \ "pins") ==
      JString("off:pins were measured at bench_heap_mb=8192"))
  }

  test("loadBaseline refuses pins from a different environment and " +
      "names the cause; matching env applies (VERDICT r14 item 1)") {
    val dir = java.nio.file.Files.createTempDirectory("pins")
    def write(json: String): String = {
      val p = dir.resolve(s"pins${json.hashCode}.json")
      java.nio.file.Files.write(p, json.getBytes("UTF-8"))
      p.toString
    }
    val scoped = write("""{"sf_dir": "d", "bench_heap_mb": 8192,
      "host_cores": 32, "steady": {"q": 0.5}}""")
    // exact match → applied
    assert(Bench.loadBaseline(scoped, "d", 8192L, 32) ==
      (Some(Map("q" -> 0.5)), "applied(1)"))
    // heap within 25% tolerance (maxMemory jitter) still applies
    assert(Bench.loadBaseline(scoped, "d", 7800L, 32)._1.isDefined)
    // the r14 driver shape: 91136 MB run vs 8192 MB pins → off, named
    val big = Bench.loadBaseline(scoped, "d", 91136L, 32)
    assert(big._1.isEmpty && big._2.startsWith("off:") &&
      big._2.contains("bench_heap_mb=8192"), big._2)
    // cores mismatch → off, named
    val cores = Bench.loadBaseline(scoped, "d", 8192L, 4)
    assert(cores._1.isEmpty && cores._2.contains("host_cores=32"))
    // sf_dir mismatch still refused (the pre-r15 rule)
    assert(Bench.loadBaseline(scoped, "other", 8192L, 32)._1.isEmpty)
    // a pin file without its scope keys is refused, and the status
    // names the missing keys
    val legacy = write("""{"sf_dir": "d", "steady": {"q": 0.5}}""")
    assert(Bench.loadBaseline(legacy, "d", 8192L, 32) ==
      (None, "off:unscoped_pins(missing bench_heap_mb,host_cores)"))
    // absent file → named, not an error
    assert(Bench.loadBaseline(dir.resolve("nope.json").toString,
      "d", 8192L, 32) == (None, "off:no_pin_file"))
    // fixture fingerprint (r15): same sf_dir, regenerated bytes → off,
    // named — a re-laid-out fixture must read "different fixture",
    // never "regressed"
    val fx = write("""{"sf_dir": "d", "bench_heap_mb": 8192,
      "host_cores": 32, "fixture_bytes": 1000, "steady": {"q": 0.5}}""")
    assert(Bench.loadBaseline(fx, "d", 8192L, 32, 1000L)._1.isDefined)
    val moved = Bench.loadBaseline(fx, "d", 8192L, 32, 1001L)
    assert(moved._1.isEmpty && moved._2.contains("fixture_bytes=1000"),
      moved._2)
    // a pin file without the fingerprint (pre-r15, or the read-only
    // driver fixture) stays applicable regardless of the run's bytes
    assert(Bench.loadBaseline(scoped, "d", 8192L, 32, 1001L)._1.isDefined)
    // a run that could not fingerprint (-1) never disables the gate
    assert(Bench.loadBaseline(fx, "d", 8192L, 32, -1L)._1.isDefined)
  }

  test("JSON string escaping survives hostile names") {
    val doc = JsonMethods.parse(fullJson(1, "dir\"with\\quote", "4",
      Seq(QueryResult("q\"x", Seq(iter(1.0))))))
    assert((doc \ "sf_dir") == JString("dir\"with\\quote"))
    assert((doc \ "steady" \ "q\"x") == JDouble(1.0))
  }

  test("non-numeric cpus (local[*]) stays parseable as a string") {
    val doc = JsonMethods.parse(fullJson(1, "d", "*",
      Seq(QueryResult("q", Seq(iter(1.0))))))
    assert((doc \ "cpus") == JString("*"))
    val num = JsonMethods.parse(fullJson(1, "d", "32",
      Seq(QueryResult("q", Seq(iter(1.0))))))
    assert((num \ "cpus") == JInt(32))
  }
}
