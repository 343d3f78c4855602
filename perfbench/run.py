#!/usr/bin/env python3
"""Run one end-to-end benchmark workload of the graft engine.

    python3 perfbench/run.py --workload nightly_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the library together
with the benchmark (sbt, offline) into perfbench/target and records the
runtime classpath; later runs reuse it while no source changed. The
measured JVM is then started directly from that classpath. Its last stdout
line carries every metric it measured; this script prints, as its own last
line, one JSON object holding exactly the metrics BENCHMARK.json lists for
the mode (--trace 0: end_to_end, --trace 1: per_layer). It exits non-zero
when the build, the run or an output check fails. Full artifacts (input
properties and digests, check details, host record, spans) land in
perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
OUT = HERE / "out"
CLASSPATH = HERE / "target" / "runtime-classpath.txt"
STAMP = HERE / "target" / "build-stamp.txt"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (LIB_SRC, HERE / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == stamp:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = HERE / "target" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    if r.returncode != 0 or not CLASSPATH.exists():
        fail(f"build failed (sbt exit {r.returncode})", 3)
    STAMP.write_text(stamp)
    return CLASSPATH.read_text().strip()


def java_cmd(classpath, args):
    java_home = os.environ.get("JAVA_HOME")
    java = str(Path(java_home) / "bin" / "java") if java_home else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # fixed heap and the throughput collector: no heap resizing or
    # concurrent GC threads competing with the four task threads
    return [java, *opens, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
            "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", str(OUT)]


def run_jvm(cmd):
    """Run the measured JVM in its own process group; return its stdout."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("BENCHMARK.json not found at the repository root", 2)
    if not LIB_SRC.is_dir():
        fail(f"library sources not found under {LIB_SRC.relative_to(ROOT)}; "
             "run from a full checkout", 2)
    spec = json.loads(spec_path.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}", 2)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classpath = build()
    started = time.time()
    try:
        code, out = run_jvm(java_cmd(classpath, args))
    finally:
        for w in OUT.glob("work-*"):  # left behind only by a failed JVM
            shutil.rmtree(w, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        res = json.loads(lines[-1])
        measured = res["metrics"]
    except (IndexError, ValueError, KeyError, TypeError):
        fail(f"run produced no result (exit {code})", 5)

    metrics = {}
    for m in wanted:
        got = measured.get(m["name"])
        if got is None:
            fail(f"metric {m['name']} was not measured", 5)
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} measured in {got['unit']}, "
                 f"BENCHMARK.json says {m['unit']}", 5)
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    correct = bool(res["correct"]) and code == 0
    print(f"perfbench: {args.workload} seed {args.seed} done in "
          f"{time.time() - started:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
