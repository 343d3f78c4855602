#!/usr/bin/env python3
"""Build/refresh BENCH_BASELINE.json — the committed per-query
clean-session steady pins that Bench's cross-run regression flag
(`regressed_vs_baseline`) compares against.

Usage: python3 tools/pin_baseline.py BENCH_FULL.json [-o PINFILE]
           [--note "..."]

-o PINFILE writes/merges a different pin file (default
BENCH_BASELINE.json) — SF-scoped pin sets live in separate files
(e.g. BENCH_BASELINE_SF1.json), selected at bench time via
SPARK_GRAFT_BENCH_BASELINE; Bench itself refuses pins whose sf_dir
differs from the run's.

Environment scoping (VERDICT r14 item 1 — the r14 driver's 88 GiB-heap
run flagged 10 arms against 8 GiB pins while run totals agreed within
2%): the pin file records the source run's measurement environment
(`bench_heap_mb` — the heap the measuring JVM ran under — and
`host_cores`), Bench refuses pins whose
environment differs from the run's, and THIS tool refuses to merge a
run into a pin file taken under a different environment (or sf_dir) —
histories mixing heap sizes would pin a number no single environment
ever measures. Use a separate -o file per environment, or delete the
pin file after an intentional environment change.

Policy (VERDICT r13 item 1 — replaces the r12 min-ratcheting policy,
which converged every pin to its best-ever reading so ordinary noise
tripped the 2x+0.2s gate: 7 false regressions in the r13 driver run):
- only CLEAN runs contribute: a query whose steady iteration is
  contention-flagged, tainted, or failed in the source run adds
  nothing to its history — a contaminated number must never become
  the yardstick;
- each clean run contributes the MEDIAN of its successful iterations
  (the run's typical cost; the min is codegen-cache/scheduler luck);
- the file keeps a bounded per-query history of run medians (newest
  last, capped at HISTORY_CAP); the pin is the median of that
  history, so one lucky or unlucky run moves the pin by at most one
  rank instead of ratcheting it permanently;
- Bench compares its run MIN against the pin, so the gate has slack
  on both sides: pin = typical-of-typicals, measured = best-of-run.
After an intentional perf change, delete the query's entry (or the
file) so stale history doesn't flag the new steady.

The written shape is what Bench.loadBaseline reads (it consumes
`sf_dir`, `bench_heap_mb`, `host_cores`, `steady`; `history` is this
tool's own state):
  {"pinned_from": ..., "sf_dir": ..., "bench_heap_mb": ...,
   "host_cores": ..., "note": ..., "steady": {q: sec},
   "history": {q: [sec, ...]}}
"""
import argparse
import json
import os
import sys
from statistics import median

HISTORY_CAP = 5


def source_env(doc):
    """(bench_heap_mb, host_cores, fixture_bytes) of the run.
    fixture_bytes fingerprints the parquet fixture itself: a
    regenerated fixture with identical rows in a different parquet
    layout measures differently (r15: d01 read 3x its pin on a
    re-generated sf1), so pins are scoped to the exact bytes."""
    env = doc.get("env", {})
    return (env.get("bench_heap_mb"), env.get("host_cores"),
            env.get("fixture_bytes"))


def main(full_path, note, out):
    doc = json.load(open(full_path))
    detail = doc.get("detail", {})
    heap, cores, fixture = source_env(doc)
    fresh = {}
    skipped = []
    for name, d in sorted(detail.items()):
        ok = [t for t in d["times"] if t >= 0]
        if not ok or d.get("tainted") or \
                d.get("steady_contended") in (True, "true"):
            skipped.append(name)
            continue
        fresh[name] = round(median(ok), 4)

    hist = {}
    if os.path.exists(out):
        prev = json.load(open(out))
        # refuse to merge across environments: a history mixing heap
        # sizes or sf_dirs pins a number no single environment measures
        for key, new in (("sf_dir", doc.get("sf_dir")),
                         ("bench_heap_mb", heap),
                         ("host_cores", cores),
                         ("fixture_bytes", fixture)):
            old = prev.get(key)
            if old is not None and new is not None and old != new:
                sys.exit(
                    f"refusing to merge: {out} was pinned at {key}={old}, "
                    f"this run measured at {key}={new}.\n"
                    f"Use a separate -o file per environment, or delete "
                    f"{out} if the change is intentional.")
        hist = prev.get("history", {})
        if not hist:
            # migrate a pre-history pin file: its steady values seed
            # one-entry histories so old clean evidence isn't discarded
            hist = {q: [s] for q, s in prev.get("steady", {}).items()}
    for name, sec in fresh.items():
        hist[name] = (hist.get(name, []) + [sec])[-HISTORY_CAP:]
    steady = {q: round(median(h), 4) for q, h in hist.items()}

    json.dump({
        "pinned_from": os.path.basename(full_path),
        "sf_dir": doc.get("sf_dir"),
        "bench_heap_mb": heap,
        "host_cores": cores,
        "fixture_bytes": fixture,
        "note": note or
            "median-of-clean-run-medians pins; see tools/pin_baseline.py",
        "steady": dict(sorted(steady.items())),
        "history": dict(sorted(hist.items())),
    }, open(out, "w"), indent=1)
    print(f"pinned {len(fresh)} fresh / {len(steady)} total "
          f"(bench_heap_mb={heap}, host_cores={cores}); "
          f"skipped (unclean in source): {len(skipped)}")
    if skipped:
        print("  " + ", ".join(skipped[:20]) +
              (" ..." if len(skipped) > 20 else ""))


if __name__ == "__main__":
    ap = argparse.ArgumentParser(
        description="Merge a BENCH_FULL.json run into the committed "
                    "pin file (median-of-clean-run-medians policy).")
    ap.add_argument("full", help="source BENCH_FULL.json artifact")
    ap.add_argument("-o", "--out", default="BENCH_BASELINE.json",
                    help="pin file to write/merge (default "
                         "BENCH_BASELINE.json)")
    ap.add_argument("--note", default="", nargs="?",
                    help="free-form provenance note")
    # legacy positional note words (pre-argparse invocations)
    ap.add_argument("note_words", nargs="*", help=argparse.SUPPRESS)
    a = ap.parse_args()
    main(a.full, a.note or " ".join(a.note_words), a.out)
