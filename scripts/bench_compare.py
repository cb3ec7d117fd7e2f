#!/usr/bin/env python
"""Per-query bench regression check against a baseline bench JSON.

The reference publishes no benchmark numbers (BASELINE.md), so the
default baseline is BENCH_baseline.json — a canary-bearing per-query
record (round 8: min of 5 solo foreground runs) that supersedes the
canary-less r1-r5 bests, which produced unfalsifiable raw-drift flags
(r7's exact_substring_spans adjudication, recorded in that file's
provenance block). If BENCH_baseline.json is absent, falls back to the
per-query PREVIOUS BEST across every BENCH_r*.json — comparing only
against a fixed early round masked the round-3 fuzzy_name_pairs
regression, because that query happened to be slow in round 1 too
(r3 verdict finding #2). Runs `bench.py`, compares each query's wall
time, and flags regressions beyond the threshold (default 1.5x).

Host normalization: hosts vary across rounds (round 6 measured a
uniform 1.08-1.58x drift on identical code+data — 19 false raw flags).
bench.py records fixed-size canaries (canary_jvm_sec / canary_py_sec)
alongside the suite; when BOTH the current run and the round that
produced a query's baseline carry canaries, the flag decision uses the
CANARY-NORMALIZED ratio — raw numbers are still printed (the driver's
2x gate is raw), but a uniform host drift no longer reads as N code
regressions. Baselines from canary-less rounds (r1-r5) fall back to
raw flagging for that query.

Usage:
    python scripts/bench_compare.py [baseline.json] [threshold]

Exit code 1 iff any per-query regression exceeds the threshold.
Timings at these scales carry ~0.3 s of scheduler noise per query, so
small absolute deltas are reported but never flagged.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

ABS_NOISE_SEC = 0.5  # deltas below this are scheduler noise, never flagged

# Queries whose local-mode cost is dominated by eager multi-job
# structure rather than data volume — printed as context when they
# drift, so a noisy rerun isn't mistaken for a plan regression.
INTRINSIC_COST_NOTES = {
    "ann_pq_topk": (
        "the floor is its job chain, not data volume: 5 jobs train the "
        "codebook (one eager checkpoint of the m*k-row books) and 9 run "
        "encode, ADC, shortlist and re-rank, 14 in all at sf0.1 (about "
        "1.2 s build and 2.5 s total on a 4-core host). Building the "
        "DataFrame costs ~1.3k py4j commands, pinned by "
        "tests/test_driver_cost.py; a build-time jump means an "
        "expression builder regrew, not noise."
    ),
}


def _load_bench(path: str) -> dict:
    with open(path) as f:
        base = json.load(f)
    # driver-recorded BENCH_r{N}.json wraps the bench line under "parsed"
    if "queries" not in base and isinstance(base.get("parsed"), dict):
        base = base["parsed"]
    return base


def _canary(b: dict) -> "float | None":
    """The JVM canary is the Spark-speed proxy; py is the fallback."""
    return b.get("canary_jvm_sec") or b.get("canary_py_sec") or None


def _best_of_rounds(repo: str) -> dict:
    """Synthetic baseline: per-query minimum over all BENCH_r*.json,
    tracking the canary of the round each best time came from so the
    comparison can be host-normalized per query."""
    paths = sorted(glob.glob(os.path.join(repo, "BENCH_r*.json")))
    if not paths:
        raise SystemExit("no BENCH_r*.json baseline found")
    queries: dict[str, float] = {}
    canaries: dict[str, "float | None"] = {}
    total = None
    for p in paths:
        b = _load_bench(p)
        for name, t in b.get("queries", {}).items():
            if name not in queries or t < queries[name]:
                queries[name] = t
                canaries[name] = _canary(b)
        total = b.get("value", total)  # latest round's total for context
    print(f"baseline: per-query best over {len(paths)} round(s): "
          f"{', '.join(os.path.basename(p) for p in paths)}")
    return {"queries": queries, "canaries": canaries, "value": total}


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 1.5

    # BENCH_SET=extended / extended2 bench the rotating tranche suites
    # (bench.py inherits the env via subprocess); each tranche keeps
    # its own canary-bearing baseline record so per-round extended
    # coverage accumulates instead of freezing at the first 8.
    bench_set = os.environ.get("BENCH_SET", "headline")
    default_base = os.path.join(
        repo,
        "BENCH_baseline.json" if bench_set == "headline"
        else f"BENCH_{bench_set}.json",
    )
    if len(sys.argv) > 1:
        base = _load_bench(sys.argv[1])
        base["canaries"] = {
            name: _canary(base) for name in base.get("queries", {})
        }
    elif os.path.exists(default_base):
        base = _load_bench(default_base)
        base["canaries"] = {
            name: _canary(base) for name in base.get("queries", {})
        }
        print(f"baseline: {os.path.basename(default_base)} (canary-bearing)")
    else:
        base = _best_of_rounds(repo)

    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        capture_output=True, text=True, check=True,
    )
    cur = json.loads(out.stdout.strip().splitlines()[-1])
    cur_canary = _canary(cur)
    if cur_canary:
        print(
            f"host canary: jvm {cur.get('canary_jvm_sec', 0):.3f}s / "
            f"py {cur.get('canary_py_sec', 0):.3f}s (current host)"
        )

    flagged = []
    for name, t in sorted(cur["queries"].items()):
        b = base["queries"].get(name)
        if b is None:
            print(f"{name}: {t:.2f}s (new — no baseline)")
            continue
        raw_ratio = t / b if b else float("inf")
        base_canary = base.get("canaries", {}).get(name)
        if cur_canary and base_canary:
            host_ratio = cur_canary / base_canary
            norm_ratio = raw_ratio / host_ratio
            norm_txt = f", {norm_ratio:.2f}x host-normalized"
            gate = norm_ratio
        else:
            norm_txt = ", raw gate (no canary on baseline round)"
            gate = raw_ratio
        mark = ""
        if gate > threshold and (t - b) > ABS_NOISE_SEC:
            mark = f"  <-- REGRESSION >{threshold}x"
            flagged.append(name)
        print(
            f"{name}: {t:.2f}s vs baseline {b:.2f}s "
            f"({raw_ratio:.2f}x raw{norm_txt}){mark}"
        )
        rep = cur.get("reprobes", {}).get(name)
        if rep:
            # bench.py already self-adjudicated this reading: show the
            # in-suite value and the re-probe's paired canary so a
            # flagged query carries its own host-window evidence
            print(
                f"    reprobed: in-suite {rep['initial']:.2f}s -> "
                f"solo {rep['reprobe']:.2f}s (canary "
                f"{rep['canary_jvm_at_reprobe']:.3f}s at reprobe)"
            )
        if name in INTRINSIC_COST_NOTES and gate > 1.2:
            print(f"    note: {INTRINSIC_COST_NOTES[name]}")

    print(
        f"total: {cur['value']:.2f}s vs baseline {base['value']:.2f}s "
        f"({cur['value'] / base['value']:.2f}x raw); "
        f"{len(flagged)} regression(s): {flagged or 'none'}"
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
