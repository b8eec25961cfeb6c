#!/usr/bin/env python3
"""Mechanical bench-regression gate: compare a bench run (the JSON line
graft.Bench prints / writes to bench_full.json) against the checked-in
BENCH_BASELINE.json and fail on per-query regressions.

Usage: tools/bench_diff.py <bench_full.json> [more_runs.json ...] [--baseline baseline.json]

Exit 1 if any query regresses by more than THRESHOLD x vs its baseline
time (absolute floor ABS_FLOOR seconds, so scheduling jitter on
sub-second queries never trips the gate; floor raised 0.75 -> 1.0 in
r13, documented in BENCH_BASELINE provenance / OPTIMIZATION_r13.md), or
if a baseline query is missing from the run. When MULTIPLE run files
are given, a face counts as regressed if its MEDIAN across the runs
crosses the gate (r13 advisory: min let an intermittent regression hide
behind one lucky run; median absorbs a single stall). With exactly two
runs (the back-to-back pair the drift discipline prescribes) the median
is the mean, so one stall would still inflate the gated value by half
its length: a pair is gated on its MIN instead. Every run is compared
against the SAME baseline file — there is no positional-baseline form;
pass --baseline explicitly to override BENCH_BASELINE.json.
"""
import json
import statistics
import sys

THRESHOLD = 2.0     # x baseline
ABS_FLOOR = 1.0     # s: ignore regressions that stay under this wall time


def load(path):
    with open(path) as f:
        doc = json.load(f)
    return doc.get("queries", {}), doc


def main():
    args = sys.argv[1:]
    base_path = "BENCH_BASELINE.json"
    if "--baseline" in args:
        i = args.index("--baseline")
        base_path = args[i + 1]
        del args[i:i + 2]
    if not args:
        print(__doc__)
        return 2
    runs = [load(p) for p in args]
    run_doc = runs[0][1]
    # median across 3+ runs: one stalled run cannot flag a face, and one
    # lucky run cannot hide a consistent regression (r13 advisory — the
    # old min-across-runs did the latter); a pair's median is its mean,
    # which a single stall still moves, so a pair takes its min
    samples = {}
    for q, _ in runs:
        for k, v in q.items():
            samples.setdefault(k, []).append(v)
    agg = min if len(runs) == 2 else statistics.median
    run = {k: agg(vs) for k, vs in samples.items()}
    base, _ = load(base_path)
    print(f"baseline: {base_path}; runs: {', '.join(args)} "
          f"({agg.__name__} of {len(runs)})")

    bad, missing = [], []
    for name, b in sorted(base.items()):
        if name not in run:
            missing.append(name)
            continue
        r = run[name]
        if r > max(b * THRESHOLD, ABS_FLOOR):
            bad.append((name, b, r))
    new = sorted(set(run) - set(base))

    triggers = run_doc.get("triggers", {})
    for name, b, r in sorted(bad, key=lambda x: x[2] / max(x[1], 1e-9),
                             reverse=True):
        # streaming faces carry per-trigger wall times (min pass):
        # report how much of the regressed wall is trigger machinery so
        # adjudication can separate machinery variance from plan cost
        ts = triggers.get(name)
        extra = (f" [{len(ts)} triggers, {sum(ts):.2f}s inside triggers]"
                 if ts else "")
        print(f"REGRESSED {name}: {b:.2f}s -> {r:.2f}s "
              f"({r / max(b, 1e-9):.1f}x){extra}")
    for name in missing:
        print(f"MISSING   {name}: in baseline, absent from run")
    if new:
        print(f"new queries (not in baseline): {', '.join(new)}")
    if run_doc.get("failed"):
        print(f"FAILED queries in run: {run_doc['failed']}")

    n_ok = len(base) - len(bad) - len(missing)
    print(f"{n_ok}/{len(base)} baseline queries within {THRESHOLD}x "
          f"(abs floor {ABS_FLOOR}s); {len(new)} new")
    return 1 if (bad or missing or run_doc.get("failed")) else 0


if __name__ == "__main__":
    sys.exit(main())
