#!/usr/bin/env python3
"""Compare graft's benchmark between two commits.

    python3 graftbench/compare.py run --parent DIR --change DIR \\
        [--workloads w1,w2] [--pairs 10] [--seed0 1000] --out pairs.jsonl
    python3 graftbench/compare.py report pairs.jsonl

DIR is a checkout of each commit (for example
`mkdir p && git archive <sha> | tar -x -C p`), each holding graftbench/.
`run` runs `graftbench/run.py --trace 0` on both sides in pairs, one seed
per pair, alternating which side runs first, each run as long as
`run_seconds` in the BENCHMARK.json beside graftbench/ here. It appends
every record to --out, then prints the report. `report` reads such a file.

For each workload and end-to-end metric the report gives each side's
median and quartiles, the share of pairs the change won (ties count for
neither side), and a verdict:
  improved    the change won at least 9/10 of the pairs and the medians
              differ by more than the parent's own quartile spread;
  worse       the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json;
  unresolved  not worse, but fewer than ten pairs ran, or the parent's
              quartile spread is wider than the bound (unless every
              change run beats every parent run, which reads as improved);
  unchanged   otherwise.
A workload whose failed/attempted ratio is higher on the change is
rejected whatever its timings. Exit code 1 if anything is worse or
rejected.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        doc = json.load(f)
    return doc, {m["name"]: m for m in doc["end_to_end"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def run_one(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def cmd_run(a):
    doc, _ = load_spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in doc["workloads"]]
    seconds = doc["run_seconds"]
    with open(a.out, "a") as out:
        for i in range(a.pairs):
            seed = a.seed0 + i
            sides = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                sides.reverse()
            for w in workloads:
                for side, checkout in sides:
                    rec = run_one(checkout, w, seed, seconds)
                    out.write(json.dumps({"side": side, "workload": w, "seed": seed,
                                          "record": rec}) + "\n")
                    out.flush()
                    print(f"pair {i + 1}/{a.pairs} {w} {side}: "
                          f"{'ok' if rec and rec['correct'] else 'FAILED'}", file=sys.stderr)
    return report(a.out)


def report(path):
    _, spec = load_spec()
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault(r["workload"], {}).setdefault(r["side"], {})[r["seed"]] = r["record"]
    bad = False
    print(f"{'workload':14} {'metric':18} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}"
          f" {'won':>6}  verdict")
    for w, sides in sorted(runs.items()):
        par, chg = sides.get("parent", {}), sides.get("change", {})

        def fail_ratio(rs):
            att = sum(r["attempted"] if r else 1 for r in rs.values())
            return sum(r["failed"] if r else 1 for r in rs.values()) / max(att, 1)
        fp, fc = fail_ratio(par), fail_ratio(chg)
        if fc > fp:
            print(f"{w:14} failed_ratio {fp:.4f} -> {fc:.4f}: REJECTED")
            bad = True
        seeds = sorted(s for s in par if s in chg and par[s] and chg[s])
        for name, m in spec.items():
            pv = [par[s]["metrics"][name]["value"] for s in seeds]
            cv = [chg[s]["metrics"][name]["value"] for s in seeds]
            if not seeds:
                continue
            higher = m["better"] == "higher"

            def better(x, y):
                return x > y if higher else x < y
            wins = sum(1 for p, c in zip(pv, cv) if better(c, p))
            p1, pm, p3 = quartiles(pv)
            c1, cm, c3 = quartiles(cv)
            spread = p3 - p1
            worse_by = ((pm - cm) if higher else (cm - pm)) / pm if pm else 0.0
            if worse_by > m["bound"]:
                verdict, bad = "worse", True
            elif len(seeds) < 10:
                verdict = "unresolved"  # a verdict needs at least ten pairs
            elif all(better(c, p) for c in cv for p in pv):
                verdict = "improved"
            elif wins >= 0.9 * len(seeds) and abs(cm - pm) > spread:
                verdict = "improved"
            elif pm and spread / pm > m["bound"]:
                verdict = "unresolved"
            else:
                verdict = "unchanged"
            print(f"{w:14} {name:18} {p1:9.4g}/{pm:9.4g}/{p3:9.4g} {c1:9.4g}/{cm:9.4g}/{c3:9.4g}"
                  f" {wins:>2}/{len(seeds):<3}  {verdict}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workloads", default="")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1000)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("path")
    a = ap.parse_args()
    sys.exit(cmd_run(a) if a.cmd == "run" else report(a.path))


if __name__ == "__main__":
    main()
