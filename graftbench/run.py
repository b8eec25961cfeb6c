#!/usr/bin/env python3
"""graft's benchmark: one seeded workload, measured end to end (or, with
--trace 1, layer by layer), its outputs checked.

Usage (from the repository root):
    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: stream_incr and corpus_batch (faces from `SparkEntry.queries`)
and statements (a grapho script through the Interpreter and its commit
log). See graftbench/README.md.

The first run in a checkout builds the library and the harness with sbt
into `.bench_build/` (and the sbt `target/` directories); later runs reuse
the build while the sources are unchanged. The measuring JVM is launched
directly, so the last stdout line is the result record:
    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}
The full record (per face, per statement kind, every layer counter and
every check) is written to `.bench_build/results/`. Exit code 0 only if
every operation ran and every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import stmtgen  # noqa: E402

# face workloads (the face each runs is in the harness, Faces.ByWorkload)
FACE_WORKLOADS = ["stream_incr", "corpus_batch"]
WORKLOADS = FACE_WORKLOADS + ["statements"]
DATA_SF = 0.001        # measured tables: lineitem 6,000 rows
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms", "retained_heap_mb": "MB"}


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _sources():
    """Every file the build reads, relative to the repository root."""
    out = []
    for d in ("src/main", "project", "graftbench/harness/src", "graftbench/harness/project"):
        base = os.path.join(ROOT, d)
        for dirpath, dirnames, files in os.walk(base):
            dirnames[:] = sorted(x for x in dirnames if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(dirpath, f), ROOT) for f in files]
    out += ["build.sbt", "graftbench/harness/build.sbt"]
    return sorted(out)


def build():
    """Compile library + harness (if the sources changed); return the classpath."""
    need = [os.path.join(ROOT, p) for p in ("build.sbt", "src/main/scala")]
    if not all(os.path.exists(p) for p in need):
        fail("no graft sources next to graftbench/ (build.sbt, src/main/scala)")
    h = hashlib.sha256()
    for rel in _sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp, jsa = f.read().split("\n")[:3]
        if old_stamp == stamp:
            return cp, jsa
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    log("building library and harness with sbt (first run in this checkout)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as lf:
        rc, out = _run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env, stderr=lf,
                       timeout=BUILD_TIMEOUT_S)
        lf.write(out)
    if rc != 0:
        fail(f"build failed (rc={rc}); see .bench_build/build.log")
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath; see .bench_build/build.log")
    cp = _jar_classpath(lines[-1].strip())
    jsa = _class_archive(cp)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n" + jsa + "\n")
    log(f"build done in {time.time() - t0:.0f} s")
    return cp, jsa


def _jar_classpath(cp):
    """The classpath with each class directory packed into a jar: a JVM
    class-data archive accepts only jars."""
    jar_dir = os.path.join(BUILD, "jars")
    shutil.rmtree(jar_dir, ignore_errors=True)
    os.makedirs(jar_dir)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jar_dir, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for dirpath, _, files in sorted(os.walk(entry)):
                    for f in sorted(files):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def _class_archive(cp):
    """Dump a class-data archive from one short run over the face of every
    face workload, so each measured JVM starts with the library's and
    Spark's classes already parsed and verified. Returns its path, or ""
    if the dump failed (runs then start without it)."""
    jsa = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    d = os.path.join(BUILD, "archive-run")
    shutil.rmtree(d, ignore_errors=True)
    datagen.write(os.path.join(d, "data"), 0, DATA_SF)
    rc = _harness(cp, "", ["-XX:ArchiveClassesAtExit=" + jsa], d, [
        "--workload", "archive", "--seed", "0", "--seconds", "0", "--trace", "0"])
    shutil.rmtree(d, ignore_errors=True)
    if rc != 0 or not os.path.exists(jsa):
        log(f"class-data archive not created (rc={rc}); runs start without it")
        return ""
    return jsa


def _harness(cp, jsa, jvm_flags, run_dir, args):
    """Run graftbench.Harness with run_dir's data/out/work/tmp; returns its exit code."""
    data, out, work, tmp = (os.path.join(run_dir, x) for x in ("data", "out", "work", "tmp"))
    for x in (out, work, tmp):
        os.makedirs(x, exist_ok=True)
    share = [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off"] if jsa else []
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC"] + share + jvm_flags
           + ["-cp", cp, "graftbench.Harness", "--data", data, "--out", out,
              "--work", work] + args)
    env = dict(os.environ, GRAFT_SCRATCH=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
        rc, _ = _run(cmd, cwd=ROOT, env=env, stderr=lf, timeout=JVM_TIMEOUT_S)
    return rc


def _run(cmd, cwd, env, stderr, timeout):
    """Run a child in its own process group; kill the group on timeout.
    Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=stderr, stdin=subprocess.DEVNULL, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return -9, out
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # anything the child left behind
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------- metrics

def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def end_to_end(res):
    ops = res["ops"]
    timed_s = sum(o["ms"] for o in ops) / 1000
    return {
        "setup_s": res["setup_s"],
        "ops_per_s": len(ops) / timed_s,
        "op_p50_ms": pct([o["ms"] for o in ops], 50),
        "retained_heap_mb": max(res["heap_mb"]),
    }


def statement_layers(res):
    """Read/write latency percentiles and boot time of the statements run."""
    reads = [o["ms"] for o in res["ops"] if o["kind"] == "match"]
    writes = [o["ms"] for o in res["ops"] if o["kind"] != "match"]
    return {
        "lang.read_p50_ms": pct(reads, 50) if reads else 0.0,
        "lang.read_p90_ms": pct(reads, 90) if reads else 0.0,
        "lang.write_p50_ms": pct(writes, 50) if writes else 0.0,
        "lang.write_p90_ms": pct(writes, 90) if writes else 0.0,
        "store.boot_s": res["boot_s"],
    }


def per_layer_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, jsa = build()
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    if a.workload in FACE_WORKLOADS:
        planted = datagen.write(data, a.seed, DATA_SF)
    else:
        stmtgen.write(data, a.seed)
    rc = _harness(cp, jsa, [], run_dir, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace)])
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness JVM failed (rc={rc}):\n{tail}")
    with open(result_path) as f:
        res = json.load(f)

    if a.workload in FACE_WORKLOADS:
        check = checks.face(os.path.join(out, "check"), data, res["face"], planted)
    else:
        check = checks.statements(os.path.join(out, "check"), a.seed, res["executed"])
    op_failed = sum(1 for o in res["ops"] if not o["ok"])
    attempted = len(res["ops"]) + check["checked"]
    failed = op_failed + check["failed"]

    if a.trace:
        spec = per_layer_spec()
        timed_s = sum(o["ms"] for o in res["ops"]) / 1000
        # layers that do no work on this workload report 0
        idle = ("lang.", "store.") if a.workload in FACE_WORKLOADS else ("queries.", "views.")
        values = {k: 0 for k in spec if k.startswith(idle)}
        values.update(res["layers"])
        values["spark.persisted_rdds"] = statistics.mean(o["persisted"] for o in res["ops"])
        values["trace.overhead_pct"] = 100 * values.pop("trace.overhead_s") / timed_s
        if a.workload == "statements":
            values.update(statement_layers(res))
        missing = [k for k in spec if k not in values]
        if missing:
            fail(f"per-layer metrics not measured: {missing}")
        metrics = {k: {"value": values[k], "unit": u} for k, u in spec.items()}
    else:
        e2e = end_to_end(res)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    record = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    full = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cpus": len(os.sched_getaffinity(0)), "record": record,
            "harness": res, "checks": check}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(full, f, indent=1)
    if a.trace and os.path.exists(os.path.join(out, "spans.jsonl")):
        shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(
            BUILD, "results", f"{a.workload}-seed{a.seed}-spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    for msg in check["errors"][:20]:
        log(f"check failed: {msg}")
    for k, v in res["errors"].items():
        log(f"operation failed: {k}: {v}")
    print(json.dumps(record, separators=(",", ":")), flush=True)
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
