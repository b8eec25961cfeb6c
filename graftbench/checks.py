"""Output checks, run after the timed window.

face: the face's first collected result (written as parquet by the
harness) against its DuckDB oracle SQL from `SparkEntry.oracleSql` over
the same generated tables: row count, column names, and a hash of the
sorted rows with floats at 6 dp (the comparison tools/check.py makes).
p_dedup_ngram has no oracle: it is checked on its schema, every
reported pair's Jaccard is recomputed exactly, and every near-duplicate
pair datagen.py planted must be among the pairs.

statements: every MATCH result and the state before and after the
restart against the driver-side model in stmtgen.py.

Each returns {"checked": N, "failed": N, "errors": [...], "detail": {...}}.
"""
import glob
import hashlib
import json
import os

import duckdb

import stmtgen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.6f}"
                if v == "-0.000000":
                    v = "0.000000"
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return hashlib.sha256("\n".join(out).encode()).hexdigest()[:16]


def _shingles(text, n=3):
    toks = text.strip().lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _dedup_ngram(con, got_cols, got_rows, planted):
    """Pair-level check of p_dedup_ngram (no oracle SQL exists)."""
    if got_cols != ["id_a", "id_b", "jaccard"]:
        return f"columns {got_cols}"
    if len({(a, b) for a, b, _ in got_rows}) != len(got_rows):
        return "duplicate pairs"
    docs = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
    sh = {}
    for a, b, j in got_rows:
        if not a < b:
            return f"pair ({a}, {b}) not ordered"
        sa = sh.setdefault(a, _shingles(docs[a]))
        sb = sh.setdefault(b, _shingles(docs[b]))
        exact = round(len(sa & sb) / len(sa | sb), 4)
        if abs(exact - j) > 1e-9:
            return f"pair ({a}, {b}) jaccard {j} != {exact}"
    found = {(a, b) for a, b, _ in got_rows}
    missed = [p for p in planted if tuple(p) not in found]
    if missed:
        return f"{len(missed)} of {len(planted)} planted near-duplicates not found: {missed[:5]}"
    return None


def face(check_dir, data_dir, name, planted):
    """One face's first collected result against its oracle SQL; for
    p_dedup_ngram, against the planted near-duplicate pairs."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    rec, err = {"ok": False}, None
    files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
    oracle = os.path.join(check_dir, "oracle.sql")
    if not files:
        err = "no result"
    else:
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        gcols, grows = got.columns, got.fetchall()
        rec["rows"] = len(grows)
        if os.path.exists(oracle):
            with open(oracle) as f:
                exp = con.sql(f.read())
            ecols, erows = exp.columns, exp.fetchall()
            rec["check"] = "oracle"
            rec["schema_match"] = sorted(gcols) == sorted(ecols)
            rec["rows_match"] = len(grows) == len(erows)
            rec["hash_match"] = (rec["schema_match"] and rec["rows_match"]
                                 and canon(grows, gcols) == canon(erows, ecols))
            if not rec["hash_match"]:
                err = (f"schema={rec['schema_match']} rows={len(grows)}/{len(erows)} "
                       f"hash={rec['hash_match']}")
        elif name == "p_dedup_ngram":
            rec["check"] = "rows-only: schema, exact pair Jaccard, every planted pair found"
            rec["planted"] = len(planted)
            err = _dedup_ngram(con, gcols, grows, planted)
        else:
            err = "no oracle and no check"
    rec["ok"] = err is None
    return {"checked": 1, "failed": 0 if err is None else 1,
            "errors": [] if err is None else [f"{name}: {err}"], "detail": {name: rec}}


def _lines(path):
    with open(path) as f:
        return sorted(l.rstrip("\n") for l in f if l.strip())


def statements(check_dir, seed, executed):
    _, _, _, expect, model = stmtgen.script(seed, executed)
    got = {}
    with open(os.path.join(check_dir, "matches.jsonl")) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                got[rec["i"]] = sorted(rec["rows"])
    errors = []
    for i, rows in sorted(expect.items()):
        if got.get(i) != rows:
            errors.append(f"MATCH #{i}: got {got.get(i)} expected {rows}")
    want = model.dump()
    before = _lines(os.path.join(check_dir, "state_before.txt"))
    after = _lines(os.path.join(check_dir, "state_after.txt"))
    if before != want:
        errors.append(f"state before restart differs from the model "
                      f"({len(set(before) ^ set(want))} rows)")
    if after != before:
        errors.append(f"state after bootFrom differs from the state before "
                      f"({len(set(after) ^ set(before))} rows)")
    return {"checked": len(expect) + 2, "failed": len(errors), "errors": errors,
            "detail": {"matches": len(expect), "state_rows": len(want)}}
