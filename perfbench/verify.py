"""Checks of the query-mix results.

The JVM side writes each mix query's first-call result as parquet under
<verify_dir>/<name>/ and the query's DuckDB twin from `SparkEntry.oracleSql`
to <verify_dir>/oracle_sql.json.

Every run: each result's row count and order-insensitive hash must equal the
values stored in expected_sf0.1.json next to this file.

Refresh (run.py --refresh-expected): each result that has a twin must first
equal the twin run in DuckDB over the same corpus (same columns, same row
count, same values, floats bit-exact; rows compared in order and then
sorted, as tools/check_oracle.py does). Only then are the stored values
rewritten.
"""
import hashlib
import json
import math
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected_sf0.1.json")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _read(con, path):
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetch_arrow_table()


def digest(table):
    """(row count, sha256 over the sorted rows): row order does not count."""
    cols = sorted(table.column_names)
    rows = sorted(repr(tuple(_norm(r[c]) for c in cols)) for r in table.select(cols).to_pylist())
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def _compare(got, want):
    """None when equal, else a one-line reason."""
    cols = sorted(got.column_names)
    if cols != sorted(want.column_names):
        return f"columns {cols} != {sorted(want.column_names)}"
    g, w = got.select(cols).to_pylist(), want.select(cols).to_pylist()
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"

    def first_diff(g, w):
        for i, (rg, rw) in enumerate(zip(g, w)):
            for c in cols:
                if _norm(rg[c]) != _norm(rw[c]):
                    return f"row {i} col {c}: spark={rg[c]!r} duckdb={rw[c]!r}"
        return None

    if first_diff(g, w) is None:
        return None

    def canon(row):
        return tuple((row[c] is None, str(_norm(row[c]))) for c in cols)

    return first_diff(sorted(g, key=canon), sorted(w, key=canon))


def _results(verify_dir):
    return sorted(n for n in os.listdir(verify_dir) if os.path.isdir(os.path.join(verify_dir, n)))


def verify(verify_dir):
    """Returns (checked, [(name, reason)]) over the results present.

    A query that failed in the JVM wrote no result; the JVM counted it."""
    with open(EXPECTED) as f:
        expected = json.load(f)
    con = duckdb.connect()
    checked, failures = 0, []
    for name in _results(verify_dir):
        checked += 1
        try:
            got = digest(_read(con, os.path.join(verify_dir, name)))
            want = {k: expected[name][k] for k in got} if name in expected else None
            reason = None if got == want else f"got {got}, expected {want}"
        except Exception as e:  # a broken result must count, not abort the run
            reason = f"check error: {e}"
        if reason:
            failures.append((name, reason))
    return checked, failures


def refresh(verify_dir, corpus_dir):
    """Checks every result against its DuckDB twin and, if all agree,
    rewrites the stored expected values. Returns [(name, reason)] failures."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures, expected = [], {}
    for name in _results(verify_dir):
        got = _read(con, os.path.join(verify_dir, name))
        if name in oracles:
            reason = _compare(got, con.execute(oracles[name]).fetch_arrow_table())
            if reason:
                failures.append((name, reason))
                continue
        expected[name] = dict(digest(got), duckdb_twin=name in oracles)
    if not failures:
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    return failures
