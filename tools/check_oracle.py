#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>
       python3 tools/check_oracle.py --against <base_verify_dir> <verify_out_dir>

Reads each <out_dir>/<name>/ parquet result written by graft.Verify, runs the
matching SQL from oracle_sql.json in DuckDB over the sf_dir parquet tables, and
compares: schema (column names sorted), row count, and exact values (floats
compared bit-exactly first, then with 1e-9 relative tolerance reported
separately). Strictest plausible interpretation of the driver's hash compare.

--against compares two Verify dumps instead (e.g. a change against its parent
commit): every query directory in either dump, rows-only queries included,
must have the same columns and column types and the same rows, with floats
bit-exact (a -0.0/0.0 or any other bit difference fails).
"""
import json
import os
import math
import struct
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def bitwise(v):
    """A float as its IEEE bits; lists and structs element by element."""
    if isinstance(v, float):
        return struct.pack("<d", v).hex()
    if isinstance(v, list):
        return [bitwise(x) for x in v]
    if isinstance(v, dict):
        return {k: bitwise(x) for k, x in v.items()}
    return v


def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        # Driver testdata ships single parquet FILES; GenData corpora
        # (spark-warehouse/sf1+) are Spark-written DIRECTORIES of part
        # files — glob those so the sf1 second gate runs on the same code.
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    report(con, {name: (f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')", sql)
                 for name, sql in oracles.items()})


def against(base_dir, out_dir):
    def dumps(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
    names = dumps(base_dir) | dumps(out_dir)
    report(duckdb.connect(),
           {n: (f"SELECT * FROM read_parquet('{out_dir}/{n}/*.parquet')",
                f"SELECT * FROM read_parquet('{base_dir}/{n}/*.parquet')") for n in names},
           bits=True)


def report(con, pairs, bits=False):
    """Compare each name's (got, want) queries; print one line per name and
    the tally, and exit non-zero on any failure. bits: column types must
    match too, and floats compare by their bits."""
    n_pass = n_fail = 0
    for name, (got_sql, want_sql) in sorted(pairs.items()):
        try:
            got = con.execute(got_sql).fetch_arrow_table()
            want = con.execute(want_sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_fail += 1
            continue

        g_cols = sorted(got.column_names)
        w_cols = sorted(want.column_names)
        if g_cols != w_cols:
            print(f"FAIL {name}: columns {g_cols} != {w_cols}")
            n_fail += 1
            continue
        if bits and any(got.schema.field(c).type != want.schema.field(c).type for c in g_cols):
            print(f"FAIL {name}: column types {got.schema} != {want.schema}")
            n_fail += 1
            continue
        g = got.select(g_cols).to_pylist()
        w = want.select(w_cols).to_pylist()
        if bits:
            g, w = ([{c: bitwise(v) for c, v in r.items()} for r in t] for t in (g, w))
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            n_fail += 1
            continue
        def diff(g, w):
            """First mismatching (row, col, a, b) or None; counts approx."""
            approx = 0
            for i, (rg, rw) in enumerate(zip(g, w)):
                for c in g_cols:
                    a, b = norm(rg[c]), norm(rw[c])
                    if a == b:
                        continue
                    if (
                        isinstance(a, float)
                        and isinstance(b, float)
                        and abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
                    ):
                        approx += 1
                        continue
                    return (i, c, a, b), approx
            return None, approx

        bad, approx = diff(g, w)
        if bad:
            # Positional mismatch: retry under the DRIVER's actual
            # contract — it sorts rows by all columns before hashing, so
            # row ORDER is not part of the binding compare. This also
            # immunizes the gate against DuckDB 1.0's nondeterministic
            # NULLS FIRST placement (r13: e16/e17 flaked ~50/50 on the
            # adversarial corpus purely by oracle-side sort order).
            def canon(row):
                return tuple(
                    (v is None, str(norm(v))) for v in (row[c] for c in g_cols)
                )
            gs, ws = sorted(g, key=canon), sorted(w, key=canon)
            bad2, approx = diff(gs, ws)
            if bad2 is None:
                i, c, a, b = bad
                print(
                    f"PASS {name} ({len(g)} rows; ORDER-ONLY diff at row {i} "
                    f"col {c} — driver sorts rows, positional compare differs)"
                )
                n_pass += 1
                continue
            i, c, a, b = bad2
            print(f"FAIL {name}: row {i} (canon-sorted) col {c}: got={a!r} want={b!r}")
            n_fail += 1
        elif approx:
            print(f"WARN {name}: {approx} float cells only approx-equal (hash would MISMATCH)")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    if sys.argv[1] == "--against":
        against(sys.argv[2], sys.argv[3])
    else:
        main(sys.argv[1], sys.argv[2])
