#!/usr/bin/env python3
"""Checks the ops queries a run wrote against their oracle SQL in DuckDB.

Usage: python3 perfbench/opscheck.py <inputs dir> <results dir>

<inputs dir> holds the generated documents/events/embeddings tables,
<results dir> one parquet directory per query plus oracle_sql.json (both
written by Ops.scala). Prints one line per mismatching query and exits
non-zero if there is any.
"""
import json
import math
import os
import sys

import duckdb

TABLES = ("documents", "events", "embeddings")


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        # 9 decimals absorb formatting, not value, differences
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows(cur):
    return sorted(tuple((c is not None, canon(c)) for c in r) for r in cur.fetchall())


def check(inputs, results):
    """Returns (queries checked, [(query, why) for each mismatch])."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(inputs, t + '.parquet', '*.parquet')}')")
        try:
            with open(os.path.join(results, "oracle_sql.json")) as f:
                oracle = json.load(f)
        except (OSError, ValueError) as e:
            return 0, [("oracle_sql.json", f"{type(e).__name__}: {e}")]
        bad = []
        for name in sorted(oracle):
            try:
                want = rows(con.execute(oracle[name]))
                got = rows(con.execute("SELECT * FROM read_parquet("
                                       f"'{os.path.join(results, name, '*.parquet')}')"))
            except Exception as e:  # noqa: BLE001 - any failure is a mismatch
                bad.append((name, f"{type(e).__name__}: {e}"[:300]))
                continue
            if want != got:
                diff = next(((a, b) for a, b in zip(want, got) if a != b), None)
                bad.append((name, f"{len(got)} rows vs oracle {len(want)}, first diff {diff}"[:300]))
        return len(oracle), bad
    finally:
        con.close()


if __name__ == "__main__":
    n, bad = check(sys.argv[1], sys.argv[2])
    for name, why in bad:
        print(f"FAIL {name}: {why}")
    print(f"{n - len(bad)}/{n} ops queries match their oracle")
    sys.exit(1 if bad else 0)
