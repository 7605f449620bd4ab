#!/usr/bin/env python3
"""Compare `graft.Verify`'s query outputs with their DuckDB oracle SQL.

A local replica of the correctness check that scores this repo, for use
before a change is handed in; it is not that check itself.

    sbt -batch "runMain graft.Verify <sf_dir> <verify_out>"
    python3 scripts/oracle_compare.py <sf_dir> <verify_out>

For each query named in <verify_out>/oracle_sql.json:
  - every <sf_dir>/<table>.parquet is a DuckDB view named <table>;
  - the oracle is the query's SQL run on those views, the engine's result
    is <verify_out>/<query>/*.parquet;
  - both sides get their columns sorted by name and their rows sorted, and
    are compared row by row (numbers within 1e-9, NaN equal to NaN).

Prints one line per query, `MATCH` (same rows), `ROWS_ONLY` (same row
count, some value differs: expected for the hash-based operators) or `DIFF`
(row count or column names differ, or either side failed), then a total.
Exits 1 on any DIFF or missing engine output, else 0.
"""
import decimal
import glob
import json
import math
import os
import sys

import duckdb


def norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def is_num(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def key(row):
    return tuple((0, 0.0) if v is None else (1, float(v)) if is_num(v) else (2, str(v))
                 for v in row)


def same(a, b):
    if is_num(a) and is_num(b):
        a, b = float(a), float(b)
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def table(con, sql):
    """(sorted column names, rows with those columns in that order, sorted)."""
    rel = con.sql(sql)
    names = rel.columns
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(norm(r[i]) for i in order) for r in rel.fetchall()]
    return [names[i] for i in order], sorted(rows, key=key)


def compare(con, out_dir, name, sql):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return "MISSING", None, None
    try:
        got_cols, got = table(con, f"SELECT * FROM read_parquet({files!r})")
        want_cols, want = table(con, sql)
    except Exception as e:  # a failing side is a difference, with its reason
        print(f"  {name}: {type(e).__name__}: {e}", file=sys.stderr)
        return "DIFF", None, None
    if got_cols != want_cols or len(got) != len(want):
        return "DIFF", len(got), len(want)
    if all(same(a, b) for r, s in zip(got, want) for a, b in zip(r, s)):
        return "MATCH", len(got), len(want)
    return "ROWS_ONLY", len(got), len(want)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        queries = json.load(f)
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        view = os.path.basename(path)[: -len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW \"{view}\" AS SELECT * FROM read_parquet('{src}')")
    counts = {}
    for name in sorted(queries):
        status, got, want = compare(con, out_dir, name, queries[name])
        counts[status] = counts.get(status, 0) + 1
        print(f"{status:9} {name}  engine_rows={got} oracle_rows={want}")
    print("total " + ", ".join(f"{s} {counts.get(s, 0)}"
                               for s in ("MATCH", "ROWS_ONLY", "DIFF", "MISSING"))
          + f" of {len(queries)}")
    sys.exit(1 if counts.get("DIFF") or counts.get("MISSING") else 0)


if __name__ == "__main__":
    main()
