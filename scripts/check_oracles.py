"""Replicates the driver's correctness gate locally: runs every
__spark_entry__.queries() entry at sf0.01 and compares against
oracle_sql() via DuckDB — row count, schema (column names), and
order-insensitive values.

Usage: python scripts/check_oracles.py [--json OUT.json] [sf_dir] [query ...]

--json writes a driver-artifact-shaped record per query (rows_match /
schema_match / hash_match / spark_rows / oracle_rows / err) covering the
FULL registry — the per-round self-replay artifact (CORRECTNESS_SELF_r*.json)
that persists the tail queries' status beyond the driver's 50-row window.

Exits 2 before starting Spark if sf_dir is not a directory or a query
name is not in queries(), so a typo cannot replay nothing and pass.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from ddsketch_ruby_spark.sources.session import get_spark  # noqa: E402
from ddsketch_ruby_spark.sources.tables import TABLE_NAMES  # noqa: E402


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return v
    return v


def _rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm_cell(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is None, str(type(v)), v) for v in t),
    ), [cols[i] for i in order]


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:  # accepted anywhere, must have an operand
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: check_oracles.py [--json OUT] [sf_dir] [query ...]")
            return 2
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    queries = entry.queries()
    # refuse before starting Spark: an unknown name would replay nothing
    # and exit 0, and a query name in the sf_dir slot is not a directory
    if not os.path.isdir(sf_dir):
        print(f"sf_dir is not a directory: {sf_dir}")
        return 2
    unknown = sorted(only - set(queries))
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    records: dict[str, dict] = {}
    spark = get_spark("check-oracles", cpus=8, shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    oracles = entry.oracle_sql()
    # gate-completeness self-check: every oracle targets a registered
    # query, and the driver's observed 50-row recording window is printed
    # so a future truncation is attributable instead of mysterious
    stray = sorted(set(oracles) - set(queries))
    assert not stray, f"oracle_sql() keys without queries() entries: {stray}"
    names = list(queries)
    w = getattr(entry, "DRIVER_GATE_WINDOW", len(names))
    print(
        f"{len(names)} queries registered; driver records the first {w}; "
        f"tail (replayed here, outside the driver window): {names[w:]}"
    )
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:  # record, keep replaying the rest
            failures += 1
            records[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"{type(exc).__name__}: {exc}",
            }
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            continue
        if name not in oracles:
            print(f"{name}: rows-only check — {len(srows)} rows "
                  f"({'OK' if len(srows) >= 0 else '??'})")
            records[name] = {
                "rows_match": len(srows) >= 0, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None,
            }
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:  # record, keep replaying the rest
            failures += 1
            records[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": None,
                "err": f"oracle {type(exc).__name__}: {exc}",
            }
            print(f"{name}: ORACLE ERROR {type(exc).__name__}: {exc}")
            continue
        s_ms, s_cols = _rows_multiset(scols, [tuple(r) for r in srows])
        d_ms, d_cols = _rows_multiset(dcols, drows)
        ok_schema = s_cols == d_cols
        ok_count = len(s_ms) == len(d_ms)
        ok_values = s_ms == d_ms
        status = "PASS" if (ok_schema and ok_count and ok_values) else "FAIL"
        if status == "FAIL":
            failures += 1
        records[name] = {
            "rows_match": ok_count, "schema_match": ok_schema,
            "hash_match": ok_values, "spark_rows": len(s_ms),
            "oracle_rows": len(d_ms), "err": None,
        }
        print(f"{name}: {status} (schema={ok_schema} rows={len(s_ms)}/{len(d_ms)} "
              f"values={ok_values})")
        if not ok_schema:
            print(f"  spark cols: {s_cols}\n  duck  cols: {d_cols}")
        if ok_schema and not ok_values:
            diffs = [
                (a, b) for a, b in zip(s_ms, d_ms) if a != b
            ][:5]
            for a, b in diffs:
                print(f"  spark: {a}\n  duck : {b}")
    spark.stop()
    if json_out:
        with open(json_out, "w") as f:
            json.dump(records, f, indent=2)
        print(f"wrote {len(records)} records to {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
