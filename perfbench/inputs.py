"""Seeded benchmark inputs and their exact answers.

Every input is generated through ``sources.webpages.web_pages`` from the
run's ``--seed`` and cached as parquet under ``perfbench/data/<name>-<rows>-
s<seed>/`` together with ``meta.json`` (generation time, bytes, layout)
and ``exact.json`` (exact per-group count/min/max/quantiles computed by
DuckDB from the same parquet). The program under test only ever reads the
parquet. Generation is timed separately and never counted as set-up.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from pathlib import Path

from common import CORES, DATA_DIR, TMP_DIR

QUANTILES = (0.5, 0.95, 0.99)
KEEP_DATASETS = 8  # cached datasets kept; older ones are pruned

# host = the URL authority; every generated URL is https://hostN.example.com/...
HOST_RE = "^https?://([^/]+)"

# layout: "numeric" = the (host, lang, n_chars, latency_ms) projection,
# "raw" = full web_pages rows; files = 6 x cores so scan tasks >> cores;
# splits > 0 writes split=<i> directories of files/splits files each.
LAYOUTS = {
    "sketch_rollup": dict(rows=200_000, files=6 * CORES, splits=0, shape="numeric"),
    "checkpointed_build": dict(rows=100_000, files=4 * CORES, splits=4, shape="numeric"),
    # the per-layer probe every traced run measures its layers on
    "layers": dict(rows=10_000, files=6 * CORES, splits=0, shape="raw"),
}


def scale_rows(name: str, scale: float) -> int:
    return max(CORES * 1000, int(LAYOUTS[name]["rows"] * scale))


def generator_seed(seed: int) -> int:
    """The seed handed to ``web_pages``, which hashes ``row_index ^ seed``:
    a seed below 2**k only permutes rows within blocks of 2**k, so small
    seeds would all give the same multiset of rows. Hashing the seed gives
    each ``--seed`` rows of its own."""
    digest = hashlib.blake2b(str(seed).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little") >> 1


def dataset_dir(name: str, rows: int, seed: int) -> Path:
    return DATA_DIR / f"{name}-{rows}-s{seed}"


def _prune_cache(keep: Path) -> None:
    dirs = sorted(
        (p for p in DATA_DIR.glob("*-s*") if p.is_dir() and p != keep),
        key=lambda p: p.stat().st_mtime,
    )
    for old in dirs[: max(0, len(dirs) - (KEEP_DATASETS - 1))]:
        shutil.rmtree(old, ignore_errors=True)


def _numeric(pages):
    from pyspark.sql import functions as F

    return pages.select(
        F.regexp_extract("url", HOST_RE, 1).alias("host"),
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        "latency_ms",
    )


def ensure(spark, name: str, rows: int, seed: int) -> dict:
    """Generate (once) and return the metadata of dataset ``name``."""
    out = dataset_dir(name, rows, seed)
    meta_path = out / "meta.json"
    if meta_path.exists():
        os.utime(out)
        with open(meta_path) as f:
            return json.load(f)
    from pyspark.sql import functions as F

    from ddsketch_ruby_spark.sources.webpages import web_pages

    lay = LAYOUTS[name]
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)

    def pages():
        return web_pages(spark, rows, seed=generator_seed(seed), partitions=lay["files"])

    def write_splits(df, target: Path, splits: int) -> None:
        per_split = lay["files"] // splits
        df.withColumn(
            "split", (F.spark_partition_id() / per_split).cast("int")
        ).write.partitionBy("split").parquet(str(target))

    t0 = time.monotonic()
    df = pages() if lay["shape"] == "raw" else _numeric(pages())
    if lay["splits"]:
        write_splits(df, tmp / "input", lay["splits"])
    else:
        df.write.parquet(str(tmp / "input"))
    if name == "layers":
        # the probe also carries the numeric projection of the same rows,
        # as split directories, for the sketch and plan layers
        write_splits(_numeric(pages()), tmp / "numeric", 4)
    generate_s = time.monotonic() - t0

    files = sorted(tmp.glob("input/**/*.parquet"))
    meta = {
        "name": name,
        "rows": rows,
        "seed": seed,
        "generate_s": generate_s,
        "input_bytes": sum(p.stat().st_size for p in files),
        "max_file_bytes": max(
            p.stat().st_size for p in tmp.glob("**/*.parquet")
        ),
        "files": len(files),
        "splits": sorted(
            str(p.relative_to(tmp)) for p in tmp.glob("input/split=*")
        ),
    }
    if name == "layers":
        meta["numeric_splits"] = sorted(
            str(p.relative_to(tmp)) for p in tmp.glob("numeric/split=*")
        )
    else:
        exact = exact_reference(name, tmp / "input")
        with open(tmp / "exact.json", "w") as f:
            json.dump(exact, f)
    with open(tmp / "meta.json", "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _prune_cache(out)
    return meta


def _duck():
    import duckdb

    TMP_DIR.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads = {CORES}")
    con.execute(f"SET temp_directory = '{TMP_DIR / 'duckdb'}'")
    return con


def exact_reference(name: str, input_dir: Path) -> list[list]:
    """Exact [group, measure, n, min, max, q50, q95, q99] rows, computed by
    DuckDB. The quantile is the sorted value at index floor(q * (n - 1)),
    the rank the sketch resolves (DuckDB's quantile_disc picks a different
    index for high q on small groups, so the index is taken explicitly)."""
    src = f"read_parquet('{input_dir}/**/*.parquet', hive_partitioning = false)"
    if name == "checkpointed_build":
        group, measures = "lang", {"latency_ms": "latency_ms"}
    else:
        group, measures = "host", {"n_chars": "n_chars", "latency_ms": "latency_ms"}
    melted = " UNION ALL ".join(
        f"SELECT {group} AS g, '{m}' AS measure, CAST({e} AS DOUBLE) AS v FROM {src}"
        for m, e in measures.items()
    )
    picks = ", ".join(
        f"vs[CAST(floor(CAST(? AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1]"
        for _ in QUANTILES
    )
    sql = f"""
        WITH t AS ({melted}),
        s AS (
            SELECT g, measure, count(*) AS n, min(v) AS lo, max(v) AS hi,
                   list_sort(list(v)) AS vs
            FROM t GROUP BY g, measure
        )
        SELECT g, measure, n, lo, hi, {picks} FROM s ORDER BY g, measure
    """
    con = _duck()
    try:
        return [list(r) for r in con.execute(sql, list(QUANTILES)).fetchall()]
    finally:
        con.close()


def load_exact(name: str, rows: int, seed: int) -> dict[tuple, dict]:
    with open(dataset_dir(name, rows, seed) / "exact.json") as f:
        rows_ = json.load(f)
    return {
        (g, m): {"n": n, "min": lo, "max": hi, "q": dict(zip(QUANTILES, qs))}
        for g, m, n, lo, hi, *qs in rows_
    }


def sample_values(name: str, rows: int, seed: int, column: str, n: int):
    """``n`` values of ``column`` drawn (seeded, with replacement) from the
    cached input — the kernel layer's driver-side inputs."""
    import numpy as np

    base = dataset_dir(name, rows, seed) / "input"
    con = _duck()
    try:
        v = con.execute(
            f"SELECT {column} FROM read_parquet('{base}/**/*.parquet',"
            " hive_partitioning = false)"
        ).fetchnumpy()[column]
    finally:
        con.close()
    rng = np.random.default_rng(seed)
    return rng.choice(np.asarray(v, dtype=np.float64), n)
