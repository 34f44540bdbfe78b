"""Scaling-efficiency evidence for the north rule: the identical sketch
build+merge job at two parallelism levels (local[N] vs local[4N]) over the
same input, reporting throughput at both and
efficiency = (throughput_4N / throughput_N) / 4.

The sandbox has no multi-node cluster; per the driver instruction this
two-parallelism run on one box is the accepted stand-in for N vs 4N
executors.

Usage:
  python scripts/scaling_bench.py            # full: generate + both runs + report
  python scripts/scaling_bench.py --run 8    # child: one timed run, prints JSON
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# default = the recorded configuration (BENCH/scaling_latest.md); small
# inputs measure per-job fixed costs, not scaling (see the webcorpus
# bench header note).
ROWS = int(os.environ.get("SCALING_ROWS", "64000000"))
DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".bench",
    f"web_pages_{ROWS}.parquet",
)
# N and 4N cores. Default 2->8: calibration probes (scripts/cpu_ceiling.py
# and measured scan throughput) show this sandbox saturates its memory
# bandwidth at ~6.5M docs/s above ~8 concurrent scan threads and its vCPUs
# are host-contended above ~16 processes, so 8->32 / 4->16 measure the box,
# not the job. 2->8 has full hardware headroom and is the honest N-vs-4N
# stand-in; all pairs are reported in BENCH/BASELINE.md.
CORES = tuple(
    int(c) for c in os.environ.get("SCALING_CORES", "2,8").split(",")
)
# SCALING_LEVELS (semicolon-separated) overrides SCALING_CORES; a spec is
# an int (local[n] via get_spark) or an explicit master such as
# local-cluster[1,2,4096] — so "N executors vs 4N executors" can be run
# literally as 1 JVM vs 4 separate executor JVMs.
LEVELS = tuple(
    s.strip()
    for s in os.environ.get(
        "SCALING_LEVELS", ";".join(str(c) for c in CORES)
    ).split(";")
    if s.strip()
)
# key mapping under test (logarithmic | linear | cubic) — all three run the
# JVM histogram path, so N->4N efficiency should hold for each
MAPPING = os.environ.get("SCALING_MAPPING", "logarithmic")
QS = {"q50": 0.5, "q95": 0.95, "q99": 0.99}


def _job(spark, df):
    """The measured job: per-lang DDSketch of doc lengths AND global
    DDSketch of latencies in ONE pass — a single scan feeds both measures
    (stack), one histogram shuffle, one assembly stage. This is the shape
    the job would take on a 1000-executor cluster: never scan the corpus
    twice for two measures."""
    from pyspark.sql import functions as F

    from ddsketch_ruby_spark.operators.quantiles import ddsketch_quantiles

    stacked = df.select(
        F.expr(
            "stack(2, 'doc_len', cast(length(text) as double), "
            "'latency', latency_ms) as (metric, v)"
        ),
        F.col("lang"),
    ).select(
        "metric",
        F.when(F.col("metric") == "doc_len", F.col("lang"))
        .otherwise(F.lit("__all__"))
        .alias("grp"),
        "v",
    )
    rows = ddsketch_quantiles(
        stacked, "v", group_by=["metric", "grp"], quantiles=QS,
        mapping=MAPPING,
    ).collect()
    by_lang = [r for r in rows if r["metric"] == "doc_len"]
    latency = [r for r in rows if r["metric"] == "latency"]
    return by_lang, latency


def run_child(spec: str) -> None:
    from scripts.webcorpus_scaling_bench import (
        _max_partition_bytes,
        spec_cores,
    )

    cores = spec_cores(spec)
    if spec.isdigit():
        from ddsketch_ruby_spark.sources.session import get_spark

        spark = get_spark(
            f"scaling-{cores}", cpus=cores, shuffle_partitions=cores
        )
    else:
        # explicit master (local-cluster[w,c,m]: w separate executor JVMs)
        # — the sketch assembly is a mapInArrow UDF, so executors need the
        # package zip (scripts/build_pyfiles.sh).
        from pyspark.sql import SparkSession

        zip_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "dist",
            "ddsketch_ruby_spark.zip",
        )
        if not os.path.exists(zip_path):
            raise SystemExit("run scripts/build_pyfiles.sh first")
        spark = (
            SparkSession.builder.master(spec)
            .appName(f"scaling-{spec}")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.default.parallelism", str(cores))
            .config("spark.driver.memory", "4g")
            .config("spark.submit.pyFiles", zip_path)
            .getOrCreate()
        )
    spark.sparkContext.setLogLevel("ERROR")
    # size input splits so tasks >> cores at every level (the 100 TB
    # regime); see _max_partition_bytes and SCALE.md §Measured anchors
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        str(_max_partition_bytes(DATA, cores)),
    )
    df = spark.read.parquet(DATA)
    n = df.count()
    _job(spark, df.limit(2000))  # warm Python workers + Arrow paths
    best = float("inf")
    result = None
    for _ in range(int(os.environ.get("SCALING_RUNS", "2"))):
        t0 = time.monotonic()
        result = _job(spark, df)
        best = min(best, time.monotonic() - t0)
    by_lang, latency = result
    q99_latency = next(r["q99"] for r in [latency[0].asDict()])
    print(
        json.dumps(
            {
                "cores": cores,
                "master": spec,
                "rows": n,
                "secs": round(best, 3),
                "docs_per_sec": round(n / best, 1),
                "q99_latency": q99_latency,
                "langs": len(by_lang),
            }
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--run":
        run_child(sys.argv[2])
        return

    # 1. materialize the deterministic input once
    if not os.path.exists(DATA):
        from ddsketch_ruby_spark.sources.session import get_spark
        from ddsketch_ruby_spark.sources.webpages import web_pages

        spark = get_spark("scaling-gen", cpus=32)
        spark.sparkContext.setLogLevel("ERROR")
        web_pages(spark, ROWS, dist="lognormal", partitions=64).write.mode(
            "overwrite"
        ).parquet(DATA)
        spark.stop()

    # 2. identical job at each parallelism, clean JVM per run.
    # INTERLEAVE the levels (lo, hi, lo, hi) and keep the best per level:
    # this shared box drifts +-20% over tens of minutes, and running
    # all-lo-then-all-hi folds that drift straight into the efficiency
    # ratio; alternating cancels it.
    results = {}
    for _ in range(int(os.environ.get("SCALING_PASSES", "2"))):
        for spec in LEVELS:
            out = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--run",
                    spec,
                ],
                capture_output=True,
                text=True,
                check=True,
                # one timed run per child: the interleaved outer passes
                # supply the repetition
                env={**os.environ, "SCALING_RUNS": "1"},
            )
            line = [
                l for l in out.stdout.splitlines() if l.startswith("{")
            ][-1]
            r = json.loads(line)
            print(line)
            best = results.get(spec)
            if best is None or r["secs"] < best["secs"]:
                results[spec] = r

    # 3. accuracy: q99 of latency vs the exact sort oracle (DuckDB)
    import duckdb

    exact_q99 = duckdb.sql(
        f"SELECT quantile_disc(latency_ms, 0.99) FROM read_parquet('{DATA}/*.parquet')"
    ).fetchone()[0]
    from scripts.webcorpus_scaling_bench import headline_level, spec_cores

    lo = min(LEVELS, key=spec_cores)
    lo_c, lo_dps = spec_cores(lo), results[lo]["docs_per_sec"]

    def eff_of(spec: str) -> float:
        return (
            results[spec]["docs_per_sec"]
            / lo_dps
            / (spec_cores(spec) / lo_c)
        )

    hi = headline_level(LEVELS, eff_of)
    eff = eff_of(hi)

    # the sketch is partitioning-invariant: q99 must agree at every level
    q99s = {spec: results[spec]["q99_latency"] for spec in LEVELS}
    if len(set(q99s.values())) != 1:
        raise AssertionError(f"q99 differs across levels: {q99s}")
    sketch_q99 = results[hi]["q99_latency"]
    rel_err = abs(sketch_q99 - exact_q99) / abs(exact_q99)
    report = {
        "rows": ROWS,
        "levels": {spec: results[spec] for spec in LEVELS},
        "scaling_efficiency": round(eff, 3),
        "q99_rel_err": round(rel_err, 6),
        "pass_efficiency_0.8": eff >= 0.8,
        "pass_q99_alpha_0.01": rel_err <= 0.01,
    }
    print(json.dumps(report))

    level_rows = "".join(
        f"| {spec} | {spec_cores(spec)} | {results[spec]['secs']} |"
        f" {results[spec]['docs_per_sec']:,} | {eff_of(spec):.3f} |\n"
        for spec in LEVELS
    )
    md = f"""# Latest scaling run (see BASELINE.md for the curated story)

Job: DDSketch (alpha=0.01, collapsing_lowest, bin_limit=2048) build+merge —
per-lang doc-length quantiles (q50/q95/q99) + global latency quantiles —
over the deterministic synthetic web_pages table
({ROWS:,} rows, lognormal doc lengths, FIXTURES.md §1 schema).
Identical job, identical input, two parallelism levels (driver-sanctioned
stand-in for N vs 4N executors; local-cluster levels run N separate
executor JVMs). Steady-state timing (warmup + best of 2), clean JVM per
level, splits sized so tasks >> cores at every level.

| level | cores | wall (s) | docs/sec | eff vs {lo_c}c |
|---|---|---|---|---|
{level_rows}
- scaling efficiency ({lo}->{hi}) = **{eff:.3f}**
  (target >= 0.8: {"PASS" if eff >= 0.8 else "FAIL"})
- q99 latency relative error vs exact sort oracle = **{rel_err:.6f}**
  (target <= alpha=0.01: {"PASS" if rel_err <= 0.01 else "FAIL"})

Reproduce: `python scripts/scaling_bench.py` (env SCALING_ROWS to resize,
SCALING_LEVELS to pick masters, e.g.
`SCALING_LEVELS='local-cluster[1,2,4096];local-cluster[4,2,4096]'`).
"""
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "scaling_latest.md",
    )
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        f.write(md)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
