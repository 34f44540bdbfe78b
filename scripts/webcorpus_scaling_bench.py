"""Scaling-efficiency evidence for the FULL north-star job: the one-call
web-corpus pipeline (prepare_web_corpus: html extraction + URL keys +
PII redaction + features + split) feeding the per-domain sketch rollup
(web_corpus_quantiles) over the deterministic web_pages table at two
parallelism levels. This is the two-cluster-size criterion applied to
the composed pipeline rather than a single operator: same input, N vs
4N cores, throughput at both + efficiency.

Same methodology as scripts/scaling_bench.py / text_scaling_bench.py:
interleaved levels, best-of per level, clean JVM per run (subprocess
child), determinism asserted across levels via a value checksum of the
rollup (XOR of per-row hashes — partitioning-insensitive).

Usage:
  python scripts/webcorpus_scaling_bench.py            # full report
  python scripts/webcorpus_scaling_bench.py --run 8    # child: one run
Env: WEBCORPUS_ROWS (default 16000000), WEBCORPUS_CORES (default 2,8),
     WEBCORPUS_RUNS / WEBCORPUS_PASSES (default 2 each),
     WEBCORPUS_LEVELS (semicolon-separated level specs overriding
     WEBCORPUS_CORES; a spec is an int — local[n] via get_spark — or an
     explicit master like local-cluster[4,2,4096], the multi-JVM proof
     that the single-JVM ceiling is shared-heap GC, not the plan).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# default = the recorded configuration (BENCH/webcorpus_scaling_latest.md).
# Inputs much below ~10M rows measure per-JOB fixed costs (plan compile,
# stage scheduling, Python-worker startup: ~3-5 s), not scaling — a bare
# 1M-row run reads ~0.70 for that reason alone (8-core wall 4.6 s).
ROWS = int(os.environ.get("WEBCORPUS_ROWS", "16000000"))
DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".bench",
    f"web_pages_{ROWS}.parquet",
)
CORES = tuple(
    int(c) for c in os.environ.get("WEBCORPUS_CORES", "2,8").split(",")
)
LEVELS = tuple(
    s.strip()
    for s in os.environ.get(
        "WEBCORPUS_LEVELS", ";".join(str(c) for c in CORES)
    ).split(";")
    if s.strip()
)


def spec_cores(spec: str) -> int:
    """Total cores a level spec provides (local[n] or local-cluster[w,c,m])."""
    if spec.isdigit():
        return int(spec)
    if spec.startswith("local-cluster["):
        w, c = spec[len("local-cluster[") : -1].split(",")[:2]
        return int(w) * int(c)
    if spec.startswith("local["):
        return int(spec[len("local[") : -1])
    raise ValueError(f"unrecognized level spec: {spec}")


def headline_level(levels, eff) -> str:
    """The level a scaling headline reports: the one with the WORST
    efficiency ``eff(level)`` among the levels with the most cores (say one
    JVM against four executor JVMs), never the most favourable one."""
    top = max(spec_cores(s) for s in levels)
    return min((s for s in levels if spec_cores(s) == top), key=eff)


def _max_partition_bytes(data_dir: str, cores: int, waves: int = 12) -> int:
    """Input-split size giving every level ~cores*waves scan tasks.

    At the default 128 MB maxPartitionBytes this input bin-packs into ~11
    splits REGARDLESS of core count (totalBytes/parallelism exceeds the cap
    at both levels), so 8 cores ran the scan stage in 2 half-empty waves
    (ceil(11/8)/(11/8) = 1.45x ideal) while 2 cores packed perfectly —
    a task-count quantization artifact, not engine behavior. On a real
    100 TB table tasks >> cores and the default is fine; a small-input
    bench must emulate that regime by shrinking the split size.
    """
    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(data_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    return max(1 << 22, total // (cores * waves))


def run_child(spec: str) -> None:
    from pyspark.sql import functions as F

    from ddsketch_ruby_spark.operators.webcorpus import (
        prepare_web_corpus,
        web_corpus_quantiles,
    )

    if spec.isdigit():
        from ddsketch_ruby_spark.sources.session import get_spark

        cores = int(spec)
        spark = get_spark(
            f"webcorpus-scaling-{cores}", cpus=cores, shuffle_partitions=cores
        )
    else:
        # explicit master (e.g. local-cluster[4,2,4096] — the multi-JVM
        # proof). Unlike the decontaminate scan, this job's final sketch
        # assembly is a mapInArrow UDF, so executors need the package:
        # ship the spark-submit zip (scripts/build_pyfiles.sh).
        from pyspark.sql import SparkSession

        zip_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "dist",
            "ddsketch_ruby_spark.zip",
        )
        if not os.path.exists(zip_path):
            raise SystemExit("run scripts/build_pyfiles.sh first")
        cores = spec_cores(spec)
        spark = (
            SparkSession.builder.master(spec)
            .appName(f"webcorpus-scaling-{spec}")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.default.parallelism", str(cores))
            .config("spark.driver.memory", "4g")
            .config("spark.submit.pyFiles", zip_path)
            .getOrCreate()
        )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        str(_max_partition_bytes(DATA, cores)),
    )
    df = spark.read.parquet(DATA)
    n = df.count()

    def job():
        rollup = web_corpus_quantiles(
            prepare_web_corpus(df), group_cols=["host"]
        )
        row = rollup.agg(
            F.bit_xor(
                F.xxhash64(
                    "host",
                    "qname",
                    F.round("n_chars_q", 6),
                    F.round("latency_ms_q", 6),
                )
            ).alias("checksum"),
            F.count("*").alias("rows"),
        ).collect()[0]
        return int(row.checksum), int(row.rows)

    # untimed warmup (codegen + JIT) on a slice
    web_corpus_quantiles(
        prepare_web_corpus(df.limit(5000)), group_cols=["host"]
    ).count()
    best, check = float("inf"), None
    for _ in range(int(os.environ.get("WEBCORPUS_RUNS", "2"))):
        t0 = time.monotonic()
        check = job()
        best = min(best, time.monotonic() - t0)
    print(
        json.dumps(
            {
                "cores": cores,
                "master": spec,
                "rows": n,
                "secs": round(best, 3),
                "docs_per_sec": round(n / best, 1),
                "checksum": check[0],
                "rollup_rows": check[1],
            }
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--run":
        run_child(sys.argv[2])
        return

    if not os.path.exists(DATA):
        from ddsketch_ruby_spark.sources.session import get_spark
        from ddsketch_ruby_spark.sources.webpages import web_pages

        spark = get_spark("webcorpus-gen", cpus=32)
        spark.sparkContext.setLogLevel("ERROR")
        web_pages(spark, ROWS, dist="lognormal", partitions=64).write.mode(
            "overwrite"
        ).parquet(DATA)
        spark.stop()

    results: dict[str, dict] = {}
    for _ in range(int(os.environ.get("WEBCORPUS_PASSES", "2"))):
        for spec in LEVELS:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--run", spec],
                capture_output=True,
                text=True,
                check=True,
            )
            r = json.loads(out.stdout.strip().splitlines()[-1])
            prev = results.get(spec)
            if prev is not None and (
                prev["checksum"] != r["checksum"]
                or prev["rollup_rows"] != r["rollup_rows"]
            ):
                raise AssertionError(f"non-deterministic result: {prev} vs {r}")
            if prev is None or r["docs_per_sec"] > prev["docs_per_sec"]:
                results[spec] = r

    # the headline determinism claim: the rollup is bit-identical ACROSS
    # parallelism levels (and JVM topologies), not just across passes
    first = results[LEVELS[0]]
    for spec in LEVELS[1:]:
        if (
            results[spec]["checksum"] != first["checksum"]
            or results[spec]["rollup_rows"] != first["rollup_rows"]
        ):
            raise AssertionError(
                f"cross-level nondeterminism: {first} vs {results[spec]}"
            )
    lo = min(LEVELS, key=spec_cores)
    lo_c, lo_dps = spec_cores(lo), results[lo]["docs_per_sec"]

    def eff(spec: str) -> float:
        return (
            results[spec]["docs_per_sec"] / lo_dps / (spec_cores(spec) / lo_c)
        )

    hi = headline_level(LEVELS, eff)
    report = {
        "pipeline": "prepare_web_corpus + web_corpus_quantiles",
        "rows": ROWS,
        "levels": {spec: results[spec] for spec in LEVELS},
        "scaling_efficiency": round(eff(hi), 3),
    }
    print(json.dumps(report))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/webcorpus_scaling_latest.md", "w") as f:
        f.write(
            "# Web-corpus pipeline scaling (north-star job, "
            "N vs 4N cores)\n\n"
            f"rows={ROWS} (deterministic web_pages, lognormal lengths); "
            "job = prepare_web_corpus (extract + URL keys + PII + "
            "features + split) -> web_corpus_quantiles (per-HOST — the "
            "zipf-skewed key, 997 groups with a hot head — "
            "q50/q95/q99 of n_chars and latency_ms); clean JVM per run, "
            "interleaved passes, best-of; determinism asserted via "
            "rollup checksum across levels (including across JVM "
            "topologies when a local-cluster level is present).\n\n"
            "| level | cores | secs | docs/s | eff vs "
            f"{lo_c}c |\n|---|---|---|---|---|\n"
            + "".join(
                f"| {spec} | {spec_cores(spec)} |"
                f" {results[spec]['secs']} |"
                f" {results[spec]['docs_per_sec']} |"
                f" {eff(spec):.3f} |\n"
                for spec in LEVELS
            )
            + f"\nScaling efficiency {lo_c}->{spec_cores(hi)} cores"
            f" ({hi}): **{eff(hi):.3f}**\n"
        )


if __name__ == "__main__":
    main()
