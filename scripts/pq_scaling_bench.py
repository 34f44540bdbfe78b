"""Scaling-efficiency evidence for the PQ ingest path: the identical
ivfpq_encode (the fused Arrow kernel at production codebook size) job at
two parallelism levels over the same synthetic vector table, reporting
throughput at both and efficiency = (thr_4N / thr_N) / 4. Same
methodology as scripts/scaling_bench.py (interleaved levels, best-of per
level, clean JVM per run); same 2->8 core pair (the sandbox's honest
N-vs-4N stand-in — see that file's calibration note).

Usage:
  python scripts/pq_scaling_bench.py          # generate + both runs + report
  python scripts/pq_scaling_bench.py --run 8  # child: one timed run
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = int(os.environ.get("PQ_SCALING_ROWS", "2000000"))
DIM = 64
DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".bench",
    f"vectors_{ROWS}.parquet",
)
CORES = tuple(
    int(c) for c in os.environ.get("PQ_SCALING_CORES", "2,8").split(",")
)


def _gen_vectors(spark, rows: int):
    """Deterministic synthetic vectors: value(id, j) from a splitmix64 of
    id*DIM+j — a pure function of the row id, so the table is identical
    for any partitioning (the web_pages discipline)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            x = (
                ids[:, None].astype(np.uint64) * np.uint64(DIM)
                + np.arange(DIM, dtype=np.uint64)[None, :]
            )
            # splitmix64 finalizer
            x = x + np.uint64(0x9E3779B97F4A7C15)
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            x = x ^ (x >> np.uint64(31))
            u = (x >> np.uint64(11)).astype(np.float64) * 2.0**-53
            vecs = ((u - 0.5) * 0.5).astype(np.float32)  # ~[-0.25, 0.25]
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": [v for v in vecs]}
            )

    return spark.range(rows).repartition(64).mapInPandas(gen, schema=schema)


def run_child(cores: int) -> None:
    import numpy as np

    from ddsketch_ruby_spark.operators.pq import ivfpq_encode, pq_codebook
    from ddsketch_ruby_spark.sources.session import get_spark

    spark = get_spark(f"pq-scaling-{cores}", cpus=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(DATA)
    n = df.count()
    cents = np.random.default_rng(7).normal(0.0, 0.06, (16, DIM))
    books = pq_codebook(dim=DIM, m=8, codebook_size=256, seed=42, scale=0.06)

    def job(frame):
        # keep=[id]: the index-build projection — vectors enter the kernel
        # but are never re-serialized out of it (ivfpq_write_index shape)
        enc = ivfpq_encode(
            frame, "embedding", cents, books, keep=["vec_id"]
        )
        # force full encode; checksum keeps the result honest across runs
        from pyspark.sql import functions as F

        return enc.agg(
            F.sum(F.col("ivf_cell")).alias("cells"),
            F.sum(F.element_at("pq_code", 1).cast("long")).alias("c0"),
        ).collect()[0]

    job(df.limit(2000))  # warm Python workers + Arrow path
    best, checksum = float("inf"), None
    for _ in range(int(os.environ.get("PQ_SCALING_RUNS", "2"))):
        t0 = time.monotonic()
        checksum = job(df)
        best = min(best, time.monotonic() - t0)
    print(
        json.dumps(
            {
                "cores": cores,
                "rows": n,
                "secs": round(best, 3),
                "vecs_per_sec": round(n / best, 1),
                "checksum": [int(checksum["cells"]), int(checksum["c0"])],
            }
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--run":
        run_child(int(sys.argv[2]))
        return

    if not os.path.exists(DATA):
        from ddsketch_ruby_spark.sources.session import get_spark

        spark = get_spark("pq-scaling-gen", cpus=32)
        spark.sparkContext.setLogLevel("ERROR")
        _gen_vectors(spark, ROWS).write.mode("overwrite").parquet(DATA)
        spark.stop()

    results: dict[int, dict] = {}
    for _ in range(int(os.environ.get("PQ_SCALING_PASSES", "2"))):
        for cores in CORES:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--run", str(cores)],
                capture_output=True,
                text=True,
                check=True,
            )
            r = json.loads(out.stdout.strip().splitlines()[-1])
            prev = results.get(cores)
            if prev is not None and prev["checksum"] != r["checksum"]:
                raise AssertionError(
                    f"non-deterministic encode: {prev} vs {r}"
                )
            if prev is None or r["vecs_per_sec"] > prev["vecs_per_sec"]:
                results[cores] = r

    lo, hi = CORES
    eff = (results[hi]["vecs_per_sec"] / results[lo]["vecs_per_sec"]) / (
        hi / lo
    )
    report = {
        "job": "ivfpq_encode (m=8, k=256, 16 cells, dim 64)",
        "rows": ROWS,
        "levels": results,
        "efficiency": round(eff, 3),
    }
    print(json.dumps(report, indent=2))
    with open(
        os.path.join(os.path.dirname(DATA), os.pardir, "BENCH", "pq_scaling_latest.md"),
        "w",
    ) as f:
        f.write(
            "# PQ encode scaling (autogenerated by scripts/pq_scaling_bench.py)\n\n"
            + "```json\n"
            + json.dumps(report, indent=2)
            + "\n```\n"
        )


if __name__ == "__main__":
    main()
