"""The traced run's per-layer measurements.

Every layer's public entry point is materialised on its own — to a
``noop`` sink, or collected, or over a ``localCheckpoint``-ed input — on
the seeded layer probe (10k web_pages rows plus their numeric projection
as split directories), so each traced run reports the same layer profile
whichever workload it belongs to. Self time subtracts the span that timed
the layer's input stage alone (e.g. histogram minus scan). The workload's
own job supplies the sources and shuffle figures.
"""

from __future__ import annotations

import time
from statistics import median

import numpy as np

from inputs import dataset_dir, sample_values
from workloads import checkpointed_build, noop

REPS = 3
SLOW_REPS = 2  # for the probes that take seconds each
KERNEL_VALUES = 1_000_000
# the regex functions cost well under a Spark job's fixed cost on the
# probe's rows, so they run over the rows repeated this many times
FUNCTION_COPIES = 8


def timed(tracer, name: str, action, consumes: int | None = None, reps: int = REPS) -> int:
    """Run ``action`` ``reps`` times under spans; returns the (low) median
    span."""
    sids = []
    for _ in range(reps):
        with tracer.span(name, consumes=() if consumes is None else (consumes,)) as sid:
            action()
        sids.append(sid)
    return sorted(sids, key=tracer.duration)[(len(sids) - 1) // 2]


def _functions(spark, tracer, raw, out: dict) -> None:
    from ddsketch_ruby_spark.functions.html import html_to_text
    from ddsketch_ruby_spark.functions.url import url_host
    from ddsketch_ruby_spark.operators.webcorpus import prepare_web_corpus

    rows = (
        raw.select("url", "html", "latency_ms")
        .crossJoin(spark.range(FUNCTION_COPIES).hint("broadcast"))
        .drop("id")
        .localCheckpoint(eager=True)
    )
    scan = timed(tracer, "probe.scan_raw", lambda: noop(rows))
    for metric, df in (
        ("functions.html_to_text_s", rows.select(html_to_text("html"), "url", "latency_ms")),
        ("functions.url_host_s", rows.select(url_host("url"), "html", "latency_ms")),
        (
            "functions.prepare_s",
            prepare_web_corpus(rows).select("host", "n_chars", "latency_ms"),
        ),
    ):
        sid = timed(tracer, metric, lambda df=df: noop(df), consumes=scan)
        out[metric] = (tracer.self_time(sid), "s")


def _ddsketch_jvm(spark, tracer, num, out: dict) -> None:
    from pyspark.sql import functions as F

    from ddsketch_ruby_spark.operators.ddsketch_jvm import (
        assemble_histogram,
        histogram_rows,
    )
    from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

    spec = DDSketchSpec()
    proj = num.select("host", "n_chars", "latency_ms")
    # the (measure, value) stacking ddsketch_multi feeds the histogram
    stacked = proj.select(
        F.stack(
            F.lit(2),
            F.lit("n_chars"), F.col("n_chars").cast("double"),
            F.lit("latency_ms"), F.col("latency_ms").cast("double"),
        ).alias("measure", "__v"),
        "host",
    )
    keys = ["measure", "host"]
    hist = histogram_rows(stacked, spec, "__v", keys)
    scan = timed(tracer, "probe.scan_numeric", lambda: noop(proj))
    sid = timed(tracer, "ddsketch_jvm.histogram_s", lambda: noop(hist), consumes=scan)
    out["ddsketch_jvm.histogram_s"] = (tracer.self_time(sid), "s")
    held = hist.localCheckpoint(eager=True)
    out["ddsketch_jvm.histogram_rows"] = (held.count(), "count")
    result = []
    sid = timed(
        tracer, "ddsketch_jvm.assemble_s",
        lambda: result.append(assemble_histogram(held, spec, keys).collect()),
        reps=SLOW_REPS,
    )
    out["ddsketch_jvm.assemble_s"] = (tracer.self_time(sid), "s")
    out["ddsketch_jvm.groups"] = (len(result[-1]), "count")


def _agg(spark, tracer, num, out: dict) -> None:
    from pyspark.sql import functions as F

    from ddsketch_ruby_spark.operators.agg import sketch_finalize, sketch_partials
    from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

    spec = DDSketchSpec()
    parts = sketch_partials(num, spec, "latency_ms", ["lang"])
    scan = timed(tracer, "probe.scan_lang", lambda: noop(num.select("lang", "latency_ms")))
    sid = timed(tracer, "agg.partials_s", lambda: noop(parts), consumes=scan, reps=SLOW_REPS)
    out["agg.partials_s"] = (tracer.self_time(sid), "s")
    held = parts.localCheckpoint(eager=True)
    n_scalars = len(spec.state_fields()) - 2  # every field but the bin arrays
    row = held.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(8 * (F.size("pos_bins") + F.size("neg_bins") + n_scalars)).alias("bytes"),
    ).collect()[0]
    out["agg.partial_rows"] = (row["rows"], "count")
    out["agg.state_bytes"] = (row["bytes"], "bytes")
    sid = timed(
        tracer, "agg.finalize_s",
        lambda: sketch_finalize(held, spec, ["lang"]).collect(),
    )
    out["agg.finalize_s"] = (tracer.self_time(sid), "s")


def _plans(spark, tracer, paths: list[str], out: dict) -> list[str]:
    from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

    with tracer.span("plans.build") as build:
        _, first, resumed, lineage = checkpointed_build(
            spark, DDSketchSpec(), paths, tracer
        )
    by_name = {s["name"]: s["id"] for s in tracer.spans if s["parent"] == build}
    out["plans.split_s"] = (median([r["wall_sec"] for r in lineage]), "s")
    out["plans.resume_s"] = (tracer.duration(by_name["plans.resume"]), "s")
    out["plans.result_s"] = (tracer.duration(by_name["plans.result"]), "s")
    out["plans.splits_first"] = (first, "count")
    out["plans.splits_resumed"] = (resumed, "count")
    out["plans.checkpoint_bytes"] = (sum(r["sketch_bytes"] for r in lineage), "bytes")
    k = len(paths)
    if (first, resumed) != (k // 2, k - k // 2):
        return [f"probe build splits {first}+{resumed}, expected {k // 2}+{k - k // 2}"]
    return []


def _kernel(values: np.ndarray, out: dict) -> None:
    """Driver-side timings of the DDSketch / DDSketchSpec public methods."""
    from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

    spec = DDSketchSpec()
    n = len(values)

    def per_value_ns(fn) -> float:
        ts = []
        for _ in range(REPS):
            t0 = time.perf_counter_ns()
            fn()
            ts.append(time.perf_counter_ns() - t0)
        return median(ts) / n

    mapping = spec.zero().mapping
    out["kernel.key_batch_ns"] = (per_value_ns(lambda: mapping.key_batch(values)), "ns")
    out["kernel.add_batch_ns"] = (per_value_ns(lambda: spec.zero().add_batch(values)), "ns")

    half = n // 2
    a_row = spec.state_to_row(spec.update(spec.zero(), values[:half]))
    b = spec.update(spec.zero(), values[half:])

    def fresh_a():  # states alias their row's arrays and merge mutates them
        return spec.row_to_state(
            {k: v.copy() if isinstance(v, np.ndarray) else v for k, v in a_row.items()}
        )

    full = spec.merge(fresh_a(), b)

    def per_call_us(fn, setup=lambda: None, calls: int = 200) -> float:
        ts = []
        for _ in range(calls):
            arg = setup()
            t0 = time.perf_counter_ns()
            fn(arg)
            ts.append(time.perf_counter_ns() - t0)
        return median(ts) / 1e3

    out["kernel.merge_us"] = (
        per_call_us(lambda s: spec.merge(s, b), setup=fresh_a), "us"
    )
    out["kernel.quantile_us"] = (
        per_call_us(lambda _: [full.get_quantile_value(q) for q in (0.5, 0.95, 0.99)]) / 3,
        "us",
    )
    out["sketches.state_to_row_us"] = (per_call_us(lambda _: spec.state_to_row(full)), "us")
    full_row = spec.state_to_row(full)
    out["sketches.row_to_state_us"] = (per_call_us(lambda _: spec.row_to_state(full_row)), "us")


def _dedup(spark, tracer, raw, out: dict) -> list[str]:
    """The near-duplicate composition: length >= 50, exact dedup on text,
    then banded minhash LSH (H=64, 16 bands, bucket cap 50, J >= 0.5)."""
    from pyspark.sql import functions as F

    from ddsketch_ruby_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = (
        raw.filter(F.length("text") >= 50)
        .dropDuplicates(["text"])
        .select("url", "text")
        .localCheckpoint(eager=True)
    )
    out["dedup.docs_after_exact"] = (docs.count(), "count")
    sigs = minhash_signatures(docs, "text", "url", num_hashes=64)
    sid = timed(tracer, "dedup.signatures_s", lambda: noop(sigs))
    out["dedup.signatures_s"] = (tracer.self_time(sid), "s")
    held = sigs.localCheckpoint(eager=True)

    def pairs():  # a fresh plan per repetition: no reused shuffle output
        return minhash_lsh_pairs(
            docs, "text", "url", num_hashes=64, bands=16, max_bucket_size=50,
            min_jaccard=0.5, signatures=held,
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("est_jaccard").alias("min_j"),
            F.bit_xor(F.xxhash64("id_a", "id_b")).alias("checksum"),
        ).collect()[0]

    results = []
    sid = timed(tracer, "dedup.pairs_s", lambda: results.append(pairs()), reps=SLOW_REPS)
    out["dedup.pairs_s"] = (tracer.self_time(sid), "s")
    out["dedup.candidate_pairs"] = (results[0]["n"], "count")
    problems = []
    if len({r["checksum"] for r in results}) != 1:
        problems.append("near-dup pair-set checksum differs across repetitions")
    if results[0]["n"] and results[0]["min_j"] < 0.5:
        problems.append(f"near-dup pair with est_jaccard {results[0]['min_j']} < 0.5")
    return problems


def probe_layers(spark, tracer, meta: dict) -> tuple[dict, list[str]]:
    """Every layer's metrics on the layer probe; returns (metrics,
    correctness problems)."""
    d = dataset_dir("layers", meta["rows"], meta["seed"])
    raw = spark.read.parquet(str(d / "input"))
    paths = [str(d / s) for s in meta["numeric_splits"]]
    num = spark.read.parquet(*paths)
    out: dict = {}
    problems: list[str] = []
    with tracer.span("layers"):
        _functions(spark, tracer, raw, out)
        _ddsketch_jvm(spark, tracer, num, out)
        _agg(spark, tracer, num, out)
        problems += _plans(spark, tracer, paths, out)
        with tracer.span("kernel"):
            values = sample_values("layers", meta["rows"], meta["seed"], "latency_ms", KERNEL_VALUES)
            _kernel(values, out)
        problems += _dedup(spark, tracer, raw, out)
    return out, problems
