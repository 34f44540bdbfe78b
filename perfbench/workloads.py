"""The benchmark's workloads. Each opens its cached input, runs its job —
the public call a user of the library makes, from the input DataFrame to
the fully collected result — and checks that result against the exact
answer computed independently by DuckDB."""

from __future__ import annotations

import json
import math
import shutil
import uuid
from contextlib import nullcontext

from common import TMP_DIR
from inputs import QUANTILES, dataset_dir, load_exact

ALPHA = 0.01
QNAMES = {"q50": 0.5, "q95": 0.95, "q99": 0.99}
ORDER_FREE = ("q50", "q95", "q99", "count", "min", "max")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Check:
    """Problems found in one job's output, plus the largest quantile
    relative error seen."""

    def __init__(self) -> None:
        self.problems: list[str] = []
        self.rel_err = 0.0

    def fail(self, msg: str) -> None:
        self.problems.append(msg)

    def quantiles(self, est: dict, exact: dict) -> None:
        """``est[(group, measure)][q]`` against the exact quantiles."""
        if set(est) != set(exact):
            self.fail(f"{len(set(est) ^ set(exact))} groups missing or extra")
        for key in est.keys() & exact.keys():
            for q, x in exact[key]["q"].items():
                e = est[key].get(q)
                if e is None:
                    self.fail(f"{key} q{q}: no estimate")
                    continue
                err = abs(e - x) / abs(x) if x else (0.0 if e == 0 else math.inf)
                self.rel_err = max(self.rel_err, err)
                if err > ALPHA + 1e-12:
                    self.fail(f"{key} q{q}: {e} vs exact {x} (rel err {err:.5f})")

    def stats(self, est: dict, exact: dict) -> None:
        """Exact count/min/max equality for ``est[(group, measure)]``."""
        for key in est.keys() & exact.keys():
            got, want = est[key], exact[key]
            for field, ref in (("count", want["n"]), ("min", want["min"]), ("max", want["max"])):
                if got[field] != ref:
                    self.fail(f"{key} {field}: {got[field]} vs exact {ref}")


def _perturb(est: dict) -> None:
    """Fault injection for the self-test: one wrong q99."""
    key = sorted(est)[0]
    est[key][0.99] *= 1.05


def checkpointed_build(spark, spec, paths: list[str], tracer=None, drop_last=False):
    """Kill after half the splits, resume, then merge the checkpoint:
    returns (result rows, splits done before the kill, splits done on
    resume, lineage rows). ``drop_last`` resumes without the last split
    (fault injection for the self-test)."""
    from ddsketch_ruby_spark.plans.lineage import CheckpointedSketchBuild

    def span(name):
        return tracer.span(name) if tracer is not None else nullcontext()

    ckpt = TMP_DIR / "ckpt" / uuid.uuid4().hex
    try:
        build = CheckpointedSketchBuild(
            spark, spec, str(ckpt), "latency_ms", group_by=["lang"]
        )
        with span("plans.run_killed"):
            first = build.run(paths, fail_after=len(paths) // 2)
        with span("plans.resume"):
            resumed = build.run(paths[:-1] if drop_last else paths)
        with span("plans.result"):
            rows = build.result().collect()
        lineage = list(build.completed_splits().values())
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return rows, first, resumed, lineage


class Workload:
    name = ""
    # the columns the job reads: the pruned scan sources.scan_s times
    scan_cols: tuple[str, ...] = ()

    def __init__(self, spark, meta: dict, inject: str | None) -> None:
        self.spark = spark
        self.meta = meta
        self.inject = inject
        self.dir = dataset_dir(self.name, meta["rows"], meta["seed"])
        self.exact = load_exact(self.name, meta["rows"], meta["seed"])
        self.open()

    def open(self) -> None:
        from pyspark.sql import functions as F

        self.df = self.spark.read.parquet(str(self.dir / "input"))
        # warm-up slice: the rows of ~1/50 of the hosts, enough rows to
        # JIT the scan-side code while the per-group work stays small
        self.warm_df = self.df.filter(F.xxhash64("host") % 50 == 0)

    def scan_df(self):
        return self.df.select(*self.scan_cols)

    def warmup(self) -> None:
        self.run(self.warm_df)

    def job(self, tracer=None):
        return self.run(self.df)

    def run(self, df):
        raise NotImplementedError

    def check(self, out) -> Check:
        raise NotImplementedError


class SketchRollup(Workload):
    """ddsketch_multi of n_chars and latency_ms by host: the JVM
    histogram fast path."""

    name = "sketch_rollup"
    scan_cols = ("host", "n_chars", "latency_ms")

    def run(self, df):
        from ddsketch_ruby_spark.operators.quantiles import ddsketch_multi

        return ddsketch_multi(
            df, {"n_chars": "n_chars", "latency_ms": "latency_ms"}, group_by=["host"]
        ).collect()

    def check(self, rows) -> Check:
        c = Check()
        est, stats = {}, {}
        for r in rows:
            key = (r["host"], r["measure"])
            est[key] = {q: r[n] for n, q in QNAMES.items()}
            stats[key] = {"count": r["count"], "min": r["min"], "max": r["max"]}
        if self.inject == "quantile":
            _perturb(est)
        c.quantiles(est, self.exact)
        c.stats(stats, self.exact)
        return c


class CheckpointedBuild(Workload):
    """plans.lineage.CheckpointedSketchBuild of latency_ms by lang over K
    split directories: killed after K//2 splits, resumed, merged."""

    name = "checkpointed_build"
    scan_cols = ("lang", "latency_ms")

    def open(self) -> None:
        from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

        self.spec = DDSketchSpec()
        self.paths = [str(self.dir / s) for s in self.meta["splits"]]
        self.df = self.spark.read.parquet(*self.paths)
        with open(self.dir / "single_shot.json") as f:
            self.single_shot = {r["lang"]: r for r in json.load(f)}

    @staticmethod
    def single_shot_reference(spark, meta: dict) -> None:
        """The single-shot sketch_agg answer over every split, computed
        once per seed; the resumed build must reproduce it."""
        from ddsketch_ruby_spark.operators.agg import sketch_agg
        from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

        d = dataset_dir(CheckpointedBuild.name, meta["rows"], meta["seed"])
        if (d / "single_shot.json").exists():
            return
        df = spark.read.parquet(*[str(d / s) for s in meta["splits"]])
        rows = sketch_agg(df, DDSketchSpec(), "latency_ms", ["lang"]).collect()
        with open(d / "single_shot.json", "w") as f:
            json.dump([r.asDict() for r in rows], f)

    def warmup(self) -> None:
        checkpointed_build(self.spark, self.spec, self.paths[:1])

    def job(self, tracer=None):
        return checkpointed_build(
            self.spark, self.spec, self.paths, tracer,
            drop_last=self.inject == "split",
        )

    def check(self, out) -> Check:
        rows, first, resumed, _ = out
        c = Check()
        k = len(self.paths)
        if (first, resumed) != (k // 2, k - k // 2):
            c.fail(f"splits {first}+{resumed}, expected {k // 2}+{k - k // 2}")
        est, stats = {}, {}
        for r in rows:
            key = (r["lang"], "latency_ms")
            est[key] = {q: r[n] for n, q in QNAMES.items()}
            stats[key] = {"count": r["count"], "min": r["min"], "max": r["max"]}
            ref = self.single_shot.get(r["lang"])
            if ref is None:
                c.fail(f"{r['lang']}: not in the single-shot result")
                continue
            for f in ORDER_FREE:
                if r[f] != ref[f]:
                    c.fail(f"{r['lang']} {f}: {r[f]} vs single-shot {ref[f]}")
            for f in ("sum", "avg"):  # float sums differ only by order
                if abs(r[f] - ref[f]) > 1e-9 * abs(ref[f]):
                    c.fail(f"{r['lang']} {f}: {r[f]} vs single-shot {ref[f]}")
        if self.inject == "quantile":
            _perturb(est)
        c.quantiles(est, self.exact)
        c.stats(stats, self.exact)
        return c


WORKLOADS = {w.name: w for w in (SketchRollup, CheckpointedBuild)}
assert set(QNAMES.values()) == set(QUANTILES)
