"""Repository benchmark: one workload per invocation, on local[4].

    python3 perfbench/run.py --workload sketch_rollup --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each exists): sketch_rollup and
checkpointed_build. Inputs come from ``--seed`` through
``sources.webpages.web_pages`` and are cached under perfbench/data.

``--trace 0`` sets up three times (the first launches the JVM), runs the
job once untimed (after the warm-up slices the first full-size job is
still about 20% slower than the ones after it), then repeats it for
``--seconds`` (at least three times) and reports the end-to-end metrics:
docs_per_s (input rows / median job time), setup_s (median set-up),
peak_rss_mb (process tree during the timed jobs) and q_rel_err_max.
``--trace 1`` runs the untimed job, then the job untraced and traced (the
difference is the tracing overhead), reads the traced job's shuffle volume,
and times every layer on the seeded layer probe (see layers.py).

Every job's output is checked against the exact answer; a job that raises
or fails its check counts in ``failed`` (fail_frac = failed / attempted).
The metrics print one per line with their unit, the full run record
(pinned Spark config, box noise, spans, every timing) is written to
perfbench/out/, and the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
import uuid

from common import (
    OUT_DIR,
    REPO_ROOT,
    RssSampler,
    Tracer,
    box_noise,
    spark_conf,
    start_session,
    stop_session,
)

SETUPS = 3
MIN_REPS = 3
PLACEHOLDER_SPLIT_BYTES = 4 << 20  # until the inputs' file sizes are known


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier (the self-test runs tiny inputs)")
    p.add_argument("--inject", choices=("quantile", "split"),
                   help="fault injection for the self-test")
    return p.parse_args(argv)


def shuffle_written(spark) -> dict:
    """Shuffle bytes/records written per stage, from Spark's status store."""
    from py4j.protocol import Py4JError

    ctx = spark.sparkContext
    sc = ctx._jsc.sc()
    try:
        sc.listenerBus().waitUntilEmpty()
    except Py4JError:
        time.sleep(0.5)
    stages = sc.statusStore().stageList(  # all statuses, no task details
        None, False, False, ctx._gateway.new_array(ctx._jvm.double, 0),
        ctx._jvm.java.util.ArrayList(),
    )
    out = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        out[(s.stageId(), s.attemptId())] = (s.shuffleWriteBytes(), s.shuffleWriteRecords())
    return out


class Runner:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.rel_errs: list[float] = []
        self.problems: list[str] = []

    def tally(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += problems[:5]

    def run_job(self, wl, tracer=None) -> float | None:
        """One job, timed and checked; None when it raised."""
        t0 = time.monotonic()
        try:
            out = wl.job(tracer)
        except Exception as e:  # a failed job is a measurement, not a crash
            self.tally([f"job raised {type(e).__name__}: {e}"[:500]])
            return None
        dt = time.monotonic() - t0
        check = wl.check(out)
        self.rel_errs.append(check.rel_err)
        self.tally(check.problems)
        return dt


def main(argv=None) -> int:
    args = parse_args(argv)
    noise = box_noise()  # before the JVM starts
    sys.path.insert(0, str(REPO_ROOT))
    # outside a full checkout this import fails: exit != 0, no result line
    import ddsketch_ruby_spark  # noqa: F401

    import inputs
    from layers import probe_layers, timed
    from workloads import WORKLOADS, CheckpointedBuild, noop

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(args.workload, run_id)
    names = [args.workload] + (["layers"] if args.trace else [])

    # set-up 1 launches the JVM; one-time input generation is excluded
    t0 = time.monotonic()
    spark = start_session(spark_conf(PLACEHOLDER_SPLIT_BYTES))
    session_s = time.monotonic() - t0
    tg = time.monotonic()
    metas = {
        n: inputs.ensure(spark, n, inputs.scale_rows(n, args.scale), args.seed)
        for n in names
    }
    conf = spark_conf(max(m["max_file_bytes"] for m in metas.values()))
    for key in ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes"):
        spark.conf.set(key, conf[key])
    if args.workload == CheckpointedBuild.name:
        CheckpointedBuild.single_shot_reference(spark, metas[args.workload])
    generate_wall_s = time.monotonic() - tg

    Workload = WORKLOADS[args.workload]
    t1 = time.monotonic()
    wl = Workload(spark, metas[args.workload], args.inject)
    wl.warmup()
    setups = [session_s + time.monotonic() - t1]
    # only the untraced run reports setup_s
    for _ in range((1 if args.trace else SETUPS) - 1):
        spark.stop()
        t1 = time.monotonic()
        spark = start_session(conf)
        wl = Workload(spark, metas[args.workload], args.inject)
        wl.warmup()
        setups.append(time.monotonic() - t1)

    runner = Runner()
    record: dict = {"untraced_s": [], "traced_s": []}
    record["settle_s"] = runner.run_job(wl)
    n_rows = metas[args.workload]["rows"]
    metrics: dict[str, tuple[float, str]] = {}
    if not args.trace:
        with RssSampler() as rss:
            t_end = time.monotonic() + args.seconds
            reps = 0
            while reps < MIN_REPS or time.monotonic() < t_end:
                reps += 1
                dt = runner.run_job(wl)
                if dt is not None:
                    record["untraced_s"].append(dt)
        times = record["untraced_s"]
        metrics["docs_per_s"] = (
            n_rows / statistics.median(times) if times else 0.0, "docs/s"
        )
        metrics["setup_s"] = (statistics.median(setups), "s")
        metrics["peak_rss_mb"] = (rss.peak / 2**20, "MB")
        record["rss_at_peak"] = rss.at_peak
        metrics["q_rel_err_max"] = (max(runner.rel_errs, default=1.0), "ratio")
    else:
        dt = runner.run_job(wl)
        if dt is not None:
            record["untraced_s"].append(dt)
        before = shuffle_written(spark)
        with tracer.span(f"job.{args.workload}"):
            dt = runner.run_job(wl, tracer)
        if dt is not None:
            record["traced_s"].append(dt)
        new = [v for k, v in shuffle_written(spark).items() if k not in before]
        scan = timed(tracer, "sources.scan_s", lambda: noop(wl.scan_df()))
        layer_metrics, problems = probe_layers(spark, tracer, metas["layers"])
        runner.tally(problems)
        wmeta = metas[args.workload]
        metrics = {
            "sources.generate_s": (wmeta["generate_s"], "s"),
            "sources.session_s": (session_s, "s"),
            "sources.scan_s": (tracer.duration(scan), "s"),
            "sources.input_bytes": (wmeta["input_bytes"], "bytes"),
            **layer_metrics,
            "shuffle.bytes": (sum(b for b, _ in new), "bytes"),
            "shuffle.records": (sum(r for _, r in new), "count"),
        }
        if record["untraced_s"] and record["traced_s"]:
            overhead = record["traced_s"][0] - record["untraced_s"][0]
            metrics["trace.overhead_s"] = (overhead, "s")

    fail_frac = runner.failed / max(runner.attempted, 1)
    OUT_DIR.mkdir(parents=True, exist_ok=True)
    out_path = OUT_DIR / f"{args.workload}-s{args.seed}-t{args.trace}-{run_id}.json"
    record.update(
        workload=args.workload, seed=args.seed, trace=args.trace, run_id=run_id,
        scale=args.scale, inject=args.inject, rows=n_rows, box_noise=noise,
        spark_conf=conf, inputs=metas, generate_wall_s=generate_wall_s,
        setups_s=setups, attempted=runner.attempted, failed=runner.failed,
        fail_frac=fail_frac, problems=runner.problems,
        metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        spans=tracer.records(),
    )
    out_path.write_text(json.dumps(record, indent=1, default=str))
    stop_session(spark)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} rows={n_rows} "
          f"master={conf['spark.master']} noise={noise}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"fail_frac {fail_frac:.6g} ratio ({runner.failed}/{runner.attempted})")
    for p in runner.problems[:10]:
        print(f"problem: {p}")
    print(f"record {out_path.relative_to(REPO_ROOT)}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
