"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

Runs every workload with ``--trace 0`` and ``--trace 1`` on tiny inputs
and checks that each result line is correct and carries exactly the
metric names and units BENCHMARK.json lists. Then checks that a perturbed
quantile (``--inject quantile``) and a split dropped on resume
(``--inject split``) make the run report failed jobs. Exits non-zero on
the first unmet expectation.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
SCALE = "0.02"


def run(workload: str, trace: int, inject: str | None = None) -> dict:
    cmd = [
        sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", SCALE,
    ]
    if inject:
        cmd += ["--inject", inject]
    out = subprocess.run(cmd, cwd=REPO_ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect(cond: bool, msg: str) -> None:
    if not cond:
        sys.exit(f"selftest FAILED: {msg}")
    print(f"ok: {msg}")


def main() -> None:
    spec = json.loads((REPO_ROOT / "BENCHMARK.json").read_text())
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for w in spec["workloads"]:
            r = run(w["name"], trace)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(got == want, f"{w['name']} --trace {trace} emits every {key} metric with its unit")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                   f"{w['name']} --trace {trace} is correct ({r['attempted']} jobs)")
            if trace == 0:
                err = r["metrics"]["q_rel_err_max"]["value"]
                expect(0 < err <= 0.01, f"{w['name']} q_rel_err_max {err:.5f} <= 0.01")
    for workload, inject in (("sketch_rollup", "quantile"), ("checkpointed_build", "split")):
        r = run(workload, 0, inject)
        expect(not r["correct"] and r["failed"] > 0,
               f"{workload} --inject {inject} raises fail_frac to {r['failed']}/{r['attempted']}")


if __name__ == "__main__":
    main()
