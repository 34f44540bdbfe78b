"""Process-level plumbing shared by the benchmark: paths, the pinned Spark
session, box-noise and memory probes, and the span tracer."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
DATA_DIR = BENCH_DIR / "data"
OUT_DIR = BENCH_DIR / "out"
TMP_DIR = DATA_DIR / "tmp"
CORES = 4


def box_noise(window_s: float = 0.5) -> dict:
    """1-min load average and /proc/stat CPU busy fraction over a short
    window, sampled before the JVM starts (same probe as bench.py), so a
    noisy run can be attributed from its record alone."""
    try:
        load1 = os.getloadavg()[0]

        def snap():
            with open("/proc/stat") as f:
                vals = [int(x) for x in f.readline().split()[1:]]
            return vals[3] + vals[4], sum(vals)  # idle+iowait, total

        i0, t0 = snap()
        time.sleep(window_s)
        i1, t1 = snap()
        return {
            "loadavg_1m": round(load1, 2),
            "cpu_busy_frac": round(1.0 - (i1 - i0) / max(t1 - t0, 1), 3),
        }
    except OSError:
        return {}


def spark_conf(max_partition_bytes: int) -> dict[str, str]:
    """The pinned session config. ``max_partition_bytes`` (and the open
    cost) equal the largest input file, so every file is its own scan task
    and inputs written as 6 x cores files give tasks >> cores (the
    split-quantization trap in SCALE.md). Every scratch directory Spark,
    the JVM or Python would otherwise put under /tmp lives in TMP_DIR."""
    mpb = str(int(max_partition_bytes))
    return {
        "spark.master": f"local[{CORES}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.sql.files.maxPartitionBytes": mpb,
        "spark.sql.files.openCostInBytes": mpb,
        "spark.sql.adaptive.enabled": "true",
        # at these input sizes AQE would coalesce each small shuffle into
        # one task and run the per-group Python merge on a single core,
        # which the full-size inputs never do
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.driver.memory": "1g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(TMP_DIR / "spark"),
        "spark.sql.warehouse.dir": str(TMP_DIR / "warehouse"),
        # the whole heap is committed and touched at launch, so the JVM's
        # resident size does not depend on when the collector grew the heap
        "spark.driver.extraJavaOptions": (
            "-Xms1g -XX:+AlwaysPreTouch"
            f" -Djava.io.tmpdir={TMP_DIR} -XX:-UsePerfData"
            f" -Dderby.system.home={TMP_DIR}"
        ),
    }


def start_session(conf: dict[str, str]):
    """Start (or, after ``spark.stop()``, restart) the SparkSession. The
    Python workers inherit PYTHONPATH, so mapInPandas/applyInPandas tasks
    can import the library from the checkout."""
    TMP_DIR.mkdir(parents=True, exist_ok=True)
    paths = [str(REPO_ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(TMP_DIR)
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    kids = _children_map()
    out, stack = [], [os.getpid()]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _pss(pid: int) -> int:
    """Proportional resident bytes: pages shared between processes are
    split among them, so the Python workers forked from one daemon, and
    the short-lived forks the JVM makes to run ``chmod``, are not counted
    once per process."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    raise OSError(f"no Pss line for {pid}")


def tree_rss() -> dict[str, int]:
    """Proportional resident bytes per process of this tree, keyed
    'pid:command'."""
    out = {}
    for pid in [os.getpid(), *descendants()]:
        try:
            pss = _pss(pid)
            with open(f"/proc/{pid}/comm") as f:
                out[f"{pid}:{f.read().strip()}"] = pss
        except OSError:
            pass
    return out


class RssSampler:
    """Peak resident memory of this process tree (driver JVM + Python
    workers), sampled from /proc while active; ``at_peak`` is the
    per-process split of the peak sample."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        procs = tree_rss()
        total = sum(procs.values())
        if total > self.peak:
            self.peak, self.at_peak = total, procs

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def stop_session(spark) -> None:
    """Stop Spark, shut the gateway JVM down and wait until every process
    this run started has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


class Tracer:
    """In-memory spans (name, start, end, parent, workload, run id),
    written out when the run ends. Spark is lazy, so a layer's call is
    materialised on its own and re-executes its input stage: ``consumes``
    names the span that timed that input stage alone, and the layer's
    self time is its duration minus the consumed spans' durations."""

    def __init__(self, workload: str, run_id: str) -> None:
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, consumes: tuple[int, ...] = ()):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "consumes": list(consumes),
            "workload": self.workload,
            "run_id": self.run_id,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        consumed = self.spans[sid]["consumes"]
        return self.duration(sid) - sum(self.duration(c) for c in consumed)

    def records(self) -> list[dict]:
        return [
            {**s, "duration": s["end"] - s["start"], "self": self.self_time(s["id"])}
            for s in self.spans
        ]
