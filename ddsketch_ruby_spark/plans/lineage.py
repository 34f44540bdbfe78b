"""Checkpointed, resumable sketch builds with per-split lineage + metrics
(north rule: "resumable from checkpoint with per-partition lineage").

Unit of work = one input file (parquet split). For each unit we write,
atomically (temp + rename), one partial-state parquet plus a lineage row
(split id, values_sketched, wall seconds, finished-at). Resume = list pending units,
anti-join against completed lineage, process only the remainder, then merge
all persisted partials. A killed job therefore never recomputes a finished
split, and the final merge is a pure fold over the checkpoint directory.

At cluster scale the same design holds with units = Iceberg file-scan
tasks; the checkpoint dir lives on the shared FS / object store (rename
becomes a manifest commit).
"""

from __future__ import annotations

import glob as globmod
import json
import os
import time
import uuid
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.agg import sketch_agg, sketch_finalize
from ..sketches.base import SketchSpec

__all__ = ["CheckpointedSketchBuild"]


class CheckpointedSketchBuild:
    def __init__(
        self,
        spark: SparkSession,
        spec: SketchSpec,
        checkpoint_dir: str,
        value_col: str,
        group_by: Iterable[str] = (),
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ) -> None:
        """``transform`` (optional) maps each split's raw frame to the
        frame actually sketched — e.g. ``prepare_web_corpus``, making the
        full north-star job (extract + URL keys + PII + features, then
        the per-domain sketch) resumable per split. It must be
        deterministic per split (lineage marks a split done by id, so a
        changed transform does NOT invalidate persisted partials — use a
        fresh checkpoint dir when the pipeline changes) and must yield
        ``value_col`` and the ``group_by`` columns. Scan-level
        transforms keep the per-split job one WholeStageCodegen pass;
        nothing stops a transform that shuffles, but then the
        split-as-unit-of-work framing stops matching the cost model.
        The transform sees ONE split at a time: row-wise enrichment
        (``prepare_web_corpus``) composes correctly, but cross-row
        reductions (e.g. ``latest_capture`` snapshot dedup) would apply
        per split, not globally — run those as a separate materialized
        pass before the checkpointed build."""
        self.spark = spark
        self.spec = spec
        self.dir = checkpoint_dir
        self.value_col = value_col
        self.group_by = list(group_by)
        self.transform = transform
        os.makedirs(os.path.join(self.dir, "partials"), exist_ok=True)
        os.makedirs(os.path.join(self.dir, "lineage"), exist_ok=True)

    # -- lineage ------------------------------------------------------------
    def completed_splits(self) -> dict[str, dict]:
        done = {}
        for path in globmod.glob(os.path.join(self.dir, "lineage", "*.json")):
            with open(path) as f:
                row = json.load(f)
            done[row["split"]] = row
        return done

    @staticmethod
    def _split_id(path: str) -> str:
        return os.path.basename(path).replace("=", "_")

    # -- build ---------------------------------------------------------------
    def run(self, input_paths: list[str], fail_after: int | None = None) -> int:
        """Process pending splits; returns the number processed this call.
        ``fail_after`` aborts after N splits (test hook simulating a kill)."""
        done = self.completed_splits()
        pending = [p for p in input_paths if self._split_id(p) not in done]
        processed = 0
        for path in pending:
            if fail_after is not None and processed >= fail_after:
                return processed
            sid = self._split_id(path)
            t0 = time.monotonic()
            df = self.spark.read.parquet(path)
            if self.transform is not None:
                df = self.transform(df)
            partial = sketch_agg(
                df, self.spec, self.value_col, self.group_by, output="state"
            )
            out = os.path.join(self.dir, "partials", sid)
            tmp = out + f".tmp-{uuid.uuid4().hex[:8]}"
            partial.write.mode("overwrite").parquet(tmp)
            os.rename(tmp, out)  # atomic publish
            sketch_bytes = sum(
                os.path.getsize(os.path.join(out, f))
                for f in os.listdir(out)
                if f.endswith(".parquet")
            )
            # the metric comes from the persisted partial states
            # (sum of state counts = values actually sketched, i.e.
            # non-null inputs), NOT a second df.count() scan of the input
            # — at corpus scale that doubled the I/O of the whole build.
            # Named values_sketched (not "rows") precisely because it
            # differs from the input row count on inputs containing
            # nulls; reconcile against source row counts with a null-
            # aware count, not this field. The partial parquet is a few
            # rows, so this read is footer-sized.
            n_rows = self._partial_row_count(out)
            lineage_row = {
                "split": sid,
                "input": path,
                "values_sketched": n_rows,
                "sketch_bytes": sketch_bytes,
                "wall_sec": round(time.monotonic() - t0, 3),
                "finished_at": time.time(),
            }
            ltmp = os.path.join(self.dir, "lineage", f".{sid}.tmp")
            with open(ltmp, "w") as f:
                json.dump(lineage_row, f)
            os.rename(ltmp, os.path.join(self.dir, "lineage", f"{sid}.json"))
            processed += 1
        return processed

    def _partial_row_count(self, partial_dir: str) -> float | None:
        """Values aggregated into this partial, summed from the state rows'
        ``count`` field (present on every spec that tracks cardinality —
        DDSketch/KLL/t-digest); None when the spec's state carries no
        count (the metric is then simply absent from lineage)."""
        state_names = {f.name for f in self.spec.state_fields()}
        if "count" not in state_names:
            return None
        row = (
            self.spark.read.parquet(partial_dir)
            .agg(F.sum("count").alias("n"))
            .collect()[0]
        )
        return float(row["n"]) if row["n"] is not None else 0.0

    def is_complete(self, input_paths: list[str]) -> bool:
        done = self.completed_splits()
        return all(self._split_id(p) in done for p in input_paths)

    # -- final merge ------------------------------------------------------------
    def result(self, output: str = "result") -> DataFrame:
        """Merge all persisted partials into the final per-group answer."""
        partial_dirs = sorted(
            d
            for d in globmod.glob(os.path.join(self.dir, "partials", "*"))
            if not d.endswith(".tmp") and ".tmp-" not in d
        )
        partials = self.spark.read.parquet(*partial_dirs)
        return sketch_finalize(partials, self.spec, self.group_by, output)
