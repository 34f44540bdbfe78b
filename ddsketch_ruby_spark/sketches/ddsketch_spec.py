"""DDSketch as a MergeableSketch spec for the two-phase Spark engine.

State layout (SURVEY.md §1.6): flat columns holding the two bin arrays with
their key offsets plus the exact side stats. Mapping params (gamma, alpha,
store type, bin limit) are plan-time constants captured in the spec — never
shipped per row — so a partial-sketch row is <= 2*bin_limit*8 bytes
(~32 kB at the default 2048; reference collapsing_lowest_dense_store.rb:81-88
is the fail-safe bound that makes this hold for arbitrary inputs).
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np
from pyspark.sql import types as T

from ..kernel import DDSketch, DEFAULT_BIN_LIMIT, DEFAULT_REL_ACC
from ..kernel.store import COLLAPSE_LOWEST, DENSE
from .base import SketchSpec

__all__ = ["DDSketchSpec", "quantile_col_name"]


def quantile_col_name(q: float) -> str:
    """0.5 -> 'q50', 0.95 -> 'q95', 0.999 -> 'q999', 0 -> 'q0', 1 -> 'q100'."""
    pct = q * 100.0
    if float(pct).is_integer():
        return f"q{int(pct)}"
    return "q" + f"{q:g}"[2:]  # 0.999 -> q999


class DDSketchSpec(SketchSpec):
    name = "ddsketch"

    def __init__(
        self,
        relative_accuracy: float = DEFAULT_REL_ACC,
        store_type: str = COLLAPSE_LOWEST,
        bin_limit: int = DEFAULT_BIN_LIMIT,
        mapping: str = "logarithmic",
        quantiles: dict[str, float] | None = None,
        include_stats: bool = True,
        mapping_offset: float = 0.0,
    ) -> None:
        """mapping_offset: the key-mapping index offset (may be fractional,
        key_mapping.rb:69-71)."""
        self.relative_accuracy = relative_accuracy
        self.store_type = store_type
        self.bin_limit = bin_limit
        self.mapping = mapping
        self.mapping_offset = mapping_offset
        self.quantiles = (
            quantiles
            if quantiles is not None
            else {quantile_col_name(q): q for q in (0.5, 0.95, 0.99)}
        )
        self.include_stats = include_stats

    # -- monoid ---------------------------------------------------------
    def zero(self) -> DDSketch:
        return DDSketch(
            self.relative_accuracy,
            self.store_type,
            self.bin_limit,
            self.mapping,
            offset=self.mapping_offset,
        )

    def update(
        self, state: DDSketch, values: np.ndarray, weights: np.ndarray | None = None
    ) -> DDSketch:
        values = np.asarray(values, dtype=np.float64)
        keep = ~np.isnan(values)
        if not keep.all():
            values = values[keep]
            weights = weights[keep] if weights is not None else None
        state.add_batch(values, weights)
        return state

    def merge(self, a: DDSketch, b: DDSketch) -> DDSketch:
        a.merge(b)
        return a

    # -- codec ---------------------------------------------------------------
    def state_fields(self) -> list[T.StructField]:
        return [
            # gamma travels with persisted states so cross-job merges can
            # enforce the reference's compatibility guard
            # (base_sketch.rb:181-183) even after the building spec is gone
            T.StructField("gamma", T.DoubleType()),
            T.StructField("pos_bins", T.ArrayType(T.DoubleType(), False)),
            T.StructField("pos_offset", T.LongType()),
            T.StructField("neg_bins", T.ArrayType(T.DoubleType(), False)),
            T.StructField("neg_offset", T.LongType()),
            T.StructField("zero_count", T.DoubleType()),
            T.StructField("count", T.DoubleType()),
            T.StructField("min", T.DoubleType()),
            T.StructField("max", T.DoubleType()),
            T.StructField("sum", T.DoubleType()),
        ]

    def state_to_row(self, state: DDSketch) -> dict[str, Any]:
        return {
            "gamma": state.mapping.gamma,
            "pos_bins": state.store.bins,
            "pos_offset": state.store.offset,
            "neg_bins": state.negative_store.bins,
            "neg_offset": state.negative_store.offset,
            "zero_count": state.zero_count,
            "count": state.count,
            "min": state.min,
            "max": state.max,
            "sum": state.sum,
        }

    def row_to_state(self, row: dict[str, Any]) -> DDSketch:
        s = self.zero()
        if row.get("gamma") is not None and row["gamma"] != s.mapping.gamma:
            from ..kernel import InvalidSketchMergeError

            raise InvalidSketchMergeError(
                "Cannot merge two sketches with different relative accuracy"
            )
        pos = np.asarray(row["pos_bins"], dtype=np.float64)
        neg = np.asarray(row["neg_bins"], dtype=np.float64)
        s.store.bins = pos
        s.store.offset = int(row["pos_offset"])
        s.store.count = float(pos.sum())
        s.negative_store.bins = neg
        s.negative_store.offset = int(row["neg_offset"])
        s.negative_store.count = float(neg.sum())
        s.zero_count = float(row["zero_count"])
        s.count = float(row["count"])
        s.min = float(row["min"])
        s.max = float(row["max"])
        s.sum = float(row["sum"])
        return s

    # -- finalize ---------------------------------------------------------------
    def result_fields(self) -> list[T.StructField]:
        fields = [
            T.StructField(name, T.DoubleType()) for name in self.quantiles
        ]
        if self.include_stats:
            fields += [
                T.StructField("count", T.DoubleType()),
                T.StructField("sum", T.DoubleType()),
                T.StructField("min", T.DoubleType()),
                T.StructField("max", T.DoubleType()),
                T.StructField("avg", T.DoubleType()),
            ]
        return fields

    def result(self, state: DDSketch) -> dict[str, Any]:
        out = {
            name: state.get_quantile_value(q)
            for name, q in self.quantiles.items()
        }
        if self.include_stats:
            out.update(
                count=state.count,
                sum=state.sum,
                min=state.min if state.count else None,
                max=state.max if state.count else None,
                avg=state.avg if state.count else None,
            )
        return out
