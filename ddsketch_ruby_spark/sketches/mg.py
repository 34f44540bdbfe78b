"""Misra-Gries heavy-hitters summary (mergeable frequent-items sketch).

State = at most ``k`` (item, count) pairs plus the exact total weight
``n`` and the cumulative decrement ``d``. Compaction (on overflow past k
entries) subtracts the (k+1)-th largest count from every entry and drops
the non-positives — the mergeable-summaries rule of Agarwal, Cormode,
Huang, Phillips, Wei, Yi, "Mergeable Summaries" (PODS 2012, §3.1), which
proves the classic single-stream guarantee survives ARBITRARY merge
trees:

    est(x) <= true(x) <= est(x) + n/(k+1)        for every item x

(est(x) = stored count, 0 if untracked). Hence every item with true
count > n/(k+1) is guaranteed present — the frequent-items recall
guarantee. The state itself is order-dependent (like t-digest and KLL);
the GUARANTEE is partitioning-invariant, which is what the driver gate
checks: exact - est multiplied by (k+1) never exceeds n — pure integer
arithmetic, no epsilon.

``d`` tracks the exact total decrement actually applied on this merge
path: est(x) + d is a valid (usually much tighter) upper bound for
true(x), published in the result as ``err_bound``. d <= n/(k+1) always.

Counts are int64; weighted updates take positive integer weights
(fractional weights would break the integer guarantee arithmetic).

Vs count-min (sketches/cms.py): CMS overestimates and needs a probe set;
MG underestimates, carries its candidate items in-state, and answers
"what are the heavy items" directly — the training-pipeline shape for
vocabulary / host / template frequency audits where the candidate set
isn't known up front.
"""

from __future__ import annotations

from typing import Any

import numpy as np
from pyspark.sql import types as T

from .base import SketchSpec

__all__ = ["MGSpec", "MGState", "mg_compact"]


class MGState:
    """items: sorted int64 array; counts: int64 array aligned to items;
    n: exact total weight; d: exact cumulative decrement."""

    __slots__ = ("items", "counts", "n", "d")

    def __init__(
        self, items: np.ndarray, counts: np.ndarray, n: int, d: int
    ) -> None:
        self.items = items
        self.counts = counts
        self.n = int(n)
        self.d = int(d)


def _combine(
    items_a: np.ndarray,
    counts_a: np.ndarray,
    items_b: np.ndarray,
    counts_b: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Sum two sparse (item -> count) maps (both item-sorted)."""
    items = np.concatenate([items_a, items_b])
    counts = np.concatenate([counts_a, counts_b])
    if not len(items):  # reduceat needs at least one start
        return items, counts
    order = np.argsort(items, kind="stable")
    items = items[order]
    counts = counts[order]
    boundaries = np.flatnonzero(np.diff(items)) + 1
    starts = np.concatenate([[0], boundaries])
    summed = np.add.reduceat(counts, starts)
    return items[starts], summed


def mg_compact(
    items: np.ndarray, counts: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Enforce the k-entry cap: subtract the (k+1)-th largest count from
    every entry, drop non-positives. Returns (items, counts, decrement).
    One pass suffices: entries surviving are exactly those strictly above
    the pivot, and at most k counts can exceed the (k+1)-th largest."""
    if len(items) <= k:
        return items, counts, 0
    pivot = int(np.partition(counts, len(counts) - (k + 1))[len(counts) - (k + 1)])
    keep = counts > pivot
    return items[keep], counts[keep] - pivot, pivot


class MGSpec(SketchSpec):
    name = "mg"

    def __init__(self, k: int = 64) -> None:
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = k

    def zero(self) -> MGState:
        e = np.empty(0, dtype=np.int64)
        return MGState(e, e.copy(), 0, 0)

    def update(
        self,
        state: MGState,
        values: np.ndarray,
        weights: np.ndarray | None = None,
    ) -> MGState:
        items = np.asarray(values).astype(np.int64)
        if weights is None:
            w = np.ones(len(items), dtype=np.int64)
        else:
            w = np.asarray(weights)
            if not np.all(w == np.floor(w)) or np.any(w <= 0):
                raise ValueError("MG weights must be positive integers")
            w = w.astype(np.int64)
        order = np.argsort(items, kind="stable")
        items = items[order]
        w = w[order]
        boundaries = np.flatnonzero(np.diff(items)) + 1
        starts = np.concatenate([[0], boundaries])
        batch_items = items[starts]
        batch_counts = np.add.reduceat(w, starts)
        ci, cc = _combine(state.items, state.counts, batch_items, batch_counts)
        ci, cc, dec = mg_compact(ci, cc, self.k)
        return MGState(ci, cc, state.n + int(w.sum()), state.d + dec)

    def merge(self, a: MGState, b: MGState) -> MGState:
        ci, cc = _combine(a.items, a.counts, b.items, b.counts)
        ci, cc, dec = mg_compact(ci, cc, self.k)
        return MGState(ci, cc, a.n + b.n, a.d + b.d + dec)

    def state_fields(self) -> list[T.StructField]:
        return [
            T.StructField("items", T.BinaryType()),
            T.StructField("counts", T.BinaryType()),
            T.StructField("total", T.LongType()),
            T.StructField("decremented", T.LongType()),
        ]

    def state_to_row(self, state: MGState) -> dict[str, Any]:
        return {
            "items": state.items.tobytes(),
            "counts": state.counts.tobytes(),
            "total": state.n,
            "decremented": state.d,
        }

    def row_to_state(self, row: dict[str, Any]) -> MGState:
        return MGState(
            np.frombuffer(bytes(row["items"]), dtype=np.int64).copy(),
            np.frombuffer(bytes(row["counts"]), dtype=np.int64).copy(),
            int(row["total"]),
            int(row["decremented"]),
        )

    def result_fields(self) -> list[T.StructField]:
        return [
            T.StructField("items", T.ArrayType(T.LongType())),
            T.StructField("ests", T.ArrayType(T.LongType())),
            T.StructField("n", T.LongType()),
            T.StructField("err_bound", T.LongType()),
        ]

    def result(self, state: MGState) -> dict[str, Any]:
        # deterministic presentation order: est desc, item asc
        order = np.lexsort((state.items, -state.counts))
        return {
            "items": [int(x) for x in state.items[order]],
            "ests": [int(x) for x in state.counts[order]],
            "n": state.n,
            "err_bound": state.d,
        }
