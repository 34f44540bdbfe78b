"""DDSketch: quantile sketch with relative-error guarantee.

Semantics-parity with DataDog/ddsketch-ruby (lib/ddsketch/base_sketch.rb),
re-expressed for batch/vectorized execution:

- three-way routing of values into positive store / negative store /
  zero_count at +-min_possible (base_sketch.rb:96-114)
- exact side stats count/sum/min/max (base_sketch.rb:107-111)
- quantile with rank = q*(count-1), reversed-rank upper-mode search in the
  negative store (base_sketch.rb:121-138)
- merge with gamma-equality guard, empty fast paths, store merges + stat
  merges (base_sketch.rb:146-171)

The sketch is a commutative monoid: zero = empty sketch, merge is
associative/commutative (reference specs shared_examples_for_sketch.rb
118-250 pin this) — which is what legalizes Spark partial aggregation and
tree merges, and makes the state a valid Structured Streaming state type.
"""

from __future__ import annotations

import math

import numpy as np

from .errors import InvalidSketchMergeError
from .mapping import KeyMapping, mapping_from_name
from .store import COLLAPSE_HIGHEST, COLLAPSE_LOWEST, DENSE, Store

__all__ = ["DDSketch", "DEFAULT_REL_ACC", "DEFAULT_BIN_LIMIT"]

DEFAULT_REL_ACC = 0.01  # base_sketch.rb:33
DEFAULT_BIN_LIMIT = 2048  # base_sketch.rb:36


class DDSketch:
    """A DDSketch over float64 values with float64 weights.

    ``store_type``: "dense" (unbounded, reference Sketch),
    "collapsing_lowest" (LogCollapsingLowestDenseSketch) or
    "collapsing_highest" (LogCollapsingHighestDenseSketch).
    ``mapping``: "logarithmic" | "linear" | "cubic" or a KeyMapping.
    """

    __slots__ = (
        "mapping",
        "store",
        "negative_store",
        "zero_count",
        "count",
        "min",
        "max",
        "sum",
        "store_type",
    )

    def __init__(
        self,
        relative_accuracy: float = DEFAULT_REL_ACC,
        store_type: str = DENSE,
        bin_limit: int = DEFAULT_BIN_LIMIT,
        mapping: str | KeyMapping = "logarithmic",
        offset: float = 0.0,
    ) -> None:
        if isinstance(mapping, KeyMapping):
            self.mapping = mapping
        else:
            self.mapping = mapping_from_name(mapping, relative_accuracy, offset)
        if store_type == DENSE:
            collapse, limit = None, None
        elif store_type in (COLLAPSE_LOWEST, COLLAPSE_HIGHEST):
            collapse, limit = store_type, bin_limit
        else:
            raise ValueError(f"unknown store_type {store_type!r}")
        self.store_type = store_type
        self.store = Store(collapse, limit)
        self.negative_store = Store(collapse, limit)
        self.zero_count = 0.0
        self.count = 0.0
        self.min = math.inf
        self.max = -math.inf
        self.sum = 0.0

    # -- constructors matching the three reference classes ------------------
    @classmethod
    def unbounded(cls, relative_accuracy: float = DEFAULT_REL_ACC) -> "DDSketch":
        """reference Sketch (sketch.rb:8-17)."""
        return cls(relative_accuracy, DENSE)

    @classmethod
    def collapsing_lowest(
        cls,
        relative_accuracy: float = DEFAULT_REL_ACC,
        bin_limit: int = DEFAULT_BIN_LIMIT,
    ) -> "DDSketch":
        """reference LogCollapsingLowestDenseSketch."""
        return cls(relative_accuracy, COLLAPSE_LOWEST, bin_limit)

    @classmethod
    def collapsing_highest(
        cls,
        relative_accuracy: float = DEFAULT_REL_ACC,
        bin_limit: int = DEFAULT_BIN_LIMIT,
    ) -> "DDSketch":
        """reference LogCollapsingHighestDenseSketch."""
        return cls(relative_accuracy, COLLAPSE_HIGHEST, bin_limit)

    # -- ingest ---------------------------------------------------------------
    def add(self, val: float, weight: float = 1.0) -> None:
        """Single-value add (base_sketch.rb:96-114)."""
        if weight <= 0.0:
            raise ValueError("weight must be positive")
        self.add_batch(
            np.array([val], dtype=np.float64), np.array([weight], dtype=np.float64)
        )

    def add_batch(
        self, values: np.ndarray, weights: np.ndarray | None = None
    ) -> None:
        """Vectorized add of a batch of values with optional weights.

        Equivalent to calling ``add`` per element (the reference merge spec
        pins order-insensitivity, so batch order is immaterial); sums are
        accumulated with NumPy pairwise summation, within the reference's own
        1e-3 sum tolerance (shared_examples_for_sketch.rb:31-32).
        """
        v = np.asarray(values, dtype=np.float64)
        if v.size == 0:
            return
        if np.isinf(v).any():
            # the reference's Integer(ceil(log_gamma(v))) raises on Infinity
            raise ValueError("value must be finite")
        if weights is not None:
            w = np.asarray(weights, dtype=np.float64)
            if w.shape != v.shape:
                raise ValueError("weights shape must match values shape")
            if not (w > 0.0).all():
                raise ValueError("weight must be positive")
        else:
            w = None

        mp = self.mapping.min_possible
        pos = v > mp
        neg = v < -mp
        if pos.any():
            self.store.add_batch(
                self.mapping.key_batch(v[pos]), None if w is None else w[pos]
            )
        if neg.any():
            self.negative_store.add_batch(
                self.mapping.key_batch(-v[neg]), None if w is None else w[neg]
            )
        zero = ~(pos | neg)
        if zero.any():
            self.zero_count += float(w[zero].sum()) if w is not None else float(
                zero.sum()
            )

        if w is None:
            self.count += float(v.size)
            self.sum += float(v.sum())
        else:
            self.count += float(w.sum())
            self.sum += float((v * w).sum())
        vmin = float(v.min())
        vmax = float(v.max())
        if vmin < self.min:
            self.min = vmin
        if vmax > self.max:
            self.max = vmax

    # -- queries ------------------------------------------------------------
    @property
    def avg(self) -> float:
        return self.sum / self.count

    @property
    def num_values(self) -> float:
        return self.count

    def get_quantile_value(self, quantile: float) -> float | None:
        """Approximate value at the quantile (base_sketch.rb:121-138)."""
        if quantile < 0 or quantile > 1 or self.count == 0:
            return None
        rank = quantile * (self.count - 1.0)
        neg_count = self.negative_store.count
        if rank < neg_count:
            reversed_rank = neg_count - rank - 1.0
            key = self.negative_store.key_at_rank(reversed_rank, lower=False)
            return -self.mapping.value(key)
        if rank < self.zero_count + neg_count:
            return 0.0
        key = self.store.key_at_rank(rank - self.zero_count - neg_count)
        return self.mapping.value(key)

    # -- merge ----------------------------------------------------------------
    def mergeable(self, other: "DDSketch") -> bool:
        return self.mapping.same_gamma(other.mapping)

    def merge(self, other: "DDSketch") -> None:
        """Merge ``other`` into self (base_sketch.rb:146-171). Deep-copies on
        the empty-self fast path so the source is never aliased
        (shared_examples_for_sketch.rb:203-250 pins isolation)."""
        if not self.mergeable(other):
            raise InvalidSketchMergeError(
                "Cannot merge two sketches with different relative accuracy"
            )
        if other.count == 0:
            return
        if self.count == 0:
            self._copy_from(other)
            return
        self.store.merge(other.store)
        self.negative_store.merge(other.negative_store)
        self.zero_count += other.zero_count
        self.count += other.count
        self.sum += other.sum
        if other.min < self.min:
            self.min = other.min
        if other.max > self.max:
            self.max = other.max

    def _copy_from(self, other: "DDSketch") -> None:
        self.store = other.store.copy()
        self.negative_store = other.negative_store.copy()
        self.zero_count = other.zero_count
        self.count = other.count
        self.sum = other.sum
        self.min = other.min
        self.max = other.max

    def copy(self) -> "DDSketch":
        out = DDSketch(
            self.mapping.relative_accuracy,
            self.store_type,
            self.store.bin_limit or DEFAULT_BIN_LIMIT,
            mapping=self.mapping,
        )
        out._copy_from(self)
        return out
