"""SQL-text surface over persisted sketch states.

``register_sketch_sql(spark)`` registers vectorized pandas UDFs so a table
of sketch-state rows (written by ddsketch_state / sketch_agg
output="state") can be queried from plain SQL:

    SELECT lang,
           ddsketch_q(0.99, gamma, pos_bins, pos_offset, neg_bins,
                      neg_offset, zero_count, count) AS p99
    FROM sketch_table

    SELECT hll_card(registers) FROM hll_table

    SELECT cms_est(counts, xxhash64(key)) FROM cms_table      -- width/depth
    SELECT bloom_maybe(bits, xxhash64(key)) FROM bloom_table  -- from register_sketch_sql args

A row whose state is null (a LEFT JOIN from a key table to a state table)
finalizes to null, as SQL does for null in.

Limit: a state row carries ``gamma`` but no key mapping, and ``ddsketch_q``
rebuilds every row as a logarithmic-mapping sketch. Rows built with
``mapping="linear"`` or ``"cubic"`` get wrong quantiles from it.

The UDFs are Arrow-batched (one Python call per batch of groups), so
finalizing a million persisted group sketches is itself vectorized.
The probe UDFs (cms_est / bloom_maybe) are shuffle-free: the tiny state
row broadcasts with the join/literal. When every row of a batch carries
the same state payload (the broadcast-join shape), the state is
deserialized ONCE and the whole batch probed in one vectorized call —
O(depth)/O(k) per row; with heterogeneous states per row the probe
degrades to O(state_size) per row (one memcmp + per-row estimate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernel import DDSketch

__all__ = ["register_sketch_sql"]


def _null_rows(*cols: pd.Series) -> np.ndarray:
    """``out[i]``: row ``i`` has a null in any of ``cols``."""
    return np.logical_or.reduce([c.isna().to_numpy() for c in cols])


def _sketch_from_arrays(
    gamma, pos_bins, pos_offset, neg_bins, neg_offset, zero_count, count
) -> DDSketch:
    rel_acc = (gamma - 1.0) / (gamma + 1.0)
    s = DDSketch(rel_acc)
    s.store.bins = np.asarray(pos_bins, dtype=np.float64)
    s.store.offset = int(pos_offset)
    s.store.count = float(s.store.bins.sum())
    s.negative_store.bins = np.asarray(neg_bins, dtype=np.float64)
    s.negative_store.offset = int(neg_offset)
    s.negative_store.count = float(s.negative_store.bins.sum())
    s.zero_count = float(zero_count)
    s.count = float(count)
    return s


def register_sketch_sql(
    spark: SparkSession,
    cms_width: int = 2048,
    cms_depth: int = 5,
    bloom_expected_items: int = 1_000_000,
    bloom_fpp: float = 0.01,
) -> None:
    """The CMS/Bloom probe UDFs need the sketch geometry (it is plan-time
    configuration, never shipped per row); pass the same parameters the
    states were built with."""
    @pandas_udf(T.DoubleType())
    def ddsketch_q(
        q: pd.Series,
        gamma: pd.Series,
        pos_bins: pd.Series,
        pos_offset: pd.Series,
        neg_bins: pd.Series,
        neg_offset: pd.Series,
        zero_count: pd.Series,
        count: pd.Series,
    ) -> pd.Series:
        out = []
        null = _null_rows(
            q, gamma, pos_bins, pos_offset, neg_bins, neg_offset, zero_count, count
        )
        for i in range(len(q)):
            if null[i]:
                out.append(None)
                continue
            s = _sketch_from_arrays(
                gamma.iloc[i],
                pos_bins.iloc[i],
                pos_offset.iloc[i],
                neg_bins.iloc[i],
                neg_offset.iloc[i],
                zero_count.iloc[i],
                count.iloc[i],
            )
            out.append(s.get_quantile_value(float(q.iloc[i])))
        return pd.Series(out, dtype="float64")

    @pandas_udf(T.DoubleType())
    def hll_card(registers: pd.Series) -> pd.Series:
        from ..sketches.hll import HLLSpec, hll_estimate

        codec = HLLSpec()  # the register codec does not depend on p
        return pd.Series(
            [
                None if r is None
                else hll_estimate(codec.row_to_state({"registers": r}))
                for r in registers
            ],
            dtype="float64",
        )

    def _constant_state(payloads: pd.Series) -> bool:
        """True when every row carries the same state array (the
        broadcast-join shape): object identity first, then a cheap
        (length, first 16, last 16 elements) probe, and the full memcmp
        only if the probe matches — a heterogeneous batch of large CMS
        states bails on the probe (O(1) per row) instead of paying
        O(state_size) per row before falling back."""
        def _arr(p):
            # binary payloads (Bloom bit arrays) arrive as bytes, which
            # np.asarray would wrap as a 0-d scalar — view them as uint8
            if isinstance(p, (bytes, bytearray, memoryview)):
                return np.frombuffer(p, dtype=np.uint8)
            return np.asarray(p)

        first_obj = payloads.iloc[0]
        first = _arr(first_obj)
        f_head, f_tail = first[:16], first[-16:]
        for i in range(1, len(payloads)):
            p = payloads.iloc[i]
            if p is first_obj:
                continue
            arr = _arr(p)
            if (
                arr.shape != first.shape
                or not np.array_equal(arr[:16], f_head)
                or not np.array_equal(arr[-16:], f_tail)
            ):
                return False
            if not np.array_equal(arr, first):
                return False
        return True

    def _probe(spec, probe, payloads: pd.Series, hashed: pd.Series, dtype):
        """probe(state, hashes) over a batch of (state payload, hash)
        rows: the state is decoded once when every row carries the same
        one, else once per row with a one-hash probe."""
        if len(payloads) == 0:
            return pd.Series([], dtype=dtype)
        (field,) = [f.name for f in spec.state_fields()]
        h = hashed.to_numpy()
        if _constant_state(payloads):
            state = spec.row_to_state({field: payloads.iloc[0]})
            return pd.Series(probe(state, h), dtype=dtype)
        return pd.Series(
            [
                probe(spec.row_to_state({field: p}), [int(x)])[0]
                for p, x in zip(payloads, h)
            ],
            dtype=dtype,
        )

    @pandas_udf(T.DoubleType())
    def cms_est(counts: pd.Series, hashed: pd.Series) -> pd.Series:
        from ..sketches.cms import CMSSpec

        spec = CMSSpec(width=cms_width, depth=cms_depth)
        return _probe(spec, spec.estimate, counts, hashed, "float64")

    @pandas_udf(T.BooleanType())
    def bloom_maybe(bits: pd.Series, hashed: pd.Series) -> pd.Series:
        from ..sketches.bloom import BloomSpec

        spec = BloomSpec(expected_items=bloom_expected_items, fpp=bloom_fpp)
        return _probe(spec, spec.contains, bits, hashed, "bool")

    @pandas_udf(T.DoubleType())
    def kmv_card(minima: pd.Series, k: pd.Series) -> pd.Series:
        from ..sketches.kmv import KmvSpec, kmv_estimate

        if len(minima) == 0:
            return pd.Series([], dtype="float64")
        ks = k.to_numpy()
        null = _null_rows(minima, k)
        out = []
        for i in range(len(minima)):
            if null[i]:
                out.append(None)
                continue
            spec = KmvSpec(int(ks[i]))
            state = spec.row_to_state({"minima": minima.iloc[i]})
            out.append(float(kmv_estimate(state, spec.k)))
        return pd.Series(out, dtype="float64")

    spark.udf.register("ddsketch_q", ddsketch_q)
    spark.udf.register("kmv_card", kmv_card)
    spark.udf.register("hll_card", hll_card)
    spark.udf.register("cms_est", cms_est)
    spark.udf.register("bloom_maybe", bloom_maybe)
