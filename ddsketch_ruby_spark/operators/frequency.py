"""Frequency / membership convenience operators over CMS and Bloom states.

Pattern: build the sketch distributed (hashing JVM-side), persist or collect
the compact state, query it anywhere — the state is the index. Useful when
the key space is too large for an exact groupBy (CMS: O(width x depth)
memory for any number of keys) or when a later job needs cheap membership
(Bloom: bits shipped to executors instead of a join).
"""

from __future__ import annotations

from typing import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sketches.base import SketchSpec
from ..sketches.bloom import BloomSpec
from ..sketches.cms import CMSSpec
from ..sketches.hll import HLLSpec, hll_estimate
from ..sketches.kmv import KmvSpec, kmv_estimate, kmv_intersect_stats
from .agg import _drops_zip_finders, sketch_agg

__all__ = [
    "cms_build",
    "cms_estimate",
    "cms_probe_column",
    "bloom_build",
    "bloom_filter_column",
    "hash_items",
    "hll_overlap",
    "kmv_overlap",
    "heavy_hitters",
]


def hash_items(spark, items: Iterable, dtype: str = "long") -> list[int]:
    """xxhash64 of literal items via the JVM — the same hash the build used
    (never mix Python-side hashing with JVM-side builds)."""
    items = list(items)
    df = spark.createDataFrame([(it,) for it in items], f"item {dtype}")
    return [r["h"] for r in df.select(F.xxhash64("item").alias("h")).collect()]


def _hashed_state(
    df: DataFrame, col: str, spec: SketchSpec, weight_col: str | None = None
) -> np.ndarray:
    """The one global state over xxhash64(col), hashed JVM-side: the build
    behind cms_build and bloom_build."""
    hashed = df.select(
        F.xxhash64(col).alias("__h"),
        *([F.col(weight_col)] if weight_col else []),
    )
    rows = sketch_agg(
        hashed, spec, "__h", [], weight_col=weight_col, output="state"
    ).collect()
    return spec.row_to_state(rows[0].asDict())


def cms_build(
    df: DataFrame, col: str, spec: CMSSpec, weight_col: str | None = None
) -> np.ndarray:
    """Distributed count-min build over xxhash64(col); returns the state."""
    return _hashed_state(df, col, spec, weight_col)


def cms_estimate(
    spark, state: np.ndarray, spec: CMSSpec, items: Iterable, dtype: str = "long"
) -> dict:
    hashes = hash_items(spark, items, dtype)
    est = spec.estimate(state, hashes)
    return dict(zip(list(items), [float(e) for e in est]))


def _scratch_col(df: DataFrame, base: str) -> str:
    """A scratch column name guaranteed absent from df — a user column
    literally named __h must survive the probe untouched."""
    name = base
    i = 0
    existing = set(df.columns)
    while name in existing:
        i += 1
        name = f"{base}_{i}"
    return name


def _probe_column(
    df: DataFrame,
    col: str,
    name: str,
    dtype: T.DataType,
    probe: Callable[[np.ndarray], np.ndarray],
) -> DataFrame:
    """Appends ``name`` = probe(xxhash64(col)) inside a pandas iterator:
    one vectorized probe per batch over a scratch hash column that is
    dropped again. The state rides the probe's closure, so it ships once
    per executor; no join, no shuffle."""
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(name, dtype)]
    )
    hcol = _scratch_col(df, "__h")

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            h = pdf[hcol].to_numpy()
            out = pdf.drop(columns=[hcol])
            out[name] = probe(h)
            yield out

    return df.withColumn(hcol, F.xxhash64(col)).mapInPandas(
        _drops_zip_finders(run), schema=schema
    )


def cms_probe_column(
    df: DataFrame, col: str, spec: CMSSpec, state: np.ndarray
) -> DataFrame:
    """Adds double ``est_count`` by probing the count-min state (O(depth)
    per row, see _probe_column). The distributed-scale twin of
    ``cms_estimate`` (which collects literal items on the driver)."""
    counts = state.copy()
    return _probe_column(
        df, col, "est_count", T.DoubleType(), lambda h: spec.estimate(counts, h)
    )


def bloom_build(df: DataFrame, col: str, spec: BloomSpec) -> np.ndarray:
    """Distributed Bloom build over xxhash64(col); returns the state."""
    return _hashed_state(df, col, spec)


def bloom_filter_column(
    df: DataFrame, col: str, spec: BloomSpec, state: np.ndarray
) -> DataFrame:
    """Adds boolean ``maybe_member`` by probing the Bloom state (see
    _probe_column)."""
    bits = state.copy()
    return _probe_column(
        df, col, "maybe_member", T.BooleanType(), lambda h: spec.contains(bits, h)
    )


def _pair_overlap(
    df: DataFrame,
    hash_col: str,
    group_col: str,
    spec: SketchSpec,
    est_names: list[str],
    estimate: Callable[[np.ndarray, np.ndarray], tuple],
) -> DataFrame:
    """One row per unordered group pair (type_a < type_b) with the double
    columns ``est_names`` = estimate(state_a, state_b).

    Scale shape: the expensive part is the distributed two-phase state
    build (sketch_agg; shuffle volume partitions x groups x state size,
    row-count independent). The pairing joins two g-row state frames with
    an inequality condition: a BROADCAST nested loop over g rows a side,
    bounded by the group cardinality, never by input rows. Each pair's
    state bytes are decoded by ``spec.row_to_state`` and estimated in
    NumPy inside mapInPandas."""
    (field,) = [f.name for f in spec.state_fields()]
    states = sketch_agg(df, spec, hash_col, [group_col], output="state")
    gtype = states.schema[group_col].dataType
    a = states.select(
        F.col(group_col).alias("type_a"), F.col(field).alias("__sa")
    )
    b = states.select(
        F.col(group_col).alias("type_b"), F.col(field).alias("__sb")
    )
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    out_schema = T.StructType(
        [T.StructField("type_a", gtype), T.StructField("type_b", gtype)]
        + [T.StructField(n, T.DoubleType()) for n in est_names]
    )

    def decode(payload) -> np.ndarray:
        return spec.row_to_state({field: payload})

    def est_pairs(batches):
        for pdf in batches:
            rows = [
                (ta, tb, *estimate(decode(sa), decode(sb)))
                for ta, tb, sa, sb in zip(
                    pdf["type_a"], pdf["type_b"], pdf["__sa"], pdf["__sb"]
                )
            ]
            yield pd.DataFrame(rows, columns=out_schema.names)

    return pairs.mapInPandas(_drops_zip_finders(est_pairs), schema=out_schema)


def _hll_pair(ra: np.ndarray, rb: np.ndarray) -> tuple:
    ea = hll_estimate(ra)
    eb = hll_estimate(rb)
    eu = hll_estimate(np.maximum(ra, rb))
    return ea, eb, eu, max(0.0, (ea + eb) - eu)


def hll_overlap(
    df: DataFrame,
    hash_col: str,
    group_col: str,
    p: int = 14,
) -> DataFrame:
    """Pairwise distinct-overlap estimates between groups, via HLL
    inclusion-exclusion: |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B), where
    est(A ∪ B) is the estimate of the element-wise register MAX (the HLL
    union is exact at the sketch level — merging registers gives the
    sketch OF the union, so only the estimator error remains).

    Input contract matches the HLL spec: ``hash_col`` already holds
    xxhash64 values (hash JVM-side). Output: one row per unordered group
    pair (type_a < type_b) with est_a / est_b / est_union /
    est_intersect (clamped at 0 — inclusion-exclusion can go slightly
    negative for disjoint sets). Scale shape: see _pair_overlap (16 kB
    of registers per group at p = 14)."""
    return _pair_overlap(
        df,
        hash_col,
        group_col,
        HLLSpec(p),
        ["est_a", "est_b", "est_union", "est_intersect"],
        _hll_pair,
    )


def kmv_overlap(
    df: DataFrame,
    hash_col: str,
    group_col: str,
    k: int = 128,
) -> DataFrame:
    """Pairwise distinct union / intersection / Jaccard estimates between
    groups via KMV set operations (sketches/kmv.py).

    Where ``hll_overlap`` gets the intersection only indirectly
    (inclusion-exclusion — the error of THREE estimates compounds), the
    k smallest hashes of A ∪ B are a uniform sample of the union, so the
    fraction landing in both sets estimates the Jaccard similarity
    DIRECTLY (Beyer et al. 2007 §4) with relative error ~1/sqrt(k·J).

    Every output is a pure function of the distinct-hash SETS (k-smallest
    selection + two correctly-rounded float ops), so the driver oracle
    hash-matches the estimates themselves — no error-bound gate needed.
    Scale shape: see _pair_overlap (≤ 8·k bytes of sorted minima per
    group)."""

    def kmv_pair(ma: np.ndarray, mb: np.ndarray) -> tuple:
        return (
            kmv_estimate(ma, k),
            kmv_estimate(mb, k),
            *kmv_intersect_stats(ma, mb, k),
        )

    return _pair_overlap(
        df,
        hash_col,
        group_col,
        KmvSpec(k),
        ["est_a", "est_b", "est_union", "jaccard", "est_intersect"],
        kmv_pair,
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int = 64,
    group_by: Iterable[str] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """Distributed Misra-Gries frequent items (sketches/mg.py MGSpec):
    one pass, O(k) state per group, no exact groupBy of the item space.
    Returns exploded rows (group..., item, est, n, err_bound) sorted
    within each group by est desc — where est <= true count <=
    est + n/(k+1) (and the tighter est + err_bound, the exact decrement
    actually applied on this run's merge path). Every item whose true
    count exceeds n/(k+1) is guaranteed to appear.

    Scale shape (10^12 rows, unbounded item cardinality): the map side
    folds each Arrow batch into a k-entry summary, so the shuffle carries
    one ~16k-byte state row per (partition x group) — never the items
    themselves. Use where vocab_topk's exact wordcount groupBy would
    shuffle the full item space."""
    from ..sketches.mg import MGSpec

    group_by = list(group_by)
    res = sketch_agg(df, MGSpec(k=k), item_col, group_by, weight_col)
    z = F.explode(F.arrays_zip(F.col("items"), F.col("ests"))).alias("z")
    return (
        res.select(*group_by, "n", "err_bound", z)
        .select(
            *group_by,
            F.col("z.items").alias("item"),
            F.col("z.ests").alias("est"),
            "n",
            "err_bound",
        )
    )
