"""JVM histogram path for DDSketch aggregation (all three key mappings) —
the one path the quantile operators (operators/quantiles.py) build on.

The insight: the sketch's bucket key is a closed-form expression — for the
logarithmic mapping ``ceil(log2(|v|) * multiplier)``, and for the linearly /
cubically interpolated mappings a polynomial of the exact (significand,
exponent) decomposition — so the entire histogram build can run inside
whole-stage codegen:

    groupBy(group, zone, key).agg(sum(w), sum(v*w), min(v), max(v))

Tungsten's hash aggregate does map-side partial aggregation, the shuffle
carries only distinct (group, zone, key) rows (bounded by the bucket count,
~2*bin_limit per group — independent of input rows), and Python touches
nothing until the final assembly: one ``mapInArrow`` call per partition
slices the group-sorted histogram rows into each group's bin arrays
(``fold_groups``). Raw rows never cross the Python boundary — the job is
scan-bound and scales like any native Spark aggregation.

Collapsing-store semantics are applied at assembly time: clamping every key
to [max_key - bin_limit + 1, ...] is exactly the reference's
order-insensitive collapse contract (see kernel/store.py derivation), so
assembling after a full groupBy is legal.

Numerics: Spark's LOG2 computes ln(v)/ln(2) — a SQL oracle must mirror
that exact expression (LN(v)/LN(2)) to be bit-compatible. JVM keys equal
the kernel's ``key_batch`` keys for all three mappings on data away from
the bucket boundaries gamma^k: pinned on a binade-boundary grid
(tests/test_spark_ddsketch.py::test_jvm_keys_bit_match_kernel) and by the
hypothesis property
tests/test_properties.py::test_jvm_key_expr_matches_kernel_property,
fractional offsets included. So a sketch built here equals the kernel-backed
``operators.agg.sketch_agg`` build bin for bin on such data. Within an ulp
of a logarithmic boundary gamma^k the two log2s (Spark's ln ratio, numpy's
log2) can round to different sides, and the key moves by one.

Input contract, as in the kernel: null and NaN values are dropped; a
non-positive, null or NaN weight raises "weight must be positive" and a +-inf
value raises "value must be finite".

Interpolated mappings (reference linear_interpolated_key_mapping.rb:35-49,
cubically_interpolated_key_mapping.rb:10-67) need ``frexp`` — unavailable
in SQL, but recoverable EXACTLY: guess e = floor(log2(v)) (any log2, even
one off by an ulp), then correct it by comparing v against 2^e, giving the
true binade exponent; the significand v / 2^e - 1 is then exact because
scaling by a power of two and subtracting 1 are exact float ops. Every
remaining op (polynomial in the significand, + exponent, * multiplier,
ceil) is the identical IEEE-754 operation sequence the NumPy kernel runs,
so JVM keys equal kernel keys (away from gamma^k boundaries, as above) —
verified bin-for-bin in tests/test_spark_ddsketch.py — and a DuckDB oracle
can replicate them.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import DDSketch
from ..sketches.ddsketch_spec import DDSketchSpec
from .agg import fold_groups

__all__ = ["ddsketch_jvm_agg", "key_column", "histogram_rows", "assemble_histogram"]


def _exact_exponent(v):
    """Exact binade exponent e with 2^e <= v < 2^(e+1), as a LONG column.

    floor(log2(v)) from any libm log2 can be off by one near powers of two;
    comparing v against 2^(guess) repairs it. v must be positive, normal.
    """
    eg = F.floor(F.log2(v))
    p = F.pow(F.lit(2.0), eg.cast("double"))
    return (
        F.when(p > v, eg - F.lit(1))
        .when(v / p >= F.lit(2.0), eg + F.lit(1))
        .otherwise(eg)
    )


def key_column(mapping, v):
    """Bucket key of positive column ``v`` under ``mapping``, bit-identical
    to ``kernel.mapping.KeyMapping.key_batch`` (LONG column).

    Fractional offsets (reference spec sweeps {-12.23, 7768.3},
    shared_context_for_mapping.rb:70-78) reproduce Ruby ``Integer()`` —
    truncation toward zero — via a double add then CAST(double AS LONG),
    which Spark defines as truncate-toward-zero: the identical IEEE op
    order as the kernel's ``trunc(ceil(log_gamma(v)) + offset)``
    (kernel/mapping.py:68-73, key_mapping.rb:69-71).
    """
    mult = mapping._multiplier
    if mapping.interpolation is None:  # logarithmic
        raw = F.ceil(F.log2(v) * F.lit(mult))
    else:
        e = _exact_exponent(v)
        ed = e.cast("double")
        # s = v/2^e - 1 in [0, 1): exact (power-of-two scaling is exact)
        s = v / F.pow(F.lit(2.0), ed) - F.lit(1.0)
        if mapping.interpolation == "linear":
            approx = s + ed
        else:  # cubic polynomial, same op order as the kernel
            A, B, C = mapping._A, mapping._B, mapping._C
            approx = ((F.lit(A) * s + F.lit(B)) * s + F.lit(C)) * s + ed
        raw = F.ceil(approx * F.lit(mult))
    if mapping.offset == int(mapping.offset):
        # integral offset: stay in exact LONG arithmetic
        return raw + F.lit(int(mapping.offset))
    # ceil-as-long -> double is exact for |key| < 2^53
    return (raw.cast("double") + F.lit(float(mapping.offset))).cast("long")


def _zone_key(mapping, v):
    """(zone, key) columns of non-null, non-NaN double column ``v``, as
    kernel/sketch.py add files it: zone 1 (positive store) above
    min_possible, -1 (negative store, keyed on |v|) below -min_possible,
    0 (zero band, key 0) between. +-inf raises "value must be finite", as
    the kernel does, instead of keying to a saturated CEIL (Long.MAX)."""
    mp = mapping.min_possible
    inf = F.abs(v) == F.lit(float("inf"))
    zone = (
        F.when(inf, F.raise_error(F.lit("value must be finite")))
        .when(v > F.lit(mp), F.lit(1))
        .when(v < F.lit(-mp), F.lit(-1))
        .otherwise(F.lit(0))
    )
    # the zone guard keeps key_column off the zero band: vectorized eval
    # does not short-circuit, and key_column(0) would CEIL(-inf) under ANSI
    key = F.when(zone == 0, F.lit(0).cast("long")).otherwise(
        key_column(mapping, F.abs(v))
    )
    return zone, key


def histogram_rows(
    df: DataFrame,
    spec: DDSketchSpec,
    value_col: str,
    group_by: Iterable[str] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """The raw bucket-histogram rows (group..., __zone, __key, __cnt,
    __svw, __minv, __maxv) — the sketch's shuffle-time representation.
    ddsketch_jvm_agg assembles them into sketches; streaming queries
    (streaming/sketch_stream.py) and the resumable build (plans/lineage.py)
    run the same JVM aggregation and assemble sketches downstream."""
    mapping = spec.zero().mapping
    v = F.col(value_col).cast("double")
    w = F.lit(1.0)
    if weight_col:
        # null and NaN weights raise too, as in the kernel (Spark orders NaN
        # above every double, so `w > 0` alone would pass it)
        w = F.col(weight_col).cast("double")
        w = F.when((w > 0) & ~F.isnan(w), w).otherwise(
            F.raise_error(F.lit("weight must be positive"))
        )
    src = df.where(v.isNotNull() & ~F.isnan(v))
    zone, key = _zone_key(mapping, v)
    return src.groupBy(
        *group_by, zone.alias("__zone"), key.alias("__key")
    ).agg(
        F.sum(w).alias("__cnt"),
        F.sum(v * w).alias("__svw"),
        F.min(v).alias("__minv"),
        F.max(v).alias("__maxv"),
    )


def _assemble_state(spec: DDSketchSpec, cols: dict[str, np.ndarray]) -> DDSketch:
    """A group's (zone, key, cnt, svw, minv, maxv) columns -> kernel sketch."""
    s = spec.zero()
    zones = cols["__zone"]
    keys = cols["__key"].astype(np.int64)
    cnts = cols["__cnt"].astype(np.float64)
    for zone, store in ((1, s.store), (-1, s.negative_store)):
        m = zones == zone
        if m.any():
            store.add_batch(keys[m], cnts[m])
    zm = zones == 0
    s.zero_count = float(cnts[zm].sum()) if zm.any() else 0.0
    s.count = float(cnts.sum())
    s.sum = float(cols["__svw"].sum())
    s.min = float(cols["__minv"].min())
    s.max = float(cols["__maxv"].max())
    return s


def assemble_histogram(
    hist: DataFrame,
    spec: DDSketchSpec,
    group_by: Iterable[str] = (),
    output: str = "result",
) -> DataFrame:
    """Fold histogram_rows output into one sketch row per group. Correct
    over PARTIAL histograms too (duplicate (group, zone, key) rows just
    re-merge — bucket addition is the monoid op)."""
    return fold_groups(hist, spec, list(group_by), output, _assemble_state)


def ddsketch_jvm_agg(
    df: DataFrame,
    spec: DDSketchSpec,
    value_col: str,
    group_by: Iterable[str] = (),
    weight_col: str | None = None,
    output: str = "result",
) -> DataFrame:
    """JVM-histogram DDSketch aggregation; same output contract as
    operators.agg.sketch_agg with a DDSketchSpec."""
    group_by = list(group_by)
    hist = histogram_rows(df, spec, value_col, group_by, weight_col)
    return assemble_histogram(hist, spec, group_by, output)
