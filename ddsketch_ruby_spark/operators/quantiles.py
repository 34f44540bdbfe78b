"""High-level DDSketch quantile operators over DataFrames.

This is the flagship query shape (SURVEY.md §7.3): select -> bucket
histogram in whole-stage codegen (map-side partial aggregation) -> shuffle
of distinct (group, zone, key) rows -> per-group assembly and quantile
extraction. Every sketch-building operator here runs on that one JVM
histogram path (operators/ddsketch_jvm.py); ``operators.agg.sketch_agg``
with a ``DDSketchSpec`` is the kernel-backed reference the tests compare
it against.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernel import DEFAULT_BIN_LIMIT, DEFAULT_REL_ACC
from ..kernel.store import COLLAPSE_LOWEST
from ..sketches.ddsketch_spec import DDSketchSpec, quantile_col_name
from .ddsketch_jvm import _zone_key, ddsketch_jvm_agg, histogram_rows

__all__ = [
    "ddsketch_drift",
    "histogram_drift",
    "ddsketch_psi",
    "histogram_psi",
    "ddsketch_quantiles",
    "ddsketch_quantiles_long",
    "ddsketch_multi",
    "ddsketch_state",
    "ddsketch_quantile_of_quantiles",
    "ddsketch_cdf",
    "sketch_winsorize",
    "sketch_robust_stats",
]


def _quantile_map(quantiles) -> dict[str, float]:
    if isinstance(quantiles, dict):
        return dict(quantiles)
    return {quantile_col_name(q): float(q) for q in quantiles}


def ddsketch_quantiles(
    df: DataFrame,
    value_col: str,
    group_by: Iterable[str] = (),
    quantiles: Iterable[float] | dict[str, float] = (0.5, 0.95, 0.99),
    relative_accuracy: float = DEFAULT_REL_ACC,
    store_type: str = COLLAPSE_LOWEST,
    bin_limit: int = DEFAULT_BIN_LIMIT,
    mapping: str = "logarithmic",
    weight_col: str | None = None,
    include_stats: bool = True,
    mapping_offset: float = 0.0,
) -> DataFrame:
    """One row per group: requested quantile columns (+ exact count/sum/
    min/max/avg, which the sketch tracks exactly and a SQL oracle can
    verify)."""
    spec = DDSketchSpec(
        relative_accuracy,
        store_type,
        bin_limit,
        mapping,
        quantiles=_quantile_map(quantiles),
        include_stats=include_stats,
        mapping_offset=mapping_offset,
    )
    return ddsketch_jvm_agg(df, spec, value_col, group_by, weight_col)


def ddsketch_quantiles_long(
    df: DataFrame,
    value_col: str,
    group_by: Iterable[str] = (),
    quantiles: Iterable[float] | dict[str, float] = (0.5, 0.95, 0.99),
    relative_accuracy: float = DEFAULT_REL_ACC,
    round_to: int = 6,
    mapping: str = "logarithmic",
    mapping_offset: float = 0.0,
) -> DataFrame:
    """Long format: one row per (group, quantile) with columns
    (group..., qname, qvalue), rounded to ``round_to`` decimals so an
    ANSI-SQL oracle is bit-compatible. The values are the wide form's,
    rounded: the mapping's bucket value (``KeyMapping.value``), which a
    SQL oracle replicates op for op (see __spark_entry__)."""
    group_by = list(group_by)
    qmap = _quantile_map(quantiles)
    wide = ddsketch_quantiles(
        df,
        value_col,
        group_by,
        qmap,
        relative_accuracy,
        include_stats=False,
        mapping=mapping,
        mapping_offset=mapping_offset,
    )
    stack_args = ", ".join(
        f"'{name}', round({name}, {round_to})" for name in qmap
    )
    expr = f"stack({len(qmap)}, {stack_args}) as (qname, qvalue)"
    return wide.select(*group_by, F.expr(expr))


def ddsketch_multi(
    df: DataFrame,
    measures: dict[str, "Column | str"],
    group_by: Iterable[str] = (),
    quantiles: Iterable[float] | dict[str, float] = (0.5, 0.95, 0.99),
    relative_accuracy: float = DEFAULT_REL_ACC,
    include_stats: bool = True,
) -> DataFrame:
    """Sketch several measures in ONE scan: returns one row per
    (measure, group...). At corpus scale this is the shape to prefer —
    never scan 100 TB twice for a second metric. Implemented by stacking
    (measure, value) rows JVM-side (stack() inside codegen), then a single
    grouped sketch aggregation keyed by (measure, group...).
    """
    from pyspark.sql import Column

    group_by = list(group_by)
    pairs = []
    for name, col in measures.items():
        c = F.col(col) if isinstance(col, str) else col
        pairs += [F.lit(name), c.cast("double")]
    stacked = df.select(
        F.stack(F.lit(len(measures)), *pairs).alias("measure", "__v"),
        *group_by,
    )
    return ddsketch_quantiles(
        stacked,
        "__v",
        ["measure", *group_by],
        quantiles,
        relative_accuracy,
        include_stats=include_stats,
    )


def ddsketch_quantile_of_quantiles(
    df: DataFrame,
    value_col: str,
    inner_group_by: Iterable[str],
    inner_quantile: float = 0.99,
    quantiles: Iterable[float] | dict[str, float] = (0.5, 0.95, 0.99),
    relative_accuracy: float = DEFAULT_REL_ACC,
    outer_group_by: Iterable[str] = (),
    round_inner_to: int = 6,
) -> DataFrame:
    """Two-level composition: per-inner-group quantile, then the
    distribution OF those quantiles — e.g. "p95 across per-host p99
    latencies", the fleet-health query shape.

    Both levels are ordinary distributed sketch aggregations (the inner
    one emits one row per inner group — millions of hosts is still a
    trivial second pass), and the inner values are rounded to
    ``round_inner_to``, so the whole composition is reproducible by
    nesting two copies of the SQL oracle pipeline (__spark_entry__
    ddsketch_q_of_q oracle)."""
    inner_group_by = list(inner_group_by)
    outer_group_by = list(outer_group_by)
    inner = ddsketch_quantiles(
        df,
        value_col,
        inner_group_by + outer_group_by,
        {"__iq": inner_quantile},
        relative_accuracy,
        include_stats=False,
    ).select(
        *outer_group_by, F.round("__iq", round_inner_to).alias("__iq")
    )
    return ddsketch_quantiles(
        inner,
        "__iq",
        outer_group_by,
        quantiles,
        relative_accuracy,
        include_stats=False,
    )


def ddsketch_state(
    df: DataFrame,
    value_col: str,
    group_by: Iterable[str] = (),
    relative_accuracy: float = DEFAULT_REL_ACC,
    store_type: str = COLLAPSE_LOWEST,
    bin_limit: int = DEFAULT_BIN_LIMIT,
    mapping: str = "logarithmic",
    weight_col: str | None = None,
) -> DataFrame:
    """One mergeable sketch-state row per group (persist / merge later).
    Its bins equal the kernel's: JVM keys are bit-identical to
    ``KeyMapping.key_batch`` except for values within an ulp of a
    logarithmic bucket boundary gamma^k, where the two log2s can round
    apart."""
    spec = DDSketchSpec(
        relative_accuracy, store_type, bin_limit, mapping, include_stats=False
    )
    return ddsketch_jvm_agg(df, spec, value_col, group_by, weight_col, "state")


def ddsketch_cdf(
    df: DataFrame,
    value_col: str,
    probes: Iterable[float],
    group_by: Iterable[str] = (),
    relative_accuracy: float = DEFAULT_REL_ACC,
    mapping: str = "logarithmic",
    mapping_offset: float = 0.0,
) -> DataFrame:
    """Inverse quantile query: the sketch-resolution CDF estimate at
    literal probe values — cdf(p) = P[bucket(X) <= bucket(p)], i.e. the
    fraction of values landing at or below p's bucket (everything in
    p's own bucket counts as <= p; values are within alpha of p there,
    so |cdf_est(p) - cdf_true(p)| is bounded by the mass of ONE
    gamma-bucket). Long output: (group..., probe, cdf).

    Execution: because probes are literals, each probe's bucket key is
    resolved at plan time through the KERNEL mapping (the semantics
    oracle), and the whole query becomes ONE groupBy aggregate of
    conditional sums — no join, no second pass, shuffle volume = groups
    x (|probes| + 1) longs. The three-zone routing (negative / zero /
    positive, kernel/sketch.py add) is baked per probe into its
    predicate.

    Input contract, as for every DDSketch operator: null and NaN values
    are dropped, and a +-inf value raises "value must be finite"."""
    from ..kernel.mapping import mapping_from_name

    group_by = list(group_by)
    probes = [float(p) for p in probes]
    if not probes:
        raise ValueError("probes must be non-empty")
    m = mapping_from_name(mapping, relative_accuracy, mapping_offset)
    mp = m.min_possible
    v = F.col(value_col).cast("double")
    src = df.where(v.isNotNull() & ~F.isnan(v))
    zone, key = _zone_key(m, v)
    cnt_cols = []
    for i, p in enumerate(probes):
        if p > mp:
            kp = int(m.key(p))
            cond = (zone < 1) | ((zone == 1) & (key <= F.lit(kp)))
        elif p < -mp:
            kp = int(m.key(-p))
            cond = (zone == -1) & (key >= F.lit(kp))
        else:
            cond = zone < 1
        cnt_cols.append(
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).alias(f"__c_{i}")
        )
    # a key-less groupBy().agg emits one count-0 row on empty input; drop
    # it so an empty frame yields zero rows, as in the grouped case
    agg = (
        src.groupBy(*group_by)
        .agg(F.count("*").alias("__n"), *cnt_cols)
        .where(F.col("__n") > 0)
    )
    n_d = F.col("__n").cast("double")
    pairs = [
        F.struct(
            F.lit(p).alias("probe"),
            (F.col(f"__c_{i}").cast("double") / n_d).alias("cdf"),
        )
        for i, p in enumerate(probes)
    ]
    out = agg.select(
        *group_by, F.explode(F.array(*pairs)).alias("__pc")
    ).select(*group_by, F.col("__pc.probe").alias("probe"), F.col("__pc.cdf").alias("cdf"))
    return out


def ddsketch_drift(
    df: DataFrame,
    value_col: str,
    split_col: str,
    group_by: Iterable[str] = (),
    relative_accuracy: float = DEFAULT_REL_ACC,
    round_to: int = 6,
) -> DataFrame:
    """Distribution drift between the two sides of a boolean split,
    measured as the Kolmogorov-Smirnov statistic on the DDSketch bucket
    grid: D = max over buckets |cdf_a - cdf_b|, where both empirical
    CDFs are step functions over the SAME gamma-quantized buckets — so D
    approximates the true two-sample KS within the sketch's relative
    accuracy, and is EXACTLY reproducible (integer bucket counts, one
    correctly-rounded division per side per bucket). The training-
    pipeline monitor: value drift between train/val splits, time
    windows, or ingest waves, per group.

    Returns (group..., n_a, n_b, ks_stat) — a is split_col = false.

    Scale shape: one scan feeds the (group, split, zone, key) histogram
    (map-side partial agg; the shuffle carries distinct bucket rows,
    bounded by the bucket count per group, independent of row count);
    the CDF window runs over those few-hundred bucket rows per group.
    Real-line bucket order is (zone, zone*key) — negative-zone keys
    grow toward more-negative values, so multiplying by the zone sign
    linearizes all three zones."""
    groups = list(group_by)
    a, b = _split_histograms(df, value_col, split_col, groups, relative_accuracy)
    return histogram_drift(a, b, groups, round_to=round_to)


def _split_histograms(df, value_col, split_col, groups, relative_accuracy):
    """Bucket histograms of the split_col = false and = true sides (rows
    with a NULL split land on neither)."""
    spec = DDSketchSpec(
        relative_accuracy=relative_accuracy, include_stats=False
    )
    tagged = df.withColumn("__b", F.col(split_col).cast("boolean"))
    hist = histogram_rows(tagged, spec, value_col, groups + ["__b"])
    a = hist.filter(~F.col("__b")).drop("__b")
    b = hist.filter(F.col("__b")).drop("__b")
    return a, b


def _pivot_buckets(hist_a, hist_b, groups, count_col):
    """One row per (group..., __zone, __key) of the union bucket grid with
    both sides' counts, __ca and __cb (0.0 where a side has no mass)."""
    a = hist_a.select(
        *groups, "__zone", "__key", F.col(count_col).alias("__ca")
    ).withColumn("__cb", F.lit(0.0))
    b = hist_b.select(
        *groups, "__zone", "__key", F.col(count_col).alias("__cb")
    ).withColumn("__ca", F.lit(0.0))
    return (
        a.unionByName(b)
        .groupBy(*groups, "__zone", "__key")
        .agg(F.sum("__ca").alias("__ca"), F.sum("__cb").alias("__cb"))
    )


def histogram_drift(
    hist_a: DataFrame,
    hist_b: DataFrame,
    group_by: Iterable[str] = (),
    count_col: str = "__cnt",
    round_to: int = 6,
) -> DataFrame:
    """The KS computation of ddsketch_drift over two ALREADY-BUILT bucket
    frames (group..., __zone, __key, count) — both must use the same
    mapping. This is how drift runs against persisted or STREAMED
    histograms: sketch_stream_hist emits exactly these rows per window,
    so "drift of each live window vs a baseline" is one call with no
    rescan of the raw data (only bucket rows move)."""
    groups = list(group_by)
    piv = _pivot_buckets(hist_a, hist_b, groups, count_col)
    order = [F.col("__zone"), F.col("__zone") * F.col("__key")]
    wcum = (
        Window.partitionBy(*groups)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*groups).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = piv.select(
        *groups,
        F.sum("__ca").over(wcum).alias("__fa"),
        F.sum("__cb").over(wcum).alias("__fb"),
        F.sum("__ca").over(wall).alias("__na"),
        F.sum("__cb").over(wall).alias("__nb"),
    )
    gap = F.abs(F.col("__fa") / F.col("__na") - F.col("__fb") / F.col("__nb"))
    return (
        cum.groupBy(*groups)
        .agg(
            F.max("__na").cast("long").alias("n_a"),
            F.max("__nb").cast("long").alias("n_b"),
            F.round(F.max(gap), round_to).alias("ks_stat"),
        )
    )


_PSI_SCALE = 1e9


def histogram_psi(
    hist_a: DataFrame,
    hist_b: DataFrame,
    group_by: Iterable[str] = (),
    count_col: str = "__cnt",
    round_to: int = 6,
) -> DataFrame:
    """Population stability index over two bucket frames on the same
    mapping: PSI = sum over buckets of (p_a - p_b) * ln(p_a / p_b), with
    Laplace smoothing (0.5 added to every bucket count of the UNION
    grid, so empty-on-one-side buckets contribute finitely). The other
    standard drift monitor next to KS (histogram_drift): KS sees the
    worst single point of CDF divergence, PSI accumulates divergence
    across the whole distribution.

    Determinism (§5 discipline, the bm25 pattern): each bucket's term is
    nonnegative ((p_a - p_b) and ln(p_a/p_b) share sign), scaled by 1e9
    and rounded to an INTEGER before summing — the per-group total is an
    order-insensitive integer sum, immune to float-summation order.

    Returns (group..., n_a, n_b, psi)."""
    groups = list(group_by)
    piv = _pivot_buckets(hist_a, hist_b, groups, count_col)
    wall = Window.partitionBy(*groups).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = piv.select(
        *groups,
        "__ca",
        "__cb",
        F.sum("__ca").over(wall).alias("__na"),
        F.sum("__cb").over(wall).alias("__nb"),
        F.count(F.lit(1)).over(wall).cast("double").alias("__nbuckets"),
    )
    pa = (F.col("__ca") + F.lit(0.5)) / (
        F.col("__na") + F.lit(0.5) * F.col("__nbuckets")
    )
    pb = (F.col("__cb") + F.lit(0.5)) / (
        F.col("__nb") + F.lit(0.5) * F.col("__nbuckets")
    )
    term = (pa - pb) * F.log(pa / pb)
    iterm = F.round(term * F.lit(_PSI_SCALE), 0).cast("long")
    return (
        tot.withColumn("__it", iterm)
        .groupBy(*groups)
        .agg(
            F.max("__na").cast("long").alias("n_a"),
            F.max("__nb").cast("long").alias("n_b"),
            F.round(
                F.sum("__it").cast("double") / F.lit(_PSI_SCALE), round_to
            ).alias("psi"),
        )
    )


def ddsketch_psi(
    df: DataFrame,
    value_col: str,
    split_col: str,
    group_by: Iterable[str] = (),
    relative_accuracy: float = DEFAULT_REL_ACC,
    round_to: int = 6,
) -> DataFrame:
    """PSI drift between the two sides of a boolean split on the sketch's
    bucket grid — histogram build as in ddsketch_drift (rows with a NULL
    split are excluded from both sides there and here), statistic as in
    histogram_psi."""
    groups = list(group_by)
    a, b = _split_histograms(df, value_col, split_col, groups, relative_accuracy)
    return histogram_psi(a, b, groups, round_to=round_to)


def sketch_winsorize(
    df: DataFrame,
    value_col: str,
    lower_q: float = 0.01,
    upper_q: float = 0.99,
    relative_accuracy: float = DEFAULT_REL_ACC,
    out_col: str | None = None,
    bounds: tuple[float, float] | None = None,
    round_to: int = 6,
    **sketch_kwargs,
) -> DataFrame:
    """Winsorize a column at sketch quantiles: values below the lower_q
    quantile clamp up to it, values above upper_q clamp down — the
    standard outlier-taming step before per-feature normalization in
    training pipelines, here at one extra scan (the sketch build) for
    ANY data size. Bounds are rounded to ``round_to`` decimals (the
    quantile-oracle rounding, so they are bit-reproducible) and the clip
    is a pure scan-level LEAST/GREATEST — no shuffle, no UDF.

    Pass ``bounds=(lo, hi)`` to reuse boundaries from a previous build
    (the sketch_boundaries reuse pattern: winsorize a stream or a later
    ingest wave against LAST month's distribution)."""
    if bounds is None:
        if not 0.0 <= lower_q < upper_q <= 1.0:
            raise ValueError("need 0 <= lower_q < upper_q <= 1")
        rows = ddsketch_quantiles_long(
            df,
            value_col,
            quantiles={"lo": lower_q, "hi": upper_q},
            relative_accuracy=relative_accuracy,
            round_to=round_to,
            **sketch_kwargs,
        ).collect()
        by = {r["qname"]: r["qvalue"] for r in rows}
        bounds = (by["lo"], by["hi"])
    lo, hi = float(bounds[0]), float(bounds[1])
    v = F.col(value_col).cast("double")
    clipped = F.least(F.greatest(v, F.lit(lo)), F.lit(hi))
    return df.withColumn(out_col or value_col, clipped)


def sketch_robust_stats(
    df: DataFrame,
    value_col: str,
    group_by: Iterable[str] = (),
    relative_accuracy: float = DEFAULT_REL_ACC,
    round_to: int = 6,
) -> DataFrame:
    """Robust location/scale per group from two sketch passes: the median,
    then the median absolute deviation MAD = median(|x - median|) — the
    inputs of the robust z-score (x - med)/(1.4826 * MAD) that outlier
    filters use when means/stds are poisoned by the very outliers being
    hunted. Returns (group..., median, mad), both rounded to
    ``round_to``.

    Two scans by necessity (MAD is a quantile of a median-derived
    column); the intermediate per-group medians are a tiny frame
    broadcast back onto the data, so no data-sized shuffle is added
    beyond the two sketch builds' bucket-row shuffles. Rounding the
    median before the second pass makes the derived column — and hence
    the MAD — bit-reproducible by any engine."""
    groups = list(group_by)
    med = ddsketch_quantiles_long(
        df,
        value_col,
        groups,
        quantiles={"med": 0.5},
        relative_accuracy=relative_accuracy,
        round_to=round_to,
    ).select(*groups, F.col("qvalue").alias("__med"))
    joined = (
        df.join(F.broadcast(med), groups)
        if groups
        else df.crossJoin(F.broadcast(med))
    )
    dev = joined.select(
        *groups,
        "__med",
        F.abs(F.col(value_col).cast("double") - F.col("__med")).alias("__dev"),
    )
    mad = ddsketch_quantiles_long(
        dev,
        "__dev",
        groups + ["__med"],
        quantiles={"mad": 0.5},
        relative_accuracy=relative_accuracy,
        round_to=round_to,
    )
    return mad.select(
        *groups,
        F.col("__med").alias("median"),
        F.col("qvalue").alias("mad"),
    )
