"""Distributed DDSketch tests (SURVEY.md §5.6 tier b): partition-count
invariance, merge-path equivalence, accuracy vs the exact sort oracle on
the driver tables, scan pruning."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_ruby_spark.operators.agg import sketch_agg, sketch_partials
from ddsketch_ruby_spark.operators.quantiles import (
    ddsketch_cdf,
    ddsketch_quantiles,
    ddsketch_state,
)
from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec, quantile_col_name
from ddsketch_ruby_spark.sources.tables import table

QS = (0.1, 0.5, 0.9, 0.95, 0.99)
ALPHA = 0.01


def exact_quantiles(values: np.ndarray, qs=QS) -> dict[float, float]:
    s = np.sort(values)
    return {q: float(s[int(q * (len(s) - 1))]) for q in qs}


def kernel_reference(df, col, group_by=(), qs=QS, **spec_kw):
    """The kernel-backed build (operators.agg.sketch_agg) that the JVM
    histogram path behind the quantile operators must reproduce."""
    spec = DDSketchSpec(
        quantiles={quantile_col_name(q): q for q in qs}, **spec_kw
    )
    return sketch_agg(df, spec, col, group_by)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return table(spark, sf_dir, "events")


def test_accuracy_vs_exact_oracle(spark, events):
    vals = np.array(
        [r.value for r in events.select("value").collect()], dtype=np.float64
    )
    res = ddsketch_quantiles(events, "value", quantiles=QS).collect()[0].asDict()
    oracle = exact_quantiles(vals)
    for q, exact in oracle.items():
        got = res[quantile_col_name(q)]
        assert abs(got - exact) - ALPHA * abs(exact) <= 1e-15
    assert res["count"] == len(vals)
    assert abs(res["sum"] - vals.sum()) <= 1e-6 * abs(vals.sum())
    assert res["min"] == vals.min()
    assert res["max"] == vals.max()


@pytest.mark.parametrize("partitions", [1, 4, 16])
def test_partition_count_invariance(spark, events, partitions):
    """Same sketch buckets regardless of how rows are partitioned — the
    distributed analogue of merge order-insensitivity."""
    df = events.repartition(partitions)
    state = ddsketch_state(df, "value").collect()[0].asDict()
    base = ddsketch_state(events.coalesce(1), "value").collect()[0].asDict()
    assert state["pos_offset"] == base["pos_offset"]
    assert list(state["pos_bins"]) == list(base["pos_bins"])
    assert state["count"] == base["count"]
    assert state["zero_count"] == base["zero_count"]
    assert state["min"] == base["min"] and state["max"] == base["max"]


def test_tree_fanin_equivalence(spark, events):
    df = events.repartition(16)
    spec = DDSketchSpec(include_stats=False)
    flat = sketch_agg(df, spec, "value", output="state").collect()[0].asDict()
    tree = (
        sketch_agg(df, spec, "value", output="state", tree_fanin=3)
        .collect()[0]
        .asDict()
    )
    assert list(flat["pos_bins"]) == list(tree["pos_bins"])
    assert flat["pos_offset"] == tree["pos_offset"]
    assert flat["count"] == tree["count"]


def test_grouped_accuracy(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    res = {
        r["lang"]: r.asDict()
        for r in ddsketch_quantiles(
            docs, "n_chars", group_by=["lang"], quantiles=(0.5, 0.99)
        ).collect()
    }
    rows = docs.select("lang", "n_chars").collect()
    by_lang: dict[str, list[float]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(float(r.n_chars))
    assert set(res) == set(by_lang)
    for lang, vals in by_lang.items():
        oracle = exact_quantiles(np.array(vals), (0.5, 0.99))
        assert res[lang]["count"] == len(vals)
        for q, exact in oracle.items():
            name = "q50" if q == 0.5 else "q99"
            got = res[lang][name]
            assert abs(got - exact) - ALPHA * abs(exact) <= 1e-15, (lang, q)


def test_weighted_agg(spark):
    sdf = spark.createDataFrame(
        [(float(v), 1.1) for v in range(100)] + [(100.0, 110.0)],
        "value double, w double",
    )
    res = (
        ddsketch_quantiles(sdf, "value", weight_col="w", quantiles=(0.5,))
        .collect()[0]
        .asDict()
    )
    # FIXTURES.md §5 exact expectations
    assert abs(res["count"] - 220.0) <= 1e-9
    assert abs(res["sum"] - 16445.0) <= 1e-9
    assert abs(res["avg"] - 74.75) <= 1e-9
    assert abs(res["q50"] - 99.0) <= ALPHA * 99.0 + 1e-15


def test_weighted_grouped_tree_agg(spark, sf01_dir):
    """Weighted + grouped on the JVM path, and weighted + grouped +
    tree-merge on the kernel reference, agree with the exact weighted
    aggregates."""
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet").withColumn(
        "w", F.col("l_linenumber").cast("double")
    )
    exact = {
        r["l_returnflag"]: r.asDict()
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum("w").alias("count"),
            F.sum(F.col("l_quantity") * F.col("w")).alias("sum"),
        )
        .collect()
    }
    df = li.repartition(16)
    builds = {
        "jvm": ddsketch_quantiles(
            df, "l_quantity", ["l_returnflag"], quantiles=(0.5,), weight_col="w"
        ),
        "kernel": sketch_agg(
            df,
            DDSketchSpec(quantiles={"q50": 0.5}),
            "l_quantity",
            ["l_returnflag"],
            "w",
            tree_fanin=4,
        ),
    }
    for path, build in builds.items():
        res = {r["l_returnflag"]: r.asDict() for r in build.collect()}
        for k, e in exact.items():
            assert res[k]["count"] == pytest.approx(e["count"], rel=1e-12), path
            assert res[k]["sum"] == pytest.approx(e["sum"], rel=1e-9), path


@pytest.mark.parametrize("w", [0.0, -5.0, None, float("nan")])
def test_non_positive_or_null_weight_raises(spark, w):
    """As in the kernel (and reference base_sketch.rb add), a weight that
    is not positive is an error, never a silently wrong count or max."""
    sdf = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (1000.0, w)], "value double, w double"
    )
    with pytest.raises(Exception, match="weight must be positive"):
        ddsketch_quantiles(sdf, "value", weight_col="w").collect()


@pytest.mark.parametrize("values", [[1.0, 2.0, float("inf")], [1.0, float("-inf")]])
@pytest.mark.parametrize("build", ["ddsketch_quantiles", "sketch_agg", "ddsketch_cdf"])
def test_infinite_value_raises(spark, build, values):
    """+-inf has no bucket key (the reference's Integer(ceil(log_gamma(v)))
    raises on Infinity): the JVM path, the CDF query and the kernel
    reference raise instead of filing it under a saturated or wrapped key."""
    sdf = spark.createDataFrame([(v,) for v in values], "value double")
    out = {
        "ddsketch_quantiles": lambda: ddsketch_quantiles(sdf, "value"),
        "sketch_agg": lambda: sketch_agg(sdf, DDSketchSpec(), "value"),
        "ddsketch_cdf": lambda: ddsketch_cdf(sdf, "value", [1.5, -1.0]),
    }[build]()
    with pytest.raises(Exception, match="value must be finite"):
        out.collect()


def test_nulls_and_empty_groups(spark):
    sdf = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 2.0), (None, 3.0)],
        "k string, value double",
    )
    rows = {
        r["k"]: r.asDict()
        for r in ddsketch_quantiles(sdf, "value", group_by=["k"]).collect()
    }
    assert rows["a"]["count"] == 1.0  # null value dropped
    assert rows["b"]["count"] == 1.0
    assert rows[None]["count"] == 1.0  # null group key preserved


def _fold_of_empty_frame(spark, build, keys):
    from pyspark.sql import types as T

    from ddsketch_ruby_spark.operators.agg import sketch_finalize
    from ddsketch_ruby_spark.operators.ddsketch_jvm import ddsketch_jvm_agg
    from ddsketch_ruby_spark.operators.quantiles import ddsketch_cdf

    spec = DDSketchSpec(ALPHA)
    key_fields = [T.StructField(k, T.StringType()) for k in keys]
    values = spark.createDataFrame(
        [], T.StructType(key_fields + [T.StructField("value", T.DoubleType())])
    )
    states = spark.createDataFrame([], T.StructType(key_fields + spec.state_fields()))
    return {
        "sketch_agg": lambda: sketch_agg(values, spec, "value", keys),
        "ddsketch_jvm_agg": lambda: ddsketch_jvm_agg(values, spec, "value", keys),
        "sketch_finalize": lambda: sketch_finalize(states, spec, keys),
        "ddsketch_cdf": lambda: ddsketch_cdf(values, "value", [1.0], keys),
    }[build]().collect()


EMPTY_FOLD_BUILDS = ["sketch_agg", "ddsketch_jvm_agg", "sketch_finalize", "ddsketch_cdf"]


@pytest.mark.parametrize("build", EMPTY_FOLD_BUILDS)
def test_global_fold_of_empty_frame_is_empty(spark, build):
    """A key-less (global) aggregate over an empty frame has no group to
    fold, so it returns zero rows — not one row of empty-sketch nulls."""
    assert _fold_of_empty_frame(spark, build, []) == []


@pytest.mark.parametrize("build", EMPTY_FOLD_BUILDS)
def test_grouped_fold_of_empty_frame_is_empty(spark, build):
    """A grouped aggregate over an empty frame has no groups: zero rows."""
    assert _fold_of_empty_frame(spark, build, ["k"]) == []


NAN = float("nan")
# six (g, s) groups: null and NaN double keys, a null string key, plain keys
KEYED_GROUPS = [(None, "a"), (NAN, "a"), (1.0, None), (1.0, "a"), (-2.5, "b"), (NAN, None)]


def _keyed_frame(spark):
    rows = [
        (g, s, float(i * 7 + j) * (-1.0) ** j)
        for i, (g, s) in enumerate(KEYED_GROUPS)
        for j in range(39)
    ]
    return spark.createDataFrame(rows, "g double, s string, v double").repartition(3)


def _bits(rows):
    """Rows as comparable tuples, every double by its exact hex form (so
    NaN equals NaN and -0.0 differs from 0.0)."""

    def canon(x):
        if isinstance(x, float):
            return x.hex()
        if isinstance(x, (list, tuple)):
            return tuple(canon(y) for y in x)
        return x

    return sorted((tuple(canon(x) for x in r) for r in rows), key=repr)


def test_nan_and_null_group_keys_stay_apart(spark):
    """Spark's grouping keeps null and NaN keys as separate groups; the fold
    returns each group once with its key as it was (NaN stays NaN)."""
    rows = ddsketch_quantiles(_keyed_frame(spark), "v", ["g", "s"]).collect()
    assert len(rows) == len(KEYED_GROUPS)
    assert all(r["count"] == 39 for r in rows)
    assert _bits((r["g"], r["s"]) for r in rows) == _bits(KEYED_GROUPS)


def test_kernel_path_nan_and_null_group_keys_stay_apart(spark):
    """The kernel path's phase 1 (per-partition partials) groups like Spark
    too: 39 null-keyed and 39 NaN-keyed rows are two groups, not one of 78."""
    rows = sketch_agg(_keyed_frame(spark), DDSketchSpec(ALPHA), "v", ["g", "s"]).collect()
    assert len(rows) == len(KEYED_GROUPS)
    assert all(r["count"] == 39 for r in rows)
    assert _bits((r["g"], r["s"]) for r in rows) == _bits(KEYED_GROUPS)


def test_groups_straddling_arrow_batches(spark):
    """With three-row Arrow batches every group spans several batches; the
    per-partition fold must return the default-batch results bit for bit."""
    from pyspark.sql import types as T

    from ddsketch_ruby_spark.operators.agg import sketch_finalize

    df = _keyed_frame(spark)
    spec = DDSketchSpec(ALPHA)
    state_schema = T.StructType(
        [T.StructField("g", T.DoubleType()), T.StructField("s", T.StringType())]
        + spec.state_fields()
    )
    states = spark.createDataFrame(
        sketch_agg(df, spec, "v", ["g", "s"], output="state").collect(), state_schema
    )
    builds = {
        "grouped": lambda: ddsketch_quantiles(df, "v", ["g", "s"]),
        "kernel": lambda: sketch_agg(df, spec, "v", ["g", "s"]),
        "global": lambda: ddsketch_quantiles(df, "v"),
        "state": lambda: ddsketch_state(df, "v", ["g", "s"]),
        "finalize": lambda: sketch_finalize(states, spec, ["g", "s"]),
        "finalize_state": lambda: sketch_finalize(
            states, spec, ["s"], output="state"
        ),
    }
    default = {k: _bits(b().collect()) for k, b in builds.items()}
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        small = {k: _bits(b().collect()) for k, b in builds.items()}
    finally:
        spark.conf.set(key, before)
    assert small == default
    assert len(default["grouped"]) == len(KEYED_GROUPS)


def test_jvm_plan_quality(spark, events):
    """Plan regression gate for the JVM fast path: filter pushdown reaches
    the scan, column pruning holds, map-side partial aggregation runs
    before the first exchange, and there are exactly two (tiny) shuffles:
    (group, zone, key) then (group)."""
    plan = (
        ddsketch_quantiles(
            events.filter(F.col("value") > 0), "value", ["event_type"]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [GreaterThan(value,0.0)" in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert sorted(c.split(":")[0] for c in m.group(1).split(",")) == [
        "event_type",
        "value",
    ]
    assert plan.count("Exchange") == 2
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_scan_pruning(spark, events):
    """Column pruning must reach the parquet scan: the engine selects only
    the value column, so ReadSchema contains just it."""
    plan = ddsketch_state(events, "value")._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert m.group(1).split(":")[0] == "value" and "," not in m.group(1), m.group(1)


def test_jvm_path_matches_kernel_reference(spark, events, sf_dir):
    """The JVM histogram path behind the quantile operators reproduces the
    kernel-backed sketch_agg build: identical counts/min/max and, because
    JVM keys are bit-identical to kernel keys, identical quantiles."""
    li = table(spark, sf_dir, "lineitem")
    for df, col, grp in ((events, "value", []), (li, "l_extendedprice", ["l_returnflag"])):
        a = {
            tuple(r[g] for g in grp): r.asDict()
            for r in ddsketch_quantiles(df, col, grp, quantiles=QS).collect()
        }
        b = {
            tuple(r[g] for g in grp): r.asDict()
            for r in kernel_reference(df, col, grp).collect()
        }
        assert set(a) == set(b)
        for k in a:
            assert a[k]["count"] == b[k]["count"]
            assert a[k]["min"] == b[k]["min"] and a[k]["max"] == b[k]["max"]
            assert abs(a[k]["sum"] - b[k]["sum"]) <= 1e-6 * abs(b[k]["sum"])
            for q in QS:
                name = quantile_col_name(q)
                assert a[k][name] == b[k][name], (k, name, a[k][name], b[k][name])


def test_jvm_engine_negative_and_zero(spark):
    """Three-zone routing parity on the JVM path."""
    import numpy as np

    data = [(float(v),) for v in [-50.0, -1.0, 0.0, 0.0, 0.5, 2.0, 1000.0]]
    sdf = spark.createDataFrame(data, "value double")
    res = ddsketch_quantiles(sdf, "value", quantiles=(0.0, 0.5, 1.0)).collect()[0].asDict()
    assert res["count"] == 7.0
    assert res["min"] == -50.0 and res["max"] == 1000.0
    # rank 3 of 7 (q50) lands in the zero band
    assert res["q50"] == 0.0
    ref = kernel_reference(sdf, "value", qs=(0.0, 0.5, 1.0)).collect()[0].asDict()
    for name in ("q0", "q50", "q100"):
        assert res[name] == pytest.approx(ref[name], rel=1e-9)


@pytest.mark.parametrize("mapping", ["logarithmic", "linear", "cubic"])
def test_jvm_keys_bit_match_kernel(spark, mapping):
    """The SQL key expression (operators/ddsketch_jvm.py key_column) must
    reproduce kernel key_batch BIT-FOR-BIT for every mapping — including
    binade boundaries, where a naive floor(log2) is off by one. For the
    interpolated mappings this is what makes a DuckDB oracle possible."""
    from ddsketch_ruby_spark.kernel.mapping import mapping_from_name
    from ddsketch_ruby_spark.operators.ddsketch_jvm import key_column

    rng = np.random.default_rng(7)
    exps = np.arange(-60, 61, dtype=np.float64)
    vals = np.concatenate(
        [
            2.0**exps,
            np.nextafter(2.0**exps, 0.0),
            np.nextafter(2.0**exps, np.inf),
            rng.lognormal(3, 4, 4000),
            np.array([1.0, 1.5, 2.0, 1e-9, 1e9, 5.0, 0.1]),
        ]
    )
    m = mapping_from_name(mapping, ALPHA)
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = {
        float(r.v): int(r.k)
        for r in df.select("v", key_column(m, F.col("v")).alias("k")).collect()
    }
    kern = {float(v): int(k) for v, k in zip(vals, m.key_batch(vals))}
    mism = {v: (got[v], kern[v]) for v in kern if got[v] != kern[v]}
    assert not mism, list(mism.items())[:5]


@pytest.mark.parametrize("mapping", ["linear", "cubic"])
def test_jvm_engine_interpolated_matches_python(spark, events, mapping):
    """Interpolated mappings on the JVM path agree with the kernel
    reference EXACTLY (keys are bit-identical to the kernel)."""
    a = ddsketch_quantiles(events, "value", quantiles=QS, mapping=mapping)
    a = a.collect()[0].asDict()
    b = kernel_reference(events, "value", mapping=mapping).collect()[0].asDict()
    for q in QS:  # bucket-exact: identical keys -> identical values
        name = quantile_col_name(q)
        assert a[name] == b[name], (name, a[name], b[name])
    assert a["count"] == b["count"]
    assert a["min"] == b["min"] and a["max"] == b["max"]
    # sum/avg accumulate in different orders across engines (float
    # non-associativity) — equal to rounding only
    assert a["sum"] == pytest.approx(b["sum"], rel=1e-12)


def test_partition_pruning_on_partitioned_layout(spark, sf_dir, tmp_path):
    """Hive/Iceberg-style partitioned layout: a lang filter must prune
    partitions at the scan (the single biggest I/O lever at 100 TB)."""
    docs = table(spark, sf_dir, "documents")
    d = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").mode("overwrite").parquet(d)
    pdf = spark.read.parquet(d)
    q = ddsketch_quantiles(
        pdf.filter(F.col("lang") == "en"), "n_chars", quantiles=(0.5,)
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    res = q.collect()[0].asDict()
    expected = docs.filter("lang = 'en'").count()
    assert res["count"] == expected


def test_spark_matches_kernel(spark, events):
    """The distributed result must equal a single-process kernel run."""
    from ddsketch_ruby_spark.kernel import DDSketch

    vals = np.array(
        [r.value for r in events.select("value").collect()], dtype=np.float64
    )
    local = DDSketch.collapsing_lowest(0.01, 2048)
    local.add_batch(vals)
    dist = ddsketch_state(events.repartition(8), "value").collect()[0].asDict()
    assert list(dist["pos_bins"]) == local.store.bins.tolist()
    assert dist["pos_offset"] == local.store.offset
    assert dist["zero_count"] == local.zero_count
    assert dist["count"] == local.count


def test_long_form_is_the_wide_form_rounded(spark):
    """One sketch gives one bucket value in both forms. Above 1e10 a
    double's ulp exceeds 1e-6, so rounding to 6 decimals keeps the last
    bits of the bucket value and a second value formula would show."""
    from ddsketch_ruby_spark.operators.quantiles import ddsketch_quantiles_long

    rng = np.random.default_rng(20)
    groups = rng.integers(0, 40, 20_000).tolist()
    values = (10.0 ** rng.uniform(7.0, 12.0, 20_000)).tolist()
    df = spark.createDataFrame(list(zip(groups, values)), "g long, v double")
    names = [quantile_col_name(q) for q in QS]
    wide = ddsketch_quantiles(df, "v", ["g"], QS, include_stats=False)
    rounded = {
        (r["g"], name): r[name]
        for r in wide.select("g", *[F.round(n, 6).alias(n) for n in names])
        .collect()
        for name in names
    }
    long = {
        (r["g"], r["qname"]): r["qvalue"]
        for r in ddsketch_quantiles_long(df, "v", ["g"], QS, round_to=6).collect()
    }
    assert len(rounded) == 40 * len(QS)
    assert long == rounded


def test_ddsketch_multi_one_pass(spark, events):
    """Multi-measure single-scan API equals per-measure runs."""
    from ddsketch_ruby_spark.operators.quantiles import ddsketch_multi

    multi = {
        (r["measure"],): r.asDict()
        for r in ddsketch_multi(
            events.withColumn("v2", F.col("value") * 2),
            {"value": "value", "double_value": F.col("v2")},
            quantiles=(0.5, 0.99),
        ).collect()
    }
    single = ddsketch_quantiles(events, "value", quantiles=(0.5, 0.99)).collect()[0]
    assert multi[("value",)]["q50"] == single["q50"]
    assert multi[("value",)]["count"] == single["count"]
    assert multi[("double_value",)]["count"] == single["count"]
    # doubled measure: quantile within alpha of 2x
    assert abs(multi[("double_value",)]["q50"] - 2 * single["q50"]) <= 0.03 * 2 * single["q50"]


def test_quantile_of_quantiles_grouped(spark, events):
    """q-of-q with an outer dimension: per event_type, the q50 across
    per-user q95s — equals composing the two sketch passes by hand."""
    from ddsketch_ruby_spark.operators.quantiles import (
        ddsketch_quantile_of_quantiles,
    )

    df = events.filter(F.col("value") > 0)
    got = {
        r["event_type"]: r["q50"]
        for r in ddsketch_quantile_of_quantiles(
            df, "value", ["user_id"], 0.95, {"q50": 0.5},
            outer_group_by=["event_type"],
        ).collect()
    }
    inner = ddsketch_quantiles(
        df, "value", ["user_id", "event_type"], {"__iq": 0.95},
        include_stats=False,
    ).select("event_type", F.round("__iq", 6).alias("__iq"))
    ref = {
        r["event_type"]: r["q50"]
        for r in ddsketch_quantiles(
            inner, "__iq", ["event_type"], {"q50": 0.5},
            include_stats=False,
        ).collect()
    }
    assert got == ref and len(got) >= 3


def test_cross_check_vs_spark_builtin_percentile(spark, events):
    """External validation: our sketch's quantiles and Spark's built-in
    percentile_approx (a different algorithm entirely) must both sit
    within alpha of each other's values on the same data."""
    ours = ddsketch_quantiles(
        events.filter(F.col("value") > 0), "value", quantiles=(0.5, 0.95, 0.99)
    ).collect()[0]
    theirs = (
        events.filter(F.col("value") > 0)
        .agg(
            F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("p")
        )
        .collect()[0]["p"]
    )
    for name, ref in zip(("q50", "q95", "q99"), theirs):
        assert abs(ours[name] - ref) <= 2 * ALPHA * abs(ref) + 1e-9, (
            name, ours[name], ref,
        )


def test_cdf_inverse_of_quantiles(spark, events):
    """cdf(quantile(q)) must bracket q within one gamma-bucket of mass:
    the probe lands in the bucket the quantile value came from, so the
    estimated rank includes that whole bucket."""
    import numpy as np

    from ddsketch_ruby_spark.operators.quantiles import (
        ddsketch_cdf,
        ddsketch_quantiles,
    )

    pos = events.filter("value > 0")
    qrow = ddsketch_quantiles(pos, "value", quantiles=(0.25, 0.5, 0.9)).collect()[0]
    vals = np.sort(
        np.array([r["value"] for r in pos.select("value").collect()])
    )
    for q in (0.25, 0.5, 0.9):
        probe = qrow[f"q{int(q*100)}"]
        (r,) = ddsketch_cdf(pos, "value", [probe]).collect()
        # exact mass of the probe's own bucket (gamma-interval around it)
        gamma = (1 + 0.01) / (1 - 0.01)
        bucket_mass = (
            np.searchsorted(vals, probe * gamma, side="right")
            - np.searchsorted(vals, probe / gamma, side="left")
        ) / len(vals)
        assert q - bucket_mass <= r["cdf"] <= q + bucket_mass + 1e-9, (
            q, r["cdf"], bucket_mass,
        )


def test_cdf_three_zone_routing(spark):
    from ddsketch_ruby_spark.operators.quantiles import ddsketch_cdf

    df = spark.createDataFrame(
        [(-100.0,), (-10.0,), (0.0,), (5.0,), (50.0,), (500.0,)], "v double"
    )
    got = {
        r["probe"]: r["cdf"]
        for r in ddsketch_cdf(
            df, "v", [-50.0, -10.0, 0.0, 5.0, 1000.0]
        ).collect()
    }
    assert got[-50.0] == pytest.approx(1 / 6)   # only -100 is <= -50's bucket
    assert got[-10.0] == pytest.approx(2 / 6)
    assert got[0.0] == pytest.approx(3 / 6)     # negatives + the zero
    assert got[5.0] == pytest.approx(4 / 6)
    assert got[1000.0] == pytest.approx(1.0)


def test_cdf_monotone_and_partition_invariant(spark, events):
    from ddsketch_ruby_spark.operators.quantiles import ddsketch_cdf

    pos = events.filter("value > 0")
    probes = [1.0, 10.0, 100.0, 1000.0]
    a = sorted(
        (r["probe"], r["cdf"])
        for r in ddsketch_cdf(pos.repartition(1), "value", probes).collect()
    )
    b = sorted(
        (r["probe"], r["cdf"])
        for r in ddsketch_cdf(pos.repartition(9), "value", probes).collect()
    )
    assert a == b
    cdfs = [c for _, c in a]
    assert cdfs == sorted(cdfs)
    with pytest.raises(ValueError):
        ddsketch_cdf(pos, "value", [])


def test_ddsketch_drift_zero_identical_and_one_disjoint(spark):
    from ddsketch_ruby_spark.operators.quantiles import ddsketch_drift

    vals = [float(v) for v in range(1, 200)]
    same = spark.createDataFrame(
        [(v, b) for v in vals for b in (True, False)], "v double, b boolean"
    ).repartition(7)
    r = ddsketch_drift(same, "v", "b").collect()[0]
    assert r["ks_stat"] == 0.0 and r["n_a"] == r["n_b"] == 199
    disjoint = spark.createDataFrame(
        [(float(v), False) for v in range(1, 100)]
        + [(float(v), True) for v in range(10_000, 10_099)],
        "v double, b boolean",
    )
    r = ddsketch_drift(disjoint, "v", "b").collect()[0]
    assert r["ks_stat"] == 1.0


def test_ddsketch_drift_tracks_exact_ks(spark):
    """The bucketized statistic must sit within the sketch's quantization
    of the exact two-sample KS computed from the raw values."""
    import numpy as np

    from ddsketch_ruby_spark.operators.quantiles import ddsketch_drift

    rng = np.random.default_rng(11)
    a = rng.lognormal(0.0, 1.0, 4000)
    b = rng.lognormal(0.3, 1.0, 4000)  # shifted -> real drift
    df = spark.createDataFrame(
        [(float(v), False) for v in a] + [(float(v), True) for v in b],
        "v double, b boolean",
    ).repartition(9)
    got = ddsketch_drift(df, "v", "b").collect()[0]["ks_stat"]
    # exact KS
    allv = np.sort(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), allv, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), allv, side="right") / len(b)
    exact = float(np.max(np.abs(fa - fb)))
    assert exact > 0.1  # the construction really drifts
    assert abs(got - exact) < 0.02, (got, exact)
    # grouped path: two groups, per-group stats independent
    g = df.withColumn("grp", (F.col("v") > 1.0).cast("string"))
    rows = ddsketch_drift(g, "v", "b", ["grp"]).collect()
    assert len(rows) == 2 and all(r["ks_stat"] is not None for r in rows)


def test_ddsketch_psi_zero_identical_and_large_on_shift(spark):
    import numpy as np

    from ddsketch_ruby_spark.operators.quantiles import ddsketch_psi

    vals = [float(v) for v in range(1, 300)]
    same = spark.createDataFrame(
        [(v, b) for v in vals for b in (True, False)], "v double, b boolean"
    ).repartition(5)
    r = ddsketch_psi(same, "v", "b").collect()[0]
    assert r["psi"] == 0.0  # identical buckets: every term is exactly 0
    rng = np.random.default_rng(5)
    a = rng.lognormal(0.0, 1.0, 3000)
    b = rng.lognormal(0.8, 1.0, 3000)
    df = spark.createDataFrame(
        [(float(v), False) for v in a] + [(float(v), True) for v in b],
        "v double, b boolean",
    ).repartition(8)
    drifted = ddsketch_psi(df, "v", "b").collect()[0]["psi"]
    assert drifted > 0.25  # conventional "significant shift" threshold
    # partitioning invariance (integer-sum determinism)
    again = ddsketch_psi(df.repartition(31), "v", "b").collect()[0]["psi"]
    assert again == drifted


def test_sketch_winsorize_clamps_and_reuses_bounds(spark):
    from ddsketch_ruby_spark.operators.quantiles import sketch_winsorize

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 1000])],
        "id long, v double",
    )
    out = sketch_winsorize(df, "v", lower_q=0.1, upper_q=0.9, out_col="w")
    rows = {r["id"]: r["w"] for r in out.collect()}
    assert max(rows.values()) < 1000.0  # outlier clamped
    assert min(rows.values()) >= 1.0
    # clip preserves order and interior values
    interior = [rows[i] for i in range(2, 8)]
    assert interior == sorted(interior)
    # explicit-bounds reuse path: pure scan-level, no sketch build
    fixed = sketch_winsorize(df, "v", bounds=(3.0, 7.0), out_col="w")
    got = {r["id"]: r["w"] for r in fixed.collect()}
    assert got[0] == 3.0 and got[9] == 7.0 and got[4] == 5.0
    plan = fixed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        sketch_winsorize(df, "v", lower_q=0.9, upper_q=0.1)


def test_sketch_robust_stats_accuracy_and_gate_precondition(spark):
    import numpy as np

    from ddsketch_ruby_spark.operators.quantiles import (
        ddsketch_quantiles_long,
        sketch_robust_stats,
    )

    rng = np.random.default_rng(21)
    vals = rng.lognormal(1.0, 0.7, 6000)
    df = spark.createDataFrame([(float(v),) for v in vals], "v double").repartition(6)
    r = sketch_robust_stats(df, "v").collect()[0]
    med_exact = float(np.median(vals))
    mad_exact = float(np.median(np.abs(vals - med_exact)))
    assert abs(r["median"] - med_exact) / med_exact < 0.03
    assert abs(r["mad"] - mad_exact) / mad_exact < 0.05
    # gate precondition (robust_stats_events): no event value collides
    # exactly with its group's rounded median — if the driver testdata
    # ever changes to violate this, fail HERE, not as a flaky gate
    for sf in ("0.001", "0.01"):
        ev = spark.read.parquet(f"/root/testdata/sf{sf}/events.parquet").filter(
            F.col("value") > 0
        )
        med = ddsketch_quantiles_long(
            ev, "value", ["event_type"], quantiles={"med": 0.5}
        ).select("event_type", F.col("qvalue").alias("med"))
        z = (
            ev.join(med, "event_type")
            .filter(F.abs(F.col("value") - F.col("med")) == 0.0)
            .count()
        )
        assert z == 0, f"sf{sf}: {z} exact-median collisions"
