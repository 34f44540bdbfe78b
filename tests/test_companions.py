"""Companion sketches: published error bounds + merge monoid laws, kernel
and distributed (SURVEY.md §7.5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_ruby_spark.operators.agg import sketch_agg
from ddsketch_ruby_spark.sketches.bloom import BloomSpec
from ddsketch_ruby_spark.sketches.cms import CMSSpec
from ddsketch_ruby_spark.sketches.hll import HLLSpec, hll_estimate
from ddsketch_ruby_spark.sketches.kll import KLLSpec, kll_quantile, kll_rank
from ddsketch_ruby_spark.sketches.kmv import (
    KmvSpec,
    kmv_estimate,
    kmv_intersect_stats,
)
from ddsketch_ruby_spark.sketches.tdigest import TDigestSpec, tdigest_quantile


def _hash64(values: np.ndarray, seed: int = 0) -> np.ndarray:
    """Cheap stand-in for xxhash64 in kernel-level tests."""
    x = np.asarray(values, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = (x + np.uint64(seed) + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(
            0xBF58476D1CE4E5B9
        )
        x ^= x >> np.uint64(31)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(29)
    return x.view(np.int64)


def _split_update_merge(spec, hashed, parts=7):
    chunks = np.array_split(hashed, parts)
    states = []
    for c in chunks:
        states.append(spec.update(spec.zero(), c))
    merged = spec.zero()
    for s in states:
        merged = spec.merge(merged, s)
    return merged


# ---------------------------------------------------------------- HLL
@pytest.mark.parametrize("n", [100, 5_000, 200_000])
def test_hll_error_bound(n):
    spec = HLLSpec(p=14)
    h = _hash64(np.arange(n))
    st = spec.update(spec.zero(), h)
    est = hll_estimate(st)
    # standard error 1.04/sqrt(m) ~ 0.81%; allow 4 sigma
    assert abs(est - n) / n < 4 * 1.04 / np.sqrt(1 << 14)


def test_hll_merge_equals_single_build():
    spec = HLLSpec(p=12)
    h = _hash64(np.arange(50_000) % 9_000)  # duplicates across chunks
    single = spec.update(spec.zero(), h)
    merged = _split_update_merge(spec, h)
    assert np.array_equal(single, merged)  # registers identical


def test_hll_idempotent_duplicates():
    spec = HLLSpec(p=12)
    h = _hash64(np.arange(1000))
    once = spec.update(spec.zero(), h)
    thrice = spec.update(spec.update(spec.zero(), h), np.tile(h, 2))
    assert np.array_equal(once, thrice)


# ---------------------------------------------------------------- CMS
def test_cms_one_sided_and_bounded():
    spec = CMSSpec(width=2048, depth=5)
    rng = np.random.default_rng(42)
    items = rng.zipf(1.3, size=100_000) % 10_000
    h = _hash64(items)
    st = _split_update_merge(spec, h)
    uniq, true_counts = np.unique(items, return_counts=True)
    est = spec.estimate(st, _hash64(uniq))
    assert (est >= true_counts - 1e-9).all()  # never underestimates
    # eps = e/width over total mass, 1-delta confidence; check 99.9 pct
    eps = np.e / 2048
    overshoot = est - true_counts
    assert np.quantile(overshoot, 0.999) <= eps * len(items) * 2


def test_cms_merge_equals_single_build():
    spec = CMSSpec(width=256, depth=4)
    h = _hash64(np.arange(10_000) % 500)
    single = spec.update(spec.zero(), h)
    merged = _split_update_merge(spec, h)
    assert np.array_equal(single, merged)


def test_cms_weighted():
    spec = CMSSpec(width=1024, depth=5)
    h = _hash64(np.array([7, 8]))
    st = spec.update(spec.zero(), h, np.array([3.5, 2.0]))
    est = spec.estimate(st, h)
    assert est[0] >= 3.5 and est[1] >= 2.0


# ---------------------------------------------------------------- Bloom
def test_bloom_no_false_negatives_and_fpr():
    spec = BloomSpec(expected_items=10_000, fpp=0.01)
    members = _hash64(np.arange(10_000))
    st = _split_update_merge(spec, members)
    assert spec.contains(st, members).all()
    probes = _hash64(np.arange(10_000, 60_000))
    fpr = spec.contains(st, probes).mean()
    assert fpr < 0.03  # target 1%, generous margin


def test_bloom_merge_is_union():
    spec = BloomSpec(expected_items=1000, fpp=0.01)
    a = spec.update(spec.zero(), _hash64(np.arange(0, 500)))
    b = spec.update(spec.zero(), _hash64(np.arange(500, 1000)))
    m = spec.merge(a.copy(), b)
    assert spec.contains(m, _hash64(np.arange(0, 1000))).all()


# ---------------------------------------------------------------- t-digest
@pytest.mark.parametrize("dist", ["uniform", "lognormal", "exponential"])
def test_tdigest_rank_error(dist):
    rng = np.random.default_rng(42)
    data = {
        "uniform": rng.uniform(0, 10_000, 50_000),
        "lognormal": rng.lognormal(0, 1, 50_000) * 100,
        "exponential": rng.exponential(1000, 50_000),
    }[dist]
    spec = TDigestSpec(delta=200)
    st = spec.zero()
    for chunk in np.array_split(data, 11):
        other = spec.update(spec.zero(), chunk)
        st = spec.merge(st, other)
    s = np.sort(data)
    n = len(s)
    for q in (0.01, 0.1, 0.5, 0.9, 0.99, 0.999):
        got = tdigest_quantile(st, q)
        # rank error: position of estimate within sorted data close to q*n
        rank = np.searchsorted(s, got) / n
        assert abs(rank - q) < 0.012, (q, rank)
    assert st.count == n
    assert tdigest_quantile(st, 0) == s[0]
    assert tdigest_quantile(st, 1) == s[-1]


def test_tdigest_bounded_size():
    spec = TDigestSpec(delta=100)
    st = spec.update(spec.zero(), np.random.default_rng(1).normal(0, 1, 200_000))
    assert len(st.means) <= 200  # ~delta centroids


# ---------------------------------------------------------------- KLL
def test_kll_rank_error():
    rng = np.random.default_rng(42)
    data = rng.lognormal(0, 1, 100_000) * 100
    spec = KLLSpec(k=200)
    st = spec.zero()
    for chunk in np.array_split(data, 13):
        st = spec.merge(st, spec.update(spec.zero(), chunk))
    s = np.sort(data)
    n = len(s)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        got = kll_quantile(st, q)
        rank = np.searchsorted(s, got) / n
        assert abs(rank - q) < 0.03, (q, rank)
    assert st.count == n
    # rank query consistency
    med = kll_quantile(st, 0.5)
    assert abs(kll_rank(st, med) - 0.5) < 0.03


def test_kll_bounded_memory():
    spec = KLLSpec(k=200)
    st = spec.update(spec.zero(), np.random.default_rng(0).uniform(0, 1, 500_000))
    retained = sum(len(a) for a in st.levels)
    assert retained < 3000


# ---------------------------------------------------------------- codecs
@pytest.mark.parametrize(
    "spec_fn,values",
    [
        (lambda: HLLSpec(p=10), lambda: _hash64(np.arange(1000))),
        (lambda: CMSSpec(width=128, depth=3), lambda: _hash64(np.arange(1000) % 50)),
        (lambda: BloomSpec(expected_items=500), lambda: _hash64(np.arange(500))),
        (
            lambda: TDigestSpec(delta=100),
            lambda: np.random.default_rng(3).normal(0, 1, 2000),
        ),
        (
            lambda: KLLSpec(k=100),
            lambda: np.random.default_rng(4).uniform(0, 1, 2000),
        ),
        (lambda: KmvSpec(k=64), lambda: _hash64(np.arange(1000))),
    ],
    ids=["hll", "cms", "bloom", "tdigest", "kll", "kmv"],
)
def test_codec_round_trip(spec_fn, values):
    spec = spec_fn()
    st = spec.update(spec.zero(), values())
    row = spec.state_to_row(st)
    st2 = spec.row_to_state(row)
    # states must merge identically after a codec round trip
    r1 = spec.result(spec.merge(spec.zero(), st))
    r2 = spec.result(spec.merge(spec.zero(), st2))
    for k, v in r1.items():
        v2 = r2[k]
        if isinstance(v, (bytes, int)) or v is None:
            assert v == v2, k
        elif isinstance(v, float):
            assert v == pytest.approx(v2, rel=1e-12), k
        else:
            assert np.array_equal(np.asarray(v), np.asarray(v2)), k


# ---------------------------------------------------------------- Spark
def test_hll_distributed_vs_builtin(spark, sf01_dir):
    events = spark.read.parquet(f"{sf01_dir}/events.parquet")
    hashed = events.select(
        "event_type", F.xxhash64("user_id").alias("h")
    )
    res = {
        r["event_type"]: r["approx_distinct"]
        for r in sketch_agg(hashed, HLLSpec(p=14), "h", ["event_type"]).collect()
    }
    exact = {
        r["event_type"]: r["d"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    # cross-check against Spark's built-in HLL++ too (SURVEY §2.5 distinct)
    builtin = {
        r["event_type"]: r["d"]
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("d"))
        .collect()
    }
    for et, d in exact.items():
        assert abs(res[et] - d) / d < 0.05, (et, res[et], d)
        assert abs(res[et] - builtin[et]) / d < 0.1, (et, res[et], builtin[et])


def test_tdigest_distributed(spark, sf01_dir):
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    res = sketch_agg(
        li, TDigestSpec(delta=200), "l_extendedprice", []
    ).collect()[0].asDict()
    vals = np.sort(
        np.array([r[0] for r in li.select("l_extendedprice").collect()])
    )
    n = len(vals)
    for name, q in (("q50", 0.5), ("q95", 0.95), ("q99", 0.99)):
        rank = np.searchsorted(vals, res[name]) / n
        assert abs(rank - q) < 0.01, (name, rank)


def test_kll_distributed_partition_stability(spark, sf01_dir):
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    res = sketch_agg(
        li.repartition(16), KLLSpec(k=200), "l_quantity", []
    ).collect()[0].asDict()
    assert res["count"] == li.count()
    vals = np.sort(np.array([r[0] for r in li.select("l_quantity").collect()]))
    rank = np.searchsorted(vals, res["q50"], side="right") / len(vals)
    assert abs(rank - 0.5) < 0.05


def test_hll_overlap_accuracy(spark, sf01_dir):
    """Pairwise inclusion-exclusion estimates track the exact overlap
    within the combined estimator error (~3 x 0.8% standard error at
    p=14, so a generous 5% of the union)."""
    from ddsketch_ruby_spark.operators.frequency import hll_overlap

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    hashed = ev.select("event_type", F.xxhash64("user_id").alias("h"))
    got = {
        (r["type_a"], r["type_b"]): r
        for r in hll_overlap(hashed, "h", "event_type").collect()
    }
    types = sorted(t["event_type"] for t in ev.select("event_type").distinct().collect())
    assert set(got) == {
        (a, b) for i, a in enumerate(types) for b in types[i + 1 :]
    }
    exact_sets = {
        t: {
            r["user_id"]
            for r in ev.filter(F.col("event_type") == t)
            .select("user_id")
            .distinct()
            .collect()
        }
        for t in types
    }
    for (ta, tb), r in got.items():
        A, B = exact_sets[ta], exact_sets[tb]
        union = len(A | B)
        assert abs(r["est_union"] - union) <= 0.05 * union
        assert abs(r["est_intersect"] - len(A & B)) <= 0.05 * union
        # union estimate never below either side (register max dominates)
        assert r["est_union"] >= max(r["est_a"], r["est_b"]) - 1e-9


def test_hll_overlap_disjoint_clamps_at_zero(spark):
    """Disjoint sets: inclusion-exclusion may dip negative; the operator
    clamps est_intersect at 0."""
    from ddsketch_ruby_spark.operators.frequency import hll_overlap

    df = spark.createDataFrame(
        [("a", i) for i in range(2000)] + [("b", 100000 + i) for i in range(2000)],
        "grp string, uid long",
    )
    hashed = df.select("grp", F.xxhash64("uid").alias("h"))
    (row,) = hll_overlap(hashed, "h", "grp").collect()
    assert row["est_intersect"] >= 0.0
    assert row["est_intersect"] <= 0.03 * 4000  # near-zero overlap estimate


# ---------------------------------------------------------------- KMV
@pytest.mark.parametrize("n", [100, 5_000, 200_000])
def test_kmv_error_bound(n):
    spec = KmvSpec(k=256)
    st = spec.update(spec.zero(), _hash64(np.arange(n)))
    est = kmv_estimate(st, spec.k)
    if n < spec.k:
        assert est == float(n)  # exact small-set path
    else:
        # relative standard error ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
        assert abs(est - n) / n < 4 / np.sqrt(spec.k - 2)


def test_kmv_state_is_partitioning_invariant():
    """The state is a pure function of the distinct-hash SET: any chunking,
    any order, duplicates anywhere — identical sorted minima array."""
    spec = KmvSpec(k=128)
    h = _hash64(np.arange(50_000) % 9_000)
    single = spec.update(spec.zero(), h)
    merged = _split_update_merge(spec, h)
    reversed_ = _split_update_merge(spec, h[::-1], parts=13)
    assert np.array_equal(single, merged)
    assert np.array_equal(single, reversed_)
    assert len(single) == 128 and np.all(np.diff(single.view(np.uint64)) > 0)


def test_kmv_intersect_tracks_exact_jaccard():
    rng = np.random.default_rng(11)
    vals = rng.integers(0, 2**62, 30_000, dtype=np.int64)
    A, B = vals[:20_000], vals[10_000:]  # ~1/3 Jaccard
    spec = KmvSpec(k=512)
    sa = spec.update(spec.zero(), _hash64(A))
    sb = spec.update(spec.zero(), _hash64(B))
    est_u, jac, est_i = kmv_intersect_stats(sa, sb, spec.k)
    ua, ub = set(A.tolist()), set(B.tolist())
    true_u, true_i = len(ua | ub), len(ua & ub)
    true_j = true_i / true_u
    # Jaccard sample of size k: std ~ sqrt(J(1-J)/k); 4 sigma
    tol = 4 * np.sqrt(true_j * (1 - true_j) / spec.k)
    assert abs(jac - true_j) < tol
    assert abs(est_u - true_u) / true_u < 4 / np.sqrt(spec.k - 2)
    assert abs(est_i - true_i) / true_u < tol + 4 / np.sqrt(spec.k - 2)


def test_kmv_distributed_matches_kernel(spark, sf01_dir):
    """sketch_agg over any partitioning reproduces the kernel state built
    from the same JVM hashes — estimates are bit-identical."""
    from ddsketch_ruby_spark.sketches.kmv import kmv_union

    events = spark.read.parquet(f"{sf01_dir}/events.parquet")
    hashed = events.select("event_type", F.xxhash64("user_id").alias("h"))
    spec = KmvSpec(k=64)
    for parts in (1, 7):
        res = {
            r["event_type"]: r["approx_distinct"]
            for r in sketch_agg(
                hashed.repartition(parts), spec, "h", ["event_type"]
            ).collect()
        }
        pdf = hashed.toPandas()
        for t, grp in pdf.groupby("event_type"):
            st = spec.update(spec.zero(), grp["h"].to_numpy())
            assert res[t] == kmv_estimate(st, spec.k), (t, parts)
    # kmv_union of two sub-states equals the state of the union
    h = pdf["h"].to_numpy()
    full = spec.update(spec.zero(), h)
    u = kmv_union(
        spec.update(spec.zero(), h[: len(h) // 2]),
        spec.update(spec.zero(), h[len(h) // 2 :]),
        spec.k,
    )
    assert np.array_equal(full, u)


def test_kmv_overlap_disjoint_and_identical(spark):
    from ddsketch_ruby_spark.operators.frequency import kmv_overlap

    df = spark.createDataFrame(
        [("a", i) for i in range(3000)]
        + [("b", 1_000_000 + i) for i in range(3000)]
        + [("c", i) for i in range(3000)],
        "grp string, uid long",
    )
    hashed = df.select("grp", F.xxhash64("uid").alias("h"))
    got = {
        (r["type_a"], r["type_b"]): r
        for r in kmv_overlap(hashed, "h", "grp", k=128).collect()
    }
    ab = got[("a", "b")]
    assert ab["jaccard"] == 0.0 and ab["est_intersect"] == 0.0
    ac = got[("a", "c")]  # identical sets: sketch-exact Jaccard 1
    assert ac["jaccard"] == 1.0
    assert ac["est_intersect"] == ac["est_union"]
    assert ac["est_a"] == ac["est_b"] == ac["est_union"]


# ---------------------------------------------------------------- Misra-Gries


def test_mg_guarantee_any_order():
    """The PODS-2012 merge rule keeps the n/(k+1) guarantee under any
    partitioning and merge order: est <= true, deficit*(k+1) <= n, every
    item above threshold tracked, d within the published bound."""
    import collections

    from ddsketch_ruby_spark.sketches.mg import MGSpec

    rng = np.random.default_rng(7)
    items = rng.zipf(1.3, 100000)
    items = items[items < 5000].astype(np.int64)
    spec = MGSpec(k=24)
    exact = collections.Counter(items.tolist())
    n = len(items)
    for nparts in (1, 5, 33):
        states = []
        for p in np.array_split(items, nparts):
            s = spec.zero()
            s = spec.update(s, p)
            states.append(s)
        rng.shuffle(states)
        m = states[0]
        for s in states[1:]:
            m = spec.merge(m, s)
        assert m.n == n
        assert len(m.items) <= spec.k
        assert m.d * (spec.k + 1) <= n
        est = dict(zip(m.items.tolist(), m.counts.tolist()))
        for it, c in exact.items():
            e = est.get(it, 0)
            assert e <= c
            assert (c - e) * (spec.k + 1) <= n
            if c * (spec.k + 1) > n:
                assert it in est, ("guaranteed item missing", it, c)


def test_mg_weighted_and_validation():
    from ddsketch_ruby_spark.sketches.mg import MGSpec

    spec = MGSpec(k=4)
    s = spec.zero()
    s = spec.update(
        s,
        np.array([1, 2, 3], dtype=np.int64),
        np.array([10, 5, 1], dtype=np.int64),
    )
    est = dict(zip(s.items.tolist(), s.counts.tolist()))
    assert est == {1: 10, 2: 5, 3: 1} and s.n == 16 and s.d == 0
    with pytest.raises(ValueError):
        spec.update(spec.zero(), np.array([1]), np.array([0.5]))
    with pytest.raises(ValueError):
        spec.update(spec.zero(), np.array([1]), np.array([-2]))
    with pytest.raises(ValueError):
        MGSpec(k=0)


def test_mg_compact_exactly_when_under_k():
    """With distinct items <= k the summary IS the exact wordcount —
    no decrement ever fires, d stays 0."""
    import collections

    from ddsketch_ruby_spark.sketches.mg import MGSpec

    rng = np.random.default_rng(3)
    items = rng.integers(0, 20, 5000).astype(np.int64)
    spec = MGSpec(k=20)
    a, b = np.array_split(items, 2)
    sa = spec.update(spec.zero(), a)
    sb = spec.update(spec.zero(), b)
    m = spec.merge(sa, sb)
    assert m.d == 0
    est = dict(zip(m.items.tolist(), m.counts.tolist()))
    assert est == dict(collections.Counter(items.tolist()))


def test_mg_merge_of_emptied_states():
    """A compaction where every count ties the pivot empties the state;
    merging such states keeps n and d and stays empty."""
    from ddsketch_ruby_spark.sketches.mg import MGSpec

    spec = MGSpec(k=1)
    zero = spec.zero()
    emptied = spec.update(zero, np.array([1, 2], dtype=np.int64))
    assert len(emptied.items) == 0 and (emptied.n, emptied.d) == (2, 1)
    m = spec.merge(spec.merge(zero, emptied), emptied)
    assert (m.n, m.d) == (4, 2)
    assert len(m.items) == len(m.counts) == 0


def test_mg_distributed_heavy_hitters(spark, sf01_dir):
    from ddsketch_ruby_spark.operators.frequency import heavy_hitters

    events = spark.read.parquet(f"{sf01_dir}/events.parquet")
    k = 12
    items = events.select(
        "event_type",
        (F.col("event_id") % (F.lit(1) + F.col("event_id") % F.lit(32))).alias("item"),
    )
    hh = heavy_hitters(items, "item", k=k, group_by=["event_type"])
    got = hh.collect()
    exact = {
        (r["event_type"], r["item"]): r["c"]
        for r in items.groupBy("event_type", "item").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n_by = {}
    for (et, _), c in exact.items():
        n_by[et] = n_by.get(et, 0) + c
    by_group = {}
    for r in got:
        assert r["n"] == n_by[r["event_type"]]
        c = exact[(r["event_type"], r["item"])]
        assert r["est"] <= c
        assert (c - r["est"]) * (k + 1) <= r["n"]
        assert r["err_bound"] * (k + 1) <= r["n"]
        by_group.setdefault(r["event_type"], set()).add(r["item"])
        assert len(by_group[r["event_type"]]) <= k
    # recall guarantee per group
    for (et, it), c in exact.items():
        if c * (k + 1) > n_by[et]:
            assert it in by_group[et], (et, it, c)


def test_mg_codec_round_trip():
    from ddsketch_ruby_spark.sketches.mg import MGSpec

    spec = MGSpec(k=8)
    s = spec.update(
        spec.zero(), np.arange(100, dtype=np.int64) % 13
    )
    r = spec.state_to_row(s)
    s2 = spec.row_to_state(r)
    assert (s2.items == s.items).all()
    assert (s2.counts == s.counts).all()
    assert (s2.n, s2.d) == (s.n, s.d)
