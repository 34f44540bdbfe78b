"""Property-based tests (hypothesis): the invariants the reference pins by
example, asserted over generated inputs — clamp-oracle equivalence for
collapsing stores, merge monoid laws, quantile accuracy bound, HLL/CMS/
Bloom merge laws."""

import math
from collections import Counter

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ddsketch_ruby_spark.kernel import (
    COLLAPSE_HIGHEST,
    COLLAPSE_LOWEST,
    DDSketch,
    Store,
)

KEYS = st.lists(st.integers(min_value=-(10**6), max_value=10**6), min_size=1, max_size=200)
BIN_LIMITS = st.integers(min_value=1, max_value=64)


@settings(max_examples=60, deadline=None)
@given(keys=KEYS, bin_limit=BIN_LIMITS, lowest=st.booleans())
def test_collapsing_store_equals_clamp_oracle(keys, bin_limit, lowest):
    mode = COLLAPSE_LOWEST if lowest else COLLAPSE_HIGHEST
    store = Store(mode, bin_limit)
    store.add_batch(np.array(keys, dtype=np.int64))
    if lowest:
        floor = max(keys) - bin_limit + 1
        clamped = [max(floor, k) for k in keys]
    else:
        ceil = min(keys) + bin_limit - 1
        clamped = [min(ceil, k) for k in keys]
    assert store.key_counts() == {
        k: float(c) for k, c in Counter(clamped).items()
    }
    assert store.count == len(keys)


@settings(max_examples=40, deadline=None)
@given(
    keys=KEYS,
    bin_limit=BIN_LIMITS,
    cut=st.integers(min_value=0, max_value=199),
    lowest=st.booleans(),
)
def test_store_merge_equals_single_build(keys, bin_limit, cut, lowest):
    mode = COLLAPSE_LOWEST if lowest else COLLAPSE_HIGHEST
    cut = min(cut, len(keys))
    a = Store(mode, bin_limit)
    b = Store(mode, bin_limit)
    if keys[:cut]:
        a.add_batch(np.array(keys[:cut], dtype=np.int64))
    if keys[cut:]:
        b.add_batch(np.array(keys[cut:], dtype=np.int64))
    a.merge(b)
    single = Store(mode, bin_limit)
    single.add_batch(np.array(keys, dtype=np.int64))
    assert a.key_counts() == single.key_counts()


_VALUES = st.lists(
    st.floats(
        min_value=-1e12,
        max_value=1e12,
        allow_nan=False,
        allow_infinity=False,
    ),
    min_size=1,
    max_size=300,
)


@settings(max_examples=40, deadline=None)
@given(values=_VALUES, alpha=st.sampled_from([0.01, 0.05, 0.2]))
def test_quantile_accuracy_bound_holds(values, alpha):
    sketch = DDSketch.unbounded(alpha)
    sketch.add_batch(np.array(values))
    s = sorted(values)
    for q in (0.0, 0.25, 0.5, 0.9, 1.0):
        got = sketch.get_quantile_value(q)
        want = s[int(q * (len(s) - 1))]
        assert abs(got - want) - alpha * abs(want) <= 1e-15


@settings(max_examples=30, deadline=None)
@given(values=_VALUES, splits=st.integers(min_value=1, max_value=7))
def test_merge_partition_invariance(values, splits):
    arr = np.array(values)
    whole = DDSketch.unbounded(0.02)
    whole.add_batch(arr)
    merged = DDSketch.unbounded(0.02)
    for chunk in np.array_split(arr, splits):
        if len(chunk) == 0:
            continue
        part = DDSketch.unbounded(0.02)
        part.add_batch(chunk)
        merged.merge(part)
    assert merged.store.key_counts() == whole.store.key_counts()
    assert merged.negative_store.key_counts() == whole.negative_store.key_counts()
    assert merged.zero_count == whole.zero_count
    assert merged.count == whole.count
    assert merged.min == whole.min and merged.max == whole.max


@settings(max_examples=30, deadline=None)
@given(
    items=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=500),
    splits=st.integers(min_value=1, max_value=5),
)
def test_hll_merge_register_identity(items, splits):
    from ddsketch_ruby_spark.sketches.hll import HLLSpec

    spec = HLLSpec(p=8)
    h = np.array(items, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    h = h.view(np.int64)
    whole = spec.update(spec.zero(), h)
    merged = spec.zero()
    for chunk in np.array_split(h, splits):
        if len(chunk):
            merged = spec.merge(merged, spec.update(spec.zero(), chunk))
    assert np.array_equal(whole, merged)


@settings(max_examples=20, deadline=None)
@given(
    proto_roundtrip=st.lists(
        st.floats(min_value=1e-6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=100,
    )
)
def test_proto_round_trip_property(proto_roundtrip):
    from ddsketch_ruby_spark.kernel.proto import (
        deserialize_sketch,
        serialize_sketch,
    )

    s = DDSketch.unbounded(0.05)
    s.add_batch(np.array(proto_roundtrip))
    back = deserialize_sketch(serialize_sketch(s))
    assert back.store.key_counts() == s.store.key_counts()
    assert math.isclose(back.mapping.gamma, s.mapping.gamma, rel_tol=1e-12)


@settings(max_examples=12, deadline=None)
@given(
    vals=st.lists(
        st.floats(
            min_value=1e-280,
            max_value=1e280,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=60,
    ),
    mapping=st.sampled_from(["logarithmic", "linear", "cubic"]),
    offset=st.sampled_from([0.0, 3.0, -12.23, 7768.3]),
)
def test_jvm_key_expr_matches_kernel_property(spark, vals, mapping, offset):
    """Hypothesis depth on top of the fixed adversarial grid
    (test_spark_ddsketch.test_jvm_keys_bit_match_kernel): the SQL key
    expression must equal kernel key_batch bit-for-bit on arbitrary
    positive doubles, for every mapping and for integral AND fractional
    index offsets (the fractional ones are the reference spec sweep values,
    shared_context_for_mapping.rb:70-78; Ruby Integer() = trunc toward
    zero)."""
    from pyspark.sql import functions as F

    from ddsketch_ruby_spark.kernel.mapping import mapping_from_name
    from ddsketch_ruby_spark.operators.ddsketch_jvm import key_column

    m = mapping_from_name(mapping, 0.01, offset)
    arr = np.array(vals, dtype=np.float64)
    df = spark.createDataFrame([(float(v),) for v in arr], "v double")
    got = {
        float(r.v): int(r.k)
        for r in df.select("v", key_column(m, F.col("v")).alias("k")).collect()
    }
    kern = {float(v): int(k) for v, k in zip(arr, m.key_batch(arr))}
    assert got == kern


@settings(max_examples=40, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            max_size=120,
        ),
        min_size=1,
        max_size=12,
    ),
    H=st.sampled_from([8, 64, 100]),
)
def test_batched_oph_equals_per_doc_reference(texts, H):
    """The Arrow-batch-vectorized OPH kernel (flat rolling hash over
    concatenated bytes, doc-offset bins) must be value-identical to a
    naive per-document implementation for arbitrary texts — including
    empty, shorter-than-shingle, and non-ASCII ones — and for power-of-two
    and non-power-of-two bin counts."""
    import pandas as pd

    from ddsketch_ruby_spark.operators.dedup import _oph_batch, _shingle_hashes

    W, seed = 5, 42

    def per_doc(t):
        sh = _shingle_hashes(t or "", W, unique=False)
        mix = np.uint64(seed * 2 + 1)
        with np.errstate(over="ignore"):
            h = sh * mix
        bins = (h % np.uint64(H)).astype(np.int64)
        vals = (h >> np.uint64(1)).astype(np.int64)
        sig = np.full(H, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(sig, bins, vals)
        empty = sig == np.iinfo(np.int64).max
        if empty.any():
            fi = np.flatnonzero(~empty)
            if len(fi) == 0:
                sig[:] = 0
            else:
                pos = np.searchsorted(fi, np.flatnonzero(empty)) % len(fi)
                sig[empty] = sig[fi[pos]]
        return sig

    got = _oph_batch(pd.Series(texts), H, W, seed)
    for g, t in zip(got, texts):
        assert np.array_equal(g, per_doc(t)), t


@settings(max_examples=40, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            max_size=120,
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_batched_simhash_equals_per_doc_reference(texts):
    """The Arrow-batch-vectorized SimHash kernel (one concatenated rolling
    hash + one lexsort distinct + 64 segment-reduced bit votes) must be
    bit-identical to a naive per-document implementation — including for
    empty, shorter-than-shingle, and non-ASCII texts."""
    import pandas as pd

    from ddsketch_ruby_spark.operators.dedup import (
        _shingle_hashes,
        _simhash_batch,
    )

    W = 4

    def per_doc(t):
        bits = np.arange(64, dtype=np.uint64)
        sh = _shingle_hashes(t or "", W)
        votes = ((sh[:, None] >> bits[None, :]) & np.uint64(1)).sum(axis=0)
        majority = votes * 2 >= len(sh)
        fp = int((np.uint64(1) << bits)[majority].sum(dtype=np.uint64))
        return fp - (1 << 64) if fp >= (1 << 63) else fp

    got = _simhash_batch(pd.Series(texts), W)
    assert len(got) == len(texts)
    for g, t in zip(got, texts):
        assert int(g) == per_doc(t), t


@settings(max_examples=40, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            max_size=120,
        ),
        min_size=2,
        max_size=10,
    ),
)
def test_searchsorted_pair_intersection_equals_intersect1d(texts):
    """The searchsorted pair-intersection kernel used by
    ngram_jaccard_pairs' verify stage (precomputed sorted distinct sets,
    int64 wire view restored to uint64 order) must equal np.intersect1d
    on freshly shingled sets for every pair of docs."""
    import pandas as pd

    from ddsketch_ruby_spark.operators.dedup import (
        _batch_window_hashes,
        _per_doc_unique,
        _shingle_hashes,
    )

    W = 5
    hv, doc_of, n = _batch_window_hashes(pd.Series(texts), W)
    hs, ds, _ = _per_doc_unique(hv, doc_of, None, with_counts=False)
    # the wire representation the verify stage receives from Arrow
    splits = np.split(
        hs.view(np.int64), np.cumsum(np.bincount(ds, minlength=n))[:-1]
    )
    for i in range(n):
        for j in range(i + 1, n):
            av = np.asarray(splits[i], dtype=np.int64).view(np.uint64)
            bv = np.asarray(splits[j], dtype=np.int64).view(np.uint64)
            if len(av) > len(bv):
                av, bv = bv, av
            got_c = int(
                np.count_nonzero(
                    np.searchsorted(bv, av, side="left")
                    != np.searchsorted(bv, av, side="right")
                )
            )
            ref_a = _shingle_hashes(texts[i] or "", W)
            ref_b = _shingle_hashes(texts[j] or "", W)
            ref_c = len(np.intersect1d(ref_a, ref_b, assume_unique=True))
            assert got_c == ref_c, (i, j)
