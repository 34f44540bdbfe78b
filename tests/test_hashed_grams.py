"""Parity pins for the Arrow hashed-gram mode (grams="hashed") of
decontaminate / duplicate_spans: the string-gram plan stays the semantic
oracle; the hashed plan must produce identical flags/stats (collisions at
2^-64/pair are out of reach of any test corpus). Also pins the kernel
itself: _batch_word_gram_hashes must tokenize exactly like
F.split(col, " ") + filter-nonempty (single-SPACE separator — tabs and
newlines stay inside words), emit grams in document order, hash equal
grams equal across batches and chunk boundaries, and stay injective on a
realistic gram sample."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import ddsketch_ruby_spark.operators.dedup as dd
from ddsketch_ruby_spark.operators.dedup import (
    _batch_word_gram_hashes,
    _per_doc_unique,
    decontaminate,
    duplicate_spans,
)

TRICKY_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "  the   quick brown fox "),  # leading/multi/trailing spaces
    (3, ""),  # empty doc
    (4, "one two"),  # shorter than any tested n
    (5, "tab\tseparated stays one-word token here really"),
    (6, "unicode héllo wörld grams are fine too yes"),
    (7, "a b c a b c a b c"),  # within-doc repeats
    (8, "the quick brown fox appears here too now"),
]


def _i64(h) -> int:
    # bit-reinterpret uint64 -> int64, same as the kernel's .view(np.int64);
    # int(np.int64(np.uint64(h))) wraps on numpy 1.x but raises
    # OverflowError on numpy >= 2 for hashes with the top bit set
    return int(np.uint64(h).view(np.int64))


def _str_grams(text: str, n: int) -> list[str]:
    ws = [w for w in text.split(" ") if w]
    return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]


def test_kernel_matches_string_gram_semantics():
    texts = [t for _, t in TRICKY_DOCS]
    for n in (1, 3, 4):
        gh, doc_of, nd = _batch_word_gram_hashes(texts, n)
        assert nd == len(texts)
        counts = np.bincount(doc_of, minlength=nd).tolist()
        assert counts == [len(_str_grams(t, n)) for t in texts]
        # equal string grams <-> equal hashes, in document order
        seen: dict[str, int] = {}
        for di, t in enumerate(texts):
            for g, h in zip(_str_grams(t, n), gh[doc_of == di]):
                assert seen.setdefault(g, int(h)) == int(h)
        # injective on the sample (a collision here would be a 2^-64 event)
        assert len(set(seen.values())) == len(seen)


def test_kernel_chunk_and_batch_invariance(monkeypatch):
    texts = [t for _, t in TRICKY_DOCS] * 3
    gh, doc_of, _ = _batch_word_gram_hashes(texts, 3)
    monkeypatch.setattr(dd, "_GRAM_CHUNK_BYTES", 16)
    gh2, doc_of2, _ = _batch_word_gram_hashes(texts, 3)
    assert np.array_equal(gh, gh2) and np.array_equal(doc_of, doc_of2)


def test_kernel_edge_inputs():
    for texts in ([], ["", "   ", None], ["a b"],):
        gh, doc_of, nd = _batch_word_gram_hashes(texts, 3)
        assert nd == len(texts) and len(gh) == 0 and len(doc_of) == 0
    with pytest.raises(ValueError):
        _batch_word_gram_hashes(["a b c"], 0)


# adversarial alphabet: the 0x20 separator, NUL (zero byte — weightless
# under a raw-byte polynomial), tab/newline (stay INSIDE words), a
# multibyte codepoint, and lookalike ascii
_GRAM_ALPHABET = st.sampled_from(list(" \x00\t\nabé"))
_GRAM_DOCS = st.lists(
    st.text(alphabet=_GRAM_ALPHABET, max_size=24), min_size=1, max_size=8
)


@settings(max_examples=120, deadline=None)
@given(texts=_GRAM_DOCS, n=st.integers(min_value=1, max_value=4))
def test_kernel_string_parity_fuzz(texts, n):
    # equal string grams <-> equal hashes on arbitrary adversarial docs;
    # distinct grams never collide on a sample this small (2^-64/pair)
    gh, doc_of, nd = _batch_word_gram_hashes(texts, n)
    assert nd == len(texts)
    counts = np.bincount(doc_of, minlength=nd).tolist()
    assert counts == [len(_str_grams(t, n)) for t in texts]
    seen: dict[str, int] = {}
    for di, t in enumerate(texts):
        for g, h in zip(_str_grams(t, n), gh[doc_of == di]):
            assert seen.setdefault(g, int(h)) == int(h)
    assert len(set(seen.values())) == len(seen)


def test_kernel_trailing_nul_words_distinct():
    # the word polynomial runs over (byte+1): a raw-byte polynomial gives
    # trailing NUL bytes zero weight, hashing 'a\x00' equal to 'a' — a
    # DETERMINISTIC collision between words F.split treats as distinct
    gh_nul, _, _ = _batch_word_gram_hashes(["a\x00 b"], 1)
    gh_raw, _, _ = _batch_word_gram_hashes(["a b"], 1)
    assert int(gh_nul[0]) != int(gh_raw[0])  # 'a\x00' != 'a'
    assert int(gh_nul[1]) == int(gh_raw[1])  # shared word 'b' still equal
    g2_nul, _, _ = _batch_word_gram_hashes(["a\x00 b"], 2)
    g2_raw, _, _ = _batch_word_gram_hashes(["a b"], 2)
    assert int(g2_nul[0]) != int(g2_raw[0])  # and the grams differ too


def test_distinct_counts_per_doc():
    gh, doc_of, nd = _batch_word_gram_hashes(
        ["a b c a b c a b c", "", "x y z"], 3
    )
    hs, ds, cs = _per_doc_unique(gh, doc_of, nd, with_counts=True)
    # doc 0: grams {a b c: 3, b c a: 2, c a b: 2}; doc 1 empty; doc 2 one
    assert sorted(cs[ds == 0].tolist()) == [2, 2, 3]
    assert (ds == 1).sum() == 0
    assert cs[ds == 2].tolist() == [1]
    # hashes are distinct within a doc (unique semantics)
    assert len(np.unique(hs[ds == 0])) == 3


def test_decontaminate_hashed_parity(spark):
    docs = spark.createDataFrame(
        TRICKY_DOCS, "doc_id long, text string"
    ).repartition(5)
    bench = spark.createDataFrame(
        [(100, "witnesses said the quick brown fox jumps at dawn")],
        "doc_id long, text string",
    )
    for n in (3, 4):
        want = {
            r["doc_id"]: r["contaminated"]
            for r in decontaminate(docs, bench, "text", "doc_id", n=n).collect()
        }
        for broadcast in (True, False):
            got = {
                r["doc_id"]: r["contaminated"]
                for r in decontaminate(
                    docs, bench, "text", "doc_id", n=n,
                    broadcast=broadcast, grams="hashed",
                ).collect()
            }
            assert got == want, (n, broadcast)
    # sanity: the parity corpus exercises both outcomes
    assert set(want.values()) == {True, False}
    with pytest.raises(ValueError):
        decontaminate(docs, bench, "text", "doc_id", grams="sketchy")


def test_duplicate_spans_hashed_parity(spark):
    docs = spark.createDataFrame(
        TRICKY_DOCS + [(9, "x y z w u x y z w v"), (10, "q r x y z w k")],
        "doc_id long, text string",
    ).repartition(3)
    n = 3
    string_rows = duplicate_spans(
        docs, "text", "doc_id", n=n, min_docs=2
    ).collect()
    hashed_rows = duplicate_spans(
        docs, "text", "doc_id", n=n, min_docs=2,
        keep_span=False, grams="hashed",
    ).collect()
    # map every string span to its kernel hash (a span has exactly n words
    # -> exactly one gram) and demand EXACT table equality, not just a
    # stats multiset match
    spans = [r["span"] for r in string_rows]
    gh, doc_of, _ = _batch_word_gram_hashes(spans, n)
    assert len(gh) == len(spans)
    want = {
        _i64(h): (r["n_docs"], r["n_occurrences"], r["first_id"])
        for h, r in zip(gh, string_rows)
    }
    got = {
        r["span"]: (r["n_docs"], r["n_occurrences"], r["first_id"])
        for r in hashed_rows
    }
    assert got == want and len(want) == len(string_rows)
    with pytest.raises(ValueError):
        duplicate_spans(docs, "text", "doc_id", grams="hashed")  # keep_span=True
    with pytest.raises(ValueError):
        duplicate_spans(docs, "text", "doc_id", grams="sketchy")


def test_duplicate_spans_hashed_multirow_docs(spark):
    # a doc_id split across TWO df rows counts as ONE document in n_docs:
    # the kernel's pre-rollup is per input ROW, so the hashed path must
    # finish it with the same (span, id) aggregation the string engine
    # runs — without it, "x y z" below would report n_docs=3, passing
    # min_docs thresholds the string engine (correctly) applies per doc
    rows = [
        (1, "x y z tail one"),
        (1, "x y z tail two"),  # same doc id, second row
        (2, "x y z other text"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).repartition(3)
    n = 3
    string_rows = duplicate_spans(
        docs, "text", "doc_id", n=n, min_docs=2
    ).collect()
    hashed_rows = duplicate_spans(
        docs, "text", "doc_id", n=n, min_docs=2,
        keep_span=False, grams="hashed",
    ).collect()
    spans = [r["span"] for r in string_rows]
    gh, _, _ = _batch_word_gram_hashes(spans, n)
    want = {
        _i64(h): (
            r["n_docs"], r["n_occurrences"], r["first_id"]
        )
        for h, r in zip(gh, string_rows)
    }
    got = {
        r["span"]: (r["n_docs"], r["n_occurrences"], r["first_id"])
        for r in hashed_rows
    }
    assert got == want
    assert want[_i64(gh[spans.index("x y z")])] == (
        2, 3, 1
    )


def test_hashed_gram_rows_plan_is_thin(spark):
    # the corpus side must scan only (id, text) and emit 8-byte gram keys;
    # the flag rejoin shuffles ids only — document text never shuffles
    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(40)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(999, "w10 w11 w12 w13 w14 w15")], "doc_id long, text string"
    )
    out = decontaminate(docs, bench, "text", "doc_id", n=4, grams="hashed")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    flags = {r["doc_id"]: r["contaminated"] for r in out.collect()}
    assert {d for d, f in flags.items() if f} == {9, 10, 11, 12}
