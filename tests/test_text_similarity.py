"""Text-analysis column functions + similarity search + near-dup operators."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_ruby_spark.functions.text import (
    avg_token_len,
    digit_ratio,
    doc_fingerprint,
    lang_id,
    quality_score,
    stopword_ratio,
    token_count,
)
from ddsketch_ruby_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
    simhash_near_dup_pairs,
)
from ddsketch_ruby_spark.operators.similarity import cosine_topk, ivf_topk, lsh_topk


@pytest.fixture(scope="module")
def textdf(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different content about spark sketches"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "der hund und die katze das ist gut und der baum"),
        (6, "abc123 456 789 000 111"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count_and_ratios(spark, textdf):
    r = {
        x["doc_id"]: x.asDict()
        for x in textdf.select(
            "doc_id",
            token_count("text"),
            avg_token_len("text"),
            stopword_ratio("text"),
            digit_ratio("text"),
            quality_score("text"),
        ).collect()
    }
    assert r[1]["token_count"] == 9
    assert r[1]["avg_token_len"] == pytest.approx(35 / 9)  # 35 letters, 9 tokens
    assert r[1]["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' twice
    assert r[6]["digit_ratio"] > 0.5
    assert 0 <= r[3]["quality_score"] <= 1


def test_lang_id(spark, textdf):
    r = {
        x["doc_id"]: x["lang_pred"]
        for x in textdf.select("doc_id", lang_id("text")).collect()
    }
    assert r[1] == "en"
    assert r[5] == "de"
    assert r[6] == "und"  # no markers


def test_lang_id_confusion_12_languages(spark):
    """Confusion check over the full 12-language marker table: a
    synthetic sentence stuffed with each language's own markers (plus
    neutral filler shared across all rows) must be classified as that
    language — no off-diagonal winners despite cross-language token
    overlap — and a marker-free row stays 'und'."""
    from ddsketch_ruby_spark.functions.text import _LANG_MARKERS

    filler = "zebra quark nimbus vortex"
    rows = [
        (lang, f"{filler} {' '.join(words)} {' '.join(words)} {filler}")
        for lang, words in sorted(_LANG_MARKERS.items())
    ]
    rows.append(("und", filler))
    df = spark.createDataFrame(rows, "expected string, text string")
    got = df.select("expected", lang_id("text")).collect()
    confusion = {r["expected"]: r["lang_pred"] for r in got}
    assert confusion == {lang: lang for lang, _ in rows}, confusion
    assert len(_LANG_MARKERS) == 12


def test_fingerprint_deterministic(spark, textdf):
    a = textdf.select("doc_id", doc_fingerprint("text")).collect()
    b = textdf.select("doc_id", doc_fingerprint("text")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    fp = {x["doc_id"]: x["fingerprint"] for x in a}
    assert fp[1] == fp[4]  # identical text -> identical fingerprint
    assert fp[1] != fp[2]


def test_exact_dedup(spark, textdf):
    out = {
        r["doc_id"]: r["dup_count"]
        for r in exact_dedup(textdf, ["text"], "doc_id").collect()
    }
    assert out[1] == 2  # docs 1 and 4 collapse, min id kept
    assert 4 not in out
    hashed = {
        r["doc_id"]: r["dup_count"]
        for r in exact_dedup(textdf, ["text"], "doc_id", hash_key=True).collect()
    }
    assert hashed == out


def test_minhash_lsh_finds_near_dups(spark, textdf):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            textdf, "text", "doc_id", num_hashes=64, bands=16
        ).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5  # near dup
    assert (1, 3) not in pairs or pairs[(1, 3)] < 0.2


def test_minhash_signature_stable_across_partitions(spark, textdf):
    a = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(textdf, "text", "doc_id", 32).collect()}
    b = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(
            textdf.repartition(5), "text", "doc_id", 32
        ).collect()
    }
    assert a == b


def test_ngram_jaccard_exact(spark, textdf):
    from ddsketch_ruby_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            textdf, "text", "doc_id", shingle=5, min_jaccard=0.5,
            num_hashes=64, bands=32,
        ).collect()
    }
    assert pairs[(1, 4)] == 1.0  # identical text: exact jaccard 1
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert (1, 3) not in pairs


def test_cosine_near_dup_pairs(spark, planted):
    from ddsketch_ruby_spark.operators.dedup import cosine_near_dup_pairs

    df, query, rows = planted
    got = cosine_near_dup_pairs(
        df, "embedding", "vec_id", min_cosine=0.85, n_planes=6, dim=32
    ).collect()
    planted_ids = {r[0] for r in rows if r[0] >= 1000}
    hit_pairs = [
        (r["id_a"], r["id_b"])
        for r in got
        if r["id_a"] in planted_ids and r["id_b"] in planted_ids
    ]
    # 8 planted near-dups of one vector -> 28 true pairs; single-bucket LSH
    # at 6 planes collides ~half of them
    assert len(hit_pairs) >= 8
    assert all(r["cosine"] >= 0.85 for r in got)


def test_simhash_near_dups_close(spark, textdf):
    fps = {r["doc_id"]: r["simhash"] for r in simhash(textdf, "text", "doc_id").collect()}
    assert fps[1] == fps[4]
    ham_near = bin(fps[1] ^ fps[2]).count("1")
    ham_far = bin(fps[1] ^ fps[3]).count("1")
    assert ham_near < ham_far


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _exact_topk(emb_rows, query, k):
    q = np.array(query, dtype=np.float64)
    sims = []
    for vid, vec in emb_rows:
        v = np.array(vec, dtype=np.float64)
        sims.append(
            (round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6), vid)
        )
    sims.sort(key=lambda t: (-t[0], t[1]))
    return [vid for _, vid in sims[:k]]


def test_cosine_topk_exact(spark, emb):
    rows = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    query = [float(x) for x in rows[0][1]]
    got = [r["vec_id"] for r in cosine_topk(emb, "embedding", "vec_id", query, k=10).collect()]
    assert got == _exact_topk(rows, query, 10)
    assert got[0] == rows[0][0]  # self is nearest


@pytest.fixture(scope="module")
def planted(spark):
    """200 random vectors + 8 planted near-duplicates of a query vector —
    the workload ANN must solve (the driver embeddings are uniform-random,
    where sub-linear ANN provably cannot beat chance)."""
    rng = np.random.default_rng(42)
    dim = 32
    query = rng.standard_normal(dim)
    rows = []
    for i in range(200):
        rows.append((int(i), rng.standard_normal(dim).tolist()))
    for j in range(8):
        v = query + 0.15 * rng.standard_normal(dim)
        rows.append((int(1000 + j), v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, query.tolist(), rows


def test_lsh_topk_recall(spark, planted):
    df, query, rows = planted
    exact = set(_exact_topk(rows, query, 8))
    approx = {
        r["vec_id"]
        for r in lsh_topk(
            df, "embedding", "vec_id", query, k=8, n_planes=10, max_hamming=2
        ).collect()
    }
    assert len(exact & approx) >= 6  # recall >= 0.75 on planted near-dups


def test_ivf_topk_recall(spark, planted):
    df, query, rows = planted
    exact = set(_exact_topk(rows, query, 8))
    approx = {
        r["vec_id"]
        for r in ivf_topk(
            df, "embedding", "vec_id", query, k=8, n_cells=8, nprobe=3,
            sample_fraction=0.9,
        ).collect()
    }
    assert len(exact & approx) >= 6


def test_ivf_train_clusters_planted(spark, planted):
    """Multi-iteration Lloyd must put the 8 planted near-dups in ONE cell
    (they form a tight cluster) and converge deterministically."""
    from ddsketch_ruby_spark.operators.similarity import ivf_assign, ivf_train

    df, query, rows = planted
    c1 = ivf_train(df, "embedding", n_cells=8, iters=10, sample_fraction=1.0)
    c2 = ivf_train(df, "embedding", n_cells=8, iters=10, sample_fraction=1.0)
    assert np.array_equal(c1, c2)  # deterministic
    cells = {
        r["vec_id"]: r["__cell"]
        for r in ivf_assign(df, "embedding", c1).collect()
    }
    planted_cells = {cells[1000 + j] for j in range(8)}
    assert len(planted_cells) == 1, planted_cells


def test_lsh_scans_subset(spark, emb):
    """On the driver's (near-random) embeddings the value of LSH is the
    candidate-set reduction; verify the bucket filter actually prunes."""
    rows = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    query = [float(x) for x in rows[3][1]]
    from ddsketch_ruby_spark.operators.similarity import lsh_bucket

    bucketed = lsh_bucket(emb, "embedding", len(query), n_planes=10)
    n_candidates = (
        bucketed.groupBy("lsh_bucket").count().count()
    )
    assert n_candidates > 10  # buckets actually spread
    got = lsh_topk(
        emb, "embedding", "vec_id", query, k=5, n_planes=10, max_hamming=1
    ).collect()
    assert 0 < len(got) <= 5
    assert got[0]["vec_id"] == 3  # the query vector itself survives probing


def test_oph_minhash_finds_near_dups(spark, textdf):
    """One-permutation variant: same LSH pipeline, O(n+H) hashing."""
    from ddsketch_ruby_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            textdf, "text", "doc_id", num_hashes=128, bands=32
        ).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.4
    # deterministic across partitionings too
    a = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(
            textdf, "text", "doc_id", 64
        ).collect()
    }
    b = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(
            textdf.repartition(4), "text", "doc_id", 64
        ).collect()
    }
    assert a == b


def test_lsh_bucket_cap_prunes_megacluster(spark):
    """A 60-copy boilerplate cluster must not produce 60^2 pairs when the
    bucket cap excludes it; distinct near-dups still pair up."""
    from ddsketch_ruby_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "identical boilerplate page text " * 5) for i in range(60)]
    rows += [
        (100, "a unique document about distributed sketches and quantiles"),
        (101, "a unique document about distributed sketches and quantile"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = minhash_lsh_pairs(
        df, "text", "doc_id", num_hashes=64, bands=16, max_bucket_size=10
    ).collect()
    ids = {r["id_a"] for r in capped} | {r["id_b"] for r in capped}
    assert ids == {100, 101}  # boilerplate bucket pruned entirely
    uncapped = minhash_lsh_pairs(
        df, "text", "doc_id", num_hashes=64, bands=16, max_bucket_size=None
    ).count()
    assert uncapped >= 60 * 59 / 2  # the quadratic blowup the cap avoids


def test_dedup_clusters(spark):
    from ddsketch_ruby_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 4)],
        "id_a long, id_b long",
    )
    labels = {
        r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}


def test_exact_dedup_128bit(spark, textdf):
    out64 = {
        r["doc_id"]: r["dup_count"]
        for r in exact_dedup(textdf, ["text"], "doc_id", hash_key=True).collect()
    }
    out128 = {
        r["doc_id"]: r["dup_count"]
        for r in exact_dedup(
            textdf, ["text"], "doc_id", hash_key=True, hash_bits=128
        ).collect()
    }
    assert out64 == out128


def test_lsh_bucket_cap_plan_uses_aggregate_not_window(spark):
    """Every hot-key cap (LSH buckets, SimHash bands, stop-shingles) must
    be an aggregate+join (map-side combinable), never a
    Window.partitionBy(bucket) — a window would shuffle the entire
    mega-bucket into one task before dropping it — and the over-cap keys
    must reach the join as a broadcast left-anti side."""
    from ddsketch_ruby_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_exact,
        simhash_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(i, f"document number {i} with some text") for i in range(8)],
        "doc_id long, text string",
    )
    capped = [
        minhash_lsh_pairs(
            df, "text", "doc_id", num_hashes=64, bands=16, max_bucket_size=10
        ),
        simhash_near_dup_pairs(df, "text", "doc_id", max_band_size=10),
        ngram_jaccard_exact(df, "text", "doc_id", max_doc_freq=10),
    ]
    for pairs in capped:
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "HashAggregate" in plan
        assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan


def test_dedup_clusters_bounded_plan_on_chain(spark):
    """A chain graph needs O(diameter) label-propagation rounds; the
    per-round localCheckpoint must keep the final plan flat (reading the
    checkpointed RDD) instead of nesting 14 join+agg rounds of lineage."""
    from ddsketch_ruby_spark.operators.dedup import dedup_clusters

    n = 15  # diameter 14 -> >= 10 iterations before convergence
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels = dedup_clusters(pairs)
    got = {r["id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    plan = labels._jdf.queryExecution().executedPlan().toString()
    # checkpointed: the returned frame scans an existing RDD, no joins left
    assert "Join" not in plan
    assert len(plan.splitlines()) < 10


def test_ngram_hot_shingle_cap(spark):
    """A boilerplate fragment shared by many docs must not survive into the
    shingle self-join when max_doc_freq caps it; genuine near-dups with
    unique content still pair up with exact Jaccard."""
    from ddsketch_ruby_spark.operators.dedup import ngram_jaccard_exact

    boiler = "all rights reserved copyright footer text " * 3
    rows = [(i, boiler) for i in range(30)]  # 30 identical boilerplate docs
    rows += [
        (100, "a unique document about distributed sketches and quantiles"),
        (101, "a unique document about distributed sketches and quantile"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = ngram_jaccard_exact(
        df, "text", "doc_id", min_jaccard=0.5, max_doc_freq=10
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in capped}
    assert pairs == {(100, 101)}  # boilerplate shingles all exceed the cap
    uncapped = ngram_jaccard_exact(
        df, "text", "doc_id", min_jaccard=0.5, max_doc_freq=None
    ).count()
    assert uncapped >= 30 * 29 / 2  # the quadratic join the cap avoids


def test_dedup_clusters_raises_when_not_converged(spark):
    """A 25-node chain has diameter 24; with only 5 rounds the min label
    cannot reach the far end — returning would be silently wrong, so the
    operator must raise instead."""
    from ddsketch_ruby_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(24)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iterations=5)
    # and with enough rounds the same graph collapses to cluster 0
    labels = {
        r["id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, max_iterations=30).collect()
    }
    assert labels == {i: 0 for i in range(25)}


def test_release_checkpoint_frees_storage_blocks(spark):
    """Pins the private-API checkpoint release (dedup.py
    _release_checkpoint): a localCheckpoint'ed frame's RDD blocks must
    actually disappear from executor storage after release. If a Spark
    upgrade breaks the _jdf path, _release_checkpoint degrades to a no-op
    and THIS test fails — loud at CI, not a silent O(rounds) storage
    regression in dedup_clusters."""
    import time

    from ddsketch_ruby_spark.operators.dedup import _release_checkpoint

    jsc = spark.sparkContext._jsc.sc()

    def stored_rdd_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    before = stored_rdd_ids()
    df = spark.range(100000).localCheckpoint(eager=True)
    added = stored_rdd_ids() - before
    assert added, "localCheckpoint did not register any storage blocks"
    _release_checkpoint(df)
    # unpersist(blocking=False) removes blocks asynchronously
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not (stored_rdd_ids() & added):
            break
        time.sleep(0.2)
    assert not (stored_rdd_ids() & added), (
        "checkpoint blocks still stored after _release_checkpoint"
    )


def test_incremental_dedup_reuses_stored_signatures(spark, tmp_path):
    """The production incremental path: persist the signature matrix to
    parquet, sign ONLY the new documents, union, and run the LSH pairing
    over the combined matrix. Output must equal a full recompute, and the
    old documents must never be re-shingled — their text never enters the
    plan (the stored branch is a parquet scan of (id, sig))."""
    from ddsketch_ruby_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, f"{base} variant {i} " + "x" * (i % 7)) for i in range(60)]
    # near-dup cluster straddling the old/new boundary
    rows += [(100 + j, base + " shared tail of text") for j in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = df.filter("doc_id < 102")
    new = df.filter("doc_id >= 102")

    sig_path = str(tmp_path / "signatures")
    minhash_signatures(old, "text", "doc_id", num_hashes=64).write.parquet(
        sig_path
    )
    stored = spark.read.parquet(sig_path)
    combined = stored.unionByName(
        minhash_signatures(new, "text", "doc_id", num_hashes=64)
    )
    inc = minhash_lsh_pairs(
        df, "text", "doc_id", num_hashes=64, bands=16, min_jaccard=0.5,
        signatures=combined,
    )
    # the old docs' contribution is a parquet scan of the signature
    # matrix — no text column anywhere upstream of it
    assert any("signatures" in f for f in inc.inputFiles()), inc.inputFiles()
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"] for r in inc.collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", num_hashes=64, bands=16, min_jaccard=0.5
        ).collect()
    }
    assert got == full
    assert any(a >= 100 and b >= 102 for a, b in got), (
        "expected at least one old-new near-dup pair"
    )


def test_collapse_near_dups_keeps_canonicals(spark, textdf):
    """docs 1 and 4 are exact dups, 2 is a near-dup of both: one cluster
    {1, 2, 4} -> canonical 1 survives; 3, 5, 6 are unpaired and survive;
    schema is unchanged."""
    from ddsketch_ruby_spark.operators.dedup import (
        collapse_near_dups,
        ngram_jaccard_exact,
    )

    pairs = ngram_jaccard_exact(textdf, "text", "doc_id", min_jaccard=0.5)
    kept = collapse_near_dups(textdf, pairs, "doc_id")
    assert kept.columns == textdf.columns
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {1, 3, 5, 6}


def test_bpe_token_estimate(spark):
    from ddsketch_ruby_spark.functions.text import bpe_token_estimate

    rows = [
        (1, "Hello, world 42!"),   # Hello , world 4 2 !  -> 6
        (2, "   "),                # whitespace only       -> 0
        (3, "a-b c"),              # a - b c               -> 4
        (4, "don't"),              # don ' t               -> 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in df.select("doc_id", bpe_token_estimate("text")).collect()
    }
    assert got == {1: 6, 2: 0, 3: 4, 4: 3}


def test_ngram_jaccard_pairs_string_ids(spark):
    """Pair ids must inherit the input id type: a url-keyed corpus (the
    production shape) flows through the exact-verify stage unchanged.
    Regression: the verify schema used to hardcode LongType and failed
    Arrow conversion on string ids."""
    from ddsketch_ruby_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        ("http://a.example/1", "the quick brown fox jumps over the lazy dog"),
        ("http://a.example/2", "the quick brown fox jumps over the lazy dog"),
        ("http://b.example/3", "completely different content about sketches"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = ngram_jaccard_pairs(
        df, "text", "url", min_jaccard=0.9, num_hashes=32, bands=8
    ).collect()
    assert {(r["id_a"], r["id_b"], r["jaccard"]) for r in got} == {
        ("http://a.example/1", "http://a.example/2", 1.0)
    }


def test_cluster_collapse_string_ids(spark):
    """dedup_clusters and collapse_near_dups inherit the id type: a
    url-keyed pair graph collapses with lexicographic-min canonicals."""
    from ddsketch_ruby_spark.operators.dedup import (
        collapse_near_dups,
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [("u/b", "u/c"), ("u/c", "u/d"), ("u/x", "u/y")],
        "id_a string, id_b string",
    )
    labels = {
        r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert labels == {
        "u/b": "u/b", "u/c": "u/b", "u/d": "u/b", "u/x": "u/x", "u/y": "u/x"
    }
    corpus = spark.createDataFrame(
        [(u, f"text {u}") for u in ["u/a", "u/b", "u/c", "u/d", "u/x", "u/y"]],
        "url string, text string",
    )
    kept = {r["url"] for r in collapse_near_dups(corpus, pairs, "url").collect()}
    assert kept == {"u/a", "u/b", "u/x"}


def test_dedup_corpus_one_call(spark):
    """The one-call cleaner: micro-doc floor, exact collapse, near-dup
    collapse — min-id canonical per cluster, schema unchanged."""
    from ddsketch_ruby_spark.operators.dedup import dedup_corpus

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different content about spark sketches"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "tiny"),                                         # under the floor
        (6, "der hund und die katze das ist gut und der baum"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = dedup_corpus(
        df, "text", "doc_id", min_jaccard=0.5, num_hashes=64, bands=16,
        min_length=10,
    )
    assert kept.columns == df.columns
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 6}
    # 128-bit key path yields the same survivors
    kept128 = dedup_corpus(
        df, "text", "doc_id", min_jaccard=0.5, num_hashes=64, bands=16,
        min_length=10, exact_hash_bits=128,
    )
    assert {r["doc_id"] for r in kept128.collect()} == {1, 3, 6}


def test_simhash_pairs_pigeonhole_exact(spark):
    """For max_dist < bands the banded candidate generation is LOSSLESS
    (pigeonhole): with the cap disabled, the operator's output must equal
    the brute-force all-pairs Hamming-distance filter exactly — ids AND
    distances — on a corpus mixing exact dups, near dups, and noise."""
    rows = [
        (i, f"document number {i} talks about topic {i % 7} in detail "
            f"with shared boilerplate trailing text for realism")
        for i in range(1, 41)
    ] + [
        (100, "the quick brown fox jumps over the lazy dog and then naps"),
        (101, "the quick brown fox jumps over the lazy cat and then naps"),
        (102, "the quick brown fox jumps over the lazy dog and then naps"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming_dist"]
        for r in simhash_near_dup_pairs(
            df, "text", "doc_id", bands=4, max_dist=3, max_band_size=None
        ).collect()
    }
    fps = {
        r["doc_id"]: r["simhash"] for r in simhash(df, "text", "doc_id").collect()
    }
    ids = sorted(fps)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert got == want
    assert got[(100, 102)] == 0  # exact dup pair surfaced at distance 0


def test_simhash_pairs_planted_and_partition_invariant(spark, textdf):
    """The planted near-dup (docs 1/2: one word changed, Hamming 8) and
    exact dup (1/4: distance 0) surface at bands=16/max_dist=8 — still
    pigeonhole-lossless since 8 < 16 — while the unrelated doc 3 pairs
    with nothing; output identical at 1 and 7 partitions (merge
    determinism)."""
    kw = dict(bands=16, max_dist=8)
    base = {
        (r["id_a"], r["id_b"], r["hamming_dist"])
        for r in simhash_near_dup_pairs(
            textdf, "text", "doc_id", **kw
        ).collect()
    }
    dist = {(a, b): d for a, b, d in base}
    assert dist[(1, 4)] == 0
    assert dist[(1, 2)] == 8
    assert not any(3 in (a, b) for a, b in dist)
    again = {
        (r["id_a"], r["id_b"], r["hamming_dist"])
        for r in simhash_near_dup_pairs(
            textdf.repartition(7), "text", "doc_id", **kw
        ).collect()
    }
    assert again == base


def test_simhash_pairs_hot_band_cap_and_fingerprint_reuse(spark):
    """A 12-member exact-dup mega-cluster exceeds max_band_size=10 in
    every band and is routed away from the quadratic join entirely; the
    two genuinely-near docs outside the cluster still pair. Passing a
    precomputed ``fingerprints`` frame gives identical output (the
    persisted-matrix path)."""
    mega = [(i, "identical boilerplate page body repeated verbatim " * 3)
            for i in range(10, 22)]
    rows = mega + [
        (1, "unique page about distributed sketches and quantiles today"),
        (2, "unique page about distributed sketches and quantiles todays"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(bands=16, max_dist=8, max_band_size=10)
    capped = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup_pairs(df, "text", "doc_id", **kw).collect()
    }
    assert (1, 2) in capped
    assert all(a not in range(10, 22) and b not in range(10, 22)
               for a, b in capped)
    fps = simhash(df, "text", "doc_id")
    via_fps = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup_pairs(
            df, "text", "doc_id", fingerprints=fps, **kw
        ).collect()
    }
    assert via_fps == capped


def test_simhash_pairs_rejects_bad_bands(spark, textdf):
    with pytest.raises(ValueError, match="divide 64"):
        simhash_near_dup_pairs(textdf, "text", "doc_id", bands=5)


def test_lsh_ann_join_matches_per_query_topk(spark, planted):
    """Batch ANN must equal the per-query operator row-for-row: for every
    query, lsh_ann_join's (id, sim, rank) slice == lsh_topk's answer at
    the same planes/probes/k — at max_hamming 1 AND 2 (the pair-flip probe
    masks must match _lsh_probes bit-for-bit)."""
    from ddsketch_ruby_spark.operators.similarity import lsh_ann_join

    df, query, rows = planted
    qids = [0, 50, 1000, 1005]
    queries = df.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    for mh in (1, 2):
        batch = lsh_ann_join(
            df, queries, "embedding", "vec_id", "qid", "qemb",
            dim=32, k=4, n_planes=6, max_hamming=mh,
        ).collect()
        by_q = {}
        for r in batch:
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["vec_id"], r["sim"])
            )
        assert set(by_q) == set(qids)
        for qid in qids:
            qvec = [float(x) for x in
                    {r[0]: r[1] for r in rows}[qid]]
            solo = lsh_topk(
                df, "embedding", "vec_id", qvec, k=4, n_planes=6,
                max_hamming=mh,
            ).collect()
            assert sorted(by_q[qid]) == [
                (r["rank"], r["vec_id"], r["sim"]) for r in solo
            ], (mh, qid)
            # queries drawn from the corpus: self is rank 1 at sim 1.0
            assert by_q[qid][0] == (1, qid, 1.0) or sorted(by_q[qid])[0][1:] == (qid, 1.0)


def test_lsh_ann_join_plan_broadcasts_probes(spark, planted):
    """The candidate join must be a broadcast hash join on the thin probe
    frame — never a cartesian/shuffled corpus join."""
    from ddsketch_ruby_spark.operators.similarity import lsh_ann_join

    df, query, rows = planted
    queries = df.limit(3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    res = lsh_ann_join(
        df, queries, "embedding", "vec_id", "qid", "qemb", dim=32,
        n_planes=6,
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_lsh_ann_join_rejects_wide_hamming(spark, planted):
    from ddsketch_ruby_spark.operators.similarity import lsh_ann_join

    df, query, rows = planted
    q = df.limit(1).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    with pytest.raises(ValueError, match="max_hamming"):
        lsh_ann_join(df, q, "embedding", "vec_id", "qid", "qemb", dim=32,
                     max_hamming=3)


def test_simhash_pairs_compose_with_cluster_collapse(spark):
    """The SimHash pair frame feeds the same downstream as the MinHash
    one: dedup_clusters + collapse_near_dups over simhash_near_dup_pairs
    collapse an exact-dup triplet and a near-dup pair to their min-id
    canonicals, leaving singletons untouched."""
    from ddsketch_ruby_spark.operators.dedup import (
        collapse_near_dups,
        dedup_clusters,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappb"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (4, "entirely different text about mergeable quantile sketches"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_near_dup_pairs(
        df, "text", "doc_id", bands=16, max_dist=8
    ).select("id_a", "id_b")
    clusters = {
        r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert clusters[1] == clusters[2] == clusters[3] == 1
    kept = {r["doc_id"] for r in collapse_near_dups(df, pairs, "doc_id").collect()}
    assert kept == {1, 4}


def test_simhash_pairs_bands_one_exact_fingerprint_match(spark, textdf):
    """bands=1 (one 64-bit band) is the exact-fingerprint-match
    configuration: the full fingerprint is the band value (no mask — a
    64-bit all-ones literal would overflow LongType), so only identical
    fingerprints pair; at max_dist=0 that is exact-dup detection."""
    got = {
        (r["id_a"], r["id_b"], r["hamming_dist"])
        for r in simhash_near_dup_pairs(
            textdf, "text", "doc_id", bands=1, max_dist=0
        ).collect()
    }
    assert got == {(1, 4, 0)}


def test_word_ngrams_widths_and_edges(spark):
    from ddsketch_ruby_spark.operators.dedup import word_ngrams

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c"),       # exactly n words -> one gram
            (3, "a b"),         # shorter than n -> empty
            (4, ""),            # empty text -> empty
            (5, "  a   b  c "), # runs of spaces collapse to words
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", word_ngrams("text", 3).alias("g")).collect()
    }
    assert got[1] == ["a b c", "b c d", "c d e"]
    assert got[2] == ["a b c"]
    assert got[3] == []
    assert got[4] == []
    assert got[5] == ["a b c"]


def test_decontaminate_flags_ngram_overlap(spark):
    from ddsketch_ruby_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a quick brown fox ran away yesterday morning"),  # shares "quick brown fox" only (3-gram)
            (3, "totally unrelated content about spark sketches here"),
            (4, "we saw the quick brown fox jumps nearby"),  # shares 4-gram "the quick brown fox"
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "witnesses said the quick brown fox jumps at dawn")],
        "doc_id long, text string",
    )
    out = decontaminate(docs, bench, "text", "doc_id", n=4)
    flags = {r["doc_id"]: r["contaminated"] for r in out.collect()}
    assert flags == {1: True, 2: False, 3: False, 4: True}
    # schema: input columns preserved + boolean flag appended
    assert out.columns == ["doc_id", "text", "contaminated"]
    # anti-filter usage drops exactly the flagged docs
    kept = out.filter(~F.col("contaminated")).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [2, 3]


def test_decontaminate_shuffled_join_parity_and_flag_col(spark):
    from ddsketch_ruby_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(40)],
        "doc_id long, text string",
    ).repartition(7)
    bench = spark.createDataFrame(
        [(999, "w10 w11 w12 w13 w14 w15")], "doc_id long, text string"
    )
    a = decontaminate(docs, bench, "text", "doc_id", n=4, flag_col="hit")
    b = decontaminate(docs, bench, "text", "doc_id", n=4, broadcast=False, flag_col="hit")
    fa = {r["doc_id"]: r["hit"] for r in a.collect()}
    fb = {r["doc_id"]: r["hit"] for r in b.collect()}
    assert fa == fb
    # docs 9..12 each contain a full 4-gram of the benchmark window
    # (doc 8's grams end at w11, one word short of the first bench gram)
    assert {d for d, f in fa.items() if f} == {9, 10, 11, 12}


def test_duplicate_spans_counts_and_hashed_parity(spark):
    from ddsketch_ruby_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "x y z w a b c"),
            (2, "q r x y z w k"),          # shares "x y z w" with 1
            (3, "x y z w u x y z w v"),    # contains "x y z w" TWICE
            (4, "unrelated words only here town"),
        ],
        "doc_id long, text string",
    ).repartition(3)
    out = duplicate_spans(docs, "text", "doc_id", n=4, min_docs=2)
    rows = {r["span"]: r for r in out.collect()}
    assert set(rows) == {"x y z w"}
    r = rows["x y z w"]
    assert r["n_docs"] == 3          # within-doc repeat doesn't inflate doc count
    assert r["n_occurrences"] == 4   # ...but does count as an occurrence
    assert r["first_id"] == 1
    # min_docs filter: raise the bar past the spread
    assert duplicate_spans(docs, "text", "doc_id", n=4, min_docs=4).count() == 0
    # hashed-span mode: identical stats, span replaced by xxhash64(string)
    hashed = duplicate_spans(docs, "text", "doc_id", n=4, keep_span=False)
    hr = hashed.collect()
    assert len(hr) == 1
    expected = docs.sparkSession.sql("SELECT xxhash64('x y z w') AS h").first()["h"]
    assert hr[0]["span"] == expected
    assert (hr[0]["n_docs"], hr[0]["n_occurrences"], hr[0]["first_id"]) == (3, 4, 1)


def test_normalize_text_edge_cases(spark):
    from ddsketch_ruby_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [
            (1, "  Hello\t WORLD \r\n twice  "),
            (2, "Don't stop-me now!!"),
            (3, ""),
            (4, "\t\r\n"),
            (5, "already clean"),
        ],
        "doc_id long, text string",
    )
    plain = {
        r["doc_id"]: r["norm_text"]
        for r in df.select("doc_id", normalize_text("text")).collect()
    }
    assert plain[1] == "hello world twice"
    assert plain[2] == "don't stop-me now!!"  # punctuation kept by default
    assert plain[3] == "" and plain[4] == ""
    assert plain[5] == "already clean"
    stripped = {
        r["doc_id"]: r["norm_text"]
        for r in df.select(
            "doc_id", normalize_text("text", strip_punct=True)
        ).collect()
    }
    assert stripped[2] == "don t stop me now"  # punct -> word boundary
    assert stripped[1] == "hello world twice"


def test_repetition_ratio(spark):
    from ddsketch_ruby_spark.functions.text import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # 2-grams: ab ba ab ba ab -> 2 distinct of 5
            (2, "a b c d e f"),       # all distinct
            (3, "x"),                 # shorter than n -> 0.0
            (4, ""),
        ],
        "doc_id long, text string",
    )
    r = {
        x["doc_id"]: x["rep_2"]
        for x in df.select("doc_id", repetition_ratio("text", 2)).collect()
    }
    assert r[1] == pytest.approx(1.0 - 2 / 5)
    assert r[2] == 0.0
    assert r[3] == 0.0 and r[4] == 0.0


def test_word_ngrams_rejects_nonpositive_width(spark):
    from ddsketch_ruby_spark.operators.dedup import word_ngrams

    with pytest.raises(ValueError, match="width"):
        word_ngrams("text", 0)
    # n=1 degenerates to the word list itself
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    got = df.select(word_ngrams("text", 1).alias("g")).collect()[0]["g"]
    assert got == ["a", "b", "c"]
