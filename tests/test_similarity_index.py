"""Persisted hyperplane-LSH index (lsh_write_index / lsh_topk_indexed):
partition pruning at the scan, parity with the on-the-fly lsh_topk path,
and metadata round-trip; the batch LSH and IVF joins. Also pins
dedup_clusters' keyword-only iteration budget and dedup_corpus's 128-bit
exact-key default."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def planted_idx(spark, tmp_path_factory):
    """200 random vectors + 8 planted near-dups of a query, written once
    as an LSH index."""
    from ddsketch_ruby_spark.operators.similarity import lsh_write_index

    rng = np.random.default_rng(7)
    dim = 32
    query = rng.standard_normal(dim)
    rows = [(int(i), rng.standard_normal(dim).tolist()) for i in range(200)]
    rows += [
        (int(1000 + j), (query + 0.15 * rng.standard_normal(dim)).tolist())
        for j in range(8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path_factory.mktemp("lshidx") / "idx")
    planes = lsh_write_index(df, path, "embedding", dim=dim, n_planes=8)
    return df, query.tolist(), rows, path, planes


def test_lsh_index_partition_pruning(spark, planted_idx):
    """The probe filter must be a PARTITION filter (pruned at planning,
    not a post-scan filter) — the read-volume lever the module docstring
    promises at 100 TB."""
    from ddsketch_ruby_spark.operators.similarity import lsh_topk_indexed

    df, query, rows, path, planes = planted_idx
    res = lsh_topk_indexed(spark, path, "vec_id", query, k=8, max_hamming=1)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [lsh_bucket" in plan, plan
    corpus = spark.read.parquet(f"{path}/corpus")
    n_buckets_on_disk = corpus.select("lsh_bucket").distinct().count()
    assert n_buckets_on_disk > 9  # more buckets than probes -> real pruning


def test_lsh_index_matches_fly_path(spark, planted_idx):
    """Indexed and on-the-fly multi-probe LSH must return the IDENTICAL
    top-k (same planes, same probes, same rerank)."""
    from ddsketch_ruby_spark.operators.similarity import (
        lsh_topk,
        lsh_topk_indexed,
    )

    df, query, rows, path, planes = planted_idx
    fly = lsh_topk(
        df, "embedding", "vec_id", query, k=8, n_planes=8, max_hamming=1
    ).collect()
    idx = lsh_topk_indexed(
        spark, path, "vec_id", query, k=8, max_hamming=1
    ).collect()
    assert [(r["vec_id"], r["sim"]) for r in fly] == [
        (r["vec_id"], r["sim"]) for r in idx
    ]
    got = {r["vec_id"] for r in idx}
    assert len(got & {1000 + j for j in range(8)}) >= 6  # planted recall


def test_lsh_index_probe_subset_of_metadata_planes(planted_idx):
    """planes.json round-trips the exact training planes: the probe set
    computed from the stored planes equals the one from regenerated
    planes (same dim/n_planes/seed)."""
    from ddsketch_ruby_spark.operators.similarity import (
        _hyperplanes,
        _lsh_probes,
    )

    df, query, rows, path, planes = planted_idx
    regen = _hyperplanes(32, 8, 42)
    assert np.array_equal(planes, regen)
    assert _lsh_probes(planes, query, 1) == _lsh_probes(regen, query, 1)


def test_lsh_index_fanout_guard(spark, planted_idx):
    """n_planes > 12 (4096+ partition directories) must be rejected with
    the prefix-partitioning pointer, not silently create the layout."""
    from ddsketch_ruby_spark.operators.similarity import lsh_write_index

    df = planted_idx[0]
    with pytest.raises(ValueError, match="prefix"):
        lsh_write_index(df, "/tmp/never-written", "embedding", dim=32,
                        n_planes=16)


def test_lsh_index_prefix_partitioned(spark, planted_idx, tmp_path):
    """The large-plane-count layout: 16 planes, partitioned by the top 6
    bucket bits (64 directories instead of a refused 65536). The probe
    filter must prune on the PREFIX partition column while the exact
    bucket set pushes down as an ordinary filter, and the top-k must be
    IDENTICAL to the on-the-fly path at the same parameters."""
    from ddsketch_ruby_spark.operators.similarity import (
        lsh_topk,
        lsh_topk_indexed,
        lsh_write_index,
    )

    df, query, rows, _, _ = planted_idx
    path = str(tmp_path / "idx16")
    lsh_write_index(
        df, path, "embedding", dim=32, n_planes=16, prefix_bits=6
    )
    res = lsh_topk_indexed(spark, path, "vec_id", query, k=8, max_hamming=1)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [lsh_prefix" in plan, plan
    assert "lsh_bucket" in plan  # exact bucket set still filters in-data
    fly = lsh_topk(
        df, "embedding", "vec_id", query, k=8, n_planes=16, max_hamming=1
    ).collect()
    assert [(r["vec_id"], r["sim"]) for r in res.collect()] == [
        (r["vec_id"], r["sim"]) for r in fly
    ]
    # the 17 probes (own bucket + 16 single flips) must collapse onto at
    # most prefix_bits+1 = 7 distinct prefixes — the read-volume bound —
    # and the layout must be broader than that, else "pruning" is vacuous
    from ddsketch_ruby_spark.operators.similarity import (
        _hyperplanes,
        _lsh_probes,
    )

    probes = _lsh_probes(_hyperplanes(32, 16, 42), query, 1)
    probe_prefixes = {p >> (16 - 6) for p in probes}
    assert len(probe_prefixes) <= 7
    corpus = spark.read.parquet(path + "/corpus")
    n_parts = corpus.select("lsh_prefix").distinct().count()
    assert n_parts > len(probe_prefixes)
    # and the scan's partition filter is exactly that prefix set, so a
    # regression to all-prefixes (wrong shift) fails here
    import re

    m = re.search(r"PartitionFilters: \[lsh_prefix[^\]]*IN \(([^)]*)\)", plan)
    assert m, plan
    assert {int(x) for x in m.group(1).split(",")} == probe_prefixes


def test_lsh_index_prefix_bits_validation(spark, planted_idx):
    from ddsketch_ruby_spark.operators.similarity import lsh_write_index

    df = planted_idx[0]
    for bad in (0, 13, 33):
        with pytest.raises(ValueError, match="prefix_bits"):
            lsh_write_index(df, "/tmp/never-written", "embedding", dim=32,
                            n_planes=32, prefix_bits=bad)


def test_dedup_clusters_rejects_positional_budget(spark):
    """The old id_type positional slot must fail loudly at the call site
    (max_iterations is keyword-only since round 4)."""
    from ddsketch_ruby_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(TypeError):
        dedup_clusters(pairs, "long")


def test_dedup_corpus_defaults_to_128bit_exact_keys():
    """ADVICE round-3: the one-call cleaner's exact stage must default to
    the 128-bit key (two xxhash64 seeds) — a 64-bit key has ~2^23 expected
    birthday collisions at 10^12 docs, each silently dropping a
    non-duplicate document."""
    import inspect

    from ddsketch_ruby_spark.operators.dedup import dedup_corpus

    sig = inspect.signature(dedup_corpus)
    assert sig.parameters["exact_hash_bits"].default == 128


def test_ivf_ann_join_matches_per_query_topk(spark, planted_idx):
    """Batch IVF must equal the per-query operator row-for-row when both
    use the SAME trained centroids (passed explicitly so neither
    retrains)."""
    from ddsketch_ruby_spark.operators.similarity import (
        ivf_ann_join,
        ivf_topk,
        ivf_train,
    )

    df, query, rows, _, _ = planted_idx
    cents = ivf_train(df, "embedding", n_cells=8, seed=42)
    qids = [0, 50, 1000]
    queries = df.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    batch = ivf_ann_join(
        df, queries, "embedding", "vec_id", "qid", "qemb",
        k=4, nprobe=2, centroids=cents,
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["sim"])
        )
    vecs = {r[0]: r[1] for r in rows}
    for qid in qids:
        solo = ivf_topk(
            df, "embedding", "vec_id", [float(x) for x in vecs[qid]],
            k=4, n_cells=8, nprobe=2, seed=42,
        ).collect()
        assert sorted(by_q[qid]) == [
            (r["rank"], r["vec_id"], r["sim"]) for r in solo
        ], qid


def test_ivf_probe_frame_rejects_bad_nprobe(spark, planted_idx, monkeypatch):
    """Every probe path — the batch IVF join (given or trained centroids),
    the per-query IVF and IVF-PQ top-k, and the batch IVF-PQ join —
    refuses an nprobe outside [1, n_cells] instead of probing a wrong cell
    set (-1 would probe all cells but one) or returning nothing (0). The
    paths that train refuse it BEFORE training (a Spark sample job plus
    driver k-means): ivf_train is patched to raise here."""
    from ddsketch_ruby_spark.operators import similarity
    from ddsketch_ruby_spark.operators.pq import (
        ivfpq_ann_join,
        ivfpq_topk,
        pq_codebook,
    )
    from ddsketch_ruby_spark.operators.similarity import (
        ivf_ann_join,
        ivf_topk,
        ivf_train,
    )

    df, query = planted_idx[0], planted_idx[1]
    cents = ivf_train(df, "embedding", n_cells=4, seed=42)
    books = pq_codebook(dim=32, m=4, codebook_size=4)
    q = df.limit(1).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )

    def no_training(*args, **kwargs):
        raise AssertionError("ivf_train ran before the nprobe check")

    monkeypatch.setattr(similarity, "ivf_train", no_training)
    for bad in (0, 5, -1):
        with pytest.raises(ValueError, match="nprobe"):
            ivf_ann_join(df, q, "embedding", "vec_id", "qid", "qemb",
                         nprobe=bad, centroids=cents)
        with pytest.raises(ValueError, match="nprobe"):
            ivf_ann_join(df, q, "embedding", "vec_id", "qid", "qemb",
                         n_cells=4, nprobe=bad)
        with pytest.raises(ValueError, match="nprobe"):
            ivf_topk(df, "embedding", "vec_id", query, n_cells=4,
                     nprobe=bad, sample_fraction=1.0)
        # the encoded frame is never read: the check runs at plan time
        with pytest.raises(ValueError, match="nprobe"):
            ivfpq_topk(df, cents, books, "vec_id", query, nprobe=bad)
        with pytest.raises(ValueError, match="nprobe"):
            ivfpq_ann_join(df, q, cents, books, "vec_id", "qid", "qemb",
                           nprobe=bad)


def test_batch_ann_and_simhash_pairs_handle_empty_inputs(spark, planted_idx):
    """Degenerate inputs return empty frames, not errors: zero queries
    against a real corpus, and a zero-row corpus against real queries."""
    from ddsketch_ruby_spark.operators.dedup import simhash_near_dup_pairs
    from ddsketch_ruby_spark.operators.similarity import lsh_ann_join

    df = planted_idx[0]
    no_queries = df.filter(F.lit(False)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    assert (
        lsh_ann_join(
            df, no_queries, "embedding", "vec_id", "qid", "qemb",
            dim=32, n_planes=6,
        ).count()
        == 0
    )
    some_queries = df.limit(2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    no_corpus = df.filter(F.lit(False))
    assert (
        lsh_ann_join(
            no_corpus, some_queries, "embedding", "vec_id", "qid", "qemb",
            dim=32, n_planes=6,
        ).count()
        == 0
    )
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert simhash_near_dup_pairs(empty_docs, "text", "doc_id").count() == 0
