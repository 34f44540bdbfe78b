"""Product quantization (operators/pq.py): encode parity with the
left-fold reference, ADC correctness, trained-codebook quality, the top-k
plan shape, and the persisted index as query input."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_ruby_spark.operators.pq import (
    _gemm_argmin_exact,
    _gemm_pre,
    pq_adc_lut,
    pq_codebook,
    pq_encode,
    pq_topk,
    pq_train,
)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _fold_dist2(sub, book):
    """(n, k) squared L2 as the ordered left fold over the dims — the sum
    the oracles compute (NumPy's .sum adds 8 or more terms pairwise)."""
    diff = sub[:, None, :] - book[None, :, :]
    acc = np.zeros(diff.shape[:2])
    for j in range(diff.shape[2]):
        acc = acc + diff[..., j] * diff[..., j]
    return acc


def _np_codes(vecs, books):
    m, k, dsub = books.shape
    out = np.empty((len(vecs), m), dtype=np.int64)
    for s in range(m):
        sub = vecs[:, s * dsub : (s + 1) * dsub]
        out[:, s] = _fold_dist2(sub, books[s]).argmin(1)
    return out


def _py_fold_argmin(x, book):
    """Pure-Python reference: left fold from 0.0, ties to the lowest code."""
    best, best_d = 0, None
    for c, entry in enumerate(book):
        acc = 0.0
        for a, b in zip(x, entry):
            acc = acc + (float(a) - float(b)) * (float(a) - float(b))
        if best_d is None or acc < best_d:
            best, best_d = c, acc
    return best


def test_argmin_near_ties_follow_the_left_fold():
    """Constructed near-ties at dsub = 8 (the gate geometry, dim 64 / m 8):
    the second codebook entry is x + permutation(c1 - x), so both exact
    distances sum the same squares in a different order and differ by at
    most an ulp. The kernel and the _np_codes reference must pick what the
    left fold picks; a pairwise .sum misses a large share of these rows."""
    rng = np.random.default_rng(0)
    dsub = 8
    rows = []
    for _ in range(1000):
        x = rng.normal(0.0, 0.125, dsub)
        c1 = x + rng.normal(0.0, 0.05, dsub)
        rows.append((x, np.stack([c1, x + rng.permutation(c1 - x)])))
    pairwise_misses = 0
    for x, book in rows:
        want = _py_fold_argmin(x, book)
        got = _gemm_argmin_exact(x[None, :], book, *_gemm_pre(book))
        assert got[0] == want
        assert _np_codes(x[None, :], book[None])[0, 0] == want
        pairwise = ((x[None, :] - book) ** 2).sum(-1).argmin()
        pairwise_misses += int(pairwise != want)
    assert pairwise_misses > 0  # the rows do exercise the repair


def test_argmin_far_from_origin_matches_left_fold():
    """Vectors and codebook entries near (100, ..., 100): the float32
    expansion ||x||^2 - 2 x.c + ||c||^2 loses ~1e-6 of ||x||^2 ~ 8e4,
    far more than the gaps between codes, so the repair margin must
    scale with the norms, not only with the distance."""
    rng = np.random.default_rng(1)
    book = 100.0 + 0.05 * rng.normal(size=(16, 8))
    x = book[rng.integers(16, size=5000)] + 0.03 * rng.normal(size=(5000, 8))
    got = _gemm_argmin_exact(x, book, *_gemm_pre(book))
    assert np.array_equal(got, _fold_dist2(x, book).argmin(1))


def test_encode_matches_left_fold_reference(spark, emb):
    books = pq_codebook(dim=64, m=8, codebook_size=16, seed=42)
    got = {
        r["vec_id"]: list(r["pq_code"])
        for r in pq_encode(emb, "embedding", books).collect()
    }
    rows = emb.collect()
    vecs = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
    )
    ref = _np_codes(vecs, books)
    for i, r in enumerate(rows):
        assert got[r["vec_id"]] == ref[i].tolist()


def test_adc_topk_matches_numpy_and_plan(spark, emb):
    books = pq_codebook(dim=64, m=8, codebook_size=16, seed=42)
    rows = emb.collect()
    query = [float(x) for x in rows[0]["embedding"]]
    enc = pq_encode(emb, "embedding", books)
    out = pq_topk(enc, books, "vec_id", query, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    got = [(r["vec_id"], r["pq_dist"]) for r in out.collect()]
    # NumPy reference: same LUT, same code assignment, same tie-breaks
    lut = np.asarray(pq_adc_lut(books, query))
    vecs = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
    )
    codes = _np_codes(vecs, books)
    scores = lut[np.arange(books.shape[0]), codes].sum(1)
    order = sorted(range(len(rows)), key=lambda i: (scores[i], rows[i]["vec_id"]))
    want = [
        (rows[i]["vec_id"], round(float(scores[i]), 6)) for i in order[:10]
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    assert got == pytest.approx(want)


def test_trained_codebook_beats_seeded_distortion(spark, emb):
    """k-means codebooks must reconstruct with strictly lower mean squared
    quantization error than the seeded Gaussian codebook — the reason
    pq_train exists."""
    seeded = pq_codebook(dim=64, m=8, codebook_size=16, seed=42)
    trained = pq_train(
        emb, "embedding", dim=64, m=8, codebook_size=16, sample_fraction=1.0
    )
    vecs = np.stack(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()
        ]
    )

    def distortion(books):
        m, k, dsub = books.shape
        codes = _np_codes(vecs, books)
        err = 0.0
        for s in range(m):
            sub = vecs[:, s * dsub : (s + 1) * dsub]
            err += ((sub - books[s][codes[:, s]]) ** 2).sum()
        return err / len(vecs)

    # uniform-random vectors are the hardest case for VQ; measured gain
    # at sf0.001 is ~30%, so 10% margin is a real regression bar
    assert distortion(trained) < 0.9 * distortion(seeded)


def test_trained_adc_selfquery_ranks_self_first(spark, emb):
    books = pq_train(
        emb, "embedding", dim=64, m=8, codebook_size=16, sample_fraction=1.0
    )
    query = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]
    ]
    enc = pq_encode(emb, "embedding", books)
    top = pq_topk(enc, books, "vec_id", query, k=3).collect()
    assert top[0]["vec_id"] == 3


def test_geometry_and_lut_validation():
    with pytest.raises(ValueError):
        pq_codebook(dim=64, m=7)
    books = pq_codebook(dim=64, m=8, codebook_size=4)
    with pytest.raises(ValueError):
        pq_adc_lut(books, [0.0] * 63)


def _seeded_model():
    cents = np.random.default_rng(7).normal(0.0, 0.125, (8, 64))
    books = pq_codebook(dim=64, m=8, codebook_size=16, seed=42)
    return cents, books


def _ivfpq_numpy_codes(rows, cents, books):
    vecs = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    cell = _fold_dist2(vecs, cents).argmin(1)
    return cell, _np_codes(vecs - cents[cell], books)


def test_ivfpq_encode_matches_left_fold_reference(spark, emb):
    from ddsketch_ruby_spark.operators.pq import ivfpq_encode

    cents, books = _seeded_model()
    got = {
        r["vec_id"]: (r["ivf_cell"], list(r["pq_code"]))
        for r in ivfpq_encode(emb, "embedding", cents, books).collect()
    }
    rows = emb.collect()
    cell, codes = _ivfpq_numpy_codes(rows, cents, books)
    for i, r in enumerate(rows):
        assert got[r["vec_id"]] == (cell[i], codes[i].tolist())
    # every vector landed in a valid cell; codes are residual codes
    assert all(0 <= c < 8 for c, _ in got.values())


def _ivfpq_numpy_scores(rows, cents, books, query):
    cell, codes = _ivfpq_numpy_codes(rows, cents, books)
    q = np.asarray(query, dtype=np.float64)
    scores = np.empty(len(rows))
    m, k, dsub = books.shape
    for i in range(len(rows)):
        rq = q - cents[cell[i]]
        lut = np.asarray(pq_adc_lut(books, rq))
        scores[i] = lut[np.arange(m), codes[i]].sum()
    return cell, scores


def test_ivfpq_exhaustive_matches_numpy(spark, emb):
    from ddsketch_ruby_spark.operators.pq import ivfpq_encode, ivfpq_topk

    cents, books = _seeded_model()
    rows = emb.collect()
    query = [float(x) for x in rows[0]["embedding"]]
    enc = ivfpq_encode(emb, "embedding", cents, books)
    got = [
        (r["vec_id"], r["pq_dist"])
        for r in ivfpq_topk(
            enc, cents, books, "vec_id", query, k=10, nprobe=8
        ).collect()
    ]
    _, scores = _ivfpq_numpy_scores(rows, cents, books, query)
    order = sorted(
        range(len(rows)), key=lambda i: (scores[i], rows[i]["vec_id"])
    )
    want = [(rows[i]["vec_id"], round(float(scores[i]), 6)) for i in order[:10]]
    assert [g[0] for g in got] == [w[0] for w in want]
    assert got == pytest.approx(want)


def test_ivfpq_truncated_probe_is_cell_restricted_exhaustive(spark, emb):
    from ddsketch_ruby_spark.operators.pq import ivfpq_encode, ivfpq_topk
    from ddsketch_ruby_spark.operators.similarity import _probe_cells

    cents, books = _seeded_model()
    rows = emb.collect()
    query = [float(x) for x in rows[5]["embedding"]]
    enc = ivfpq_encode(emb, "embedding", cents, books)
    got = [
        (r["vec_id"], r["pq_dist"])
        for r in ivfpq_topk(
            enc, cents, books, "vec_id", query, k=10, nprobe=2
        ).collect()
    ]
    probes = set(_probe_cells(cents, query, 2))
    cell, scores = _ivfpq_numpy_scores(rows, cents, books, query)
    cand = [i for i in range(len(rows)) if cell[i] in probes]
    order = sorted(cand, key=lambda i: (scores[i], rows[i]["vec_id"]))
    want = [(rows[i]["vec_id"], round(float(scores[i]), 6)) for i in order[:10]]
    assert got == pytest.approx(want)


def test_residual_encoding_beats_raw_pq_distortion(spark, emb):
    """The point of IVF-PQ: quantizing residuals with TRAINED components
    reconstructs with lower error than raw-vector PQ on the same
    codebook budget."""
    from ddsketch_ruby_spark.operators.pq import ivfpq_encode
    from ddsketch_ruby_spark.operators.similarity import ivf_train

    cents = ivf_train(emb, "embedding", n_cells=8, sample_fraction=1.0)
    vecs = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()]
    )
    cell = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
    resid = vecs - cents[cell]
    raw_books = pq_train(
        emb, "embedding", dim=64, m=8, codebook_size=16, sample_fraction=1.0
    )

    # train residual codebooks on the residuals themselves
    from ddsketch_ruby_spark.operators.similarity import kmeans_np

    rng = np.random.default_rng(42)
    res_books = np.stack(
        [
            kmeans_np(resid[:, s * 8 : (s + 1) * 8], 16, 10, rng)
            for s in range(8)
        ]
    )

    def distortion(base, books):
        codes = _np_codes(base, books)
        err = 0.0
        for s in range(8):
            sub = base[:, s * 8 : (s + 1) * 8]
            err += ((sub - books[s][codes[:, s]]) ** 2).sum()
        return err / len(base)

    # reconstruction error of (centroid + residual code) vs raw code
    assert distortion(resid, res_books) < distortion(vecs, raw_books)


def test_ivfpq_index_prunes_stores_no_vectors_and_matches_fly(
    spark, emb, tmp_path
):
    from ddsketch_ruby_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_write_index,
        read_ivfpq_index,
    )

    cents, books = _seeded_model()
    path = str(tmp_path / "ivfpqidx")
    ivfpq_write_index(emb, path, "embedding", "vec_id", cents, books)
    # the persisted rows are codes only — no vector column on disk
    codes = spark.read.parquet(f"{path}/codes")
    assert set(codes.columns) == {"vec_id", "pq_code", "cell"}
    query = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 2).collect()[0]["embedding"]
    ]
    enc, icents, ibooks, id_col = read_ivfpq_index(spark, path)
    assert id_col == "vec_id"
    assert np.array_equal(icents, cents) and np.array_equal(ibooks, books)
    res = ivfpq_topk(enc, icents, ibooks, id_col, query, k=5, nprobe=2)
    import re

    plan = res._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan
    assert codes.select("cell").distinct().count() > 2  # pruning is real
    fly = ivfpq_topk(
        ivfpq_encode(emb, "embedding", cents, books),
        cents, books, "vec_id", query, k=5, nprobe=2,
    )
    assert [(r["vec_id"], r["pq_dist"]) for r in res.collect()] == [
        (r["vec_id"], r["pq_dist"]) for r in fly.collect()
    ]


def test_pandas_encode_survives_empty_partitions(spark):
    """mapInPandas sees empty Arrow batches whenever partitions outnumber
    rows — the encode kernel must pass them through, not np.stack([])."""
    from ddsketch_ruby_spark.operators.pq import ivfpq_encode

    cents, books = _seeded_model()
    few = spark.createDataFrame(
        [(i, np.random.default_rng(i).normal(0, 0.125, 64).tolist())
         for i in range(3)],
        "vec_id long, embedding array<double>",
    ).repartition(16)  # 13+ empty partitions
    enc = pq_encode(few, "embedding", books)
    assert enc.count() == 3
    assert ivfpq_encode(few, "embedding", cents, books).count() == 3


def test_ann_topk_reranked_matches_bruteforce_when_exhaustive(spark, emb):
    """With exhaustive probes and a candidate pool big enough to hold the
    whole corpus, the composed path (ADC candidates -> exact cosine
    rerank) must EQUAL brute-force cosine_topk row for row — ranks, ids,
    and rounded sims."""
    from ddsketch_ruby_spark.operators.pq import ann_topk, ivfpq_encode
    from ddsketch_ruby_spark.operators.similarity import cosine_topk

    cents, books = _seeded_model()
    enc = ivfpq_encode(emb, "embedding", cents, books, keep=["vec_id"])
    n = emb.count()
    query = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]
    ]
    got = ann_topk(
        emb, "embedding", "vec_id", query, k=5, candidates=n,
        nprobe=len(cents), encoded=enc, centroids=cents, codebooks=books,
    ).collect()
    want = cosine_topk(emb, "embedding", "vec_id", query, k=5).collect()
    assert [(r["vec_id"], r["sim"], r["rank"]) for r in got] == [
        (r["vec_id"], r["sim"], r["rank"]) for r in want
    ]


def test_ann_topk_rerank_recall_geq_plain_adc(spark, emb):
    """The rerank composition's recall@5 against the exact top-5 must be
    >= the plain ADC top-5's recall, query by query (the candidates
    cushion can only ADD the true neighbors ADC misrates)."""
    from ddsketch_ruby_spark.operators.pq import (
        ann_topk,
        ivfpq_encode,
        ivfpq_topk,
    )
    from ddsketch_ruby_spark.operators.similarity import cosine_topk

    cents, books = _seeded_model()
    enc = ivfpq_encode(emb, "embedding", cents, books, keep=["vec_id"])
    qrows = emb.filter(F.col("vec_id") % 11 == 0).collect()[:5]
    for r in qrows:
        query = [float(x) for x in r["embedding"]]
        truth = {
            t["vec_id"]
            for t in cosine_topk(emb, "embedding", "vec_id", query, k=5).collect()
        }
        adc = {
            t["vec_id"]
            for t in ivfpq_topk(
                enc, cents, books, "vec_id", query, k=5, nprobe=len(cents)
            ).collect()
        }
        rr = {
            t["vec_id"]
            for t in ann_topk(
                emb, "embedding", "vec_id", query, k=5, candidates=50,
                nprobe=len(cents), encoded=enc, centroids=cents,
                codebooks=books,
            ).collect()
        }
        assert len(rr & truth) >= len(adc & truth), r["vec_id"]


def test_ann_topk_indexed_and_validation(spark, emb, tmp_path):
    """ann_topk over a persisted index (read_ivfpq_index) reranks from the
    pruned codes read, rejects an id column the index does not store, and
    rerank=False returns raw ADC output."""
    from pyspark.errors import AnalysisException

    from ddsketch_ruby_spark.operators.pq import (
        ann_topk,
        ivfpq_topk,
        ivfpq_write_index,
        read_ivfpq_index,
    )

    cents, books = _seeded_model()
    path = str(tmp_path / "annidx")
    ivfpq_write_index(emb, path, "embedding", "vec_id", cents, books)
    enc, icents, ibooks, id_col = read_ivfpq_index(spark, path)
    index = dict(encoded=enc, centroids=icents, codebooks=ibooks)
    query = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 2).collect()[0]["embedding"]
    ]
    got = ann_topk(
        emb, "embedding", id_col, query, k=5, candidates=20, nprobe=2,
        **index,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan
    got = got.collect()
    assert got[0]["vec_id"] == 2 and got[0]["sim"] == 1.0
    raw = ann_topk(
        emb, "embedding", id_col, query, k=5, nprobe=2, rerank=False,
        **index,
    )
    assert raw.columns == ["vec_id", "pq_dist"]
    assert [r["vec_id"] for r in raw.collect()] == [
        r["vec_id"]
        for r in ivfpq_topk(
            enc, icents, ibooks, id_col, query, k=5, nprobe=2
        ).collect()
    ]
    with pytest.raises(AnalysisException):
        ann_topk(emb, "embedding", "wrong_id", query, **index)
    with pytest.raises(ValueError):
        ann_topk(emb, "embedding", "vec_id", query)  # no index source


def test_ivfpq_ann_join_matches_per_query(spark, emb):
    """Batch join == per-query ivfpq_topk, bit-for-bit (ids AND rounded
    distances), at truncated AND exhaustive nprobe."""
    from ddsketch_ruby_spark.operators.pq import (
        ivfpq_ann_join,
        ivfpq_encode,
        ivfpq_topk,
    )

    cents, books = _seeded_model()
    enc = ivfpq_encode(emb, "embedding", cents, books, keep=["vec_id"])
    queries = emb.filter(F.col("vec_id") % 11 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    qrows = queries.collect()
    for nprobe in (2, len(cents)):
        joined = ivfpq_ann_join(
            enc, queries, cents, books, "vec_id", "qid", "qemb",
            k=5, nprobe=nprobe,
        ).collect()
        by_q: dict = {}
        for r in joined:
            by_q.setdefault(r["query_id"], []).append(
                (r["vec_id"], r["pq_dist"])
            )
        for qr in qrows:
            want = [
                (r["vec_id"], r["pq_dist"])
                for r in ivfpq_topk(
                    enc, cents, books, "vec_id",
                    [float(x) for x in qr["qemb"]], k=5, nprobe=nprobe,
                ).collect()
            ]
            assert by_q[qr["qid"]] == want, (qr["qid"], nprobe)


def test_ivfpq_ann_join_indexed_prunes_and_matches_fly(spark, emb, tmp_path):
    from ddsketch_ruby_spark.operators.pq import (
        ivfpq_ann_join,
        ivfpq_encode,
        ivfpq_write_index,
        read_ivfpq_index,
    )

    cents, books = _seeded_model()
    path = str(tmp_path / "annjoinidx")
    ivfpq_write_index(emb, path, "embedding", "vec_id", cents, books)
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    idx, icents, ibooks, id_col = read_ivfpq_index(spark, path)
    res = ivfpq_ann_join(
        idx, queries, icents, ibooks, id_col, "qid", "qemb", k=5, nprobe=2
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan
    enc = ivfpq_encode(emb, "embedding", cents, books, keep=["vec_id"])
    fly = ivfpq_ann_join(
        enc, queries, cents, books, "vec_id", "qid", "qemb", k=5, nprobe=2
    )
    assert sorted(
        [(r["query_id"], r["vec_id"], r["pq_dist"], r["rank"]) for r in res.collect()],
        key=lambda t: (t[0], t[3]),
    ) == sorted(
        [(r["query_id"], r["vec_id"], r["pq_dist"], r["rank"]) for r in fly.collect()],
        key=lambda t: (t[0], t[3]),
    )


def test_ann_join_topk_matches_per_query_ann_topk(spark, emb):
    """Batch rerank == per-query ann_topk at truncated candidates/nprobe
    (same seeded model, same k): ids, sims, and ranks, query by query."""
    from ddsketch_ruby_spark.operators.pq import (
        ann_join_topk,
        ann_topk,
        ivfpq_encode,
    )

    cents, books = _seeded_model()
    enc = ivfpq_encode(emb, "embedding", cents, books, keep=["vec_id"])
    queries = emb.filter(F.col("vec_id") % 11 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    got: dict = {}
    for r in ann_join_topk(
        emb, enc, queries, cents, books, "embedding", "vec_id",
        "qid", "qemb", k=5, candidates=20, nprobe=2,
    ).collect():
        got.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["sim"], r["rank"])
        )
    for qr in queries.collect():
        want = [
            (r["vec_id"], r["sim"], r["rank"])
            for r in ann_topk(
                emb, "embedding", "vec_id",
                [float(x) for x in qr["qemb"]], k=5, candidates=20,
                nprobe=2, encoded=enc, centroids=cents, codebooks=books,
            ).collect()
        ]
        assert got[qr["qid"]] == want, qr["qid"]


def test_ivfpq_ann_join_empty_queries(spark, emb):
    from ddsketch_ruby_spark.operators.pq import ivfpq_ann_join, ivfpq_encode

    cents, books = _seeded_model()
    enc = ivfpq_encode(emb, "embedding", cents, books, keep=["vec_id"])
    queries = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    out = ivfpq_ann_join(
        enc, queries, cents, books, "vec_id", "qid", "qemb", k=3, nprobe=2
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "pq_dist", "rank"]


def test_ann_join_topk_indexed_matches_in_memory(spark, emb, tmp_path):
    """Persisted-index batch rerank == in-memory batch rerank, and the
    candidate stage still partition-prunes."""
    from ddsketch_ruby_spark.operators.pq import (
        ann_join_topk,
        ivfpq_encode,
        ivfpq_write_index,
        read_ivfpq_index,
    )

    cents, books = _seeded_model()
    path = str(tmp_path / "annrrkidx")
    ivfpq_write_index(emb, path, "embedding", "vec_id", cents, books)
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    idx, icents, ibooks, id_col = read_ivfpq_index(spark, path)
    res = ann_join_topk(
        emb, idx, queries, icents, ibooks, "embedding", id_col,
        "qid", "qemb", k=5, candidates=20, nprobe=2,
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan
    enc = ivfpq_encode(emb, "embedding", cents, books, keep=["vec_id"])
    fly = ann_join_topk(
        emb, enc, queries, cents, books, "embedding", "vec_id",
        "qid", "qemb", k=5, candidates=20, nprobe=2,
    )
    key = lambda t: (t[0], t[3])  # noqa: E731
    assert sorted(
        [(r["query_id"], r["vec_id"], r["sim"], r["rank"]) for r in res.collect()],
        key=key,
    ) == sorted(
        [(r["query_id"], r["vec_id"], r["sim"], r["rank"]) for r in fly.collect()],
        key=key,
    )
    # every query's rank-1 is itself at sim 1.0 (queries drawn from corpus)
    top1 = {r["query_id"]: (r["vec_id"], r["sim"]) for r in res.collect() if r["rank"] == 1}
    assert all(v == (q, 1.0) for q, v in top1.items())
