"""Product quantization (PQ) for embedding compression + ANN search.

Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): split each d-dim vector into ``m`` subspaces of
d/m dims, quantize every subspace independently against its own
``codebook_size``-entry codebook, and answer queries with ASYMMETRIC
distance computation (ADC) — the query stays un-quantized, each
subspace's partial squared distances to all codebook entries are
precomputed into a lookup table, and a corpus vector's approximate
distance is the sum of m table lookups over its stored codes.

Compression at 10^12 docs: a 64-dim float32 vector is 256 B; its PQ code
at m=8, codebook_size=256 is 8 B — a 32x smaller scan side. The codes are
computed ONCE at ingest (pq_encode), the codebook is a tiny plan-time
constant (m * codebook_size * d/m doubles), and queries never touch the
raw vectors (rerank against the originals only for the final top-k if
exactness matters — compose with cosine_topk over the candidate ids).

Determinism discipline (what makes the driver gate bit-exact): encode
distances are LEFT-FOLD sums starting at 0.0 — the encode kernel's exact
near-tie repair (_gemm_argmin_exact), the same explicit chain in SQL, and
a sequential Python fold for the ADC lookup table — so every engine
computes the identical doubles and argmin ties break identically
(first/lowest code). Codebooks are float64 constants; float32 embedding
values widen exactly.

One encoder (the fused Arrow kernel behind ivfpq_encode; pq_encode is its
one-cell case) and one function per query shape: per-query ADC
(ivfpq_topk), batch ADC (ivfpq_ann_join), and their exact-rerank
compositions (ann_topk, ann_join_topk). Each takes the codes frame as an
input, so an in-memory ivfpq_encode output and a persisted index opened
with read_ivfpq_index are served by the same code.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .agg import _drops_zip_finders

__all__ = [
    "pq_codebook",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "pq_adc_lut",
    "ivfpq_encode",
    "ivfpq_topk",
    "ivfpq_write_index",
    "read_ivfpq_index",
    "ann_topk",
    "ann_join_topk",
    "ivfpq_ann_join",
]


def _check_geometry(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(f"dim={dim} must be divisible by m={m} subspaces")
    return dim // m


def pq_codebook(
    dim: int,
    m: int = 8,
    codebook_size: int = 16,
    seed: int = 42,
    scale: float = 0.125,
) -> np.ndarray:
    """Seeded data-independent codebook: (m, codebook_size, dim//m)
    Gaussian entries with per-coordinate std ``scale`` (0.125 matches
    unit-norm 64-dim embeddings, where E[x^2] = 1/64). A plan-time
    constant reproducible from (dim, m, codebook_size, seed) alone — the
    same role the seeded hyperplanes play for LSH, and what lets the
    driver oracle replay encode + ADC without retraining anything.
    pq_train produces better codebooks from data; the pipeline is
    identical either way."""
    dsub = _check_geometry(dim, m)
    rng = np.random.default_rng(seed)
    return rng.normal(0.0, scale, size=(m, codebook_size, dsub))


def pq_train(
    df: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    codebook_size: int = 16,
    iters: int = 10,
    sample_fraction: float = 0.2,
    sample_limit: int = 20000,
    seed: int = 42,
) -> np.ndarray:
    """Train per-subspace codebooks: k-means (k-means++ seeding, Lloyd
    iterations — operators/similarity.py kmeans_np) independently on each
    of the m coordinate blocks of a bounded driver-side sample. Returns
    (m, codebook_size, dim//m). Training cost is corpus-size-independent
    (same sample-bounding argument as ivf_train)."""
    dsub = _check_geometry(dim, m)
    from .similarity import kmeans_np

    sample = np.array(
        df.select(vec_col)
        .sample(fraction=sample_fraction, seed=seed)
        .limit(sample_limit)
        .collect()
    )[:, 0]
    sample = np.stack([np.asarray(v, dtype=np.float64) for v in sample])
    if sample.shape[1] != dim:
        raise ValueError(f"vectors have dim {sample.shape[1]}, expected {dim}")
    rng = np.random.default_rng(seed)
    books = [
        kmeans_np(sample[:, s * dsub : (s + 1) * dsub], codebook_size, iters, rng)
        for s in range(m)
    ]
    return np.stack(books)


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: np.ndarray,
    code_col: str = "pq_code",
) -> DataFrame:
    """Adds the m-entry PQ code array (nearest codebook entry per
    subspace, squared-L2, ties to the lowest code). This is the one-cell
    case of the IVF-PQ kernel (ivfpq_encode): one all-zero coarse
    centroid makes every residual v - 0.0 == v exactly, so the codes are
    the raw-vector codes, computed by the same vectorized Arrow batch
    kernel that serves production codebook sizes (m=8..16,
    codebook_size=256)."""
    m, _, dsub = codebooks.shape
    return ivfpq_encode(
        df, vec_col, np.zeros((1, m * dsub)), codebooks, "__cell", code_col
    ).drop("__cell")


def _gemm_pre(book: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    b32 = book.astype(np.float32)
    return np.ascontiguousarray(b32.T), np.einsum("kd,kd->k", b32, b32)


def _gemm_argmin_exact(
    sub: np.ndarray, book: np.ndarray, book_t32: np.ndarray, c2_32: np.ndarray
) -> np.ndarray:
    """Nearest-centroid argmin with the EXACT-fold tie discipline at GEMM
    speed: candidate distances via the float32 expansion
    ||x||^2 - 2 x.c + ||c||^2 (a single SGEMM + one (n, k) pass — the
    float64 (n, k, dsub) broadcast form is memory-bandwidth-bound,
    BENCH/kernel_vectorization.md), then every row whose top-2 float32
    margin is inside 1e-3 relative (plus 1e-4 of ||x||^2 + max ||c||^2)
    is RE-RESOLVED with the exact float64 (x - c)^2 computation. The
    expansion's float32 error is ~1e-6 of ||x||^2 + ||c||^2, so outside
    that margin the float32 order IS the exact order; inside
    it the repair recomputes all k distances as the ordered left fold
    over the dims (the fold every oracle computes), ties -> lowest code.
    NumPy's ``.sum`` would not do: it adds 8 or more terms pairwise, which
    moves near-ties by an ulp. ~8x less memory traffic than the float64
    broadcast."""
    n = len(sub)
    k = book.shape[0]
    if k == 1:
        return np.zeros(n, dtype=np.int32)
    s32 = sub.astype(np.float32)
    x2 = np.einsum("nd,nd->n", s32, s32)
    d = x2[:, None] - np.float32(2.0) * (s32 @ book_t32) + c2_32[None, :]
    idx2 = np.argpartition(d, 1, axis=1)[:, :2]
    rows = np.arange(n)
    v2 = np.take_along_axis(d, idx2, axis=1)
    first = v2.argmin(1)
    vmin = v2[rows, first]
    vsec = v2[rows, 1 - first]
    cand = idx2[rows, first].astype(np.int32)
    # the expansion's float32 error scales with ||x||^2 + ||c||^2, not with
    # the distance: data far from the origin needs the second term
    amb = (vsec - vmin) <= np.float32(1e-3) * np.maximum(
        np.float32(1.0), np.abs(vmin)
    ) + np.float32(1e-4) * (x2 + c2_32.max())
    if amb.any():
        diff = sub[amb][:, None, :] - book[None, :, :]
        dex = diff[..., 0] * diff[..., 0]
        for j in range(1, diff.shape[2]):
            dex = dex + diff[..., j] * diff[..., j]
        cand[amb] = dex.argmin(1).astype(np.int32)
    return cand


def pq_adc_lut(
    codebooks: np.ndarray, query: Sequence[float]
) -> list[list[float]]:
    """The ADC lookup table: lut[s][c] = squared L2 between the query's
    s-th subspace block and codebook entry c, computed as the SEQUENTIAL
    left fold starting at 0.0 (Python floats are IEEE doubles) so it is
    bit-identical to the encode kernel's exact fold and to the SQL
    oracle's explicit addition chain."""
    m, k, dsub = codebooks.shape
    q = [float(x) for x in query]
    if len(q) != m * dsub:
        raise ValueError(f"query has dim {len(q)}, expected {m * dsub}")
    lut: list[list[float]] = []
    for s in range(m):
        row = []
        for c in range(k):
            acc = 0.0
            for j in range(dsub):
                diff = q[s * dsub + j] - float(codebooks[s, c, j])
                acc = acc + diff * diff
            row.append(acc)
        lut.append(row)
    return lut


def pq_topk(
    encoded: DataFrame,
    codebooks: np.ndarray,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    code_col: str = "pq_code",
    round_to: int = 6,
) -> DataFrame:
    """ADC top-k over PQ codes: the approximate squared distance is the
    sum of m lookup-table entries selected by the stored codes — a pure
    column expression over the (id, code) projection; the raw vectors are
    never read. Plan: TakeOrderedAndProject on (distance, id) — per-
    partition partial top-k, k-row driver reduction, no full sort, no
    shuffle of vectors (the module's 100 TB shape). Returns
    (id, pq_dist) ascending."""
    m = codebooks.shape[0]
    lut = pq_adc_lut(codebooks, query)
    score = F.lit(0.0)
    for s in range(m):
        lut_arr = F.array(*[F.lit(x) for x in lut[s]])
        score = score + F.element_at(lut_arr, F.col(code_col)[s] + 1)
    return (
        encoded.select(F.col(id_col), score.alias("__d"))
        .orderBy(F.col("__d").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round("__d", round_to).alias("pq_dist"))
    )


def ivfpq_encode(
    df: DataFrame,
    vec_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
    keep: list[str] | None = None,
) -> DataFrame:
    """IVF-PQ ingest (the FAISS IVFPQ layout): assign each vector to its
    nearest coarse centroid, then PQ-encode the RESIDUAL v - centroid[cell].
    Residual energy is a fraction of vector energy, so the same codebook
    budget quantizes much finer than raw-vector PQ. The stored index row
    is (id, cell, m codes) — at production sizes ~12 B against a 256 B
    vector; ivfpq_write_index persists it partitioned by cell for pruned
    probes.

    One fused Arrow kernel: assignment, residual and codes in a single
    pass over each batch (one vector transfer, GEMM argmins with the exact
    left-fold repair on near-ties — _gemm_argmin_exact). Spark's
    higher-order array lambdas run INTERPRETED per element (~63k rows/s
    for a 16-cell assignment as column expressions), and an expression
    plan grows with m * codebook_size, so no expression encoder exists.

    ``keep``: project the output to these passthrough columns + (cell,
    codes), and prune the INPUT scan to keep+vec — the index-build path
    (ivfpq_write_index) passes [id_col] so the 256 B vector column is
    neither re-serialized out of the kernel nor carried to the writer."""
    if keep is not None:
        df = df.select(*keep, vec_col)
    m, k, dsub = codebooks.shape
    cents = np.asarray(centroids, dtype=np.float64)
    cents_pre = _gemm_pre(cents)
    books = codebooks.copy()
    pre = [_gemm_pre(books[s]) for s in range(m)]
    carried = [f for f in df.schema.fields if keep is None or f.name != vec_col]
    out_schema = T.StructType(
        carried
        + [
            T.StructField(cell_col, T.IntegerType()),
            T.StructField(code_col, T.ArrayType(T.IntegerType())),
        ]
    )
    carry_names = [f.name for f in carried]

    def fused(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                # mapInPandas sees empty Arrow batches whenever partitions
                # outnumber rows — pass them through, typed
                out = pdf[carry_names].copy()
                out[cell_col] = pd.Series([], dtype=np.int32)
                out[code_col] = pd.Series([], dtype=object)
                yield out
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(
                np.float64, copy=False
            )
            # coarse assignment + residual + codes, one pass
            cell = _gemm_argmin_exact(vecs, cents, *cents_pre)
            resid = vecs - cents[cell]
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for s in range(m):
                sub = resid[:, s * dsub : (s + 1) * dsub]
                codes[:, s] = _gemm_argmin_exact(sub, books[s], *pre[s])
            out = pdf[carry_names].copy()
            out[cell_col] = cell.astype(np.int32)
            out[code_col] = list(codes)
            yield out

    return df.mapInPandas(_drops_zip_finders(fused), schema=out_schema)


def ivfpq_topk(
    encoded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
    round_to: int = 6,
) -> DataFrame:
    """ADC top-k over an IVF-PQ index: probe the ``nprobe`` cells nearest
    the query; within each probed cell score codes against that CELL'S
    lookup table (built on the query residual q - centroid[cell] — the
    table differs per cell, which is why the per-cell frames union rather
    than sharing one expression). Only (id, cell, code) columns are read;
    with a cell-partitioned index the non-probed cells are pruned at
    planning time. nprobe = len(centroids) is exhaustive — exact ADC
    ranking over the whole index (the driver-gate mode).

    The per-cell frames each re-reference ``encoded``: a persisted index
    (read_ivfpq_index) turns that into nprobe partition-pruned reads
    (``PartitionFilters: [cell ...]``), but an in-memory ivfpq_encode plan
    would re-run the encode kernel once per probed cell —
    localCheckpoint/persist it first (the driver gates' pattern)."""
    from .similarity import _probe_cells

    m = codebooks.shape[0]
    probes = _probe_cells(centroids, query, nprobe)
    q = [float(x) for x in query]
    frames = []
    for c in probes:
        rq = [q[i] - float(centroids[c][i]) for i in range(len(q))]
        lut = pq_adc_lut(codebooks, rq)
        score = F.lit(0.0)
        for s in range(m):
            lut_arr = F.array(*[F.lit(x) for x in lut[s]])
            score = score + F.element_at(lut_arr, F.col(code_col)[s] + 1)
        frames.append(
            encoded.filter(F.col(cell_col) == c).select(
                F.col(id_col), score.alias("__d")
            )
        )
    un = frames[0]
    for f in frames[1:]:
        un = un.unionByName(f)
    return (
        un.orderBy(F.col("__d").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round("__d", round_to).alias("pq_dist"))
    )


def ivfpq_write_index(
    df: DataFrame,
    path: str,
    vec_col: str,
    id_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
) -> None:
    """Persist an IVF-PQ index: (id, cell, codes) rows PARTITIONED BY
    cell, with centroids + codebooks stored alongside (model.json — the
    layout lsh_write_index uses). The raw vectors are NOT
    written: the index row is ~12 B, so the persisted index is ~20x
    smaller than the corpus' vector column and every query is a
    partition-pruned read of nprobe cells OVER CODES ONLY — the combined
    IVF (read less) and PQ (read smaller) 100 TB shape. Pass trained
    (ivf_train, pq_train) or seeded components; read_ivfpq_index opens
    the layout as query input, and queries recompute nothing."""
    import json

    enc = ivfpq_encode(
        df, vec_col, centroids, codebooks, cell_col="cell", keep=[id_col]
    )
    enc.write.partitionBy("cell").mode("overwrite").parquet(f"{path}/codes")
    meta = {
        "centroids": centroids.tolist(),
        "codebooks": codebooks.tolist(),
        "id_col": id_col,
    }
    spark = df.sparkSession
    spark.createDataFrame([(json.dumps(meta),)], "meta string").coalesce(
        1
    ).write.mode("overwrite").text(f"{path}/model.json")


def read_ivfpq_index(
    spark, path: str
) -> tuple[DataFrame, np.ndarray, np.ndarray, str]:
    """Open an ivfpq_write_index layout as query input: returns
    (encoded, centroids, codebooks, id_col). ``encoded`` is the persisted
    (id, cell, codes) frame with ``cell`` renamed to ivfpq_encode's
    ``ivf_cell``, so it drops into ivfpq_topk, ivfpq_ann_join, ann_topk and
    ann_join_topk with their default column names. A filter on the
    renamed column still plans as a partition filter (``PartitionFilters:
    [cell IN ...]``), so those operators read only the probed cells. The
    constants come from model.json — one bounded driver-side read of the
    one-line text file."""
    import json

    meta = json.loads(
        spark.read.text(f"{path}/model.json").collect()[0].value
    )
    encoded = spark.read.parquet(f"{path}/codes").withColumnRenamed(
        "cell", "ivf_cell"
    )
    return (
        encoded,
        np.asarray(meta["centroids"], dtype=np.float64),
        np.asarray(meta["codebooks"], dtype=np.float64),
        meta["id_col"],
    )


def _adc_score(codebooks: np.ndarray, code_col: str):
    """ADC score column: m lookups into the broadcast __lut row, summed in
    subspace order (the ordered fold — bit-identical doubles to the
    per-query ivfpq_topk path)."""
    m, ksz, _ = codebooks.shape
    score = F.lit(0.0)
    for s in range(m):
        score = score + F.element_at(
            F.col("__lut"), s * ksz + F.col(code_col)[s] + 1
        )
    return score


def _exact_rerank(
    df: DataFrame,
    cand: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int,
    round_to: int,
) -> DataFrame:
    """Exact-cosine rerank of a bounded (query_id, id) candidate relation
    against the ORIGINAL vectors: ONE broadcast hash join restricts ``df``
    to candidate rows, so the candidate stage is computed once and the
    corpus scanned once (a distinct-id semi-join precursor would re-execute
    the entire candidate plan a second time for its build side); norms are
    computed post-join on survivors only. Scoring reuses the gated
    batch-join path (_score_and_rank: left-fold dot / (__vn * __qn),
    per-query window). Returns (query_id, id, sim, rank)."""
    from .similarity import _score_and_rank, _sqnorm_col

    pairs = (
        F.broadcast(cand)
        .join(df.select(F.col(id_col), F.col(vec_col)), id_col)
        .withColumn("__vn", _sqnorm_col(vec_col))
    )
    qv = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qv"),
    ).withColumn("__qn", _sqnorm_col("__qv"))
    joined = pairs.join(F.broadcast(qv), "query_id")
    return _score_and_rank(joined, vec_col, id_col, k, round_to)


def ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    candidates: int = 100,
    nprobe: int = 4,
    rerank: bool = True,
    encoded: DataFrame | None = None,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
    round_to: int = 6,
) -> DataFrame:
    """One-call reranked ANN — the composition SCALE.md and the PQ
    docstrings previously left to the user: IVF-PQ ADC candidate
    generation over the compressed index, then an EXACT cosine rerank of
    the ``candidates`` survivors against the ORIGINAL vectors. Returns
    (id, sim, rank) descending — cosine_topk's schema, so swapping
    brute-force search for indexed search is a one-line change.

    Index source: ``encoded`` + ``centroids`` + ``codebooks`` — an
    in-memory ivfpq_encode output, or a persisted index opened with
    read_ivfpq_index (codes read partition-pruned to the nprobe probe
    cells).

    Scale shape: stage 1 reads ~12 B (id, cell, codes) rows from nprobe
    cells only and reduces them to ``candidates`` ids via
    TakeOrderedAndProject; stage 2 broadcast-semi-joins those ids against
    the raw vector table — the ONLY rows whose 256 B vectors are ever
    read are the candidates (with a parquet corpus the id filter pushes
    down), and the exact cosine runs over ``candidates`` rows, not the
    corpus. Recall: the planted/top-1 neighbor survives whenever it is in
    the ADC top-``candidates`` — a 10-20x cushion over k at ~zero cost,
    after which the exact rerank restores the true order; the composed
    path's recall is >= plain ADC top-k recall (pytest-pinned) and sits
    under its own planted-recall driver gate. ``rerank=False`` returns
    the raw ADC top-k (pq_dist ascending) unchanged."""
    if encoded is None or centroids is None or codebooks is None:
        raise ValueError(
            "pass encoded, centroids and codebooks (ivfpq_encode output "
            "or read_ivfpq_index)"
        )
    cand = ivfpq_topk(
        encoded,
        centroids,
        codebooks,
        id_col,
        query,
        k=candidates if rerank else k,
        nprobe=nprobe,
        cell_col=cell_col,
        code_col=code_col,
        round_to=round_to,
    )
    if not rerank:
        return cand
    from .similarity import cosine_topk

    survivors = df.join(
        F.broadcast(cand.select(id_col)), id_col, "left_semi"
    )
    return cosine_topk(survivors, vec_col, id_col, query, k=k,
                       round_to=round_to)


def _ivfpq_probe_frame(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int,
):
    """Driver-built (query_id, cell, flattened ADC LUT) probe rows for the
    batch ANN join. The collect is the bounded QUERY workload (same budget
    class as the _planted_recall harness): |queries| x nprobe rows x
    m*codebook_size doubles — a few hundred KB for thousands of queries.
    LUT entries use pq_adc_lut's sequential left fold, so the scored
    doubles stay bit-identical to the per-query ivfpq_topk path. A bad
    ``nprobe`` raises before the query collect runs."""
    from .similarity import _check_nprobe, _probe_cells

    _check_nprobe(len(centroids), nprobe)

    qrows = queries.select(query_id_col, query_vec_col).collect()
    id_field = next(
        f for f in queries.schema.fields if f.name == query_id_col
    )
    rows = []
    for r in qrows:
        q = [float(x) for x in r[query_vec_col]]
        for c in _probe_cells(centroids, q, nprobe):
            rq = [q[i] - float(centroids[c][i]) for i in range(len(q))]
            lut = pq_adc_lut(codebooks, rq)
            rows.append(
                (r[query_id_col], int(c), [x for sub in lut for x in sub])
            )
    schema = T.StructType(
        [
            T.StructField("query_id", id_field.dataType),
            T.StructField("__cell", T.IntegerType(), False),
            T.StructField("__lut", T.ArrayType(T.DoubleType(), False), False),
        ]
    )
    return rows, schema


def ivfpq_ann_join(
    encoded: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 10,
    nprobe: int = 4,
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
    round_to: int = 6,
) -> DataFrame:
    """Batch ADC ANN over an IVF-PQ index: the nprobe-cell top-k for every
    row of ``queries`` in ONE job — the IVF-PQ member of the ann-join
    family (lsh_ann_join / ivf_ann_join). Plan shape: the per-(query,
    probed-cell) residual lookup tables are built driver-side from the
    bounded query workload and BROADCAST as thin (query_id, cell, lut)
    rows; one hash join on the cell key scores every candidate code with
    its own cell's table (m array lookups, the ordered fold — bit-
    identical doubles to per-query ivfpq_topk, pytest-pinned); a
    per-query window ranks the survivors. The corpus side reads ONLY
    (id, cell, codes) — ~12 B/row — and is scanned once for all queries.

    The corpus side is filtered on the LITERAL union of probed cells
    (built driver-side with the probe rows, bounded by n_cells): on a
    persisted index (read_ivfpq_index) that is a partition filter — a join
    on the cell column alone does not prune statically — and on an
    in-memory frame it drops only rows no probe could join. Returns
    (query_id, id, pq_dist, rank) ascending per query."""
    rows, schema = _ivfpq_probe_frame(
        queries, query_id_col, query_vec_col, centroids, codebooks, nprobe
    )
    cells = sorted({r[1] for r in rows})
    spark = encoded.sparkSession
    probes = F.broadcast(spark.createDataFrame(rows, schema))
    codes = encoded.filter(F.col(cell_col).isin(cells))
    cand = codes.join(probes, F.col(cell_col) == F.col("__cell"))
    return _adc_rank(cand, id_col, _adc_score(codebooks, code_col), k,
                     round_to)


def _adc_rank(cand, id_col: str, score, k: int, round_to: int):
    """Per-query ADC ranking with ivfpq_topk's tie discipline: rank on the
    UNROUNDED score (ties to the lowest id), round only in the output."""
    from pyspark.sql import Window

    scored = cand.select("query_id", F.col(id_col), score.alias("__d"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("__d").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            F.round("__d", round_to).alias("pq_dist"),
            "rank",
        )
    )


def ann_join_topk(
    df: DataFrame,
    encoded: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 10,
    candidates: int = 100,
    nprobe: int = 4,
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
    round_to: int = 6,
) -> DataFrame:
    """Batch reranked ANN — ann_topk's composition for N queries in ONE
    job: ivfpq_ann_join produces each query's ADC top-``candidates`` from
    the compressed index (codes-only corpus scan), then the survivors'
    ORIGINAL vectors are read once via a broadcast semi-join of the
    candidate id set and reranked by exact cosine per query. Returns
    (query_id, id, sim, rank) — lsh_ann_join's schema, so the PQ-backed
    pipeline is a drop-in for the uncompressed batch joins.

    Scale shape: the corpus' vector column is touched for at most
    |queries| x candidates rows (the broadcast candidate relation bounds
    the join output); everything upstream moves ~12 B code rows, the
    candidate stage is computed ONCE, and the corpus is scanned once
    (_exact_rerank)."""
    cand = ivfpq_ann_join(
        encoded, queries, centroids, codebooks, id_col,
        query_id_col, query_vec_col,
        k=candidates, nprobe=nprobe, cell_col=cell_col, code_col=code_col,
        round_to=round_to,
    ).select("query_id", id_col)
    return _exact_rerank(df, cand, queries, vec_col, id_col,
                         query_id_col, query_vec_col, k, round_to)
