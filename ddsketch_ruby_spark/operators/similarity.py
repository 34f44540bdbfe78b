"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k neighbors — the correctness
  baseline. All math is JVM-side (zip_with/aggregate inside whole-stage
  codegen); the query vector is a broadcast literal, so the plan is a
  single scan + TopK sort: embarrassingly parallel, no shuffle except the
  final k-row reduction.
- lsh_topk: the scale path — random-hyperplane (SimHash) bucketing with
  multi-probe: candidates restricted to matching buckets, then exact
  rerank. At 100 TB the bucket column is precomputed/partitioned-by so a
  query touches only matching partitions (partition pruning), turning a
  full-corpus scan into a bucket lookup — that persisted shape is
  lsh_write_index / lsh_topk_indexed below.
- ivf_topk: IVF-style coarse quantizer — k-means centroids (k-means++ init,
  several Lloyd iterations, empty-cell reseeding) trained on a driver-side
  sample — + nprobe nearest cells, exact rerank within cells.
- lsh_ann_join / ivf_ann_join: the batch shapes — N queries in one job.

The persisted cell-partitioned index is the IVF-PQ one (operators/pq.py
ivfpq_write_index / read_ivfpq_index): it stores ~12 B codes per vector
instead of the vectors, and its query operators take it as an input.
"""

from __future__ import annotations

import json
import math
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "cosine_topk",
    "lsh_bucket",
    "lsh_topk",
    "lsh_write_index",
    "lsh_topk_indexed",
    "lsh_ann_join",
    "ivf_train",
    "ivf_assign",
    "ivf_topk",
    "ivf_ann_join",
]


def _doubles(vec_col: str):
    """An array column cast element-wise to double."""
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _dot_col(a, b):
    """Dot product of two array columns as the left-to-right JVM fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sqnorm_col(vec_col: str):
    """L2 norm of an array column as the left-to-right JVM fold."""
    return F.sqrt(
        F.aggregate(
            F.transform(_doubles(vec_col), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _dist2_col(vec_col: str, cent: np.ndarray):
    """Squared L2 distance from an array column to a literal centroid as
    the left-to-right JVM fold (the one IVF cell distance)."""
    carr = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(
        F.zip_with(_doubles(vec_col), carr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine_col(vec_col: str, query: Sequence[float]):
    """Cosine similarity between an array column and a literal query vector,
    computed in float64 JVM-side."""
    q = [float(x) for x in query]
    qnorm = math.sqrt(sum(x * x for x in q))
    qarr = F.array(*[F.lit(x) for x in q])
    dot = _dot_col(_doubles(vec_col), qarr)
    return dot / (_sqnorm_col(vec_col) * F.lit(qnorm))


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity; deterministic
    tie-break on id. Returns (id, sim, rank).

    The selection is orderBy().limit(k) — Spark plans it as
    TakeOrderedAndProject: each partition keeps its own k best and only
    those k-per-partition rows reach the driver-side merge, so no global
    shuffle ever happens. (A bare row_number() window with no partitionBy
    would move EVERY row into one task — the single-partition WindowExec
    trap.) The rank window then runs over just the k survivors."""
    sim = F.round(_cosine_col(vec_col, query), round_to).alias("sim")
    top = (
        df.select(F.col(id_col), sim)
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )
    w = F.row_number().over(Window.orderBy(F.desc("sim"), F.col(id_col)))
    return top.withColumn("rank", w).select(id_col, "sim", "rank")


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket(
    df: DataFrame, vec_col: str, dim: int, n_planes: int = 16, seed: int = 42
) -> DataFrame:
    """Adds a random-hyperplane LSH bucket column (int). Sign pattern of
    n_planes dot products — JVM-side arithmetic, no UDF."""
    planes = _hyperplanes(dim, n_planes, seed)
    v = _doubles(vec_col)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        dot = _dot_col(v, F.array(*[F.lit(float(x)) for x in plane]))
        bucket = bucket + F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return df.withColumn("lsh_bucket", bucket)


def _probe_masks(n_planes: int, max_hamming: int) -> list[int]:
    """XOR masks defining the multi-probe set: 0 (the bucket itself),
    every single-bit flip, and — at max_hamming 2 — every pair flip. The
    ONE definition of the probe neighborhood, shared by the per-query
    path (_lsh_probes) and the batch path (lsh_ann_join) so they cannot
    diverge."""
    masks = [0]
    if max_hamming >= 1:
        masks += [1 << i for i in range(n_planes)]
    if max_hamming >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return masks


def _lsh_probes(
    planes: np.ndarray, query: Sequence[float], max_hamming: int
) -> list[int]:
    """Multi-probe bucket set for a query: its own sign bucket plus every
    bucket within ``max_hamming`` flipped plane bits (_probe_masks)."""
    qsigns = (planes @ np.asarray(query, dtype=np.float64)) > 0
    qbucket = int(sum(1 << i for i, s in enumerate(qsigns) if s))
    return sorted({qbucket ^ m for m in _probe_masks(len(planes), max_hamming)})


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 12,
    max_hamming: int = 1,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: only rows whose hyperplane sign-bucket is within
    ``max_hamming`` bits of the query's bucket are scored (multi-probe
    LSH). Recall measured in tests vs cosine_topk. Recomputes the bucket
    column over the corpus per call — for repeated queries build a
    persisted index once (lsh_write_index) and query it partition-pruned
    (lsh_topk_indexed)."""
    dim = len(query)
    planes = _hyperplanes(dim, n_planes, seed)
    probes = _lsh_probes(planes, query, max_hamming)
    bucketed = lsh_bucket(df, vec_col, dim, n_planes, seed)
    cand = bucketed.filter(F.col("lsh_bucket").isin(probes))
    return cosine_topk(cand, vec_col, id_col, query, k, round_to)


def lsh_write_index(
    df: DataFrame,
    path: str,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    prefix_bits: int | None = None,
) -> np.ndarray:
    """Persist a hyperplane-LSH index: the corpus parquet PARTITIONED BY
    the sign bucket, with the plane parameters stored alongside
    (planes.json) so queries recompute nothing. Build once; every query
    then reads only its probe buckets via partition pruning — the module
    docstring's 100 TB shape, mirroring the IVF-PQ index
    (operators/pq.py ivfpq_write_index).

    Without ``prefix_bits``, ``n_planes`` is also the partition fan-out
    (2^n_planes directories): 8 planes -> 256 partitions; above 12 planes
    that layout is refused (directory explosion). At larger plane counts
    pass ``prefix_bits`` (<= 12): the layout partitions by the TOP
    ``prefix_bits`` bits of the bucket (``lsh_prefix``), bounding the
    directory count at 2^prefix_bits while the FULL bucket column stays
    in the data for the in-partition filter — queries prune to the
    distinct probe prefixes (multi-probe flips spread across all bit
    positions, so the ~n_planes single-flip probes collapse onto at most
    prefix_bits+1 distinct prefixes), then filter exact buckets inside
    the surviving partitions. Returns the planes matrix."""
    if prefix_bits is None and n_planes > 12:
        raise ValueError(
            "n_planes > 12 would create 2^n_planes partition directories; "
            "pass prefix_bits (<= 12) to partition by a bucket prefix"
        )
    if prefix_bits is not None and not (1 <= prefix_bits <= min(n_planes, 12)):
        raise ValueError(
            f"prefix_bits must be in [1, min(n_planes, 12)], got {prefix_bits}"
        )
    planes = _hyperplanes(dim, n_planes, seed)
    bucketed = lsh_bucket(df, vec_col, dim, n_planes, seed)
    if prefix_bits is None:
        bucketed.write.partitionBy("lsh_bucket").mode("overwrite").parquet(
            f"{path}/corpus"
        )
    else:
        bucketed.withColumn(
            "lsh_prefix",
            F.shiftrightunsigned(
                F.col("lsh_bucket").cast("long"), n_planes - prefix_bits
            ),
        ).write.partitionBy("lsh_prefix").mode("overwrite").parquet(
            f"{path}/corpus"
        )
    meta = {
        "planes": planes.tolist(),
        "vec_col": vec_col,
        "dim": dim,
        "n_planes": n_planes,
        "seed": seed,
        "prefix_bits": prefix_bits,
    }
    spark = df.sparkSession
    spark.createDataFrame([(json.dumps(meta),)], "meta string").coalesce(
        1
    ).write.mode("overwrite").text(f"{path}/planes.json")
    return planes


def lsh_topk_indexed(
    spark: SparkSession,
    path: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    max_hamming: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Query a persisted LSH index: the probe-bucket filter is on a
    PARTITION column, so Spark prunes all non-probed buckets at planning
    time (verify with .explain -> 'PartitionFilters: [lsh_bucket IN ...]');
    with max_hamming=1 over n_planes=8 a query reads 9/256 of the corpus
    instead of scanning it. Prefix-partitioned indexes (lsh_write_index
    with ``prefix_bits``) prune on the distinct PROBE PREFIXES
    ('PartitionFilters: [lsh_prefix IN ...]') and apply the exact bucket
    set as an ordinary pushed filter inside the surviving partitions."""
    raw = spark.read.text(f"{path}/planes.json").collect()
    meta = json.loads(raw[0].value)
    planes = np.asarray(meta["planes"], dtype=np.float64)
    probes = _lsh_probes(planes, query, max_hamming)
    corpus = spark.read.parquet(f"{path}/corpus")
    prefix_bits = meta.get("prefix_bits")
    if prefix_bits is not None:
        shift = meta["n_planes"] - prefix_bits
        prefixes = sorted({p >> shift for p in probes})
        corpus = corpus.filter(F.col("lsh_prefix").isin(prefixes))
    cand = corpus.filter(F.col("lsh_bucket").isin(probes))
    return cosine_topk(cand, meta["vec_col"], id_col, query, k, round_to)


def lsh_ann_join(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    query_vec_col: str,
    *,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    max_hamming: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """BATCH multi-probe ANN: the per-query top-k for EVERY row of a
    ``queries`` DataFrame in one distributed job — the production shape
    for "N thousand queries against the corpus", where looping
    lsh_topk per query would launch N jobs and rescan the corpus N
    times. Returns (query_id, id, sim, rank), rank 1..k per query,
    ties broken on id.

    Plan shape at corpus scale: the corpus is scanned ONCE, bucketed by
    the JVM hyperplane expression (no UDF); each query expands to its
    1 + n_planes (+ pairs, at max_hamming=2) probe buckets — a thin
    (query_id, probe, query_vec) frame that is broadcast (queries are
    typically thousands of rows against a corpus of billions) — so
    candidate generation is a broadcast hash join with NO corpus
    shuffle. Norms are computed ONCE per corpus row and once per query
    (8 B columns through the join), never per candidate; the dot product is the same JVM fold as cosine_topk, and
    the final top-k window partitions BY QUERY (hash distributed, sized
    by |candidates| — never the single-partition WindowExec trap).

    Probe masks are _probe_masks — the same definition the per-query
    path expands — and the query's base bucket uses the same JVM fold
    that buckets the corpus, so a batch row equals lsh_topk's answer
    for that query. (The per-query path computes the base bucket with
    numpy planes@query instead; the two folds can disagree on the sign
    of a dot product only within rounding error of zero, so exact
    equality holds for any query not astride a hyperplane.)"""
    bc = lsh_bucket(corpus, vec_col, dim, n_planes, seed).withColumn(
        "__vn", _sqnorm_col(vec_col)
    )
    probes = _query_probe_frame(
        queries, query_id_col, query_vec_col, dim, n_planes, seed,
        max_hamming,
    )
    cand = bc.join(probes, F.col("lsh_bucket") == F.col("__probe"))
    return _score_and_rank(cand, vec_col, id_col, k, round_to)


def _query_probe_frame(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    dim: int,
    n_planes: int,
    seed: int,
    max_hamming: int,
) -> DataFrame:
    """(query_id, __qv, __qn, __probe) — each query exploded over its
    _probe_masks neighborhood, base bucket computed with the same JVM
    fold that buckets the corpus (lsh_ann_join)."""
    if max_hamming > 2:
        raise ValueError("max_hamming > 2 not supported (probe explosion)")
    masks = _probe_masks(n_planes, max_hamming)
    qb = lsh_bucket(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qv"),
        ),
        "__qv",
        dim,
        n_planes,
        seed,
    ).withColumn("__qn", _sqnorm_col("__qv"))
    probes = qb.select(
        "query_id",
        "__qv",
        "__qn",
        F.explode(
            F.array(
                *[
                    F.col("lsh_bucket").bitwiseXOR(F.lit(m).cast("long"))
                    for m in masks
                ]
            )
        ).alias("__probe"),
    )
    return F.broadcast(probes)


def _score_and_rank(
    cand: DataFrame, vec_col: str, id_col: str, k: int, round_to: int
) -> DataFrame:
    """Cosine from precomputed norms (__vn, __qn) + per-query top-k."""
    dot = _dot_col(_doubles(vec_col), _doubles("__qv"))
    sim = F.round(dot / (F.col("__vn") * F.col("__qn")), round_to)
    scored = cand.select("query_id", F.col(id_col), sim.alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "sim", "rank")
    )


def ivf_train(
    df: DataFrame,
    vec_col: str,
    n_cells: int = 16,
    iters: int = 10,
    sample_fraction: float = 0.2,
    sample_limit: int = 20000,
    seed: int = 42,
) -> np.ndarray:
    """Train IVF coarse centroids: k-means on a driver-side sample with
    k-means++ seeding, ``iters`` Lloyd iterations, and empty-cell reseeding
    to the farthest point. Deterministic for a fixed seed.

    The sample is bounded (``sample_limit`` rows) so training cost is
    independent of corpus size — at 10^12 docs you train on the same 20k
    rows; only assignment (ivf_assign) scans the corpus."""
    sample = np.array(
        df.select(vec_col)
        .sample(fraction=sample_fraction, seed=seed)
        .limit(sample_limit)
        .collect()
    )[:, 0]
    sample = np.stack([np.asarray(v, dtype=np.float64) for v in sample])
    rng = np.random.default_rng(seed)
    return kmeans_np(sample, n_cells, iters, rng)


def kmeans_np(
    sample: np.ndarray, k: int, iters: int, rng: np.random.Generator
) -> np.ndarray:
    """k-means++ seeding + Lloyd iterations with empty-cell reseeding to
    the farthest point, on an in-memory (n, d) float64 sample.
    Deterministic for a fixed Generator state. Shared by ivf_train and
    pq_train (operators/pq.py trains one codebook per subspace)."""
    n = len(sample)
    k = min(k, n)

    centroids = np.empty((k, sample.shape[1]))
    centroids[0] = sample[rng.integers(n)]
    d2 = ((sample - centroids[0]) ** 2).sum(-1)
    for c in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centroids[c] = sample[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, ((sample - centroids[c]) ** 2).sum(-1))

    for _ in range(iters):
        dist = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(-1)
        assign = dist.argmin(1)
        moved = False
        for c in range(k):
            pts = sample[assign == c]
            if len(pts):
                new = pts.mean(0)
            else:  # reseed empty cell at the globally farthest point
                new = sample[dist.min(1).argmax()]
            if not np.array_equal(new, centroids[c]):
                centroids[c] = new
                moved = True
        if not moved:
            break
    return centroids


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: np.ndarray, cell_col: str = "__cell"
) -> DataFrame:
    """Adds the nearest-centroid cell id as a column. All JVM-side: an
    array of n_cells squared distances (each computed once), argmin via
    array_position(array_min) — no UDF, no shuffle."""
    dists = F.array(*[_dist2_col(vec_col, c) for c in centroids])
    cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return df.withColumn(cell_col, cell)


def _check_nprobe(n_cells: int, nprobe: int) -> None:
    if not (1 <= nprobe <= n_cells):
        raise ValueError(
            f"nprobe must be in [1, n_cells={n_cells}], got {nprobe}"
        )


def _probe_cells(
    centroids: np.ndarray, query: Sequence[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` cells nearest the query (the per-query IVF and
    IVF-PQ paths)."""
    _check_nprobe(len(centroids), nprobe)
    qd = ((centroids - np.asarray(query, dtype=np.float64)) ** 2).sum(1)
    return [int(c) for c in np.argsort(qd)[:nprobe]]


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 10,
    sample_fraction: float = 0.2,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """IVF ANN in one shot: train on a sample, assign JVM-side, exact
    rerank within the ``nprobe`` cells nearest to the query. A bad
    ``nprobe`` is refused before training; _probe_cells checks it again
    against the trained cell count (k-means caps it at the sample
    size)."""
    _check_nprobe(n_cells, nprobe)
    centroids = ivf_train(
        df, vec_col, n_cells, iters, sample_fraction, seed=seed
    )
    cand = ivf_assign(df, vec_col, centroids).filter(
        F.col("__cell").isin(_probe_cells(centroids, query, nprobe))
    )
    return cosine_topk(cand, vec_col, id_col, query, k, round_to)


def _ivf_probe_frame(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    centroids: np.ndarray,
    nprobe: int,
) -> DataFrame:
    """(query_id, __qv, __qn, __cell) — each query exploded over its
    nprobe nearest centroid cells, computed JVM-side: an array of
    (distance, cell) structs sorted lexicographically (distance, then
    cell id on exact ties — np.argsort in the per-query path leaves tie
    order unspecified, but exact float-distance ties do not occur for
    real embeddings), sliced to nprobe."""
    _check_nprobe(len(centroids), nprobe)
    structs = F.array(
        *[
            F.struct(
                _dist2_col("__qv", c).alias("d"), F.lit(i).cast("int").alias("c")
            )
            for i, c in enumerate(centroids)
        ]
    )
    cells = F.transform(
        F.slice(F.array_sort(structs), 1, nprobe), lambda s: s["c"]
    )
    probes = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qv"),
    ).select(
        "query_id",
        "__qv",
        _sqnorm_col("__qv").alias("__qn"),
        F.explode(cells).alias("__cell"),
    )
    return F.broadcast(probes)


def ivf_ann_join(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    query_vec_col: str,
    *,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 10,
    sample_fraction: float = 0.2,
    seed: int = 42,
    round_to: int = 6,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Batch IVF ANN: the nprobe-cell top-k for every row of ``queries``
    in one job — the IVF twin of lsh_ann_join (same plan shape: corpus
    assigned to cells once, thin broadcast probe frame, broadcast hash
    join, per-query top-k window partitioned by query). Pass trained
    ``centroids`` to skip training (and to share them with a per-query
    ivf_topk for comparison); otherwise k-means trains on the bounded
    driver-side sample exactly as ivf_topk does, after checking
    ``nprobe`` against ``n_cells``."""
    if centroids is None:
        _check_nprobe(n_cells, nprobe)
        centroids = ivf_train(
            corpus, vec_col, n_cells, iters, sample_fraction, seed=seed
        )
    bc = ivf_assign(corpus, vec_col, centroids, cell_col="__corpus_cell")
    bc = bc.withColumn("__vn", _sqnorm_col(vec_col))
    probes = _ivf_probe_frame(
        queries, query_id_col, query_vec_col, centroids, nprobe
    )
    cand = bc.join(probes, F.col("__corpus_cell") == F.col("__cell"))
    return _score_and_rank(cand, vec_col, id_col, k, round_to)
