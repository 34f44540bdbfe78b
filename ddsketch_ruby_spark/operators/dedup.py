"""Deduplication operators for web-scale corpora.

- exact_dedup: hash-groupBy exact duplicate collapse (one shuffle on the
  dedup key; at 100 TB pass hash_key=True so the shuffle carries 8/16-byte
  xxhash64 keys instead of full documents).
- minhash_signatures / minhash_lsh_pairs: shingle -> one-permutation
  minhash signature -> banded LSH buckets -> candidate pairs within
  buckets, scored with the estimated Jaccard. All hashing is vectorized
  NumPy inside mapInPandas; the only wide shuffle is the bucket self-join.
- ngram_jaccard_pairs / ngram_jaccard_exact: exact shingle-set Jaccard,
  on LSH candidates or by the relational shingle equi-join.
- cosine_near_dup_pairs / cosine_pairs_exact: embedding-cosine pairs, on
  hyperplane-LSH buckets or all pairs.
- simhash / simhash_near_dup_pairs: 64-bit fingerprints and Hamming-band
  LSH over them — EXACT (pigeonhole-lossless) pairs for max_dist < bands.
- dedup_clusters / collapse_near_dups / dedup_corpus: pair graph ->
  min-id clusters -> one canonical survivor per cluster.
- decontaminate / duplicate_spans: word n-gram overlap against a
  benchmark set, and repeated-span detection.

The pair operators share one pipeline: _drop_hot_keys (the aggregate +
broadcast-anti hot-key cap) and _self_pairs (the ``l.id < r.id`` self-join
on shared keys).
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .agg import _drops_zip_finders
from .similarity import _doubles, _dot_col, _sqnorm_col, lsh_bucket

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "ngram_jaccard_exact",
    "shingle_hash_rows",
    "cosine_near_dup_pairs",
    "cosine_pairs_exact",
    "dedup_clusters",
    "collapse_near_dups",
    "dedup_corpus",
    "simhash",
    "simhash_near_dup_pairs",
    "word_ngrams",
    "decontaminate",
    "duplicate_spans",
]


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    hash_key: bool = False,
    keep_columns: bool = False,
    hash_bits: int = 64,
) -> DataFrame:
    """Collapse exact duplicates over key_cols; keeps the minimum id per
    group plus the duplicate count.

    hash_key=True groups on xxhash64(key_cols) — the scalable path: the
    shuffle moves (8B hash, id) instead of the full key payload.
    hash_bits=128 uses two independently-seeded xxhash64 columns: at
    10^12 keys the 64-bit birthday bound yields ~27k expected false merges,
    128 bits makes them negligible (SCALE.md)."""
    if hash_key:
        if hash_bits == 128:
            keyed = df.select(
                F.xxhash64(*key_cols).alias("__key"),
                F.xxhash64(F.lit(1), *key_cols).alias("__key2"),
                F.col(id_col),
            )
            grouped = keyed.groupBy("__key", "__key2")
        elif hash_bits == 64:
            keyed = df.select(
                F.xxhash64(*key_cols).alias("__key"), F.col(id_col)
            )
            grouped = keyed.groupBy("__key")
        else:
            raise ValueError("hash_bits must be 64 or 128")
    else:
        grouped = df.select(*key_cols, id_col).groupBy(*key_cols)
    out = grouped.agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count")
    )
    if not keep_columns:
        out = out.select(id_col, "dup_count")
    return out


def _shingle_hashes(text: str, width: int, unique: bool = True) -> np.ndarray:
    """64-bit hashes of character shingles, vectorized; ``unique=True``
    returns the distinct set (set semantics for Jaccard/SimHash).
    Min-based consumers (minhash/OPH) pass ``unique=False`` — the min over
    a multiset equals the min over its support, and skipping the O(n log n)
    distinct sort is a measured ~1.4x on the shingle step.

    Polynomial rolling hash over a byte window — deterministic and
    order-sensitive within the window.
    """
    data = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
    if len(data) < width:
        data = np.pad(data, (0, width - len(data)), constant_values=32)
    n = len(data) - width + 1
    # stacked view of all windows: (n, width)
    windows = np.lib.stride_tricks.sliding_window_view(data, width)
    coef = np.power(
        np.uint64(1099511628211), np.arange(width, dtype=np.uint64), dtype=np.uint64
    )
    with np.errstate(over="ignore"):
        h = (windows.astype(np.uint64) * coef).sum(axis=1, dtype=np.uint64)
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
    return np.unique(h) if unique else h


# FNV-64 prime: odd, so invertible mod 2^64 — the prefix-product word
# hash below divides by p^start via multiplication with this inverse.
_GRAM_P = np.uint64(1099511628211)
_GRAM_P_INV = np.uint64(pow(1099511628211, -1, 1 << 64))
_GRAM_CHUNK_BYTES = 1 << 22  # flat bytes per kernel pass; see _oph_batch


def _finalize64(h: np.ndarray) -> np.ndarray:
    """Murmur-style avalanche, in place — same mix as _shingle_hashes."""
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    return h


def _poly_coef(width: int) -> np.ndarray:
    """p^0 .. p^(width-1) mod 2^64: the rolling-hash weights per byte
    (or per word hash) of a window."""
    return np.power(_GRAM_P, np.arange(width, dtype=np.uint64), dtype=np.uint64)


def _concat_padded(
    texts: pd.Series | list, width: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The batched hashing prelude: every doc's UTF-8 bytes, space-padded
    to at least ``width`` bytes (the _shingle_hashes rule), concatenated
    into one flat array. Returns (data, starts, counts): the bytes, each
    doc's start offset in them, and each doc's window count. ``texts``
    must be nonempty."""
    bufs = []
    for t in texts:
        b = np.frombuffer((t or "").encode("utf-8", "ignore"), dtype=np.uint8)
        if len(b) < width:
            b = np.pad(b, (0, width - len(b)), constant_values=32)
        bufs.append(b)
    lens = np.fromiter((len(b) for b in bufs), np.int64, len(bufs))
    starts = np.zeros(len(bufs), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return np.concatenate(bufs), starts, lens - width + 1


def _batch_window_hashes(
    texts: pd.Series | list, width: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Rolling-hash every character window of every doc in the batch in
    ONE set of vectorized passes: all docs' bytes are concatenated, the
    polynomial hash runs as ``width`` strided passes over the flat array
    (no per-window matrix), windows crossing document boundaries are
    masked out by construction, and the murmur-style finalizer is applied
    to the surviving windows. Returns (hv, doc_of, n): the uint64 window
    hashes (identical values to _shingle_hashes), the owning doc index per
    window, and the doc count. The shared kernel behind batched SimHash
    and batched shingle-set extraction (_oph_batch runs the same hash
    chunked) — per-doc Python overhead appears in none of them."""
    n = len(texts)
    if n == 0:
        return np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64), 0
    data, starts, counts = _concat_padded(texts, width)
    m = len(data) - width + 1
    coef = _poly_coef(width)
    with np.errstate(over="ignore"):
        h = np.zeros(m, dtype=np.uint64)
        for b_i in range(width):
            h += data[b_i : b_i + m].astype(np.uint64) * coef[b_i]
        # valid window starts per doc: start_i .. start_i + len_i - width
        doc_of = np.repeat(np.arange(n, dtype=np.int64), counts)
        base = np.repeat(starts - (np.cumsum(counts) - counts), counts)
        hv = _finalize64(h[np.arange(len(doc_of), dtype=np.int64) + base])
    return hv, doc_of, n


def _per_doc_unique(
    hv: np.ndarray,
    doc_of: np.ndarray,
    ndocs: int | None,
    with_counts: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Distinct (hash, doc[, count]) rows from doc-grouped window hashes
    (_batch_window_hashes / _batch_word_gram_hashes output), sorted by
    (doc, hash): the one per-doc distinct reducer behind Jaccard / SimHash
    set semantics and the gram occurrence counts. ``counts`` is None
    unless ``with_counts``.

    Implementation note: this slices the (already doc-grouped) window
    array and runs np.unique per doc rather than one global
    lexsort((hash, doc)). Measured on this class of box: a global lexsort
    of 7M windows costs ~4.9 s while 20k per-doc uniques on ~350-element
    cache-resident slices cost ~0.3 s — stable argsort of large random
    arrays is memory-bandwidth-bound and ~15x slower than many small
    sorts that never leave L2. The per-doc Python overhead is ~3 us/doc,
    two orders of magnitude below the sort work it replaces."""
    if ndocs is None:
        ndocs = int(doc_of[-1]) + 1 if len(doc_of) else 0
    if len(hv) == 0:
        empty = np.zeros(0, dtype=np.int64) if with_counts else None
        return hv, doc_of, empty
    cnt = np.bincount(doc_of, minlength=ndocs)
    bounds = np.concatenate([[0], np.cumsum(cnt)])
    cs_l: list[np.ndarray] = []
    if with_counts:
        hs_l = []
        for i in range(ndocs):
            u, c = np.unique(hv[bounds[i] : bounds[i + 1]], return_counts=True)
            hs_l.append(u)
            cs_l.append(c)
    else:
        # branch-free loop: this is the measured hot shape (~0.3 s for 7M
        # windows; see the docstring)
        hs_l = [np.unique(hv[bounds[i] : bounds[i + 1]]) for i in range(ndocs)]
    hs = np.concatenate(hs_l)
    ds = np.repeat(
        np.arange(ndocs, dtype=np.int64),
        np.fromiter((len(o) for o in hs_l), np.int64, ndocs),
    )
    cs = np.concatenate(cs_l).astype(np.int64) if with_counts else None
    return hs, ds, cs


def _batch_word_gram_hashes(
    texts: pd.Series | list, n: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """64-bit hashes of every word ``n``-gram of every doc in the batch,
    fully vectorized — the Arrow twin of word_ngrams (words = nonempty
    0x20-separated tokens, exactly F.split(col, " ") + filter semantics;
    0x20 never occurs inside a UTF-8 multibyte sequence, so byte-level
    splitting is codepoint-safe). Returns (gh, doc_of, n_docs) with grams
    emitted in document order.

    Two-level rolling hash, all O(total bytes + total words):
      1. word hash = murmur-finalized polynomial over the word's bytes
         PLUS ONE (raw bytes would give trailing NUL bytes zero weight:
         'a\\x00' would hash equal to 'a', a deterministic collision
         between words F.split treats as distinct), computed for ALL
         words at once from ONE prefix pass: with
         G = cumsum((byte[i]+1) * p^i) over the flat buffer, the segment
         sum (G[end] - G[start-1]) * p^-start localizes each word's
         polynomial (p is the odd FNV prime, so p^-1 exists mod 2^64).
      2. gram hash = murmur-finalized polynomial over the n word hashes,
         via n strided gathers (the _batch_window_hashes shape) with
         windows crossing document boundaries excluded by construction.

    Docs are processed in ~4 MB flat-byte chunks so the prefix arrays stay
    cache-resident instead of streaming from RAM (the _oph_batch memory-
    bandwidth lesson). Equal grams hash equal across batches/chunks;
    distinct grams collide at the usual 2^-64/pair rate (same ledger as
    hashed exact dedup, SCALE.md)."""
    if n < 1:
        raise ValueError(f"n-gram width must be >= 1, got {n}")
    encoded = [(t or "").encode("utf-8", "ignore") for t in texts]
    ndocs = len(encoded)
    out_h: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    coef = _poly_coef(n)
    i = 0
    while i < ndocs:
        j, size = i, 0
        while j < ndocs and (j == i or size + len(encoded[j]) + 1 <= _GRAM_CHUNK_BYTES):
            size += len(encoded[j]) + 1
            j += 1
        chunk = encoded[i:j]
        # one trailing space per doc: words never span docs, and the last
        # word of the chunk is terminated
        flat = np.frombuffer(b" ".join(chunk) + b" ", dtype=np.uint8)
        clens = np.fromiter((len(c) for c in chunk), np.int64, len(chunk))
        dstarts = np.concatenate([[0], np.cumsum(clens[:-1] + 1)])
        is_sp = flat == 32
        wstart = np.flatnonzero(
            ~is_sp & np.concatenate([[True], is_sp[:-1]])
        )
        wend = np.flatnonzero(~is_sp & np.concatenate([is_sp[1:], [True]]))
        if len(wstart):
            doc_of_word = np.searchsorted(dstarts, wstart, side="right") - 1
            total = len(flat)
            with np.errstate(over="ignore"):
                pw = np.empty(total, dtype=np.uint64)
                pw[0] = 1
                np.cumprod(
                    np.full(total - 1, _GRAM_P, dtype=np.uint64), out=pw[1:]
                )
                piw = np.empty(total, dtype=np.uint64)
                piw[0] = 1
                np.cumprod(
                    np.full(total - 1, _GRAM_P_INV, dtype=np.uint64),
                    out=piw[1:],
                )
                G = np.cumsum((flat.astype(np.uint64) + np.uint64(1)) * pw)
                before = np.where(
                    wstart > 0, G[wstart - 1], np.uint64(0)
                )
                wh = _finalize64((G[wend] - before) * piw[wstart])
                wcounts = np.bincount(doc_of_word, minlength=len(chunk))
                nwin = np.maximum(wcounts - n + 1, 0)
                tot_w = int(nwin.sum())
                if tot_w:
                    seg_of = np.repeat(
                        np.arange(len(chunk), dtype=np.int64), nwin
                    )
                    word_starts = np.concatenate(
                        [[0], np.cumsum(wcounts[:-1])]
                    )
                    cum_nwin = np.concatenate([[0], np.cumsum(nwin[:-1])])
                    gidx = (
                        np.repeat(word_starts, nwin)
                        + np.arange(tot_w, dtype=np.int64)
                        - np.repeat(cum_nwin, nwin)
                    )
                    gh = np.zeros(tot_w, dtype=np.uint64)
                    for k in range(n):
                        gh += wh[gidx + k] * coef[k]
                    out_h.append(_finalize64(gh))
                    out_d.append(seg_of + i)
        i = j
    if out_h:
        return np.concatenate(out_h), np.concatenate(out_d), ndocs
    return np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64), ndocs


def _hashed_gram_rows(
    df: DataFrame,
    text_col: str,
    id_col: str | None,
    n: int,
    with_counts: bool = False,
) -> DataFrame:
    """Distinct (id, __ng[, __occ]) word-gram HASH rows per document via
    the Arrow kernel — grams leave Python as 8-byte longs, never strings.
    ``id_col=None`` emits batch-distinct ``__ng`` only (the benchmark side
    of decontaminate; callers .distinct() the union)."""
    fields: list[T.StructField] = []
    if id_col is not None:
        fields.append(next(f for f in df.schema.fields if f.name == id_col))
    fields.append(T.StructField("__ng", T.LongType(), False))
    if with_counts:
        fields.append(T.StructField("__occ", T.LongType(), False))
    schema = T.StructType(fields)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            gh, doc_of, ndocs = _batch_word_gram_hashes(pdf[text_col], n)
            if id_col is None:
                yield pd.DataFrame({"__ng": np.unique(gh).view(np.int64)})
            elif with_counts:
                hs, ds, cs = _per_doc_unique(gh, doc_of, ndocs, with_counts=True)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].values[ds],
                        "__ng": hs.view(np.int64),
                        "__occ": cs,
                    }
                )
            else:
                hs, ds, _ = _per_doc_unique(gh, doc_of, None, with_counts=False)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].values[ds],
                        "__ng": hs.view(np.int64),
                    }
                )

    cols = [text_col] if id_col is None else [id_col, text_col]
    return df.select(*cols).mapInPandas(_drops_zip_finders(compute), schema)


_OPH_CHUNK = 1 << 21  # windows per chunk; see _oph_batch docstring


def _oph_batch(
    texts: pd.Series, num_hashes: int, shingle: int, seed: int
) -> list[np.ndarray]:
    """One-permutation hashing (Li et al.): ONE hash pass per shingle,
    bucketed into num_hashes bins by its top bits, min per bin; empty bins
    densified by borrowing from the next non-empty bin (rotation). O(n + H)
    per doc instead of O(n*H) — the scale path for 10^12-doc corpora.

    Executes CHUNKED over the batch's window stream with preallocated
    buffers: the unchunked formulation materialized ~6 GB of full-batch
    temporaries per 65k-doc Arrow batch (rolling-hash passes, finalize,
    bin ids — each a fresh ~128 MB mmap that page-faults in and streams
    from RAM), which saturated this box's memory bandwidth at ~64k docs/s
    aggregate and capped 2->8-core scaling at ~0.75. Processing ~2M
    windows at a time through reused buffers keeps intermediates hot and
    measured 2.8x single-core (44k docs/s/core) and 1.9x aggregate at 8
    cores (119k docs/s) on the same input, bit-identical output
    (property-pinned in tests/test_properties.py). The per-(doc, bin) min
    is np.minimum.at scatters into the one full-size output array."""
    H = num_hashes
    W = shingle
    mix = np.uint64(seed * 2 + 1)
    n = len(texts)
    int64_max = np.iinfo(np.int64).max
    if n == 0:
        return []
    data, starts, counts = _concat_padded(texts, W)
    coef = _poly_coef(W)
    cum_counts = np.cumsum(counts)
    total_windows = int(cum_counts[-1])
    sig = np.full(n * H, int64_max, dtype=np.int64)
    CH = min(_OPH_CHUNK, total_windows)
    h = np.empty(CH, dtype=np.uint64)
    tmp = np.empty(CH, dtype=np.uint64)
    gb = np.empty(CH, dtype=np.int64)
    w0 = 0
    while w0 < total_windows:
        m = min(CH, total_windows - w0)
        hv, tp, g = h[:m], tmp[:m], gb[:m]
        # window ordinal k lives in doc d = searchsorted(cum_counts, k,
        # 'right'); its start byte = starts[d] + (k - (cum_counts[d] -
        # counts[d]))
        ks = np.arange(w0, w0 + m, dtype=np.int64)
        d = np.searchsorted(cum_counts, ks, side="right")
        pos = starts[d] + (ks - (cum_counts[d] - counts[d]))
        with np.errstate(over="ignore"):
            hv[:] = 0
            for b_i in range(W):
                np.copyto(tp, data[pos + b_i], casting="unsafe")
                tp *= coef[b_i]
                hv += tp
            _finalize64(hv)
            hv *= mix
        if H & (H - 1) == 0:  # power-of-two bin count: mask, not divide
            np.copyto(g, hv & np.uint64(H - 1), casting="unsafe")
        else:
            np.copyto(g, hv % np.uint64(H), casting="unsafe")
        g += d * H
        vals = (hv >> np.uint64(1)).view(np.int64)
        np.minimum.at(sig, g, vals)
        w0 += m
    sig = sig.reshape(n, H)
    for i in np.flatnonzero((sig == int64_max).any(axis=1)):
        # rotation densification: borrow the next filled bin's value
        row = sig[i]
        empty = row == int64_max
        filled_idx = np.flatnonzero(~empty)
        if len(filled_idx) == 0:
            row[:] = 0
        else:
            pos = np.searchsorted(filled_idx, np.flatnonzero(empty)) % len(
                filled_idx
            )
            row[empty] = row[filled_idx[pos]]
    return list(sig)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 128,
    shingle: int = 5,
    seed: int = 42,
) -> DataFrame:
    """One minhash signature row per document: (id, sig array<long>).

    One-permutation hashing with rotation densification (Li et al.,
    _oph_batch) — O(n + H) per doc, cost flat in H. Measured head-to-head
    against classic minhash (H independent multiply-shift permutations,
    O(n*H) per doc) on planted-Jaccard pairs (j in {0.3,0.5,0.7,0.9},
    200-shingle docs): the OPH estimator std matched classic (0.052 vs
    0.054 at H=64; 0.036 vs 0.038 at H=128, bias < 0.005 both) at 3-6.5x
    the single-core throughput, so OPH is the only signature."""
    out_schema = T.StructType(
        [
            next(f for f in df.schema.fields if f.name == id_col),
            T.StructField("sig", T.ArrayType(T.LongType(), False)),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            sigs = _oph_batch(pdf[text_col], num_hashes, shingle, seed)
            yield pd.DataFrame({id_col: pdf[id_col].values, "sig": sigs})

    src = df.select(id_col, text_col)
    # shingling is CPU-heavy: a small-file scan (1-2 splits) would serialize
    # it; spread rows across the cluster first. At real scale the input has
    # plenty of splits and this repartition is a no-op branch.
    # src.rdd here is PLAN-ONLY — it builds the RDD handle to read the
    # exact physical partition count without running a job; a file-count
    # heuristic (df.inputFiles()) would miss multi-split large files and
    # trigger a spurious full-corpus shuffle. Accepted trade-off: the
    # handle construction costs ~ms of driver time at plan construction.
    target = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < max(2, target // 2):
        src = src.repartition(target)
    return src.mapInPandas(_drops_zip_finders(compute), schema=out_schema)


def _drop_hot_keys(
    rows: DataFrame, keys: list[str], cap: int | None
) -> DataFrame:
    """``rows`` minus every row whose ``keys`` value occurs more than
    ``cap`` times (``cap=None``: no cap) — the hot-key cap every pair
    self-join runs first: a key shared by d rows makes d^2/2 join rows,
    so one boilerplate mega-cluster would otherwise blow the join up
    quadratically.

    The key sizes are an aggregate (map-side combine: the shuffle carries
    one row per distinct key) and the few over-cap keys are BROADCAST and
    anti-joined, instead of a Window.partitionBy(keys) count — a window
    would funnel the hottest key's rows into ONE task before dropping
    them, exactly the skew the cap exists to prevent; with the broadcast
    the capped rows never shuffle for the cap at all. ASSUMPTION: the
    number of DISTINCT over-cap keys stays driver-broadcastable (millions,
    not billions — each is 8-12 B); a corpus with a larger hot-key
    universe fails loudly at the broadcast build."""
    if cap is None:
        return rows
    hot = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > cap)
        .select(*keys)
    )
    return rows.join(F.broadcast(hot), keys, "left_anti")


def _self_pairs(
    rows: DataFrame, keys: list[str], id_col: str, *cols: F.Column
) -> DataFrame:
    """(id_a, id_b, *cols) for every two rows of ``rows`` that agree on
    all ``keys`` (``keys=[]``: every two rows), id_a < id_b — the one
    pair self-join. The sides are aliased ``l`` and ``r``, so ``cols``
    can read both (``F.col("l.vec")``). A pair sharing several keys
    appears once per shared key."""
    on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    on.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    pairs = rows.alias("l").join(rows.alias("r"), reduce(operator.and_, on))
    return pairs.select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        *cols,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle: int = 5,
    seed: int = 42,
    min_jaccard: float = 0.0,
    max_bucket_size: int | None = 1000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows;
    documents sharing any band hash become a candidate pair; pairs are
    deduped and scored with the estimated Jaccard (fraction of equal
    signature positions). Shuffle cost: one groupBy on (band, band_hash) of
    8+8-byte keys — no document text ever shuffles.

    ``max_bucket_size`` drops buckets larger than the cap before the
    self-join (_drop_hot_keys): cap^2 per bucket is the worst-case join
    size. Capped buckets are near-certain duplicates of each other anyway
    — at corpus scale route them to exact_dedup on a boilerplate
    fingerprint instead.

    The signature matrix is referenced several times (bucket sizes + both
    self-join sides), so it is ``localCheckpoint``-ed lazily: CPU-heavy
    shingling runs ONCE (~num_hashes*8 B/doc of executor storage,
    disk-spillable) and every re-reference replays only cheap JVM band
    hashing. At full corpus scale, persist signatures to parquet instead
    (the standard production artifact) and pass them via ``signatures``
    (columns: id_col, sig array<long>) — then no checkpoint is taken and
    reruns/incremental dedup reuse the stored matrix.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    if signatures is not None:
        sigs = signatures
    else:
        sigs = minhash_signatures(
            df, text_col, id_col, num_hashes, shingle, seed
        ).localCheckpoint(eager=False)
    sig_col = F.col("sig")
    # the band index is hashed as a LONG so the bucket value is a pure
    # chain of xxhash64-long steps (seed 42 -> band -> sig values), which a
    # SQL oracle replays exactly (__spark_entry__ LSH-bucket oracle)
    band_cols = [
        F.xxhash64(
            F.lit(b).cast("long"),
            *[sig_col[b * rows_per_band + r] for r in range(rows_per_band)],
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    # THIN rows through the wide shuffles: the exploded band rows carry
    # only (id, bucket) — 16 B — never the signature array. At 10^6 docs
    # the signature-carrying explode measured 6.5 GB of self-join shuffle
    # on this box vs ~0.2 GB thin; signatures rejoin only for the deduped
    # candidate pairs below (cheap: sigs are checkpointed/persisted).
    banded = sigs.select(id_col, *band_cols)
    exploded = banded.select(
        id_col,
        F.explode(
            F.array(*[F.col(f"band_{b}") for b in range(bands)])
        ).alias("bucket"),
    )
    exploded = _drop_hot_keys(exploded, ["bucket"], max_bucket_size)
    cand = _self_pairs(exploded, ["bucket"], id_col).dropDuplicates(
        ["id_a", "id_b"]
    )
    # score once per UNIQUE candidate pair: rejoin the (checkpointed)
    # signatures by id and compare positions — the only stage that ever
    # moves signature arrays, sized by |docs| + |candidates|, not by
    # |docs| * bands
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est_col = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.lit(float(num_hashes))
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est_col.alias("est_jaccard"))
    )
    if min_jaccard > 0:
        est = est.filter(F.col("est_jaccard") >= min_jaccard)
    return est


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle: int = 5,
    min_jaccard: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs, LSH-pruned.

    Candidate generation via banded MinHash (cheap, high recall at the
    threshold), then exact verification on precomputed shingle sets. The
    expensive exact step touches only candidate pairs, never the n^2
    cross product — the scalable shape of exact-threshold dedup.

    ``max_bucket_size`` forwards to the LSH candidate stage and is the
    dominant cost knob on boilerplate-heavy corpora: measured on a
    250k-doc synthetic web corpus, candidate generation took 286 s at
    the default cap of 1000 vs 7.4 s at cap 50 (the self-join grows with
    the hottest bucket's size squared). Capped-away buckets are
    near-certain duplicate clusters — collapse them via exact_dedup /
    doc_fingerprint instead of pairing them here.
    """
    candidates = minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle=shingle,
        seed=seed,
        min_jaccard=max(0.0, min_jaccard - 0.2),  # slack for estimator noise
        max_bucket_size=max_bucket_size,
    )
    # shingle each candidate document ONCE into its sorted distinct-hash
    # set (a doc in p candidate pairs used to be re-shingled p times),
    # then join the two sets onto each candidate pair. Two plan
    # decisions, both measured on a 250k-doc web corpus:
    # - only docs that APPEAR in a candidate pair are shingled (semi-join
    #   on the candidate id set) — at low candidate density this skips
    #   most of the corpus;
    # - the set computation is localCheckpoint'ed lazily so the two join
    #   sides share ONE shingling pass instead of re-executing it each.
    candidates = candidates.localCheckpoint(eager=False)
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    set_schema = T.StructType(
        [
            next(f for f in df.schema.fields if f.name == id_col),
            T.StructField("__sh", T.ArrayType(T.LongType(), False)),
        ]
    )

    def sets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            hv, doc_of, n = _batch_window_hashes(pdf[text_col], shingle)
            hs, ds, _ = _per_doc_unique(hv, doc_of, None, with_counts=False)
            splits = np.split(
                hs.view(np.int64), np.cumsum(np.bincount(ds, minlength=n))[:-1]
            )
            yield pd.DataFrame({id_col: pdf[id_col].values, "__sh": splits})

    shingle_sets = (
        df.select(id_col, text_col)
        .join(cand_ids, id_col, "left_semi")
        .mapInPandas(_drops_zip_finders(sets), schema=set_schema)
        .localCheckpoint(eager=False)
    )
    pairs = (
        candidates.join(
            shingle_sets.select(
                F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa")
            ),
            "id_a",
        )
        .join(
            shingle_sets.select(
                F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb")
            ),
            "id_b",
        )
        .select("id_a", "id_b", "__sa", "__sb")
    )
    # pair ids inherit the input id type — a string id (e.g. a url)
    # must survive the verify stage unchanged
    id_type = next(f for f in df.schema.fields if f.name == id_col).dataType
    schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # exact |A∩B| per candidate pair on the PRE-COMPUTED sorted
        # distinct sets: two searchsorted probes of the smaller set into
        # the larger (both uint64-sorted) — ~19 us/pair measured vs
        # ~154 us/pair for the old re-shingle-both-texts-per-pair path
        # (8x; and a doc in p pairs is shingled once, not p times)
        for pdf in batches:
            if pdf.empty:
                continue
            npair = len(pdf)
            j = np.empty(npair, dtype=np.float64)
            for k, (a, b) in enumerate(zip(pdf["__sa"], pdf["__sb"])):
                # stored as int64 for the wire; the sort order is uint64's
                av = np.asarray(a, dtype=np.int64).view(np.uint64)
                bv = np.asarray(b, dtype=np.int64).view(np.uint64)
                if len(av) > len(bv):
                    av, bv = bv, av
                c = int(
                    np.count_nonzero(
                        np.searchsorted(bv, av, side="left")
                        != np.searchsorted(bv, av, side="right")
                    )
                )
                union = len(av) + len(bv) - c
                j[k] = c / union if union else 0.0
            keep = j >= min_jaccard
            if keep.any():
                yield pd.DataFrame(
                    {
                        "id_a": pdf["id_a"].values[keep],
                        "id_b": pdf["id_b"].values[keep],
                        "jaccard": j[keep],
                    }
                )

    return pairs.mapInPandas(_drops_zip_finders(verify), schema=schema)


def _pair_cosine(vec_col: str) -> F.Column:
    """Cosine between the ``l`` and ``r`` sides' vectors of a _self_pairs
    join, in float64: the dot product and both norms are the
    left-to-right JVM folds the ANN operators use (operators/similarity.py
    _dot_col, _sqnorm_col)."""
    dot = _dot_col(_doubles(f"l.{vec_col}"), _doubles(f"r.{vec_col}"))
    return dot / (_sqnorm_col(f"l.{vec_col}") * _sqnorm_col(f"r.{vec_col}"))


def cosine_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    min_cosine: float = 0.9,
    n_planes: int = 12,
    seed: int = 42,
    *,
    dim: int,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH bucket
    self-join for candidates (identical sign pattern — high-cosine pairs
    collide with high probability), exact cosine rerank JVM-side.

    ``dim`` (the embedding dimensionality) is required, keyword-only:
    it is plan-time configuration. (Earlier versions fell back to reading
    it from the first row — a driver-side scan action at
    plan-construction time, retired so the library plans without ever
    touching data.)"""
    b = lsh_bucket(df, vec_col, dim, n_planes, seed).select(
        F.col(id_col), F.col(vec_col), F.col("lsh_bucket")
    )
    return (
        _self_pairs(
            b, ["lsh_bucket"], id_col, _pair_cosine(vec_col).alias("cosine")
        )
        .filter(F.col("cosine") >= min_cosine)
        .dropDuplicates(["id_a", "id_b"])
    )


def shingle_hash_rows(
    df: DataFrame, text_col: str, id_col: str, shingle: int = 5
) -> DataFrame:
    """One row per (id, distinct shingle hash) — the exploded relational
    form of the shingle sets. Hashes are the same rolling-hash values the
    minhash/simhash paths consume (int64 view of the uint64 hash)."""
    out_schema = T.StructType(
        [
            next(f for f in df.schema.fields if f.name == id_col),
            T.StructField("h", T.LongType(), False),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            hv, doc_of, n = _batch_window_hashes(pdf[text_col], shingle)
            hs, ds, _ = _per_doc_unique(hv, doc_of, None, with_counts=False)
            yield pd.DataFrame(
                {id_col: pdf[id_col].values[ds], "h": hs.view(np.int64)}
            )

    return df.select(id_col, text_col).mapInPandas(
        _drops_zip_finders(compute), schema=out_schema
    )


def ngram_jaccard_exact(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_jaccard: float = 0.5,
    shingle: int = 5,
    round_to: int = 6,
    shingle_rows: DataFrame | None = None,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via the relational algorithm: explode
    shingle sets, equi-join on the shingle hash (only pairs sharing a
    shingle ever meet — no cross join), count intersections, derive
    |A∪B| = |A|+|B|−|A∩B|. Fully distributed (shuffle keyed on the
    shingle hash). The verification baseline for the LSH candidate
    pipeline.

    ``max_doc_freq`` caps hot shingles: a stop-shingle shared by d
    documents contributes d^2/2 join rows, so one boilerplate fragment in
    10^6 docs means a 10^12-row join. Shingles with document frequency
    above the cap are removed from the shingle universe BEFORE the
    self-join (_drop_hot_keys, the cap minhash_lsh_pairs runs on its
    buckets); sizes and intersections are both computed on the filtered
    universe, so the value stays an exact Jaccard over the kept shingles.
    The default cap (1000) bounds the join at ~500k rows per distinct
    shingle — the safe-by-default setting for arbitrary corpora; pass
    ``max_doc_freq=None`` on bounded inputs where the full universe is
    wanted (the uncapped join is quadratic in the hottest shingle's
    document frequency).

    The shingle explosion is referenced three times (two join sides +
    sizes); for repeated or large runs pass a cached DataFrame via
    ``shingle_rows`` (from shingle_hash_rows) and manage its lifecycle —
    no hidden persist() is taken here, so one-shot calls leak nothing."""
    rows = (
        shingle_rows
        if shingle_rows is not None
        else shingle_hash_rows(df, text_col, id_col, shingle)
    )
    rows = _drop_hot_keys(rows, ["h"], max_doc_freq)
    sizes = rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    common = (
        _self_pairs(rows, ["h"], id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    na = sizes.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("__na")
    )
    nb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("__nb")
    )
    jac = F.round(
        F.col("__c")
        / (F.col("__na") + F.col("__nb") - F.col("__c")).cast("double"),
        round_to,
    ).alias("jaccard")
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", jac)
        .filter(F.col("jaccard") >= min_jaccard)
    )


def cosine_pairs_exact(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    min_cosine: float = 0.9,
    round_to: int = 6,
) -> DataFrame:
    """EXACT all-pairs cosine near-duplicates (O(n^2) self-join) — the
    verification baseline for cosine_near_dup_pairs, SQL-oracle-checkable
    end-to-end. Use the LSH-bucketed variant at corpus scale; use this on
    bounded candidate sets (a shard, a bucket, a cluster)."""
    cosine = F.round(_pair_cosine(vec_col), round_to).alias("cosine")
    return _self_pairs(df.select(id_col, vec_col), [], id_col, cosine).filter(
        F.col("cosine") >= min_cosine
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint'ed frame's storage blocks now (its analyzed
    plan is a LogicalRDD over the stored RDD); best-effort — on failure
    the ContextCleaner GCs the blocks eventually. Reaches through the
    private _jdf handle (no public API exposes the checkpoint RDD);
    tests/test_text_similarity.py pins the behavior so a Spark upgrade
    breaking the path fails CI loudly instead of silently regressing
    dedup_clusters storage to O(rounds)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def dedup_clusters(
    pairs: DataFrame,
    *,
    max_iterations: int = 20,
) -> DataFrame:
    """Collapse near-dup pairs (id_a, id_b) into clusters: returns
    (id, cluster_id) with cluster_id = min id reachable through the pair
    graph — the canonical-document assignment for near-dup removal. The
    id type is inherited from the pair columns (long and string ids both
    work; "min" is the respective type's ordering).

    ``max_iterations`` is keyword-only: earlier releases took an
    ``id_type`` positional parameter in that slot, so a stale positional
    call now fails immediately with a TypeError at the call site instead
    of feeding a string into the iteration budget and dying deep inside
    Spark.

    Algorithm: iterative min-label propagation — each node adopts the
    smallest label among itself and its neighbors; the min id travels one
    hop per round, so convergence needs O(max cluster diameter) rounds
    (near-dup cluster diameters are tiny in practice). Each round is one
    shuffle of (id, label) pairs — no driver-side graph. If labels are
    still changing after ``max_iterations`` rounds the function RAISES
    rather than silently returning unconverged (wrong) cluster ids —
    raise ``max_iterations`` for pathologically chain-shaped graphs.

    Each round's labels are ``localCheckpoint``-ed (eager) so the plan is
    truncated per iteration: without it the lineage nests one join+agg per
    round and any recomputation (or just planning) explodes combinatorially
    with the iteration count — the difference between O(rounds) and
    O(rounds^2)+ work at corpus scale. The previous round's checkpoint
    blocks are explicitly released once the new round is materialized, so
    executor storage holds at most two label copies at any time.
    """
    edges = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .union(pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
        .distinct()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    edges = edges.cache()
    labels = labels.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        ).localCheckpoint(eager=True)  # truncate lineage before the probe
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        _release_checkpoint(labels)  # at most two label copies ever stored
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iterations} "
            "label-propagation rounds (a cluster's diameter exceeds the "
            "round budget); raise max_iterations — returning now would "
            "yield silently wrong cluster ids"
        )
    return labels


def _simhash_batch(texts: pd.Series | list, shingle: int) -> np.ndarray:
    """64-bit SimHash fingerprints for a whole Arrow batch: ONE
    concatenated rolling-hash pass for every document's windows
    (_batch_window_hashes — the expensive step, measured ~3.5x cheaper
    than the per-doc sliding_window_view matrix), then the per-doc
    distinct hashes of _per_doc_unique and bit votes on their
    cache-resident ~350-element slices. Returns the
    int64 wire representation (two's-complement view). Property-tested
    against the per-doc reference in tests/test_properties.py.

    Measured alternatives on 20k synthetic docs (this box): fully per-doc
    3.24 s; batch-hash + segment-reduceat votes (64 full-array passes)
    2.21 s; batch-hash + per-doc votes 1.88 s — the full segment-reduce
    loses to per-doc votes because 64 passes over the whole batch are
    memory-bandwidth-bound while per-doc vote matrices stay in L2, so the
    hybrid is the shipped kernel."""
    hv, doc_of, n = _batch_window_hashes(texts, shingle)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    hs, ds, _ = _per_doc_unique(hv, doc_of, n, with_counts=False)
    bounds = np.concatenate([[0], np.cumsum(np.bincount(ds, minlength=n))])
    bits = np.arange(64, dtype=np.uint64)
    powers = np.uint64(1) << bits
    out = np.empty(n, dtype=np.uint64)
    for i in range(n):
        sh = hs[bounds[i] : bounds[i + 1]]
        votes = ((sh[:, None] >> bits[None, :]) & np.uint64(1)).sum(axis=0)
        majority = votes * 2 >= len(sh)
        out[i] = powers[majority].sum(dtype=np.uint64)
    return out.view(np.int64)


def collapse_near_dups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iterations: int = 20,
) -> DataFrame:
    """End-to-end near-duplicate REMOVAL: given the corpus and a near-dup
    pair set (from minhash_lsh_pairs / ngram_jaccard_pairs /
    cosine_near_dup_pairs), keep exactly one canonical document per
    duplicate cluster — the minimum id — plus every document that appears
    in no pair. Returns df filtered to the canonical survivors, schema
    unchanged.

    Shape: cluster collapse (dedup_clusters: thin (id, label) shuffles)
    then ONE left-anti join of the corpus against the non-canonical ids —
    sized by the duplicate count, not the corpus, and keyed on the id, so
    the corpus text moves at most once. No broadcast assumption: the
    loser set scales with dup volume, so the anti-join is a plain
    shuffled join (AQE may still broadcast it when small)."""
    labels = dedup_clusters(pairs, max_iterations=max_iterations)
    losers = labels.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_jaccard: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle: int = 5,
    seed: int = 42,
    max_bucket_size: int | None = 50,
    exact_hash_bits: int = 128,
    min_length: int | None = None,
) -> DataFrame:
    """ONE-CALL corpus cleaner — the canonical web-scale dedup recipe as
    a named operator:

    1. optional length floor (``min_length``: drop micro-docs),
    2. EXACT dedup on the hashed text (8/16-byte shuffle keys,
       ``exact_hash_bits``; keeps the min id per identical text) —
       the DEFAULT is 128 bits (two independent xxhash64 seeds): at the
       10^12-doc ambition a single 64-bit key has ~2^23 expected
       birthday collisions, each silently dropping a NON-duplicate
       document, while 128 bits keeps the expected count below 10^-14
       (collision math in SCALE.md); pass ``exact_hash_bits=64`` to
       halve the key bytes on corpora small enough (<~10^8 docs) that
       the 64-bit collision budget is acceptable,
    3. exact-verified near-dup collapse: banded-MinHash candidates with
       a TIGHT bucket cap (default 50 — capped buckets are boilerplate
       mega-clusters whose members were already collapsed by step 2 when
       identical, and pairing them is the quadratic trap; see
       BENCH/kernel_vectorization.md), exact n-gram Jaccard verification at
       ``min_jaccard``, min-label cluster collapse, one anti-join.

    Returns the surviving rows of ``df`` (schema unchanged): one
    canonical document per exact/near-dup cluster plus everything
    unpaired. Each stage shuffles thin keyed rows; the full text moves
    only in the exact-dedup grouping and the final anti-joins."""
    src = df
    if min_length is not None:
        src = src.filter(F.length(text_col) >= min_length)
    # exact stage: min id per identical text, via hashed keys
    winners = exact_dedup(
        src, [text_col], id_col, hash_key=True, hash_bits=exact_hash_bits
    )
    exact_kept = src.join(winners.select(id_col), id_col, "left_semi")
    pairs = ngram_jaccard_pairs(
        exact_kept,
        text_col,
        id_col,
        shingle=shingle,
        min_jaccard=min_jaccard,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        max_bucket_size=max_bucket_size,
    )
    return collapse_near_dups(exact_kept, pairs, id_col)


def simhash(
    df: DataFrame, text_col: str, id_col: str, shingle: int = 4
) -> DataFrame:
    """64-bit SimHash fingerprint per document (near-dup = small Hamming
    distance). Batched across the Arrow batch — see _simhash_batch."""
    out_schema = T.StructType(
        [
            next(f for f in df.schema.fields if f.name == id_col),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "simhash": _simhash_batch(pdf[text_col], shingle),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        _drops_zip_finders(compute), schema=out_schema
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle: int = 4,
    bands: int = 4,
    max_dist: int = 3,
    max_band_size: int | None = 1000,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via Hamming-band LSH over SimHash
    fingerprints: split each 64-bit fingerprint into ``bands`` equal bit
    bands; documents agreeing EXACTLY on any band become candidates; every
    candidate is verified with the true Hamming distance (one JVM
    ``bit_count(a XOR b)`` per pair) and kept iff <= ``max_dist``.
    Returns (id_a, id_b, hamming_dist), id_a < id_b.

    For ``max_dist < bands`` the candidate generation is LOSSLESS by
    pigeonhole: a pair within Hamming distance d has its differing bits in
    at most d < bands bands, so at least one band matches exactly — the
    result is the EXACT distance-<=d pair set (modulo the hot-band cap
    below), unlike the probabilistic MinHash recall curve. With the
    defaults (bands=4, 16-bit bands, max_dist=3) each band join is
    selective down to ~2^-16 per band for random fingerprints.

    Scale shape mirrors minhash_lsh_pairs: the CPU-heavy fingerprint pass
    runs ONCE (``localCheckpoint``; or pass a persisted ``fingerprints``
    frame (id_col, simhash) and no checkpoint is taken), the exploded band
    rows carry only (id, band_idx, band_val) — the fingerprint itself
    never rides the self-join shuffle — and boilerplate mega-clusters are
    routed away from the quadratic join by ``max_band_size`` — the same
    _drop_hot_keys cap as the LSH buckets (capped groups are near-certain
    exact duplicates — collapse them with exact_dedup first, as
    dedup_corpus does for MinHash)."""
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64, got {bands}")
    width = 64 // bands
    if fingerprints is not None:
        fps = fingerprints
    else:
        fps = simhash(df, text_col, id_col, shingle).localCheckpoint(
            eager=False
        )

    def band_val(b: int):
        shifted = F.shiftrightunsigned(F.col("simhash"), b * width)
        if width == 64:  # bands=1: the whole fingerprint; (1<<64)-1
            return shifted  # would overflow a LongType literal
        return shifted.bitwiseAND(F.lit((1 << width) - 1).cast("long"))

    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                band_val(b).alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    exploded = fps.select(id_col, F.explode(entries).alias("e")).select(
        id_col, F.col("e.band_idx"), F.col("e.band_val")
    )
    band = ["band_idx", "band_val"]
    exploded = _drop_hot_keys(exploded, band, max_band_size)
    cand = _self_pairs(exploded, band, id_col).dropDuplicates(["id_a", "id_b"])
    fa = fps.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("__fa"))
    fb = fps.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("__fb"))
    dist = F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select("id_a", "id_b", dist.alias("hamming_dist"))
        .filter(F.col("hamming_dist") <= max_dist)
    )


def word_ngrams(text_col: str | F.Column, n: int) -> F.Column:
    """Array of the full-width word n-grams of a text column (words =
    nonempty space-separated tokens, grams joined back with single
    spaces). Pure JVM array expressions — no explode, no Python.

    Index filtering avoids F.sequence entirely (sequence(0, -1) silently
    yields a DESCENDING array when the doc is shorter than n; the
    (element, index) filter form is the documented two-parameter lambda,
    not a captured-default closure — see CLAUDE.md's F.filter note).

    The split+filter words array is BOUND ONCE per row through an outer
    single-element transform lambda: higher-order-function bodies get no
    common-subexpression elimination, so referencing the words SUBTREE
    from the per-gram lambdas re-evaluates split() for every gram and
    every slice element — measured 7x slower on a 1M-doc scan. Same
    values bit-for-bit (pinned by the unchanged string-matched gates)."""
    if n < 1:
        raise ValueError(f"n-gram width must be >= 1, got {n}")
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.filter(F.split(col, " "), lambda w: w != F.lit(""))

    def grams(ws: F.Column) -> F.Column:
        ga = F.transform(
            ws, lambda _, i: F.array_join(F.slice(ws, i + 1, n), " ")
        )
        return F.filter(ga, lambda _, i: i <= F.size(ws) - n)

    return F.transform(F.array(words), grams)[0]


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    broadcast: bool = True,
    flag_col: str = "contaminated",
    grams: str = "string",
) -> DataFrame:
    """Benchmark decontamination for training corpora: flag every document
    of ``df`` that shares at least one word ``n``-gram with any document
    of ``benchmark`` (the standard n-gram-overlap contamination rule used
    by LLM training pipelines; 13-gram is the conventional width for
    real prose — the driver gate uses n=4 against the synthetic
    31-word-vocabulary corpus so both outcomes occur).

    Returns ``df`` plus a boolean ``flag_col``; filter ``NOT flag_col``
    to drop contaminated rows.

    ``grams="string"`` (the oracle mode) matches grams as STRINGS built
    by JVM array expressions — exact by construction, but per-gram string
    allocation contends on the shared JVM heap's GC bandwidth: measured
    2->8-core efficiency 0.43 on one local JVM
    (BENCH/text_scaling_latest.md). ``grams="hashed"`` routes gram
    construction through the Arrow rolling-hash kernels
    (_batch_word_gram_hashes): grams leave Python as 8-byte longs, the
    hashing runs in per-core Python worker PROCESSES with no shared heap,
    and both the broadcast set and the semi-join keys shrink to 8 B/gram
    — the 10^12-doc path. Exactness degrades only by the 2^-64/pair
    collision rate (same ledger as exact_dedup's hashed mode, SCALE.md);
    string-vs-hashed parity is pytest-pinned and the hashed mode sits
    under its own driver gate against the string-gram DuckDB oracle.

    Scale shape (10^12 candidate docs): benchmarks are eval sets — tiny
    next to the corpus — so the distinct benchmark-gram set broadcasts
    (default) and the whole operator is ONE corpus scan: the semi-join is
    a broadcast hash join on the exploded gram rows, and the flag rejoins
    on ``id_col`` (a thin shuffle of ids only — document text never
    shuffles). For a benchmark too large to broadcast, ``broadcast=False``
    plans a shuffled equi-join on the grams instead (driver-gated for
    parity with the broadcast plan)."""
    if grams == "hashed":
        bench_grams = _hashed_gram_rows(benchmark, text_col, None, n).distinct()
        doc_grams = _hashed_gram_rows(df, text_col, id_col, n)
    elif grams == "string":
        bench_grams = (
            benchmark.select(
                F.explode(
                    F.array_distinct(word_ngrams(text_col, n))
                ).alias("__ng")
            )
            .distinct()
        )
        doc_grams = df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(word_ngrams(text_col, n))
            ).alias("__ng"),
        )
    else:
        raise ValueError(f"grams must be 'string' or 'hashed', got {grams!r}")
    if broadcast:
        bench_grams = F.broadcast(bench_grams)
    hit_ids = (
        doc_grams.join(bench_grams, "__ng", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return df.join(hit_ids, id_col, "left").withColumn(
        flag_col, F.coalesce(F.col("__hit"), F.lit(False))
    ).drop("__hit")


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    min_docs: int = 2,
    keep_span: bool = True,
    grams: str = "string",
) -> DataFrame:
    """Repeated-span detection: every word ``n``-gram that occurs in at
    least ``min_docs`` distinct documents, with its document count, total
    occurrence count (within-doc repeats included), and the smallest
    containing document id. The diagnostics half of exact-substring
    deduplication (Lee et al. 2022 use 50-token spans): repeated spans
    at training-corpus scale are boilerplate — headers, license blocks,
    navigation chrome — and this surfaces them ranked by spread.

    Output: (span, n_docs, n_occurrences, first_id), filtered to
    ``n_docs >= min_docs``.

    Scale shape: two aggregations, both keyed on the span — the first
    groups (span, doc) so the wide explode collapses map-side before the
    shuffle (within-doc repeats never cross the wire), the second is a
    plain count/sum/min rollup. No distinct-count expansion, no join.
    With ``keep_span=False`` the span string is replaced by its xxhash64
    (spans become 8-byte shuffle keys — the 100 TB path; collision rate
    2^-64 per span pair), trading the readable span text away.

    ``grams="hashed"`` goes further: gram construction itself runs in the
    Arrow rolling-hash kernels (per-core Python worker processes — no
    shared-JVM-heap gram allocation, the measured 0.43 GC-bandwidth
    ceiling of the string mode), the per-(doc, span) pre-rollup starts
    inside the kernel batch (a per-INPUT-ROW rollup, finished by the same
    (span, id) aggregation the string mode runs so documents split across
    rows or repeated ids stay one document — parity with the string
    engine, not just with unique-id corpora), and only 8-byte FNV-murmur
    hashes (NOT xxhash64 — span keys are opaque either way) ever reach
    the JVM. Implies hashed span keys, so it requires ``keep_span=False``;
    parity with the string mode is pytest-pinned and driver-gated."""
    if grams == "hashed":
        if keep_span:
            raise ValueError(
                "grams='hashed' cannot keep span text; pass keep_span=False"
            )
        per_doc = (
            _hashed_gram_rows(df, text_col, id_col, n, with_counts=True)
            .select(F.col("__ng").alias("span"), F.col(id_col), F.col("__occ"))
            .groupBy("span", id_col)
            .agg(F.sum("__occ").alias("__occ"))
        )
    elif grams == "string":
        span: F.Column = F.explode(word_ngrams(text_col, n)).alias("span")
        gram_rows = df.select(F.col(id_col), span)
        if not keep_span:
            gram_rows = gram_rows.select(
                id_col, F.xxhash64("span").alias("span")
            )
        per_doc = gram_rows.groupBy("span", id_col).agg(
            F.count(F.lit(1)).alias("__occ")
        )
    else:
        raise ValueError(f"grams must be 'string' or 'hashed', got {grams!r}")
    return (
        per_doc.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__occ").alias("n_occurrences"),
            F.min(id_col).alias("first_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
