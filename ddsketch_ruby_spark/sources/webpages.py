"""Deterministic Common-Crawl-shaped synthetic web table (FIXTURES.md §1).

Schema per BASELINE.json input_hint:
  (url string, warc_ts timestamp, html binary, text string, lang string)

Every column is a pure function of the row index (counter-based hashing —
vectorized splitmix64 chains), so the table is byte-identical per url across
runs, partitionings, and cluster sizes. That determinism is the stand-in for
the north rule's "byte-identical extracted text per url" invariant and is
pinned by a per-url xxhash64 digest test (tests/test_webpages.py).

Generation runs distributed: ``spark.range(n)`` -> ``mapInPandas`` — no
driver-side materialization, scales to any n.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.agg import _drops_zip_finders

__all__ = ["web_pages", "WEB_PAGES_SCHEMA"]

WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("latency_ms", T.DoubleType(), False),
    ]
)

_VOCAB = np.array(
    "the quick brown fox jumps over lazy dog data spark sketch quantile "
    "merge bucket store stream batch shuffle partition web page crawl index "
    "token text language model scale byte".split()
)

_LANGS = np.array(["en", "de", "fr", "es", "ja"])
_LANG_CUM = np.cumsum([0.6, 0.15, 0.1, 0.1, 0.05])


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _uniform01(h: np.ndarray) -> np.ndarray:
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _doc_lengths(u: np.ndarray, dist: str) -> np.ndarray:
    if dist == "uniform":
        return (1 + np.floor(u * 10000)).astype(np.int64)
    if dist == "lognormal":
        # inverse-free Box-Muller needs two uniforms; derive second from u
        u2 = (u * 2654435761.0) % 1.0
        z = np.sqrt(-2.0 * np.log(np.clip(u, 1e-12, 1))) * np.cos(
            2.0 * np.pi * u2
        )
        return np.clip((np.exp(z) * 100).astype(np.int64), 1, 100_000)
    if dist == "exponential":
        return np.clip(
            (-1000.0 * np.log(np.clip(u, 1e-12, 1))).astype(np.int64), 1, 1_000_000
        )
    raise ValueError(f"unknown length distribution {dist!r}")


def _generate(pdf_idx: np.ndarray, seed: int, dist: str) -> pd.DataFrame:
    i = pdf_idx.astype(np.uint64)
    base = np.uint64(seed)
    h1 = _splitmix64(i ^ base)
    h2 = _splitmix64(h1)
    h3 = _splitmix64(h2)
    h4 = _splitmix64(h3)
    h5 = _splitmix64(h4)

    # zipf-ish host skew (long tail of small host ids)
    hosts = np.floor(997.0 * _uniform01(h1) ** 4).astype(np.int64)
    idx_str = pd.Series(pdf_idx).astype(str)
    url = "https://host" + pd.Series(hosts).astype(str) + ".example.com/p/" + idx_str

    warc_ts = pd.Timestamp("2025-01-01") + pd.to_timedelta(
        pdf_idx.astype(np.int64), unit="s"
    )
    lang = _LANGS[np.searchsorted(_LANG_CUM, _uniform01(h2), side="right").clip(
        0, len(_LANGS) - 1
    )]
    doc_len = _doc_lengths(_uniform01(h3), dist)
    # deterministic pseudo-latency: lognormal(0,1) * 100 from the url hash
    u1 = np.clip(_uniform01(h4), 1e-12, 1)
    u2 = _uniform01(h5)
    latency = (
        np.exp(np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)) * 100.0
    )

    # text: 4-word phrase tiled to the exact target length
    w = np.stack(
        [(h >> np.uint64(7)) % np.uint64(len(_VOCAB)) for h in (h1, h2, h3, h4)],
        axis=1,
    ).astype(np.int64)
    texts = []
    htmls = []
    vocab = _VOCAB
    for row in range(len(pdf_idx)):
        phrase = " ".join(vocab[w[row]]) + " "
        n = int(doc_len[row])
        reps = -(-n // len(phrase))
        text = (phrase * reps)[:n]
        texts.append(text)
        htmls.append(b"<html><body>" + text.encode() + b"</body></html>")

    return pd.DataFrame(
        {
            "url": url.values,
            "warc_ts": warc_ts,
            "html": htmls,
            "text": texts,
            "lang": lang,
            "latency_ms": latency,
        }
    )


def web_pages(
    spark: SparkSession,
    n: int,
    dist: str = "lognormal",
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic web_pages table of n rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _generate(pdf["id"].to_numpy(), seed, dist)

    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    return rng.mapInPandas(_drops_zip_finders(gen), schema=WEB_PAGES_SCHEMA)
