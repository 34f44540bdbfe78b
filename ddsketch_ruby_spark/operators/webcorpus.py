"""One-call web-corpus preparation: the north-star pipeline end to end.

The north star (BASELINE.json) is "q50/q95/q99 of per-document lengths
and latencies derived from *extracted text*" over a Common-Crawl-shaped
table ``(url, warc_ts, html, text, lang, ...)`` at 10^12 rows. Every
stage of that pipeline exists as an individually oracle-gated function
(html_to_text, url_host/registrable_domain/url_normalize, redact_pii,
lang_id, token/quality scores, doc_fingerprint, hash_split,
ddsketch_quantiles_long); this module is the composition a user actually
runs — one call from the raw crawl frame to the enriched corpus, and one
more to the per-domain sketch rollup.

Scale shape (the whole point of composing INSIDE one select):

- :func:`prepare_web_corpus` is a single projection over one scan —
  zero shuffles, zero Python, one WholeStageCodegen span. Derived
  columns that feed several features (extracted text, host) are bound
  to real columns first, so Catalyst's CollapseProject keeps each heavy
  regex chain evaluated ONCE per row (it refuses to inline multi-
  referenced non-cheap aliases) instead of once per feature.
- :func:`web_corpus_quantiles` adds the only shuffle in the story —
  the two-phase sketch aggregation, which moves O(groups x buckets)
  histogram rows (independent of input size), never text. Host-skewed
  crawls (one domain = 10% of the web) are safe: phase 1 pre-reduces
  per partition, so the hot key's phase-2 group receives at most
  (partitions x buckets) rows, not its raw row count.

Column-name parity with the individually-gated pieces is pinned by
tests/test_webcorpus.py (bit-exact equality against hand-composition),
so the per-piece DuckDB oracles transfer to the composed pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ddsketch_ruby_spark.functions.html import html_to_text
from ddsketch_ruby_spark.functions.text import (
    bpe_token_estimate,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from ddsketch_ruby_spark.functions.url import (
    redact_pii,
    registrable_domain,
    url_host,
    url_normalize,
)
from ddsketch_ruby_spark.operators.sampling import hash_split

__all__ = [
    "prepare_web_corpus",
    "web_corpus_quantiles",
    "latest_capture",
    "outlinks",
    "outlinks_resolve_sql",
]

_DEFAULT_SPLITS = {"train": 0.98, "val": 0.01, "test": 0.01}


def prepare_web_corpus(
    df: DataFrame,
    *,
    html_col: str = "html",
    url_col: str = "url",
    text_col: str | None = None,
    redact: bool = True,
    split_weights: dict[str, float] | None = None,
    split_seed: int = 0,
) -> DataFrame:
    """Enrich a raw crawl frame with every per-document derived column.

    Appends: ``text_extracted`` (from ``html_col`` unless ``text_col``
    names an already-extracted column), ``host`` / ``domain`` /
    ``url_norm`` (from ``url_col``), ``text_clean`` (PII-redacted
    extracted text; equal to ``text_extracted`` when ``redact=False``),
    ``fingerprint`` (xxhash64 of the extracted text — the per-url
    byte-identity pin), ``lang_guess``, ``n_tokens``, ``n_bpe_tokens``,
    ``n_chars``, ``quality``, and ``split`` (frozen hash assignment,
    default 98/1/1 train/val/test).

    One projection, one scan, no shuffle — compose with
    :func:`web_corpus_quantiles`, the dedup family, or hash_split-aware
    writers downstream. Quality/token features are computed on the
    UNredacted extraction (redaction placeholders would perturb the
    scores); ``text_clean`` is what ships to training.
    """
    extracted: Column = (
        F.col(text_col) if text_col is not None else html_to_text(html_col)
    )
    host = url_host(url_col)
    # bind multi-referenced heavy chains to real columns: CollapseProject
    # will NOT inline a non-cheap alias referenced more than once, so
    # each regex pipeline runs once per row no matter how many features
    # read it below
    bound = df.withColumns(
        {
            "text_extracted": extracted.alias("text_extracted"),
            "host": host.alias("host"),
        }
    )
    feats: dict[str, Column] = {
        "domain": registrable_domain(F.col("host")),
        "url_norm": url_normalize(url_col),
        "text_clean": (
            redact_pii(F.col("text_extracted"))
            if redact
            else F.col("text_extracted")
        ).alias("text_clean"),
        "fingerprint": doc_fingerprint("text_extracted"),
        "lang_guess": lang_id("text_extracted"),
        "n_tokens": token_count("text_extracted"),
        "n_bpe_tokens": bpe_token_estimate("text_extracted"),
        "n_chars": F.length("text_extracted").cast("long"),
        "quality": quality_score("text_extracted"),
    }
    out = bound.withColumns(feats)
    return hash_split(
        out, url_col, split_weights or dict(_DEFAULT_SPLITS), seed=split_seed
    )


def web_corpus_quantiles(
    df: DataFrame,
    *,
    group_cols: list[str] | None = None,
    value_cols: tuple[str, ...] = ("n_chars", "latency_ms"),
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    relative_accuracy: float = 0.01,
    **prepare_kwargs,
) -> DataFrame:
    """The north-star rollup in one call: per-domain q50/q95/q99 of
    per-document lengths (and latencies when present) derived from
    extracted text.

    ``df`` may be a raw crawl frame (it is passed through
    :func:`prepare_web_corpus` first) or an already-prepared corpus
    (detected by the presence of the ``domain`` column). All value
    columns share ONE scan: rows are melted to (keys, measure, value)
    with a 2-element explode, so the heavy extraction/regex projection
    runs once per row regardless of how many measures are sketched
    (sketching each column separately would re-execute the lazy
    prepare pipeline per column). One sketch shuffle on
    (keys, measure), then a pivot over the tiny long frame
    (groups x quantiles x measures rows) back to one column per
    measure. Zero and negative values are INCLUDED — the engine's
    three-zone routing represents them exactly, and a crawl where many
    pages extract to empty text must not silently overstate the length
    quantiles.
    """
    if "domain" not in df.columns:
        df = prepare_web_corpus(df, **prepare_kwargs)
    from ddsketch_ruby_spark.operators.quantiles import (
        ddsketch_quantiles_long,
    )

    keys = group_cols if group_cols is not None else ["domain"]
    present = [v for v in value_cols if v in df.columns]
    if not present:
        raise ValueError(
            f"none of {value_cols} present in {df.columns}"
        )
    pairs = F.array(
        *[
            F.struct(
                F.lit(v).alias("measure"),
                F.col(v).cast("double").alias("val"),
            )
            for v in present
        ]
    )
    long = (
        df.select(*keys, F.explode(pairs).alias("__mv"))
        .select(
            *keys,
            F.col("__mv.measure").alias("__measure"),
            F.col("__mv.val").alias("__val"),
        )
        .filter(F.col("__val").isNotNull() & ~F.isnan("__val"))
    )
    q = ddsketch_quantiles_long(
        long,
        "__val",
        [*keys, "__measure"],
        quantiles=quantiles,
        relative_accuracy=relative_accuracy,
    )
    out = (
        q.groupBy(*keys, "qname")
        .pivot("__measure", present)
        .agg(F.first("qvalue"))
    )
    for v in present:
        out = out.withColumnRenamed(v, f"{v}_q")
    return out


def latest_capture(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    tie_breakers: tuple[str, ...] = (),
) -> DataFrame:
    """Keep only the newest capture per key — the multi-snapshot dedup a
    crawl table needs before any per-document statistics (the same url
    is fetched by many crawls; counting every capture would weight hot
    pages by fetch frequency, not content).

    One hash aggregation on the key: ``max_by(struct(all columns),
    struct(ts, tie_breakers...))`` pre-reduces map-side, so the shuffle
    moves one candidate row per (partition, key), never the capture
    history. Deterministic under ties only if (ts, tie_breakers) is
    unique per key — pass tie_breakers (e.g. a digest or fetch id) when
    timestamps can collide; with no tie breaker and duplicate
    timestamps the winner is partitioning-dependent, same as any
    arg-max. Output columns == input columns (key first dropped dupes).
    """
    others = [c for c in df.columns if c != key_col]
    ord_cols = [ts_col, *tie_breakers]
    picked = df.groupBy(key_col).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in others]),
            F.struct(*[F.col(c) for c in ord_cols]),
        ).alias("__row")
    )
    return picked.select(key_col, *[F.col(f"__row.{c}").alias(c) for c in others])


# --- outlink extraction ----------------------------------------------------
# Link-resolution patterns, shared verbatim by the Column chain and the
# SQL twin (cross-engine subset: explicit case classes, no (?i)/\s/\b).
_ABS_HTTP_PAT = "^[hH][tT][tT][pP][sS]?://"
_BASE_ROOT_GRP = "^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*)"
_BASE_SCHEME_GRP = "^([a-zA-Z][a-zA-Z0-9+.\\-]*)://"


def outlinks(
    df: DataFrame,
    *,
    html_col: str = "html",
    url_col: str = "url",
    binary: bool = True,
) -> DataFrame:
    """The crawl's outgoing-link edge frame: one row per resolvable
    ``<a href>`` — ``(url, href, dst_url, src_host, dst_host,
    external)``.

    Resolution rules (documented; anything else — mailto:, javascript:,
    fragments, path-relative without a leading slash — is dropped):

    - absolute ``http(s)://...`` kept as-is,
    - protocol-relative ``//host/...`` gets the base URL's scheme,
    - root-relative ``/path`` gets the base URL's scheme://authority.

    Raw hrefs are entity-decoded per ``HTML_ENTITIES`` (attribute values
    legally escape ``&`` as ``&amp;``). ``external`` compares
    ``url_host`` of both ends.

    Scale shape: extraction + resolution are one scan-stage projection
    (regexp_extract_all -> explode -> column expressions; no Python, no
    shuffle — roughly a 10-50x row expansion on real pages, so compose
    the host-graph rollup, e.g. ``groupBy(src_host, dst_host).count()``,
    BEFORE anything that would shuffle edge text). Heavy intermediates
    (decoded href, base root) are bound to real columns in nested
    selects so CollapseProject keeps each chain evaluated once (same
    discipline as :func:`prepare_web_corpus`).

    The driver gate ``outlinks_documents`` replays extraction AND
    resolution op-for-op in DuckDB (RE2 vs Java regex) over an
    adversarially built corpus (data-href traps, mailto/nameless
    anchors, entity-escaped query strings).
    """
    from ddsketch_ruby_spark.functions.html import (
        HTML_ENTITIES,
        extract_links,
    )
    from ddsketch_ruby_spark.functions.url import url_host

    u = F.col(url_col)
    edges = df.select(
        u.alias(url_col),
        F.explode(extract_links(html_col, binary=binary)).alias(
            "__href_raw"
        ),
    )
    href = F.col("__href_raw")
    for entity, ch in HTML_ENTITIES:
        href = F.replace(href, F.lit(entity), F.lit(ch))
    edges = edges.select(
        url_col,
        href.alias("href"),
        F.regexp_extract(F.col(url_col), _BASE_ROOT_GRP, 1).alias(
            "__base_root"
        ),
        F.regexp_extract(F.col(url_col), _BASE_SCHEME_GRP, 1).alias(
            "__base_scheme"
        ),
    )
    h = F.col("href")
    dst = (
        F.when(h.rlike(_ABS_HTTP_PAT), h)
        .when(
            F.substring(h, 1, 2) == "//",
            F.concat(F.col("__base_scheme"), F.lit(":"), h),
        )
        .when(F.substring(h, 1, 1) == "/", F.concat(F.col("__base_root"), h))
    )
    edges = edges.select(url_col, "href", dst.alias("dst_url")).filter(
        F.col("dst_url").isNotNull()
    )
    return edges.select(
        url_col,
        "href",
        "dst_url",
        url_host(F.col(url_col)).alias("src_host"),
        url_host(F.col("dst_url")).alias("dst_host"),
    ).withColumn("external", F.col("dst_host") != F.col("src_host"))


def outlinks_resolve_sql(href_expr: str, url_expr: str) -> str:
    """DuckDB expression replaying the ``outlinks`` resolution CASE
    op-for-op (href must already be entity-decoded — replay the
    ``HTML_ENTITIES`` replace chain first, as ``outlinks`` does)."""
    from ddsketch_ruby_spark.functions.sqltext import sql_quote as q

    root = f"regexp_extract(({url_expr}), {q(_BASE_ROOT_GRP)}, 1)"
    scheme = f"regexp_extract(({url_expr}), {q(_BASE_SCHEME_GRP)}, 1)"
    return (
        f"CASE WHEN regexp_matches(({href_expr}), {q(_ABS_HTTP_PAT)})"
        f" THEN ({href_expr})"
        f" WHEN substr(({href_expr}), 1, 2) = '//'"
        f" THEN {scheme} || ':' || ({href_expr})"
        f" WHEN substr(({href_expr}), 1, 1) = '/'"
        f" THEN {root} || ({href_expr})"
        f" ELSE NULL END"
    )
