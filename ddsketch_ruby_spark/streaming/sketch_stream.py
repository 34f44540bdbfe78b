"""Structured Streaming adapters for mergeable sketches.

The sketch state is an order-insensitive commutative monoid (reference
merge spec, shared_examples_for_sketch.rb:118-250), which makes it a valid
streaming state type: arbitrarily batched, late, or reordered data folds to
the same state.

Two shapes:

- sketch_stream_agg: per-group running sketch via
  ``applyInPandasWithState`` — each micro-batch folds its rows into the
  persisted state row and emits the current result (update mode).
- sketch_stream_windowed: event-time tumbling-window sketches with
  watermarked late-data handling — the state key is (group, window), so
  closed windows age out with the watermark.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.agg import _group_fields, _output_fields
from ..sketches.base import SketchSpec

__all__ = [
    "sketch_stream_agg",
    "sketch_stream_windowed",
    "stream_exact_dedup",
    "sketch_stream_hist",
    "stream_stream_latency_join",
    "stream_session_stats",
    "stream_weighted_sample",
]


def stream_exact_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
    hash_key: bool = True,
) -> DataFrame:
    """Streaming exact dedup. With a timestamp column the dedup state is
    watermark-bounded (dropDuplicatesWithinWatermark — state ages out);
    without one it is global (state grows with distinct keys — use only
    for bounded key spaces). hash_key keeps the state at 8 bytes per key."""
    df = stream_df
    cols = list(key_cols)
    if hash_key:
        df = df.withColumn("__key", F.xxhash64(*key_cols))
        cols = ["__key"]
    if ts_col is not None:
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        out = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(cols)
    else:
        out = df.dropDuplicates(cols)
    return out.drop("__key") if hash_key else out


def _plain(v: Any) -> Any:
    """GroupState tuples go through Pyrolite — numpy types must become
    plain Python values."""
    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, np.generic):
        return v.item()
    return v


def sketch_stream_agg(
    stream_df: DataFrame,
    spec: SketchSpec,
    value_col: str,
    group_by: Iterable[str],
    emit: str = "result",
) -> DataFrame:
    """Running per-group sketch over a stream; emits one updated row per
    group per micro-batch (outputMode="update")."""
    group_by = list(group_by)
    if not group_by:
        raise ValueError("stateful streaming aggregation requires group keys")
    state_schema = T.StructType(spec.state_fields())
    out_fields, emit_fn = _output_fields(spec, emit)
    out_schema = T.StructType(_group_fields(stream_df, group_by) + out_fields)
    state_names = [f.name for f in spec.state_fields()]

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            stored = dict(zip(state_names, state.get))
            sk = spec.row_to_state(stored)
        else:
            sk = spec.zero()
        for pdf in pdfs:
            vals = pdf[value_col].to_numpy()
            sk = spec.update(sk, vals)
        row = spec.state_to_row(sk)
        state.update(tuple(_plain(row[n]) for n in state_names))
        out = dict(zip(group_by, key))
        out.update(emit_fn(sk))
        yield pd.DataFrame([out], columns=out_schema.names)

    return (
        stream_df.select(*group_by, value_col)
        .groupBy(*group_by)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sketch_stream_hist(
    stream_df: DataFrame,
    spec: "DDSketchSpec",
    value_col: str,
    ts_col: str,
    window: str = "1 minute",
    watermark: str | None = "5 minutes",
    group_by: Iterable[str] = (),
    slide: str | None = None,
) -> DataFrame:
    """Streaming DDSketch via the JVM histogram path — NO Python in the
    stream at all. The stateful operator is a plain watermarked windowed
    groupBy on (window, group, zone, bucket-key): state per group is
    bounded by the bucket count (<= ~2*bin_limit rows), Spark ages closed
    windows out with the watermark, and append mode emits each window's
    final bucket rows exactly once. Assemble the emitted rows into sketch
    results with ``operators.ddsketch_jvm.assemble_histogram`` (batch side,
    e.g. in foreachBatch or on the sink table).

    ``slide`` < ``window`` gives overlapping (sliding) windows: each row
    folds into window/slide bucket histograms. State stays bounded — it
    grows by the overlap factor, not the row count — and the monoid makes
    every window's buckets independent of arrival order.

    Because this is a built-in streaming aggregation (not
    applyInPandasWithState), it composes with other stateful operators —
    in particular it can run downstream of stream_stream_latency_join —
    pass ``watermark=None`` there: redefining a watermark below another
    stateful operator is disallowed; the upstream one propagates.
    Output columns: window_start, window_end, group..., __zone, __key,
    __cnt, __svw, __minv, __maxv.
    """
    from ..operators.ddsketch_jvm import histogram_rows

    group_by = list(group_by)
    if watermark is not None:
        # (the cast would strip an upstream watermark's event-time tag, so
        # it only happens on the path that defines its own watermark)
        src = stream_df.withColumn(
            ts_col, F.col(ts_col).cast("timestamp")
        ).withWatermark(ts_col, watermark)
    else:
        src = stream_df
    win_col = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    windowed = src.select(win_col.alias("__win"), *group_by, value_col)
    hist = histogram_rows(windowed, spec, value_col, ["__win", *group_by])
    return hist.select(
        F.col("__win.start").alias("window_start"),
        F.col("__win.end").alias("window_end"),
        *group_by,
        "__zone",
        "__key",
        "__cnt",
        "__svw",
        "__minv",
        "__maxv",
    )


def stream_stream_latency_join(
    requests: DataFrame,
    responses: DataFrame,
    key_cols: Iterable[str],
    req_ts_col: str,
    resp_ts_col: str,
    within: str = "10 minutes",
    watermark: str = "10 minutes",
    latency_col: str = "latency_s",
) -> DataFrame:
    """Stream-stream inner join of a request stream and a response stream
    on key equality + a bounded event-time range (response no earlier than
    the request and at most ``within`` later), emitting per-pair latency in
    seconds — the canonical DDSketch input. Both sides are watermarked so
    the join state is bounded: Spark drops request state once no matching
    response can still arrive.

    Returns (key..., <req ts>, <resp ts>, latency_s); feed into
    sketch_stream_hist on ``latency_s`` with the response timestamp as
    event time. If both streams name their event-time column the same
    (e.g. both 'ts'), the response one is emitted as ``<name>_resp`` —
    the returned DataFrame's columns are authoritative.
    """
    key_cols = list(key_cols)
    req = requests.withColumn(
        req_ts_col, F.col(req_ts_col).cast("timestamp")
    ).withWatermark(req_ts_col, watermark)
    resp = responses.withColumn(
        resp_ts_col, F.col(resp_ts_col).cast("timestamp")
    ).withWatermark(resp_ts_col, watermark)
    # disambiguate EVERY response-side column referenced in the condition —
    # keys and the timestamp (both streams naming their event time 'ts' is
    # the common case)
    r_ts = f"__r_{resp_ts_col}"
    resp_renamed = resp.withColumnRenamed(resp_ts_col, r_ts)
    for kc in key_cols:
        resp_renamed = resp_renamed.withColumnRenamed(kc, f"__r_{kc}")
    cond = F.lit(True)
    for kc in key_cols:
        cond = cond & (F.col(kc) == F.col(f"__r_{kc}"))
    cond = (
        cond
        & (F.col(r_ts) >= F.col(req_ts_col))
        & (F.col(r_ts) <= F.col(req_ts_col) + F.expr(f"INTERVAL {within}"))
    )
    joined = req.join(resp_renamed, cond, "inner")
    latency = (
        (F.unix_micros(F.col(r_ts)) - F.unix_micros(F.col(req_ts_col))).cast(
            "double"
        )
        / F.lit(1_000_000.0)
    ).alias(latency_col)
    resp_out = (
        resp_ts_col if resp_ts_col != req_ts_col else f"{resp_ts_col}_resp"
    )
    return joined.select(
        *key_cols,
        req_ts_col,
        F.col(r_ts).alias(resp_out),
        latency,
    )


def sketch_stream_windowed(
    stream_df: DataFrame,
    spec: SketchSpec,
    value_col: str,
    ts_col: str,
    window: str = "1 minute",
    watermark: str | None = "5 minutes",
    group_by: Iterable[str] = (),
    emit: str = "result",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding) event-time window sketches
    with a watermark: late rows within the watermark still merge (the
    monoid absorbs reordering); older state is dropped by Spark
    automatically. ``watermark=None`` keeps ALL window states forever and
    never declares rows late — correct (not just convenient) when the
    caller re-merges update-mode emissions downstream, because the monoid
    makes arbitrarily late arrivals fold into the same final state; only
    use it when the window key space is bounded (states never age out)."""
    group_by = list(group_by)
    # watermarks require TIMESTAMP (with zone); parquet often yields NTZ
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    win_col = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    if watermark is not None:
        stream_df = stream_df.withWatermark(ts_col, watermark)
    windowed = (
        stream_df
        .select(
            win_col.alias("win"),
            *group_by,
            value_col,
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_by,
            value_col,
        )
    )
    return sketch_stream_agg(
        windowed, spec, value_col, ["window_start", "window_end", *group_by], emit
    )


def stream_session_stats(
    stream_df: DataFrame,
    ts_col: str,
    gap: str = "30 minutes",
    by: Iterable[str] = ("user_id",),
    value_col: str | None = None,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Per-key SESSION windows via Spark's native session_window state
    merging: a session is extended while consecutive events of the same
    key arrive within ``gap`` (Spark merges overlapping [t, t+gap)
    windows, i.e. a NEW session starts when the inter-event gap is
    >= ``gap`` — note >= where operators/sessions.py's batch
    gaps-and-islands uses strict >; they differ only on an exactly-gap
    tie). Append mode emits each session exactly once, when the
    watermark passes its close; state per live session is one row of
    counters, aged out automatically.

    Output mirrors ``operators.sessions.session_stats``: key columns +
    n_events, start_us/end_us/duration_us (exact integer microseconds),
    and sum_value when ``value_col`` is given — so the batch operator and
    a relational SQL replay can gate this bit-for-bit.
    """
    by = list(by)
    src = stream_df.withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    ).withWatermark(ts_col, watermark)
    us = F.unix_micros(F.col(ts_col))
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(us).alias("start_us"),
        F.max(us).alias("end_us"),
        (F.max(us) - F.min(us)).alias("duration_us"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 6).alias("sum_value"))
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("__sw"), *by)
        .agg(*aggs)
        .drop("__sw")
    )


def stream_weighted_sample(
    stream_df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    strata: list[str],
    seed: int = 0,
) -> DataFrame:
    """Streaming sequential Poisson sample: per stratum, hold the k
    smallest priorities xi = u(id)/weight seen so far (operators/
    sampling.py semantics). Because xi is a PURE FUNCTION of (id,
    weight, seed), "k smallest over the union" is order-insensitive —
    the streamed sample after the last micro-batch is EXACTLY the batch
    ``weighted_sample`` of the union of all micro-batches, regardless
    of how rows were split into triggers. State per stratum is the k
    (xi, id) pairs plus an emission counter; each trigger re-emits the
    stratum's current sample tagged with ``seq`` (take the max-seq rows
    per stratum for the final sample).

    Scale shape: the xi expression runs JVM-side on the stream; the
    stateful operator shuffles only (strata, id, xi) — the same thin
    selection rows as the batch path — and holds O(k) state per
    stratum."""
    if k <= 0:
        raise ValueError("k must be positive")
    if not strata:
        raise ValueError("stream_weighted_sample requires strata keys")
    from ..operators.sampling import sample_key

    keyed = (
        stream_df.filter(
            F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
        )
        .withColumn("__xi", sample_key(id_col, weight_col, seed))
        .select(*strata, id_col, "__xi")
    )
    by_name = {f.name: f for f in keyed.schema.fields}
    strata_fields = [by_name[g] for g in strata]
    id_field = by_name[id_col]
    state_schema = T.StructType(
        [
            T.StructField("xis", T.ArrayType(T.DoubleType())),
            T.StructField("ids", T.ArrayType(id_field.dataType)),
            T.StructField("seq", T.LongType()),
        ]
    )
    out_schema = T.StructType(
        strata_fields
        + [
            T.StructField("seq", T.LongType()),
            id_field,
            T.StructField("sample_key", T.DoubleType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            xis, ids, seq = state.get
            pairs = list(zip(xis, ids))
        else:
            pairs, seq = [], 0
        for pdf in pdfs:
            pairs.extend(
                zip(
                    (float(x) for x in pdf["__xi"]),
                    (_plain(i) for i in pdf[id_col]),
                )
            )
        pairs.sort()
        pairs = pairs[:k]
        seq = int(seq) + 1
        state.update(
            ([p[0] for p in pairs], [p[1] for p in pairs], seq)
        )
        base = dict(zip(strata, key))
        yield pd.DataFrame(
            [
                {**base, "seq": seq, id_col: i, "sample_key": x}
                for x, i in pairs
            ],
            columns=out_schema.names,
        )

    return keyed.groupBy(*strata).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
