"""Structured Streaming sketch aggregation: a multi-micro-batch stream must
converge to the same sketch as a single batch build (monoid-as-state)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_ruby_spark.operators.agg import sketch_agg
from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec
from ddsketch_ruby_spark.sketches.hll import HLLSpec
from ddsketch_ruby_spark.streaming.sketch_stream import sketch_stream_agg


@pytest.fixture()
def stream_dir(spark, tmp_path):
    """events split into 3 parquet files -> file stream, 1 file per batch."""
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = str(tmp_path / "stream_in")
    for i in range(3):
        src.filter(f"event_id % 3 = {i}").coalesce(1).write.mode(
            "append"
        ).parquet(d)
    return d, src


def _run_stream(spark, result_df, name):
    q = (
        result_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def test_stream_converges_to_batch(spark, stream_dir):
    d, src = stream_dir
    schema = src.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    spec = DDSketchSpec(0.01, quantiles={"q50": 0.5, "q99": 0.99})
    out = sketch_stream_agg(stream, spec, "value", ["event_type"])
    mem = _run_stream(spark, out, "sketch_updates")

    # update mode: several rows per group; the LAST per group is the final
    rows = mem.collect()
    assert len(rows) > 5  # multiple micro-batches emitted updates
    import pandas as pd

    pdf = mem.toPandas()
    final = pdf.groupby("event_type").tail(1).set_index("event_type")

    # batch reference
    ref = {
        r["event_type"]: r.asDict()
        for r in sketch_agg(src, spec, "value", ["event_type"]).collect()
    }
    assert set(final.index) == set(ref)
    for et, r in ref.items():
        assert final.loc[et, "count"] == r["count"]
        assert final.loc[et, "q50"] == pytest.approx(r["q50"], rel=1e-12)
        assert final.loc[et, "q99"] == pytest.approx(r["q99"], rel=1e-12)


def test_stream_windowed(spark, stream_dir):
    """Event-time tumbling windows with a watermark: per-(window, type)
    sketches converge to the batch per-day result."""
    from ddsketch_ruby_spark.streaming.sketch_stream import sketch_stream_windowed

    d, src = stream_dir
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    spec = DDSketchSpec(0.01, quantiles={"q50": 0.5})
    out = sketch_stream_windowed(
        stream, spec, "value", ts_col="ts", window="1 day",
        watermark="10 days", group_by=["event_type"],
    )
    mem = _run_stream(spark, out, "windowed_updates")
    pdf = mem.toPandas()
    final = (
        pdf.groupby(["window_start", "event_type"]).tail(1)
    )
    ref = (
        src.select(F.date_trunc("day", "ts").alias("window_start"),
                   "event_type", "value")
        .groupBy("window_start", "event_type")
        .agg(F.count("value").alias("n"))
        .collect()
    )
    ref_counts = {(r["window_start"], r["event_type"]): r["n"] for r in ref}
    got_counts = {
        (row["window_start"], row["event_type"]): row["count"]
        for _, row in final.iterrows()
    }
    assert got_counts.keys() == ref_counts.keys()
    for k, n in ref_counts.items():
        assert got_counts[k] == n


def test_stream_windowed_sliding(spark, stream_dir):
    """Sliding windows (2 days, slide 1 day): every row folds into TWO
    overlapping windows; streamed per-window counts must equal the batch
    F.window(ts, window, slide) assignment exactly."""
    from ddsketch_ruby_spark.streaming.sketch_stream import sketch_stream_windowed

    d, src = stream_dir
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    spec = DDSketchSpec(0.01, quantiles={"q50": 0.5})
    out = sketch_stream_windowed(
        stream, spec, "value", ts_col="ts", window="2 days", slide="1 day",
        watermark="10 days",
    )
    mem = _run_stream(spark, out, "sliding_updates")
    pdf = mem.toPandas()
    final = pdf.groupby("window_start").tail(1)
    ref = (
        src.select(
            F.window(F.col("ts").cast("timestamp"), "2 days", "1 day")
            .alias("win"),
            "value",
        )
        .groupBy(F.col("win.start").alias("window_start"))
        .agg(F.count("value").alias("n"))
        .collect()
    )
    ref_counts = {r["window_start"]: r["n"] for r in ref}
    got_counts = {
        row["window_start"]: row["count"] for _, row in final.iterrows()
    }
    assert got_counts == ref_counts
    # the overlap factor: total assignments are 2x the row count
    assert sum(ref_counts.values()) == 2 * src.count()


def test_stream_restart_from_checkpoint(spark, tmp_path):
    """Kill-and-restart with a checkpointLocation: the second run resumes
    the sketch state instead of recounting — stream state survives the
    process boundary (north-rule resumability, streaming flavor)."""
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "restart_in")
    ckpt = str(tmp_path / "restart_ckpt")
    src.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(in_dir)

    spec = DDSketchSpec(0.01, quantiles={"q50": 0.5})
    out_dir = str(tmp_path / "restart_out")

    def run_once():
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        out = sketch_stream_agg(stream, spec, "value", ["event_type"])
        q = (
            out.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # new data lands AFTER the first run "dies"
    src.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(in_dir)
    run_once()

    pdf = spark.read.parquet(out_dir).toPandas()
    # counts are monotone per group: the max row is the final state
    final = (
        pdf.sort_values("count").groupby("event_type").tail(1).set_index("event_type")
    )
    expected = {
        r["event_type"]: r["n"]
        for r in src.groupBy("event_type").agg(F.count("value").alias("n")).collect()
    }
    # counts include BOTH halves: the restart resumed existing state
    for et, n in expected.items():
        assert final.loc[et, "count"] == n


def test_stream_exact_dedup(spark, stream_dir, tmp_path):
    """Duplicated stream input -> exactly one row per key survives."""
    from ddsketch_ruby_spark.streaming.sketch_stream import stream_exact_dedup

    d, src = stream_dir
    dup_dir = str(tmp_path / "dup_in")
    src.limit(200).coalesce(1).write.mode("append").parquet(dup_dir)
    src.limit(200).coalesce(1).write.mode("append").parquet(dup_dir)  # dups
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dup_dir)
    )
    deduped = stream_exact_dedup(stream, ["event_id"], ts_col="ts", watermark="30 days")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select event_id from dedup_out").collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids)) == 200


def test_stream_hll(spark, stream_dir):
    d, src = stream_dir
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .select("event_type", F.xxhash64("user_id").alias("h"))
    )
    out = sketch_stream_agg(stream, HLLSpec(p=12), "h", ["event_type"])
    mem = _run_stream(spark, out, "hll_updates")
    pdf = mem.toPandas()
    final = pdf.groupby("event_type").tail(1)
    exact = {
        r["event_type"]: r["d"]
        for r in src.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for _, row in final.iterrows():
        d_ = exact[row["event_type"]]
        assert abs(row["approx_distinct"] - d_) / d_ < 0.1


def test_stream_stream_latency_join_hist(spark, tmp_path):
    """Request/response stream-stream join -> per-window latency DDSketch
    through the PURE-JVM streaming histogram (no Python state operator),
    assembled batch-side and checked against the identical batch pipeline.
    Exercises chained stateful operators (join + windowed agg)."""
    from ddsketch_ruby_spark.operators.ddsketch_jvm import (
        assemble_histogram,
        ddsketch_jvm_agg,
    )
    from ddsketch_ruby_spark.streaming.sketch_stream import (
        sketch_stream_hist,
        stream_stream_latency_join,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    req = events.select(
        F.col("event_id").alias("rid"),
        F.col("ts").cast("timestamp").alias("req_ts"),
    )
    # response lands `value` seconds later (deterministic latency payload)
    resp = events.select(
        F.col("event_id").alias("rid"),
        (
            F.col("ts").cast("timestamp")
            + F.make_interval(secs=F.col("value"))
        ).alias("resp_ts"),
    )
    # sentinel pair far in the future: pushes both watermarks past every
    # real window so append mode emits them all under availableNow
    last_ts = events.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]
    sentinel_req = spark.createDataFrame(
        [(int(10**9), last_ts)], "rid long, req_ts timestamp"
    ).select("rid", (F.col("req_ts") + F.expr("INTERVAL 30 DAYS")).alias("req_ts"))
    sentinel_resp = sentinel_req.select(
        "rid", F.col("req_ts").alias("resp_ts")
    )

    req_dir, resp_dir = str(tmp_path / "req"), str(tmp_path / "resp")
    for i in range(2):
        req.filter(f"rid % 2 = {i}").coalesce(1).write.mode("append").parquet(req_dir)
        resp.filter(f"rid % 2 = {i}").coalesce(1).write.mode("append").parquet(resp_dir)
    sentinel_req.write.mode("append").parquet(req_dir)
    sentinel_resp.write.mode("append").parquet(resp_dir)

    spec = DDSketchSpec(0.01, quantiles={"q50": 0.5, "q99": 0.99})
    sreq = spark.readStream.schema(req.schema).option("maxFilesPerTrigger", 2).parquet(req_dir)
    sresp = spark.readStream.schema(resp.schema).option("maxFilesPerTrigger", 2).parquet(resp_dir)
    joined = stream_stream_latency_join(
        sreq, sresp, ["rid"], "req_ts", "resp_ts",
        within="10 minutes", watermark="0 seconds",
    )
    hist = sketch_stream_hist(
        joined, spec, "latency_s", "resp_ts",
        window="1 day", watermark=None,  # join's watermark propagates
    )
    q = (
        hist.writeStream.format("memory")
        .queryName("ssj_hist")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emitted = spark.sql("select * from ssj_hist").where("window_start < timestamp'2100-01-01'")
    got = {
        (r["window_start"],): (round(r["q50"], 9), round(r["q99"], 9), r["count"])
        for r in assemble_histogram(emitted, spec, ["window_start"]).collect()
    }

    # batch oracle: same join + same windows, straight through the JVM agg
    bjoined = req.join(resp, "rid").where(
        (F.col("resp_ts") >= F.col("req_ts"))
        & (F.col("resp_ts") <= F.col("req_ts") + F.expr("INTERVAL 10 minutes"))
    ).select(
        F.window("resp_ts", "1 day").getField("start").alias("window_start"),
        (
            (F.unix_micros("resp_ts") - F.unix_micros("req_ts")).cast("double")
            / F.lit(1_000_000.0)
        ).alias("latency_s"),
    )
    ref = {
        (r["window_start"],): (round(r["q50"], 9), round(r["q99"], 9), r["count"])
        for r in ddsketch_jvm_agg(bjoined, spec, "latency_s", ["window_start"]).collect()
    }
    assert got == ref and len(ref) >= 2, (len(got), len(ref))


def test_stream_rocksdb_state_store(spark, stream_dir, tmp_path):
    """Same stateful sketch aggregation on the RocksDB state store provider
    (the at-scale configuration: state lives off-heap/on-disk instead of
    the executor heap, so windows x groups x 32 kB no longer pressures the
    JVM). Results must be identical to the default provider."""
    d, src = stream_dir
    spec = DDSketchSpec(0.01, quantiles={"q50": 0.5})
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = sketch_stream_agg(stream, spec, "value", ["event_type"])
        q = (
            out.writeStream.format("memory")
            .queryName("rocks_sketch")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "rocks_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    pdf = spark.sql("select * from rocks_sketch").toPandas()
    final = (
        pdf.sort_values("count").groupby("event_type").tail(1).set_index("event_type")
    )
    ref = {
        r["event_type"]: r.asDict()
        for r in sketch_agg(src, spec, "value", ["event_type"]).collect()
    }
    assert set(final.index) == set(ref)
    for et, e in ref.items():
        assert final.loc[et, "count"] == e["count"]
        assert final.loc[et, "q50"] == pytest.approx(e["q50"], rel=1e-9)


def test_stream_stream_join_same_ts_name(spark, tmp_path):
    """Both streams naming their event time 'ts' (the common case) must
    analyze cleanly — the response side is disambiguated internally and
    emitted as ts_resp. Plan-time check; no query execution needed."""
    from ddsketch_ruby_spark.streaming.sketch_stream import (
        stream_stream_latency_join,
    )

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = str(tmp_path / "samets")
    src.select(F.col("event_id").alias("rid"), "ts").write.parquet(d)
    a = spark.readStream.schema("rid long, ts timestamp_ntz").parquet(d)
    b = spark.readStream.schema("rid long, ts timestamp_ntz").parquet(d)
    joined = stream_stream_latency_join(a, b, ["rid"], "ts", "ts")
    assert joined.columns == ["rid", "ts", "ts_resp", "latency_s"]
    joined._jdf.queryExecution().analyzed()  # forces analysis


def test_stream_collapsed_store_converges_to_batch(spark, stream_dir):
    """Collapse clamping composed with streaming: with bin_limit=20 the
    collapse fires REPEATEDLY across micro-batch boundaries (each batch
    can raise max_key and re-clamp earlier state), and the final stream
    state must still equal the single-shot batch build — the
    order-insensitive clamp contract under incremental folding."""
    d, src = stream_dir
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    spec = DDSketchSpec(
        0.01,
        store_type="collapsing_lowest",
        bin_limit=20,
        quantiles={"q10": 0.1, "q50": 0.5, "q99": 0.99},
    )
    out = sketch_stream_agg(stream, spec, "value", ["event_type"])
    mem = _run_stream(spark, out, "sketch_collapsed_updates")
    final = (
        mem.toPandas().groupby("event_type").tail(1).set_index("event_type")
    )

    ref = {
        r["event_type"]: r.asDict()
        for r in sketch_agg(src, spec, "value", ["event_type"]).collect()
    }
    assert set(final.index) == set(ref)
    for et, r in ref.items():
        for q in ("q10", "q50", "q99"):
            assert final.loc[et, q] == pytest.approx(r[q], rel=1e-12), (et, q)
        assert final.loc[et, "count"] == r["count"]


def test_stream_weighted_sample_equals_batch(spark, tmp_path):
    """The streamed per-stratum top-k priority sample must equal the
    BATCH weighted_sample of the union, for any micro-batch split — the
    priority is a pure function of (id, weight), so k-smallest-over-
    union is order-insensitive."""
    from ddsketch_ruby_spark.operators.sampling import weighted_sample
    from ddsketch_ruby_spark.streaming.sketch_stream import (
        stream_weighted_sample,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "n_chars")
    d = str(tmp_path / "src")
    for i in range(4):  # a DIFFERENT split than the driver gate's 3
        docs.filter(f"doc_id % 4 = {i}").coalesce(1).write.mode(
            "append"
        ).parquet(d)
    stream = (
        spark.readStream.schema("doc_id long, lang string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    sampled = stream_weighted_sample(
        stream, "doc_id", "n_chars", k=7, strata=["lang"]
    )
    q = (
        sampled.writeStream.format("memory")
        .queryName("sws_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(120)
    t = spark.table("sws_test")
    from pyspark.sql import Window

    w = Window.partitionBy("lang")
    got = sorted(
        (r["lang"], r["doc_id"], r["sample_key"])
        for r in t.withColumn("__m", F.max("seq").over(w))
        .filter("seq = __m")
        .collect()
    )
    want = sorted(
        (r["lang"], r["doc_id"], r["sample_key"])
        for r in weighted_sample(
            docs, "doc_id", "n_chars", k=7, strata=["lang"]
        )
        .select("lang", "doc_id", "sample_key")
        .collect()
    )
    assert got == want
    # state bound: every emission carries <= k rows per (lang, seq)
    per = (
        t.groupBy("lang", "seq").count().agg(F.max("count")).collect()[0][0]
    )
    assert per <= 7


def test_stream_kmv_windowed_no_watermark_equals_batch(spark, stream_dir):
    """watermark=None windowed KMV: re-merging each window's update-mode
    prefix emissions (sketch_finalize) must equal the batch sketch of the
    whole table — exactly, not approximately (the k-minima state is a
    pure function of the input set)."""
    from ddsketch_ruby_spark.operators.agg import sketch_agg, sketch_finalize
    from ddsketch_ruby_spark.sketches.kmv import KmvSpec
    from ddsketch_ruby_spark.streaming.sketch_stream import (
        sketch_stream_windowed,
    )

    d, src = stream_dir
    spec = KmvSpec(k=16)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .select("ts", F.xxhash64("user_id").alias("h"))
    )
    states = sketch_stream_windowed(
        stream, spec, "h", "ts", window="1 day", watermark=None, emit="state"
    )
    mem = _run_stream(spark, states, "kmv_win_updates")
    streamed = {
        r["window_start"]: r["approx_distinct"]
        for r in sketch_finalize(mem, spec, ["window_start"]).collect()
    }
    batch_src = src.select(
        F.window(F.col("ts").cast("timestamp"), "1 day")["start"].alias(
            "window_start"
        ),
        F.xxhash64("user_id").alias("h"),
    )
    batch = {
        r["window_start"]: r["approx_distinct"]
        for r in sketch_agg(batch_src, spec, "h", ["window_start"]).collect()
    }
    assert streamed == batch  # bit-identical estimates, every window


def test_sketch_finalize_states_roundtrip(spark):
    """sketch_agg(output='state') -> persisted table -> sketch_finalize
    equals sketch_agg(output='result') directly; finalize also re-merges
    split-level partial states correctly (the incremental-build shape)."""
    from ddsketch_ruby_spark.operators.agg import sketch_agg, sketch_finalize
    from ddsketch_ruby_spark.sketches.kmv import KmvSpec

    spec = KmvSpec(k=8)
    df = spark.range(2000).select(
        (F.col("id") % 3).alias("g"), F.xxhash64("id").alias("h")
    )
    direct = {
        r["g"]: r["approx_distinct"]
        for r in sketch_agg(df, spec, "h", ["g"]).collect()
    }
    # split the input, persist per-split states, finalize the union
    states_a = sketch_agg(
        df.filter("id % 2 = 0"), spec, "h", ["g"], output="state"
    )
    states_b = sketch_agg(
        df.filter("id % 2 = 1"), spec, "h", ["g"], output="state"
    )
    refin = {
        r["g"]: r["approx_distinct"]
        for r in sketch_finalize(
            states_a.unionByName(states_b), spec, ["g"]
        ).collect()
    }
    assert refin == direct
    # output="state" round-trips through finalize too
    sf = sketch_finalize(
        states_a.unionByName(states_b), spec, ["g"], output="state"
    )
    assert {f.name for f in sf.schema.fields} == {"g", "minima"}
    with pytest.raises(ValueError):
        sketch_finalize(states_a, spec, ["g"], output="bogus")


def test_stream_mg_heavy_hitters_guarantee(spark, stream_dir):
    """Misra-Gries as streaming state: after three micro-batches the
    per-group summary must satisfy est <= true <= est + n/(k+1) against
    the exact batch counts, and every guaranteed-heavy item must be
    tracked — the PODS-2012 merge guarantee applied to the stream's
    incremental folds."""
    from ddsketch_ruby_spark.sketches.mg import MGSpec

    d, src = stream_dir
    k = 12
    item = (F.col("event_id") % (F.lit(1) + F.col("event_id") % F.lit(32))).alias("item")
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .select("event_type", item)
    )
    out = sketch_stream_agg(stream, MGSpec(k=k), "item", ["event_type"])
    mem = _run_stream(spark, out, "mg_updates")
    pdf = mem.toPandas()
    final = pdf.groupby("event_type").tail(1)
    exact = {
        (r["event_type"], r["item"]): r["c"]
        for r in src.select("event_type", item)
        .groupBy("event_type", "item")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n_by = {}
    for (et, _), c in exact.items():
        n_by[et] = n_by.get(et, 0) + c
    for _, row in final.iterrows():
        et = row["event_type"]
        assert row["n"] == n_by[et]
        est = dict(zip(row["items"], row["ests"]))
        assert len(est) <= k
        for (e2, it), c in exact.items():
            if e2 != et:
                continue
            e = est.get(it, 0)
            assert e <= c and (c - e) * (k + 1) <= row["n"]
            if c * (k + 1) > row["n"]:
                assert it in est


def test_streamed_window_drift_vs_baseline(spark, stream_dir):
    """Drift of STREAMED per-window histograms against a batch baseline:
    sketch_stream_hist emits bucket rows per day-window; histogram_drift
    consumes them directly (no raw-data rescan) and must equal the batch
    ddsketch_drift of the same (window vs baseline) split computed from
    the raw rows."""
    from ddsketch_ruby_spark.operators.ddsketch_jvm import histogram_rows
    from ddsketch_ruby_spark.operators.quantiles import (
        ddsketch_drift,
        histogram_drift,
    )
    from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec
    from ddsketch_ruby_spark.streaming.sketch_stream import sketch_stream_hist

    d, src = stream_dir
    spec = DDSketchSpec(include_stats=False)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .filter(F.col("value") > 0)
        .select("ts", "value")
    )
    hist = sketch_stream_hist(
        stream, spec, "value", "ts", window="1 day", watermark=None
    )
    mem = _run_stream(spark, hist, "drift_hist_updates")
    # update-mode emissions carry cumulative counts, which are monotone —
    # the final histogram is the per-bucket MAX across emissions
    final = mem.groupBy("window_start", "__zone", "__key").agg(
        F.max("__cnt").alias("__cnt")
    )
    baseline = histogram_rows(
        src.filter(F.col("value") > 0), spec, "value", []
    )
    first_day = final.agg(F.min("window_start")).collect()[0][0]
    win0 = final.filter(F.col("window_start") == first_day)
    got = histogram_drift(win0, baseline).collect()[0]
    # batch reference: same comparison from the raw rows
    raw = src.filter(F.col("value") > 0).select(
        "value",
        (F.col("ts").cast("timestamp") >= F.lit(first_day)).alias("ignore"),
    )
    ref_a = histogram_rows(
        src.filter(
            (F.col("value") > 0)
            & (F.window(F.col("ts").cast("timestamp"), "1 day")["start"]
               == F.lit(first_day))
        ),
        spec, "value", [],
    )
    ref = histogram_drift(ref_a, baseline).collect()[0]
    assert (got["n_a"], got["n_b"], got["ks_stat"]) == (
        ref["n_a"], ref["n_b"], ref["ks_stat"],
    )
