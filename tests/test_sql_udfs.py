"""SQL-text access to persisted sketch states via registered pandas UDFs."""

import numpy as np
from pyspark.sql import functions as F

from ddsketch_ruby_spark.functions.sql_udfs import register_sketch_sql
from ddsketch_ruby_spark.operators.agg import sketch_agg
from ddsketch_ruby_spark.operators.quantiles import ddsketch_state
from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec
from ddsketch_ruby_spark.sketches.hll import HLLSpec


def test_sql_quantile_on_persisted_states(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "sketches")
    ddsketch_state(docs, "n_chars", ["lang"]).write.mode("overwrite").parquet(out)

    register_sketch_sql(spark)
    spark.read.parquet(out).createOrReplaceTempView("doc_sketches")
    rows = spark.sql(
        """
        SELECT lang,
               ddsketch_q(0.5, gamma, pos_bins, pos_offset, neg_bins,
                          neg_offset, zero_count, count) AS p50
        FROM doc_sketches
        """
    ).collect()
    sql_p50 = {r["lang"]: r["p50"] for r in rows}
    direct = {
        r["lang"]: r["q50"]
        for r in sketch_agg(
            docs, DDSketchSpec(quantiles={"q50": 0.5}), "n_chars", ["lang"]
        ).collect()
    }
    assert sql_p50 == direct


def test_sql_hll_cardinality(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    hashed = events.select("event_type", F.xxhash64("user_id").alias("h"))
    states = sketch_agg(hashed, HLLSpec(p=12), "h", ["event_type"], output="state")
    register_sketch_sql(spark)
    states.createOrReplaceTempView("hll_states")
    rows = spark.sql(
        "SELECT event_type, hll_card(registers) AS card FROM hll_states"
    ).collect()
    exact = {
        r["event_type"]: r["d"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for r in rows:
        d = exact[r["event_type"]]
        assert abs(r["card"] - d) / d < 0.1


def test_cms_est_and_bloom_maybe_sql(spark, sf_dir):
    """CMS point estimates and Bloom membership straight from SQL text over
    persisted state rows — estimates >= truth (one-sided) and no false
    negatives, matching the spec-level probes."""
    from pyspark.sql import functions as F

    from ddsketch_ruby_spark.functions.sql_udfs import register_sketch_sql
    from ddsketch_ruby_spark.operators.agg import sketch_agg
    from ddsketch_ruby_spark.sketches.bloom import BloomSpec
    from ddsketch_ruby_spark.sketches.cms import CMSSpec

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    register_sketch_sql(
        spark, cms_width=4096, cms_depth=5,
        bloom_expected_items=10_000, bloom_fpp=0.01,
    )

    cms_state = sketch_agg(
        li.select(F.xxhash64("l_partkey").alias("h")),
        CMSSpec(width=4096, depth=5), "h", [], output="state",
    )
    cms_state.createOrReplaceTempView("cms_state")
    truth = {
        r["l_partkey"]: r["cnt"]
        for r in li.groupBy("l_partkey").agg(F.count("*").alias("cnt")).limit(50).collect()
    }
    spark.createDataFrame(
        [(int(k),) for k in truth], "l_partkey long"
    ).createOrReplaceTempView("probe_keys")
    est = {
        r["l_partkey"]: r["est"]
        for r in spark.sql(
            "SELECT p.l_partkey, cms_est(s.counts, xxhash64(p.l_partkey)) AS est "
            "FROM probe_keys p CROSS JOIN cms_state s"
        ).collect()
    }
    assert all(est[k] >= truth[k] for k in truth)  # one-sided error

    bloom_state = sketch_agg(
        li.select(F.xxhash64("l_suppkey").alias("h")),
        BloomSpec(expected_items=10_000, fpp=0.01), "h", [], output="state",
    )
    bloom_state.createOrReplaceTempView("bloom_state")
    members = spark.sql(
        "SELECT p.l_partkey AS k, "
        "bloom_maybe(s.bits, xxhash64(CAST(p.l_partkey AS BIGINT))) AS m "
        "FROM probe_keys p CROSS JOIN bloom_state s"
    )
    present = {r["l_suppkey"] for r in li.select("l_suppkey").distinct().collect()}
    got = {r["k"]: r["m"] for r in members.collect()}
    for k, m in got.items():
        if k in present:
            assert m, k  # no false negatives


def test_kmv_card_sql(spark):
    """A persisted KMV state table is queryable from plain SQL: exact
    below k, estimator at k, matching the kernel function exactly."""
    from ddsketch_ruby_spark.functions.sql_udfs import register_sketch_sql
    from ddsketch_ruby_spark.operators.agg import sketch_agg
    from ddsketch_ruby_spark.sketches.kmv import KmvSpec, kmv_estimate
    import numpy as np
    from pyspark.sql import functions as F

    register_sketch_sql(spark)
    df = spark.range(5000).select(
        (F.col("id") % 2).alias("g"), F.xxhash64("id").alias("h")
    )
    states = sketch_agg(df, KmvSpec(k=64), "h", ["g"], output="state")
    states.createOrReplaceTempView("kmv_states")
    got = {
        r["g"]: r["card"]
        for r in spark.sql(
            "SELECT g, kmv_card(minima, 64) AS card FROM kmv_states"
        ).collect()
    }
    for r in states.collect():
        state = np.frombuffer(bytes(r["minima"]), dtype=np.uint64)
        assert got[r["g"]] == kmv_estimate(state, 64)
        assert abs(got[r["g"]] - 2500) / 2500 < 0.3


def test_finalizers_return_null_for_a_null_state_row(spark):
    """A LEFT JOIN from a key table to a state table leaves a group with
    no state as a row of null state columns; the finalizers return null
    for it, as SQL does for null in, and the joined groups keep their
    values."""
    from ddsketch_ruby_spark.sketches.kmv import KmvSpec

    register_sketch_sql(spark)
    df = spark.range(3000).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
        F.col("id").cast("double").alias("v"),
        F.xxhash64("id").alias("h"),
    )
    ddsketch_state(df, "v", ["g"]).createOrReplaceTempView("null_dd")
    for name, spec in (("hll", HLLSpec(p=12)), ("kmv", KmvSpec(k=64))):
        states = sketch_agg(df, spec, "h", ["g"], output="state")
        states.createOrReplaceTempView(f"null_{name}")
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "g string")
    keys.createOrReplaceTempView("null_keys")
    finals = {
        "dd": "ddsketch_q(0.5, s.gamma, s.pos_bins, s.pos_offset, s.neg_bins,"
        " s.neg_offset, s.zero_count, s.count)",
        "hll": "hll_card(s.registers)",
        "kmv": "kmv_card(s.minima, 64)",
    }
    for name, call in finals.items():
        def at(join):
            return {
                r["g"]: r["x"]
                for r in spark.sql(
                    f"SELECT k.g, {call} AS x FROM null_keys k "
                    f"{join} JOIN null_{name} s ON k.g = s.g"
                ).collect()
            }

        left, inner = at("LEFT"), at("INNER")
        assert left == {**inner, "c": None}, name
        assert inner["a"] is not None and inner["b"] is not None, name
