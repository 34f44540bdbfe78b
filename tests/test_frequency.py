"""CMS / Bloom convenience operators: distributed build, portable state,
shuffle-free probing."""

from pyspark.sql import functions as F

from ddsketch_ruby_spark.operators.frequency import (
    bloom_build,
    bloom_filter_column,
    cms_build,
    cms_estimate,
    cms_probe_column,
)
from ddsketch_ruby_spark.sketches.bloom import BloomSpec
from ddsketch_ruby_spark.sketches.cms import CMSSpec


def test_cms_build_and_estimate(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spec = CMSSpec(width=4096, depth=5)
    state = cms_build(li, "l_partkey", spec)
    top = (
        li.groupBy("l_partkey").count().orderBy(F.desc("count")).limit(10).collect()
    )
    items = [r["l_partkey"] for r in top]
    true_counts = {r["l_partkey"]: r["count"] for r in top}
    est = cms_estimate(spark, state, spec, items)
    for k, e in est.items():
        assert e >= true_counts[k]  # one-sided
        assert e <= true_counts[k] + 0.01 * li.count()  # eps bound-ish


def test_bloom_filter_column(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    spec = BloomSpec(expected_items=10_000, fpp=0.01)
    state = bloom_build(orders, "o_custkey", spec)
    probed = bloom_filter_column(customer, "c_custkey", spec, state)
    rows = probed.select("c_custkey", "maybe_member").collect()
    actual = {
        r["o_custkey"] for r in orders.select("o_custkey").distinct().collect()
    }
    fp = 0
    for r in rows:
        if r["c_custkey"] in actual:
            assert r["maybe_member"]  # no false negatives, ever
        elif r["maybe_member"]:
            fp += 1
    non_members = sum(1 for r in rows if r["c_custkey"] not in actual)
    if non_members:
        assert fp / non_members < 0.05


def test_cms_probe_column_matches_estimate(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spec = CMSSpec(width=1024, depth=4)
    state = cms_build(li, "l_partkey", spec)
    # a user column literally named __h (the probe's scratch name) must
    # come through untouched
    probe_in = (
        li.select("l_partkey")
        .distinct()
        .orderBy("l_partkey")
        .limit(50)
        .withColumn("__h", -F.col("l_partkey"))
    )
    probed = cms_probe_column(probe_in, "l_partkey", spec, state)
    assert probed.columns == ["l_partkey", "__h", "est_count"]
    rows = probed.collect()
    items = [r["l_partkey"] for r in rows]
    assert len(items) == 50
    assert all(r["__h"] == -r["l_partkey"] for r in rows)
    est = cms_estimate(spark, state, spec, items)
    assert {r["l_partkey"]: r["est_count"] for r in rows} == est
