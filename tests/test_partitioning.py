"""Skew handling: salted repartition balances a host-skewed table; salted
group aggregation equals unsalted (monoid legality)."""

import numpy as np
from pyspark.sql import functions as F

from ddsketch_ruby_spark.operators.partitioning import (
    partition_histogram,
    salted_repartition,
    with_salt,
)
from ddsketch_ruby_spark.operators.agg import sketch_agg
from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec
from ddsketch_ruby_spark.sources.webpages import web_pages


def test_salted_repartition_balances_host_skew(spark):
    pages = web_pages(spark, 20_000, partitions=8)
    # skew the layout: repartition BY host so hot hosts own whole partitions
    by_host = pages.repartition(16, F.regexp_extract("url", r"host(\d+)", 1))
    skewed = partition_histogram(by_host)
    balanced = partition_histogram(salted_repartition(by_host, ["url"], 16))
    assert max(skewed) > 2 * (20_000 / 16)  # the skew is real
    assert max(balanced) < 1.25 * (20_000 / 16)  # and salting removes it


def test_group_agg_immune_to_hot_key(spark):
    """A hot group (60% of rows on one host) must not change results vs any
    other layout — phase 1 is partition-local, phase 2 sees only partials."""
    pages = web_pages(spark, 10_000, partitions=8).select(
        F.regexp_extract("url", r"host(\d+)", 1).alias("host"),
        F.length("text").cast("double").alias("doc_len"),
    )
    spec = DDSketchSpec(quantiles={"q50": 0.5})
    base = {
        r["host"]: r.asDict()
        for r in sketch_agg(pages, spec, "doc_len", ["host"]).collect()
    }
    hot_layout = pages.repartition(16, "host")  # co-locate the hot key
    salted = {
        r["host"]: r.asDict()
        for r in sketch_agg(
            salted_repartition(hot_layout, ["host", "doc_len"], 16),
            spec,
            "doc_len",
            ["host"],
            tree_fanin=4,
        ).collect()
    }
    assert set(base) == set(salted)
    for h in base:
        assert base[h]["count"] == salted[h]["count"]
        assert base[h]["q50"] == salted[h]["q50"]


def test_with_salt_bounds_group_size(spark):
    df = spark.range(10_000).select(F.lit("hot").alias("k"), F.col("id"))
    salted = with_salt(df, "k", 8)
    sizes = [
        r["count"] for r in salted.groupBy("k", "__salt").count().collect()
    ]
    assert len(sizes) == 8
    assert max(sizes) < 10_000 / 8 * 1.5


def test_sketch_boundaries_deterministic_and_sorted(spark, sf01_dir):
    from ddsketch_ruby_spark.operators.partitioning import sketch_boundaries

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet").filter("value > 0")
    b1 = sketch_boundaries(ev, "value", 8)
    b2 = sketch_boundaries(ev.repartition(11), "value", 8)
    assert b1 == b2  # partitioning-invariant (merge commutativity)
    assert b1 == sorted(b1) and len(b1) == 7
    assert sketch_boundaries(ev, "value", 1) == []


def test_sketch_range_partition_balances_skew(spark):
    """A lognormal-ish skewed column: equi-depth buckets hold ~N/n rows
    each (within the sketch's alpha + quantization tolerance), and the
    physical partitions after repartitionByRange mirror the buckets."""
    import pyspark.sql.functions as F

    from ddsketch_ruby_spark.operators.partitioning import (
        partition_histogram,
        sketch_range_partition,
    )

    n = 20000
    df = (
        spark.range(n)
        .withColumn("v", F.exp((F.xxhash64("id") % 1000) / F.lit(150.0)))
        .filter("v > 0")
    )
    out = sketch_range_partition(df, "v", 16)
    sizes = [
        r["c"]
        for r in out.groupBy("__bucket").agg(F.count("*").alias("c")).collect()
    ]
    assert len(sizes) == 16
    assert max(sizes) <= 1.6 * n / 16  # equi-depth despite heavy skew
    # physical layout: repartitionByRange may merge a couple of ADJACENT
    # bucket ids into one partition (range sampling over a small integer
    # domain), so the partition bound is 2 buckets, not 1
    hist = partition_histogram(out)
    assert sum(hist) == n
    assert len([h for h in hist if h > 0]) >= 13
    assert max(hist) <= 2.2 * n / 16


def test_sketch_range_partition_boundary_reuse(spark, sf01_dir):
    from ddsketch_ruby_spark.operators.partitioning import (
        sketch_boundaries,
        sketch_range_partition,
    )

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet").filter("value > 0")
    bounds = sketch_boundaries(ev, "value", 8)
    a = sketch_range_partition(
        ev, "value", 8, boundaries=bounds, repartition=False
    )
    b = sketch_range_partition(ev, "value", 8, repartition=False)
    assert (
        a.groupBy("__bucket").count().orderBy("__bucket").collect()
        == b.groupBy("__bucket").count().orderBy("__bucket").collect()
    )
