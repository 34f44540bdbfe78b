"""Rollup over sketch states: folding finest-grain states upward must equal
rebuilding from raw data at each level (monoid exactness)."""

from pyspark.sql import functions as F

from ddsketch_ruby_spark.operators.agg import sketch_agg, sketch_finalize
from ddsketch_ruby_spark.operators.quantiles import ddsketch_state
from ddsketch_ruby_spark.operators.rollup import sketch_cube_union
from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec


def test_rollup_equals_direct_build(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spec = DDSketchSpec(0.01, include_stats=True, quantiles={"q50": 0.5})

    fine = ddsketch_state(docs, "n_chars", ["lang", "source"])
    # fold states (lang, source) -> (lang)
    rolled = {
        r["lang"]: r.asDict()
        for r in sketch_finalize(fine, spec, ["lang"], output="result").collect()
    }
    direct = {
        r["lang"]: r.asDict()
        for r in sketch_agg(docs, spec, "n_chars", ["lang"]).collect()
    }
    assert set(rolled) == set(direct)
    for lang in direct:
        assert rolled[lang]["count"] == direct[lang]["count"]
        assert rolled[lang]["q50"] == direct[lang]["q50"]
        assert rolled[lang]["min"] == direct[lang]["min"]
        assert rolled[lang]["max"] == direct[lang]["max"]

    # fold all the way to the global sketch
    total = sketch_finalize(fine, spec, [], output="result").collect()[0].asDict()
    n = docs.count()
    assert total["count"] == n


def test_cross_job_gamma_guard(spark, sf_dir):
    """States persisted at one alpha must refuse to fold under another —
    the reference's InvalidSketchMergeError carried across jobs."""
    import pytest

    from ddsketch_ruby_spark.kernel import InvalidSketchMergeError

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fine = ddsketch_state(docs, "n_chars", ["lang"], relative_accuracy=0.01)
    wrong_spec = DDSketchSpec(0.05)
    with pytest.raises(Exception) as exc_info:
        sketch_finalize(fine, wrong_spec, [], output="result").collect()
    assert "different relative accuracy" in str(exc_info.value)


def test_finalize_rejects_unknown_output(spark, sf_dir):
    import pytest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fine = ddsketch_state(docs, "n_chars", ["lang"])
    with pytest.raises(ValueError, match="output must be"):
        sketch_finalize(fine, DDSketchSpec(0.01), ["lang"], output="states")


def test_cube_union_shape(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spec = DDSketchSpec(0.01, include_stats=True, quantiles={"q50": 0.5})
    fine = ddsketch_state(docs, "n_chars", ["lang", "source"])
    cube = sketch_cube_union(fine, spec, ["lang", "source"])
    rows = cube.collect()
    n_langs = docs.select("lang").distinct().count()
    n_pairs = docs.select("lang", "source").distinct().count()
    # finest + per-lang + global
    assert len(rows) == n_pairs + n_langs + 1
    global_row = [r for r in rows if r["lang"] is None and r["source"] is None]
    assert len(global_row) == 1
    assert global_row[0]["count"] == docs.count()
