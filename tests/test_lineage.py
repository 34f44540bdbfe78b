"""Checkpointed resumable build: kill-and-resume must equal single-shot
(north rule: per-partition lineage + metrics, no recomputation)."""

import glob
import json
import os

import pytest

from ddsketch_ruby_spark.operators.agg import sketch_agg
from ddsketch_ruby_spark.plans.lineage import CheckpointedSketchBuild
from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec


@pytest.fixture()
def splits(spark, tmp_path):
    """Materialize events as 4 separate single-file inputs (the work units)."""
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    paths = []
    for i in range(4):
        p = str(tmp_path / f"split_{i}")
        src.filter(f"event_id % 4 = {i}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        paths.append(p)
    return paths


def test_resume_equals_single_shot(spark, tmp_path, splits):
    spec = DDSketchSpec(0.01, include_stats=True, quantiles={"q50": 0.5})

    # single-shot reference
    ref_dir = str(tmp_path / "ckpt_ref")
    ref = CheckpointedSketchBuild(spark, spec, ref_dir, "value", ["event_type"])
    assert ref.run(splits) == 4
    ref_rows = {
        r["event_type"]: r.asDict() for r in ref.result().collect()
    }

    # killed after 2 splits, then resumed
    dir2 = str(tmp_path / "ckpt_resume")
    build = CheckpointedSketchBuild(spark, spec, dir2, "value", ["event_type"])
    assert build.run(splits, fail_after=2) == 2
    assert not build.is_complete(splits)
    done_before = set(build.completed_splits())
    assert len(done_before) == 2

    resumed = CheckpointedSketchBuild(spark, spec, dir2, "value", ["event_type"])
    assert resumed.run(splits) == 2  # only the pending two
    assert resumed.is_complete(splits)
    got = {r["event_type"]: r.asDict() for r in resumed.result().collect()}

    assert set(got) == set(ref_rows)
    for k in got:
        assert got[k]["count"] == ref_rows[k]["count"]
        assert got[k]["q50"] == ref_rows[k]["q50"]
        assert got[k]["min"] == ref_rows[k]["min"]
        assert got[k]["max"] == ref_rows[k]["max"]


def test_transform_resume_runs_north_star_pipeline(spark, tmp_path):
    """transform= makes the FULL composed job (prepare_web_corpus ->
    per-domain sketch) resumable per split: kill-and-resume equals
    single-shot, which equals the plain non-checkpointed build over the
    union of the transformed splits."""
    from ddsketch_ruby_spark.operators.agg import sketch_agg
    from ddsketch_ruby_spark.operators.webcorpus import prepare_web_corpus
    from ddsketch_ruby_spark.sources.webpages import web_pages

    src = web_pages(spark, 3000, dist="lognormal", partitions=3)
    paths = []
    for i in range(3):
        p = str(tmp_path / f"crawl_{i}")
        src.filter(f"crc32(url) % 3 = {i}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        paths.append(p)

    spec = DDSketchSpec(
        0.01, include_stats=True, quantiles={"q50": 0.5, "q99": 0.99}
    )

    def build(d):
        return CheckpointedSketchBuild(
            spark, spec, d, "n_chars", ["host"], prepare_web_corpus
        )

    killed = build(str(tmp_path / "ck_kill"))
    assert killed.run(paths, fail_after=1) == 1
    assert not killed.is_complete(paths)
    resumed = build(str(tmp_path / "ck_kill"))
    assert resumed.run(paths) == 2
    got = {r["host"]: r.asDict() for r in resumed.result().collect()}

    plain = prepare_web_corpus(spark.read.parquet(*paths))
    ref = {
        r["host"]: r.asDict()
        for r in sketch_agg(plain, spec, "n_chars", ["host"]).collect()
    }
    assert set(got) == set(ref) and len(got) > 1
    for k in got:
        for f in ("count", "q50", "q99", "min", "max"):
            assert got[k][f] == ref[k][f], (k, f)


def test_rerun_is_noop(spark, tmp_path, splits):
    spec = DDSketchSpec(0.01)
    d = str(tmp_path / "ckpt_noop")
    b = CheckpointedSketchBuild(spark, spec, d, "value", [])
    assert b.run(splits) == 4
    assert b.run(splits) == 0  # idempotent: nothing recomputed

    # the global (key-less) final fold equals a single-shot global build
    (got,) = b.result().collect()
    (ref,) = sketch_agg(spark.read.parquet(*splits), spec, "value").collect()
    for k in ("count", "min", "max", "q50"):
        assert got[k] == ref[k], k


def test_result_rejects_unknown_output(spark, tmp_path, splits):
    spec = DDSketchSpec(0.01)
    b = CheckpointedSketchBuild(spark, spec, str(tmp_path / "ck"), "value", [])
    b.run(splits[:1])
    with pytest.raises(ValueError, match="output must be"):
        b.result(output="states")


def test_lineage_rows_have_metrics(spark, tmp_path, splits):
    spec = DDSketchSpec(0.01)
    d = str(tmp_path / "ckpt_metrics")
    b = CheckpointedSketchBuild(spark, spec, d, "value", [])
    b.run(splits[:1])
    rows = [json.load(open(p)) for p in glob.glob(os.path.join(d, "lineage", "*.json"))]
    assert len(rows) == 1
    assert rows[0]["values_sketched"] > 0
    assert rows[0]["sketch_bytes"] > 0
    assert rows[0]["wall_sec"] > 0
    assert "finished_at" in rows[0]


def test_no_second_input_scan_for_lineage_rows(spark, tmp_path, splits, monkeypatch):
    """The lineage row count must come from the persisted partial states,
    never from a second df.count() scan of the input (which doubles build
    I/O at corpus scale). Proven by making DataFrame.count explode: run()
    must succeed without ever calling it."""
    import pyspark.sql

    def boom(self):
        raise AssertionError("DataFrame.count() called during lineage build")

    monkeypatch.setattr(pyspark.sql.DataFrame, "count", boom)
    spec = DDSketchSpec(0.01, include_stats=True, quantiles={"q50": 0.5})
    b = CheckpointedSketchBuild(
        spark, spec, str(tmp_path / "ck"), "value", ["event_type"]
    )
    assert b.run(splits[:1]) == 1
    row = [
        json.load(open(p))
        for p in glob.glob(str(tmp_path / "ck" / "lineage" / "*.json"))
    ][0]
    assert row["values_sketched"] > 0
