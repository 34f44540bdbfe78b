"""Checkpointed resumable build: kill-and-resume must equal single-shot
(north rule: per-partition lineage + metrics, no recomputation)."""

import glob
import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from ddsketch_ruby_spark.operators.agg import sketch_agg
from ddsketch_ruby_spark.plans import lineage
from ddsketch_ruby_spark.plans.lineage import CheckpointedSketchBuild
from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec
from ddsketch_ruby_spark.sketches.kll import KLLSpec
from ddsketch_ruby_spark.sketches.tdigest import TDigestSpec


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


def test_result_without_published_splits_raises(spark, tmp_path):
    d = str(tmp_path / "ck_empty")
    b = CheckpointedSketchBuild(spark, DDSketchSpec(0.01), d, "value", [])
    assert b.run([]) == 0 and b.is_complete([])
    with pytest.raises(ValueError, match="no split is published") as e:
        b.result()
    assert d in str(e.value)


def test_lineage_rows_have_metrics(spark, tmp_path, splits):
    spec = DDSketchSpec(0.01)
    d = str(tmp_path / "ckpt_metrics")
    b = CheckpointedSketchBuild(spark, spec, d, "value", [])
    b.run(splits[:1])
    rows = list(b.completed_splits().values())
    assert len(rows) == 1
    assert rows[0]["split"] == "split_0" and rows[0]["input"] == splits[0]
    assert rows[0]["values_sketched"] == spark.read.parquet(splits[0]).count()
    assert rows[0]["sketch_bytes"] > 0
    assert rows[0]["wall_sec"] > 0
    assert "finished_at" in rows[0]


def test_no_second_input_scan_for_lineage_rows(spark, tmp_path, splits, monkeypatch):
    """The lineage row count must come from the split's own write job,
    never from a second df.count() scan of the input (which doubles build
    I/O at corpus scale). Proven by making DataFrame.count explode: run()
    must succeed without ever calling it."""
    n = spark.read.parquet(splits[0]).count()

    def boom(self):
        raise AssertionError("DataFrame.count() called during lineage build")

    monkeypatch.setattr(type(spark.range(1)), "count", boom)
    spec = DDSketchSpec(0.01, include_stats=True, quantiles={"q50": 0.5})
    b = CheckpointedSketchBuild(
        spark, spec, str(tmp_path / "ck"), "value", ["event_type"]
    )
    assert b.run(splits[:1]) == 1
    (row,) = b.completed_splits().values()
    assert row["values_sketched"] == n


def test_ddsketch_split_job_has_no_python_stage(spark, tmp_path, splits, monkeypatch):
    """With a DDSketchSpec every split is one codegen-only job: no Python
    map or group stage, and no kernel-path partials."""
    from ddsketch_ruby_spark.operators import agg

    def boom(*args, **kwargs):
        raise AssertionError("Python stage in a DDSketch split job")

    frame, grouped = type(spark.range(1)), type(spark.range(1).groupBy())
    monkeypatch.setattr(frame, "mapInPandas", boom)
    monkeypatch.setattr(frame, "mapInArrow", boom)
    monkeypatch.setattr(grouped, "applyInPandas", boom)
    monkeypatch.setattr(agg, "sketch_partials", boom)
    b = CheckpointedSketchBuild(
        spark, DDSketchSpec(), str(tmp_path / "ck"), "value", ["event_type"]
    )
    assert b.run(splits) == 4
    assert b.is_complete(splits)


@pytest.fixture()
def holey_splits(spark, tmp_path, sf_dir):
    """3 splits whose values are partly null and NaN, then one split whose
    values are all null."""
    src = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    value = (
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .when(F.col("event_id") % 11 == 0, F.lit(float("nan")))
        .otherwise(F.col("value"))
    )
    holey = src.withColumn("value", value)
    frames = [holey.filter(f"event_id % 3 = {i}") for i in range(3)]
    frames.append(src.limit(60).withColumn("value", F.lit(None).cast("double")))
    paths = []
    for i, df in enumerate(frames):
        p = str(tmp_path / f"holey_{i}")
        df.coalesce(1).write.parquet(p)
        paths.append(p)
    return paths


def _sketchable(spark, path: str) -> int:
    return spark.read.parquet(path).where("value IS NOT NULL AND NOT isnan(value)").count()


@pytest.mark.parametrize(
    "spec", [DDSketchSpec(0.01), KLLSpec(k=200)], ids=["histogram", "state"]
)
def test_values_sketched_is_the_exact_non_null_count(spark, tmp_path, holey_splits, spec):
    b = CheckpointedSketchBuild(spark, spec, str(tmp_path / "ck"), "value", ["event_type"])
    assert b.run(holey_splits) == 4
    done = b.completed_splits()
    for p in holey_splits:
        row = done[os.path.basename(p)]
        assert row["values_sketched"] == _sketchable(spark, p), p
    assert done["holey_3"]["values_sketched"] == 0


def test_all_null_split_resumes_to_single_shot(spark, tmp_path, holey_splits):
    spec = DDSketchSpec(0.01, include_stats=True, quantiles={"q50": 0.5, "q99": 0.99})
    d = str(tmp_path / "ck")
    killed = CheckpointedSketchBuild(spark, spec, d, "value", ["event_type"])
    assert killed.run(holey_splits[::-1], fail_after=1) == 1  # the all-null split
    resumed = CheckpointedSketchBuild(spark, spec, d, "value", ["event_type"])
    assert resumed.run(holey_splits) == 3
    got = _by(resumed.result(), "event_type")
    single = sketch_agg(spark.read.parquet(*holey_splits), spec, "value", ["event_type"])
    _assert_bit_equal(got, _by(single, "event_type"), ("count", "q50", "q99", "min", "max"))


@pytest.mark.parametrize(
    "spec",
    [
        KLLSpec(k=64, quantiles={"q50": 0.5, "q99": 0.99}),
        TDigestSpec(delta=50, quantiles={"q50": 0.5, "q99": 0.99}),
    ],
    ids=["kll", "tdigest"],
)
def test_state_partials_resume_to_single_shot(spark, tmp_path, splits, spec):
    """Specs other than DDSketch keep sketch_agg(output="state") partials."""

    def build(d):
        d = str(tmp_path / d)
        return CheckpointedSketchBuild(spark, spec, d, "value", ["event_type"])

    ref = build("ref")
    assert ref.run(splits) == 4
    killed = build("ck")
    assert killed.run(splits, fail_after=2) == 2
    resumed = build("ck")
    assert resumed.run(splits) == 2
    want = _by(ref.result(), "event_type")
    got = _by(resumed.result(), "event_type")
    _assert_bit_equal(got, want, [f.name for f in spec.result_fields()])


class Killed(Exception):
    pass


def _on_step(monkeypatch, hook) -> None:
    """Call ``hook(split_id, step)`` at every commit step of every split."""
    local = threading.local()
    build_split = CheckpointedSketchBuild._build_split

    def tagged(self, split_id, path, tmp_root):
        local.sid = split_id
        return build_split(self, split_id, path, tmp_root)

    monkeypatch.setattr(CheckpointedSketchBuild, "_build_split", tagged)
    monkeypatch.setattr(CheckpointedSketchBuild, "_step", lambda self, name: hook(local.sid, name))


def _kill_split(monkeypatch, sid: str, step: str) -> None:
    """Make split ``sid`` alone raise ``Killed`` at commit step ``step``."""

    def kill(split_id, name):
        if (split_id, name) == (sid, step):
            raise Killed(name)

    _on_step(monkeypatch, kill)


@pytest.mark.parametrize("step", ["written", "lineage", "published"])
def test_kill_at_each_commit_step_resumes_to_single_shot(
    spark, tmp_path, splits, monkeypatch, step
):
    """A kill between any two steps of a split's commit (after the partial
    write, after the lineage file, after the publishing rename) leaves a
    checkpoint that resumes to the single-shot answer. All three pending
    splits are in flight, so each of them reaches the killed step."""
    spec = DDSketchSpec(0.01, include_stats=True, quantiles={"q50": 0.5})
    d = str(tmp_path / "ck")
    build = CheckpointedSketchBuild(spark, spec, d, "value", ["event_type"])
    assert build.run(splits[:1]) == 1
    assert lineage.MAX_SPLITS_IN_FLIGHT >= 3

    def kill(self, name):
        if name == step:
            raise Killed(name)

    with monkeypatch.context() as m:
        m.setattr(CheckpointedSketchBuild, "_step", kill)
        with pytest.raises(Killed):
            build.run(splits)
    published = step == "published"
    assert len(build.completed_splits()) == 1 + 3 * published
    orphans = glob.glob(os.path.join(d, "_tmp", "*", "*"))
    assert len(orphans) == (0 if published else 3)

    resumed = CheckpointedSketchBuild(spark, spec, d, "value", ["event_type"])
    assert resumed.run(splits) == 3 - 3 * published
    assert resumed.is_complete(splits)
    assert os.listdir(os.path.join(d, "_tmp")) == []  # the orphan was swept
    got = _by(resumed.result(), "event_type")
    single = sketch_agg(spark.read.parquet(*splits), spec, "value", ["event_type"])
    _assert_bit_equal(got, _by(single, "event_type"), ("count", "q50", "min", "max"))


@pytest.mark.parametrize("step", ["written", "lineage", "published"])
def test_one_failing_split_in_flight_resumes_to_single_shot(
    spark, tmp_path, splits, monkeypatch, step
):
    """One split of four fails at a commit step while the others are in
    flight: run() re-raises its error, every other split ends published or
    pending (never half-written), and a resume equals single-shot."""
    spec = DDSketchSpec(0.01, include_stats=True, quantiles={"q50": 0.5})
    d = str(tmp_path / "ck")
    build = CheckpointedSketchBuild(spark, spec, d, "value", ["event_type"])
    with monkeypatch.context() as m:
        _kill_split(m, "split_2", step)
        with pytest.raises(Killed):
            build.run(splits)
    done = set(build.completed_splits())
    assert ("split_2" in done) == (step == "published")
    orphans = glob.glob(os.path.join(d, "_tmp", "*", "*"))
    assert [os.path.basename(o) for o in orphans] == ([] if "split_2" in done else ["split_2"])

    resumed = CheckpointedSketchBuild(spark, spec, d, "value", ["event_type"])
    assert resumed.run(splits) == 4 - len(done)
    assert resumed.is_complete(splits)
    assert os.listdir(os.path.join(d, "_tmp")) == []
    got = _by(resumed.result(), "event_type")
    single = sketch_agg(spark.read.parquet(*splits), spec, "value", ["event_type"])
    _assert_bit_equal(got, _by(single, "event_type"), ("count", "q50", "min", "max"))


def test_fail_after_publishes_exactly_n_with_splits_in_flight(spark, tmp_path, splits):
    """fail_after=N caps the splits in flight at the number still to
    publish, so N of 4 pending splits are published, never more."""
    spec = DDSketchSpec(0.01)
    for n in (1, 2, 3):
        d = str(tmp_path / f"ck{n}")
        build = CheckpointedSketchBuild(spark, spec, d, "value", ["event_type"])
        assert build.run(splits, fail_after=n) == n
        assert len(build.completed_splits()) == n
        assert os.listdir(os.path.join(d, "_tmp")) == []
        assert build.run(splits) == 4 - n


def test_nothing_new_starts_after_a_failed_split(spark, tmp_path, splits, monkeypatch):
    """With one split in flight at a time, a failure in the first split
    stops the build: no later split starts, even under a larger
    fail_after."""
    monkeypatch.setattr(lineage, "MAX_SPLITS_IN_FLIGHT", 1)
    _kill_split(monkeypatch, "split_0", "written")
    d = str(tmp_path / "ck")
    build = CheckpointedSketchBuild(spark, DDSketchSpec(0.01), d, "value", ["event_type"])
    with pytest.raises(Killed):
        build.run(splits, fail_after=3)
    assert build.completed_splits() == {}
    orphans = glob.glob(os.path.join(d, "_tmp", "*", "*"))
    assert [os.path.basename(o) for o in orphans] == ["split_0"]


def test_caller_job_group_reaches_every_split_job(spark, tmp_path, splits, monkeypatch):
    """Split jobs run in pool threads under the caller's job group, so a
    caller can find (and cancel) them by group."""
    sc = spark.sparkContext
    seen = []

    def record(self, name):
        if name == "written":
            seen.append(sc.getLocalProperty("spark.jobGroup.id"))

    monkeypatch.setattr(CheckpointedSketchBuild, "_step", record)
    build = CheckpointedSketchBuild(
        spark, DDSketchSpec(0.01), str(tmp_path / "ck"), "value", ["event_type"]
    )
    sc.setJobGroup("ckpt-grp", "checkpointed build")
    try:
        assert build.run(splits) == 4
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert seen == ["ckpt-grp"] * 4
    assert len(sc.statusTracker().getJobIdsForGroup("ckpt-grp")) >= 4


@pytest.mark.parametrize(
    "names", [("a/day=1", "b/day=1"), ("x=1", "x_1")], ids=["dir", "escape"]
)
def test_colliding_split_ids_are_refused(spark, tmp_path, names):
    """Two distinct inputs with one split id would share one partial and
    drop the second input's rows; they are refused before any Spark work.
    The same input listed twice is one split."""
    paths = []
    for name, rows in zip(names, (100, 900)):
        p = str(tmp_path / name)
        spark.range(rows).selectExpr("'g' AS g", "CAST(id AS DOUBLE) AS value").write.parquet(p)
        paths.append(p)
    d = str(tmp_path / "ck")
    build = CheckpointedSketchBuild(spark, DDSketchSpec(0.01), d, "value", ["g"])
    with pytest.raises(ValueError, match="both have split id") as err:
        build.run(paths)
    assert paths[0] in str(err.value) and paths[1] in str(err.value)
    with pytest.raises(ValueError, match="both have split id"):
        build.is_complete(paths)
    assert build.completed_splits() == {}
    assert not os.path.exists(os.path.join(d, "_tmp"))

    assert build.run([paths[1], paths[1] + "/"]) == 1
    assert build.is_complete([paths[1]])
    (row,) = build.result().collect()
    assert row["count"] == 900


def test_concurrent_runs_never_count_a_split_twice(spark, tmp_path, splits, monkeypatch):
    """Two run() calls over the same pending splits: both write every split
    and meet before publishing it, so every rename is a race; each split is
    counted by exactly one winner and the loser's temp is dropped."""
    barriers = {f"split_{i}": threading.Barrier(2, timeout=300) for i in range(4)}

    def meet(split_id, name):
        if name == "lineage":
            barriers[split_id].wait()

    _on_step(monkeypatch, meet)
    spec = DDSketchSpec(0.01, include_stats=True, quantiles={"q50": 0.5})
    d = str(tmp_path / "ck")
    builds = [
        CheckpointedSketchBuild(spark, spec, d, "value", ["event_type"]) for _ in range(2)
    ]
    with ThreadPoolExecutor(2) as pool:
        counts = list(pool.map(lambda b: b.run(splits), builds))
    assert sum(counts) == 4
    assert sorted(builds[0].completed_splits()) == [f"split_{i}" for i in range(4)]
    assert os.listdir(os.path.join(d, "_tmp")) == []
    got = _by(builds[1].result(), "event_type")
    single = sketch_agg(spark.read.parquet(*splits), spec, "value", ["event_type"])
    _assert_bit_equal(got, _by(single, "event_type"), ("count", "q50", "min", "max"))


def test_unversioned_checkpoint_is_refused(spark, tmp_path):
    d = tmp_path / "old"
    (d / "partials" / "split_0").mkdir(parents=True)
    (d / "lineage").mkdir()
    (d / "lineage" / "split_0.json").write_text(json.dumps({"split": "split_0"}))
    with pytest.raises(ValueError, match="unversioned layout"):
        CheckpointedSketchBuild(spark, DDSketchSpec(), str(d), "value")


def test_other_layout_version_is_refused(spark, tmp_path):
    d = tmp_path / "future"
    d.mkdir()
    (d / "_layout.json").write_text(json.dumps({"version": 3, "partial": "histogram"}))
    with pytest.raises(ValueError, match="layout version 3"):
        CheckpointedSketchBuild(spark, DDSketchSpec(), str(d), "value")


def test_partial_format_mismatch_is_refused(spark, tmp_path, splits):
    d = str(tmp_path / "ck")
    b = CheckpointedSketchBuild(spark, DDSketchSpec(), d, "value", ["event_type"])
    assert b.run(splits[:1]) == 1
    with pytest.raises(ValueError, match="'histogram' partials.*'state' partials"):
        CheckpointedSketchBuild(spark, KLLSpec(), d, "value", ["event_type"])
    # and the other way round
    d2 = str(tmp_path / "ck2")
    CheckpointedSketchBuild(spark, TDigestSpec(), d2, "value", ["event_type"])
    with pytest.raises(ValueError, match="'state' partials.*'histogram' partials"):
        CheckpointedSketchBuild(spark, DDSketchSpec(), d2, "value", ["event_type"])


@pytest.mark.parametrize(
    "other",
    [
        DDSketchSpec(0.02),
        DDSketchSpec(0.01, mapping="cubic"),
        DDSketchSpec(0.01, mapping_offset=3.0),
    ],
    ids=["alpha", "interpolation", "offset"],
)
def test_key_mapping_mismatch_is_refused(spark, tmp_path, splits, other):
    """Histogram partials are raw bucket keys: resuming them under another
    key mapping would mis-read every key, so it is refused."""
    d = str(tmp_path / "ck")
    b = CheckpointedSketchBuild(spark, DDSketchSpec(0.01), d, "value", ["event_type"])
    assert b.run(splits[:1]) == 1
    with pytest.raises(ValueError, match="keys of two mappings never merge"):
        CheckpointedSketchBuild(spark, other, d, "value", ["event_type"])


def test_same_mapping_other_store_resumes_to_single_shot(spark, tmp_path, splits):
    """Keys do not depend on the store or the quantiles asked for: a spec
    that changes only those resumes and equals its own single-shot build."""
    d = str(tmp_path / "ck")
    first = CheckpointedSketchBuild(spark, DDSketchSpec(0.01), d, "value", ["event_type"])
    assert first.run(splits, fail_after=2) == 2
    spec = DDSketchSpec(0.01, bin_limit=64, quantiles={"q10": 0.1})
    resumed = CheckpointedSketchBuild(spark, spec, d, "value", ["event_type"])
    assert resumed.run(splits) == 2
    got = _by(resumed.result(), "event_type")
    single = sketch_agg(spark.read.parquet(*splits), spec, "value", ["event_type"])
    _assert_bit_equal(got, _by(single, "event_type"), ("count", "q10", "min", "max"))


def test_group_without_values_in_any_split(spark, tmp_path):
    """A group whose values are null or NaN in every split: the histogram
    format drops it, as ddsketch_jvm_agg does, while the state format
    returns it as a count-0 row, as sketch_agg does. Every other group
    equals the single-shot build."""
    from ddsketch_ruby_spark.operators.ddsketch_jvm import ddsketch_jvm_agg

    rows = [("a", float(i + 1)) for i in range(20)]
    rows += [("b", None), ("b", float("nan")), ("c", None)]
    src = spark.createDataFrame(rows, "g string, value double")
    paths = []
    for i in range(2):
        p = str(tmp_path / f"split_{i}")
        src.coalesce(1).write.parquet(p)
        paths.append(p)
    union = spark.read.parquet(*paths)
    fields = ("count", "q50", "min", "max")

    spec = DDSketchSpec(0.01, quantiles={"q50": 0.5})
    d = str(tmp_path / "ck_hist")
    assert CheckpointedSketchBuild(spark, spec, d, "value", ["g"]).run(paths, fail_after=1) == 1
    resumed = CheckpointedSketchBuild(spark, spec, d, "value", ["g"])
    assert resumed.run(paths) == 1
    got = _by(resumed.result(), "g")
    assert set(got) == {"a"}
    _assert_bit_equal(got, _by(ddsketch_jvm_agg(union, spec, "value", ["g"]), "g"), fields)
    single = _by(sketch_agg(union, spec, "value", ["g"]), "g")
    assert single["b"]["count"] == single["c"]["count"] == 0
    _assert_bit_equal(got, {"a": single["a"]}, fields)

    kll = KLLSpec(k=64, quantiles={"q50": 0.5})
    d = str(tmp_path / "ck_state")
    assert CheckpointedSketchBuild(spark, kll, d, "value", ["g"]).run(paths, fail_after=1) == 1
    resumed = CheckpointedSketchBuild(spark, kll, d, "value", ["g"])
    assert resumed.run(paths) == 1
    got = _by(resumed.result(), "g")
    assert got["b"]["count"] == got["c"]["count"] == 0
    _assert_bit_equal(got, _by(sketch_agg(union, kll, "value", ["g"]), "g"), ("count", "q50"))


def _by(df, key: str) -> dict:
    return {r[key]: r.asDict() for r in df.collect()}


def _assert_bit_equal(got: dict, want: dict, fields) -> None:
    assert set(got) == set(want) and got
    for k in got:
        for f in fields:
            assert got[k][f] == want[k][f], (k, f, got[k][f], want[k][f])
