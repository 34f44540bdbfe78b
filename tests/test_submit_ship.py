"""Ship-path smoke: the north rule requires the job to run via
``spark-submit --py-files`` with checkpointed resume. This drives the real
artifacts — build_pyfiles.sh zip + scripts/submit_job.py + a fresh
spark-submit JVM — end to end, then re-submits and asserts the rerun is a
pure no-op (0 pending splits)."""

import os
import subprocess

import pytest

from ddsketch_ruby_spark.plans.lineage import CheckpointedSketchBuild
from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_spark_submit_pyfiles_resume(spark, tmp_path):
    # two single-file splits from the sf0.001 documents table
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = tmp_path / "input"
    for i in range(2):
        src.filter(f"doc_id % 2 = {i}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(inp / f"split_{i}"))

    zip_out = subprocess.run(
        [os.path.join(REPO, "scripts", "build_pyfiles.sh")],
        capture_output=True, text=True, check=True,
    )
    assert "ddsketch_ruby_spark.zip" in zip_out.stdout

    def submit():
        return subprocess.run(
            [
                "spark-submit", "--master", "local[2]",
                "--conf", "spark.sql.shuffle.partitions=2",
                "--py-files", os.path.join(REPO, "dist", "ddsketch_ruby_spark.zip"),
                os.path.join(REPO, "scripts", "submit_job.py"),
                "--input", str(inp),
                "--checkpoint", str(tmp_path / "ckpt"),
                "--output", str(tmp_path / "out"),
                "--value-col", "n_chars", "--group-by", "lang",
            ],
            capture_output=True, text=True, timeout=300,
            cwd=str(tmp_path),  # NOT the repo root: the zip must provide the package
        )
    r1 = submit()
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert "processed 2 pending splits of 2" in r1.stdout

    r2 = submit()
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "processed 0 pending splits of 2" in r2.stdout  # resume = no-op

    build = CheckpointedSketchBuild(
        spark, DDSketchSpec(), str(tmp_path / "ckpt"), "n_chars", ["lang"]
    )
    lineage = build.completed_splits()
    assert sorted(lineage) == ["split_0", "split_1"]
    for sid, row in lineage.items():
        split = spark.read.parquet(str(inp / sid))
        assert row["values_sketched"] == split.where("n_chars IS NOT NULL").count() > 0
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == src.select("lang").distinct().count()
