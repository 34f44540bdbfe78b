"""Unit tests for the scaling-bench level helpers (no Spark).

spec_cores / _max_partition_bytes drive which parallelism each bench
level gets and how input splits are sized (the split-quantization fix —
see SCALE.md §Measured anchors); a silent mis-parse would invalidate the
recorded efficiency numbers, so pin them.
"""

import pytest

from scripts.webcorpus_scaling_bench import (
    _max_partition_bytes,
    headline_level,
    spec_cores,
)


def test_spec_cores_forms():
    assert spec_cores("2") == 2
    assert spec_cores("32") == 32
    assert spec_cores("local[8]") == 8
    assert spec_cores("local-cluster[4,2,4096]") == 8
    assert spec_cores("local-cluster[1,2,4096]") == 2
    with pytest.raises(ValueError):
        spec_cores("yarn")


def test_headline_is_worst_efficiency_at_top_cores():
    """Two 8-core topologies (one JVM, four JVMs) against a 2-core base:
    the headline is the worse of the two 8-core readings, not the better."""
    eff = {"2": 1.0, "local[8]": 0.93, "local-cluster[4,2,4096]": 0.86}
    assert headline_level(list(eff), eff.get) == "local-cluster[4,2,4096]"
    assert headline_level(["2", "local[8]"], eff.get) == "local[8]"


def test_max_partition_bytes_targets_waves(tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    for i in range(4):
        (d / f"part-{i}.snappy.parquet").write_bytes(b"x" * 3_000_000)
    (d / "_SUCCESS").write_bytes(b"")  # non-parquet files don't count
    total = 12_000_000
    got = _max_partition_bytes(str(d), cores=2, waves=12)
    # floored at 4 MiB when input/(cores*waves) is smaller
    assert got == 4 << 20
    got8 = _max_partition_bytes(str(d), cores=8)
    assert got8 == 4 << 20
    # large input: proportional sizing, tasks ~ cores*waves
    big = tmp_path / "big"
    big.mkdir()
    with open(big / "part-0.parquet", "wb") as f:
        f.truncate(2_000_000_000)  # sparse — no real 2 GB written
    assert _max_partition_bytes(str(big), cores=8, waves=12) == (
        2_000_000_000 // 96
    )
    assert total  # silence unused warning-style lint
