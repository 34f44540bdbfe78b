"""Mapping accuracy sweep — port of reference
spec/support/shared_context_for_mapping.rb (5.1 in SURVEY.md)."""

import math

import numpy as np
import pytest

from ddsketch_ruby_spark.kernel import (
    CubicallyInterpolatedKeyMapping,
    LinearlyInterpolatedKeyMapping,
    LogarithmicKeyMapping,
)

MAPPINGS = [
    LogarithmicKeyMapping,
    LinearlyInterpolatedKeyMapping,
    CubicallyInterpolatedKeyMapping,
]

# rel-acc sweep: 1-1e-3 down to 1e-8 by factor (1 - sqrt(2)*0.1)
# (shared_context_for_mapping.rb:46-65)
_REL_ACCS = []
_ra = 1.0 - 1e-3
while _ra >= 1e-8:
    _REL_ACCS.append(_ra)
    _ra *= 1.0 - math.sqrt(2.0) * 1e-1


def _sweep_values(mapping) -> np.ndarray:
    """Values from min_possible to max_possible stepping by factor
    2 - sqrt(2)*0.1 (shared_context_for_mapping.rb:20-25), vectorized."""
    mult = 2.0 - math.sqrt(2.0) * 1e-1
    n = int(
        math.floor(
            (math.log(mapping.max_possible) - math.log(mapping.min_possible))
            / math.log(mult)
        )
    )
    exps = np.arange(1, n + 1, dtype=np.float64)
    vals = np.exp(math.log(mapping.min_possible) + exps * math.log(mult))
    vals = vals[(vals > mapping.min_possible) & (vals < mapping.max_possible)]
    return np.append(vals, mapping.max_possible)


@pytest.mark.parametrize("mapping_cls", MAPPINGS, ids=lambda c: c.__name__)
def test_mapping_round_trip_relative_accuracy(mapping_cls):
    for rel_acc in _REL_ACCS:
        m = mapping_cls(rel_acc)
        vals = _sweep_values(m)
        back = m.value_batch(m.key_batch(vals))
        rel_err = np.abs(back - vals) / vals
        worst = float(rel_err.max())
        assert worst < m.relative_accuracy, (
            f"{mapping_cls.__name__} rel_acc={rel_acc}: worst={worst}"
        )


@pytest.mark.parametrize("mapping_cls", MAPPINGS, ids=lambda c: c.__name__)
@pytest.mark.parametrize("offset", [0, 1, -12.23, 7768.3])
def test_mapping_offset(mapping_cls, offset):
    # mapping.key(1) == Integer(offset) (shared_context_for_mapping.rb:70-78)
    m = mapping_cls(0.01, offset=offset)
    assert m.key(1.0) == int(offset)


@pytest.mark.parametrize("mapping_cls", MAPPINGS, ids=lambda c: c.__name__)
@pytest.mark.parametrize("bad", [1.1, -0.1, 0.0, 1.0])
def test_mapping_ctor_validation(mapping_cls, bad):
    with pytest.raises(ValueError, match="must be between 0 and 1"):
        mapping_cls(bad)


@pytest.mark.parametrize("mapping_cls", MAPPINGS, ids=lambda c: c.__name__)
def test_scalar_matches_batch(mapping_cls):
    m = mapping_cls(0.02)
    vals = np.array([1e-6, 0.5, 1.0, 3.14159, 1e6, 1e100])
    keys = m.key_batch(vals)
    assert [m.key(v) for v in vals] == keys.tolist()
    back = m.value_batch(keys)
    assert [m.value(int(k)) for k in keys] == back.tolist()


def test_interpolation_tags():
    assert LogarithmicKeyMapping(0.01).interpolation is None
    assert LinearlyInterpolatedKeyMapping(0.01).interpolation == "linear"
    assert CubicallyInterpolatedKeyMapping(0.01).interpolation == "cubic"


def _libm_pow_mismatches() -> int:
    """Keys of the default logarithmic mapping (alpha = 0.01, offset 0)
    whose ``value_batch`` differs from the reference formula
    2**(k/multiplier) * 2/(1+gamma) computed with libm pow."""
    m = LogarithmicKeyMapping(0.01)
    keys = np.arange(m.key(m.min_possible), m.key(m.max_possible) + 1)
    assert len(keys) == 70_905
    scale = 2.0 / (1.0 + m.gamma)
    ref = np.array(
        [2.0 ** ((k - m.offset) / m._multiplier) * scale for k in keys.tolist()]
    )
    return int((m.value_batch(keys) != ref).sum())


def _avx512_features() -> list[str]:
    try:
        from numpy._core._multiarray_umath import __cpu_features__
    except ImportError:
        from numpy.core._multiarray_umath import __cpu_features__
    return [f for f, on in __cpu_features__.items() if on and f.startswith("AVX512")]


def test_value_batch_is_libm_pow_under_any_simd_dispatch():
    # numpy's SIMD exp2 differs from libm pow in the last ulp on ~19k of
    # these keys with AVX-512 dispatch and on ~60 without it; libm pow
    # gives the same bits on every CPU
    assert _libm_pow_mismatches() == 0
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        NPY_DISABLE_CPU_FEATURES=" ".join(_avx512_features()),
        PYTHONPATH=root,
    )
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from tests.test_mapping import _libm_pow_mismatches as f; print(f())",
        ],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "0", out.stderr


@pytest.mark.parametrize(
    "alpha, offset",
    [(0.01, 0.0), (0.01, 7768.3), (0.01, -12.23), (0.02, 0.0), (0.05, 3.0)],
)
def test_log_value_sql_replays_value_batch(alpha, offset):
    # the DuckDB quantile oracles compute bucket values through
    # _log_value_sql; its POWER is libm pow, as the kernel's _exp2 is
    import duckdb

    import __spark_entry__ as entry

    m = LogarithmicKeyMapping(alpha, offset=offset)
    keys = np.arange(m.key(m.min_possible), m.key(m.max_possible) + 1)
    got = (
        duckdb.connect()
        .execute(
            f"SELECT {entry._log_value_sql(m, 'k')} AS v "
            f"FROM range({keys[0]}, {keys[-1] + 1}) t(k) ORDER BY k"
        )
        .fetchnumpy()["v"]
    )
    assert len(got) == len(keys) > 14_000
    assert int((got != m.value_batch(keys)).sum()) == 0


@pytest.mark.parametrize("offset", [0.0, -12.23, 7768.3])
def test_log_key_sql_replays_key_batch(offset):
    # the DuckDB oracles key every value through _log_key_sql; on the
    # binade-boundary grid of test_jvm_keys_bit_match_kernel it must equal
    # the kernel's keys, fractional offsets included
    import duckdb

    import __spark_entry__ as entry

    rng = np.random.default_rng(7)
    exps = np.arange(-60, 61, dtype=np.float64)
    vals = np.concatenate(
        [
            2.0**exps,
            np.nextafter(2.0**exps, 0.0),
            np.nextafter(2.0**exps, np.inf),
            rng.lognormal(3, 4, 4000),
            np.array([1.0, 1.5, 2.0, 1e-9, 1e9, 5.0, 0.1]),
        ]
    )
    m = LogarithmicKeyMapping(0.01, offset=offset)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vals.tolist())))
    got = con.execute(
        f"SELECT {entry._log_key_sql(m, 'v')} AS k FROM t ORDER BY i"
    ).fetchnumpy()["k"]
    assert len(got) == len(vals) == 4_370
    assert int((got != m.key_batch(vals)).sum()) == 0


def test_value_overflow_is_inf():
    m = LogarithmicKeyMapping(0.01)
    top = m.key(m.max_possible)
    assert np.isfinite(m.value(top))
    assert m.value_batch(np.array([top + 10, 10**9])).tolist() == [math.inf] * 2
