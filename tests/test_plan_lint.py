"""Plan lint over EVERY driver query: the input_hint contract is
"vectorized pandas/Arrow UDFs (no per-row Python) throughout", and at
corpus scale an accidental row-at-a-time PythonUDF or an unintended
cartesian product is a silent 100x regression. Catch both at plan level.

BatchEvalPython = row-at-a-time Python UDF (forbidden everywhere).
ArrowEvalPython / MapInPandas / MapInArrow / FlatMapGroupsInPandas are the
sanctioned vectorized operators. CartesianProduct is forbidden; the deliberate
all-pairs verifiers express their O(n^2) join with an inequality
condition, which plans as BroadcastNestedLoopJoin — allowed only for
them.
"""

import pytest

import __spark_entry__ as entry

# no exclusions: every query's FINAL plan is a distributed plan (the
# cms/bloom probes broadcast their state via a mapInPandas closure)
_DRIVER_SIDE: set[str] = set()

# deliberate bounded O(n^2) verifiers (inequality-join -> BNLJ)
_ALLOW_NESTED_LOOP = {
    "cosine_allpairs_dup",
    "cosine_near_dup_pairs",
    # _bound_checked cross-joins the data against the BROADCAST sketch
    # estimates — a |qs|-row build side by construction (3 rows), so the
    # nested loop is a scan with 3 comparisons per row, not a join blowup
    "kll_quantity_quantiles",
    # hll_overlap / kmv_overlap pair two g-row STATE frames (one row per
    # group after sketch_agg) with an inequality condition — bounded by
    # group cardinality, never by input rows
    "hll_overlap_event_types",
    "kmv_overlap_event_buckets",
    # bm25 joins the ONE-row broadcast corpus-stats aggregate back to the
    # per-doc frame; the literal join key constant-folds so Catalyst
    # plans BNLJ, but the build side is a single row by construction
    "bm25_topk_documents",
    # the streamed monitors replicate the BROADCAST baseline bucket
    # histogram per day: the build side is bounded by the sketch's bucket
    # count (~hundreds of rows, independent of input size), so the nested
    # loop is |days| x |buckets|, never an input-row blowup
    "stream_drift_daily",
    "stream_psi_daily",
}


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_no_per_row_python_and_no_cartesian(spark, name):
    df = entry.queries()[name](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in _ALLOW_NESTED_LOOP and name not in _DRIVER_SIDE:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected nested-loop join"
        )
