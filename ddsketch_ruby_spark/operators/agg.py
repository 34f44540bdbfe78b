"""Two-phase distributed sketch aggregation — the shared execution engine.

Phase 1 (map-side combine): ``mapInPandas`` folds every input partition into
at most one compact state row per group — the Arrow stream is consumed batch
by batch, so executor memory is O(groups x state), never O(rows). Only the
needed columns are selected first, so Catalyst prunes the parquet scan down
to the value/group columns (checked via .explain ReadSchema in tests).

Phase 2 (merge): ``fold_groups``, the library's one per-group fold — a
single ``groupBy(*group_by).applyInPandas`` stage that folds each group's
rows into one sketch and emits its state or its result. A global aggregate
is a key-less ``groupBy()``, which Spark plans as one SinglePartition
group. Shuffle volume is ``n_partitions x n_groups x state_size`` — for
DDSketch at the default bin_limit that is <= ~32 kB per partial (reference
base_sketch.rb:24-28 rationale) — independent of input row count, which is
what makes the plan survive a 100x scale-up: the scan scales out, the
shuffle stays tiny.

For very wide fan-in (tens of thousands of input partitions into few
groups), ``tree_fanin`` inserts an intermediate salted merge round
(tree-style partial merges): partials are first merged within
``spark_partition_id() % fanin`` buckets, bounding any single task's
fan-in. Legality comes from merge associativity/commutativity (verified in
tests/test_sketch.py::test_merge_associativity_commutativity).

Skew note: a hot group key does NOT skew phase 2 — after phase 1 every
group has exactly <= n_partitions partials regardless of how many raw rows
it had. Raw-value skew is absorbed in phase 1, which is per-partition and
shuffle-free.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sketches.base import SketchSpec

__all__ = ["sketch_agg", "sketch_partials", "sketch_finalize"]


def _group_fields(df: DataFrame, group_by: list[str]) -> list[T.StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[g] for g in group_by]


def _build_partials_fn(
    spec: SketchSpec,
    group_by: list[str],
    value_col: str,
    weight_col: str | None,
    out_columns: list[str],
):
    """Returns the mapInPandas function: partition batches -> partial rows."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, object] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            if group_by:
                grouped = pdf.groupby(group_by, sort=False, dropna=False)
                for key, sub in grouped:
                    if not isinstance(key, tuple):
                        key = (key,)
                    state = acc.get(key)
                    if state is None:
                        state = spec.zero()
                    vals = sub[value_col].to_numpy()
                    w = sub[weight_col].to_numpy() if weight_col else None
                    acc[key] = spec.update(state, vals, w)
            else:
                state = acc.get(())
                if state is None:
                    state = spec.zero()
                vals = pdf[value_col].to_numpy()
                w = pdf[weight_col].to_numpy() if weight_col else None
                acc[()] = spec.update(state, vals, w)
        if not acc:
            return
        rows = []
        for key, state in acc.items():
            row = dict(zip(group_by, key))
            row.update(spec.state_to_row(state))
            rows.append(row)
        yield pd.DataFrame(rows, columns=out_columns)

    return build


def _merge_states(spec: SketchSpec, pdf: pd.DataFrame) -> object:
    state_names = [f.name for f in spec.state_fields()]
    merged = spec.zero()
    cols = {n: pdf[n].to_numpy() for n in state_names}
    for i in range(len(pdf)):
        row = {n: cols[n][i] for n in state_names}
        merged = spec.merge(merged, spec.row_to_state(row))
    return merged


def _output_fields(spec: SketchSpec, output: str):
    """``(fields, emit)`` for a fold's ``output``: "state" emits the
    mergeable state columns, "result" the finalized result columns."""
    if output == "state":
        return spec.state_fields(), spec.state_to_row
    if output == "result":
        return spec.result_fields(), spec.result
    raise ValueError("output must be 'result' or 'state'")


def fold_groups(
    df: DataFrame,
    spec: SketchSpec,
    group_by: list[str],
    output: str,
    to_state=_merge_states,
) -> DataFrame:
    """Phase 2: fold each ``group_by`` group of ``df`` into one sketch with
    ``to_state(spec, pdf)`` and emit one row of the group keys plus the
    ``output`` columns. An empty ``group_by`` is the global fold: Spark
    plans a key-less ``groupBy()`` as one SinglePartition group (and an
    empty input as zero groups, hence zero rows)."""
    fields, emit = _output_fields(spec, output)
    schema = T.StructType(_group_fields(df, group_by) + fields)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {g: pdf[g].iloc[0] for g in group_by}
        row.update(emit(to_state(spec, pdf)))
        return pd.DataFrame([row], columns=schema.names)

    return df.groupBy(*group_by).applyInPandas(fold, schema=schema)


def sketch_partials(
    df: DataFrame,
    spec: SketchSpec,
    value_col: str,
    group_by: Iterable[str] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """Phase 1 only: one state row per (input partition x group)."""
    group_by = list(group_by)
    needed = group_by + [value_col] + ([weight_col] if weight_col else [])
    src = df.select(*needed)  # column pruning reaches the scan
    schema = T.StructType(_group_fields(df, group_by) + spec.state_fields())
    fn = _build_partials_fn(spec, group_by, value_col, weight_col, schema.names)
    return src.mapInPandas(fn, schema=schema)


def sketch_agg(
    df: DataFrame,
    spec: SketchSpec,
    value_col: str,
    group_by: Iterable[str] = (),
    weight_col: str | None = None,
    output: str = "result",
    tree_fanin: int | None = None,
) -> DataFrame:
    """Distributed sketch aggregation.

    output="result": one row per group with ``spec.result`` columns.
    output="state":  one row per group with the mergeable state columns
    (feed to further merges, persist as a sketch table, or finalize later).
    """
    group_by = list(group_by)
    partials = sketch_partials(df, spec, value_col, group_by, weight_col)
    if tree_fanin:
        salt = F.spark_partition_id() % F.lit(int(tree_fanin))
        partials = fold_groups(
            partials.withColumn("__salt", salt),
            spec,
            ["__salt", *group_by],
            "state",
        ).drop("__salt")
    return fold_groups(partials, spec, group_by, output)


def sketch_finalize(
    df: DataFrame,
    spec: SketchSpec,
    group_by: Iterable[str] = (),
    output: str = "result",
) -> DataFrame:
    """Merge PERSISTED state rows back into one row per group — the other
    half of ``sketch_agg(output="state")``: build sketch tables
    incrementally (daily jobs appending partial states, streaming update
    emissions, cross-cluster exports), then finalize whenever queried.
    Accepts any frame whose columns include ``group_by`` plus the spec's
    ``state_fields``; extra columns are ignored. ``output`` as in
    sketch_agg."""
    group_by = list(group_by)
    state_names = [f.name for f in spec.state_fields()]
    return fold_groups(
        df.select(*group_by, *state_names), spec, group_by, output
    )
