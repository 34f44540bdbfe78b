"""Two-phase distributed sketch aggregation — the shared execution engine.

Phase 1 (map-side combine): ``mapInArrow`` folds every input partition into
at most one compact state row per group — the Arrow stream is consumed batch
by batch, so executor memory is O(groups x state), never O(rows). Groups
follow Spark's grouping equality (``_starts_group``): a null key and a NaN
key are two groups. Only the needed columns are selected first, so Catalyst
prunes the parquet scan down to the value/group columns (checked via
.explain ReadSchema in tests).

Phase 2 (merge): ``fold_groups``, the library's one per-group fold — rows
hash-partitioned and sorted by the group keys, then one ``mapInArrow`` call
per partition that cuts the sorted Arrow stream at group boundaries and
folds each group into one sketch. A global aggregate is one partition with
no keys. Shuffle volume is ``n_partitions x n_groups x state_size`` — for
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

Zip finders: every per-partition Python function the library ships to
workers is wrapped by ``_drops_zip_finders``, which drops the worker's
``zipimport.zipimporter`` entries from ``sys.path_importer_cache`` once the
function's batch iterator ends, closes or raises. Spark reuses Python
workers, and each task starts in ``pyspark.worker_util.setup_spark_files``,
whose closing ``importlib.invalidate_caches()`` calls every cached finder's
``invalidate_caches``. On CPython 3.11 ``zipimporter.invalidate_caches``
re-reads its archive's central directory (``zipimport.py``, lines 329-336),
and a warmed worker holds 16 zip finders (12 for ``pyspark.zip``, 2 for
py4j, 2 for the ``spark-core`` jar): about 0.25 s per task before any
library code runs. A dropped entry is legal: the next import that needs the
archive gets a new finder from the path hooks, built from
``zipimport._zip_directory_cache`` without a re-read, and Spark never
rewrites a shipped archive in place. The drop runs at exit, never at entry:
a task's own lazy imports would re-create the finders before it ends. New
workers still pay on their first task; on CPython 3.13+, which no longer
re-reads, the drop costs microseconds. Not wrapped: the scalar
``pandas_udf``s of ``functions/sql_udfs.py`` (one call per batch, with no
end of the task's iterator to run at) and ``applyInPandasWithState`` in
``streaming/`` (one call per group state per micro-batch).
"""

from __future__ import annotations

import sys
import zipimport
from typing import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..sketches.base import SketchSpec

__all__ = ["sketch_agg", "sketch_partials", "sketch_finalize"]


def _drops_zip_finders(fn: Callable) -> Callable:
    """``fn``, a mapInArrow / mapInPandas function, that deletes every
    ``zipimport.zipimporter`` from ``sys.path_importer_cache`` (other
    finders stay) once its output iterator ends, closes or raises (module
    docstring). No ``functools.wraps``: a copied ``__qualname__`` could make
    cloudpickle ship a module-level ``fn`` by reference."""

    def dropping(batches: Iterator) -> Iterator:
        try:
            yield from fn(batches)
        finally:
            for path, finder in list(sys.path_importer_cache.items()):
                if isinstance(finder, zipimport.zipimporter):
                    sys.path_importer_cache.pop(path, None)

    return dropping


def _group_fields(df: DataFrame, group_by: list[str]) -> list[T.StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[g] for g in group_by]


def _build_partials_fn(
    spec: SketchSpec,
    group_by: list[str],
    value_col: str,
    weight_col: str | None,
    schema: T.StructType,
):
    """Returns the mapInArrow function: partition batches -> partial rows.
    Each batch's key rows are numbered together with the partition's groups
    so far by ``_group_ids``, so null and NaN keys stay apart as in Spark's
    ``groupBy``, and each group's rows update its state in input order."""
    batch_of = _batch_writer(schema, spec.state_fields(), spec.state_to_row)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        keys, states = [], []  # the partition's groups so far: key rows, states
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vals = batch.column(value_col).to_numpy(zero_copy_only=False)
            w = batch.column(weight_col).to_numpy(zero_copy_only=False) if weight_col else None
            if not group_by:
                states = [spec.update(states[0] if states else spec.zero(), vals, w)]
                continue
            new = [batch.column(g) for g in group_by]
            both = [pa.concat_arrays(p) for p in zip(keys, new)] if states else new
            ids, first = _group_ids(both)
            merged = [None] * len(first)
            for i, state in zip(ids, states):
                merged[i] = state
            rows = ids[len(states):]
            order = np.argsort(rows, kind="stable")
            cut = np.flatnonzero(np.diff(rows[order])) + 1
            for run in np.split(order, cut):
                i = rows[run[0]]
                state = spec.zero() if merged[i] is None else merged[i]
                merged[i] = spec.update(state, vals[run], None if w is None else w[run])
            keys, states = [k.take(first) for k in both], merged
        if states:
            yield batch_of(keys, states)

    return build


def _merge_states(spec: SketchSpec, cols: dict[str, np.ndarray]) -> object:
    state_names = [f.name for f in spec.state_fields()]
    merged = spec.zero()
    for i in range(len(cols[state_names[0]])):
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


def _batch_writer(schema: T.StructType, fields: list[T.StructField], emit):
    """``batch_of(keys, states)``: one Arrow batch of ``schema``, the key
    columns followed by ``emit(state)``'s ``fields`` for every state."""
    out_types = to_arrow_schema(T.StructType(fields)).types

    def batch_of(keys: list[pa.Array], states: list) -> pa.RecordBatch:
        rows = [emit(s) for s in states]
        outs = [  # from_pandas=True: a NaN result is emitted as null
            pa.array([r[f.name] for r in rows], type=t, from_pandas=True)
            for f, t in zip(fields, out_types)
        ]
        return pa.RecordBatch.from_arrays(keys + outs, names=schema.names)

    return batch_of


def _starts_group(keys: list[pa.Array], n: int) -> np.ndarray:
    """``out[i]``: row ``i`` of the ``n`` key rows starts a new group under
    Spark's grouping equality — null equals null and no value, NaN equals
    NaN, 0.0 equals -0.0."""
    new = np.zeros(n, dtype=bool)
    new[0] = True
    for col in keys:
        valid = col.is_valid().to_numpy(zero_copy_only=False)
        if pa.types.is_floating(col.type):
            v = col.to_numpy(zero_copy_only=False)
            differ = (v[1:] != v[:-1]) & ~(np.isnan(v[1:]) & np.isnan(v[:-1]))
        elif pa.types.is_struct(col.type):
            differ = _starts_group(col.flatten(), n)[1:]
        elif pa.types.is_nested(col.type) or pa.types.is_null(col.type):
            x = col.to_pylist()  # Python equality: Arrow cannot compare these
            differ = np.array([p != q for p, q in zip(x[1:], x[:-1])], dtype=bool)
        else:  # Arrow equality: exact for integers, strings, dates, decimals
            differ = pc.not_equal(col[1:], col[:-1]).fill_null(False)
            differ = differ.to_numpy(zero_copy_only=False)
        new[1:] |= (differ & valid[1:]) | (valid[1:] != valid[:-1])
    return new


def _group_ids(keys: list[pa.Array]) -> tuple[np.ndarray, np.ndarray]:
    """``(ids, first)``: ``ids[i]`` numbers key row ``i``'s group under
    ``_starts_group``'s equality and ``first[g]`` is group ``g``'s first row.
    Arrow's sort puts equal keys side by side: NaN after every number, null
    last, 0.0 beside -0.0."""
    table = pa.table(keys, names=[str(i) for i in range(len(keys))])
    order = pc.sort_indices(table, [(c, "ascending") for c in table.column_names])
    order = order.to_numpy()
    starts = _starts_group([k.take(order) for k in keys], len(order))
    ids = np.empty(len(order), dtype=np.int64)
    ids[order] = np.cumsum(starts) - 1
    return ids, order[starts]


def fold_groups(
    df: DataFrame,
    spec: SketchSpec,
    group_by: list[str],
    output: str,
    to_state=_merge_states,
) -> DataFrame:
    """Phase 2: fold each ``group_by`` group of ``df`` into one sketch with
    ``to_state(spec, cols)`` (``cols``: the group's NumPy slice of every
    non-key column) and emit one row of its keys plus the ``output``
    columns. A group is a run of its partition's sorted Arrow stream, carried
    across batches: memory is O(batch + largest group). An empty ``group_by``
    is the global fold: one partition, one group (none for empty input)."""
    fields, emit = _output_fields(spec, output)
    schema = T.StructType(_group_fields(df, group_by) + fields)
    names = [c for c in df.columns if c not in group_by]
    batch_of = _batch_writer(schema, fields, emit)

    def fold_carried(parts: list[dict]) -> object:
        return to_state(spec, {c: np.concatenate([p[c] for p in parts]) for c in names})

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry, carry_key = [], []  # the open group's column slices, its key row
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            keys = [batch.column(g) for g in group_by]
            cols = {c: batch.column(c).to_numpy(zero_copy_only=False) for c in names}
            lead = 1 if carry else 0  # an open group's key row leads the batch
            both = [pa.concat_arrays(p) for p in zip(carry_key, keys)] if lead else keys
            starts = np.flatnonzero(_starts_group(both, n + lead)[lead:])
            if head := (starts[0] if len(starts) else n):  # continues the open group
                carry.append({c: v[:head] for c, v in cols.items()})
            if not len(starts):
                continue
            states, out_keys = [], [k.take(starts[:-1]) for k in keys]
            if carry:
                states.append(fold_carried(carry))
                out_keys = [pa.concat_arrays(p) for p in zip(carry_key, out_keys)]
            for a, b in zip(starts[:-1], starts[1:]):
                states.append(to_state(spec, {c: v[a:b] for c, v in cols.items()}))
            carry = [{c: v[starts[-1]:] for c, v in cols.items()}]
            carry_key = [k.take(starts[-1:]) for k in keys]
            yield batch_of(out_keys, states)
        if carry:
            yield batch_of(carry_key, [fold_carried(carry)])

    if not group_by:
        return df.repartition(1).mapInArrow(_drops_zip_finders(run), schema)
    by_key = df.repartition(*group_by).sortWithinPartitions(*group_by)
    return by_key.mapInArrow(_drops_zip_finders(run), schema)


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
    fn = _build_partials_fn(spec, group_by, value_col, weight_col, schema)
    return src.mapInArrow(_drops_zip_finders(fn), schema=schema)


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
