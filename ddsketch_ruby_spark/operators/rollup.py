"""Hierarchical rollups over sketch STATES — the mergeability payoff.

Because every sketch is a commutative monoid, coarser aggregation levels
never need to rescan raw data: build states once at the finest grain, then
fold state rows upward (lang, source) -> (lang) -> (). At 100 TB this turns
an N-pass cube into one scan plus merges over kilobyte-sized rows.

``sketch_rollup`` returns one DataFrame per requested level;
``sketch_cube_union`` stacks them in a single DataFrame with NULLs for the
rolled-up dimensions (the SQL ROLLUP output shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sketches.base import SketchSpec
from .agg import sketch_finalize

__all__ = ["sketch_rollup", "sketch_cube_union"]


def sketch_rollup(
    states: DataFrame,
    spec: SketchSpec,
    dims: list[str],
    output: str = "result",
) -> dict[tuple[str, ...], DataFrame]:
    """ROLLUP levels from finest-grain states: for dims [a, b, c] produces
    results for (a,b,c), (a,b), (a,), () — each level folded from the one
    below it is equivalent (associativity), but folding each from the
    finest keeps them independent / parallel."""
    out = {}
    for i in range(len(dims), -1, -1):
        level = tuple(dims[:i])
        out[level] = sketch_finalize(states, spec, level, output)
    return out


def sketch_cube_union(
    states: DataFrame,
    spec: SketchSpec,
    dims: list[str],
    output: str = "result",
) -> DataFrame:
    """ROLLUP output as a single DataFrame, NULL-padding rolled-up dims."""
    levels = sketch_rollup(states, spec, dims, output=output)
    pieces = []
    for level, df in levels.items():
        missing = [d for d in dims if d not in level]
        for d in missing:
            df = df.withColumn(d, F.lit(None).cast("string"))
        pieces.append(df.select(*dims, *[c for c in df.columns if c not in dims]))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
