"""Table loaders for the driver-generated parquet test data.

At production scale these reads target Iceberg
(``spark.read.format("iceberg").load(...)``) where partition pruning and
column pruning come through DataSource V2; parquet is the test stand-in
with identical pruning behavior (check .explain for ReadSchema /
PushedFilters).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
