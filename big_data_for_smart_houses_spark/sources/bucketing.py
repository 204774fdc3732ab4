"""Bucketed tables for shuffle-free co-located joins.

At 100 TB the dominant cost of a fact-fact join (e.g. lineitem ⋈
orders) is shuffling both sides on the join key. Writing both tables
bucketed by that key with the same bucket count makes the join
exchange-free forever after: each task reads matching bucket files
from both sides and sort-merge joins them locally. The write pays one
shuffle once; every subsequent join of the pair pays zero.

Spark-native mechanism: ``DataFrameWriter.bucketBy(n, key).sortBy(key)
.saveAsTable(...)`` — bucketing metadata lives in the session catalog,
so readers must go through ``spark.table(name)``, not raw parquet
paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) catalog
    table. Choose ``n_buckets`` so one bucket of the larger table fits
    an executor's memory at target scale; both sides of a co-located
    join must use the same key and bucket count. ``path`` places the
    table's files there (an external table); without it the table is
    managed, under the session's warehouse directory."""
    writer = df.write.mode(mode).bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed table *through the catalog* (bucket metadata is
    lost on a raw-path read)."""
    return spark.table(name)
