"""Partitioned parquet storage.

The engine's native format: columnar, min/max-pruned, partition-pruned.
``write_partitioned(mode="overwrite_partitions")`` is the idempotent-merge
primitive (dynamic partition overwrite): re-writing a date replaces only
that date's files — the behavior the reference documents for its summary
table but never implemented (SURVEY.md D1/D4).

At 100 TB: partition by the query-sliced column (date), size files via
``spark.sql.files.maxPartitionBytes`` on read; writers should repartition
by the partition column first so each task writes one file per partition
instead of ``tasks × partitions`` small files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def read(spark: SparkSession, path: str) -> DataFrame:
    from projekt_data_engineering_iubh_spark.pipeline import store

    # snapshot-pinned when ``path`` is a manifest store; no-op otherwise
    return spark.read.parquet(store.resolve(path))


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str],
    mode: str = "append",
) -> None:
    """Write parquet partitioned by ``partition_by``.

    mode="overwrite_partitions" replaces only the partitions present in
    ``df`` (idempotent daily rerun); "append"/"overwrite" as in Spark.
    """
    writer = df.repartition(*[df[c] for c in partition_by]).write
    if mode == "overwrite_partitions":
        writer = writer.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else:
        writer = writer.mode(mode)
    writer.partitionBy(*partition_by).parquet(path)
