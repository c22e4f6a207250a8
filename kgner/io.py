"""Table I/O with Iceberg -> parquet fallback.

The production design writes Iceberg (partition transforms days(warc_ts),
bucket(url)/bucket(subj), snapshot-based resume). The sandbox has no Iceberg
jars, so the same interface falls back to parquet directories; a stage is
"committed" when its directory has Spark's _SUCCESS marker, which stands in
for an Iceberg snapshot in the resume logic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_path(workdir: str, name: str) -> str:
    return os.path.join(workdir, name)


def is_committed(workdir: str, name: str) -> bool:
    return os.path.exists(os.path.join(table_path(workdir, name), "_SUCCESS"))


def write_table(
    df: DataFrame,
    workdir: str,
    name: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(table_path(workdir, name))


def read_table(spark: SparkSession, workdir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(workdir, name))
