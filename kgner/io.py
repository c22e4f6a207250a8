"""Table I/O with Iceberg -> parquet fallback.

The production design writes Iceberg (partition transforms days(warc_ts),
bucket(url)/bucket(subj), snapshot-based resume). The sandbox has no Iceberg
jars, so the same interface falls back to parquet directories; a stage is
"committed" when its directory has Spark's _SUCCESS marker, which stands in
for an Iceberg snapshot in the resume logic.

A committed table is read with the schema Spark stored in its first
part-file's footer (key `org.apache.spark.sql.parquet.row.metadata`, read
with pyarrow on the driver), so the read plans without a schema-inference
job. This is the same footer inference reads, so the schema is the same;
partition columns (`warc_day`, `subj_bucket`) are still discovered from the
directory names. A table without that key (not written by Spark) keeps the
inferred read.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


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


def _first_part_file(path: str) -> str | None:
    """The first data file of a table directory, skipping the hidden and
    `_`-prefixed names Spark's file listing skips."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for fn in sorted(files):
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                return os.path.join(root, fn)
    return None


def stored_schema(path: str) -> StructType | None:
    """The data schema Spark wrote into the table's first part-file footer,
    or None when there is no part file or no such footer key."""
    part = _first_part_file(path)
    if part is None:
        return None
    import pyarrow.parquet as pq

    raw = (pq.read_metadata(part).metadata or {}).get(SPARK_SCHEMA_KEY)
    return StructType.fromJson(json.loads(raw)) if raw else None


def read_table(spark: SparkSession, workdir: str, name: str) -> DataFrame:
    path = table_path(workdir, name)
    schema = stored_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)
