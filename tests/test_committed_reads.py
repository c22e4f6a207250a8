"""Reading a committed table plans without a Spark job and returns the
schema that schema inference returns.

`io.read_table` passes the schema Spark stored in the first part-file footer
to the reader; `spark.read.parquet` infers it with a job. Both must give the
same field names, order, types and nullability, partition columns included.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kgner import io

ROWS = [
    ("https://a.example/x", "2024-03-01 10:00:00", "en", "Alpha beta.", [1, 2]),
    ("https://b.example/y", "2024-03-02 11:30:00", "zh", "中文句子。", []),
    ("https://c.example/z", "2024-03-02 12:00:00", None, None, None),
]


def _frame(spark):
    df = spark.createDataFrame(
        ROWS, "url string not null, ts string, lang string, text string, ids array<int>"
    )
    return (
        df.withColumn("warc_ts", F.to_timestamp("ts"))
        .drop("ts")
        .withColumn("meta", F.struct(F.length("text").alias("n"), F.col("lang")))
    )


def _read_without_jobs(spark, job_group, workdir, name):
    with job_group() as jobs:
        df = io.read_table(spark, workdir, name)
        schema = df.schema
    assert jobs == [], f"read_table({name}) submitted Spark jobs {jobs}"
    return df, schema


def _assert_same_schema(got, want):
    assert [
        (f.name, f.dataType, f.nullable) for f in got.fields
    ] == [(f.name, f.dataType, f.nullable) for f in want.fields]
    assert got == want


def test_plain_table(spark, job_group, tmp_path):
    wd = str(tmp_path)
    io.write_table(_frame(spark), wd, "plain")
    df, schema = _read_without_jobs(spark, job_group, wd, "plain")
    want = spark.read.parquet(io.table_path(wd, "plain")).schema
    _assert_same_schema(schema, want)
    assert sorted(map(tuple, df.select("url", "lang").collect()), key=str) == sorted(
        ((r[0], r[2]) for r in ROWS), key=str
    )


def test_partitioned_tables(spark, job_group, tmp_path):
    """The partition expressions of the `extracted` (date warc_day) and
    `triples` (int subj_bucket) stages: partition columns are discovered
    from the directory names with the inferred types."""
    wd = str(tmp_path)
    base = _frame(spark)
    io.write_table(
        base.withColumn("warc_day", F.to_date("warc_ts")),
        wd,
        "by_day",
        partition_by=["warc_day"],
    )
    io.write_table(
        base.withColumn(
            "subj_bucket", F.pmod(F.xxhash64("url"), F.lit(16)).cast("int")
        ),
        wd,
        "by_bucket",
        partition_by=["subj_bucket"],
    )
    for name, col, typ in (
        ("by_day", "warc_day", "date"),
        ("by_bucket", "subj_bucket", "int"),
    ):
        df, schema = _read_without_jobs(spark, job_group, wd, name)
        want = spark.read.parquet(io.table_path(wd, name)).schema
        _assert_same_schema(schema, want)
        assert schema.fields[-1].name == col
        assert schema.fields[-1].dataType.simpleString() == typ
        assert df.count() == len(ROWS)
    days = io.read_table(spark, wd, "by_day").select("warc_day").distinct()
    assert sorted(str(r[0]) for r in days.collect()) == ["2024-03-01", "2024-03-02"]


def test_empty_table(spark, job_group, tmp_path):
    wd = str(tmp_path)
    io.write_table(_frame(spark).limit(0), wd, "empty")
    df, schema = _read_without_jobs(spark, job_group, wd, "empty")
    want = spark.read.parquet(io.table_path(wd, "empty")).schema
    _assert_same_schema(schema, want)
    assert df.count() == 0


def test_table_without_spark_footer_falls_back_to_inference(spark, tmp_path):
    """A table written by pyarrow has no Spark row metadata: read_table
    infers the schema as spark.read.parquet does."""
    wd = str(tmp_path)
    path = io.table_path(wd, "arrow")
    os.makedirs(path)
    table = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array(["a b", None], pa.string()),
            "tags": pa.array([["B-PER"], []], pa.list_(pa.string())),
        }
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    assert io.stored_schema(path) is None
    got = io.read_table(spark, wd, "arrow")
    _assert_same_schema(got.schema, spark.read.parquet(path).schema)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2]
