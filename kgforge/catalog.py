"""Table catalog abstraction: Iceberg when the runtime has it, partitioned
Parquet with the identical layout otherwise (SURVEY.md §7.2 hard-part (d) —
never ``format("iceberg")`` inline in stage code).

The sandbox's PySpark ships no Iceberg jar, so the default is parquet; on a
real cluster set ``KGFORGE_TABLE_FORMAT=iceberg`` and provide the catalog
via standard Spark Iceberg configs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_format() -> str:
    return os.environ.get("KGFORGE_TABLE_FORMAT", "parquet")


def _iceberg() -> bool:
    return table_format() == "iceberg"


def write_table(df: DataFrame, location: str, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
    """Write a stage table. ``location`` is a path (parquet) or a catalog
    table name (iceberg)."""
    if _iceberg():
        w = df.writeTo(location)
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(location)


def write_csv(df: DataFrame, location: str, mode: str = "overwrite") -> None:
    """CSV export sink (the reference's to_csv outputs,
    /root/reference/experiments/uaz_indicators_comparison.py:131-132)."""
    df.write.mode(mode).option("header", "true").csv(location)


def write_json(df: DataFrame, location: str, codec: str = "gzip", mode: str = "overwrite") -> None:
    """Compressed JSONL sink (the reference's gzip JSONL append,
    /root/reference/experiments/uaz_indicators_comparison.py:273-276)."""
    df.write.mode(mode).option("compression", codec).json(location)


def read_table(spark: SparkSession, location: str, schema=None) -> DataFrame:
    """Read a stage table.  A parquet read given ``schema`` (the StructType
    the table was just written with) skips the footer-inference job."""
    if _iceberg():
        return spark.read.table(location)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(location)


def table_exists(spark: SparkSession, location: str) -> bool:
    if _iceberg():
        return spark.catalog.tableExists(location)
    # parquet: a successful write leaves a _SUCCESS marker.
    from py4j.protocol import Py4JJavaError  # noqa: F401

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(location + "/_SUCCESS")
    fs = p.getFileSystem(conf)
    return bool(fs.exists(p))


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed external table — the co-located-join layout: two tables
    bucketed (and sorted) on the same key with the same bucket count join
    with ZERO exchanges, because every bucket file pair is already
    key-aligned on disk (Spark reads bucket i of each side into the same
    task).  At 100 TB this is the difference between re-shuffling the fact
    table on every join and shuffling it ONCE at write time — the parquet
    analog of the Iceberg bucket-partition transform this catalog maps to
    when KGFORGE_TABLE_FORMAT=iceberg.  Bucketing requires a catalog
    entry (saveAsTable); ``path`` keeps the data external so the table is
    droppable without deleting files."""
    w = df.write.mode(mode).option("path", path).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(name)
