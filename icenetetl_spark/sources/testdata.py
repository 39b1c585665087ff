"""Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).

Plain ``spark.read.parquet`` — schemas come from parquet footers; filters and
column projections written against these DataFrames reach the scan via
Catalyst pushdown (verify with ``df.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from icenetetl_spark.session import memoized

TABLES = [
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
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's lazy plan handle, memoized in ``spark``'s session memo.

    Each ``spark.read.parquet`` call costs a parquet footer job (30-45 ms)
    plus py4j reader construction, and a composed query such as
    knn_recall_report (seven ANN arms and a brute-force baseline) reads
    the same file eight times. Repeat calls return the same frame, so warm
    passes also reuse its plans and generated classes. The key folds the
    file's size and mtime, so a regenerated file gets a fresh handle: the
    handle's file index pins the listing it was built with. Only the plan
    is memoized; every execution still scans the file."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        stat: tuple = (st.st_size, st.st_mtime_ns)
    except OSError:
        stat = ("nostat",)
    return memoized(
        spark,
        ("table", path, *stat),
        lambda: _load_table_uncached(spark, sf_dir, name),
    )


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects. Read nanos as LONG (runtime-settable legacy conf),
        # then integer-divide to micros — no double round-trip (an epoch in
        # nanos exceeds a double's 53-bit mantissa).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
