"""Parquet table IO for the driver tables (TESTDATA.md).

Scans are plain ``spark.read.parquet`` so Catalyst's DSv2 path gives
predicate pushdown, column pruning, and partition pruning for free —
the 100 TB layout assumption is date/key-partitioned parquet, which
the same reader handles via partition discovery.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) and
        # timestamp[us]; adapt to whatever the file actually contains
        # rather than hardcoding one physical type. The session reads
        # NANOS as LongType (spark.sql.legacy.parquet.nanosAsLong in
        # session._RUNTIME_CONF); it is truncated ns→µs here, the same
        # truncation DuckDB applies, so oracle parity holds. A MICROS
        # column reads as a timestamp and passes through.
        df = spark.read.parquet(table_path(sf_dir, name))
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if isinstance(ts_type, TimestampNTZType):
            # Session TZ is pinned UTC (session.py), so NTZ→LTZ is
            # value-identical; keep the historical downstream type.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each table as a temp view so SQL-form queries can run."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
