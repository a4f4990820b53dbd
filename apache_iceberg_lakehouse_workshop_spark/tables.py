"""Test-data table loading.

The driver ships deterministic TPC-H-ish parquet under
``/root/testdata/sf{0.001,0.01,0.1}`` (see ``/root/repo/TESTDATA.md``).
Helpers here load them as DataFrames under the canonical names
used by the oracle (``region nation customer supplier part orders lineitem
events documents embeddings``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_read_confs(spark: SparkSession) -> None:
    """The engine controls these semantics itself — the caller's session may
    be built with any config (the driver passes us its own SparkSession).
    All three are runtime-settable."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_read_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is nanosecond-precision parquet; with
    # spark.sql.legacy.parquet.nanosAsLong it reads as LONG nanos — convert
    # back to a naive timestamp (micro truncation matches DuckDB's reads of
    # the same values at micro precision for every function we use on it).
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # pure NTZ arithmetic from the epoch — going through
            # timestamp_micros (LTZ) would shift by the JVM/session zone
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df

