"""Loaders for the driver-provided synthetic star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events documents
embeddings — one parquet each under ``{sf_dir}/{name}.parquet``.

Notes
-----
- ``events.parquet`` stores ``ts`` as parquet INT64 TIMESTAMP(NANOS), which
  Spark cannot decode natively; we flip the OSS escape hatch
  ``spark.sql.legacy.parquet.nanosAsLong`` at runtime and rebuild the column as
  a microsecond TIMESTAMP_NTZ (truncation — matches DuckDB's ns→us cast).
- All other timestamps arrive as TIMESTAMP(MILLIS, isAdjustedToUTC=false) and
  read as TIMESTAMP_NTZ; the engine standardizes on NTZ event time with a UTC
  session zone (SURVEY.md §5 determinism rules).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # determinism guard: event-time semantics must not depend on the caller's
    # session zone (the driver may hand us a non-UTC session)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        # driver-shaped input stores ts as INT64 nanos; re-materialized copies
        # (pipeline outputs, scaled fixtures) already carry a real timestamp
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"),
            )
        return df
    return spark.read.parquet(path)
