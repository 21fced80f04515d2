"""Table loading for the driver-provided parquet fixtures.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings. Schema-on-read is banned in the
engine proper (SURVEY.md §1.3) — parquet carries its schema, so reads
are already schema-enforced; the JSON/CSV sources in
``cdc_makanmana_spark.sources`` take explicit StructTypes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    # Session-scoped PLAN memo. A DataFrame here is an immutable
    # logical plan over the parquet path — no rows are cached, every
    # action still scans the files — but constructing it fresh costs
    # real driver time per call: two conf round-trips, a read.parquet
    # (file listing + footer schema parse), and a df.schema py4j
    # fetch, ~20-40 ms together. Query builds call this 1-4× each, so
    # a 112-query bench pass pays seconds of pure re-listing for
    # byte-identical plans. Keyed on the live session object (a
    # stopped session's plans must not leak into a new one) and the
    # path's mtime (a regenerated fixture dir gets a fresh listing —
    # scripts/gen_sf.py rewrites in place).
    path = os.path.join(sf_dir, f"{name}.parquet")
    memo: dict | None = getattr(spark, "_cdc_table_memo", None)
    if memo is None:
        memo = {}
        spark._cdc_table_memo = memo
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = -1.0
    key = (path, mtime)
    df = memo.get(key)
    if df is not None:
        return df
    # events.parquet has shipped two timestamp physical types across
    # fixture generations: TIMESTAMP(NANOS), which Spark's reader
    # rejects by default (read as long, truncate ns→µs with integer
    # division — exact; DuckDB truncates the same way), and plain
    # TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 infers
    # as timestamp_ntz. Normalize both to session-TZ TimestampType:
    # the session runs UTC, so wall-clock values match DuckDB's naive
    # timestamps either way.
    _configure_parquet_timestamps(spark)
    df = spark.read.parquet(path)
    if any(f.name == "ts" for f in df.schema.fields):
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    memo[key] = df
    return df


def _configure_parquet_timestamps(spark: SparkSession) -> None:
    if getattr(spark, "_cdc_parquet_ts_configured", False):
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark._cdc_parquet_ts_configured = True
