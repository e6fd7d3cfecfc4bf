"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Plain ``spark.read.parquet`` — the parquet source gives vectorized
reads, predicate pushdown, and column pruning for free; every query in
the library relies on those (verified in tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS). How that column loads
    depends on the Spark version, so branch on the *loaded* dtype rather
    than assuming one behavior:

    - Spark 4.x reads TIMESTAMP(NANOS) natively as ``timestamp_ntz``
      (truncating ns -> µs itself); cast to the session-TZ timestamp the
      rest of the library expects. The session is pinned to UTC
      (session.py) so the cast is a stable relabel, not a shift.
    - Spark 3.x rejects NANOS outright unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is set, in which case the
      column arrives as a raw ns-since-epoch BIGINT; truncate ns -> µs
      with integer division (float division at 1e18 magnitudes would
      lose µs precision).
    """
    path = os.path.join(sf_dir, "events.parquet")
    try:
        df = spark.read.parquet(path)
    except Exception:
        # Spark 3.x: "Illegal Parquet type: INT64 (TIMESTAMP(NANOS,…))"
        # unless the legacy conf is set (runtime-settable there).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp":
        return df
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan to cluster parallelism — but ONLY
    when the source yields fewer partitions than cores. A stream is
    always repartitioned.

    Why: the testdata parquet files are written as a single row group,
    so Spark's split planning cannot parallelize the scan and every
    per-row expression in the scan stage (regex tokenization, shingle
    explodes, array math) runs on ONE core. For compute-bound operators
    the fix is one linear shuffle of the raw rows before the heavy
    expressions — measured 4.5 s -> 1.0 s for the 4-gram shingle stage
    at sf0.1. Spread the raw rows, not a projection of them: the
    exchange must sit BELOW the heavy expressions, or they still run in
    the scan's one task. The partition-count guard makes this a no-op
    on a real cluster, where a 100 TB table arrives as thousands of
    splits and a forced repartition to #cores would *reduce*
    parallelism: the repartition only fires in the degenerate
    few-splits case it exists to fix.

    A stream has no partition count to probe, and a single-file
    micro-batch arrives as one partition, so the repartition is
    unconditional there.

    Pass rows with no Exchange in their plan (a scan, filters and
    projections over it): the partition-count probe plans ``df``, and
    under adaptive execution planning an Exchange runs its shuffle
    stages as jobs, at construction time.
    """
    try:
        n = spark.sparkContext.defaultParallelism
        if df.isStreaming or df.rdd.getNumPartitions() < n:
            return df.repartition(n)
        return df
    except Exception:
        # e.g. Spark Connect, where sparkContext/.rdd are unavailable:
        # fall back to the unspread plan rather than guessing a width
        return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL query surface)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
