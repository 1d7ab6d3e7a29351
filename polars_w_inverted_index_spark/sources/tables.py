"""Test-table loaders for the driver-provided parquet fixtures."""

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

# Per-session DataFrame-HANDLE memo (r15, r14 VERDICT task 7): every
# bench/driver row called spark.read.parquet() afresh, paying the
# relation's file listing + footer/schema read + py4j round trips per
# QUERY — the scaling block showed the tiny ref_* rows core-count-flat
# because this fixed driver-side setup, not executor work, is their
# floor.  The memo caches the LAZY scan handle (never data, never
# results: every action still computes from the parquet files), keyed
# by (path, size, mtime) so a regenerated fixture re-reads, and stored
# on the session object so a stopped session frees its handles and two
# concurrent sessions never share plans.  This is the same reuse a
# catalog table gets from Spark's own session-scoped file-index cache.
_CACHE_ATTR = "_pwis_table_handles"


def _stat_key(path: str) -> tuple | None:
    """Memo key of a local table path, or None when ``os.stat`` cannot
    see it — a missing path, or a URI (``file://``, ``hdfs://``): such a
    read skips the memo and goes to ``spark.read.parquet``, which
    resolves URIs and reports a missing path itself."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_size, int(st.st_mtime_ns))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    cache = getattr(spark, _CACHE_ATTR, None)
    if cache is None:
        cache = {}
        try:
            setattr(spark, _CACHE_ATTR, cache)
        except Exception:  # exotic session proxy: serve uncached
            cache = None
    key = _stat_key(path) if cache is not None else None
    if key is not None and key in cache:
        return cache[key]
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark rejects by
        # default (PARQUET_TYPE_ILLEGAL). Read nanos as long, then convert
        # to a micros timestamp (truncation matches DuckDB's ns→µs cast).
        # Deliberately SESSION-wide (no restore): the conf is consulted at
        # execution time, and leaving it on only changes how nanos columns
        # surface (long instead of error) — every such read here converts.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = spark.read.parquet(path)
    if key is not None:
        cache[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
