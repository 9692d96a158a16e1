"""Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md).

At 100 TB these would be partitioned/bucketed external tables; locally
they are single parquet files. ``load`` keeps the scan declarative so
Catalyst applies column pruning + predicate pushdown (verify with
``df.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os
import stat

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Schema-inference memo (r16 O8, guide §5 driver discipline): a bare
# spark.read.parquet(path) runs a one-task schema-inference job on
# EVERY call — ~100-150 ms of driver round trip per load at local
# scale, paid inside every query build. A production deployment reads
# these tables through a catalog whose schema is already known, paying
# zero per-query inference; memoizing the inferred StructType per path
# reproduces that contract in-process. This caches METADATA only —
# every query still computes its rows from the parquet scan. An entry
# is (file (mtime, size), schema): a regenerated file re-infers and
# replaces its entry. Only regular files are memoized: a directory's
# stat does not change when a part file inside it is rewritten.
_SCHEMA_CACHE: dict = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        # a directory, or a nonexistent path (the reader raises its
        # usual error)
        return spark.read.parquet(path)
    sig = (st.st_mtime_ns, st.st_size)
    cached = _SCHEMA_CACHE.get(path)
    if cached is None or cached[0] != sig:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = (sig, df.schema)
        return df
    return spark.read.schema(cached[1]).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) and
        # TIMESTAMP(MICROS) across testdata generations; normalize either
        # to the engine-wide microsecond TimestampType (UTC session) so
        # every downstream plan sees one dtype. nanosAsLong lets the
        # vectorized reader accept the NANOS layout (read as long, then
        # truncate — the same truncation DuckDB applies).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views for SQL-style access; mirrors the oracle's view set."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
