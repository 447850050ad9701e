"""Loaders for the driver's TPC-H-ish parquet corpus (TESTDATA.md).

The reference's sources are HTTP scrapes + a SQLite file (SURVEY.md §2.1
SRC-1..9); the engine's canonical source is columnar parquet read through
the DataFrame reader so Catalyst gets predicate pushdown, column pruning,
and partition pruning for free.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

# Dimensions small enough to broadcast at any scale factor.
BROADCAST_DIMS = {"region", "nation"}

# NOTE on single-row-group files: each corpus table is ONE parquet file
# with ONE row group, so every scan decodes on a single core (a parquet
# split cannot cross a row-group boundary).  A loader-level repartition
# was tried and measured a net LOSS for the relational queries at sf0.1
# (vectorized decode + JVM aggregation of 600k rows is fast single-core;
# the balancing shuffle only added cost: q3 0.58→1.31 s, q5 0.66→1.46 s
# warm).  Fan-out pays off only where per-row compute is heavy — the
# text-dedup pipelines do it themselves via operators/dedup.fan_out.


# NOTE on the schema cache: ``spark.read.parquet`` infers the schema
# from the file footers with one Spark job (~70 ms on a 4-core host)
# every time it is called, and a query rebuilds its corpus DataFrames
# on every call — 16 such jobs per olap_mix pass, for a schema that
# never changed.  Spark SQL resolves a data source's schema once, at
# analysis time; ``_read`` does the same across calls: the first read
# of a regular local file keeps the inferred schema, keyed by the
# session and the file's real path, and is dropped when the file's
# ``st_mtime_ns`` or ``st_size`` changes (a rewritten table is
# re-inferred).  Later reads pass it to ``spark.read.schema(...)`` and
# start no job.  Each call still builds a fresh relation with new
# attribute ids, so two loads of one table self-join as before.  Any
# other path (a directory, a remote URI) is read as before.

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

# session -> {real path: (st_mtime_ns, st_size, schema)}; a stopped
# and collected session takes its entries with it.
_schemas: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_schemas_lock = threading.Lock()
# Serializes the save/set/restore of the session-wide nanos conf, so
# two threads loading ``events`` cannot restore each other's value.
_nanos_lock = threading.Lock()


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a local file's schema
    once per file version (see the NOTE above)."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    real = os.path.realpath(path)
    version = (st.st_mtime_ns, st.st_size)
    with _schemas_lock:
        hit = _schemas.get(spark, {}).get(real)
    if hit is not None and hit[:2] == version:
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        _schemas.setdefault(spark, {})[real] = (*version, df.schema)
    return df


@contextmanager
def _nanos_as_long(spark: SparkSession) -> Iterator[None]:
    """Scoped save/set/restore of the legacy nanos-as-long parquet conf.

    events.ts arrives in whatever physical type the corpus generator
    used.  Spark's vectorized reader rejects TIMESTAMP(NANOS); under
    this conf it reads as bigint, which ``normalize_events_ts`` then
    truncates to micros.  The conf is captured into the plan at
    read/analysis time (the restored value does not affect the
    DataFrame's later execution), so a later parquet read of an
    unrelated nanos column in the same session is not silently decoded
    as bigint.  The module lock makes the scope safe for threads that
    share the session.
    """
    with _nanos_lock:
        try:
            prev = spark.conf.get(_NANOS_CONF)
        except Exception:
            prev = None
        spark.conf.set(_NANOS_CONF, "true")
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(_NANOS_CONF)
            else:
                spark.conf.set(_NANOS_CONF, prev)


def events_schema(spark: SparkSession, path: str) -> StructType:
    """The raw schema of an events parquet file as ``load_table`` reads
    it, before ``normalize_events_ts``; cached like any table's."""
    with _nanos_as_long(spark):
        return _read(spark, path).schema


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-local TIMESTAMP.

    TIMESTAMP(NANOS) read as bigint becomes micros (the value DuckDB
    produces for its micro-resolution type); naive TIMESTAMP(MICROS),
    which Spark infers as TIMESTAMP_NTZ, is cast.  The session timezone
    is pinned to UTC (session.py), so the NTZ→TZ cast is wall-clock
    preserving and epoch extraction matches DuckDB's epoch_us on the
    same naive values.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        with _nanos_as_long(spark):
            return normalize_events_ts(_read(spark, path))
    return _read(spark, path)


def register_views(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register each corpus table as a temp view; returns the DataFrames."""
    out: dict[str, DataFrame] = {}
    for t in tables or TABLES:
        df = load_table(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
        out[t] = df
    return out
