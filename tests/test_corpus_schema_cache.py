"""``sources.corpus.load_table`` infers each file's schema once.

A repeat load reads with the cached schema and starts no Spark job; the
cache follows the file (a rewrite is re-inferred), every load is still
a fresh relation, and the events nanos conf scope survives threads.
"""

from __future__ import annotations

import shutil
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.sources.corpus import (
    TABLES,
    load_table,
    normalize_events_ts,
)
from tests.conftest import SF_SMALL

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _conf(spark):
    try:
        return spark.conf.get(NANOS)
    except Exception:
        return None


def _inferred_schema(spark, name):
    """The schema a plain ``spark.read.parquet`` infers, normalized the
    way ``load_table`` documents for events."""
    path = f"{SF_SMALL}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path).schema
    prev = _conf(spark)
    spark.conf.set(NANOS, "true")
    try:
        return normalize_events_ts(spark.read.parquet(path)).schema
    finally:
        if prev is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, prev)


@pytest.mark.parametrize("name", TABLES)
def test_repeat_load_starts_no_job_and_keeps_schema(spark, name):
    load_table(spark, SF_SMALL, name)
    before = _jobs(spark)
    df = load_table(spark, SF_SMALL, name)
    cached = df.schema
    assert _jobs(spark) == before
    assert cached == _inferred_schema(spark, name)
    path = f"{SF_SMALL}/{name}.parquet"
    assert df.count() == spark.read.parquet(path).count()


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "documents").columns == ["doc_id"]
    assert load_table(spark, str(tmp_path), "documents").columns == ["doc_id"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([3], pa.int64()),
                "text": pa.array(["x"], pa.string()),
            }
        ),
        path,
    )
    df = load_table(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "text"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_two_loads_self_join(spark):
    a = load_table(spark, SF_SMALL, "customer")
    b = load_table(spark, SF_SMALL, "customer")
    got = a.join(b, a["c_custkey"] == b["c_nationkey"]).select(
        a["c_custkey"], b["c_custkey"]
    ).count()
    rows = a.select("c_custkey", "c_nationkey").collect()
    keys = {r.c_custkey for r in rows}
    assert got == sum(r.c_nationkey in keys for r in rows)


def test_events_load_restores_nanos_conf(spark):
    prev = _conf(spark)
    try:
        spark.conf.set(NANOS, "false")
        load_table(spark, SF_SMALL, "events")
        load_table(spark, SF_SMALL, "events")
        assert spark.conf.get(NANOS) == "false"
        spark.conf.unset(NANOS)
        load_table(spark, SF_SMALL, "events")
        assert _conf(spark) in (None, "false")  # unset: Spark's default
    finally:
        if prev is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, prev)


def test_events_conf_scope_is_thread_safe(spark, tmp_path):
    """Threads sharing the session each save/set/restore the conf; an
    unguarded scope lets one thread save another's ``true`` and restore
    it last, leaving the conf set.  Each thread reads its own copy of
    the file, so its first load infers the schema inside the scope."""
    prev = _conf(spark)
    interval = sys.getswitchinterval()
    errors: list[BaseException] = []
    dirs = []
    for i in range(8):
        d = tmp_path / str(i)
        d.mkdir()
        shutil.copy(f"{SF_SMALL}/events.parquet", d / "events.parquet")
        dirs.append(str(d))

    def work(sf_dir):
        try:
            for _ in range(4):
                load_table(spark, sf_dir, "events")
        except BaseException as ex:  # reported by the main thread
            errors.append(ex)

    spark.conf.set(NANOS, "false")
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(d,)) for d in dirs]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert spark.conf.get(NANOS) == "false"
    finally:
        sys.setswitchinterval(interval)
        if prev is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, prev)
    ts = load_table(spark, SF_SMALL, "events").select(F.col("ts"))
    assert ts.dtypes == [("ts", "timestamp")]
