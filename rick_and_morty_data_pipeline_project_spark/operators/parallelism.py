"""Compute-layout helpers: fan-out for CPU-heavy map pipelines, and
driver-side rows as a local relation."""

from __future__ import annotations

from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy map stages downstream get at least
    ``defaultParallelism`` partitions.

    Locally the corpus tables are single small parquet files with one
    row group — an unsplittable 1-partition scan that serializes every
    narrow transform onto one core.  At cluster scale a 100 TB input
    already yields ≳10⁵ scan splits and this is a no-op; the guard only
    pays the (tiny) balancing shuffle when the scan under-partitions.

    Use ONLY in front of genuinely expensive per-row compute (md5 /
    shingle / vector arithmetic pipelines).  For plain relational work
    the vectorized parquet decode + JVM operators are fast enough
    single-core that the balancing shuffle is a measured net loss —
    see PERFORMANCE.md "negative result".

    The under-partitioned probe counts scan input files (pure driver
    metadata — no plan-to-RDD conversion, no job): a parquet split never
    crosses a file boundary, so ≥ target files ⇒ ≥ target scan tasks
    and the guard is a no-op.  Fewer files than cores (the local
    single-file corpus; at 100 TB effectively never) ⇒ pay one
    balancing shuffle before the heavy map stage.  Non-file plans
    (in-memory, post-shuffle) report no input files and skip the
    repartition — they already carry shuffle parallelism.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def local_relation(
    spark: SparkSession, rows: Iterable[tuple], ddl: str | StructType
) -> DataFrame:
    """``spark.createDataFrame(rows, ddl)`` for small driver-side data,
    planned as a ``LocalTableScan``.

    ``createDataFrame`` over Python rows plans a ``Scan ExistingRDD`` of
    pickled rows, so every execution starts Python-worker tasks to
    unpickle data the driver already holds.  An Arrow table built in
    the ``ddl`` schema is kept as a ``LocalRelation`` instead: no
    Python workers and no job until the plan itself runs.  Rows, nulls
    and schema come out as ``createDataFrame`` gives them; empty
    ``rows`` give an empty relation of the same schema.
    """
    schema = ddl if isinstance(ddl, StructType) else StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table)
