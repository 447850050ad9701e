"""``operators.parallelism.local_relation``: driver-side rows planned as
a ``LocalTableScan``, equal to ``createDataFrame(rows, ddl)``."""

from __future__ import annotations

import re

import pytest

from rick_and_morty_data_pipeline_project_spark.operators.matching import (
    greedy_match_without_replacement,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.sources.reference_fixtures import (
    episode_emotion,
    strain_review,
)

DDL = "id long, name string, n int, x double"
ROWS = [
    (1, "a", 7, 0.5),
    (None, None, None, None),
    (3, "c", None, -1.25),
]
# physical operators that run Python in PySpark workers
_PY_EVAL = re.compile(
    r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|InPandas|InArrow"
)


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df):
    plan = _executed_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert not _PY_EVAL.search(plan), plan


@pytest.mark.parametrize("rows", [ROWS, []], ids=["nulls", "empty"])
def test_local_relation_equals_create_dataframe(spark, rows):
    got = local_relation(spark, rows, DDL)
    want = spark.createDataFrame(rows, DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    _assert_local(got)


def test_local_relation_takes_a_generator(spark):
    got = local_relation(spark, (r for r in ROWS), DDL)
    assert got.collect() == spark.createDataFrame(ROWS, DDL).collect()


def test_local_relation_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        local_relation(spark, [(1, "a", 7, 0.5), (2, "b")], DDL)


def test_greedy_match_result_is_a_local_scan(spark):
    out = greedy_match_without_replacement(
        spark,
        episode_emotion(spark),
        strain_review(spark),
        left_id="episode_id",
        right_id="strain_id",
        k1=100,
    )
    _assert_local(out)
    assert out.count() == 41
