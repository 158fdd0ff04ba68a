"""``engine.session.local_frame``: driver-held rows as a JVM
LocalRelation.

Parity: for every column type the package builds from driver rows, with
NULLs and with zero rows, the frame has the schema and the collected
rows of ``spark.createDataFrame(rows, schema)`` — naive datetimes
included, under a non-UTC process time zone. Plan: a LocalRelation
even with Arrow off, where ``createDataFrame(list)`` is a Python RDD.
Guard: no ``createDataFrame`` call in the package outside the helper.
"""

from __future__ import annotations

import ast
import datetime
import os
import pathlib
import time

import pandas as pd
import pytest

from dbt_omnata_push_spark.engine.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "dbt_omnata_push_spark"

DDL = "s string, i int, l long, d double, b boolean, t timestamp"
ROWS = [
    ("a", 1, 2**40, 1.5, True, datetime.datetime(2024, 7, 1, 12, 30, 5, 123456)),
    (None, None, None, None, None, None),
    # 02:30 on 2024-03-10 does not exist in New York (DST gap)
    ("c", -3, -5, -0.25, False, datetime.datetime(2024, 3, 10, 2, 30)),
    ("d", 0, 0, 0.0, False, datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)),
]


@pytest.fixture()
def new_york_tz():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


@pytest.fixture()
def arrow_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_matches_create_dataframe(spark, new_york_tz, arrow_off, rows):
    got = local_frame(spark, rows, DDL)
    want = spark.createDataFrame(rows, DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_struct_schema_and_pandas_input(spark, arrow_off):
    schema = spark.createDataFrame([], "node long, component long").schema
    pdf = pd.DataFrame({"component": [1, 1, 3], "node": [1, 2, 3]})
    got = local_frame(spark, pdf, schema)
    assert got.schema == schema
    assert [tuple(r) for r in got.collect()] == [(1, 1), (2, 1), (3, 3)]
    assert _plan(got).startswith("LocalRelation")


def test_plan_is_local_relation_with_arrow_off(spark, arrow_off):
    assert _plan(local_frame(spark, ROWS, DDL)).startswith("LocalRelation")
    # the list path it replaces: Python rows behind a LogicalRDD
    assert "LogicalRDD" in _plan(spark.createDataFrame(ROWS, DDL))


def test_no_create_dataframe_outside_local_frame():
    """A new ``createDataFrame`` site would bring back frames whose
    every evaluation runs Python workers; route it through local_frame."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed.update(id(n) for n in ast.walk(node))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not offenders, offenders
