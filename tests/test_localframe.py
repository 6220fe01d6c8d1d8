"""``localframe.local_frame``: driver-side rows as a JVM-only local
relation. The reference is ``spark.createDataFrame(rows, schema)`` — the
list path the helper replaces — which must see the same rows, types and
timestamp instants, while the helper's plan is a ``LocalTableScan``
(no pickled Python RDD, so no Python worker)."""

from __future__ import annotations

import contextlib
import os
import re
import time
from datetime import date, datetime, timedelta, timezone
from pathlib import Path

import pytest

from crypto_clickhouse_poc_spark.localframe import local_frame

PKG = Path(__file__).resolve().parent.parent / "crypto_clickhouse_poc_spark"

SCHEMA = (
    "ts timestamp, d date, n long, x double, v array<double>, s string, i int"
)


@contextlib.contextmanager
def os_tz(name: str):
    old = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows():
    big = (1 << 53) + 1
    return [
        # naive: an OS-local instant, as TimestampType.toInternal reads it
        (datetime(2024, 3, 10, 1, 30, 5, 123456), date(2024, 3, 10), big,
         1.5, [1.0, 2.5], "a", 1),
        # aware: its own instant, whatever the OS timezone
        (datetime(2024, 11, 3, 5, 59, tzinfo=timezone.utc), date(1999, 12, 31),
         -big, -0.0, [], "b", -2),
        (datetime(2024, 1, 1, 12, tzinfo=timezone(timedelta(hours=9))), None,
         None, None, None, None, None),
        (None, date(2024, 2, 29), (1 << 63) - 1, float("inf"), [None, 3.0],
         "", 2**31 - 1),
    ]


@pytest.mark.parametrize("tz", ["America/New_York", "UTC"])
def test_local_frame_matches_the_list_path(spark, tz):
    with os_tz(tz):
        ref = spark.createDataFrame(_rows(), SCHEMA)
        got = local_frame(spark, _rows(), SCHEMA)
        assert got.schema == ref.schema
        assert got.collect() == ref.collect()
        # the same instants, compared without any OS-timezone rendering
        assert got.selectExpr("unix_micros(ts)").collect() == ref.selectExpr(
            "unix_micros(ts)"
        ).collect()
    plan = _plan(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_local_frame_empty_input_and_struct_schema(spark):
    ref = spark.createDataFrame([], SCHEMA)
    got = local_frame(spark, [], ref.schema)
    assert got.schema == ref.schema and got.count() == 0
    assert "LocalTableScan" in _plan(got)


def test_local_frame_takes_a_collected_arrow_table_back(spark):
    src = spark.createDataFrame(_rows(), SCHEMA)
    back = local_frame(spark, src.toArrow())
    assert back.schema == src.schema and back.collect() == src.collect()
    assert "LocalTableScan" in _plan(back)


def test_no_create_dataframe_outside_the_helper():
    """Every driver-side frame goes through ``local_frame``: a list-built
    ``createDataFrame`` anywhere else in the package would bring back the
    pickled Python RDD and its worker fork."""
    call = re.compile(r"createDataFrame\(")
    offenders = [
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if p.name != "localframe.py" and call.search(p.read_text())
    ]
    assert offenders == []
