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

from crypto_clickhouse_poc_spark import localframe
from crypto_clickhouse_poc_spark.localframe import in_keys, local_frame

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


_BIG = 1 << 53
_UTC = timezone.utc
_KEYED = "id int, n long, s string, ts timestamp, d date"
_KEYED_ROWS = [
    (0, _BIG, "a", datetime(2024, 1, 1, tzinfo=_UTC), date(2024, 1, 1)),
    (1, _BIG + 1, "a", datetime(2024, 1, 1, 0, 0, 0, 1, tzinfo=_UTC), date(2024, 1, 2)),
    (2, 7, "it's", datetime(2024, 1, 2, tzinfo=_UTC), date(2024, 1, 1)),
    (3, 7, "back\\slash", None, date(2024, 1, 3)),
    (4, None, "a", datetime(2024, 1, 2, tzinfo=_UTC), None),
    (5, 8, None, datetime(2024, 1, 3, tzinfo=_UTC), date(2024, 1, 3)),
]


def _key_table(cols, rows):
    import pyarrow as pa

    types = {
        "n": pa.int64(), "s": pa.string(),
        "ts": pa.timestamp("us", "UTC"), "d": pa.date32(),
    }
    return pa.table(
        {c: pa.array([r[i] for r in rows], types[c]) for i, c in enumerate(cols)}
    )


# (key columns, key rows): single, composite, temporal, null components
_KEY_SETS = [
    (("n",), [(_BIG,), (7,), (None,)]),
    (("s", "n"), [("a", _BIG + 1), ("it's", 7), ("back\\slash", 7), ("a", None)]),
    (("ts", "d"), [(datetime(2024, 1, 1, 0, 0, 0, 1, tzinfo=_UTC), date(2024, 1, 2)),
                   (datetime(2024, 1, 2, tzinfo=_UTC), None)]),
    (("s", "ts"), [(None, datetime(2024, 1, 3, tzinfo=_UTC)),
                   ("a", datetime(2024, 1, 2, tzinfo=_UTC))]),
    (("n",), []),
]


@pytest.mark.parametrize("anti", [False, True])
@pytest.mark.parametrize("cols,rows", _KEY_SETS)
def test_in_keys_reads_alike_on_both_plans(spark, monkeypatch, cols, rows, anti):
    """``in_keys`` reads the same rows through its literal ``IN`` filter
    and through its broadcast join (``LITERAL_MAX = 0``), and both equal
    SQL equality: a null on either side matches nothing. Longs above
    2^53, quoted and backslashed strings, timestamp and date keys."""
    df = local_frame(spark, _KEYED_ROWS, _KEYED)
    keys = _key_table(cols, rows)
    names = [f.split(" ")[0] for f in _KEYED.split(", ")]
    want = {tuple(r) for r in rows if None not in r}
    hit = {
        r[0] for r in _KEYED_ROWS
        if tuple(r[names.index(c)] for c in cols) in want
    }
    expect = sorted({r[0] for r in _KEYED_ROWS} - hit if anti else hit)

    def ids(frame):
        return sorted(r.id for r in frame.collect())

    def analyzed(frame) -> str:  # local inputs fold away when optimized
        return frame._jdf.queryExecution().analyzed().toString()

    literal = in_keys(spark, df, keys, anti=anti)
    assert "Join" not in analyzed(literal)
    monkeypatch.setattr(localframe, "LITERAL_MAX", 0)
    joined = in_keys(spark, df, keys, anti=anti)
    assert ("Join" in analyzed(joined)) == bool(rows)  # no keys: `false`
    assert ids(literal) == ids(joined) == expect


def test_in_sql_declines_past_the_bound_and_for_binary_keys(monkeypatch):
    import pyarrow as pa

    keys = pa.table({"n": pa.array(range(3), pa.int64())})
    assert localframe.in_sql(keys) == "`n` IN (0L,1L,2L)"
    monkeypatch.setattr(localframe, "LITERAL_MAX", 2)
    assert localframe.in_sql(keys) is None
    assert localframe.in_sql(pa.table({"b": pa.array([b"x"])})) is None


def test_key_set_rule_has_one_owner():
    """Only ``localframe`` chooses between a literal ``IN`` and a
    broadcast join for a driver-held key set: no ``plans/`` module
    builds an ``isin(*keys)`` over a runtime list, defines its own
    literal or local bound, or semi/anti-joins outside the listed
    functions — none of which filters by a driver-held key set."""
    import ast

    not_key_sets = {
        # position-delete vectors, read from their files
        ("snapshots.py", "_apply_dvs"),
        ("snapshots.py", "read_changes_cdc"),
        # the sequenced join: `added_v < _eq_v` rides the condition
        ("snapshots.py", "_join_eq_filter"),
        # a merge source's keys: a distributed frame
        ("snapshots.py", "merge_into"),
    }
    joins, bounds = set(), []
    for p in sorted((PKG / "plans").glob("*.py")):
        src = p.read_text()
        assert not re.search(r"\.isin\(\s*\*", src), p.name
        tree = ast.parse(src)
        for fn in tree.body:
            for n in ast.walk(fn):
                if isinstance(n, ast.Constant) and n.value in ("left_semi", "left_anti"):
                    joins.add((p.name, getattr(fn, "name", None)))
        bounds += [
            (p.name, n.lineno)
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant)
            and type(n.value) is int
            and n.value in (localframe.LITERAL_MAX, localframe.LOCAL_MAX)
        ]
    assert joins <= not_key_sets
    assert bounds == []
