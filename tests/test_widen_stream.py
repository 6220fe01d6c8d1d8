"""Type-widening × streaming gates (r16 — VERDICT r15 what's-wrong #1 /
next #1).

The widen feature (``snapshots._widen_primitive``) was batch-only in
practice: the stream source emitted each file's columns in their FILE
Arrow type, so a table widened mid-history (logical ``bigint``,
pre-widen ``int32`` files) produced batches whose schema disagreed with
the stream's declared schema, and the eq-delete legs cast the KEY SET
down to the file type — an erasure key that only fits the widened type
raised ``ArrowInvalid`` mid-partition instead of matching nothing.
These gates pin the fixed contract:

- bootstrap of an already-widened table through ``readChangeFeed``
  emits every era in the DECLARED (wide) type and the signed fold
  equals the batch snapshot;
- an eq-delete whose key only fits the widened type flows through both
  the bootstrap anti-filter leg and the CDF delete leg against
  narrow-era files (file column cast UP, key set never truncated);
- mid-stream widen policy: allowed like ADD COLUMN — values that fit
  the start-time declared type keep flowing (exact), the first value
  that doesn't fails the batch loudly with restart instructions, and a
  restart adopts the widened schema.
"""

from __future__ import annotations

from collections import Counter
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from crypto_clickhouse_poc_spark.plans import snapshots as S
from crypto_clickhouse_poc_spark.sources.snapstream import SnapshotCommitsDataSource

SCHEMA_INT = "ts timestamp, symbol string, trade_id int, price float"
SCHEMA_LONG = "ts timestamp, symbol string, trade_id long, price double"


def _batch(spark, ddl, ids, price=1.5):
    rows = [(datetime(2024, 1, 1 + (i % 27)), "AB"[i % 2] * 3, i, float(price))
            for i in ids]
    return spark.createDataFrame(rows, ddl)


def _start(spark, path, ck, name, **opts):
    reader = (
        spark.readStream.format("snapshot_commits")
        .option("path", path)
        .option("readChangeFeed", "true")
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return (
        reader.load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )


def _signed_state(spark, name) -> Counter:
    rows = spark.sql(
        f"select symbol, trade_id, price, _change_type from {name}"
    ).collect()
    state: Counter = Counter()
    for r in rows:
        key = (r.symbol, r.trade_id, r.price)
        state[key] += 1 if r._change_type == "insert" else -1
    return +state


def _snapshot_multiset(spark, path) -> Counter:
    return Counter(
        (r.symbol, r.trade_id, r.price)
        for r in S.read_snapshot(spark, path)
        .select("symbol", "trade_id", "price")
        .collect()
    )


@pytest.fixture()
def widened(tmp_path, spark):
    """int32-era files (v0) + a widen-by-write long-era file (v1)."""
    path = str(tmp_path / "widen_stream")
    S.append(_batch(spark, SCHEMA_INT, range(4)), path)           # v0: narrow
    S.append(_batch(spark, SCHEMA_LONG, [2**40], price=2.5), path)  # v1: widens
    spark.dataSource.register(SnapshotCommitsDataSource)
    return path


def test_bootstrap_of_widened_table_emits_declared_types(spark, widened, tmp_path):
    """Gate (a): a fresh readChangeFeed stream over a mixed narrow/wide
    history declares the WIDE logged schema and upcasts narrow-era
    files at emit — the pre-fix behavior was Arrow batches whose schema
    disagreed with the declared schema on every pre-widen file."""
    q = _start(spark, widened, str(tmp_path / "ck"), "ws_boot")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("ws_boot")
    assert dict(got.dtypes)["trade_id"] == "bigint"
    assert dict(got.dtypes)["price"] == "double"
    assert _signed_state(spark, "ws_boot") == _snapshot_multiset(spark, widened)
    assert 2**40 in {r.trade_id for r in got.collect()}


def test_bootstrap_eq_delete_with_wide_key_vs_narrow_files(spark, widened, tmp_path):
    """Gate (b1): an erasure key above int32 range rides the BOOTSTRAP
    anti-filter into narrow-era partitions — it must match nothing
    there (file column cast up), not raise ArrowInvalid."""
    S.delete_by_keys(
        spark, widened,
        spark.createDataFrame([(2**40,), (1,)], "trade_id long"),
    )
    q = _start(spark, widened, str(tmp_path / "ck"), "ws_booteq")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = _signed_state(spark, "ws_booteq")
    assert state == _snapshot_multiset(spark, widened)
    ids = {k[1] for k in state}
    assert 2**40 not in ids and 1 not in ids and {0, 2, 3} <= ids


def test_cdf_delete_leg_with_wide_key_hits_narrow_era_files(spark, widened, tmp_path):
    """Gate (b2): mid-stream eq-delete whose key set spans both eras —
    the CDF delete leg probes the narrow-era file with a set containing
    2**40 (kept by the [min,max] prune because 1 is in range) and must
    emit the retraction for 1 without raising on the wide key."""
    q = _start(spark, widened, str(tmp_path / "ck"), "ws_cdfeq")
    try:
        q.processAllAvailable()  # bootstrap: 5 inserts
        S.delete_by_keys(
            spark, widened,
            spark.createDataFrame([(2**40,), (1,)], "trade_id long"),
        )
        q.processAllAvailable()
    finally:
        q.stop()
    dels = spark.sql(
        "select trade_id from ws_cdfeq where _change_type='delete'"
    ).collect()
    assert sorted(r.trade_id for r in dels) == [1, 2**40]
    assert _signed_state(spark, "ws_cdfeq") == _snapshot_multiset(spark, widened)


def test_midstream_widen_flows_while_values_fit(spark, tmp_path):
    """Gate (c1): a widen made AFTER stream start keeps flowing exactly
    while the new (wide-typed) files' values still fit the start-time
    declared type — the ADD COLUMN convention, applied to widening."""
    path = str(tmp_path / "mid_fit")
    S.append(_batch(spark, SCHEMA_INT, range(3)), path)
    spark.dataSource.register(SnapshotCommitsDataSource)
    q = _start(spark, path, str(tmp_path / "ck"), "ws_midfit")
    try:
        q.processAllAvailable()
        # widen-by-write with values that FIT int32/float: downcast exact
        S.append(_batch(spark, SCHEMA_LONG, [100], price=9.0), path)
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("ws_midfit")
    assert dict(got.dtypes)["trade_id"] == "int"  # start-time schema pinned
    assert _signed_state(spark, "ws_midfit") == _snapshot_multiset(spark, path)


def test_midstream_widen_overflow_fails_loudly_and_restart_adopts(spark, tmp_path):
    """Gate (c2): the first post-widen value that does NOT fit the
    start-time declared type fails the batch with restart instructions
    (never a silent wrap); a fresh stream then adopts the widened
    schema and serves the value."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    path = str(tmp_path / "mid_over")
    S.append(_batch(spark, SCHEMA_INT, range(3)), path)
    spark.dataSource.register(SnapshotCommitsDataSource)
    q = _start(spark, path, str(tmp_path / "ck"), "ws_midover")
    try:
        q.processAllAvailable()
        S.append(_batch(spark, SCHEMA_LONG, [2**40]), path)
        with pytest.raises(StreamingQueryException, match="widened after"):
            q.processAllAvailable()
    finally:
        q.stop()
    # restart (fresh checkpoint) reads the widened logged schema
    q2 = _start(spark, path, str(tmp_path / "ck2"), "ws_midover2")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = spark.table("ws_midover2")
    assert dict(got.dtypes)["trade_id"] == "bigint"
    assert 2**40 in {r.trade_id for r in got.collect()}
    assert _signed_state(spark, "ws_midover2") == _snapshot_multiset(spark, path)


def test_decimal_growth_streams_under_the_wide_declared_type(spark, tmp_path):
    """The third widening family through the stream: decimal growth —
    pre-growth decimal(10,2) files upcast to the logged decimal(20,4)
    at emit (parametric _arrow_type + lossless pyarrow cast)."""
    from datetime import datetime as _dtt
    from decimal import Decimal

    path = str(tmp_path / "dec_widen")
    S.append(
        spark.createDataFrame(
            [(_dtt(2024, 1, 1), "AAA", Decimal("12.34"))],
            "ts timestamp, symbol string, amount decimal(10,2)",
        ),
        path,
    )
    S.append(
        spark.createDataFrame(
            [(_dtt(2024, 1, 2), "BBB", Decimal("5.6789"))],
            "ts timestamp, symbol string, amount decimal(20,4)",
        ),
        path,
    )
    spark.dataSource.register(SnapshotCommitsDataSource)
    q = _start(spark, path, str(tmp_path / "ck"), "ws_dec")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("ws_dec")
    assert dict(got.dtypes)["amount"] == "decimal(20,4)"
    vals = {r.symbol: r.amount for r in got.collect()}
    assert vals == {"AAA": Decimal("12.3400"), "BBB": Decimal("5.6789")}
