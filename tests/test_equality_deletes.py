"""Equality-delete gates (plans/snapshots.delete_by_keys — the Iceberg
equality-delete file, r9 ROADMAP 2b).

Position deletes (test_deletion_vectors.py) need the victims' (file,
row-index); equality deletes need only KEY VALUES, cost O(keys), no table
read. The gates pin: zero-rewrite economics, the sequence rule (the
delete applies only to files added before it — a re-inserted key is
visible), interaction with merge/SCD2-style updates, materialization by
compaction, rollback restore, vacuum's live-set accounting, the
maintenance-debt threshold, and the streaming-source bootstrap refusal.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import pytest

from crypto_clickhouse_poc_spark.plans import snapshots as S

SCHEMA = "ts timestamp, symbol string, trade_id long, price double, ingested_at long"


def _batch(spark, month: int, ids, version: int = 0, price=None):
    rows = [
        (
            datetime(2024, month, 1 + (i % 27)),
            "BTC",
            i,
            float(100 + i) if price is None else float(price),
            version,
        )
        for i in ids
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "trade_id long")


@pytest.fixture()
def table(tmp_path, spark):
    path = str(tmp_path / "eq_table")
    S.append(_batch(spark, 1, range(6)), path)  # v0
    S.append(_batch(spark, 2, range(6, 10)), path)  # v1
    return path


def _ids(df):
    return sorted(r.trade_id for r in df.collect())


def test_eq_delete_drops_matches_without_touching_data(spark, table):
    files_before = {f["path"] for f in S.manifest(table, 1)["files"]}
    v = S.delete_by_keys(spark, table, _keys(spark, [2, 7]))
    m = S.manifest(table, v)
    assert {f["path"] for f in m["files"]} == files_before  # zero rewrites
    assert m["op"] == "eq_delete" and len(m["eq_dvs"]) >= 1
    assert all(e["cols"] == ["trade_id"] and e["v"] == v for e in m["eq_dvs"])
    assert _ids(S.read_snapshot(spark, table)) == [0, 1, 3, 4, 5, 6, 8, 9]
    # time travel: the pre-delete version still reads everything
    assert _ids(S.read_snapshot(spark, table, version=v - 1)) == list(range(10))


def test_eq_delete_is_sequenced_reinsert_survives(spark, table):
    S.delete_by_keys(spark, table, _keys(spark, [3]))
    # the SAME key re-appended after the delete must be visible —
    # its file's added_v postdates the delete's commit version
    S.append(_batch(spark, 3, [3], version=9), table)
    head = S.read_snapshot(spark, table).collect()
    got = {r.trade_id: r.ingested_at for r in head}
    assert got[3] == 9 and len(head) == 10
    # and a SECOND delete of that key removes the re-insert too
    S.delete_by_keys(spark, table, _keys(spark, [3]))
    assert _ids(S.read_snapshot(spark, table)) == [0, 1, 2, 4, 5, 6, 7, 8, 9]


def test_eq_delete_composes_with_position_deletes(spark, table):
    S.delete_where(spark, table, "trade_id = 1")  # position DV
    S.delete_by_keys(spark, table, _keys(spark, [8]))  # equality
    assert _ids(S.read_snapshot(spark, table)) == [0, 2, 3, 4, 5, 6, 7, 9]


def test_eq_delete_multi_column_keys(spark, table):
    keys = spark.createDataFrame(
        [("BTC", 4), ("ETH", 5)], "symbol string, trade_id long"
    )
    S.delete_by_keys(spark, table, keys)
    # only the (BTC, 4) row matches — no ETH rows exist
    assert _ids(S.read_snapshot(spark, table)) == [0, 1, 2, 3, 5, 6, 7, 8, 9]


def test_merge_into_does_not_resurrect_eq_deleted_rows(spark, table):
    S.delete_by_keys(spark, table, _keys(spark, [5]))
    # merging an update for the deleted key: no live target row matches,
    # so it INSERTS a fresh (post-delete) row — visible thereafter
    src = _batch(spark, 1, [5], price=777.0)
    S.merge_into(spark, table, src, keys=["ts", "symbol", "trade_id"])
    head = {r.trade_id: r.price for r in S.read_snapshot(spark, table).collect()}
    assert head[5] == 777.0 and len(head) == 10


def test_compact_materializes_equality_deletes(spark, table):
    S.delete_by_keys(spark, table, _keys(spark, [0, 9]))
    want = _ids(S.read_snapshot(spark, table))
    v = S.compact_snapshot(spark, table, keys=("ts", "symbol", "trade_id"))
    m = S.manifest(table, v)
    assert m["eq_dvs"] == [] and m["dvs"] == []
    assert _ids(S.read_snapshot(spark, table)) == want == list(range(1, 9))


def test_rollback_restores_the_eq_delete_list(spark, table):
    v_del = S.delete_by_keys(spark, table, _keys(spark, [2]))
    S.compact_snapshot(spark, table, keys=("ts", "symbol", "trade_id"))
    S.rollback(table, v_del)
    head = S.latest_version(table)
    assert S.manifest(table, head)["eq_dvs"] == S.manifest(table, v_del)["eq_dvs"]
    assert _ids(S.read_snapshot(spark, table)) == [i for i in range(10) if i != 2]


def test_vacuum_keeps_live_eq_files_then_sweeps_after_compact(spark, table):
    S.delete_by_keys(spark, table, _keys(spark, [6]))
    eq_paths = [e["path"] for e in S.manifest(table, S.latest_version(table))["eq_dvs"]]
    assert eq_paths
    S.vacuum(table)  # head still carries the eq delete — files must live
    for p in eq_paths:
        assert (Path(table) / p).exists()
    assert _ids(S.read_snapshot(spark, table)) == [i for i in range(10) if i != 6]
    S.compact_snapshot(spark, table, keys=("ts", "symbol", "trade_id"))
    S.vacuum(table)  # materialized — the eq files are unreferenced now
    for p in eq_paths:
        assert not (Path(table) / p).exists()


def test_maybe_compact_counts_eq_rows_toward_dv_debt(spark, table):
    S.delete_by_keys(spark, table, _keys(spark, [1, 2, 3]))
    assert S.maybe_compact_snapshot(
        spark, table, max_live_files=64, keys=("ts", "symbol", "trade_id"),
        max_dv_rows=2,
    ) is not None
    assert S.manifest(table, S.latest_version(table))["eq_dvs"] == []


def test_empty_key_set_is_a_noop_commit_free(spark, table):
    head = S.latest_version(table)
    got = S.delete_by_keys(spark, table, _keys(spark, []))
    assert got == head and S.latest_version(table) == head


def test_read_changes_refuses_ranges_containing_eq_deletes(spark, table):
    S.delete_by_keys(spark, table, _keys(spark, [4]))
    with pytest.raises(ValueError, match="non-append"):
        S.read_changes(spark, table, since_version=0)


def test_stream_bootstrap_applies_eq_delete_head(spark, table, tmp_path):
    """r12 contract change (was: refusal): a single-column eq-delete
    head bootstraps with the delete APPLIED — the Arrow reader
    anti-filters the key column, matching read_snapshot's merge-on-read
    view. (Composite keys bootstrap too since r13 — test_snapstream.)"""
    from crypto_clickhouse_poc_spark.sources.snapstream import (
        SnapshotCommitsDataSource,
    )

    S.delete_by_keys(spark, table, _keys(spark, [4]))
    spark.dataSource.register(SnapshotCommitsDataSource)
    q = (
        spark.readStream.format("snapshot_commits")
        .option("path", table)
        .load()
        .writeStream.format("memory")
        .queryName("ss_eq")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            r.trade_id for r in spark.sql("select trade_id from ss_eq").collect()
        )
        assert got == [i for i in range(10) if i != 4]
    finally:
        q.stop()


def test_input_validation_and_single_entry_per_delete(spark, table, tmp_path):
    # cols outside the table schema are rejected BEFORE committing — a
    # bad entry would fail every later read including the repair path
    with pytest.raises(ValueError, match="not in table schema"):
        S.delete_by_keys(spark, table, _keys(spark, [1]), cols=["trade"])
    # a typo'd path raises instead of silently creating a bogus table
    with pytest.raises(FileNotFoundError):
        S.delete_by_keys(spark, str(tmp_path / "nope"), _keys(spark, [1]))
    # one delete = ONE eq_dvs entry (every entry costs every future read
    # its own anti-join), no matter the shuffle partitioning
    v = S.delete_by_keys(spark, table, _keys(spark, [2, 5, 7]))
    assert len(S.manifest(table, v)["eq_dvs"]) == 1


def test_timestamp_key_delete_rides_the_inline_filter(spark, table):
    """r13: temporal keys join the inline (zero-join) read plan as epoch
    integers — unix_micros(col) vs int64 literals, both sides
    timezone-free — and the result is exact even when the SESSION
    timezone shifts between the delete and the read (the r8 seam the
    old decline guarded against, now closed instead of avoided)."""
    keys = spark.createDataFrame(
        [(datetime(2024, 1, 3),)], "ts timestamp"
    )
    S.delete_by_keys(spark, table, keys, cols=["ts"])
    saved = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = S.read_snapshot(spark, table)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" not in plan and "unix_micros" in plan
        # 2024-01-03 is trade_id 2 in month 1 (1 + i%27)
        assert _ids(df) == [i for i in range(10) if i != 2]
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


def test_composite_entries_fold_into_one_local_anti_join(spark, table):
    """r13: composite-key entries no longer pay one parquet-scan +
    anti-join per entry plus a files-frame join — all same-cols entries
    are read driver-side and folded into ONE local broadcast frame
    (entry version riding as a column), so the read plan carries exactly
    one anti-join and scans no _dv files."""
    k1 = spark.createDataFrame([("BTC", 4)], "symbol string, trade_id long")
    k2 = spark.createDataFrame([("BTC", 7)], "symbol string, trade_id long")
    S.delete_by_keys(spark, table, k1)
    S.delete_by_keys(spark, table, k2)
    df = S.read_snapshot(spark, table)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftAnti") == 1
    assert "eqdv" not in plan and "_added_v" not in plan
    assert _ids(df) == [0, 1, 2, 3, 5, 6, 8, 9]


def test_composite_timestamp_keys_survive_session_tz_shift(spark, table):
    """The local-frame composite plan hands Spark tz-AWARE pandas values
    (arrow epoch reinterpretation), so a (ts, trade_id) delete written
    under one session timezone reads back exactly under another."""
    keys = spark.createDataFrame(
        [(datetime(2024, 1, 6), 5)], "ts timestamp, trade_id long"
    )
    S.delete_by_keys(spark, table, keys)
    saved = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        assert _ids(S.read_snapshot(spark, table)) == [
            i for i in range(10) if i != 5
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


def test_local_join_int64_keys_exact_above_2_53_even_with_nulls(spark, tmp_path):
    """The local broadcast key frame goes to Spark as the ARROW table
    (never through pandas): a pandas round trip upcasts an
    int64-with-null key column to float64, where 2^53 and 2^53+1
    collide — the delete would silently also drop the neighboring row.
    Composite cols force the local-join plan (inline handles only
    single-col entries)."""
    path = str(tmp_path / "bigkeys")
    big, nbr = (1 << 53), (1 << 53) + 1
    rows = [
        (datetime(2024, 1, 2), "BTC", big, 1.0, 0),
        (datetime(2024, 1, 2), "BTC", nbr, 2.0, 0),
        (datetime(2024, 1, 3), "ETH", 7, 3.0, 0),
    ]
    S.append(spark.createDataFrame(rows, SCHEMA), path)
    keys = spark.createDataFrame(
        [("BTC", big), ("LTC", None)], "symbol string, trade_id long"
    )
    S.delete_by_keys(spark, path, keys)
    # exact: 2^53+1 survives; the null key matches nothing
    assert _ids(S.read_snapshot(spark, path)) == [7, nbr]


def _ids_on_every_plan(spark, path, monkeypatch):
    """The live ids read through the inline filter, the anti-join over a
    local key frame and the anti-join over the scanned key files, each
    checked to have taken its plan."""
    def read():
        df = S.read_snapshot(spark, path)
        return _ids(df), df._jdf.queryExecution().optimizedPlan().toString()

    ids, plan = read()
    assert "Join" not in plan
    out = [ids]
    monkeypatch.setattr(S, "_EQ_INLINE_MAX_KEYS", 0)
    ids, plan = read()
    assert "LocalRelation" in plan
    out.append(ids)
    monkeypatch.setattr(S, "_EQ_LOCAL_MAX_KEYS", 0)
    ids, plan = read()
    assert "Join" in plan and "LocalRelation" not in plan
    out.append(ids)
    monkeypatch.undo()
    return out


def _int_table(spark, path, ids):
    from pyspark.sql import functions as F

    S.append(
        _batch(spark, 1, ids).withColumn("trade_id", F.col("trade_id").cast("int")),
        path,
    )


def test_key_files_of_two_widths_read_alike_on_every_plan(
    spark, tmp_path, monkeypatch
):
    """An equality delete before and after widening ``trade_id`` int→long
    leaves an int32 and an int64 key file under one col-set. Keys are read
    typed by the frame they filter, so the inline filter, the local join
    and the scanned join read the same rows."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "widths")
    _int_table(spark, path, range(6))
    S.delete_by_keys(spark, path, spark.createDataFrame([(1,)], "trade_id int"))
    S.widen_column_type(path, "trade_id", "long")
    S.append(_batch(spark, 2, range(6, 10)), path)
    S.delete_by_keys(spark, path, _keys(spark, [4, 7]))
    entries = S.manifest(path, S.latest_version(path))["eq_dvs"]
    assert [
        str(pq.read_schema(str(Path(path) / e["path"])).field("trade_id").type)
        for e in sorted(entries, key=lambda e: e["v"])
    ] == ["int32", "int64"]
    assert _ids_on_every_plan(spark, path, monkeypatch) == [[0, 2, 3, 5, 6, 8, 9]] * 3


def test_keys_wider_than_the_column_read_on_every_plan(spark, tmp_path, monkeypatch):
    """Long keys on an int column: a key the column's type cannot hold
    matches nothing, and every plan still reads the table."""
    path = str(tmp_path / "narrow")
    _int_table(spark, path, range(6))
    S.delete_by_keys(spark, path, _keys(spark, [2, 2**40]))
    assert _ids_on_every_plan(spark, path, monkeypatch) == [[0, 1, 3, 4, 5]] * 3


def _probe_plans(spark, monkeypatch):
    """Record the executed plan of every collect() — the key probe is the
    only collect delete_by_keys/upsert_by_keys run."""
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    plans, real = [], frame.collect

    def spy(self):
        out = real(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(frame, "collect", spy)
    return plans


@pytest.mark.parametrize("bound", [3, 4, 16])
def test_duplicate_heavy_keys_read_the_same_on_both_sides_of_the_bound(
    spark, tmp_path, monkeypatch, bound
):
    """The key probe reads the RAW keys (no distinct shuffle) and the one
    distinct runs only on the over-bound write. 4 distinct keys in 10 raw
    rows: bound 3 is over on both counts, 4 is within the distinct count
    but over the raw one, 16 is within both — every side must erase the
    same rows, through delete_by_keys and upsert_by_keys alike."""
    monkeypatch.setattr(S, "_EQ_LOCAL_MAX_KEYS", bound)
    ids = [1, 1, 1, 4, 4, 7, 7, 7, 8, 8]
    path, up = str(tmp_path / "d"), str(tmp_path / "u")
    for p in (path, up):
        S.append(_batch(spark, 1, range(10)), p)
    plans = _probe_plans(spark, monkeypatch)
    S.delete_by_keys(spark, path, _keys(spark, ids))
    S.upsert_by_keys(
        _batch(spark, 1, [100]), up, cols=["trade_id"], keys=_keys(spark, ids)
    )
    monkeypatch.undo()
    assert _ids(S.read_snapshot(spark, path)) == [0, 2, 3, 5, 6, 9]
    assert _ids(S.read_snapshot(spark, up)) == [0, 2, 3, 5, 6, 9, 100]
    for p in (path, up):
        assert S.manifest(p, S.latest_version(p))["eq_dvs"][0]["rows"] == 4
    if bound >= len(ids):  # the local path: the probe never shuffles
        assert len(plans) == 2
        assert not [p for p in plans if "Exchange" in p]
