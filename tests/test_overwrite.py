"""Atomic partition-level backfill (plans/snapshots.overwrite_months —
the Delta dynamic-partition-overwrite / replaceWhere pattern).

Gates: month-scoped manifest surgery (other months' files untouched by
identity), dynamic vs declared scope (incl. delete-a-month and the
stray-row refusal), exact CDC (old visible rows out as deletes, new rows
in as inserts; row-precise under precise_merge), MV refresh parity
through a backfill, scope-aware concurrency (in-scope interleave
conflicts, disjoint composes), stream-source refusal/ignoreChanges
consumption, idempotent watermark replay, and DV supersession.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from crypto_clickhouse_poc_spark.plans import snapshots as S

SCHEMA = "ts timestamp, symbol string, trade_id long, price double, qty double"


def _batch(spark, month: int, ids, price=None):
    return spark.createDataFrame(
        [
            (
                datetime(2024, month, 1 + (i % 27), 0, i % 60),
                "BTC" if i % 2 == 0 else "ETH",
                i,
                float(100 + i) if price is None else float(price),
                1.0,
            )
            for i in ids
        ],
        SCHEMA,
    )


@pytest.fixture()
def table(tmp_path, spark):
    path = str(tmp_path / "ow_table")
    S.append(_batch(spark, 1, range(6)), path)  # v0: January
    S.append(_batch(spark, 2, range(100, 104)), path)  # v1: February
    return path


def _ids(df):
    return sorted(r.trade_id for r in df.collect())


def test_dynamic_overwrite_replaces_frame_months_only(spark, table):
    feb_before = {
        f["path"] for f in S.manifest(table, 1)["files"] if f["p_month"] == "202402"
    }
    v = S.overwrite_months(_batch(spark, 1, range(50, 53)), table)
    m = S.manifest(table, v)
    assert m["op"] == "overwrite"
    # February's files are the SAME objects — untouched bytes
    feb_after = {f["path"] for f in m["files"] if f["p_month"] == "202402"}
    assert feb_after == feb_before
    assert _ids(S.read_snapshot(spark, table)) == [50, 51, 52, 100, 101, 102, 103]
    # time travel: the pre-backfill January still reads
    assert _ids(S.read_snapshot(spark, table, version=v - 1)) == (
        list(range(6)) + [100, 101, 102, 103]
    )


def test_declared_scope_deletes_uncovered_months_and_rejects_strays(spark, table):
    # scope covers Jan+Feb but the frame only carries January: February
    # is DELETED (replace-with-declared-truth semantics)
    v = S.overwrite_months(
        _batch(spark, 1, [7, 8]), table, months=("202401", "202402")
    )
    assert _ids(S.read_snapshot(spark, table)) == [7, 8]
    assert S.manifest(table, v)["files"] and all(
        f["p_month"] == "202401" for f in S.manifest(table, v)["files"]
    )
    # a frame straying outside the declared scope is refused
    with pytest.raises(ValueError, match="outside the declared scope"):
        S.overwrite_months(
            _batch(spark, 3, [9]), table, months=("202401", "202402")
        )


def test_cdc_emits_old_rows_as_deletes_and_new_as_inserts(spark, table):
    from pyspark.sql import functions as F

    v0 = S.latest_version(table)
    S.overwrite_months(_batch(spark, 1, range(50, 52)), table)
    cdc = S.read_changes_cdc(spark, table, v0)
    dels = sorted(
        r.trade_id for r in cdc.where(F.col(S.CDC_TYPE) == "delete").collect()
    )
    ins = sorted(
        r.trade_id for r in cdc.where(F.col(S.CDC_TYPE) == "insert").collect()
    )
    assert dels == list(range(6)) and ins == [50, 51]
    # row-precise: a backfill that rewrote the month with IDENTICAL rows
    # plus one change diffs to just the change
    v1 = S.latest_version(table)
    jan = S.read_snapshot(spark, table, months=("202401", "202401")).drop(
        S.PARTITION_COL
    )
    S.overwrite_months(
        jan.withColumn(
            "price",
            F.when(F.col("trade_id") == 50, 999.0).otherwise(F.col("price")),
        ),
        table,
    )
    net = S.read_changes_cdc(spark, table, v1, precise_merge=True)
    assert sorted(
        (r.trade_id, r[S.CDC_TYPE]) for r in net.collect()
    ) == [(50, "delete"), (50, "insert")]
    # and read_changes (append-only contract) refuses the range
    with pytest.raises(ValueError, match="non-append"):
        S.read_changes(spark, table, since_version=v0)


def test_mv_refresh_rides_a_backfill_exactly(spark, table, tmp_path):
    from crypto_clickhouse_poc_spark.plans import logmv as M
    from crypto_clickhouse_poc_spark.streaming.bars import bars_batch

    mv = str(tmp_path / "mv")
    M.refresh_rollup(spark, table, mv)
    S.overwrite_months(_batch(spark, 1, range(30, 40), price=7.0), table)
    M.refresh_rollup(spark, table, mv)  # non-invertible -> scoped/rebuild
    got = (
        M.read_rollup(spark, mv)
        .orderBy("minute", "symbol")
        .collect()
    )
    want = (
        bars_batch(S.read_snapshot(spark, table))
        .orderBy("minute", "symbol")
        .collect()
    )
    assert got == want


def test_concurrency_in_scope_conflicts_disjoint_composes(spark, table):
    jan = _batch(spark, 1, [60, 61])
    head = S.latest_version(table)
    new = S._write_txn(jan, table, "ts")

    # simulate an interleave: another writer appends into January AFTER
    # the overwrite captured its head
    S.append(_batch(spark, 1, [70]), table)
    in_scope = lambda m: m in {e["p_month"] for e in new}  # noqa: E731

    def files_fn(head_files):
        clash = [
            f["path"]
            for f in head_files
            if in_scope(f["p_month"]) and f.get("added_v", 0) > head
        ]
        if clash:
            raise S.CommitConflict("clash")
        return [f for f in head_files if not in_scope(f["p_month"])] + new

    with pytest.raises(S.CommitConflict):
        S._commit(table, files_fn, "overwrite")
    # a FEBRUARY interleave composes with a January overwrite
    head2 = S.latest_version(table)
    S.overwrite_months(_batch(spark, 1, [80]), table)
    got = _ids(S.read_snapshot(spark, table))
    assert got == [80, 100, 101, 102, 103]
    assert S.latest_version(table) == head2 + 1


def test_stream_refuses_by_default_and_consumes_under_ignore_changes(
    spark, table, tmp_path
):
    from crypto_clickhouse_poc_spark.sources.snapstream import (
        SnapshotCommitsDataSource,
    )

    spark.dataSource.register(SnapshotCommitsDataSource)
    start = S.latest_version(table)
    S.overwrite_months(_batch(spark, 1, [90, 91]), table)

    def run(name, **opts):
        reader = (
            spark.readStream.format("snapshot_commits")
            .option("path", table)
            .option("startingVersion", str(start))
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
            if q.exception() is not None:
                raise q.exception()
            return sorted(
                r.trade_id
                for r in spark.sql(f"select trade_id from {name}").collect()
            )
        finally:
            q.stop()

    with pytest.raises(Exception, match="non-append"):
        run("ow_refuse")
    # even ignoreDeletes is not enough — an overwrite ADDS rows
    with pytest.raises(Exception, match="non-append"):
        run("ow_deletes", ignoreDeletes="true")
    assert run("ow_changes", ignoreChanges="true") == [90, 91]


def test_idempotent_watermark_replay_is_a_noop(spark, table):
    v = S.overwrite_months(
        _batch(spark, 1, [55]), table, txn_app="backfill", txn_id=1
    )
    again = S.overwrite_months(
        _batch(spark, 1, [56]), table, txn_app="backfill", txn_id=1
    )
    assert again == v and S.latest_version(table) == v
    assert _ids(S.read_snapshot(spark, table)) == [55, 100, 101, 102, 103]


def test_overwrite_supersedes_interleaved_row_deletes(spark, table):
    S.delete_where(spark, table, "trade_id = 2")  # DV on old January
    S.overwrite_months(_batch(spark, 1, [2, 3], price=555.0), table)
    rows = {r.trade_id: r.price for r in S.read_snapshot(spark, table).collect()}
    # the overwrite IS January's new truth: the re-written key 2 lives
    assert rows[2] == 555.0 and rows[3] == 555.0
    assert sorted(rows) == [2, 3, 100, 101, 102, 103]


def test_backfill_takes_the_month_scoped_path_on_a_long_history(
    spark, tmp_path
):
    """A one-month backfill on a MULTI-month table must cost the MV a
    scoped swap (op 'upsert') bounded by the overwritten MONTH's groups
    — the r13 file-level scope rule (the row-precise diff is explicitly
    not used for overwrite ranges: it is a wide full-row shuffle over
    the whole rewritten month, probe-measured worse than rebuild). On a
    table where the backfilled month IS most of the data, the fraction
    dispatch correctly rebuilds instead — also gated here."""
    from pyspark.sql import functions as F

    from crypto_clickhouse_poc_spark.plans import logmv as M

    table, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    for month in (1, 2, 3):
        S.append(_batch(spark, month, range(month * 10, month * 10 + 6)), table)
    M.refresh_rollup(spark, table, mv)
    jan = S.read_snapshot(spark, table, months=("202401", "202401")).drop(
        S.PARTITION_COL
    )
    S.overwrite_months(
        jan.withColumn(
            "price",
            F.when(F.col("trade_id") == 11, 888.0).otherwise(F.col("price")),
        ),
        table,
    )
    M.refresh_rollup(spark, table, mv)
    head = S.latest_version(mv)
    assert S.manifest(mv, head)["op"] == "upsert"  # month-scoped swap
    got = {
        (r.minute, r.symbol): r.high for r in M.read_rollup(spark, mv).collect()
    }
    row = S.read_snapshot(spark, table).where("trade_id = 11").collect()[0]
    key = (row.ts.replace(second=0, microsecond=0), row.symbol)
    assert got[key] == 888.0
    # the degenerate end: a backfill of MOST of the table rebuilds
    whole = S.read_snapshot(spark, table).drop(S.PARTITION_COL)
    S.overwrite_months(
        whole.withColumn("price", F.col("price") + 1.0),
        table,
        months=("202401", "202403"),
    )
    M.refresh_rollup(spark, table, mv)
    assert S.manifest(mv, S.latest_version(mv))["op"] == "rebuild"


def test_backfill_cascades_scoped_through_mv_levels(spark, table, tmp_path):
    """Backfill -> 1m MV -> 1h cascade, every hop scoped: the overwrite
    reaches the 1m rollup as a row-precise scoped upsert, whose own log
    commit is CDC-covered, so the 1h cascade scopes to the affected HOUR
    groups — and the top of the pyramid still equals the batch
    recompute."""
    from pyspark.sql import functions as F

    from crypto_clickhouse_poc_spark.plans import logmv as M
    from crypto_clickhouse_poc_spark.streaming.bars import bars_batch

    table = str(tmp_path / "multi")  # 3 months so the backfill month is
    for month in (1, 2, 3):         # a minority and the swap stays scoped
        S.append(_batch(spark, month, range(month * 10, month * 10 + 6)), table)
    mv1m, mv1h = str(tmp_path / "mv1m"), str(tmp_path / "mv1h")
    M.refresh_rollup(spark, table, mv1m)
    M.refresh_cascade(spark, mv1m, mv1h)
    jan = S.read_snapshot(spark, table, months=("202401", "202401")).drop(
        S.PARTITION_COL
    )
    S.overwrite_months(
        jan.withColumn(
            "price",
            F.when(F.col("trade_id") == 13, 444.0).otherwise(F.col("price")),
        ),
        table,
    )
    M.refresh_rollup(spark, table, mv1m)
    M.refresh_cascade(spark, mv1m, mv1h)
    assert S.manifest(mv1m, S.latest_version(mv1m))["op"] == "upsert"
    assert S.manifest(mv1h, S.latest_version(mv1h))["op"] == "upsert"
    got = sorted(
        tuple(r)
        for r in M.read_rollup(spark, mv1h, rollup=M.HOURS)
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in bars_batch(S.read_snapshot(spark, table))
        .groupBy(F.date_trunc("hour", F.col("minute")).alias("hour"), "symbol")
        .agg(
            F.min_by("open", F.struct("minute")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.struct("minute")).alias("close"),
            F.sum("volume").alias("volume"),
            F.sum("trades").alias("trades"),
        )
        .collect()
    )
    assert got == want
