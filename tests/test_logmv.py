"""Log-driven incremental MV gates (plans/logmv): the rollup equals a
full batch recompute after ANY interleaving of base appends and
refreshes; the watermark makes replayed refreshes no-ops (exactly-once
without sidecar checkpoints); a non-append base op degrades to one
atomic rebuild; partial-merge compaction is read-invisible."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest

from crypto_clickhouse_poc_spark import localframe
from crypto_clickhouse_poc_spark.plans import logmv as M
from crypto_clickhouse_poc_spark.plans import snapshots as S
from crypto_clickhouse_poc_spark.streaming.bars import bars_batch

SCHEMA = "ts timestamp, symbol string, trade_id long, price double, qty double, ingested_at long"
T0 = datetime(2024, 3, 1, 9, 0, 0)


def _batch(spark, ids, minute_of=lambda i: i % 3):
    rows = [
        (
            T0 + timedelta(minutes=minute_of(i), seconds=i % 60),
            "BTC" if i % 2 else "ETH",
            i,
            float(100 + (i * 7) % 31),
            1.0 + (i % 5),
            0,
        )
        for i in ids
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted(
        tuple(r) for r in df.select(
            "minute", "symbol", "open", "high", "low", "close", "volume", "trades"
        ).collect()
    )


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / "base"), str(tmp_path / "mv")


def test_incremental_equals_recompute_at_every_step(spark, paths):
    base, mv = paths
    for k in range(4):
        S.append(_batch(spark, range(k * 40, (k + 1) * 40)), base)
        v = M.refresh_rollup(spark, base, mv)
        assert v is not None
        expect = _rows(bars_batch(S.read_snapshot(spark, base)))
        assert _rows(M.read_rollup(spark, mv)) == expect
    # steady state: nothing new -> None, MV unchanged
    assert M.refresh_rollup(spark, base, mv) is None


def test_refresh_is_exactly_once_under_replay(spark, paths):
    base, mv = paths
    S.append(_batch(spark, range(50)), base)
    M.refresh_rollup(spark, base, mv)
    head_mv = S.latest_version(mv)
    # a crashed scheduler re-running the SAME refresh: the watermark in the
    # MV's own manifest detects the replay inside append -> no new version
    from crypto_clickhouse_poc_spark.streaming.bars import partial_bars

    delta = S.read_changes(spark, base, -1, S.latest_version(base))
    assert (
        S.append(partial_bars(delta), mv, ts_col="minute",
                 txn_app="logmv", txn_id=S.latest_version(base))
        == head_mv
    )
    assert S.latest_version(mv) == head_mv
    assert M.refresh_rollup(spark, base, mv) is None


def test_delete_on_bars_mv_takes_group_scoped_swap_not_rebuild(spark, paths):
    """r12: a delete on a NON-invertible (bars) MV's base no longer costs
    an O(base) rebuild — the refresh recomputes ONLY the groups the CDC
    delete rows name and swaps their partials in one atomic upsert
    commit, and the MV equals the batch recompute."""
    base, mv = paths
    S.append(_batch(spark, range(60)), base)
    M.refresh_rollup(spark, base, mv)
    S.delete_where(spark, base, "trade_id = 7")
    S.append(_batch(spark, range(60, 90)), base)
    v = M.refresh_rollup(spark, base, mv)  # delete in range -> scoped swap
    m = S.manifest(mv, v)
    assert m["op"] == "upsert"
    assert m["txns"]["logmv"] == S.latest_version(base)
    expect = _rows(bars_batch(S.read_snapshot(spark, base)))
    assert _rows(M.read_rollup(spark, mv)) == expect
    # and the NEXT refresh is incremental again
    S.append(_batch(spark, range(90, 110)), base)
    v2 = M.refresh_rollup(spark, base, mv)
    assert S.manifest(mv, v2)["op"] == "append"
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, base))
    )


def test_scoped_refresh_over_group_cap_falls_back_to_rebuild(
    spark, paths, monkeypatch
):
    """Past ``localframe.LOCAL_MAX`` groups the affected-key set stops
    being cheap to collect/broadcast and a pruned re-aggregation stops
    beating one recompute — the dispatch falls back to the atomic
    rebuild."""
    base, mv = paths
    S.append(_batch(spark, range(60)), base)
    M.refresh_rollup(spark, base, mv)
    S.delete_where(spark, base, "trade_id in (1, 2, 3, 4)")
    monkeypatch.setattr(localframe, "LOCAL_MAX", 1)
    v = M.refresh_rollup(spark, base, mv)
    monkeypatch.undo()
    m = S.manifest(mv, v)
    assert m["op"] == "rebuild"
    assert m["txns"]["logmv"] == S.latest_version(base)
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, base))
    )


def test_full_group_erasure_leaves_no_ghost_bar(spark, paths):
    """Erasing EVERY row of a (minute, symbol) group: the scoped swap has
    no replacement partials for it, so the group key rides only the
    eq-delete side — the bar must vanish from reads, exactly like the
    batch recompute (the absent-group ≡ no-rows contract)."""
    base, mv = paths
    S.append(_batch(spark, range(40)), base)
    M.refresh_rollup(spark, base, mv)
    groups_before = {(r[0], r[1]) for r in _rows(M.read_rollup(spark, mv))}
    # every ETH row shares symbol "ETH" (even ids) — erase them all
    S.delete_by_keys(
        spark,
        base,
        spark.createDataFrame([(i,) for i in range(0, 40, 2)], "trade_id long"),
    )
    v = M.refresh_rollup(spark, base, mv)
    assert S.manifest(mv, v)["op"] == "upsert"
    got = _rows(M.read_rollup(spark, mv))
    assert got == _rows(bars_batch(S.read_snapshot(spark, base)))
    assert all(sym != "ETH" for _, sym, *_ in got)
    assert {(r[0], r[1]) for r in got} < groups_before


def test_bars_mv_survives_merge_into_without_rebuild(spark, paths):
    """r11 carried item: a ``merge_into`` on the base rides the
    row-precise CDC diff — the bars MV swaps only the groups whose rows
    the merge logically changed (op upsert), never rebuilds, and equals
    the batch recompute."""
    from pyspark.sql import functions as F

    base, mv = paths
    S.append(_batch(spark, range(50)), base)
    M.refresh_rollup(spark, base, mv)
    src = _batch(spark, [3, 9, 200]).withColumn("price", F.lit(999.0))
    S.merge_into(spark, base, src, keys=["trade_id"])  # update 3,9; insert 200
    v = M.refresh_rollup(spark, base, mv)
    assert S.manifest(mv, v)["op"] == "upsert"
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, base))
    )


def test_compact_rollup_is_read_invisible_and_bounds_partials(spark, paths):
    base, mv = paths
    for k in range(3):
        S.append(_batch(spark, range(k * 30, (k + 1) * 30)), base)
        M.refresh_rollup(spark, base, mv)
    before = _rows(M.read_rollup(spark, mv))
    n_partials_before = S.read_snapshot(spark, mv).count()
    v = M.compact_rollup(spark, mv)
    assert S.manifest(mv, v)["op"] == "compact"
    assert _rows(M.read_rollup(spark, mv)) == before
    groups = len({(r[0], r[1]) for r in before})
    assert S.read_snapshot(spark, mv).count() == groups < n_partials_before
    # watermark survives compaction -> refreshes stay incremental
    S.append(_batch(spark, range(90, 120)), base)
    v2 = M.refresh_rollup(spark, base, mv)
    assert S.manifest(mv, v2)["op"] == "append"
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, base))
    )


def test_concurrent_refreshers_cannot_double_count(spark, paths, monkeypatch):
    """Two refreshers of the same app racing on one delta: append's
    pre-check reads the head before either commits, so BOTH pass it —
    the loser must die at the commit's watermark re-validation, not land
    a second copy of the partials (which would double every volume)."""
    base, mv = paths
    S.append(_batch(spark, range(20)), base)
    M.refresh_rollup(spark, base, mv)  # initialized: the race is on a DELTA
    S.append(_batch(spark, range(20, 40)), base)
    orig = S._write_txn

    def interleave(df, path, ts_col, **kw):
        out = orig(df, path, ts_col, **kw)
        if not getattr(interleave, "fired", False) and path == mv:
            interleave.fired = True
            M.refresh_rollup(df.sparkSession, base, mv)  # B wins the race
        return out

    monkeypatch.setattr(S, "_write_txn", interleave)
    with pytest.raises(S.CommitConflict):
        M.refresh_rollup(spark, base, mv)  # A loses — must NOT double-count
    monkeypatch.setattr(S, "_write_txn", orig)
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, base))
    )


def test_different_head_refreshers_cannot_double_count(spark, paths, monkeypatch):
    """The subtler race the exact compare-and-set exists for: refresher B
    consumed (0,1] and landed watermark 1; refresher A consumed (0,2]
    from a later head, so its id 2 clears a monotone check — but its
    delta overlaps B's. A must die at the CAS (expected watermark 0,
    found 1), and a plain re-refresh then converges."""
    base, mv = paths
    S.append(_batch(spark, range(30)), base)
    M.refresh_rollup(spark, base, mv)  # watermark 0
    S.append(_batch(spark, range(30, 60)), base)  # v1
    S.append(_batch(spark, range(60, 90)), base)  # v2
    from crypto_clickhouse_poc_spark.streaming.bars import partial_bars

    orig = S._write_txn

    def interleave(df, path, ts_col, **kw):
        out = orig(df, path, ts_col, **kw)
        if not getattr(interleave, "fired", False) and path == mv:
            interleave.fired = True  # B: consumed (0,1] from the OLDER head
            monkeypatch.setattr(S, "_write_txn", orig)
            S.append(
                partial_bars(S.read_changes(df.sparkSession, base, 0, 1)),
                mv, ts_col="minute", txn_app="logmv", txn_id=1, txn_expect=0,
            )
            monkeypatch.setattr(S, "_write_txn", interleave)
        return out

    monkeypatch.setattr(S, "_write_txn", interleave)
    with pytest.raises(S.CommitConflict):
        M.refresh_rollup(spark, base, mv)  # A: delta (0,2], id 2 > watermark 1
    monkeypatch.setattr(S, "_write_txn", orig)
    assert M.refresh_rollup(spark, base, mv) is not None  # folds (1,2]
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, base))
    )


def test_forced_rebuild_of_current_mv_is_allowed(spark, paths):
    """rebuild is the repair/force-recompute API: re-stamping a watermark
    EQUAL to the current one must not conflict (a total-replacement
    commit cannot double-count)."""
    base, mv = paths
    S.append(_batch(spark, range(40)), base)
    M.refresh_rollup(spark, base, mv)
    v = M.rebuild_rollup(spark, base, mv)
    m = S.manifest(mv, v)
    assert m["op"] == "rebuild"
    assert m["txns"]["logmv"] == S.latest_version(base)
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, base))
    )


def test_compact_rollup_materializes_and_clears_mv_deletes(spark, paths):
    base, mv = paths
    S.append(_batch(spark, range(40)), base)
    M.refresh_rollup(spark, base, mv)
    S.delete_where(spark, mv, "symbol = 'ETH'")
    before = _rows(M.read_rollup(spark, mv))
    assert all(r[1] != "ETH" for r in before) and before
    v = M.compact_rollup(spark, mv)
    m = S.manifest(mv, v)
    assert m["dvs"] == [] and m["eq_dvs"] == []  # materialized, not carried
    assert _rows(M.read_rollup(spark, mv)) == before


def test_thread_stress_concurrent_refreshers_converge(spark, paths):
    """Real threads, no monkeypatch: 4 refreshers race on every delta.
    Whatever subset wins, losers must only ever see CommitConflict (or
    the steady-state None), and the rollup must equal the batch
    recompute — never a double-fold."""
    from concurrent.futures import ThreadPoolExecutor

    base, mv = paths
    S.append(_batch(spark, range(30)), base)
    M.refresh_rollup(spark, base, mv)  # MV exists before the race
    outcomes = []

    def racer(_):
        try:
            return ("ok", M.refresh_rollup(spark, base, mv))
        except S.CommitConflict:
            return ("conflict", None)

    with ThreadPoolExecutor(max_workers=4) as ex:
        for step in range(3):
            S.append(_batch(spark, range(30 * (step + 1), 30 * (step + 2))), base)
            outcomes += list(ex.map(racer, range(4)))
            assert _rows(M.read_rollup(spark, mv)) == _rows(
                bars_batch(S.read_snapshot(spark, base))
            ), f"diverged at step {step}: {outcomes}"
    # exactly one COMMIT lands per step — but append's replay pre-check
    # can hand a second racer the winner's version as a silent no-op
    # (non-None!), so count distinct committed versions, not non-None
    # returns
    wins = {v for ok, v in outcomes if ok == "ok" and v is not None}
    assert len(wins) == 3, outcomes


def test_lakehouse_loop_stream_to_log_to_incremental_mv(spark, tmp_path):
    """The full loop the round's pieces compose into: WS-replay stream →
    exactly-once snapshot-log ingest (bronze) → log-driven incremental MV
    refresh (silver bars) → OPTIMIZE on bronze (a non-append op) → the
    next refresh degrades to an atomic rebuild — and the MV equals the
    batch recompute at every step."""
    from crypto_clickhouse_poc_spark.sources.replay import (
        read_replay_stream,
        trades_to_event_lines,
        write_replay_chunks,
    )
    from crypto_clickhouse_poc_spark.streaming.snapsink import start_ingest_snapshot
    from tests.test_streaming import _fixture_rows

    rows = _fixture_rows()
    replay, bronze, mv, ck = (
        str(tmp_path / d) for d in ("replay", "bronze", "mv", "ck")
    )
    write_replay_chunks(trades_to_event_lines(rows), replay, num_chunks=4)
    q = start_ingest_snapshot(read_replay_stream(spark, replay), bronze, ck, trigger_sec=0)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from pyspark.sql import functions as F

    assert M.refresh_rollup(spark, bronze, mv) is not None
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, bronze))
    )

    def _more(shift):  # new trades in bronze's exact schema
        return S.read_snapshot(spark, bronze).limit(20).withColumn(
            "trade_id", F.col("trade_id") + shift
        )

    S.append(_more(1_000_000), bronze)
    v = M.refresh_rollup(spark, bronze, mv)
    assert S.manifest(mv, v)["op"] == "append"  # steady state: incremental

    # bin-pack bronze's micro-batch debt (>=2 files now): a LAYOUT-only
    # rewrite — r10's op-aware dispatch knows it changes no logical rows,
    # so the refresh consumes just the post-optimize appends through the
    # CDC feed and APPENDS (pre-r10 this forced an O(base) rebuild)
    assert S.manifest(bronze, S.latest_version(bronze))["op"] != "optimize"
    opt_v = S.optimize_small_files(spark, bronze, min_rows=10_000_000)
    assert S.manifest(bronze, opt_v)["op"] == "optimize"
    S.append(_more(2_000_000), bronze)  # and new data after it
    v = M.refresh_rollup(spark, bronze, mv)
    assert S.manifest(mv, v)["op"] == "append"
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, bronze))
    )
    # steady state returns to incremental appends
    S.append(_more(3_000_000), bronze)
    v2 = M.refresh_rollup(spark, bronze, mv)
    assert S.manifest(mv, v2)["op"] == "append"
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, bronze))
    )


def test_compact_rollup_rebases_over_interleaved_refresh(
    spark, paths, monkeypatch
):
    """r10 contract change (was: CommitConflict): an interleaved refresh
    is a pure APPEND of partials, logically disjoint from the compact's
    rewrite — the compact rebases onto it, carrying the new partials and
    the moved watermark forward, so frequent refreshers can never starve
    compaction. Reads stay exact; a non-append interleave (another
    compact) still conflicts — covered in test_commit_rebase."""
    base, mv = paths
    S.append(_batch(spark, range(40)), base)
    M.refresh_rollup(spark, base, mv)
    orig = S._write_txn

    def interleave(df, path, ts_col, **kw):
        out = orig(df, path, ts_col, **kw)
        if not getattr(interleave, "fired", False):
            interleave.fired = True
            S.append(_batch(df.sparkSession, range(40, 50)), base)
            M.refresh_rollup(df.sparkSession, base, mv)
        return out

    monkeypatch.setattr(S, "_write_txn", interleave)
    v = M.compact_rollup(spark, mv)
    monkeypatch.setattr(S, "_write_txn", orig)
    assert v == S.latest_version(mv)
    assert S._version_body(mv, v)["op"] == "compact"
    assert S.last_txn(mv, "logmv") == S.latest_version(base)
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, base))
    )
    assert M.refresh_rollup(spark, base, mv) is None  # watermark intact


def _hour_rows(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "hour", "symbol", "open", "high", "low", "close", "volume", "trades"
        ).collect()
    )


def _hour_batch_expect(spark, base):
    from pyspark.sql import functions as F

    return _hour_rows(
        S.read_snapshot(spark, base)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "symbol")
        .agg(
            F.min_by("price", F.struct("ts", "trade_id")).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", F.struct("ts", "trade_id")).alias("close"),
            F.sum("qty").alias("volume"),
            F.count("*").alias("trades"),
        )
    )


def test_cascade_1m_to_1h_is_incremental_end_to_end(spark, tmp_path):
    """The multires rollup maintained from the 1m MV's OWN log: after any
    interleaving of base appends, 1m refreshes and cascade ticks, the 1h
    read equals the batch hour-OHLCV over the raw trades; every cascade
    commit is an APPEND of O(new 1m partials)."""
    base = str(tmp_path / "base")
    mv1m = str(tmp_path / "mv1m")
    mv1h = str(tmp_path / "mv1h")
    # spread trades over 3 hours so the hour grouping is non-trivial
    for k in range(3):
        S.append(
            _batch(spark, range(k * 40, (k + 1) * 40), minute_of=lambda i: (i % 7) * 25),
            base,
        )
        M.refresh_rollup(spark, base, mv1m)
        v = M.refresh_cascade(spark, mv1m, mv1h)
        assert v is not None
        # first materialization is the one-snapshot-read rebuild (r12:
        # hoisted above the meta scan); every later tick appends O(delta)
        want_op = "rebuild" if k == 0 else "append"
        assert S._version_body(mv1h, S.latest_version(mv1h))["op"] == want_op
        got = _hour_rows(M.read_rollup(spark, mv1h, rollup=M.HOURS))
        assert got == _hour_batch_expect(spark, base)
    # steady state at BOTH levels
    assert M.refresh_rollup(spark, base, mv1m) is None
    assert M.refresh_cascade(spark, mv1m, mv1h) is None


def test_cascade_rides_through_1m_compaction_without_rebuild(spark, tmp_path):
    base = str(tmp_path / "base")
    mv1m = str(tmp_path / "mv1m")
    mv1h = str(tmp_path / "mv1h")
    S.append(_batch(spark, range(50), minute_of=lambda i: (i % 5) * 30), base)
    M.refresh_rollup(spark, base, mv1m)
    M.refresh_cascade(spark, mv1m, mv1h)
    S.append(_batch(spark, range(50, 80), minute_of=lambda i: (i % 5) * 30), base)
    M.refresh_rollup(spark, base, mv1m)
    M.compact_rollup(spark, mv1m)  # layout op on the CASCADE's base
    v = M.refresh_cascade(spark, mv1m, mv1h)
    assert v is not None
    # compact is a CDC no-change: the cascade appended, no rebuild
    assert S._version_body(mv1h, S.latest_version(mv1h))["op"] == "append"
    assert _hour_rows(
        M.read_rollup(spark, mv1h, rollup=M.HOURS)
    ) == _hour_batch_expect(spark, base)
    # compaction of the upper level via the parameterized merge
    before = _hour_rows(M.read_rollup(spark, mv1h, rollup=M.HOURS))
    M.compact_rollup(spark, mv1h, merge_fn=M.HOURS.merge, ts_col=M.HOURS.ts_col)
    assert (
        _hour_rows(M.read_rollup(spark, mv1h, rollup=M.HOURS))
        == before
    )


def test_erasure_cascades_scoped_end_to_end(spark, tmp_path):
    """r12: a delete on the TRADES base scopes the 1m refresh to the
    affected minute groups (op upsert); the cascade sees that upsert as a
    CDC-covered deleting op on ITS base and scopes to the affected HOUR
    groups — erasure propagates through both levels without either
    paying an O(base) rebuild, and the 1h read equals the batch
    hour-OHLCV over the raw trades."""
    base = str(tmp_path / "base")
    mv1m = str(tmp_path / "mv1m")
    mv1h = str(tmp_path / "mv1h")
    S.append(_batch(spark, range(40), minute_of=lambda i: (i % 4) * 20), base)
    M.refresh_rollup(spark, base, mv1m)
    M.refresh_cascade(spark, mv1m, mv1h)
    S.delete_where(spark, base, "trade_id = 3")
    M.refresh_rollup(spark, base, mv1m)
    assert S._version_body(mv1m, S.latest_version(mv1m))["op"] == "upsert"
    M.refresh_cascade(spark, mv1m, mv1h)
    assert S._version_body(mv1h, S.latest_version(mv1h))["op"] == "upsert"
    assert _hour_rows(
        M.read_rollup(spark, mv1h, rollup=M.HOURS)
    ) == _hour_batch_expect(spark, base)
    # and the NEXT tick is a plain incremental append at both levels
    S.append(_batch(spark, range(100, 120), minute_of=lambda i: (i % 4) * 20), base)
    M.refresh_rollup(spark, base, mv1m)
    M.refresh_cascade(spark, mv1m, mv1h)
    assert S._version_body(mv1h, S.latest_version(mv1h))["op"] == "append"
    assert _hour_rows(
        M.read_rollup(spark, mv1h, rollup=M.HOURS)
    ) == _hour_batch_expect(spark, base)


def test_cascade_1m_rebuild_degrades_cascade_to_rebuild_then_recovers(
    spark, tmp_path
):
    """A genuine visibility rewrite on the 1m MV (a FORCED rebuild — the
    repair API) is not CDC-representable, so the cascade degrades to one
    atomic rebuild of its own, then recovers to incremental appends."""
    base = str(tmp_path / "base")
    mv1m = str(tmp_path / "mv1m")
    mv1h = str(tmp_path / "mv1h")
    S.append(_batch(spark, range(40), minute_of=lambda i: (i % 4) * 20), base)
    M.refresh_rollup(spark, base, mv1m)
    M.refresh_cascade(spark, mv1m, mv1h)
    S.append(_batch(spark, range(40, 60), minute_of=lambda i: (i % 4) * 20), base)
    M.rebuild_rollup(spark, base, mv1m)  # forced repair of the 1m level
    assert S._version_body(mv1m, S.latest_version(mv1m))["op"] == "rebuild"
    M.refresh_cascade(spark, mv1m, mv1h)
    assert S._version_body(mv1h, S.latest_version(mv1h))["op"] == "rebuild"
    assert _hour_rows(
        M.read_rollup(spark, mv1h, rollup=M.HOURS)
    ) == _hour_batch_expect(spark, base)
    # and the NEXT tick is incremental again at both levels
    S.append(_batch(spark, range(100, 120), minute_of=lambda i: (i % 4) * 20), base)
    M.refresh_rollup(spark, base, mv1m)
    M.refresh_cascade(spark, mv1m, mv1h)
    assert S._version_body(mv1h, S.latest_version(mv1h))["op"] == "append"
    assert _hour_rows(
        M.read_rollup(spark, mv1h, rollup=M.HOURS)
    ) == _hour_batch_expect(spark, base)


def test_misordered_group_cols_fail_loud_not_misprune(spark, paths):
    """r13 (ADVICE): group_cols[0] must be the MV's time-bucket column —
    the scoped path prunes the pinned-head scan on min/max of it. A
    misordered tuple used to feed a string into the ts-range parse
    (obscure ValueError at best, silent misprune for ISO-shaped strings);
    now it raises a targeted TypeError before any scan."""
    import dataclasses

    base, mv = paths
    S.append(_batch(spark, range(60)), base)
    M.refresh_rollup(spark, base, mv)
    S.delete_where(spark, base, "trade_id = 7")
    misordered = dataclasses.replace(M.BARS, group_cols=("symbol", "minute"))
    with pytest.raises(TypeError, match="time-bucket"):
        M.refresh_rollup(spark, base, mv, rollup=misordered)


def test_scoped_refresh_over_group_fraction_falls_back_to_rebuild(spark, paths):
    """r13: an erasure touching MOST of the MV's groups makes the scoped
    swap degenerate (near-full re-aggregation PLUS a composite eq-delete
    entry taxing every later read); past ``max_scoped_frac`` of the MV's
    manifest row count the dispatch rebuilds instead — one clean swap,
    zero merge-on-read debt."""
    base, mv = paths
    S.append(_batch(spark, range(60)), base)
    M.refresh_rollup(spark, base, mv)
    S.delete_where(spark, base, "trade_id >= 6")  # touches every group
    v = M.refresh_rollup(spark, base, mv)
    m = S.manifest(mv, v)
    assert m["op"] == "rebuild"
    assert not m.get("eq_dvs")  # no read debt left behind
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, base))
    )
    # a narrow erasure still takes the scoped swap
    S.delete_where(spark, base, "trade_id = 1")
    v2 = M.refresh_rollup(spark, base, mv)
    assert S.manifest(mv, v2)["op"] == "upsert"
    assert _rows(M.read_rollup(spark, mv)) == _rows(
        bars_batch(S.read_snapshot(spark, base))
    )


def test_scoped_erasure_refresh_under_non_utc_os_tz_equals_rebuild(
    spark, tmp_path
):
    """The scoped swap's group keys travel collect -> prune bounds ->
    local semi-join frame -> eq-delete key file. Collected as Arrow they
    are UTC instants end to end; under an OS timezone five hours off UTC
    a key re-read as OS-local would mis-prune the pinned-head scan by the
    offset and leave the erased groups' surviving rows out (or keep the
    stale partials). The refresh must stay scoped and equal a rebuild."""
    import time as _time

    base, mv, mv2 = (str(tmp_path / n) for n in ("base", "mv", "mv2"))
    S.append(_batch(spark, range(60)), base)
    M.refresh_rollup(spark, base, mv)
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        S.delete_where(spark, base, "trade_id in (4, 7)")
        v = M.refresh_rollup(spark, base, mv)
        assert S.manifest(mv, v)["op"] == "upsert"
        M.rebuild_rollup(spark, base, mv2)
        got = _rows(M.read_rollup(spark, mv))
        assert got == _rows(M.read_rollup(spark, mv2))
        assert got == _rows(bars_batch(S.read_snapshot(spark, base)))
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        _time.tzset()


def test_rollup_algebra_has_one_owner():
    """Source scan: the OHLCV partial merge is written once, in
    streaming/bars.py (merge_bars / final_bars); an MV's algebra travels
    as one ``Rollup`` value, never as loose callables or scope knobs."""
    from pathlib import Path

    pkg = Path(M.__file__).resolve().parents[1]
    # operators/trades.py merges RAW events keyed by (ts, event_id) with
    # per-level counts (ev_ohlcv_multires, its own DuckDB oracle) and
    # takes a day close over finished bars — neither merges partials
    exempt = {"streaming/bars.py", "operators/trades.py"}
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        src = f.read_text()
        if rel not in exempt:
            assert 'min_by("open"' not in src, rel
            assert 'max_by("close"' not in src, rel
        if rel.startswith(("plans/", "operators/")):
            for kw in ("partial_fn=", "negate_fn=", "final_fn=", "scope_key_col"):
                assert kw not in src, (rel, kw)
    assert "_warned_scope_key" not in Path(M.__file__).read_text()
