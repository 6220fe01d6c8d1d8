"""Delete-aware change-data-feed gates (snapshots.read_changes_cdc +
logmv retractable refresh).

Contracts gated here:

- the feed's NET effect (inserts minus deletes, per key) equals the
  snapshot diff over the same range, for every covered op — the
  invertible-consumption semantics the feed promises;
- position-DV deletes, equality deletes and retention emit EXACTLY the
  deleted rows; compact/optimize emit nothing; rollback refuses;
- a sums MV refreshed through deletes equals the batch recompute and
  commits an APPEND (never a rebuild) — the O(delta+deletes) path;
- a non-invertible MV facing a compact-only range advances its watermark
  without rebuilding (layout ops are logical no-ops for CDC);
- a randomized op-interleaving model check: refresh after every op,
  rollup == recompute at every step.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from crypto_clickhouse_poc_spark.plans import logmv as M
from crypto_clickhouse_poc_spark.plans import snapshots as S

SCHEMA = (
    "ts timestamp, symbol string, trade_id long, price double, qty double,"
    " ingested_at long"
)
T0 = datetime(2024, 3, 1, 9, 0, 0)


def _batch(spark, ids, month=3):
    rows = [
        (
            datetime(2024, month, 1, 9, i % 3, i % 60),
            "BTC" if i % 2 else "ETH",
            i,
            float(100 + (i * 7) % 31),
            1.0 + (i % 5),
            0,
        )
        for i in ids
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _net(cdc):
    """insert rows minus delete rows, per trade_id — the feed's net effect."""
    sign = F.when(F.col(S.CDC_TYPE) == "insert", 1).otherwise(-1)
    return {
        r["trade_id"]: r["n"]
        for r in cdc.groupBy("trade_id").agg(F.sum(sign).alias("n")).collect()
        if r["n"] != 0
    }


def _ids(df):
    return sorted(r.trade_id for r in df.collect())


def test_cdc_append_then_position_delete_emits_exact_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(20)), path)  # v0
    S.append(_batch(spark, range(20, 30)), path)  # v1
    S.delete_where(spark, path, "trade_id in (3, 21)")  # v2
    cdc = S.read_changes_cdc(spark, path, -1)
    ins = cdc.where(F.col(S.CDC_TYPE) == "insert")
    dels = cdc.where(F.col(S.CDC_TYPE) == "delete")
    assert _ids(ins) == list(range(30))
    assert _ids(dels) == [3, 21]
    # deleted rows carry full content (the consumer folds them by group)
    row = dels.where("trade_id = 3").collect()[0]
    assert row["symbol"] == "BTC" and row["qty"] == 4.0
    # net effect == live snapshot
    assert sorted(_net(cdc)) == _ids(S.read_snapshot(spark, path))
    # versions are stamped
    assert dels.select(S.CDC_VERSION).distinct().collect()[0][0] == 2


def test_cdc_position_delete_rows_follow_renames_and_drops(spark, tmp_path):
    """The position-delete leg scans its target files with the commit's
    logged schema, like every other leg: after RENAME COLUMN its rows carry
    the new name, and after DROP COLUMN the dropped one is gone."""
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(10)), path)
    S.rename_column(path, "price", "px")
    v = S.delete_where(spark, path, "trade_id = 2")
    dels = S.read_changes_cdc(spark, path, v - 1, v)
    head = S.read_snapshot(spark, path).columns
    assert dels.columns == head + [S.CDC_TYPE, S.CDC_VERSION]
    [row] = dels.collect()
    assert row["trade_id"] == 2 and row["px"] == float(100 + 14 % 31)
    S.drop_column(path, "ingested_at")
    v = S.delete_where(spark, path, "trade_id = 3")
    dels = S.read_changes_cdc(spark, path, v - 1, v)
    assert "ingested_at" not in dels.columns and "price" not in dels.columns
    assert dels.columns == S.read_snapshot(spark, path).columns + [
        S.CDC_TYPE,
        S.CDC_VERSION,
    ]
    assert _ids(dels) == [3]


def test_cdc_mid_range_consumption_sees_only_the_delta(spark, tmp_path):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(10)), path)  # v0
    S.delete_where(spark, path, "trade_id = 1")  # v1
    S.append(_batch(spark, range(10, 14)), path)  # v2
    cdc = S.read_changes_cdc(spark, path, 0)  # (v0, v2]
    assert _ids(cdc.where(F.col(S.CDC_TYPE) == "insert")) == [10, 11, 12, 13]
    assert _ids(cdc.where(F.col(S.CDC_TYPE) == "delete")) == [1]


def test_cdc_eq_delete_emits_matching_rows_and_respects_sequencing(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(10)), path)  # v0
    keys = spark.createDataFrame([(2,), (4,)], "trade_id long")
    S.delete_by_keys(spark, path, keys)  # v1
    # re-insert id 2 AFTER the delete: visible again (sequence rule) and
    # must NOT be retro-emitted as a delete
    S.append(_batch(spark, [2]), path)  # v2
    cdc = S.read_changes_cdc(spark, path, -1)
    assert _ids(cdc.where(F.col(S.CDC_TYPE) == "delete")) == [2, 4]
    assert _ids(cdc.where(F.col(S.CDC_TYPE) == "insert")) == sorted(
        list(range(10)) + [2]
    )
    assert sorted(_net(cdc)) == _ids(S.read_snapshot(spark, path))


def test_cdc_eq_delete_scan_is_bloom_pruned_when_index_exists(
    spark, tmp_path, monkeypatch
):
    """The eq-delete branch is the feed's one O(base) leg; with a Bloom
    sidecar on the key column it must scan ONLY the files that may hold a
    victim — and the emitted rows stay exact."""
    from crypto_clickhouse_poc_spark.plans import bloomidx as B

    path = str(tmp_path / "t")
    S.append(_batch(spark, range(10), month=1), path)
    S.append(_batch(spark, range(10, 20), month=2), path)
    S.append(_batch(spark, range(20, 30), month=3), path)
    B.build_bloom_index(spark, path, "trade_id")
    v0 = S.latest_version(path)
    S.delete_by_keys(
        spark, path, spark.createDataFrame([(14,)], "trade_id long")
    )
    scanned: list[list[str]] = []
    real = S._read_files
    monkeypatch.setattr(
        S,
        "_read_files",
        lambda sp, p, files, **kw: scanned.append([f["path"] for f in files])
        or real(sp, p, files, **kw),
    )
    cdc = S.read_changes_cdc(spark, path, v0)
    dels = cdc.where(F.col(S.CDC_TYPE) == "delete").collect()
    monkeypatch.undo()
    assert [r["trade_id"] for r in dels] == [14]
    # one pre-delete scan, pruned to the single month-2 file
    eq_scans = [s for s in scanned if s]
    assert len(eq_scans) == 1 and len(eq_scans[0]) == 1
    assert "p_month=202402" in eq_scans[0][0]
    # and a key NO file can contain prunes the scan away entirely
    S.delete_by_keys(
        spark, path, spark.createDataFrame([(999_999,)], "trade_id long")
    )
    cdc2 = S.read_changes_cdc(spark, path, v0 + 1)
    assert cdc2.count() == 0


def test_cdc_retention_emits_dropped_months_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(6), month=1), path)  # v0 Jan
    S.append(_batch(spark, range(6, 10), month=2), path)  # v1 Feb
    S.drop_months(path, "202402")  # v2: Jan dropped
    cdc = S.read_changes_cdc(spark, path, 1)  # just the retention commit
    dels = cdc.where(F.col(S.CDC_TYPE) == "delete")
    assert _ids(dels) == list(range(6))
    assert cdc.where(F.col(S.CDC_TYPE) == "insert").count() == 0


def test_cdc_flagged_layout_ops_emit_nothing_deduping_compact_refuses(
    spark, tmp_path
):
    """Only WRITER-FLAGGED (data_change=False) commits are CDC no-changes.
    optimize is one; the deduping compact_snapshot is NOT — its dedup_view
    can drop stale duplicate-key rows from the raw row set, which the op
    name alone cannot reveal (the r10 second-self-review catch)."""
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(10)), path)
    S.append(_batch(spark, range(10, 20)), path)
    S.delete_where(spark, path, "trade_id = 5")
    v_before = S.latest_version(path)
    S.optimize_small_files(spark, path, min_rows=10_000)
    cdc = S.read_changes_cdc(spark, path, v_before)
    assert cdc.count() == 0
    # whole-history net through the optimize still matches the live table
    whole = S.read_changes_cdc(spark, path, -1)
    assert sorted(_net(whole)) == _ids(S.read_snapshot(spark, path))
    # a deduping compact is a visibility rewrite: refuse, don't guess
    S.compact_snapshot(spark, path)
    with pytest.raises(ValueError, match="compact"):
        S.read_changes_cdc(spark, path, v_before)


def test_duplicate_key_base_deduping_compact_forces_mv_rebuild(
    spark, tmp_path
):
    """The scenario the data_change flag exists for: a base ingested
    at-least-once (duplicate keys), whose MV folded the raw duplicates.
    A deduping compact DROPS the stale copies — treating it as a layout
    no-op would leave the MV silently over-counting forever. The refresh
    must rebuild, after which MV == batch recompute over the deduped
    snapshot; a FLAGGED layout op on the same table still appends."""
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    S.append(_batch(spark, range(20)), base)
    S.append(_batch(spark, range(10, 20)), base)  # ids 10-19 DUPLICATED
    M.refresh_rollup(spark, base, mv, rollup=M.SUMS)
    # MV correctly counts the raw duplicates pre-compact
    assert _sums_mv(spark, mv) == _sums_expect(spark, base)
    S.compact_snapshot(spark, base)  # dedups: ids 10-19 lose a copy
    M.refresh_rollup(spark, base, mv, rollup=M.SUMS)
    assert S._version_body(mv, S.latest_version(mv))["op"] == "rebuild"
    assert _sums_mv(spark, mv) == _sums_expect(spark, base)
    # flagged layout op afterwards: incremental again, no rebuild
    S.append(_batch(spark, range(100, 110)), base)
    S.optimize_small_files(spark, base, min_rows=10_000)
    M.refresh_rollup(spark, base, mv, rollup=M.SUMS)
    assert S._version_body(mv, S.latest_version(mv))["op"] == "append"
    assert _sums_mv(spark, mv) == _sums_expect(spark, base)


def test_cdc_merge_net_effect_equals_snapshot_diff(spark, tmp_path):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(12)), path)  # v0
    v0 = S.latest_version(path)
    src = _batch(spark, [3, 4, 50]).withColumn("price", F.lit(999.0))
    S.merge_into(spark, path, src, keys=["trade_id"])  # update 3,4; insert 50
    cdc = S.read_changes_cdc(spark, path, v0)
    net = _net(cdc)
    # coarse file-level CDC: unchanged rows appear as paired delete+insert
    # and cancel; the NET is exactly the merge's insert
    assert sorted(net) == [50]
    # updated rows net to zero but their new values are in the inserts
    upd = cdc.where(
        (F.col(S.CDC_TYPE) == "insert") & F.col("trade_id").isin(3, 4)
    )
    assert {r["price"] for r in upd.collect()} == {999.0}


def test_cdc_behind_vacuum_retention_fails_loudly(spark, tmp_path):
    """A CDC range referencing files vacuum swept must raise at read —
    never silently emit a partial delta (the time-travel contract)."""
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(10)), path)  # v0
    S.append(_batch(spark, range(10, 20)), path)  # v1
    # v2: bin-pack (flagged layout-only) — v0/v1 files now unreferenced
    S.optimize_small_files(spark, path, min_rows=10_000)
    S.vacuum(path, retain_versions=1)
    with pytest.raises(Exception):
        # the range's appended files were swept; the read must blow up
        S.read_changes_cdc(spark, path, -1, 1).collect()
    # ranges inside the retained window still work (nothing to emit
    # for the flagged optimize, and the head is intact)
    assert S.read_changes_cdc(spark, path, 1).count() == 0


def test_cdc_refuses_rollback(spark, tmp_path):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(5)), path)
    S.append(_batch(spark, range(5, 9)), path)
    S.rollback(path, 0)
    with pytest.raises(ValueError, match="rollback"):
        S.read_changes_cdc(spark, path, 0)


def _sums_expect(spark, path):
    return sorted(
        tuple(r)
        for r in M.final_sums(
            M.partial_sums(S.read_snapshot(spark, path))
        ).collect()
    )


def _sums_mv(spark, mv):
    return sorted(
        tuple(r)
        for r in M.read_rollup(spark, mv, rollup=M.SUMS).collect()
    )


def test_sums_mv_consumes_deletes_without_rebuild(spark, tmp_path):
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    S.append(_batch(spark, range(60)), base)
    M.refresh_rollup(spark, base, mv, rollup=M.SUMS)
    # GDPR-style erasure on the base: position delete AND equality delete
    S.delete_where(spark, base, "trade_id in (7, 8, 9)")
    S.delete_by_keys(
        spark, base, spark.createDataFrame([(10,), (11,)], "trade_id long")
    )
    v = M.refresh_rollup(spark, base, mv, rollup=M.SUMS)
    assert v is not None
    # the refresh APPENDED negative partials — it did not rebuild
    assert S._version_body(mv, S.latest_version(mv))["op"] == "append"
    assert _sums_mv(spark, mv) == _sums_expect(spark, base)
    # steady state and replay safety unchanged
    assert (
        M.refresh_rollup(spark, base, mv, rollup=M.SUMS)
        is None
    )


def test_sums_mv_group_fully_deleted_disappears(spark, tmp_path):
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    # minute 0 contains exactly ids with i % 3 == 0 pattern; delete ALL of
    # one group's rows and the group must vanish from the rollup, not
    # surface as a zero row
    S.append(_batch(spark, range(30)), base)
    M.refresh_rollup(spark, base, mv, rollup=M.SUMS)
    S.delete_where(spark, base, "symbol = 'ETH'")
    M.refresh_rollup(spark, base, mv, rollup=M.SUMS)
    got = _sums_mv(spark, mv)
    assert got == _sums_expect(spark, base)
    assert all(r[1] == "BTC" for r in [(None, g[1]) for g in got])
    # compaction drops the netted-zero partials and preserves reads
    M.compact_rollup(spark, mv, merge_fn=M.SUMS.merge)
    assert _sums_mv(spark, mv) == got


def test_uninitialized_mv_over_deleted_history_rebuilds_not_replays(
    spark, tmp_path
):
    """First materialization of an MV over a base that already has delete
    history: one snapshot read (rebuild) equals — and is strictly cheaper
    than — replaying every insert and retraction ever through CDC."""
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    S.append(_batch(spark, range(30)), base)
    S.delete_where(spark, base, "trade_id < 3")
    S.append(_batch(spark, range(30, 40)), base)
    v = M.refresh_rollup(spark, base, mv, rollup=M.SUMS)
    assert S._version_body(mv, v)["op"] == "rebuild"
    assert _sums_mv(spark, mv) == _sums_expect(spark, base)
    # and the next delete IS consumed incrementally (watermark in place)
    S.delete_where(spark, base, "trade_id = 35")
    M.refresh_rollup(spark, base, mv, rollup=M.SUMS)
    assert S._version_body(mv, S.latest_version(mv))["op"] == "append"
    assert _sums_mv(spark, mv) == _sums_expect(spark, base)


def test_non_invertible_mv_survives_flagged_layout_op_without_rebuild(
    spark, tmp_path
):
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    S.append(_batch(spark, range(40)), base)
    M.refresh_rollup(spark, base, mv)  # default partial_bars (non-invertible)
    S.append(_batch(spark, range(40, 55)), base)
    S.optimize_small_files(spark, base, min_rows=10_000)  # layout-only op
    v = M.refresh_rollup(spark, base, mv)
    assert v is not None
    # layout ops change no logical rows: the refresh consumed the CDC
    # inserts and APPENDED — no O(base) rebuild (pre-r10 behavior)
    assert S._version_body(mv, S.latest_version(mv))["op"] == "append"
    from crypto_clickhouse_poc_spark.streaming.bars import bars_batch

    expect = sorted(
        tuple(r)
        for r in bars_batch(S.read_snapshot(spark, base))
        .select("minute", "symbol", "open", "high", "low", "close")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in M.read_rollup(spark, mv)
        .select("minute", "symbol", "open", "high", "low", "close")
        .collect()
    )
    assert got == expect


def test_non_invertible_mv_consumes_deletes_group_scoped(spark, tmp_path):
    """r12 (was: must rebuild): with no negate the refresh takes the
    GROUP-SCOPED path — recompute only the CDC-named groups from the
    pinned head and swap their partials in one atomic upsert commit."""
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    S.append(_batch(spark, range(40)), base)
    M.refresh_rollup(spark, base, mv)
    # a NARROW erasure (2 of 6 groups — past max_scoped_frac the r13
    # dispatch correctly prefers a rebuild, gated elsewhere)
    S.delete_where(spark, base, "trade_id < 2")
    M.refresh_rollup(spark, base, mv)  # no negate -> scoped swap
    assert S._version_body(mv, S.latest_version(mv))["op"] == "upsert"
    from crypto_clickhouse_poc_spark.streaming.bars import bars_batch

    assert sorted(
        tuple(r) for r in M.read_rollup(spark, mv).collect()
    ) == sorted(tuple(r) for r in bars_batch(S.read_snapshot(spark, base)).collect())


def test_cms_cell_mv_consumes_deletes_as_negative_cells(spark, tmp_path):
    """The second invertible algebra the CDC contract names: Count-Min
    cells are plain sums, so a CMS maintained as a log-driven MV absorbs
    erasures as NEGATIVE cell partials through the SAME refresh machinery
    (no CMS-specific code — the algebra is a ``Rollup`` value). After
    deletes, the merged grid equals a one-shot sketch of the live
    snapshot EXACTLY (not just within the CMS error bound)."""
    from crypto_clickhouse_poc_spark.operators import cms as C

    def partial_cms(batch):
        pair = F.explode(C._fanout(F.col("symbol")))
        return (
            batch.select(
                F.date_trunc("minute", F.col("ts")).alias("minute"),
                pair.alias("p"),
            )
            .select("minute", "p.d", "p.bucket")
            .groupBy("minute", "d", "bucket")
            .agg(F.count("*").alias("cnt"))
        )

    def negate_cms(partials):
        return partials.withColumn("cnt", -F.col("cnt"))

    def grid(df):  # read-time merge to the whole-table D x W grid
        return sorted(
            tuple(r)
            for r in df.groupBy("d", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .where(F.col("cnt") != 0)
            .collect()
        )

    def merge_cms(partials):
        return partials.groupBy("minute", "d", "bucket").agg(
            F.sum("cnt").alias("cnt")
        )

    cms = M.Rollup(
        partial=partial_cms,
        merge=merge_cms,
        final=merge_cms,
        negate=negate_cms,
        group_cols=("minute", "d", "bucket"),
    )
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    S.append(_batch(spark, range(60)), base)
    M.refresh_rollup(spark, base, mv, rollup=cms)
    S.delete_where(spark, base, "trade_id in (1, 3, 5, 7)")  # ETH rows
    S.delete_by_keys(
        spark, base, spark.createDataFrame([(2,), (4,)], "trade_id long")
    )
    v = M.refresh_rollup(spark, base, mv, rollup=cms)
    assert S._version_body(mv, v)["op"] == "append"  # no rebuild
    want = grid(
        partial_cms(S.read_snapshot(spark, base))
    )  # one-shot sketch of live rows
    got = grid(S.read_snapshot(spark, mv))
    assert got == want


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_random_op_interleaving_matches_recompute(spark, tmp_path, seed):
    """Model check: any interleaving of appends / position deletes /
    eq-deletes / layout ops, refreshed after every step, keeps the sums
    MV equal to the batch recompute."""
    rng = random.Random(seed)
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    S.append(_batch(spark, range(25)), base)
    next_id = 25
    live = list(range(25))

    def refresh():
        M.refresh_rollup(spark, base, mv, rollup=M.SUMS)
        assert _sums_mv(spark, mv) == _sums_expect(spark, base)

    refresh()
    for _ in range(8):
        op = rng.choice(
            ["append", "delete", "eq_delete", "upsert", "optimize", "compact",
             "overwrite"]
        )
        if op == "append":
            S.append(_batch(spark, range(next_id, next_id + 10)), base)
            live += list(range(next_id, next_id + 10))
            next_id += 10
        elif op == "delete" and live:
            victims = rng.sample(live, min(3, len(live)))
            S.delete_where(
                spark, base, f"trade_id in ({','.join(map(str, victims))})"
            )
            live = [i for i in live if i not in victims]
        elif op == "eq_delete" and live:
            victims = rng.sample(live, min(2, len(live)))
            S.delete_by_keys(
                spark,
                base,
                spark.createDataFrame([(v,) for v in victims], "trade_id long"),
            )
            live = [i for i in live if i not in victims]
        elif op == "upsert" and live:
            # replace two live keys' rows (with a CHANGED qty, so the
            # retraction must actually move the sums) AND insert a fresh
            # one — the r12 atomic key-replacement commit as a base op
            touched = rng.sample(live, min(2, len(live)))
            S.upsert_by_keys(
                _batch(spark, touched + [next_id]).withColumn(
                    "qty", F.col("qty") + 1.0
                ),
                base,
                cols=["trade_id"],
            )
            live.append(next_id)
            next_id += 1
        elif op == "overwrite" and live:
            # r13 backfill: replace the (single) month with a subset of
            # the live rows at changed qty — the CDC diff must retract
            # the dropped rows and move the kept rows' sums
            keep = sorted(rng.sample(live, max(1, len(live) // 2)))
            S.overwrite_months(
                _batch(spark, keep).withColumn("qty", F.col("qty") + 2.0),
                base,
            )
            live = list(keep)
        elif op == "optimize":
            S.optimize_small_files(spark, base, min_rows=10_000)
        elif op == "compact":
            S.compact_snapshot(spark, base)
        refresh()


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_random_op_interleaving_matches_recompute_bars(spark, tmp_path, seed):
    """The r12 model check over the NON-invertible flagship algebra:
    any interleaving of appends / position deletes / eq-deletes / merges
    / layout ops / deduping compacts, refreshed after every step through
    whatever path the dispatch picks (append, scoped upsert, rebuild),
    keeps the bars MV equal to the batch recompute."""
    from crypto_clickhouse_poc_spark.streaming.bars import bars_batch

    rng = random.Random(seed)
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    S.append(_batch(spark, range(25)), base)
    next_id = 25
    live = list(range(25))

    def _bars(df):
        return sorted(
            tuple(r)
            for r in df.select(
                "minute", "symbol", "open", "high", "low", "close",
                "volume", "trades",
            ).collect()
        )

    def refresh():
        M.refresh_rollup(spark, base, mv)  # bars partials, no negate
        assert _bars(M.read_rollup(spark, mv)) == _bars(
            bars_batch(S.read_snapshot(spark, base))
        )

    refresh()
    for _ in range(8):
        op = rng.choice(
            ["append", "delete", "eq_delete", "merge", "upsert",
             "optimize", "compact", "overwrite"]
        )
        if op == "append":
            S.append(_batch(spark, range(next_id, next_id + 10)), base)
            live += list(range(next_id, next_id + 10))
            next_id += 10
        elif op == "delete" and live:
            victims = rng.sample(live, min(3, len(live)))
            S.delete_where(
                spark, base, f"trade_id in ({','.join(map(str, victims))})"
            )
            live = [i for i in live if i not in victims]
        elif op == "eq_delete" and live:
            victims = rng.sample(live, min(2, len(live)))
            S.delete_by_keys(
                spark,
                base,
                spark.createDataFrame([(v,) for v in victims], "trade_id long"),
            )
            live = [i for i in live if i not in victims]
        elif op == "merge" and live:
            touched = rng.sample(live, min(2, len(live)))
            src = _batch(spark, touched + [next_id]).withColumn(
                "price", F.lit(float(500 + next_id))
            )
            S.merge_into(spark, base, src, keys=["trade_id"])
            live.append(next_id)
            next_id += 1
        elif op == "upsert" and live:
            touched = rng.sample(live, min(2, len(live)))
            S.upsert_by_keys(
                _batch(spark, touched + [next_id]).withColumn(
                    "price", F.lit(float(700 + next_id))
                ),
                base,
                cols=["trade_id"],
            )
            live.append(next_id)
            next_id += 1
        elif op == "overwrite" and live:
            # r13 backfill through the NON-invertible dispatch: the
            # scoped path (or fraction-dispatch rebuild) must absorb a
            # whole-month replacement exactly
            keep = sorted(rng.sample(live, max(1, len(live) // 2)))
            S.overwrite_months(
                _batch(spark, keep).withColumn(
                    "price", F.col("price") + 11.0
                ),
                base,
            )
            live = list(keep)
        elif op == "optimize":
            S.optimize_small_files(spark, base, min_rows=10_000)
        elif op == "compact":
            S.compact_snapshot(spark, base)
        refresh()


def test_scoped_refresh_never_reads_unaffected_months(spark, tmp_path):
    """The scoped path's scale contract: an erasure confined to January
    must not read ONE February base file — the CDC legs touch only the
    DV-named files and the head re-aggregation is ts-pruned to the
    affected groups' span before the group semi-join."""
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    S.append(_batch(spark, range(30), month=1), base)
    S.append(_batch(spark, range(30, 60), month=2), base)
    M.refresh_rollup(spark, base, mv)
    S.delete_where(spark, base, "trade_id = 7")  # a January row
    real = S._read_files
    base_reads: list[list[dict]] = []

    def spy(spark_, path_, files, **kw):
        if path_ == base:
            base_reads.append(files)
        return real(spark_, path_, files, **kw)

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    mp.setattr(S, "_read_files", spy)
    try:
        v = M.refresh_rollup(spark, base, mv)
    finally:
        mp.undo()
    assert S._version_body(mv, v)["op"] == "upsert"
    months = {f["p_month"] for call in base_reads for f in call}
    assert months == {"202401"}, months
    from crypto_clickhouse_poc_spark.streaming.bars import bars_batch

    assert sorted(
        tuple(r) for r in M.read_rollup(spark, mv).collect()
    ) == sorted(
        tuple(r) for r in bars_batch(S.read_snapshot(spark, base)).collect()
    )


def test_first_materialization_pays_no_history_metadata_scan(
    spark, tmp_path, monkeypatch
):
    """r11 ADVICE: the uninitialized-MV dispatch must decide BEFORE the
    changed_meta scan — first materialization over a long base history
    is one rebuild (one head manifest read), never O(history) raw
    version-body reads."""
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    for k in range(5):
        S.append(_batch(spark, range(k * 10, (k + 1) * 10)), base)
    S.delete_where(spark, base, "trade_id = 1")

    def boom(*a, **kw):
        raise AssertionError("changed_meta scanned history on first materialization")

    monkeypatch.setattr(S, "changed_meta", boom)
    v = M.refresh_rollup(spark, base, mv)
    monkeypatch.undo()
    assert S._version_body(mv, v)["op"] == "rebuild"
    assert S.last_txn(mv, "logmv") == S.latest_version(base)


def test_cdc_metadata_is_o_changed_shards_not_full_splices(
    spark, tmp_path, monkeypatch
):
    """r10 ADVICE: on a sharded log, the feed's append/retention/delete
    legs must never materialize a FULL manifest per covered commit —
    manifest_delta loads only the month shards whose content hash
    changed. The one allowed splice is the eq-delete leg's pre-delete
    scan list (that leg is the feed's documented O(base) exception)."""
    monkeypatch.setattr(S, "SHARD_FILES", 0)  # every version sharded
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(8), month=1), path)  # v0 Jan
    S.append(_batch(spark, range(8, 16), month=2), path)  # v1 Feb
    S.append(_batch(spark, range(16, 24), month=3), path)  # v2 Mar
    S.delete_where(spark, path, "trade_id = 20")  # v3 position delete
    S.drop_months(path, "202402")  # v4 retention: Jan dropped
    real = S.manifest
    splices = []
    monkeypatch.setattr(
        S,
        "manifest",
        lambda p, v, months=None: splices.append((v, months)) or real(p, v, months),
    )
    cdc = S.read_changes_cdc(spark, path, -1)
    got_ins = _ids(cdc.where(F.col(S.CDC_TYPE) == "insert"))
    got_del = _ids(cdc.where(F.col(S.CDC_TYPE) == "delete"))
    monkeypatch.undo()
    assert got_ins == list(range(24))
    assert got_del == sorted([20] + list(range(8)))
    assert splices == [], f"full manifest splices during CDC: {splices}"
    # and the eq-delete leg still works (its one splice is the scan list)
    S.delete_by_keys(
        spark, path, spark.createDataFrame([(17,)], "trade_id long")
    )
    assert _ids(
        S.read_changes_cdc(spark, path, 4).where(F.col(S.CDC_TYPE) == "delete")
    ) == [17]


def test_cdc_composite_eq_delete_prunes_through_both_sidecars(
    spark, tmp_path, monkeypatch
):
    """r10 verdict item #5: a composite-key erasure intersects the
    per-column Bloom maybe-sets — col A's value lives in files 1+2, col
    B's in files 2+3, so the pre-delete scan must touch ONLY file 2 (and
    the emitted rows stay exact)."""
    from crypto_clickhouse_poc_spark.plans import bloomidx as B

    path = str(tmp_path / "t")
    rows1 = [(datetime(2024, 1, 1, 9, 0, i), "AAA", i, 1.0, 1.0, 0) for i in range(5)]
    rows2 = [(datetime(2024, 2, 1, 9, 0, i), "AAA", 100 + i, 1.0, 1.0, 0) for i in range(5)]
    rows3 = [(datetime(2024, 3, 1, 9, 0, i), "BBB", 100 + i, 1.0, 1.0, 0) for i in range(5)]
    for rows in (rows1, rows2, rows3):
        S.append(spark.createDataFrame(rows, SCHEMA), path)
    B.build_bloom_index(spark, path, "symbol")
    B.build_bloom_index(spark, path, "trade_id")
    v0 = S.latest_version(path)
    # composite victim ("AAA", 102): symbol AAA ∈ {Jan, Feb}, id 102 ∈ {Feb, Mar}
    S.delete_by_keys(
        spark,
        path,
        spark.createDataFrame([("AAA", 102)], "symbol string, trade_id long"),
        cols=["symbol", "trade_id"],
    )
    scanned: list[list[str]] = []
    real = S._read_files
    monkeypatch.setattr(
        S,
        "_read_files",
        lambda sp, p, files, **kw: scanned.append([f["path"] for f in files])
        or real(sp, p, files, **kw),
    )
    cdc = S.read_changes_cdc(spark, path, v0)
    dels = cdc.where(F.col(S.CDC_TYPE) == "delete").collect()
    monkeypatch.undo()
    assert [(r["symbol"], r["trade_id"]) for r in dels] == [("AAA", 102)]
    eq_scans = [s for s in scanned if s]
    assert len(eq_scans) == 1 and len(eq_scans[0]) == 1, eq_scans
    assert "p_month=202402" in eq_scans[0][0]
    # and the table reads correctly post-delete: only the composite
    # victim is gone — ("BBB", 102) survives
    left = {
        (r["symbol"], r["trade_id"])
        for r in S.read_snapshot(spark, path).collect()
    }
    assert ("AAA", 102) not in left and ("BBB", 102) in left


def test_cdc_precise_merge_emits_only_net_row_changes(spark, tmp_path):
    """r10 verdict item #3: with precise_merge=True the merge leg is a
    row-precise multiset diff — unchanged rows carried through the
    rewrite emit NOTHING, updates emit one delete (old values) + one
    insert (new values), and the classification agrees with
    diff_versions over the same range."""
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(12)), path)  # v0
    v0 = S.latest_version(path)
    src = _batch(spark, [3, 4, 50]).withColumn("price", F.lit(999.0))
    S.merge_into(spark, path, src, keys=["trade_id"])  # update 3,4; insert 50
    v1 = S.latest_version(path)
    cdc = S.read_changes_cdc(spark, path, v0, precise_merge=True)
    dels = cdc.where(F.col(S.CDC_TYPE) == "delete")
    ins = cdc.where(F.col(S.CDC_TYPE) == "insert")
    # exactly the changed rows — no paired delete+insert for the other 10
    assert _ids(dels) == [3, 4]
    assert _ids(ins) == [3, 4, 50]
    assert {r["price"] for r in dels.collect()} != {999.0}
    assert {r["price"] for r in ins.collect()} == {999.0}
    # parity with the row diff the versioned table already answers
    diff = {
        r["trade_id"]: r["change_type"]
        for r in S.diff_versions(spark, path, v0, v1).collect()
    }
    assert diff == {3: "changed", 4: "changed", 50: "added"}
    # net effect identical to the coarse feed
    coarse = S.read_changes_cdc(spark, path, v0)
    assert _net(cdc) == _net(coarse)


def test_cdc_precise_merge_layout_only_rewrite_emits_nothing(spark, tmp_path):
    """A merge-shaped rewrite that changes no row values (every target
    row carried verbatim) must emit zero CDC rows under precise_merge —
    the property that lets a non-invertible MV ride through it."""
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(10)), path)
    v0 = S.latest_version(path)
    # merge whose source rows EQUAL the current rows: merge_into rewrites
    # the matched files but every row value is unchanged
    src = S.read_snapshot(spark, path).where("trade_id in (2, 5)")
    S.merge_into(spark, path, src, keys=["trade_id"])
    if S.latest_version(path) == v0:
        pytest.skip("merge_into detected the no-op and committed nothing")
    cdc = S.read_changes_cdc(spark, path, v0, precise_merge=True)
    assert cdc.count() == 0
    # the coarse feed sees the rewrite as paired delete+insert (net zero)
    coarse = S.read_changes_cdc(spark, path, v0)
    assert _net(coarse) == {}
    assert coarse.count() > 0
