"""Enriched (fact ⋈ dim) rollup MV gates (plans/joinmv): the rollup
equals the batch recompute of fact-join-dim after ANY interleaving of
fact appends, fact erasures, dim updates/inserts/deletes — with fact
changes appended O(delta) and every non-append change swapped at the
JOIN-KEY grain (never a rebuild unless a genuine visibility rewrite /
the key cap); exactly-once across BOTH logs via the composite
watermark."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from crypto_clickhouse_poc_spark.plans import joinmv as J
from crypto_clickhouse_poc_spark.plans import logmv as M
from crypto_clickhouse_poc_spark.plans import snapshots as S

SCHEMA = (
    "ts timestamp, symbol string, trade_id long, price double, qty double,"
    " ingested_at long"
)
T0 = datetime(2024, 3, 1, 9, 0, 0)


def _batch(spark, ids):
    rows = [
        (
            T0 + timedelta(minutes=i % 3, seconds=i % 60),
            f"S{i % 5}",
            i,
            float(100 + (i * 7) % 31),
            1.0 + (i % 5),
            0,
        )
        for i in ids
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _dim(spark, mapping: dict[str, str]):
    return spark.createDataFrame(
        [(s, sec, T0) for s, sec in sorted(mapping.items())],
        "symbol string, sector string, ts timestamp",
    )


DIM0 = {f"S{i}": ("EVEN" if i % 2 == 0 else "ODD") for i in range(5)}


def _merge_sector(partials):
    return partials.groupBy("minute", "sector").agg(
        F.min_by("open", F.col("open_key")).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", F.col("close_key")).alias("close"),
        F.sum("volume").alias("volume"),
        F.sum("trades").alias("trades"),
    )


def _mv_rows(spark, mv):
    return sorted(
        tuple(r)
        for r in M.read_rollup(spark, mv, final_fn=_merge_sector)
        .select("minute", "sector", "open", "high", "low", "close", "volume", "trades")
        .collect()
    )


def _expect(spark, fact, dim):
    j = S.read_snapshot(spark, fact).join(
        S.read_snapshot(spark, dim).select("symbol", "sector"), "symbol", "inner"
    )
    return sorted(
        tuple(r)
        for r in j.groupBy(
            F.date_trunc("minute", F.col("ts")).alias("minute"), "sector"
        )
        .agg(
            F.min_by("price", F.struct("ts", "trade_id")).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", F.struct("ts", "trade_id")).alias("close"),
            F.sum("qty").alias("volume"),
            F.count("*").alias("trades"),
        )
        .collect()
    )


@pytest.fixture()
def paths(tmp_path, spark):
    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    mv = str(tmp_path / "mv")
    S.append(_batch(spark, range(40)), fact)
    S.append(_dim(spark, DIM0), dim)
    return fact, dim, mv


def test_incremental_equals_recompute_and_status_decodes(spark, paths):
    fact, dim, mv = paths
    for k in range(3):
        if k:
            S.append(_batch(spark, range(40 * k, 40 * (k + 1))), fact)
        v = J.refresh_enriched_rollup(spark, fact, dim, mv)
        assert v is not None
        assert _mv_rows(spark, mv) == _expect(spark, fact, dim)
        st = J.enriched_status(mv)
        assert st == {
            "fact_version": S.latest_version(fact),
            "dim_version": S.latest_version(dim),
        }
    # steady state at both heads; first tick was the rebuild, later appends
    assert J.refresh_enriched_rollup(spark, fact, dim, mv) is None
    assert S._version_body(mv, S.latest_version(mv))["op"] == "append"


def test_dim_update_swaps_only_the_changed_key(spark, paths):
    """The case the module exists for: a one-row dim update (S1 changes
    sector) refreshes as a KEY-SCOPED upsert — parity with the batch
    recompute, no rebuild op — and the next fact append is O(delta)."""
    fact, dim, mv = paths
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    S.upsert_by_keys(
        _dim(spark, {"S1": "REORG"}), dim, cols=["symbol"], ts_col="ts"
    )
    v = J.refresh_enriched_rollup(spark, fact, dim, mv)
    assert S._version_body(mv, v)["op"] == "upsert"
    got = _mv_rows(spark, mv)
    assert got == _expect(spark, fact, dim)
    assert any(r[1] == "REORG" for r in got)
    S.append(_batch(spark, range(200, 220)), fact)
    v2 = J.refresh_enriched_rollup(spark, fact, dim, mv)
    assert S._version_body(mv, v2)["op"] == "append"
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)


def test_fact_erasure_is_key_scoped(spark, paths):
    fact, dim, mv = paths
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    S.delete_where(spark, fact, "trade_id in (3, 8, 13)")  # S3-symbol rows
    v = J.refresh_enriched_rollup(spark, fact, dim, mv)
    assert S._version_body(mv, v)["op"] == "upsert"
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)


def test_key_deleted_from_both_logs_leaves_no_ghost(spark, paths):
    """The subtle one: S2's fact rows erased AND S2 dropped from the dim
    in the same range — the key has no replacement partials anywhere, so
    only the eq-delete side carries it; its bars must vanish exactly as
    the batch recompute says."""
    fact, dim, mv = paths
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    S.delete_where(spark, fact, "symbol = 'S2'")
    S.delete_by_keys(
        spark, dim, spark.createDataFrame([("S2",)], "symbol string")
    )
    v = J.refresh_enriched_rollup(spark, fact, dim, mv)
    assert S._version_body(mv, v)["op"] == "upsert"
    got = _mv_rows(spark, mv)
    assert got == _expect(spark, fact, dim)
    # S2 was EVEN's only even-indexed peer besides S0/S4 — EVEN survives
    # via S0/S4 but no partial row for S2 remains in the MV
    assert not [
        r
        for r in S.read_snapshot(spark, mv).select("symbol").collect()
        if r[0] == "S2"
    ]


def test_dim_insert_surfaces_previously_unmatched_fact_rows(spark, tmp_path):
    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    mv = str(tmp_path / "mv")
    S.append(_batch(spark, range(40)), fact)  # symbols S0..S4
    partial = {k: v for k, v in DIM0.items() if k != "S3"}  # S3 unmatched
    S.append(_dim(spark, partial), dim)
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)  # S3 absent
    # the dim catches up: S3 appears with its FULL fact history
    S.append(_dim(spark, {"S3": "ODD"}), dim)
    v = J.refresh_enriched_rollup(spark, fact, dim, mv)
    assert S._version_body(mv, v)["op"] == "upsert"
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)


def test_dim_rollback_degrades_to_rebuild(spark, paths):
    fact, dim, mv = paths
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    pre = S.latest_version(dim)
    S.upsert_by_keys(
        _dim(spark, {"S0": "TEMP"}), dim, cols=["symbol"], ts_col="ts"
    )
    S.rollback(dim, pre)
    v = J.refresh_enriched_rollup(spark, fact, dim, mv)
    assert S._version_body(mv, v)["op"] == "rebuild"
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)


def test_first_materialization_skips_history_metadata(
    spark, paths, monkeypatch
):
    fact, dim, mv = paths
    S.delete_where(spark, fact, "trade_id = 1")

    def boom(*a, **kw):
        raise AssertionError("changed_meta scanned history on first build")

    monkeypatch.setattr(S, "changed_meta", boom)
    v = J.refresh_enriched_rollup(spark, fact, dim, mv)
    monkeypatch.undo()
    assert S._version_body(mv, v)["op"] == "rebuild"
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)


def test_duplicate_dim_key_fails_loudly(spark, paths):
    fact, dim, mv = paths
    S.append(_dim(spark, {"S1": "DUP"}), dim)  # second S1 row, no dedup
    with pytest.raises(ValueError, match="duplicate join key"):
        J.refresh_enriched_rollup(spark, fact, dim, mv)


def test_key_cap_falls_back_to_rebuild(spark, paths):
    fact, dim, mv = paths
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    S.upsert_by_keys(
        _dim(spark, {"S0": "A", "S1": "B"}), dim, cols=["symbol"], ts_col="ts"
    )
    v = J.refresh_enriched_rollup(spark, fact, dim, mv, max_scoped_keys=1)
    assert S._version_body(mv, v)["op"] == "rebuild"
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)


def test_rebuild_recollects_a_dim_that_moved_after_the_refresh_read_it(
    spark, paths, monkeypatch
):
    """A scoped refresh that falls back to a rebuild hands over the dim
    rows it collected; when a dim commit lands in between, the rebuild
    pins the NEW dim head and must not enrich with the stale rows."""
    fact, dim, mv = paths
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    S.upsert_by_keys(
        _dim(spark, {"S0": "A", "S1": "B"}), dim, cols=["symbol"], ts_col="ts"
    )
    real = J.rebuild_enriched

    def dim_moves_first(*args, **kwargs):
        S.upsert_by_keys(
            _dim(spark, {"S2": "LATE"}), dim, cols=["symbol"], ts_col="ts"
        )
        return real(*args, **kwargs)

    monkeypatch.setattr(J, "rebuild_enriched", dim_moves_first)
    v = J.refresh_enriched_rollup(spark, fact, dim, mv, max_scoped_keys=1)
    assert S._version_body(mv, v)["op"] == "rebuild"
    assert J.enriched_status(mv)["dim_version"] == S.latest_version(dim)
    got = _mv_rows(spark, mv)
    assert got == _expect(spark, fact, dim)
    assert any(r[1] == "LATE" for r in got)


def test_replay_is_a_detected_noop(spark, paths):
    fact, dim, mv = paths
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    head_mv = S.latest_version(mv)
    assert J.refresh_enriched_rollup(spark, fact, dim, mv) is None
    assert S.latest_version(mv) == head_mv
    # a dim-only tick ADVANCES the composite watermark even though the
    # fact head did not move (the reason the id packs both versions)
    S.upsert_by_keys(
        _dim(spark, {"S4": "MOVED"}), dim, cols=["symbol"], ts_col="ts"
    )
    v = J.refresh_enriched_rollup(spark, fact, dim, mv)
    assert v is not None and v > head_mv
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)
    assert J.refresh_enriched_rollup(spark, fact, dim, mv) is None


def test_compact_enriched_is_read_invisible_and_watermark_survives(
    spark, paths
):
    fact, dim, mv = paths
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    S.append(_batch(spark, range(40, 80)), fact)
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    S.upsert_by_keys(
        _dim(spark, {"S0": "MOVED"}), dim, cols=["symbol"], ts_col="ts"
    )
    J.refresh_enriched_rollup(spark, fact, dim, mv)  # eq-delete on the MV
    before = _mv_rows(spark, mv)
    n_before = S.read_snapshot(spark, mv).count()
    v = M.compact_rollup(spark, mv, merge_fn=J.merge_enriched_fn())
    m = S.manifest(mv, v)
    assert m["dvs"] == [] and m["eq_dvs"] == []  # upsert's eq materialized
    assert _mv_rows(spark, mv) == before
    assert S.read_snapshot(spark, mv).count() < n_before
    # watermark intact -> still at both heads, next tick incremental
    assert J.refresh_enriched_rollup(spark, fact, dim, mv) is None
    S.append(_batch(spark, range(300, 320)), fact)
    v2 = J.refresh_enriched_rollup(spark, fact, dim, mv)
    assert S._version_body(mv, v2)["op"] == "append"
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)


def test_concurrent_enriched_refreshers_cannot_double_count(
    spark, paths, monkeypatch
):
    """Two refreshers racing on one fact delta: the composite-watermark
    CAS must kill the loser at commit (never a double-fold), same as the
    single-table MV contract."""
    fact, dim, mv = paths
    J.refresh_enriched_rollup(spark, fact, dim, mv)  # initialized
    S.append(_batch(spark, range(40, 80)), fact)
    orig = S._write_txn

    def interleave(df, path, ts_col, **kw):
        out = orig(df, path, ts_col, **kw)
        if not getattr(interleave, "fired", False) and path == mv:
            interleave.fired = True
            J.refresh_enriched_rollup(df.sparkSession, fact, dim, mv)  # B wins
        return out

    monkeypatch.setattr(S, "_write_txn", interleave)
    with pytest.raises(S.CommitConflict):
        J.refresh_enriched_rollup(spark, fact, dim, mv)  # A must lose
    monkeypatch.setattr(S, "_write_txn", orig)
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)
    assert J.refresh_enriched_rollup(spark, fact, dim, mv) is None


@pytest.mark.parametrize("seed", [13, 29])
def test_random_two_log_interleaving_matches_recompute(spark, tmp_path, seed):
    """Model check over BOTH logs: any interleaving of fact appends /
    erasures / upserts and dim updates / inserts / deletes, refreshed
    after every step through whatever path the dispatch picks (append,
    key-scoped upsert, rebuild), keeps the enriched MV equal to the
    batch recompute of fact ⋈ dim."""
    import random

    rng = random.Random(seed)
    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    mv = str(tmp_path / "mv")
    S.append(_batch(spark, range(30)), fact)
    S.append(_dim(spark, DIM0), dim)
    next_id = 30
    live = list(range(30))
    dim_live = dict(DIM0)
    next_sym = 5

    def refresh():
        J.refresh_enriched_rollup(spark, fact, dim, mv)
        assert _mv_rows(spark, mv) == _expect(spark, fact, dim)

    refresh()
    for step in range(8):
        op = rng.choice(
            ["fact_append", "fact_delete", "fact_upsert",
             "dim_update", "dim_insert", "dim_delete"]
        )
        if op == "fact_append":
            S.append(_batch(spark, range(next_id, next_id + 10)), fact)
            live += list(range(next_id, next_id + 10))
            next_id += 10
        elif op == "fact_delete" and live:
            victims = rng.sample(live, min(3, len(live)))
            S.delete_where(
                spark, fact, f"trade_id in ({','.join(map(str, victims))})"
            )
            live = [i for i in live if i not in victims]
        elif op == "fact_upsert" and live:
            touched = rng.sample(live, min(2, len(live)))
            S.upsert_by_keys(
                _batch(spark, touched + [next_id]).withColumn(
                    "qty", F.col("qty") + 1.0
                ),
                fact,
                cols=["trade_id"],
            )
            live.append(next_id)
            next_id += 1
        elif op == "dim_update" and dim_live:
            sym = rng.choice(sorted(dim_live))
            dim_live[sym] = f"SEC{step}"
            S.upsert_by_keys(
                _dim(spark, {sym: dim_live[sym]}), dim,
                cols=["symbol"], ts_col="ts",
            )
        elif op == "dim_insert":
            # a symbol the fact may or may not have rows for yet
            sym = f"S{next_sym % 7}"
            if sym not in dim_live:
                dim_live[sym] = "NEW"
                S.append(_dim(spark, {sym: "NEW"}), dim)
            next_sym += 1
        elif op == "dim_delete" and len(dim_live) > 1:
            sym = rng.choice(sorted(dim_live))
            del dim_live[sym]
            S.delete_by_keys(
                spark, dim,
                spark.createDataFrame([(sym,)], "symbol string"),
            )
        refresh()


def test_large_key_set_takes_broadcast_semi_join_not_giant_isin(
    spark, paths, monkeypatch
):
    """r13 (ADVICE): near the 65k key cap a literal IN blows up Catalyst
    plan size/compile time before the rebuild fallback engages — above
    ``_MAX_ISIN_KEYS`` the residual predicate rides a broadcast left-semi
    join instead. Gate: force the threshold to 1, check the plan carries
    no In/InSet on the key while results still equal the recompute."""
    fact, dim, mv = paths
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    monkeypatch.setattr(J, "_MAX_ISIN_KEYS", 1)
    captured = {}
    orig = J._read_fact_keys

    def spy(spark_, fact_path, version, key_col, keys, key_rows=None):
        df = orig(spark_, fact_path, version, key_col, keys, key_rows=key_rows)
        captured["plan"] = df._jdf.queryExecution().toString()
        captured["n_keys"] = len(keys)
        return df

    monkeypatch.setattr(J, "_read_fact_keys", spy)
    S.delete_where(spark, fact, "trade_id in (3, 4, 8)")  # S3, S4 affected
    v = J.refresh_enriched_rollup(spark, fact, dim, mv)
    assert S._version_body(mv, v)["op"] == "upsert"
    assert captured["n_keys"] > 1
    assert " in (" not in captured["plan"].lower().replace("insert", "")
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)


def test_broad_change_falls_back_to_rebuild_by_key_fraction(spark, paths):
    """r13: a change touching most join keys (here: an erasure spread
    over every symbol) re-aggregates nearly the whole fact through the
    'scoped' path and leaves eq-delete read debt — past
    ``max_scoped_frac`` of the dim's keys the dispatch rebuilds. A
    one-key dim update still swaps scoped."""
    fact, dim, mv = paths
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    S.delete_where(spark, fact, "trade_id % 2 = 0")  # all 5 symbols hit
    v = J.refresh_enriched_rollup(spark, fact, dim, mv)
    m = S._version_body(mv, v)
    assert m["op"] == "rebuild"
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)
    S.upsert_by_keys(
        _dim(spark, {"S2": "REORG"}), dim, cols=["symbol"], ts_col="ts"
    )
    v2 = J.refresh_enriched_rollup(spark, fact, dim, mv)
    assert S._version_body(mv, v2)["op"] == "upsert"
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)


def test_scd2_dim_streams_into_enriched_mv_end_to_end(spark, tmp_path):
    """r12 verdict #8 (production shape): the dim is an SCD2 HISTORY
    table maintained by the streaming CDC seat
    (``streaming/cdc.start_scd2_apply_snapshot``); its CURRENT view —
    passed as ``dim_view`` — is the unique-key dim the enriched-MV
    contract demands (the remediation the duplicate-key error message
    promises). A streamed dim change propagates SCD2 merge → key-scoped
    enriched refresh → read, equal to the batch recompute."""
    from crypto_clickhouse_poc_spark.operators.warehouse import SCD2_OPEN
    from crypto_clickhouse_poc_spark.streaming import cdc

    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    mv = str(tmp_path / "mv")
    S.append(_batch(spark, range(60)), fact)
    dim0 = spark.createDataFrame(
        [
            (f"S{i}", "EVEN" if i % 2 == 0 else "ODD", 0.0)
            for i in range(5)
        ],
        "key string, name string, acctbal double",
    ).select(
        "key", "name", "acctbal",
        F.to_timestamp(F.lit("2024-01-01")).alias("effective_from"),
        F.to_timestamp(F.lit(SCD2_OPEN)).alias("effective_to"),
        F.lit(1).alias("is_current"),
    )
    S.append(dim0, dim, ts_col="effective_from")

    def view(d):
        return d.where(F.col("is_current") == 1).select(
            F.col("key").alias("symbol"), F.col("name").alias("sector")
        )

    def expect():
        j = S.read_snapshot(spark, fact).join(
            view(S.read_snapshot(spark, dim)), "symbol", "inner"
        )
        return sorted(
            tuple(r)
            for r in j.groupBy(
                F.date_trunc("minute", F.col("ts")).alias("minute"), "sector"
            )
            .agg(
                F.min_by("price", F.struct("ts", "trade_id")).alias("open"),
                F.max("price").alias("high"),
                F.min("price").alias("low"),
                F.max_by("price", F.struct("ts", "trade_id")).alias("close"),
                F.sum("qty").alias("volume"),
                F.count("*").alias("trades"),
            )
            .collect()
        )

    J.refresh_enriched_rollup(spark, fact, dim, mv, dim_view=view)
    assert _mv_rows(spark, mv) == expect()
    # the streamed dim change: S1 reorganizes, arriving through the CDC
    # stream into the SCD2 snapshot log (op "merge")
    upd_dir = tmp_path / "upd"
    spark.createDataFrame(
        [("S1", "REORG", 0.0)], "key string, name string, acctbal double"
    ).write.parquet(str(upd_dir))
    stream = (
        spark.readStream.schema("key string, name string, acctbal double")
        .parquet(str(upd_dir))
    )
    q = cdc.start_scd2_apply_snapshot(stream, dim, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # SCD2 invariants: history kept, current view unique
    hist = S.read_snapshot(spark, dim)
    assert hist.where("key = 'S1'").count() == 2
    assert view(hist).groupBy("symbol").count().where("count > 1").count() == 0
    v = J.refresh_enriched_rollup(spark, fact, dim, mv, dim_view=view)
    assert S._version_body(mv, v)["op"] == "upsert"  # key-scoped, no rebuild
    got = _mv_rows(spark, mv)
    assert got == expect()
    assert any(r[1] == "REORG" for r in got)
    # and the next fact append stays O(delta)
    S.append(_batch(spark, range(200, 220)), fact)
    v2 = J.refresh_enriched_rollup(spark, fact, dim, mv, dim_view=view)
    assert S._version_body(mv, v2)["op"] == "append"
    assert _mv_rows(spark, mv) == expect()
