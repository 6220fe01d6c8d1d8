"""One-knob maintenance tick gates (plans/maintain): every concern —
MV refresh + MV compaction, small-file packing, compaction escalation,
bloom coverage, vacuum — serviced in one call, each by its own threshold
policy; reads stay exact through the whole sweep; an idle tick is
metadata-only (no new commits)."""

from __future__ import annotations

from datetime import datetime, timedelta

from crypto_clickhouse_poc_spark.plans import bloomidx as B
from crypto_clickhouse_poc_spark.plans import logmv as M
from crypto_clickhouse_poc_spark.plans import maintain as X
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
            "BTC" if i % 2 else "ETH",
            i,
            float(100 + (i * 7) % 31),
            1.0 + (i % 5),
            0,
        )
        for i in ids
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _base_sums(spark, base):
    return sorted(
        tuple(r)
        for r in M.final_sums(
            M.partial_sums(S.read_snapshot(spark, base))
        ).collect()
    )


def _mv_sums(spark, mv):
    return sorted(
        tuple(r)
        for r in M.read_rollup(spark, mv, rollup=M.SUMS).collect()
    )


def test_tick_services_everything_and_reads_stay_exact(spark, tmp_path):
    base = str(tmp_path / "base")
    mv = str(tmp_path / "mv")
    for k in range(3):  # micro-batch debt: three small txn dirs
        S.append(_batch(spark, range(k * 30, (k + 1) * 30)), base)
    spec = X.MVSpec(mv_path=mv, rollup=M.SUMS, max_live_files=2)
    r1 = X.maintenance_tick(
        spark, base, mvs=[spec], bloom_keys=["trade_id"], min_rows=10_000
    )
    assert r1[f"mv:{mv}"] is not None  # first refresh materialized the MV
    assert S._version_body(base, r1["optimize"])["op"] == "optimize"
    assert r1["bloom:trade_id"] is not None  # index built
    assert _mv_sums(spark, mv) == _base_sums(spark, base)
    assert B.read_point(spark, base, "trade_id", 42).count() == 1

    # an erasure + more data, then another tick: the MV consumes the
    # retraction incrementally (append, not rebuild), the bloom index
    # EXTENDS over the new files, reads stay exact
    S.delete_where(spark, base, "trade_id in (5, 6)")
    S.append(_batch(spark, range(90, 120)), base)
    r2 = X.maintenance_tick(
        spark,
        base,
        mvs=[spec],
        bloom_keys=["trade_id"],
        min_rows=10_000,
        compact_kw={"max_live_files": 1_000},
    )
    assert isinstance(r2[f"mv:{mv}"], int)
    assert S._version_body(mv, S.latest_version(mv))["op"] in (
        "append",
        "compact",  # the spec's max_live_files may trigger MV compaction
    )
    assert _mv_sums(spark, mv) == _base_sums(spark, base)
    assert B.read_point(spark, base, "trade_id", 100).count() == 1
    assert B.read_point(spark, base, "trade_id", 5).count() == 0  # erased

    # tick 3: the only base change since tick 2's refresh is tick 2's OWN
    # optimize — a layout no-op the MV consumes as an (empty) append that
    # just moves its watermark; reads unchanged
    r3 = X.maintenance_tick(
        spark,
        base,
        mvs=[spec],
        bloom_keys=["trade_id"],
        min_rows=10_000,
        compact_kw={"max_live_files": 1_000},
    )
    assert isinstance(r3[f"mv:{mv}"], int)
    assert _mv_sums(spark, mv) == _base_sums(spark, base)

    # tick 4: true steady state — nothing to do anywhere, NOTHING commits
    head_base, head_mv = S.latest_version(base), S.latest_version(mv)
    r4 = X.maintenance_tick(
        spark,
        base,
        mvs=[spec],
        bloom_keys=["trade_id"],
        min_rows=10_000,
        compact_kw={"max_live_files": 1_000},
    )
    assert r4[f"mv:{mv}"] is None
    assert r4["compact"] is None and r4["bloom:trade_id"] is None
    assert S.latest_version(base) == head_base
    assert S.latest_version(mv) == head_mv


def test_tick_services_enriched_mv(spark, tmp_path):
    """One maintenance_tick call keeps a fact ⋈ dim rollup current
    through a fact append AND a dim update (r12), and compacts its
    partials past the live-file threshold — every leg through the same
    rebase-safe policies the single-table MVs get."""

    from crypto_clickhouse_poc_spark.plans.maintain import (
        EnrichedMVSpec,
        maintenance_tick,
    )
    from tests.test_joinmv import DIM0, _batch, _dim, _expect, _mv_rows

    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    mv = str(tmp_path / "emv")
    S.append(_batch(spark, range(40)), fact)
    S.append(_dim(spark, DIM0), dim)
    spec = EnrichedMVSpec(mv_path=mv, dim_path=dim, max_live_files=1)
    r1 = maintenance_tick(spark, fact, enriched_mvs=[spec], min_rows=1)
    assert r1[f"joinmv:{mv}"] is not None
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)
    # fact append + dim update, both folded by the next tick
    S.append(_batch(spark, range(40, 80)), fact)
    S.upsert_by_keys(
        _dim(spark, {"S1": "MOVED"}), dim, cols=["symbol"], ts_col="ts"
    )
    r2 = maintenance_tick(spark, fact, enriched_mvs=[spec], min_rows=1)
    assert r2[f"joinmv:{mv}"] is not None
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)
    # partial-file debt crossed max_live_files -> the tick compacted
    assert f"joinmv-compact:{mv}" in r2
    assert _mv_rows(spark, mv) == _expect(spark, fact, dim)
