"""Key-clustered snapshot layout (r13): ``cluster_cols`` writes
range-partition each commit on (month, key, ts) so every file covers a
contiguous KEY range, and the manifest records the key's [min, max] —
including string keys, which footer-stats collection otherwise skips.
Key-scoped readers (``prune_files_by_values``, logmv's scoped refresh,
joinmv's fact read) then prune at the FILE level instead of scanning the
full width of a time slice — the ClickHouse ``ORDER BY (symbol, ts)``
layout lesson (reference sql/V1__create_trades_table.sql:15) expressed
as a snapshot-log write option. Pruning stays advisory: every gate here
also checks result parity with the unpruned read."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from crypto_clickhouse_poc_spark.plans import joinmv as J
from crypto_clickhouse_poc_spark.plans import logmv as M
from crypto_clickhouse_poc_spark.plans import snapshots as S
from crypto_clickhouse_poc_spark.streaming.bars import bars_batch

SCHEMA = (
    "ts timestamp, symbol string, trade_id long, price double, qty double,"
    " ingested_at long"
)
T0 = datetime(2024, 3, 1, 9, 0, 0)


def _batch(spark, ids, n_syms=8):
    rows = [
        (
            T0 + timedelta(minutes=i % 3, seconds=i % 60),
            f"S{i % n_syms}",
            i,
            float(100 + (i * 7) % 31),
            1.0 + (i % 5),
            0,
        )
        for i in ids
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_clustered_append_records_string_key_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(2000)), path, cluster_cols=("symbol",), n_files=8)
    m = S.manifest(path, S.latest_version(path))
    assert len(m["files"]) >= 4
    ranged = [f for f in m["files"] if "symbol" in f.get("cols", {})]
    assert ranged == m["files"]  # every clustered file carries key stats
    # contiguous, non-degenerate ranges: at least one file excludes S0
    assert any(f["cols"]["symbol"][0] > "S0" for f in m["files"])
    # and the read through the prune equals the full filtered read
    pruned = S.prune_files_by_values(m["files"], "symbol", ["S3"])
    assert 0 < len(pruned) < len(m["files"])
    full = sorted(
        map(tuple, S.read_snapshot(spark, path).where("symbol='S3'").collect())
    )
    via = sorted(
        map(
            tuple,
            S.read_snapshot(
                spark,
                path,
                extra_prune=lambda fs: S.prune_files_by_values(fs, "symbol", ["S3"]),
            )
            .where("symbol='S3'")
            .collect(),
        )
    )
    assert full == via and full


def test_prune_files_by_values_edge_cases():
    files = [
        {"path": "a", "cols": {"symbol": ["A", "C"]}},
        {"path": "b", "cols": {"symbol": ["D", "F"]}},
        {"path": "c"},  # no stats: never pruned
        {"path": "d", "cols": {"symbol": [1, 9]}},  # schema drift: kept
    ]
    got = {f["path"] for f in S.prune_files_by_values(files, "symbol", ["E"])}
    assert got == {"b", "c", "d"}
    # a value sitting exactly on a bound is inside the range
    got = {f["path"] for f in S.prune_files_by_values(files, "symbol", ["C"])}
    assert got == {"a", "c", "d"}
    # empty probe set: advisory no-op (the caller's predicate is empty)
    assert S.prune_files_by_values(files, "symbol", []) == files
    # value outside every range: only statless/incomparable files remain
    got = {f["path"] for f in S.prune_files_by_values(files, "symbol", ["Z"])}
    assert got == {"c", "d"}


def test_cluster_and_zorder_are_mutually_exclusive(spark, tmp_path):
    with pytest.raises(ValueError, match="mutually exclusive"):
        S._write_txn(
            _batch(spark, range(10)),
            str(tmp_path / "t"),
            "ts",
            zorder_cols=("ts", "price"),
            cluster_cols=("symbol",),
        )


def _mv_rows(spark, mv):
    return sorted(
        tuple(r)
        for r in M.read_rollup(spark, mv)
        .select("minute", "symbol", "open", "high", "low", "close", "volume", "trades")
        .collect()
    )


def test_scoped_refresh_prunes_clustered_base_at_file_level(
    spark, tmp_path, monkeypatch
):
    """The r12 verdict's one remaining scan-width gap: on a symbol-
    clustered base, an erasure touching one symbol must re-aggregate from
    that symbol's files only. The default rollup declares
    ``key_col="symbol"``, so the prune needs no opt-in. Gate: each of two
    successive scoped refreshes' prune call drops files, and the MV
    still equals the batch recompute after each."""
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    S.append(_batch(spark, range(2000)), base, cluster_cols=("symbol",), n_files=8)
    M.refresh_rollup(spark, base, mv)
    real = S.prune_files_by_values
    for erasure in (
        "symbol = 'S3' and trade_id < 100",
        "symbol = 'S5' and trade_id < 200",
    ):
        S.delete_where(spark, base, erasure)
        effects: list[tuple[int, int]] = []

        def spy(files, key_col, values, **kw):
            out = real(files, key_col, values, **kw)
            effects.append((len(files), len(out)))
            return out

        monkeypatch.setattr(S, "prune_files_by_values", spy)
        v = M.refresh_rollup(spark, base, mv)
        monkeypatch.undo()
        assert S.manifest(mv, v)["op"] == "upsert"
        assert any(n_out < n_in for n_in, n_out in effects), effects
        assert _mv_rows(spark, mv) == sorted(
            tuple(r)
            for r in bars_batch(S.read_snapshot(spark, base))
            .select(
                "minute", "symbol", "open", "high", "low", "close", "volume",
                "trades",
            )
            .collect()
        )


def test_joinmv_fact_read_prunes_clustered_fact_at_file_level(
    spark, tmp_path, monkeypatch
):
    fact, dim, mv = (
        str(tmp_path / "fact"),
        str(tmp_path / "dim"),
        str(tmp_path / "mv"),
    )
    S.append(_batch(spark, range(2000)), fact, cluster_cols=("symbol",), n_files=8)
    dim_df = spark.createDataFrame(
        [(f"S{i}", "EVEN" if i % 2 == 0 else "ODD", T0) for i in range(8)],
        "symbol string, sector string, ts timestamp",
    )
    S.append(dim_df, dim)
    J.refresh_enriched_rollup(spark, fact, dim, mv)
    # one-key dim update: the scoped fact read must open a file subset
    S.upsert_by_keys(
        spark.createDataFrame(
            [("S3", "REORG", T0)], "symbol string, sector string, ts timestamp"
        ),
        dim,
        cols=["symbol"],
        ts_col="ts",
    )
    effects: list[tuple[int, int]] = []
    real = S.prune_files_by_values

    def spy(files, key_col, values, **kw):
        out = real(files, key_col, values, **kw)
        effects.append((len(files), len(out)))
        return out

    monkeypatch.setattr(S, "prune_files_by_values", spy)
    v = J.refresh_enriched_rollup(spark, fact, dim, mv)
    monkeypatch.undo()
    assert S._version_body(mv, v)["op"] == "upsert"
    assert any(n_out < n_in for n_in, n_out in effects), effects
    # parity with the batch recompute of fact ⋈ dim
    from pyspark.sql import functions as F

    j = S.read_snapshot(spark, fact).join(
        S.read_snapshot(spark, dim).select("symbol", "sector"), "symbol", "inner"
    )
    expect = sorted(
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

    def _merge_sector(partials):
        return partials.groupBy("minute", "sector").agg(
            F.min_by("open", F.col("open_key")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("close_key")).alias("close"),
            F.sum("volume").alias("volume"),
            F.sum("trades").alias("trades"),
        )

    got = sorted(
        tuple(r)
        for r in _merge_sector(S.read_snapshot(spark, mv))
        .select("minute", "sector", "open", "high", "low", "close", "volume", "trades")
        .collect()
    )
    assert got == expect


def test_clustered_compaction_preserves_rows_and_gains_stats(spark, tmp_path):
    """compact_snapshot(cluster_cols=...) converges an unclustered table
    to the key-clustered layout: same rows, every rewritten file carries
    key stats — the maintenance-tick path to retrofit old tables."""
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(0, 700)), path)
    S.append(_batch(spark, range(700, 1400)), path)
    before = sorted(map(tuple, S.read_snapshot(spark, path).collect()))
    assert not any(
        "symbol" in f.get("cols", {})
        for f in S.manifest(path, S.latest_version(path))["files"]
    )
    v = S.compact_snapshot(spark, path, cluster_cols=("symbol",), n_files=4)
    m = S.manifest(path, v)
    assert all("symbol" in f.get("cols", {}) for f in m["files"])
    assert sorted(map(tuple, S.read_snapshot(spark, path).collect())) == before
