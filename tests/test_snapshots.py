"""Snapshot-log (time travel / metadata-only maintenance) gates.

Versioning semantics have no SQL oracle; like plans/migrate and
plans/layout these are pytest-gated: every version stays exactly
reproducible, maintenance ops are metadata-only, the commit protocol
survives races, vacuum deletes exactly the unreferenced files."""

from __future__ import annotations

import json
import os
from datetime import datetime
from pathlib import Path

import pytest

from crypto_clickhouse_poc_spark.plans import snapshots as S


def _batch(spark, month: int, ids, version: int = 0):
    rows = [
        (datetime(2024, month, 1 + (i % 27)), "BTC", i, float(100 + i), version)
        for i in ids
    ]
    return spark.createDataFrame(
        rows, "ts timestamp, symbol string, trade_id long, price double, ingested_at long"
    )


@pytest.fixture()
def table(tmp_path, spark):
    path = str(tmp_path / "snap_table")
    S.append(_batch(spark, 1, range(10)), path)  # v0: Jan, ids 0-9
    S.append(_batch(spark, 2, range(10, 16)), path)  # v1: Feb, ids 10-15
    return path


def _ids(df):
    return sorted(r.trade_id for r in df.collect())


def test_time_travel_reads_every_version(spark, table):
    assert S.latest_version(table) == 1
    assert _ids(S.read_snapshot(spark, table, version=0)) == list(range(10))
    assert _ids(S.read_snapshot(spark, table)) == list(range(16))


def test_compact_swaps_without_touching_old_versions(spark, table):
    # duplicate ids 0-4 with a newer ingested_at — compact keeps the max
    S.append(_batch(spark, 1, range(5), version=9), table)
    v = S.compact_snapshot(spark, table)
    head = S.read_snapshot(spark, table)
    assert _ids(head) == list(range(16))  # dups collapsed
    kept = {r.trade_id: r.ingested_at for r in head.collect()}
    assert all(kept[i] == 9 for i in range(5))
    # pre-compact version still reads the duplicate rows from the old files
    assert len(_ids(S.read_snapshot(spark, table, version=v - 1))) == 21
    assert S.history(table)[-1]["op"] == "compact"


def test_retention_is_metadata_only_and_time_travels(spark, table):
    files_before = sorted(p for p in Path(table).rglob("*.parquet"))
    v = S.drop_months(table, "202402")
    assert sorted(Path(table).rglob("*.parquet")) == files_before  # zero data I/O
    assert _ids(S.read_snapshot(spark, table)) == list(range(10, 16))
    # the dropped month is still served by the prior version
    assert _ids(S.read_snapshot(spark, table, version=v - 1)) == list(range(16))


def test_manifest_level_month_pruning_hands_scan_only_matching_files(spark, table):
    df = S.read_snapshot(spark, table, months=("202402", "202402"))
    assert _ids(df) == list(range(10, 16))
    for f in df.inputFiles():
        assert "p_month=202402" in f  # January files never reach the scan


def test_rollback_restores_and_preserves_history(spark, table):
    S.drop_months(table, "202402")
    S.rollback(table, to_version=1)
    assert _ids(S.read_snapshot(spark, table)) == list(range(16))
    ops = [h["op"] for h in S.history(table)]
    assert ops == ["append", "append", "retention", "rollback"]


def test_commit_race_retries_and_keeps_the_winners_files(spark, table):
    # simulate a concurrent writer claiming v2 between head-read and link,
    # with a file of its own — the loser must re-compose onto v2's list,
    # not clobber it with the stale v1 list (r8 review data-loss repro)
    log = Path(table) / S.LOG_DIR
    racer = json.loads((log / "v1.json").read_text())
    racer["version"] = 2
    racer["parent"] = 1
    winner_file = {"path": "data/txn=winner00/p_month=209912/part-w.parquet",
                   "p_month": "209912"}
    racer["files"] = racer["files"] + [winner_file]
    (log / "v2.json").write_text(json.dumps(racer))
    v = S.append(_batch(spark, 3, range(16, 18)), table)
    assert v == 3  # lost the race at 2, committed at 3
    head_files = {f["path"] for f in S.manifest(table, 3)["files"]}
    assert winner_file["path"] in head_files  # the winner's commit survives
    got = S.read_snapshot(
        spark, table, months=("202401", "202403")
    )  # skip the winner's fake file
    assert _ids(got) == list(range(18))


def test_compact_conflict_is_detected_not_silently_lost(spark, table):
    # compact's rewrite dedups the snapshot it READ; if another commit
    # lands in between, committing it would drop the interleaver's rows
    with pytest.raises(S.CommitConflict):
        S._commit(table, lambda hf: hf, "compact", expected_parent=0)  # head is 1


def test_txn_app_without_txn_id_is_rejected_upfront(spark, table):
    with pytest.raises(ValueError, match="together"):
        S.append(_batch(spark, 3, [99]), table, txn_app="job")


def test_register_snapshot_serves_sql_with_time_travel(spark, table):
    """The SQL front door: head and pinned-version views answer
    spark.sql, and the pinned view does not move when the table does."""
    S.register_snapshot(spark, table, "snap_head")
    S.register_snapshot(spark, table, "snap_v0", version=0)
    n_head = spark.sql("SELECT count(*) AS n FROM snap_head").first().n
    assert n_head == 16 and spark.sql("SELECT count(*) AS n FROM snap_v0").first().n == 10
    S.append(_batch(spark, 3, [500]), table)
    # pinned views hold their manifest; re-register to follow the head
    assert spark.sql("SELECT count(*) AS n FROM snap_head").first().n == n_head
    S.register_snapshot(spark, table, "snap_head")
    assert spark.sql("SELECT count(*) AS n FROM snap_head").first().n == n_head + 1
    assert spark.sql(
        "SELECT max(trade_id) AS m FROM snap_head WHERE symbol = 'BTC'"
    ).first().m == 500


def test_txn_dir_ids_can_never_parse_as_numbers(spark, table):
    """A raw 12-hex txn id occasionally matches ^\\d+e\\d+$ (about 1 in
    250 draws, e.g. "9536e1363716"); Spark's partition-value inference
    then parses it as scientific-notation BigDecimal and toBigInteger
    expands 10^1363716 — observed pinning a core for 23+ minutes on the
    first read of the table. The writer must letter-prefix every txn id
    so inference can only ever land on string."""
    import re

    for v in range(S.latest_version(table) + 1):
        for f in S.manifest(table, v)["files"]:
            assert re.match(r"data/txn=t[0-9a-f]{12}/", f["path"]), f["path"]


def test_empty_reads_return_empty_frames_not_errors(spark, table):
    # retention that drops everything -> head read is a valid empty frame
    S.drop_months(table, "999912")
    empty = S.read_snapshot(spark, table)
    assert empty.count() == 0
    assert "trade_id" in empty.columns
    # pruning to a range with no files -> empty, same schema
    assert S.read_snapshot(spark, table, version=1, months=("199001", "199002")).count() == 0
    # polling changes at the head with no new appends -> empty delta
    S.rollback(table, 1)
    head = S.latest_version(table)
    inc = S.read_changes(spark, table, since_version=head)
    assert inc.count() == 0 and "trade_id" in inc.columns


def test_vacuum_sweeps_orphan_manifest_tmps(spark, table):
    tmp = Path(table) / S.LOG_DIR / ".tmp-deadbeef.json"
    tmp.write_text("{}")
    S.vacuum(table)
    assert not tmp.exists()


def test_vacuum_deletes_exactly_unreferenced_and_breaks_old_reads(spark, table):
    v_compact = S.compact_snapshot(spark, table)
    live = {f["path"] for f in S.manifest(table, v_compact)["files"]}
    on_disk = {
        str(p.relative_to(Path(table))) for p in Path(table).rglob("*.parquet")
    }
    removed = S.vacuum(table)
    assert set(removed) == on_disk - live
    assert _ids(S.read_snapshot(spark, table)) == list(range(16))  # head intact
    with pytest.raises(Exception):
        S.read_snapshot(spark, table, version=0).collect()


def test_vacuum_sweeps_orphans_from_crashed_appends(spark, table):
    # a crashed append: data written, commit never happened
    orphan = Path(table) / S.DATA_DIR / f"{S.TXN_COL}=deadbeef" / "p_month=209901"
    orphan.mkdir(parents=True)
    (orphan / "part-0.parquet").write_bytes(b"not really parquet")
    removed = S.vacuum(table)
    assert any("deadbeef" in r for r in removed)
    assert not (Path(table) / S.DATA_DIR / f"{S.TXN_COL}=deadbeef").exists()
    assert _ids(S.read_snapshot(spark, table)) == list(range(16))


def test_read_changes_returns_only_the_delta(spark, table):
    inc = S.read_changes(spark, table, since_version=0)
    assert _ids(inc) == list(range(10, 16))
    assert _ids(S.read_changes(spark, table, since_version=-1)) == list(range(16))


def test_col_ranges_prune_files_and_preserve_semantics(spark, tmp_path):
    """Generalized data skipping (r10): ``col_ranges`` prunes at the
    MANIFEST level on ANY numeric column the commit recorded stats for
    and re-applies the predicate — equal to the full-scan filter,
    strictly fewer files opened, stat-less files conservatively read."""
    path = str(tmp_path / "t")
    # three appends with DISJOINT price ranges -> disjoint footer stats
    for k in range(3):
        rows = [
            (datetime(2024, 1, 1 + i % 5), "BTC", k * 100 + i, float(k * 100 + i), 0)
            for i in range(40)
        ]
        S.append(
            spark.createDataFrame(
                rows,
                "ts timestamp, symbol string, trade_id long, price double,"
                " ingested_at long",
            ),
            path,
        )
    full = S.read_snapshot(spark, path)
    want = sorted(
        r.trade_id for r in full.where("price >= 110 and price <= 130").collect()
    )
    pruned = S.read_snapshot(spark, path, col_ranges={"price": (110.0, 130.0)})
    assert sorted(r.trade_id for r in pruned.collect()) == want
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # a range no file's stats admit -> empty, schema intact
    none = S.read_snapshot(spark, path, col_ranges={"price": (9_000.0, 9_100.0)})
    assert none.count() == 0 and "price" in none.columns
    # an entry without stats (footer stats are optional) is read, not
    # pruned
    m = S.manifest(path, S.latest_version(path))
    statless = [{k: v for k, v in f.items() if k != "cols"} for f in m["files"]]
    S._commit(path, lambda _hf: statless, "append")
    conservative = S.read_snapshot(
        spark, path, col_ranges={"price": (110.0, 130.0)}
    )
    assert sorted(r.trade_id for r in conservative.collect()) == want


def test_read_changes_op_scan_never_materializes_manifests(
    spark, table, monkeypatch
):
    """The op check over ``(since, to]`` must read raw version bodies, not
    ``manifest()`` — which on a sharded table splices every month shard to
    answer a one-string question. A long-idle consumer catching up over
    thousands of commits would otherwise pay O(range × shards) JSON parses
    before reading a single data row (r9 verdict's efficiency finding).
    Pin: exactly TWO manifest() materializations per read_changes call
    (the ``since`` and ``to`` file lists), independent of range length."""
    for k in range(6):  # 6 more appends -> range of 8 commits
        S.append(_batch(spark, 2, range(100 + 10 * k, 110 + 10 * k)), table)
    calls = []
    real = S.manifest
    monkeypatch.setattr(
        S, "manifest", lambda *a, **kw: calls.append(a) or real(*a, **kw)
    )
    inc = S.read_changes(spark, table, since_version=0)
    assert len(calls) == 2, calls
    assert _ids(inc) == list(range(10, 16)) + list(range(100, 160))


def test_read_changes_refuses_non_append_ranges(spark, table):
    S.drop_months(table, "202402")
    with pytest.raises(ValueError, match="non-append"):
        S.read_changes(spark, table, since_version=0)
    # a bounded range that stops before the retention commit still works
    assert _ids(S.read_changes(spark, table, since_version=0, to_version=1)) == list(
        range(10, 16)
    )


def test_txn_append_is_idempotent_per_app(spark, table):
    v = S.append(_batch(spark, 3, range(16, 18)), table, txn_app="job", txn_id=0)
    files = {f["path"] for f in S.manifest(table, v)["files"]}
    # replayed batch: same app, same id — metadata no-op, nothing written
    v2 = S.append(_batch(spark, 3, range(90, 99)), table, txn_app="job", txn_id=0)
    assert v2 == v
    assert {f["path"] for f in S.manifest(table, S.latest_version(table))["files"]} == files
    # next batch id commits; watermark advances
    S.append(_batch(spark, 3, range(18, 20)), table, txn_app="job", txn_id=1)
    assert S.last_txn(table, "job") == 1
    assert _ids(S.read_snapshot(spark, table)) == list(range(20))


def test_snapshot_sink_streams_exactly_once_with_versioned_history(spark, tmp_path):
    """Replay → snapshot-committing sink: every micro-batch is a committed
    version, the final table matches the fixture exactly, and each
    intermediate version stays readable (time travel over stream history)."""
    from crypto_clickhouse_poc_spark.sources.replay import (
        read_replay_stream,
        trades_to_event_lines,
        write_replay_chunks,
    )
    from crypto_clickhouse_poc_spark.streaming.snapsink import start_ingest_snapshot
    from tests.test_streaming import _expected, _fixture_rows

    rows = _fixture_rows()
    replay_dir, dest, ckpt = (str(tmp_path / d) for d in ("replay", "snap", "ckpt"))
    write_replay_chunks(trades_to_event_lines(rows), replay_dir, num_chunks=4)
    q = start_ingest_snapshot(
        read_replay_stream(spark, replay_dir), dest, ckpt, trigger_sec=0
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    head = S.latest_version(dest)
    assert head is not None
    assert all(h["op"] == "append" for h in S.history(dest))
    got = sorted(
        (r["symbol"], r["trade_id"], r["price"], r["qty"], r["ts"], r["is_buyer_maker"])
        for r in S.read_snapshot(spark, dest)
        .select("symbol", "trade_id", "price", "qty", "ts", "is_buyer_maker")
        .collect()
    )
    assert got == _expected(rows)
    assert S.last_txn(dest, "ingest-snapshot") is not None
    # every stream-history version is a consistent readable snapshot
    sizes = [S.read_snapshot(spark, dest, version=v).count() for v in range(head + 1)]
    assert sizes == sorted(sizes) and sizes[-1] == len(rows)


def test_footer_stats_prune_files_below_partition_level(spark, table):
    """Commits record per-file (rows, ts_min, ts_max) from the parquet
    footers; a ts_range read prunes at the manifest level INSIDE a month
    and re-applies the predicate, so results equal full-read-then-filter."""
    m = S.manifest(table, S.latest_version(table))
    assert all("ts_min" in f and "rows" in f for f in m["files"])

    # January days 1-27 live in v0; ask for a 2-day slice of January
    lo, hi = datetime(2024, 1, 3), datetime(2024, 1, 5, 23)
    df = S.read_snapshot(spark, table, ts_range=(lo, hi))
    full = S.read_snapshot(spark, table)
    want = sorted(
        r.trade_id for r in full.collect() if lo <= r.ts <= hi
    )
    assert _ids(df) == want and want  # non-degenerate slice
    # the February file's stats exclude the range -> never reaches the scan
    for f in df.inputFiles():
        assert "p_month=202402" not in f


@pytest.mark.parametrize("seed", [7, 23, 41])
def test_random_op_sequences_match_pure_model(spark, tmp_path, seed, monkeypatch):
    """Randomized model check: any interleaving of append / duplicate-key
    append / compact / metadata-TTL / rollback / merge-into / DV-delete
    leaves every version's read equal to a pure-Python replay of the same
    ops (the log is the model's history, nothing more). Checkpoints fire
    every 3 commits (r9) and two invariants hold after EVERY op: the head
    resolves without the best-effort hint, and history() through the
    checkpoint equals the direct manifest walk."""
    import random as rnd

    monkeypatch.setattr(S, "CHECKPOINT_EVERY", 3)
    monkeypatch.setattr(S, "SHARD_FILES", 3)  # r9: the whole sequence runs sharded
    r = rnd.Random(seed)
    path = str(tmp_path / "model_table")

    def dedup(rows):
        best = {}
        for tid, ver, month in rows:
            if tid not in best or ver > best[tid][1]:
                best[tid] = (tid, ver, month)
        return sorted(best.values())

    model_versions: list[list] = []  # version -> rows [(trade_id, ver, month)]
    names_at: list[str] = []  # version -> logical name of the version col
    vname = "ingested_at"  # current logical name (r14 rename op toggles)
    cur: list = []
    next_id = 0

    def _named(df):
        # post-rename appends must carry the CURRENT logical name — the
        # retired-name commit gate refuses the old one (by design)
        return (
            df if vname == "ingested_at"
            else df.withColumnRenamed("ingested_at", vname)
        )

    for step in range(10):
        ops = [
            "append", "append_dup", "compact", "drop", "rollback",
            "merge", "delete", "eq_delete", "optimize", "rename",
        ]
        op = r.choice(ops if model_versions else ["append"])
        if op == "append":
            ids = list(range(next_id, next_id + r.randint(1, 4)))
            next_id += len(ids)
            month = r.choice([1, 2, 3])
            S.append(_named(_batch(spark, month, ids, version=step)), path)
            cur = cur + [(i, step, month) for i in ids]
        elif op == "append_dup" and cur:
            tid, _, month = r.choice(cur)
            S.append(_named(_batch(spark, month, [tid], version=step)), path)
            cur = cur + [(tid, step, month)]
        elif op == "append_dup":
            continue
        elif op == "compact":
            # post-rename the dedup version column carries the CURRENT
            # logical name — the realistic caller contract
            S.compact_snapshot(
                spark, path, keys=("ts", "symbol", "trade_id"),
                version_col=vname,
            )
            cur = dedup(cur)
        elif op == "drop":
            cutoff = f"20240{r.choice([2, 3])}"
            S.drop_months(path, cutoff)
            cur = [t for t in cur if f"20240{t[2]}" >= cutoff]
        elif op == "merge" and cur:
            # update every copy of one live key + insert one fresh key —
            # through the copy-on-write MERGE (keys include ts, so the
            # source reproduces the deterministic per-(id, month) ts)
            tid, _, month = r.choice(cur)
            month_new = r.choice([1, 2, 3])
            src = _batch(spark, month, [tid], version=step).union(
                _batch(spark, month_new, [next_id], version=step)
            )
            S.merge_into(
                spark, path, _named(src), keys=["ts", "symbol", "trade_id"]
            )
            cur = [
                (t, step if (t == tid and m == month) else v, m)
                for t, v, m in cur
            ] + [(next_id, step, month_new)]
            next_id += 1
        elif op == "delete" and cur:
            # merge-on-read DV delete of every copy of one live key
            tid = r.choice(cur)[0]
            S.delete_where(spark, path, f"trade_id = {tid}")
            cur = [t for t in cur if t[0] != tid]
        elif op == "eq_delete" and cur:
            # equality delete of one live key: every CURRENT copy's file
            # predates the delete, so all of them drop (a later append of
            # the same key is revived by the sequence rule — exercised by
            # the model whenever append_dup re-picks a deleted id)
            tid = r.choice(cur)[0]
            import pyspark.sql.functions as _F

            S.delete_by_keys(
                spark,
                path,
                spark.range(1).select(_F.lit(tid).alias("trade_id")),
            )
            cur = [t for t in cur if t[0] != tid]
        elif op == "rename":
            # metadata-only rename of the MODEL-READ column (r14): old
            # files keep serving through the era map; every later read —
            # including time travel and post-compact — must translate
            new = "ingested_v2" if vname == "ingested_at" else "ingested_at"
            S.rename_column(path, vname, new)
            vname = new
        elif op == "optimize":
            # pure re-layout (r9): bin-pack sub-threshold files, carry
            # the rest; position deletes on rewritten files materialize,
            # so the visible row set — the model — is unchanged
            if S.optimize_small_files(spark, path, min_rows=3) == len(
                model_versions
            ) - 1:
                continue  # <2 small files: no commit this step
        elif op in ("merge", "delete", "eq_delete"):
            continue
        else:  # rollback
            v = r.randrange(len(model_versions))
            S.rollback(path, v)
            cur = list(model_versions[v])
            vname = names_at[v]  # restore includes the era map
        model_versions.append(list(cur))
        names_at.append(vname)

        # checkpoint invariants (r9)
        (Path(path) / S.LOG_DIR / "_head.hint").unlink(missing_ok=True)
        assert S.latest_version(path) == len(model_versions) - 1
        want_hist = [
            {
                "version": v,
                "op": S.manifest(path, v)["op"],
                "parent": S.manifest(path, v)["parent"],
                "n_files": len(S.manifest(path, v)["files"]),
            }
            for v in range(len(model_versions))
        ]
        assert S.history(path) == want_hist, f"step {step} op {op}"

        got = sorted(
            (rr.trade_id, rr[vname], int(str(rr.p_month)[-2:]))
            for rr in S.read_snapshot(spark, path).collect()
        ) if cur else None
        if cur:
            assert got == sorted(cur), f"step {step} op {op}"

    # time travel: three random historical versions replay exactly
    for v in r.sample(range(len(model_versions)), min(3, len(model_versions))):
        want = sorted(model_versions[v])
        if not want:
            continue
        got = sorted(
            (rr.trade_id, rr[names_at[v]], int(str(rr.p_month)[-2:]))
            for rr in S.read_snapshot(spark, path, version=v).collect()
        )
        assert got == want, f"version {v}"


def test_maybe_compact_snapshot_policy(spark, table):
    # under threshold: one manifest read, no commit
    before = S.latest_version(table)
    assert S.maybe_compact_snapshot(spark, table, max_live_files=64) is None
    assert S.latest_version(table) == before
    # over threshold: compacts and bounds the live file count
    v = S.maybe_compact_snapshot(spark, table, max_live_files=1)
    assert v == before + 1
    assert S.history(table)[-1]["op"] == "compact"
    assert _ids(S.read_snapshot(spark, table)) == list(range(16))


def test_truly_concurrent_appends_merge_without_loss(spark, tmp_path):
    """REAL thread-level concurrency (not a simulated race): four writers
    appending disjoint batches simultaneously must all land — the commit
    callback recomposes each loser onto the actual winner (the r8 review
    data-loss class, exercised end-to-end)."""
    import threading

    path = str(tmp_path / "conc_table")
    S.append(_batch(spark, 1, [0]), path)  # init v0

    errs = []

    def writer(lo):
        try:
            S.append(_batch(spark, 2, range(lo, lo + 3)), path)
        except Exception as e:  # noqa: BLE001 - surfacing to the assert
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(10 + 10 * i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    want = [0] + [x for lo in (10, 20, 30, 40) for x in range(lo, lo + 3)]
    assert _ids(S.read_snapshot(spark, path)) == sorted(want)
    assert S.latest_version(path) == 4  # v0 init + one commit per writer


def test_vacuum_retention_window_preserves_recent_time_travel(spark, table):
    # v2 = compact (new files), so v0/v1's files become unreferenced by
    # the head but stay referenced by... nothing >= v1 except v1 itself
    v2 = S.compact_snapshot(spark, table)
    removed = S.vacuum(table, retain_versions=2)  # keep v1 and v2 readable
    assert _ids(S.read_snapshot(spark, table, version=v2)) == list(range(16))
    assert _ids(S.read_snapshot(spark, table, version=v2 - 1)) == list(range(16))
    # v0 shared its files with v1, so nothing v0 needs was deletable here;
    # a second compact pushes v1's files out of the window and vacuum
    # then breaks it
    v3 = S.compact_snapshot(spark, table)
    S.vacuum(table, retain_versions=1)
    assert _ids(S.read_snapshot(spark, table, version=v3)) == list(range(16))
    with pytest.raises(Exception):
        S.read_snapshot(spark, table, version=v2 - 1).collect()


def test_zorder_compaction_makes_ts_range_reads_prune_within_month(spark, tmp_path):
    """Compacting with zorder_cols splits each month into contiguous
    (month, z) file ranges, so the manifest's per-file ts stats prune a
    narrow ts slice to a SUBSET of the month's files — and results still
    equal full-read-then-filter."""
    path = str(tmp_path / "ztab")
    # one month, days 1..27 interleaved across appends
    S.append(_batch(spark, 1, range(0, 54, 2)), path)
    S.append(_batch(spark, 1, range(1, 54, 2)), path)
    v = S.compact_snapshot(spark, path, zorder_cols=("ts", "price"), n_files=6)
    m = S.manifest(path, v)
    assert len(m["files"]) > 2  # the month actually split
    lo, hi = datetime(2024, 1, 2), datetime(2024, 1, 4, 23)
    df = S.read_snapshot(spark, path, ts_range=(lo, hi))
    full = S.read_snapshot(spark, path)
    want = sorted(r.trade_id for r in full.collect() if lo <= r.ts <= hi)
    assert _ids(df) == want and want
    assert len(df.inputFiles()) < len(m["files"])  # pruned below the month


def test_schema_evolution_merge_read(spark, tmp_path):
    path = str(tmp_path / "evo")
    S.append(_batch(spark, 1, range(3)), path)
    from pyspark.sql import functions as F

    evolved = _batch(spark, 2, range(3, 5)).withColumn("venue", F.lit("X"))
    S.append(evolved, path)
    df = S.read_snapshot(spark, path)
    assert "venue" in df.columns
    got = {r.trade_id: r.venue for r in df.collect()}
    assert got == {0: None, 1: None, 2: None, 3: "X", 4: "X"}


def test_diff_versions_classifies_added_removed_changed(spark, table):
    # v2: re-append ids 0-1 with a newer version (will CHANGE after
    # compact), v3 compact (dedup -> changed rows), v4 drop months
    # before February (-> January rows removed)
    S.append(_batch(spark, 1, range(2), version=7), table)
    v_compact = S.compact_snapshot(spark, table)
    S.drop_months(table, "202402")
    head = S.latest_version(table)

    d1 = {tuple(r)[:-1]: r.change_type for r in S.diff_versions(spark, table, 1, v_compact).collect()}
    # vs v1: ids 16+ don't exist; ids 0-1 changed (ingested_at 0 -> 7)
    kinds1 = sorted(set(d1.values()))
    assert kinds1 == ["changed"]
    assert len(d1) == 2

    d2 = {r.trade_id: r.change_type for r in S.diff_versions(spark, table, v_compact, head).collect()}
    assert all(v == "removed" for v in d2.values())
    assert sorted(d2) == list(range(10))  # the dropped January rows

    d3 = S.diff_versions(spark, table, 0, 1).collect()
    assert all(r.change_type == "added" for r in d3) and len(d3) == 6


def test_head_hint_is_fast_path_and_never_wrong(spark, table):
    log = Path(table) / S.LOG_DIR
    assert (log / "_head.hint").read_text() == "1"
    # stale hint (writer crashed before updating it): probing forward finds
    # the true head
    (log / "_head.hint").write_text("0")
    assert S.latest_version(table) == 1
    # corrupt hint: falls back to the directory scan
    (log / "_head.hint").write_text("banana")
    assert S.latest_version(table) == 1
    # missing hint: scan fallback
    (log / "_head.hint").unlink()
    assert S.latest_version(table) == 1
    # a new commit restores the hint
    S.append(_batch(spark, 3, [50]), table)
    assert (log / "_head.hint").read_text() == "2"


def test_diff_of_identical_snapshot_with_duplicate_keys_is_empty(spark, table):
    # duplicate keys (same ts/symbol/trade_id, different ingested_at) are
    # the normal pre-compaction state; self-diff must be EMPTY, not a
    # cross-product of spurious "changed" rows
    S.append(_batch(spark, 1, range(3), version=7), table)
    head = S.latest_version(table)
    assert S.diff_versions(spark, table, head, head).count() == 0


def test_compacting_an_evolved_table_preserves_added_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "evc")
    S.append(_batch(spark, 1, range(3)), path)
    S.append(_batch(spark, 2, range(3, 5)).withColumn("venue", F.lit("X")), path)
    S.compact_snapshot(spark, path)
    df = S.read_snapshot(spark, path)
    assert "venue" in df.columns
    got = {r.trade_id: r.venue for r in df.collect()}
    assert got == {0: None, 1: None, 2: None, 3: "X", 4: "X"}
    # the change feed across the evolution boundary keeps the column too
    inc = S.read_changes(spark, path, since_version=0, to_version=1)
    assert {r.venue for r in inc.collect()} == {"X"}


def test_vacuum_sweeps_orphan_hint_tmps(spark, table):
    orphan = Path(table) / S.LOG_DIR / ".hint-deadbeef"
    orphan.write_text("0")
    S.vacuum(table)
    assert not orphan.exists()


def test_ts_range_read_is_driver_tz_independent(spark, tmp_path):
    """read_snapshot(ts_range=...) bounds are UTC instants for BOTH the
    manifest pruning (ISO-string compare vs UTC footer stats) and the
    row filter. Pre-r9 the filter was F.lit(naive datetime), which the
    driver re-interpreted through the OS timezone — under TZ=America/
    New_York the pruning kept the file but the filter dropped every
    in-range row (r8 ADVICE, medium)."""
    import os
    import time as _time
    from datetime import datetime

    path = str(tmp_path / "tz_range")
    rows = [
        (datetime(2024, 1, 1, 17, 0, 0), "BTC", i, float(i), 0) for i in range(4)
    ]
    schema = "ts timestamp, symbol string, trade_id long, price double, ingested_at long"
    S.append(spark.createDataFrame(rows, schema), path)  # written under UTC
    lo, hi = datetime(2024, 1, 1, 16), datetime(2024, 1, 1, 18)
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        got = S.read_snapshot(spark, path, ts_range=(lo, hi)).count()
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        _time.tzset()
    assert got == 4, "pruning and the row filter disagreed on the bounds"


def test_checkpoint_bounds_cold_start_reads(spark, tmp_path, monkeypatch):
    """The durable checkpoint (r9): cold latest_version with NO head
    hint resolves through _last_checkpoint with a bounded forward probe
    — never the full _log glob — and history() reads only the manifests
    committed since the checkpoint."""
    import pathlib

    monkeypatch.setattr(S, "CHECKPOINT_EVERY", 4)
    path = str(tmp_path / "ckpt_table")
    for i in range(10):
        S.append(_batch(spark, 1, [i]), path)  # v0..v9; checkpoints at 4, 8
    log = Path(path) / "_log"
    assert (log / "ckpt-v4.json").exists() and (log / "ckpt-v8.json").exists()
    assert (log / "_last_checkpoint").read_text() == "8"

    (log / "_head.hint").unlink()
    real_glob = pathlib.Path.glob

    def no_glob(self, pat):
        if self == log and pat == "v*.json":
            raise AssertionError("cold latest_version fell back to the full glob")
        return real_glob(self, pat)

    monkeypatch.setattr(pathlib.Path, "glob", no_glob)
    assert S.latest_version(path) == 9  # checkpoint 8 + forward probe
    monkeypatch.setattr(pathlib.Path, "glob", real_glob)

    calls: list[int] = []
    real_manifest = S.manifest
    monkeypatch.setattr(
        S, "manifest", lambda p, v: (calls.append(v), real_manifest(p, v))[1]
    )
    hist = S.history(path)
    assert [h["version"] for h in hist] == list(range(10))
    assert hist[3]["op"] == "append" and hist[3]["n_files"] == 4
    # r9 second pass: history reads RAW version bodies (files_ref "n"
    # sums give counts), never materializing sharded manifests at all
    assert calls == [], f"history materialized manifests: {calls}"


def test_vacuum_keeps_checkpoints_and_sweeps_their_tmps(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(S, "CHECKPOINT_EVERY", 2)
    path = str(tmp_path / "ckpt_vac")
    for i in range(3):
        S.append(_batch(spark, 1, [i]), path)
    log = Path(path) / "_log"
    (log / ".ckpt-deadbeef.json").write_text("{}")  # crashed writer artifact
    (log / ".ckptptr-deadbeef").write_text("2")
    S.vacuum(path)
    assert (log / "ckpt-v2.json").exists()
    assert (log / "_last_checkpoint").read_text() == "2"
    assert not (log / ".ckpt-deadbeef.json").exists()
    assert not (log / ".ckptptr-deadbeef").exists()
    # the checkpointed table still reads exactly
    assert _ids(S.read_snapshot(spark, path)) == [0, 1, 2]
