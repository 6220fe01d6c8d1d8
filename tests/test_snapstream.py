"""snapshot_commits streaming-source gates: incremental consumption,
offset checkpointing across restarts, startingVersion, and the
rewrite-refusal contract (shared with read_changes)."""

from __future__ import annotations

from datetime import datetime

import pytest

from crypto_clickhouse_poc_spark.plans import snapshots as S
from crypto_clickhouse_poc_spark.sources.snapstream import SnapshotCommitsDataSource


def _batch(spark, month: int, ids):
    rows = [(datetime(2024, month, 1), "BTC", i, float(i), 0) for i in ids]
    return spark.createDataFrame(
        rows, "ts timestamp, symbol string, trade_id long, price double, ingested_at long"
    )


@pytest.fixture()
def table(tmp_path, spark):
    path = str(tmp_path / "snap_table")
    S.append(_batch(spark, 1, range(5)), path)
    S.append(_batch(spark, 2, range(5, 8)), path)
    spark.dataSource.register(SnapshotCommitsDataSource)
    return path


def _start(spark, path, ck, name, **opts):
    reader = spark.readStream.format("snapshot_commits").option("path", path)
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


def _ids(spark, name):
    return sorted(r.trade_id for r in spark.sql(f"select trade_id from {name}").collect())


def test_streams_history_then_tails_new_commits_exactly_once(spark, table, tmp_path):
    q = _start(spark, table, str(tmp_path / "ck"), "ss_tail")
    try:
        q.processAllAvailable()
        assert _ids(spark, "ss_tail") == list(range(8))
        S.append(_batch(spark, 3, range(8, 10)), table)
        q.processAllAvailable()
        assert _ids(spark, "ss_tail") == list(range(10))  # delta only, no replay
        rows = spark.sql("select txn, p_month from ss_tail").collect()
        assert all(r.txn and r.p_month.startswith("2024") for r in rows)
    finally:
        q.stop()


def test_offsets_checkpoint_across_restart(spark, table, tmp_path):
    # file sink (memory doesn't support recovery): restart with the same
    # checkpoint resumes at the stored version offset — history is not
    # re-read, the post-restart commit arrives exactly once
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def run():
        return (
            spark.readStream.format("snapshot_commits")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = run()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    S.append(_batch(spark, 3, [42]), table)
    q2 = run()
    try:
        q2.processAllAvailable()
        got = sorted(r.trade_id for r in spark.read.parquet(out).collect())
        assert got == list(range(8)) + [42]  # no replay, exactly-once
    finally:
        q2.stop()


def test_starting_version_tails_only_new_commits(spark, table, tmp_path):
    head = S.latest_version(table)
    q = _start(
        spark, table, str(tmp_path / "ck"), "ss_sv", startingVersion=str(head)
    )
    try:
        q.processAllAvailable()
        assert _ids(spark, "ss_sv") == []  # history skipped
        S.append(_batch(spark, 3, [99]), table)
        q.processAllAvailable()
        assert _ids(spark, "ss_sv") == [99]
    finally:
        q.stop()


def test_rewrite_inside_offset_range_fails_the_batch(spark, table, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    q = _start(spark, table, str(tmp_path / "ck"), "ss_rw")
    try:
        q.processAllAvailable()
        S.compact_snapshot(spark, table)
        S.append(_batch(spark, 3, [7]), table)
        with pytest.raises(StreamingQueryException, match="non-append"):
            q.processAllAvailable()
            q.awaitTermination(30)
    finally:
        q.stop()


def test_log_as_bus_sink_then_derived_stream(spark, tmp_path):
    """Medallion composition: replay → snapshot SINK (exactly-once bronze
    commits) → snapshot_commits SOURCE → per-symbol rollup. The derived
    stream's final state equals a batch aggregate over the bronze head —
    the log works as a bus, not just a table."""
    from pyspark.sql import functions as F

    from crypto_clickhouse_poc_spark.sources.replay import (
        read_replay_stream,
        trades_to_event_lines,
        write_replay_chunks,
    )
    from crypto_clickhouse_poc_spark.streaming.snapsink import start_ingest_snapshot
    from tests.test_streaming import _fixture_rows

    spark.dataSource.register(SnapshotCommitsDataSource)
    rows = _fixture_rows()
    replay, bronze, ck1, ck2 = (
        str(tmp_path / d) for d in ("replay", "bronze", "ck1", "ck2")
    )
    write_replay_chunks(trades_to_event_lines(rows), replay, num_chunks=4)
    q1 = start_ingest_snapshot(read_replay_stream(spark, replay), bronze, ck1, trigger_sec=0)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    q2 = (
        spark.readStream.format("snapshot_commits")
        .option("path", bronze)
        .load()
        .groupBy("symbol")
        .agg(F.count("*").alias("n"), F.round(F.sum("qty"), 6).alias("qty"))
        .writeStream.format("memory")
        .queryName("silver_rollup")
        .option("checkpointLocation", ck2)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q2.processAllAvailable()
        got = {
            r.symbol: (r.n, r.qty)
            for r in spark.sql("select * from silver_rollup").collect()
        }
    finally:
        q2.stop()

    want = {
        r.symbol: (r.n, r.qty)
        for r in S.read_snapshot(spark, bronze)
        .groupBy("symbol")
        .agg(F.count("*").alias("n"), F.round(F.sum("qty"), 6).alias("qty"))
        .collect()
    }
    assert got == want and len(got) == 2


def test_bootstrap_over_compacted_history_serves_a_snapshot(spark, table, tmp_path):
    """A table whose HISTORY contains a compact (routine under
    maybe_compact_snapshot) must still boot from the default
    startingVersion=-1: the first batch is a snapshot of the start head's
    manifest — current rows, no replay of pre-compact files."""
    S.append(_batch(spark, 1, range(5)), table)  # duplicate-key re-append
    S.compact_snapshot(spark, table)
    S.append(_batch(spark, 3, range(100, 102)), table)
    q = _start(spark, table, str(tmp_path / "ck"), "ss_boot")
    try:
        q.processAllAvailable()
        assert _ids(spark, "ss_boot") == sorted(set(range(8)) | {100, 101})
        # tailing continues append-only after the bootstrap
        S.append(_batch(spark, 3, [200]), table)
        q.processAllAvailable()
        assert 200 in _ids(spark, "ss_boot")
    finally:
        q.stop()


def test_stream_rides_through_midstream_optimize(spark, table, tmp_path):
    """r10 contract change (was: refusal): optimize commits are
    writer-flagged data_change=False — Delta's native skip of
    dataChange=false files — so background bin-packing never kills a
    live stream. A fresh bootstrap still serves the packed head's
    snapshot; appends around the optimize arrive exactly once (the
    packed REWRITES of already-streamed rows are never re-emitted)."""
    S.append(_batch(spark, 3, range(100, 103)), table)
    v = S.optimize_small_files(spark, table, min_rows=10_000_000)
    assert S.manifest(table, v)["op"] == "optimize"
    q = _start(spark, table, str(tmp_path / "ck_opt"), "ss_opt")
    try:
        q.processAllAvailable()
        assert _ids(spark, "ss_opt") == sorted(set(range(8)) | {100, 101, 102})
        S.append(_batch(spark, 3, [200]), table)
        q.processAllAvailable()
        assert 200 in _ids(spark, "ss_opt")  # tails appends after the boot
        S.append(_batch(spark, 3, [201]), table)
        S.optimize_small_files(spark, table, min_rows=10_000_000)
        S.append(_batch(spark, 3, [202]), table)
        q.processAllAvailable()
        got = _ids(spark, "ss_opt")
        assert {201, 202} <= set(got)
        assert len(got) == len(set(got))  # no re-emission of packed files
    finally:
        q.stop()


def test_ignore_deletes_skips_delete_commits(spark, table, tmp_path):
    """Delta's ignoreDeletes: an append-only stream cannot retract rows it
    already emitted, so a delete commit fails the batch by DEFAULT and is
    skipped under the option — the stream stays the history of appends
    while the table reflects the delete."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    q = _start(spark, table, str(tmp_path / "ck_d1"), "ss_del1")
    try:
        q.processAllAvailable()
        S.delete_where(spark, table, "trade_id = 1")
        S.append(_batch(spark, 3, [300]), table)
        with pytest.raises(StreamingQueryException, match="ignoreDeletes"):
            q.processAllAvailable()
            q.awaitTermination(30)
    finally:
        q.stop()
    q2 = _start(
        spark, table, str(tmp_path / "ck_d2"), "ss_del2", ignoreDeletes="true"
    )
    try:
        q2.processAllAvailable()
        # bootstrap reflects the delete (1 gone); the tailed append arrives
        assert 1 not in _ids(spark, "ss_del2")
        assert 300 in _ids(spark, "ss_del2")
        S.delete_by_keys(
            spark, table, spark.createDataFrame([(2,)], "trade_id long")
        )
        S.append(_batch(spark, 3, [301]), table)
        q2.processAllAvailable()  # delete skipped, append emitted
        got = _ids(spark, "ss_del2")
        assert 301 in got and 2 in got  # 2 was emitted BEFORE its deletion
    finally:
        q2.stop()


def test_bootstrap_applies_deletion_vectors(spark, table, tmp_path):
    """Bootstrap over a DV-carrying head (r9; previously refused): the
    deleted positions are dropped in the Arrow reader — the stream's
    initial snapshot equals read_snapshot's merge-on-read view, no
    forced compact. Post-bootstrap deletes remain a rewrite refusal
    (visibility change inside a consumed range)."""
    S.delete_where(spark, table, "trade_id = 2")
    q = _start(spark, table, str(tmp_path / "ck_dv"), "ss_dv")
    try:
        q.processAllAvailable()
        assert _ids(spark, "ss_dv") == [i for i in range(8) if i != 2]
        # a delete AFTER bootstrap is still a refused rewrite
        S.delete_where(spark, table, "trade_id = 3")
        with pytest.raises(Exception, match="non-append"):
            q.processAllAvailable()
    finally:
        q.stop()
    # compaction then serves the materialized state on a fresh bootstrap
    S.compact_snapshot(spark, table)
    q = _start(spark, table, str(tmp_path / "ck_dv2"), "ss_dv2")
    try:
        q.processAllAvailable()
        assert _ids(spark, "ss_dv2") == [i for i in range(8) if i not in (2, 3)]
    finally:
        q.stop()


def test_streams_schema_evolved_table_with_null_fill(spark, tmp_path):
    """Bootstrap over a schema-EVOLVED table: the source's declared
    schema is the UNION of the live files' footers, and a partition
    whose file predates an evolved column yields NULLs of the declared
    type for it (r8 ADVICE — the single-footer schema either dropped
    the column or the reader KeyError'd)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evo_stream")
    S.append(_batch(spark, 1, range(3)), path)  # pre-evolution file
    S.append(_batch(spark, 2, range(3, 5)).withColumn("venue", F.lit("X")), path)
    spark.dataSource.register(SnapshotCommitsDataSource)
    q = _start(spark, path, str(tmp_path / "ck"), "ss_evo")
    try:
        q.processAllAvailable()
        got = {
            r.trade_id: r.venue
            for r in spark.sql("select trade_id, venue from ss_evo").collect()
        }
    finally:
        q.stop()
    assert got == {0: None, 1: None, 2: None, 3: "X", 4: "X"}


def test_ignore_changes_consumes_merge_and_upsert(spark, table, tmp_path):
    """Delta's ignoreChanges (r12): merge/upsert commits fail the batch by
    default; under the option their ADDED files are emitted — duplicates
    possible for rows a rewrite carried unchanged (the documented Delta
    caveat) — and deletes are skipped (ignoreChanges implies
    ignoreDeletes). Genuine rewrites still fail the batch."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    q = _start(spark, table, str(tmp_path / "ck_c1"), "ss_ch1")
    try:
        q.processAllAvailable()
        S.upsert_by_keys(
            _batch(spark, 3, [5]).withColumn("price", F.lit(9.0)),
            table,
            cols=["trade_id"],
        )
        with pytest.raises(StreamingQueryException, match="ignoreChanges"):
            q.processAllAvailable()
            q.awaitTermination(30)
    finally:
        q.stop()
    # the fresh stream bootstraps straight over the upsert's eq-delete
    # entry (r12: single-column eq-deletes apply in the Arrow reader)
    q2 = _start(
        spark, table, str(tmp_path / "ck_c2"), "ss_ch2", ignoreChanges="true"
    )
    try:
        q2.processAllAvailable()
        # bootstrap is the post-upsert snapshot: exactly one row for key 5
        assert _ids(spark, "ss_ch2").count(5) == 1
        # tailed upsert: the added file's row is emitted (duplicate of the
        # bootstrapped key — the documented at-least-once shape)
        S.upsert_by_keys(
            _batch(spark, 3, [6]).withColumn("price", F.lit(7.0)),
            table,
            cols=["trade_id"],
        )
        q2.processAllAvailable()
        assert _ids(spark, "ss_ch2").count(6) == 2
        # a merge too; and a delete commit is skipped (implied option)
        S.merge_into(
            spark,
            table,
            _batch(spark, 3, [100]),
            keys=["trade_id"],
        )
        S.delete_where(spark, table, "trade_id = 0")
        q2.processAllAvailable()
        got = _ids(spark, "ss_ch2")
        assert 100 in got and 0 in got  # 0 emitted BEFORE its deletion
        # a genuine visibility rewrite still fails the batch
        S.compact_snapshot(spark, table)
        S.append(_batch(spark, 3, [400]), table)
        with pytest.raises(StreamingQueryException, match="non-append"):
            q2.processAllAvailable()
            q2.awaitTermination(30)
    finally:
        q2.stop()


def test_bootstrap_applies_single_column_equality_deletes(spark, table, tmp_path):
    """r12 (was: refused): a head carrying single-column eq-deletes —
    routine once upserts exist — bootstraps with the deletes applied:
    erased keys absent, an upsert's replacement visible exactly once
    (the sequencing exemption: its file postdates the delete entry).
    r13: COMPOSITE-key eq-deletes bootstrap too (MultiIndex anti-isin
    per partition, same sequencing)."""
    from pyspark.sql import functions as F

    S.delete_by_keys(
        spark, table, spark.createDataFrame([(3,)], "trade_id long")
    )
    S.upsert_by_keys(
        _batch(spark, 3, [5]).withColumn("price", F.lit(42.0)),
        table,
        cols=["trade_id"],
    )
    q = _start(spark, table, str(tmp_path / "ck_eq"), "ss_eq")
    try:
        q.processAllAvailable()
        got = _ids(spark, "ss_eq")
        assert 3 not in got  # erased key absent from the bootstrap
        assert got.count(5) == 1  # replaced exactly once
        assert [
            r.price
            for r in spark.sql(
                "select price from ss_eq where trade_id = 5"
            ).collect()
        ] == [42.0]
    finally:
        q.stop()
    # composite keys (r13, was: refused): the (symbol, trade_id) delete
    # kills exactly its tuple — trade_id 7 under a DIFFERENT symbol
    # survives, and the single-key victims above stay dead
    S.append(
        _batch(spark, 3, [7]).withColumn("symbol", F.lit("ETH")), table
    )
    S.delete_by_keys(
        spark,
        table,
        spark.createDataFrame([("BTC", 7)], "symbol string, trade_id long"),
        cols=["symbol", "trade_id"],
    )
    victim_gone = (
        S.read_snapshot(spark, table)
        .where("symbol = 'BTC' and trade_id = 7")
        .count()
        == 0
    )
    q2 = _start(spark, table, str(tmp_path / "ck_eq2"), "ss_eq2")
    try:
        q2.processAllAvailable()
        got = _ids(spark, "ss_eq2")
        batch = sorted(
            r.trade_id for r in S.read_snapshot(spark, table).collect()
        )
        assert got == batch  # stream bootstrap == batch merge-on-read
        assert victim_gone and 3 not in got
        assert got.count(7) == 1  # the ETH twin survives the BTC tuple
    finally:
        q2.stop()


def test_bootstrap_keeps_null_key_rows_like_the_batch_read(spark, table, tmp_path):
    """A null key matches nothing: a key file holding a null beside a real
    key erases the real key's rows only. A row whose key is null stays,
    in the stream bootstrap as in the batch read."""
    S.append(
        spark.createDataFrame(
            [(datetime(2024, 3, 1), "BTC", None, 1.0, 0)],
            "ts timestamp, symbol string, trade_id long, price double,"
            " ingested_at long",
        ),
        table,
    )
    S.delete_by_keys(
        spark, table, spark.createDataFrame([(2,), (None,)], "trade_id long")
    )
    q = _start(spark, table, str(tmp_path / "ck_null"), "ss_null")
    try:
        q.processAllAvailable()
        got = [r.trade_id for r in spark.sql("select trade_id from ss_null").collect()]
    finally:
        q.stop()
    batch = [r.trade_id for r in S.read_snapshot(spark, table).collect()]
    assert sorted(got, key=str) == sorted(batch, key=str)
    assert None in got and 2 not in got


def test_starting_version_latest_tails_only_new_commits(spark, table, tmp_path):
    """Delta parity: startingVersion=latest skips the bootstrap snapshot
    and emits only commits made AFTER the stream started."""
    q = _start(spark, table, str(tmp_path / "ck_latest"), "ss_latest",
               startingVersion="latest")
    try:
        q.processAllAvailable()
        assert _ids(spark, "ss_latest") == []  # no bootstrap
        S.append(_batch(spark, 3, [50, 51]), table)
        q.processAllAvailable()
        assert _ids(spark, "ss_latest") == [50, 51]
        # the resolved head is OBSERVABLE (r15 — a stream that silently
        # skipped history must be auditable): the first progress event's
        # startOffset is exactly the version `latest` resolved to, so an
        # operator can read off where the skip ended
        head_at_start = S.latest_version(table) - 1  # before the append
        import re as _re

        def _ver(off):  # progress offsets arrive as (quote-style-varying)
            if isinstance(off, dict):  # serialized dict strings
                return off["version"]
            return int(_re.search(r"version\D+(\d+)", str(off)).group(1))

        starts = [
            _ver(off)
            for p in (q.recentProgress or [])
            if p.get("sources")
            for off in [p["sources"][0].get("startOffset")]
            if off not in (None, "None")  # empty batches carry no offset
        ]
        assert starts and min(starts) == head_at_start
    finally:
        q.stop()


def test_starting_timestamp_resolves_to_the_commit_boundary(spark, table, tmp_path):
    """r15 — Delta startingTimestamp parity: the stream starts at the
    first commit stamped at or after the cutoff; both options together
    are refused."""
    import time as _time

    _time.sleep(0.05)
    cutoff = _time.time()  # after the fixture's bootstrap commit
    _time.sleep(0.05)
    S.append(_batch(spark, 3, [70, 71]), table)  # the first included commit
    q = _start(spark, table, str(tmp_path / "ck_ts"), "ss_ts",
               startingTimestamp=str(cutoff))
    try:
        q.processAllAvailable()
        assert _ids(spark, "ss_ts") == [70, 71]  # history before cutoff skipped
        S.append(_batch(spark, 3, [72]), table)
        q.processAllAvailable()
        assert _ids(spark, "ss_ts") == [70, 71, 72]
    finally:
        q.stop()
    # both options together: refused at stream start (streamReader is
    # only invoked when the query starts, so the error surfaces as a
    # StreamingQueryException on the first batch)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    q2 = _start(spark, table, str(tmp_path / "ck_both"), "ss_both",
                startingVersion="0", startingTimestamp=str(cutoff))
    try:
        with pytest.raises(StreamingQueryException, match="mutually exclusive"):
            q2.processAllAvailable()
            q2.awaitTermination(30)
    finally:
        q2.stop()


def test_starting_timestamp_resolution_is_olog_history(spark, tmp_path):
    """r16 (VERDICT r15 next #3): startingTimestamp resolution
    binary-searches the monotone commit stamps — version-body reads at
    stream start are <= log2(history) + constant, never O(history)
    (the old walk read ~17k bodies/day of history at a 5 s commit
    cadence for a cutoff near the log's origin)."""
    import math
    import time as _time

    path = str(tmp_path / "olog")
    for i in range(21):
        S.append(_batch(spark, 1, [i]), path)
        _time.sleep(0.005)  # distinct 3-decimal stamps, no tie-flakiness
    head = S.latest_version(path)
    stamps = [
        S._version_body(path, v)["committed_at"] for v in range(head + 1)
    ]
    cutoff = stamps[12]  # commits 12.. are "at or after" the cutoff

    calls = {"n": 0}
    real = S._version_body

    def spy(p, v):
        calls["n"] += 1
        return real(p, v)

    # _last_version_at resolves _version_body through snapshots globals;
    # snapstream's own module binding (used by schema()) stays real, so
    # the spy counts RESOLUTION reads only
    S._version_body = spy
    try:
        ds = SnapshotCommitsDataSource(
            options={"path": path, "startingTimestamp": str(cutoff)}
        )
        rd = ds.streamReader(ds.schema())
    finally:
        S._version_body = real
    # behavior: exclusive start == the linear reference resolution
    expected = max(
        (v for v in range(head + 1) if stamps[v] < cutoff), default=-1
    )
    assert rd.start_version == expected == 11
    assert calls["n"] <= math.ceil(math.log2(head + 1)) + 2


def test_commit_stamps_clamp_monotone_under_skew(spark, tmp_path):
    """r16 ADVICE: a writer with a skewed-backward clock may not break
    the non-decreasing stamp order the binary-search resolvers depend
    on — a commit whose parent carries a FUTURE stamp clamps to it
    (Delta's in-commit-timestamp rule), never steps backward."""
    import json as _json

    path = str(tmp_path / "skew")
    S.append(_batch(spark, 1, [0]), path)
    v0 = S._log(path) / "v0.json"
    body = _json.loads(v0.read_text())
    forged = body["committed_at"] + 10_000  # a far-future parent stamp
    body["committed_at"] = forged
    v0.write_text(_json.dumps(body))
    S.append(_batch(spark, 1, [1]), path)
    at1 = S._version_body(path, 1)["committed_at"]
    assert at1 >= forged  # clamped, not wall-clock
    # and version_as_of over the clamped log stays consistent
    assert S.version_as_of(path, forged) == 1
