"""The logged table schema (r13 — the Delta metaData-action pattern).

Every data-writing commit records its frame's schema in the manifest;
the table schema evolves by the ADD COLUMN rule (merge on append/upsert/
merge_into, replace on compact/rebuild/rollback, inherit on deletes).
Readers hand the stored schema to the scan EXPLICITLY — opening a table
reads one JSON, never a parquet footer — and pre-evolution files
null-fill added columns exactly as the old mergeSchema union did. These
gates pin: storage & dtype parity with inference reads, the evolution
rules per op, the commit-time type-conflict refusal, the refusal of a
log without the ``format_version`` stamp, and the stream source's
jobless schema.
"""

from __future__ import annotations

import json
from datetime import datetime
from pathlib import Path

import pytest

from crypto_clickhouse_poc_spark.plans import snapshots as S

SCHEMA = "ts timestamp, symbol string, trade_id long, price double"


def _batch(spark, ids, month: int = 1):
    return spark.createDataFrame(
        [(datetime(2024, month, 1 + (i % 27)), "BTC", i, 100.0 + i) for i in ids],
        SCHEMA,
    )


def _names(sch: dict) -> list[str]:
    return [f["name"] for f in sch["fields"]]


def test_append_logs_schema_and_read_dtypes_match_inference(spark, tmp_path):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(6)), path)
    m = S.manifest(path, 0)
    assert _names(m["schema"]) == ["ts", "symbol", "trade_id", "price"]
    # every stored field is nullable: any column can be absent from
    # files that predate its addition
    assert all(f["nullable"] for f in m["schema"]["fields"])
    got = S.read_snapshot(spark, path, keep_txn=True)
    # dtypes equal a plain inference read of the same files bit-for-bit
    # (incl. the path-derived partition columns' inferred types)
    inferred = (
        spark.read.option("basePath", str(S._data(path)))
        .option("mergeSchema", "true")
        .parquet(*[str(Path(path) / f["path"]) for f in m["files"]])
    )
    assert got.dtypes == inferred.dtypes
    assert sorted(r.trade_id for r in got.collect()) == list(range(6))


def test_add_column_evolution_null_fills_and_keeps_parent_order(spark, tmp_path):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(4)), path)
    evolved = _batch(spark, range(4, 6)).withColumn(
        "venue", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("X")
    )
    S.append(evolved, path)
    m = S.manifest(path, 1)
    assert _names(m["schema"]) == ["ts", "symbol", "trade_id", "price", "venue"]
    rows = {r.trade_id: r.venue for r in S.read_snapshot(spark, path).collect()}
    assert rows[0] is None and rows[5] == "X" and len(rows) == 6


def test_type_change_fails_at_commit_not_at_read(spark, tmp_path):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(3)), path)
    bad = spark.createDataFrame(
        [(datetime(2024, 1, 9), "BTC", "oops", 1.0)],
        "ts timestamp, symbol string, trade_id string, price double",
    )
    with pytest.raises(ValueError, match="schema evolution cannot change"):
        S.append(bad, path)
    assert S.latest_version(path) == 0  # nothing landed


def test_deletes_inherit_compact_replaces_rollback_restores(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    S.append(_batch(spark, range(4)), path)  # v0
    S.append(_batch(spark, range(4, 6)).withColumn("venue", F.lit("X")), path)  # v1
    keys = spark.createDataFrame([(2,)], "trade_id long")
    S.delete_by_keys(spark, path, keys)  # v2: inherit
    assert _names(S.manifest(path, 2)["schema"])[-1] == "venue"
    S.compact_snapshot(
        spark, path, keys=("ts", "symbol", "trade_id"), version_col="price"
    )  # v3
    assert _names(S.manifest(path, 3)["schema"])[-1] == "venue"
    assert {r.trade_id: r.venue for r in S.read_snapshot(spark, path).collect()}[
        5
    ] == "X"
    S.rollback(path, 0)  # v4: the schema as of v0 — no venue column
    assert _names(S.manifest(path, 4)["schema"]) == [
        "ts", "symbol", "trade_id", "price",
    ]
    assert "venue" not in S.read_snapshot(spark, path).columns


def test_empty_like_is_local_and_matches_read_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(3)), path)
    empty = S._empty_like(spark, path)
    real = S.read_snapshot(spark, path, keep_txn=True)
    assert empty.dtypes == real.dtypes and empty.count() == 0
    # jobless by construction: a local empty relation, not a file scan —
    # and a JVM-only one, not a pickled Python RDD whose count() forks
    # Python workers
    plan = empty._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_stream_schema_comes_from_the_log(spark, tmp_path):
    from crypto_clickhouse_poc_spark.sources.snapstream import (
        SnapshotCommitsDataSource, _stored_schema,
    )

    path = str(tmp_path / "t")
    S.append(_batch(spark, range(5)), path)
    st = _stored_schema(path)
    assert st is not None and [f.name for f in st.fields] == [
        "ts", "symbol", "trade_id", "price", "txn", "p_month",
    ]
    spark.dataSource.register(SnapshotCommitsDataSource)
    q = (
        spark.readStream.format("snapshot_commits")
        .option("path", path)
        .load()
        .writeStream.format("memory")
        .queryName("schema_log_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select trade_id from schema_log_stream").collect()
        assert sorted(r.trade_id for r in got) == list(range(5))
    finally:
        q.stop()


def test_unstamped_manifest_is_refused(spark, tmp_path):
    """Every version file is stamped ``format_version``; a forged body
    without the stamp (or with another value) is refused by every read
    and write path with one error naming the file and version."""
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(3)), path)
    assert S._version_body(path, 0)["format_version"] == S.FORMAT_VERSION
    p = S._log(path) / "v0.json"
    body = json.loads(p.read_text())
    for stamp in (None, S.FORMAT_VERSION + 1):
        if stamp is None:
            body.pop("format_version")
        else:
            body["format_version"] = stamp
        p.write_text(json.dumps(body))
        for call in (
            lambda: S.manifest(path, 0),
            lambda: S.read_snapshot(spark, path),
            lambda: S.table_history(path),
            lambda: S.append(_batch(spark, [9]), path),
        ):
            with pytest.raises(ValueError, match=r"v0\.json: version 0 has"):
                call()
    assert S.latest_version(path) == 0  # nothing landed


@pytest.mark.parametrize("first", ["set_table_properties", "drop_months"])
def test_metadata_only_first_commit_still_logs_the_schema(spark, tmp_path, first):
    """A table whose FIRST commit is metadata-only (properties or a
    retention on an empty path) has no schema yet; the first append
    must start the schema chain, not leave the table schema-less."""
    path = str(tmp_path / "t")
    if first == "set_table_properties":
        S.set_table_properties(path, {"owner": "desk"})
    else:
        S.drop_months(path, "202401")
    assert "schema" not in S.manifest(path, 0)
    S.append(_batch(spark, range(3)), path)
    assert _names(S.manifest(path, 1)["schema"]) == [
        "ts", "symbol", "trade_id", "price",
    ]
    S.rename_column(path, "symbol", "sym")
    assert S.read_snapshot(spark, path).columns == [
        "ts", "sym", "trade_id", "price", "p_month",
    ]


def test_rebased_total_rewrite_unions_interleaved_append_schema(spark, tmp_path):
    """Review finding (r13): a compact whose commit REBASES a concurrent
    append forward must union that append's evolved columns into the
    logged schema — logging only the rewrite's own pre-interleave schema
    would hide (and next compact, drop) the carried file's new column."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    S.append(_batch(spark, range(4)), path)  # v0: (ts, symbol, trade_id, price)
    read_v = S.latest_version(path)
    # the rewrite the compactor prepared from v0 (before the interleave)
    new = S._write_txn(S.read_snapshot(spark, path).drop(S.PARTITION_COL), path, "ts")
    rewrite_schema = S._frame_schema(S.read_snapshot(spark, path).drop(S.PARTITION_COL))
    # a concurrent append EVOLVES the schema while the compact is in flight
    S.append(_batch(spark, [50]).withColumn("venue", F.lit("X")), path)
    v = S._commit(
        path,
        lambda _hf: new,
        "compact",
        expected_parent=read_v,
        on_conflict="rebase_appends",
        dvs_fn=lambda _d: [],
        eq_dvs_fn=lambda _e, _v: [],
        write_schema=rewrite_schema,
        schema_mode="replace",
    )
    assert "venue" in _names(S.manifest(path, v)["schema"])
    rows = {r.trade_id: r.venue for r in S.read_snapshot(spark, path).collect()}
    assert rows[50] == "X" and rows[0] is None  # nothing hidden


def test_overwrite_requires_paired_txn(spark, tmp_path):
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(3)), path)
    with pytest.raises(ValueError, match="provided together"):
        S.overwrite_months(_batch(spark, [9]), path, txn_app="backfill")
    with pytest.raises(ValueError, match="provided together"):
        S.overwrite_months(_batch(spark, [9]), path, txn_id=1)


def test_stream_start_rejects_unmappable_logged_types(spark, tmp_path):
    """The stream source keeps its start-time type gate: a logged column the Arrow null-fill can't materialize fails
    the stream START with a clear error, never a mid-batch KeyError."""
    from pyspark.sql import functions as F

    from crypto_clickhouse_poc_spark.sources.snapstream import _stored_schema

    path = str(tmp_path / "t")
    S.append(
        _batch(spark, range(3)).withColumn("tags", F.array(F.lit(1.0))), path
    )
    with pytest.raises(TypeError, match="unmapped column types"):
        _stored_schema(path)


def test_table_history_and_timestamp_time_travel(spark, tmp_path):
    """DESCRIBE HISTORY + timestampAsOf (r13): commits carry a
    wall-clock stamp, history lists newest-first O(limit) summaries, and
    version_as_of resolves a cutoff between two commits to the earlier
    one."""
    import time

    path = str(tmp_path / "t")
    S.append(_batch(spark, range(3)), path)  # v0
    # committed_at rounds to 3 decimals (round HALF-UP can exceed the
    # true stamp by 0.5 ms) — outrun it or t_mid lands "before" v0
    time.sleep(0.002)
    t_mid = time.time()
    time.sleep(0.05)
    S.append(_batch(spark, range(3, 5)), path)  # v1
    S.delete_by_keys(
        spark, path, spark.createDataFrame([(1,)], "trade_id long")
    )  # v2
    hist = S.table_history(path)
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert [h["op"] for h in hist] == ["eq_delete", "append", "append"]
    assert hist[0]["n_eq_dvs"] == 1 and hist[0]["n_files"] == hist[1]["n_files"]
    assert all(h["committed_at"] is not None for h in hist)
    assert [h["version"] for h in S.table_history(path, limit=2)] == [2, 1]
    # the cutoff between v0 and v1 resolves to v0
    assert S.version_as_of(path, t_mid) == 0
    assert S.version_as_of(path, time.time()) == 2
    got = sorted(
        r.trade_id
        for r in S.read_snapshot(
            spark, path, version=S.version_as_of(path, t_mid)
        ).collect()
    )
    assert got == [0, 1, 2]
    # a v0 younger than the cutoff has no resolvable version
    other = str(tmp_path / "t2")
    S.append(_batch(spark, [9]), other)
    with pytest.raises(ValueError, match="no version"):
        S.version_as_of(other, 0.0)


def test_nested_nullability_metadata_differences_merge_not_raise(spark, tmp_path):
    """``F.array(lits)`` gives containsNull=false where a parquet
    read-back of the same data gives true; field metadata can likewise
    differ between logically-identical frames. The merge unions
    nullability at every depth (StructType.merge semantics) instead of
    raw-dict-equality-raising on a legitimate append (r13 advice)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "nested")
    base = spark.range(3).select(
        F.timestamp_seconds(F.lit(1704067200)).alias("ts"),
        "id",
        F.array(F.lit(1.0), F.lit(2.0)).alias("vec"),
    )
    S.append(base, path)  # containsNull=false
    assert not S.manifest(path, 0)["schema"]["fields"][2]["type"]["containsNull"]
    back = S.read_snapshot(spark, path).select("ts", "id", "vec")
    S.append(back, path)  # read-back: containsNull=true — must merge
    sch = S.manifest(path, 1)["schema"]
    assert sch["fields"][2]["type"]["containsNull"]  # unioned
    got = S.read_snapshot(spark, path)
    assert got.count() == 6 and got.schema["vec"].dataType.elementType.typeName() == "double"


def test_nested_struct_field_add_merges_and_nullfills(spark, tmp_path):
    """Adding a field INSIDE a struct column is an evolution the
    explicit-schema read honors (schema clipping null-fills it for
    older files) — so the merge accepts it like a top-level ADD."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "structadd")
    ts = F.timestamp_seconds(F.lit(1704067200)).alias("ts")
    S.append(
        spark.range(2).select(ts, "id", F.struct(F.lit("a").alias("x")).alias("s")),
        path,
    )
    S.append(
        spark.range(2, 4).select(
            ts, "id", F.struct(F.lit("b").alias("x"), F.lit(7).alias("y")).alias("s")
        ),
        path,
    )
    names = [f["name"] for f in S.manifest(path, 1)["schema"]["fields"][2]["type"]["fields"]]
    assert names == ["x", "y"]
    rows = {r.id: r.s.asDict() for r in S.read_snapshot(spark, path).collect()}
    assert rows[0] == {"x": "a", "y": None} and rows[3] == {"x": "b", "y": 7}


def test_primitive_type_change_still_fails_the_commit(spark, tmp_path):
    """The recursive merge keeps the hard gate: a genuine primitive type
    change (incl. one buried inside an array) fails the COMMIT."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "typechange")
    ts = F.timestamp_seconds(F.lit(1704067200)).alias("ts")
    S.append(spark.range(2).select(ts, "id", F.array(F.lit(1.0)).alias("v")), path)
    with pytest.raises(ValueError, match="schema evolution"):
        S.append(spark.range(2).select(ts, "id", F.array(F.lit("s")).alias("v")), path)


def test_table_details_unifies_the_metadata(spark, tmp_path):
    """DESCRIBE DETAIL parity: one metadata read reporting schema,
    contracts, era map, debt and totals — no Spark job."""
    path = str(tmp_path / "det")
    S.append(_batch(spark, range(4)), path)
    S.add_constraint(spark, path, "pos", "price > 0")
    S.set_column_default(spark, path, "price", "1.0")
    S.rename_column(path, "symbol", "sym")
    S.delete_by_keys(spark, path, spark.createDataFrame([(1,)], "trade_id long"))
    d = S.table_details(path)
    assert d["op"] == "eq_delete" and d["num_eq_dvs"] == 1
    assert d["num_files"] >= 1 and d["num_rows_upper"] == 4
    assert d["constraints"]["pos"]["expr"] == "price > 0"
    assert d["defaults"] == {"price": "1.0"}
    assert d["renames"][0]["from"] == "symbol" and d["retired"] == ["symbol"]
    assert [f["name"] for f in d["schema"]["fields"]] == [
        "ts", "sym", "trade_id", "price"
    ]
    assert d["months"] == ["202401"]
    # pre-rename version reports its own era
    d0 = S.table_details(path, version=0)
    assert d0["renames"] == [] and "symbol" in [
        f["name"] for f in d0["schema"]["fields"]
    ]


def _plan_jobs(spark, build) -> int:
    """Spark jobs run while ``build()`` only builds a plan."""
    sc = spark.sparkContext
    group = f"plan-build-{id(build)}"
    sc.setJobGroup(group, "plan build only")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_plan_builds_infer_no_file_schema(spark, tmp_path):
    """Data files are scanned with the logged schema and delete files with
    their fixed or frame-derived schema, so no plan build opens a Parquet
    footer for inference. The one job left is the position-delete leg's
    collect of the files its vectors name."""
    path = str(tmp_path / "t")
    S.append(_batch(spark, range(20)), path)
    v_pos = S.delete_where(spark, path, "trade_id = 3")
    v_eq = S.delete_by_keys(
        spark, path, spark.createDataFrame([(5,)], "trade_id long")
    )

    def cdc(v):
        return lambda: S.read_changes_cdc(spark, path, v - 1, v)

    assert _plan_jobs(spark, lambda: S.read_snapshot(spark, path)) == 0
    assert _plan_jobs(spark, cdc(v_eq)) == 0
    assert _plan_jobs(spark, cdc(v_pos)) <= 1
    live = sorted(r.trade_id for r in S.read_snapshot(spark, path).collect())
    assert live == [i for i in range(20) if i not in (3, 5)]
    assert [r.trade_id for r in cdc(v_eq)().collect()] == [5]
    assert [r.trade_id for r in cdc(v_pos)().collect()] == [3]


def test_spark_reads_only_in_the_file_readers():
    """``spark.read`` appears in plans/snapshots.py only in the data-file
    reader and the two delete-file readers (position vectors; the
    equality-key frame's scan side), so every scan gets its schema from
    the log or from the delete file's kind."""
    import ast

    src = Path(S.__file__).read_text()
    readers = {
        node.name
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.FunctionDef)
        and "spark.read" in ast.get_source_segment(src, node)
    }
    assert readers == {"_read_files", "_read_dvs", "_eq_keys_frame"}
