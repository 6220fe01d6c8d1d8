"""Data-skipping index + z-order layout: pruning evidence and safety.

Three claims under test (plans/skipping.py, plans/zorder.py):

1. *Effectiveness*: on a z-clustered table the manifest prunes files for a
   selective predicate on EITHER interleaved dimension, while a 1-D sorted
   layout only prunes its leading column — the multi-dimensional-clustering
   claim that justifies the layout at 100 TB.
2. *Safety*: pruning never changes results — minmax/set are exact, Bloom
   errs only toward keeping; a stale manifest refuses to serve; empty
   survivor sets come back as a typed empty DataFrame.
3. *Key correctness*: the Morton interleave matches a bit-twiddling
   reference implementation.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from crypto_clickhouse_poc_spark.operators import skipidx
from crypto_clickhouse_poc_spark.plans import skipping, zorder
from tests.conftest import SF_CORRECT

TS_CUT = datetime.datetime(2024, 1, 24)


@pytest.fixture(scope="module")
def ztable(spark):
    return skipidx.zordered_events(spark, SF_CORRECT)


def _full(spark, path):
    return spark.read.parquet(path)


# ---------------------------------------------------------------- effectiveness


def test_value_only_predicate_prunes_zordered_files(spark, ztable):
    surv, total = skipping.prune_files(
        spark, ztable, [("value", ">=", 40.0), ("value", "<=", 60.0)]
    )
    # a trailing-column predicate: useless under ORDER BY ts, but the
    # z-layout clusters value too — most files' minmax boxes miss the band
    assert total == skipidx.N_FILES
    assert len(surv) <= total // 2, (len(surv), total)


def test_ts_only_predicate_also_prunes_zordered_files(spark, ztable):
    surv, total = skipping.prune_files(spark, ztable, [("ts", ">=", TS_CUT)])
    assert len(surv) < total, (len(surv), total)


def test_linear_layout_cannot_prune_trailing_column(spark, tmp_path):
    """The 1-D control: same data sorted by ts alone — value minmax spans
    the whole domain in ~every file, so the value-band predicate keeps
    (nearly) all files. This is the gap z-ordering exists to close."""
    path = str(tmp_path / "linear")
    (
        _full(spark, skipidx.zordered_events(spark, SF_CORRECT))
        .repartitionByRange(skipidx.N_FILES, F.col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(path)
    )
    skipping.build_skip_index(spark, path, minmax_cols=("ts", "value"))
    linear_surv, total = skipping.prune_files(
        spark, path, [("value", ">=", 40.0), ("value", "<=", 60.0)]
    )
    z_surv, _ = skipping.prune_files(
        spark,
        skipidx.zordered_events(spark, SF_CORRECT),
        [("value", ">=", 40.0), ("value", "<=", 60.0)],
    )
    assert len(linear_surv) >= total - 1  # linear layout: no pruning power
    assert len(z_surv) < len(linear_surv) // 2  # z-layout: real pruning


def test_user_projection_prunes_membership_probe(spark):
    """set/Bloom membership pruning bites on the user-ordered projection
    (keys localized); the (ts,value) z-table legitimately can't prune a
    uniformly-sprayed key — which is why the projection exists."""
    proj = skipidx.user_projection(spark, SF_CORRECT)
    surv, total = skipping.prune_files(
        spark, proj, [("user_id", "in", [3, 7, 11])]
    )
    assert len(surv) <= max(3, total // 4), (len(surv), total)


def test_scan_reads_only_surviving_files(spark, ztable):
    preds = [("value", ">=", 40.0), ("value", "<=", 60.0)]
    surv, _ = skipping.prune_files(spark, ztable, preds)
    df = skipping.scan_skipped(spark, ztable, preds)
    read = {f.replace("file://", "").replace("file:", "") for f in df.inputFiles()}
    assert read <= set(surv), read - set(surv)


# ---------------------------------------------------------------------- safety


@pytest.mark.parametrize(
    "preds",
    [
        [("value", ">=", 40.0), ("value", "<=", 60.0)],
        [("ts", ">=", TS_CUT), ("value", "<=", 5.0)],
        [("event_type", "==", "purchase"), ("value", ">=", 300.0)],
        [("user_id", "in", [3, 7, 11])],
        [("user_id", "==", 149)],
    ],
)
def test_skipped_scan_equals_full_filter(spark, ztable, preds):
    got = skipping.scan_skipped(spark, ztable, preds)
    exp = _full(spark, ztable).where(skipping._pred_filter(preds))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_bloom_has_no_false_negatives_per_user(spark):
    """Every user present in the data must survive its own membership
    probe on the projection (Bloom + minmax + set may only over-keep)."""
    proj = skipidx.user_projection(spark, SF_CORRECT)
    users = [r[0] for r in _full(spark, proj).select("user_id").distinct().collect()]
    full = _full(spark, proj)
    for u in users[:20]:
        n = skipping.scan_skipped(spark, proj, [("user_id", "==", u)]).count()
        assert n == full.where(F.col("user_id") == u).count()
        assert n > 0


def test_absent_value_yields_typed_empty_frame(spark, ztable):
    df = skipping.scan_skipped(spark, ztable, [("event_type", "==", "no_such_type")])
    assert df.count() == 0
    assert df.schema == _full(spark, ztable).schema


def test_set_overflow_abstains_but_stays_correct(spark, tmp_path):
    path = str(tmp_path / "overflow")
    _full(spark, skipidx.zordered_events(spark, SF_CORRECT)).write.parquet(path)
    m = skipping.build_skip_index(spark, path, set_cols=("user_id",), set_max=4)
    # 150 distinct users per file >> 4: every file's set index must abstain
    assert all(e["sets"]["user_id"] is None for e in m["files"].values())
    surv, total = skipping.prune_files(spark, path, [("user_id", "==", 3)], manifest=m)
    assert len(surv) == total  # abstain ⇒ keep
    got = skipping.scan_skipped(spark, path, [("user_id", "==", 3)], manifest=m)
    assert got.count() == _full(spark, path).where(F.col("user_id") == 3).count()


def test_incremental_update_equals_full_rebuild(spark, tmp_path):
    """update_skip_index stats only the appended files, yet the merged
    manifest equals a from-scratch rebuild (per-file stats independence)."""
    path = str(tmp_path / "incr")
    base = _full(spark, skipidx.zordered_events(spark, SF_CORRECT))
    base.where(F.col("event_id") % 2 == 0).write.parquet(path)
    skipping.build_skip_index(
        spark, path, minmax_cols=("ts", "value"), set_cols=("event_type",),
        bloom_cols=("user_id",),
    )
    base.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(path)
    updated = skipping.update_skip_index(spark, path)
    rebuilt = skipping.build_skip_index(
        spark, path, minmax_cols=("ts", "value"), set_cols=("event_type",),
        bloom_cols=("user_id",),
    )
    assert updated["files"] == rebuilt["files"]
    # and the updated index serves correctly
    got = skipping.scan_skipped(spark, path, [("value", ">=", 400.0)])
    assert got.count() == _full(spark, path).where(F.col("value") >= 400.0).count()


def test_incremental_update_drops_vanished_files(spark, tmp_path):
    import os
    path = str(tmp_path / "vanish")
    _full(spark, skipidx.zordered_events(spark, SF_CORRECT)).repartition(4).write.parquet(path)
    skipping.build_skip_index(spark, path, minmax_cols=("value",))
    victim = next(
        p for p in sorted((tmp_path / "vanish").glob("*.parquet"))
    )
    os.remove(victim)
    m = skipping.update_skip_index(spark, path)
    assert victim.name not in m["files"]
    got = skipping.scan_skipped(spark, path, [("value", ">=", 0.0)], manifest=m)
    assert got.count() == _full(spark, path).count()


def test_incremental_update_stats_only_fresh_files(spark, tmp_path, monkeypatch):
    """The maintenance pass must be O(appended files): the distributed
    stats job receives ONLY the new files' paths, never the already-
    indexed ones (that would be the full rebuild it exists to avoid)."""
    path = str(tmp_path / "onlyfresh")
    base = _full(spark, skipidx.zordered_events(spark, SF_CORRECT))
    base.where(F.col("event_id") % 2 == 0).coalesce(2).write.parquet(path)
    skipping.build_skip_index(spark, path, minmax_cols=("value",))
    indexed = set(skipping.load_manifest(path)["files"])
    base.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(path)

    seen: list[list[str]] = []
    real = skipping._file_stats

    def spy(spark_, paths, spec, dtypes):
        seen.append(list(paths))
        return real(spark_, paths, spec, dtypes)

    monkeypatch.setattr(skipping, "_file_stats", spy)
    m = skipping.update_skip_index(spark, path)
    assert len(seen) == 1
    statted = {p.rsplit("/", 1)[-1] for p in seen[0]}
    assert statted and statted.isdisjoint(indexed)
    # and the merged manifest still serves the whole table correctly
    got = skipping.scan_skipped(spark, path, [("value", ">=", 0.0)], manifest=m)
    assert got.count() == _full(spark, path).count()


def test_stale_refusal_fires_on_in_place_rewrite(spark, tmp_path):
    """An in-place rewrite (same file name, different bytes) must trip the
    stale gate — the refusal is size-based, and a rewrite that changes
    content changes size here."""
    import os

    path = str(tmp_path / "rewrite")
    _full(spark, skipidx.zordered_events(spark, SF_CORRECT)).limit(
        100
    ).coalesce(1).write.parquet(path)
    skipping.build_skip_index(spark, path, minmax_cols=("value",))
    victim = next(p for p in sorted((tmp_path / "rewrite").glob("*.parquet")))
    with open(victim, "ab") as fh:  # corrupt-in-place: content + size change
        fh.write(b"\x00" * 16)
    with pytest.raises(skipping.StaleSkipIndexError):
        skipping.scan_skipped(spark, path, [("value", ">=", 40.0)])
    os.remove(victim)  # heal for tmp_path hygiene


def test_stale_manifest_refuses_to_serve(spark, tmp_path):
    path = str(tmp_path / "stale")
    _full(spark, skipidx.zordered_events(spark, SF_CORRECT)).limit(100).write.parquet(path)
    skipping.build_skip_index(spark, path, minmax_cols=("value",))
    # append new files behind the index's back
    _full(spark, skipidx.zordered_events(spark, SF_CORRECT)).limit(10).write.mode(
        "append"
    ).parquet(path)
    with pytest.raises(skipping.StaleSkipIndexError):
        skipping.scan_skipped(spark, path, [("value", ">=", 40.0)])
    # rebuild heals
    skipping.build_skip_index(spark, path, minmax_cols=("value",))
    skipping.scan_skipped(spark, path, [("value", ">=", 40.0)]).count()


# ------------------------------------------------------------------ morton key


def _morton_ref(xs: list[int], bits: int) -> int:
    out = 0
    for b in range(bits):
        for i, x in enumerate(xs):
            out |= ((x >> b) & 1) << (b * len(xs) + i)
    return out


def test_zorder_key_matches_reference_interleave(spark):
    rows = [(x, y) for x in (0, 1, 5, 255) for y in (0, 3, 128, 255)]
    df = spark.createDataFrame(rows, "x int, y int")
    keyed = zorder.zorder_key(
        df, ["x", "y"], domains={"x": (0, 255), "y": (0, 255)}, bits=8, method="linear"
    )
    for r in keyed.collect():
        assert r[zorder.Z_COL] == _morton_ref([r["x"], r["y"]], bits=8), r


def test_zorder_key_rejects_bad_shapes(spark):
    df = spark.createDataFrame([(1, 2)], "x int, y int")
    with pytest.raises(ValueError):
        zorder.zorder_key(df, ["x"])
    with pytest.raises(ValueError):
        zorder.zorder_key(df, ["x", "y"], bits=32)


@pytest.mark.parametrize("name", ["ev_layout_pruned", "ev_skip_pruned"])
def test_derived_table_rebuilds_when_events_are_rewritten(
    spark, tmp_path, monkeypatch, name
):
    """The layout and z-order rewrites belong to the events bytes: a
    rewrite with other rows whose mtime falls in the same whole second
    must get a fresh table, so the query still equals its oracle."""
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.conftest import assert_matches_oracle

    # derived tables land under tmp_path and go with it
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    events = pq.read_table(f"{SF_CORRECT}/events.parquet")
    path = str(tmp_path / "events.parquet")
    sec = None
    for parity in (0, 1):
        rows = events.filter(pc.equal(pc.bit_wise_and(events["event_id"], 1), parity))
        pq.write_table(rows, path)
        sec = sec if sec is not None else os.stat(path).st_mtime_ns // 10**9
        # both writes stamped inside the same whole second
        stamp = sec * 10**9 + parity * 500_000_000
        os.utime(path, ns=(stamp, stamp))
        assert_matches_oracle(spark, str(tmp_path), name, ("events",))
