"""Incrementally-maintained ENRICHED rollups: fact ⋈ dimension MVs.

``plans/logmv.py`` maintains single-table rollups from the base's
transaction log. Production rollups are usually ENRICHED — the fact
stream joined to a dimension before aggregating ("bars per SECTOR",
where symbol → sector lives in a dim table that itself changes over
time). Maintaining that incrementally is the classic hard case
(Materialize / DBSP / Delta Live Tables territory): a one-row dim
update silently invalidates every aggregate row any of that key's fact
rows ever contributed to, and the naive answer is a full rebuild per
dim change.

The design here makes BOTH change sources key-local by choosing the
partial granularity, not by inventing new machinery:

- **Partials live at the finest key** — (time bucket, join_key) plus the
  dim attribute columns captured at refresh time. Reads merge partials
  UP to the serving grain (minute × sector) with the same closed merge
  algebra every rollup here uses; maintenance swaps partials AT the
  join-key grain. A dim update therefore owns exactly one key's partial
  rows — never a sector's, never the table's.
- **One scope rule for every non-append change**: collect the AFFECTED
  JOIN KEYS — from the fact CDC's delete rows (an erasure names the
  keys it touched) and from the dim CDC's rows (an update emits
  delete+insert for the changed key; an insert/delete names the key
  whose enrichment appeared/vanished) — then recompute ONLY those keys'
  partials from the pinned fact head joined to the pinned dim head, and
  swap them in ONE atomic :func:`plans.snapshots.upsert_by_keys` commit
  (append + equality-delete on the join key, sequenced so the delete
  can't touch its own replacements). Inner-join semantics fall out for
  free: a key deleted from the dim recomputes to zero partials and the
  eq-delete erases its history; a key newly inserted into the dim
  recomputes its full fact history into partials that were never there.
- **Exactly-once across TWO logs** with the existing single-app
  watermark: the MV's txn id is the COMPOSITE ``fact_head << 32 |
  dim_head`` (both logs' versions in one monotone-comparable id), so the
  same exact compare-and-set that serializes single-table refreshers
  serializes these — a dim-only tick changes the composite even when the
  fact head didn't move, and a replayed scheduler is a detected no-op.

Scale notes (100 TB): the steady state (fact appends, dim idle) is the
same O(delta) append path logmv has — the enrichment join runs on the
DELTA'S PARTIALS (bounded by groups touched, not rows) against a
broadcast dim. A dim change costs O(affected keys' fact rows): the
recompute scan filters on the join key (predicate pushdown; a per-file
Bloom sidecar on the key — ``plans/bloomidx`` — additionally prunes at
the FILE level when present, the same advisory contract the CDC
eq-delete leg uses). The cap (``max_scoped_keys``) bounds the
driver-collected key set and falls back to one rebuild, which is also
the answer for genuine visibility rewrites on either log.

Contract: the dim must be UNIQUE per join key at every version a
refresh reads (the usual dimension contract; an SCD2 dim feeds its
CURRENT view here). Duplicate dim keys would fan out fact partials and
double-count — ``rebuild_enriched`` fails loudly on that rather than
guessing.

Reference anchor: the reference's only MV is the single-table 1-minute
bars (``sql/V2__create_trades_1m_view.sql``); this module is the
extension a user hits the day they ask for "the same bars, per sector".
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localframe import local_frame
from ..streaming.bars import partial_bars
from . import bloomidx as B
from . import snapshots as S

if TYPE_CHECKING:
    import pyarrow as pa

# both log versions packed into one monotone watermark id; 2^32 commits
# per log is far beyond any real table's life under checkpointed heads
_WM_SHIFT = 32
_WM_MASK = (1 << _WM_SHIFT) - 1


def _wm(fact_v: int, dim_v: int) -> int:
    if fact_v >= (1 << (63 - _WM_SHIFT)) or dim_v > _WM_MASK:
        raise ValueError(f"log version out of watermark range: {fact_v}, {dim_v}")
    return (fact_v << _WM_SHIFT) | dim_v


def _unwm(wm: int) -> tuple[int, int]:
    return wm >> _WM_SHIFT, wm & _WM_MASK


def enriched_status(mv_path: str, app: str = "joinmv") -> dict | None:
    """{'fact_version': v, 'dim_version': v} the MV has folded in, or
    None for an uninitialized MV — one head-body read, zero splices."""
    wm = S.last_txn(mv_path, app)
    if wm is None:
        return None
    f, d = _unwm(wm)
    return {"fact_version": f, "dim_version": d}


# Above this many affected keys the residual predicate switches from a
# pushed IN-filter to a broadcast semi-join (r12 ADVICE: a 65k-literal
# In blows up Catalyst long before the max_scoped_keys fallback).
# r13 re-measurement moved the bound way down: PySpark's isin costs one
# py4j round trip PER literal (~0.5 ms each), so by ~1k keys the IN's
# construction alone dwarfs the broadcast semi-join it was avoiding.
# Below it, the native-typed IN is strictly better — it reaches the
# parquet scan.
_MAX_ISIN_KEYS = 128

# r17: bound for materializing the PROJECTED dim on the driver. The dim
# is broadcast-sized by contract (every enrich ships it through a
# BroadcastExchange, whose build is itself a driver-side collect), so a
# driver copy of (join_key, *dim_cols) is the same memory class the
# plan already pays — and it turns the merge-on-read dim plan that the
# scoped path used to localCheckpoint (r13) into a LocalTableScan: the
# dup check becomes a Python count (zero jobs), the enrich joins build
# their broadcast from local rows (zero scan stages), and the fraction
# fallback's denominator becomes the EXACT live dim row count — closing
# the r16 ADVICE gap where the manifest-row proxy over-counts a
# dim_view'd (SCD2) dim so badly the fallback never fires. A dim larger
# than this keeps the r13 localCheckpoint + distributed-count path.
_DIM_LOCAL_MAX_ROWS = 65_536


def _collect_dim_local(
    dim: DataFrame, join_key: str, dim_cols: Sequence[str]
) -> pa.Table | None:
    """The projected dim's rows as an Arrow table — collected and handed
    back to Spark as a local relation without a Python round trip — or
    None when it exceeds ``_DIM_LOCAL_MAX_ROWS`` (fall back to the
    distributed path)."""
    rows = dim.select(join_key, *dim_cols).limit(_DIM_LOCAL_MAX_ROWS + 1).toArrow()
    return None if rows.num_rows > _DIM_LOCAL_MAX_ROWS else rows


def _read_fact_keys(
    spark: SparkSession,
    fact_path: str,
    version: int,
    key_col: str,
    keys: list,
    key_rows: DataFrame | None = None,
) -> DataFrame:
    """The pinned-version fact rows whose ``key_col`` is in ``keys`` —
    manifest-level Bloom pruning when a sidecar covers the key (advisory:
    files the index can't rule out are read and the predicate re-applied,
    the repo-wide pruning contract), merge-on-read deletes applied.
    ``key_rows`` (single-column frame of the same keys) carries the
    residual predicate as a broadcast left-semi join when the set is too
    large for a literal IN."""
    m = S.manifest(fact_path, version)
    # manifest-stats key prune first (pure metadata, bites on a
    # cluster_cols layout where each file covers a contiguous key range;
    # era-aware: pre-rename files' stats probe under their written name),
    # then the Bloom sidecar over the survivors
    files = S.prune_files_by_values(
        m["files"], key_col, keys, renames=m.get("renames")
    )
    files = B.prune_file_list(spark, fact_path, key_col, keys, files)

    def _residual(df: DataFrame) -> DataFrame:
        if len(keys) <= _MAX_ISIN_KEYS or key_rows is None:
            # native-typed IN: pushes to the parquet scan (a
            # cast-to-string comparison would not), re-applying the
            # predicate the Bloom prune only approximated
            return df.where(F.col(key_col).isin(*keys))
        return df.join(
            F.broadcast(key_rows.select(key_col)), key_col, "left_semi"
        )

    if not files:
        return _residual(S._empty_like(spark, fact_path).drop(S.TXN_COL))
    # schema + renames from the pinned manifest: a column-mapped fact
    # (RENAME COLUMN somewhere in its history) must translate each era's
    # written names here exactly like read_snapshot does — without them
    # the key filter would miss (or crash on) pre-rename files (r15)
    df = S._apply_dvs(
        spark,
        S._read_files(
            spark, fact_path, files, schema=m["schema"], renames=m.get("renames"),
        ),
        m,
        fact_path,
    ).drop(S.TXN_COL)
    return _residual(df)


def _enrich(
    partials: DataFrame, dim: DataFrame, join_key: str, dim_cols: Sequence[str]
) -> DataFrame:
    """Partial rows ⋈ broadcast dim (inner): the join runs on the
    PARTIALS — bounded by |groups touched|, never fact rows — because a
    dim attribute is constant within a join key."""
    return partials.join(
        F.broadcast(dim.select(join_key, *dim_cols)), join_key, "inner"
    )


def refresh_enriched_rollup(
    spark: SparkSession,
    fact_path: str,
    dim_path: str,
    mv_path: str,
    join_key: str = "symbol",
    dim_cols: Sequence[str] = ("sector",),
    partial_fn: Callable[[DataFrame], DataFrame] = partial_bars,
    app: str = "joinmv",
    ts_col: str = "minute",
    max_scoped_keys: int = 65_536,
    max_scoped_frac: float = 0.5,
    dim_view: Callable[[DataFrame], DataFrame] | None = None,
) -> int | None:
    """Fold both logs' new commits into the enriched rollup.

    ``dim_view`` (r13) adapts a dim log whose ROWS are not the unique-key
    dim the contract demands — the SCD2 pipeline's history table is the
    production case: pass
    ``lambda d: d.where(d.is_current == 1).select(...)`` and the view is
    applied to every dim read AND to the dim CDC rows before affected-key
    extraction. The view must keep every changed key visible in at least
    one CDC row per change — true for an SCD2 current view, where every
    update/insert opens a new ``is_current = 1`` row (and the replaced
    current row arrives as a CDC delete, also passing the filter).

    Dispatch (the logmv ladder, generalized to two logs):

    - uninitialized MV → :func:`rebuild_enriched` (one fact-head scan ⋈
      one dim-head read; zero per-version history metadata);
    - at both heads → ``None`` (steady-state poll);
    - visibility rewrite on EITHER log (deduping compact / rollback /
      rebuild) → rebuild;
    - fact range all-appends AND dim unchanged-or-layout-only → the
      O(delta) fast path: enrich the delta's partials with the pinned
      dim head and append;
    - anything else CDC can represent → the KEY-SCOPED swap: affected
      join keys from the fact CDC's deletes ∪ the dim CDC's rows, those
      keys recomputed from fact head ⋈ dim head, out-of-scope fact
      inserts appended as fresh enriched partials, all in one
      :func:`snapshots.upsert_by_keys` commit keyed on ``join_key``;
      past ``max_scoped_keys`` → rebuild.

    Returns the MV version committed, or None when already current.
    Concurrent refreshers: the composite watermark CAS makes the loser
    raise :class:`snapshots.CommitConflict` instead of double-folding.
    """
    fact_head = S.latest_version(fact_path)
    dim_head = S.latest_version(dim_path)
    if fact_head is None or dim_head is None:
        raise FileNotFoundError(f"no snapshots at {fact_path} / {dim_path}")
    consumed = S.last_txn(mv_path, app)
    if consumed is None:
        return rebuild_enriched(
            spark, fact_path, dim_path, mv_path,
            join_key=join_key, dim_cols=dim_cols,
            partial_fn=partial_fn, app=app, ts_col=ts_col,
            dim_view=dim_view,
        )
    fact_w, dim_w = _unwm(consumed)
    if fact_head <= fact_w and dim_head <= dim_w:
        return None
    fact_meta = S.changed_meta(fact_path, fact_w, fact_head)
    dim_meta = S.changed_meta(dim_path, dim_w, dim_head)
    fact_ops = {op for op, dc in fact_meta if dc}
    dim_ops = {op for op, dc in dim_meta if dc}
    covered = set(S._CDC_COVERED)
    if not (fact_ops <= covered and dim_ops <= covered):
        return rebuild_enriched(
            spark, fact_path, dim_path, mv_path,
            join_key=join_key, dim_cols=dim_cols,
            partial_fn=partial_fn, app=app, ts_col=ts_col,
            dim_view=dim_view,
        )
    dim = S.read_snapshot(spark, dim_path, version=dim_head)
    if dim_view is not None:
        dim = dim_view(dim)
    fact_deleting = fact_ops & set(S._CDC_DELETING)
    if not fact_deleting and not dim_ops:
        # steady state: fact appends (possibly under layout-only commits),
        # dim idle — O(delta), the enrichment join on the delta's partials
        if all(op == "append" for op, _ in fact_meta):
            delta = S.read_changes(spark, fact_path, fact_w, fact_head)
        else:
            cdc = S.read_changes_cdc(spark, fact_path, fact_w, fact_head)
            delta = cdc.where(F.col(S.CDC_TYPE) == "insert").drop(
                S.CDC_TYPE, S.CDC_VERSION
            )
        parts = _enrich(partial_fn(delta), dim, join_key, dim_cols)
        return S.append(
            parts, mv_path, ts_col=ts_col,
            txn_app=app, txn_id=_wm(fact_head, dim_head), txn_expect=consumed,
        )
    # --- key-scoped swap ---
    # the dim is broadcast-sized by contract but its merge-on-read plan
    # (upserts leave equality-delete anti-joins on the read) is NOT free
    # — and the scoped path consumes it three times (dup check, scoped
    # enrich, fresh enrich). Materialize the PROJECTED dim on the driver
    # once (r17 — see _DIM_LOCAL_MAX_ROWS); past the bound, keep the r13
    # localCheckpoint so each consumer at least reads a materialized plan
    dim_local = _collect_dim_local(dim, join_key, dim_cols)
    if dim_local is None:
        dim = dim.localCheckpoint()
    else:
        dim = local_frame(spark, dim_local)
    if fact_head > fact_w:
        # overwrite ranges take the file-level CDC (see logmv: the
        # row-precise diff is a wide full-row shuffle over the whole
        # rewritten month; the imprecise delete rows are a narrow pass
        # whose group superset only widens the exact recompute)
        fact_cdc = S.read_changes_cdc(
            spark, fact_path, fact_w, fact_head,
            precise_merge="overwrite" not in fact_ops,
        )
        ins = fact_cdc.where(F.col(S.CDC_TYPE) == "insert").drop(
            S.CDC_TYPE, S.CDC_VERSION
        )
        fact_dels = fact_cdc.where(F.col(S.CDC_TYPE) == "delete")
    else:
        # a dim-only tick: the fact range is empty — skip the CDC scan
        # entirely instead of computing an empty row-precise diff
        empty = S._empty_like(spark, fact_path).drop(S.TXN_COL)
        ins, fact_dels = empty, empty
    # affected keys in the fact column's NATIVE type (the upsert's
    # eq-delete rows must compare equal to the MV's stored key column):
    # fact deletes name the keys an erasure touched; dim CDC rows name
    # the keys whose enrichment appeared/changed/vanished — including a
    # key deleted from BOTH sides, whose stale partials must still die
    affected = fact_dels.select(join_key)
    if dim_ops:
        dim_cdc = S.read_changes_cdc(
            spark, dim_path, dim_w, dim_head, precise_merge=True
        )
        if dim_view is not None:
            dim_cdc = dim_view(dim_cdc)
        affected = affected.unionByName(dim_cdc.select(join_key))
    gdf = affected.distinct()
    if dim_local is not None:
        # r17: the dup check is a Python count over the local dim rows
        # (zero jobs — a duplicate dim key fans out partials and
        # double-counts silently; a dup can only ARISE through a dim
        # change, and every dim change routes its keys through here), the
        # affected-keys collect plans without the counts join, and the
        # fraction denominator is the EXACT live dim count — the r16
        # manifest-row proxy's dim_view blind spot (ADVICE) is gone on
        # this path because the rows are counted AFTER dim_view applied.
        from collections import Counter

        # both key lists come from Arrow, so a timestamp key compares as
        # the same aware UTC instant on either side
        key_n = Counter(dim_local.column(0).to_pylist())
        rows = [
            (k,)
            for k in gdf.limit(max_scoped_keys + 1).toArrow().column(0).to_pylist()
        ]
        dup = next((r for r in rows if key_n.get(r[0], 0) > 1), None)
        dim_rows = dim_local.num_rows
    else:
        # ONE action collects the affected keys AND each key's dim
        # multiplicity (the dup check); checking the AFFECTED keys
        # (bounded set) plus rebuild's full check covers every path a
        # dup can enter by
        counts = dim.groupBy(join_key).agg(F.count(F.lit(1)).alias("_dim_n"))
        rows = (
            gdf.join(counts, join_key, "left")
            .limit(max_scoped_keys + 1)
            .collect()
        )
        dup = next((r for r in rows if (r["_dim_n"] or 0) > 1), None)
        # fraction fallback denominator — the r16 driver-side manifest
        # proxy (zero jobs). Manifest rows ≥ live rows (deletes not
        # subtracted), so it can only DEFER a rebuild, never force one
        # early. A stats-less file entry must not read as 0 rows (r16
        # ADVICE: that UNDER-counts — the wrong direction), so any entry
        # without stats makes the proxy unbounded: the fallback then
        # never fires from this branch, the conservative direction.
        ents = S.manifest(dim_path, dim_head)["files"]
        dim_rows = (
            sum(f["rows"] for f in ents)
            if all("rows" in f for f in ents)
            else 1 << 62
        )
    if len(rows) > max_scoped_keys:
        return rebuild_enriched(
            spark, fact_path, dim_path, mv_path,
            join_key=join_key, dim_cols=dim_cols,
            partial_fn=partial_fn, app=app, ts_col=ts_col,
            dim_view=dim_view, _dim_local=(dim_head, dim_local),
        )
    if dup is not None:
        raise ValueError(
            f"dim {dim_path} has duplicate join key {dup[0]!r} at "
            f"v{dim_head} — an enriched rollup over it would double-count; "
            "dedup the dim (SCD2 current view) first"
        )
    # fraction fallback (r13): a change touching MOST join keys (a broad
    # fact erasure, a dim reorg) makes the "scoped" swap degenerate — it
    # re-aggregates nearly the whole fact AND leaves an eq-delete entry
    # taxing every later MV read until compaction, while a rebuild is one
    # clean scan-and-swap with zero merge-on-read debt. Key count over
    # the dim approximates the affected row fraction under roughly
    # uniform keys; a skewed key that slips through still lands inside
    # the probe-verified scoped costs.
    if rows and len(rows) > max_scoped_frac * max(dim_rows, 1):
        return rebuild_enriched(
            spark, fact_path, dim_path, mv_path,
            join_key=join_key, dim_cols=dim_cols,
            partial_fn=partial_fn, app=app, ts_col=ts_col,
            dim_view=dim_view, _dim_local=(dim_head, dim_local),
        )
    keys = [r[0] for r in rows]
    if not keys:
        # e.g. a precise-merge range that only moved rows between files
        parts = _enrich(partial_fn(ins), dim, join_key, dim_cols)
        return S.append(
            parts, mv_path, ts_col=ts_col,
            txn_app=app, txn_id=_wm(fact_head, dim_head), txn_expect=consumed,
        )
    key_rows = local_frame(spark, [(k,) for k in keys], gdf.schema)
    scoped_fact = _read_fact_keys(
        spark, fact_path, fact_head, join_key, keys, key_rows=key_rows
    )
    scoped = _enrich(partial_fn(scoped_fact), dim, join_key, dim_cols)
    # inserts OUTSIDE the affected keys are plain new enriched partials
    # (inserts inside them are already in the pinned-head scan above)
    fresh = _enrich(
        partial_fn(ins).join(F.broadcast(key_rows), join_key, "left_anti"),
        dim,
        join_key,
        dim_cols,
    )
    return S.upsert_by_keys(
        scoped.unionByName(fresh),
        mv_path,
        cols=(join_key,),
        keys=[(k,) for k in keys],
        ts_col=ts_col,
        txn_app=app,
        txn_id=_wm(fact_head, dim_head),
        txn_expect=consumed,
    )


def merge_enriched_fn(
    join_key: str = "symbol", dim_cols: Sequence[str] = ("sector",)
) -> Callable[[DataFrame], DataFrame]:
    """The closed partial×partial merge for ``logmv.compact_rollup`` of
    an enriched MV: same bars algebra, grouped at the MV's FULL stored
    key (time, join key, dim attrs). All live partials of a key share
    their dim attrs by construction — a dim change eq-deleted the old
    generation — so the dim columns ride the group-by unchanged."""

    def merge(partials: DataFrame) -> DataFrame:
        return partials.groupBy("minute", join_key, *dim_cols).agg(
            F.min_by("open", F.col("open_key")).alias("open"),
            F.min_by(F.col("open_key"), F.col("open_key")).alias("open_key"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("close_key")).alias("close"),
            F.max_by(F.col("close_key"), F.col("close_key")).alias("close_key"),
            F.sum("volume").alias("volume"),
            F.sum("trades").alias("trades"),
        )

    return merge


def rebuild_enriched(
    spark: SparkSession,
    fact_path: str,
    dim_path: str,
    mv_path: str,
    join_key: str = "symbol",
    dim_cols: Sequence[str] = ("sector",),
    partial_fn: Callable[[DataFrame], DataFrame] = partial_bars,
    app: str = "joinmv",
    ts_col: str = "minute",
    dim_view: Callable[[DataFrame], DataFrame] | None = None,
    _dim_local: tuple[int, pa.Table | None] | None = None,
) -> int:
    """Full recompute from both pinned heads in ONE manifest swap (the
    logmv rebuild contract, two logs). Fails loudly on a duplicate-key
    dim — fanning out partials would silently double-count forever.

    ``_dim_local`` (r17, internal): ``(dim version, projected dim rows)``
    a falling-back scoped refresh already collected — reused when the
    version is still the dim head, so the rebuild doesn't re-plan and
    re-collect the dim's merge-on-read read (the dim-collect showed up
    2-3× per refresh in the job profile); a dim commit in between makes
    the rows stale, and the rebuild collects them afresh."""
    fact_head = S.latest_version(fact_path)
    dim_head = S.latest_version(dim_path)
    if fact_head is None or dim_head is None:
        raise FileNotFoundError(f"no snapshots at {fact_path} / {dim_path}")
    dim = S.read_snapshot(spark, dim_path, version=dim_head)
    if dim_view is not None:
        dim = dim_view(dim)
    # r17: one bounded collect of the projected dim replaces the separate
    # dup-check action AND the distributed dim leg of the enrich join —
    # the dup check becomes a Python count (zero jobs) and the rebuild's
    # big fact-scan plan broadcasts a LocalTableScan instead of
    # re-planning the dim's merge-on-read read. Same memory class as the
    # BroadcastExchange the join already builds driver-side; an
    # over-bound dim keeps the distributed path.
    held_v, dim_local = _dim_local if _dim_local is not None else (None, None)
    if held_v != dim_head or dim_local is None:
        dim_local = _collect_dim_local(dim, join_key, dim_cols)
    if dim_local is not None:
        from collections import Counter

        counts = Counter(dim_local.column(0).to_pylist())
        dup = [k for k, n in counts.items() if n > 1][:1]
        dim = local_frame(spark, dim_local)
    else:
        dup = [
            r[0]
            for r in dim.groupBy(join_key)
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        ]
    if dup:
        raise ValueError(
            f"dim {dim_path} has duplicate join key {dup[0]!r} at "
            f"v{dim_head} — an enriched rollup over it would double-count; "
            "dedup the dim (SCD2 current view) first"
        )
    partials = _enrich(
        partial_fn(S.read_snapshot(spark, fact_path, version=fact_head)),
        dim,
        join_key,
        dim_cols,
    )
    entries = S._write_txn(partials, mv_path, ts_col=ts_col)
    return S._commit(
        mv_path,
        lambda _hf: entries,
        "rebuild",
        txn=(app, _wm(fact_head, dim_head)),
        txn_expect="force",
        dvs_fn=lambda _d: [],
        eq_dvs_fn=lambda _e, _v: [],
        write_schema=S._frame_schema(partials),
        schema_mode="replace",
    )
