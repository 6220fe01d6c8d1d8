"""One maintenance tick for a snapshot table and everything hanging off it.

Production lakehouse tables accumulate three kinds of debt on different
clocks — small files (every micro-batch), merge-on-read deletion vectors
(every erasure), stale index coverage (every commit) — and their MVs lag
the head until someone refreshes them. Delta/Iceberg deployments run a
scheduled OPTIMIZE job per concern; this module is the single composed
tick (the reference's background-merge cron, generalized): call
:func:`maintenance_tick` from any scheduler and every concern is serviced
with its own threshold policy, each O(its own debt), never O(table)
unless a policy explicitly escalates.

Order of operations (dependencies, not aesthetics):

1. MV refreshes FIRST — while the range is still appends-plus-layout-ops
   the refresh is the cheap CDC path; deferring it until after an
   interleaved erasure would force the retraction (or rebuild) leg.
2. ``optimize_small_files`` — bin-pack micro-batch debt, O(small files).
3. ``maybe_compact_snapshot`` — the escalation: full dedup rewrite only
   when file count or DV-row debt crosses its thresholds.
4. ``maybe_rebuild_bloom_index`` per indexed key — prefers the O(new
   files) extension (r10), full rebuild only on saturation.
5. optional ``vacuum`` — ONLY when the caller asserts no concurrent
   writers (the one op here that is not race-safe by protocol).

Every rewrite here rebases over pure-append interleaves
(``on_conflict="rebase_appends"``), so running this tick next to a live
5 s-cadence streaming sink starves nothing and loses nothing.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import SparkSession

from . import bloomidx as B
from . import joinmv as J
from . import logmv as M
from . import snapshots as S


@dataclass(frozen=True)
class MVSpec:
    """One rollup MV maintained from the base table's log. ``rollup`` is
    its whole algebra (``logmv.Rollup``): the tick refreshes with it and
    compacts with ``rollup.merge`` at ``rollup.ts_col``."""

    mv_path: str
    rollup: M.Rollup = M.BARS
    app: str = "logmv"
    # compact the MV's partials once they exceed this many live files
    max_live_files: int = 64


@dataclass(frozen=True)
class CdfMVSpec:
    """One retraction-aware signed-sum rollup (r15 — streaming/cdfsink).
    The rollup is REFRESHED by its own streaming query (the CDF fold);
    the tick's only job is bounding its read cost: once the partial
    count passes ``max_live_files``, compact through
    ``logmv.compact_rollup`` with the closed signed-sum merge
    (``cdfsink.merge_cdf_fn`` — reads invariant, fully-retracted
    all-zero groups shed). Safe next to the live sink: the compact
    rebases over interleaved stream appends (``rebase_appends``) and
    the (app, batchId) txn watermark lives in the log history, so
    replayed micro-batches stay no-ops after compaction."""

    mv_path: str
    # None → read the split from the rollup's own table properties
    # (cdf.group_cols / cdf.sum_cols / cdf.time_col — the sink records
    # them on its first fold, r15), so a spec can be just the path
    group_cols: Sequence[str] | None = None
    sum_cols: Sequence[str] | None = None
    # None → cdf.time_col property, else group_cols[0]
    ts_col: str | None = None
    max_live_files: int = 64


@dataclass(frozen=True)
class EnrichedMVSpec:
    """One fact ⋈ dim rollup maintained from BOTH tables' logs (r12 —
    plans/joinmv). ``dim_path`` is the dimension snapshot table; the tick
    folds fact appends O(delta) and swaps dim-changed keys' partials. The
    MV is bars partials at ``minute`` by construction, compacted at its
    full stored key (``joinmv.merge_enriched_fn(join_key, dim_cols)``)."""

    mv_path: str
    dim_path: str
    join_key: str = "symbol"
    dim_cols: Sequence[str] = ("sector",)
    app: str = "joinmv"
    max_live_files: int = 64


def maintenance_tick(
    spark: SparkSession,
    path: str,
    mvs: Sequence[MVSpec] = (),
    enriched_mvs: Sequence[EnrichedMVSpec] = (),
    cdf_mvs: Sequence[CdfMVSpec] = (),
    bloom_keys: Sequence[str] = (),
    min_rows: int = 50_000,
    ts_col: str = "ts",
    compact_kw: dict | None = None,
    vacuum_retain: int | None = None,
    max_bloom_dirs: int = 8,
) -> dict:
    """Service every maintenance concern of ``path`` once; returns an
    action report ``{concern: result}`` for observability (the driver of
    a scheduled job logs it verbatim). Safe to call at any cadence —
    every sub-policy is a cheap metadata check when under threshold, and
    a :class:`snapshots.CommitConflict` from a racing writer defers that
    concern to the next tick instead of failing the whole sweep."""
    report: dict = {}
    for spec in mvs:
        try:
            v = M.refresh_rollup(
                spark,
                path,
                spec.mv_path,
                rollup=spec.rollup,
                app=spec.app,
            )
            report[f"mv:{spec.mv_path}"] = v
        except S.CommitConflict:
            report[f"mv:{spec.mv_path}"] = "conflict-deferred"
        head = S.latest_version(spec.mv_path)
        # _n_files: zero-splice count (raw body / files_ref n-sums) — the
        # per-tick threshold check must not materialize sharded manifests
        if (
            head is not None
            and S._n_files(spec.mv_path, head) > spec.max_live_files
        ):
            try:
                report[f"mv-compact:{spec.mv_path}"] = M.compact_rollup(
                    spark, spec.mv_path, merge_fn=spec.rollup.merge,
                    ts_col=spec.rollup.ts_col,
                )
            except S.CommitConflict:
                report[f"mv-compact:{spec.mv_path}"] = "conflict-deferred"
    for espec in enriched_mvs:
        try:
            v = J.refresh_enriched_rollup(
                spark,
                path,
                espec.dim_path,
                espec.mv_path,
                join_key=espec.join_key,
                dim_cols=espec.dim_cols,
                app=espec.app,
            )
            report[f"joinmv:{espec.mv_path}"] = v
        except S.CommitConflict:
            report[f"joinmv:{espec.mv_path}"] = "conflict-deferred"
        head = S.latest_version(espec.mv_path)
        if (
            head is not None
            and S._n_files(espec.mv_path, head) > espec.max_live_files
        ):
            try:
                report[f"joinmv-compact:{espec.mv_path}"] = M.compact_rollup(
                    spark,
                    espec.mv_path,
                    merge_fn=J.merge_enriched_fn(espec.join_key, espec.dim_cols),
                    ts_col=J.TS_COL,
                )
            except S.CommitConflict:
                report[f"joinmv-compact:{espec.mv_path}"] = "conflict-deferred"
    for cspec in cdf_mvs:
        head = S.latest_version(cspec.mv_path)
        if (
            head is not None
            and S._n_files(cspec.mv_path, head) > cspec.max_live_files
        ):
            import json as _json

            from ..streaming.cdfsink import merge_cdf_fn

            gcols, scols, tcol = cspec.group_cols, cspec.sum_cols, cspec.ts_col
            if gcols is None:
                # self-describing rollup: the sink recorded its split
                # as table properties on the first fold (r15)
                props = S.table_properties(cspec.mv_path)
                if "cdf.group_cols" not in props:
                    report[f"cdf-compact:{cspec.mv_path}"] = (
                        "skipped: no group_cols given and the table "
                        "carries no cdf.group_cols property"
                    )
                    continue
                gcols = _json.loads(props["cdf.group_cols"])
                if scols is None and "cdf.sum_cols" in props:
                    scols = _json.loads(props["cdf.sum_cols"])
                tcol = tcol or props.get("cdf.time_col")
            try:
                report[f"cdf-compact:{cspec.mv_path}"] = M.compact_rollup(
                    spark,
                    cspec.mv_path,
                    merge_fn=merge_cdf_fn(gcols, scols),
                    ts_col=tcol or gcols[0],
                )
            except S.CommitConflict:
                report[f"cdf-compact:{cspec.mv_path}"] = "conflict-deferred"
    try:
        v = S.optimize_small_files(spark, path, min_rows=min_rows, ts_col=ts_col)
        report["optimize"] = v
    except S.CommitConflict:
        report["optimize"] = "conflict-deferred"
    try:
        report["compact"] = S.maybe_compact_snapshot(
            spark, path, ts_col=ts_col, **(compact_kw or {})
        )
    except S.CommitConflict:
        report["compact"] = "conflict-deferred"
    for key in bloom_keys:
        report[f"bloom:{key}"] = B.maybe_rebuild_bloom_index(spark, path, key)
        # fold accumulated extension dirs once past the threshold (r12):
        # at sink cadence the dirs list otherwise grows one small parquet
        # dir per extension and every probe pays a per-dir open
        report[f"bloom-compact:{key}"] = B.compact_bloom_index(
            spark, path, key, max_dirs=max_bloom_dirs
        )
    if bloom_keys:
        # debris from crashed builders / publish-race losers; the age
        # guard protects in-flight extensions that wrote but have not
        # yet claimed the pointer
        report["bloom-sweep"] = B.sweep_bloom_orphans(path)
    if vacuum_retain is not None:
        report["vacuum"] = S.vacuum(path, retain_versions=vacuum_retain)
    return report
