"""Compaction for append-only MV partials: bound read cost over stream lifetime.

Every sketch MV seat appends one summary per flush forever — bars partials
(``bars.py``), KMV minima (``operators/trades.kmv_*`` via the replay seat),
histogram quantile partials (``quantiles.py``), Misra-Gries flush summaries
(``topk.py``). The read-time merges are O(flushes × summary), so a week of
5 s flushes (~120k files) makes every read re-merge weeks of history and
the file listing alone dominates.

All four summaries are MERGEABLE BY CONSTRUCTION — that is the invariant
each seat's tests already gate — so N flush partials can be collapsed into
ONE partial of the same schema using the seat's OWN read-time merge
algebra, and every reader result is invariant:

- bars: ``bars.merge_bars`` — min_by/max_by over the carried open/close
  keys + sum/min/max; the merged row is exactly the partial a single
  covering flush would have written (``reaggregate_bars`` output is
  unchanged — exact).
- quantiles: bucket counts add (exact).
- KMV: the global k-minima are inside the union's k-minima (lossless).
- Misra-Gries: the read-time merge is an uncompressed pointwise sum, so
  pre-summing per key and summing the (d, n) bookkeeping rows changes
  NOTHING the reader computes — est values and the error interval D are
  bit-identical (the compacted summary may hold more than k keys; that is
  a valid summary with the same bounds, no re-compression, no added
  error).

The rewrite goes through the ONE rename-aside swap protocol the repo
already ships (``plans/layout.swap_in`` / ``recover_compaction`` — same
``.compact.tmp``/``.compact.old`` naming), so a crash mid-swap heals at
startup exactly like the trades table. Run compaction while the seat's
stream is paused (or against a path the stream no longer appends to):
like ``layout.compact``, a non-transactional parquet layout cannot
atomically swap under a concurrent appender — an append landing between
the read and the swap would be dropped with the old files. (A
metadata-pointer table format removes this; out of scope, see layout.py.)

At 100 TB scale this is the ClickHouse background-merge analog for
sketch MVs: compaction cost is one scan of the partials (tiny — summaries,
not data), reader cost drops from O(stream lifetime) to O(1 summary).
"""

from __future__ import annotations

import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.layout import recover_compaction, swap_in
from .bars import merge_bars


def merge_quantiles_to_partial(partials: DataFrame) -> DataFrame:
    """Histogram partials: counts add — one (key, bucket) row each."""
    return partials.groupBy("key", "bucket").agg(F.sum("cnt").alias("cnt"))


def merge_kmv_to_partial(partials: DataFrame) -> DataFrame:
    """KMV flush minima → the union's k smallest per type (lossless: every
    global k-minimum is inside its flush's k-minima). Reuses the skew-safe
    two-phase top-k so a year of flushes never funnels through one task's
    sort; duplicate fractions (same user seen by several flushes)
    collapse first, as in the read-time merge."""
    from ..operators.trades import kmv_topk

    return kmv_topk(partials.distinct(), salt_col="frac").select(
        "event_type", "frac"
    )


def merge_mg_to_partial(partials: DataFrame) -> DataFrame:
    """Misra-Gries flush summaries → one summary: per-key est sums plus a
    single (NULL, 0, ΣD, Σn) bookkeeping row. No re-compression — the
    compacted summary keeps every surviving key, so reader estimates AND
    the error interval are bit-identical to the uncompacted read."""
    zero = F.lit(0).cast("long")
    sums = (
        partials.where(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.sum("est").alias("est"))
        .select("key", "est", zero.alias("d"), zero.alias("n"))
    )
    book = (
        partials.where(F.col("key").isNull())
        .agg(
            F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("d"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n"),
        )
        .select(F.lit(None).cast("string").alias("key"), zero.alias("est"), "d", "n")
    )
    return sums.unionAll(book)


def merge_bloom_to_partial(partials: DataFrame) -> DataFrame:
    """Bloom-filter flush partials (``operators/bloom.py`` (word, bits)
    rows): OR is the whole merge algebra — idempotent, so replayed
    flushes are even harmless."""
    return partials.groupBy("word").agg(F.bit_or("bits").alias("bits"))


#: family name → merge-to-partial algebra (each output schema == its
#: seat's flush-partial schema, so readers and future appends are
#: unaffected)
COMPACTORS: dict[str, Callable[[DataFrame], DataFrame]] = {
    # N partial bars per (minute, symbol) -> one, same partial schema
    "bars": lambda partials: merge_bars(partials, "minute", "symbol"),
    "quantiles": merge_quantiles_to_partial,
    "kmv": merge_kmv_to_partial,
    "mg": merge_mg_to_partial,
    "bloom": merge_bloom_to_partial,
}


def _cdf_factory(group_cols, sum_cols=None):
    from .cdfsink import merge_cdf_fn

    return merge_cdf_fn(group_cols, sum_cols)


#: family name → merge FACTORY for algebras that are parametric in the
#: table layout. ``cdf`` (streaming/cdfsink signed-sum partials) cannot
#: be a fixed df→df entry: the merge needs the group/measure column
#: split — deletes carry NEGATED measures, so a split-blind merge that
#: groups by every non-``_n`` column would collapse legitimately
#: distinct rows like (g, +x, +1)/(g, +x, −1) and corrupt the group's
#: measure sum (see cdfsink.merge_cdf_fn). Resolve with
#: ``COMPACTOR_FACTORIES["cdf"](group_cols, sum_cols)``. NOTE: cdfsink
#: rollups are SNAPSHOT tables — compact them through
#: ``plans/logmv.compact_rollup`` (the commit-protocol rewrite, safe
#: under a concurrent stream append via rebase), which is what
#: ``plans/maintain.maintenance_tick``'s ``CdfMVSpec`` seat does; this
#: module's plain-parquet ``compact_partials`` swap is for the
#: non-transactional seats above.
COMPACTOR_FACTORIES: dict[str, Callable[..., Callable[[DataFrame], DataFrame]]] = {
    "cdf": _cdf_factory,
}


def compact_partials(
    spark: SparkSession,
    path: str,
    family_or_merge: str | Callable[[DataFrame], DataFrame],
    n_files: int = 1,
) -> None:
    """Collapse an MV partials table to ≤ ``n_files`` files holding one
    merged summary, via rename-aside swap (crash-healed by
    :func:`recover_compaction`, called here first so a previously crashed
    swap is healed before reading). Pause the seat's stream first — see
    module docstring."""
    merge = (
        COMPACTORS[family_or_merge]
        if isinstance(family_or_merge, str)
        else family_or_merge
    )
    recover_compaction(path)
    merged = merge(spark.read.parquet(path)).coalesce(n_files)
    tmp = path.rstrip("/") + ".compact.tmp"
    try:
        merged.write.mode("overwrite").parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    swap_in(path, tmp)


def maybe_compact(
    spark: SparkSession,
    path: str,
    family_or_merge: str | Callable[[DataFrame], DataFrame],
    max_files: int = 64,
    n_files: int = 1,
) -> bool:
    """Compaction POLICY: compact only when the partials dir holds more
    than ``max_files`` part-files (a cheap driver-side listing — no Spark
    job when under threshold). The maintenance-loop entry point: call it
    between flush windows (or from the same scheduler that runs
    ``layout.compact``) and the file count stays bounded by
    ``max_files + flushes-between-checks`` for the stream's lifetime.
    Returns whether a compaction ran."""
    from pathlib import Path

    recover_compaction(path)
    if len(list(Path(path).glob("part-*"))) <= max_files:
        return False
    compact_partials(spark, path, family_or_merge, n_files)
    return True
