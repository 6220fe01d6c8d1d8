"""Queries served through the z-order + data-skipping-index read path.

ClickHouse answers selective multi-column predicates with its sparse
primary index plus data-skipping indexes (``minmax`` / ``set(N)`` /
``bloom_filter``); the reference table leans on the primary index alone
(``sql/V1__create_trades_table.sql:15-16``). The Spark-native equivalent
built here (``plans/zorder.py`` + ``plans/skipping.py``) clusters the
fixture's ``events`` in two dimensions (ts, value) and consults a per-file
manifest before the scan, so a predicate on EITHER dimension — or a
membership probe on ``event_type``/``user_id`` — skips files outright.

Every query here is oracle-checked against a plain full scan: pruning is a
read-path optimization and must never change results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import derived_dir, fitted
from ..plans import skipping, zorder
from ..tables import load

#: file count for the z-clustered fixture rewrite. At 100 TB this is
#: "files of ~1 GB" (≈100k); at fixture scale we keep enough files that
#: pruning is observable (each file is one z-range box).
N_FILES = 32

#: bump when the layout recipe changes (quantizer, sort, index spec) so a
#: cached build from an older code version is never served
_LAYOUT_VERSION = "v2"


def _indexed(spark: SparkSession, dest: str, minmax_cols: tuple[str, ...]) -> str:
    """``dest`` with its skip index checked (or built) once per process.
    The manifest lives beside the table (``<dest>.skipidx``), so it cannot
    ride the table's rename; racing processes may both build it, and its
    publish is an atomic replace of identical content."""

    def check_or_build() -> None:
        try:
            skipping.load_manifest(dest)
        except (FileNotFoundError, skipping.StaleSkipIndexError):
            skipping.build_skip_index(
                spark,
                dest,
                minmax_cols=minmax_cols,
                set_cols=("event_type",),
                bloom_cols=("user_id",),
            )

    fitted(dest, (), ("skipidx",), check_or_build)
    return dest


def zordered_events(spark: SparkSession, sf_dir: str) -> str:
    """events rewritten z-clustered on (ts, value) with a skip index built
    on top; returns the table path. Built once per set of fixture bytes
    (``caching.derived_dir``)."""

    def build(tmp: str) -> None:
        zorder.write_zordered(
            load(spark, sf_dir, "events"), tmp, cols=("ts", "value"), num_files=N_FILES
        )

    dest = derived_dir(sf_dir, ("events",), ("zorder", _LAYOUT_VERSION), build)
    return _indexed(spark, dest, ("ts", "value"))


def user_projection(spark: SparkSession, sf_dir: str) -> str:
    """events re-sorted by (user_id, ts) with its own skip index — the
    Spark analog of a ClickHouse ``PROJECTION ... ORDER BY user_id``: an
    alternate physical order serving query families the primary order
    can't prune. Membership indexes (set/Bloom) only skip files when the
    probed key is *localized*; the primary z-layout clusters (ts, value),
    so a user probe there survives everywhere — exactly ClickHouse's
    behavior for a bloom skip index over a uniformly-sprayed key. The
    projection clusters users contiguously (~150/16 ≈ 10 users per file at
    sf0.01), so an IN probe keeps only the files holding those users.
    """

    def build(tmp: str) -> None:
        (
            load(spark, sf_dir, "events")
            .repartitionByRange(16, F.col("user_id"))
            .sortWithinPartitions("user_id", "ts")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    dest = derived_dir(sf_dir, ("events",), ("userproj", _LAYOUT_VERSION), build)
    return _indexed(spark, dest, ("user_id", "ts"))


def ev_skip_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional selective rollup through the skip index.

    ``value BETWEEN 40 AND 60`` (a trailing-column predicate the 1-D sorted
    layout cannot prune) AND ``ts >= Jan 24`` — the z-layout clusters both,
    so the manifest minmax skips most files before any executor reads a
    byte; survivors still get parquet row-group skipping inside. The skip
    index is consulted driver-side; the same predicates run as Catalyst
    filters, so the result is identical to a full scan (the oracle).
    """
    import datetime

    path = zordered_events(spark, sf_dir)
    cut = datetime.datetime(2024, 1, 24)
    df = skipping.scan_skipped(
        spark,
        path,
        preds=[("ts", ">=", cut), ("value", ">=", 40.0), ("value", "<=", 60.0)],
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def ev_skip_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership pruning: the Bloom index on ``user_id`` plus the
    ``set(N)`` index on ``event_type`` answer an IN + equality probe by
    skipping files that provably hold none of the keys — ClickHouse's
    ``bloom_filter``/``set`` skip-index use case, and the file-level analog
    of a broadcast-semi-join's runtime filter (the key list stands in for a
    small dimension side; bounded, like any IN list).

    Served from the user-ordered :func:`user_projection` — the layout where
    user keys are localized and membership pruning actually bites (the
    minmax index on ``user_id`` does most of the skipping; Bloom covers
    non-contiguous stragglers).
    """
    path = user_projection(spark, sf_dir)
    df = skipping.scan_skipped(
        spark,
        path,
        preds=[("user_id", "in", [3, 7, 11]), ("event_type", "==", "purchase")],
    )
    return (
        df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("user_id")
    )


QUERIES = {
    "ev_skip_pruned": ev_skip_pruned,
    "ev_skip_semijoin": ev_skip_semijoin,
}

ORACLES = {
    "ev_skip_pruned": """
        SELECT event_type,
               count(*) AS n,
               round(sum(value), 6) AS sum_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
          AND value >= 40.0 AND value <= 60.0
        GROUP BY event_type
        ORDER BY event_type
    """,
    "ev_skip_semijoin": """
        SELECT user_id,
               count(*) AS n,
               round(avg(value), 6) AS avg_value
        FROM events
        WHERE user_id IN (3, 7, 11) AND event_type = 'purchase'
        GROUP BY user_id
        ORDER BY user_id
    """,
}
