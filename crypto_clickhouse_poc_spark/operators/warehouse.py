"""Warehouse maintenance patterns: unpivot (wide→long) and SCD2 merge.

Two classic shapes every analytics engine ends up needing:

- **unpivot** — the inverse of the pivot/contingency queries
  (``sqlapi.sql_hourly_pivot``). Spark 3.4+ has a native
  ``DataFrame.unpivot`` (SQL ``stack``): a zero-shuffle per-row expansion
  of W wide columns into W long rows — at 100 TB it's a map-only Generate,
  never a join.
- **SCD2 merge** — slowly-changing-dimension type 2 upsert WITHOUT
  ``MERGE INTO`` (no Delta in this environment; the reference stack has no
  transactional table format either). The emulation is the documented
  plain-parquet pattern: detect changed keys with an equi-join, close the
  superseded versions, append the new versions, union the untouched rest.
  Every step is a key-partitioned join or map — no windows over the full
  dimension, no global sorts; at scale the dimension and the update batch
  co-partition on the business key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localframe import local_frame
from ..tables import load

SCD2_T0 = "2024-01-01 00:00:00"  # initial-load effective_from
SCD2_T1 = "2024-02-01 00:00:00"  # update-batch effective_from
# Open-interval sentinel. Deliberately INSIDE pandas' datetime64[ns]
# range (max 2262-04-11): the classic 9999-12-31 overflows any consumer
# that converts through nanosecond timestamps (pandas/Arrow toPandas on
# the driver), raising OutOfBoundsDatetime before the values are even
# compared. SCD2 semantics only need "later than any real batch_ts".
SCD2_OPEN = "2200-01-01 00:00:00"


def ev_hourly_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long round trip: pivot events into hour × per-type count
    columns, then ``unpivot`` back to (hour, event_type, n) rows.

    The unpivot is a per-row Generate (W output rows per input row) — the
    whole round trip is one hash aggregate plus map work, no joins. Rows
    with n = 0 are dropped to make the long form equal to the direct
    groupBy (the oracle computes that directly; a pivot materializes
    absent combinations as zeros, the long form never had them).
    """
    e = load(spark, sf_dir, "events")
    # Pivot columns come from the DATA, not a hardcoded list: a new
    # event_type appearing upstream must widen the pivot, not silently
    # vanish from the long form while the oracle's direct GROUP BY counts
    # it. Bounded collect — event_type is a small enum vocabulary (the
    # same contract as Spark's own pivot() when given no value list).
    # NULL is carried as its own slot (the oracle's GROUP BY emits a NULL
    # group); the wide columns get POSITIONAL aliases so arbitrary type
    # strings (dots, backticks, collisions with "hour") can never break
    # column resolution — the original value is restored after unpivot.
    # enforce the "small enum vocabulary" contract instead of assuming it
    # (r7 ADVICE): cap the collect at Spark pivot()'s own maxValues
    # default and fail loudly past it rather than pulling an unbounded
    # distinct to the driver
    max_width = 10_000
    seen = {
        r["event_type"]
        for r in e.select("event_type").distinct().limit(max_width + 1).collect()
    }
    if len(seen) > max_width:
        raise ValueError(
            f"event_type cardinality exceeds pivot width cap {max_width}; "
            "ev_hourly_unpivot requires an enum-like pivot column"
        )
    types = sorted(t for t in seen if t is not None)
    slots = [(f"t{i}", t) for i, t in enumerate(types)]
    if None in seen:
        slots.append(("tnull", None))
    if not slots:  # empty table: no groups, deterministic empty result
        return local_frame(spark, [], "hour int, event_type string, n bigint")
    wide = e.groupBy(F.hour("ts").alias("hour")).agg(
        *[
            F.count(
                F.when(
                    F.col("event_type").isNull()
                    if t is None
                    else F.col("event_type") == t,
                    1,
                )
            ).alias(slot)
            for slot, t in slots
        ]
    )
    long = wide.unpivot(
        ids=["hour"],
        values=[slot for slot, _ in slots],
        variableColumnName="slot",
        valueColumnName="n",
    )
    restore = F.lit(None).cast("string")
    for slot, t in slots:
        if t is not None:
            restore = F.when(F.col("slot") == slot, F.lit(t)).otherwise(restore)
    return (
        long.where(F.col("n") > 0)
        .select("hour", restore.alias("event_type"), "n")
        .orderBy("hour", "event_type")
    )


def _scd2_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic SCD2 fixture: the dimension is ``customer`` with
    ``c_acctbal`` as the tracked attribute (initial load at T0); the
    update batch at T1 touches every 10th key — half with a CHANGED
    balance (must version), half with the same value (must be ignored:
    a correct merge is change-DETECTING, not touch-detecting)."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    dim = c.select(
        "key",
        "name",
        "acctbal",
        F.lit(SCD2_T0).cast("timestamp").alias("effective_from"),
        F.lit(SCD2_OPEN).cast("timestamp").alias("effective_to"),
        F.lit(1).alias("is_current"),
    )
    upd = c.where(F.col("key") % 10 == 0).select(
        "key",
        "name",
        F.when(F.col("key") % 20 == 0, F.round(F.col("acctbal") + 100.0, 2))
        .otherwise(F.col("acctbal"))
        .alias("acctbal"),
    )
    return dim, upd


def scd2_merge(dim: DataFrame, upd: DataFrame, batch_ts: str) -> DataFrame:
    """Generic SCD2 upsert without MERGE INTO: plain joins + union.

    ``dim``: (key, name, acctbal, effective_from, effective_to,
    is_current) history; ``upd``: (key, name, acctbal) update batch.

    changed  = updates ⋈ current versions WHERE ANY tracked attr differs
             (name OR acctbal; null-SAFE compare: NULL→value and
             value→NULL are changes)
    closed   = those current versions with effective_to = batch_ts
    opened   = the new versions effective [batch_ts, ∞)
    inserted = update keys with NO dim row at all → first version
               effective [batch_ts, ∞) (a CDC feed creates entities too)
    untouched= everything else, byte-identical (incl. history rows)

    The legs derive from ONE equi-join (plus one anti-join for inserts) of
    the update batch against current rows on the business key (broadcast
    when the batch is small — the overwhelmingly common case — else a
    co-partitioned shuffle join that AQE skew-splits). No window
    functions, no global sort. Same-value updates are ignored
    (change-DETECTING, hence idempotent: re-applying a batch adds no
    versions — property-tested).
    """
    cur = dim.where(F.col("is_current") == 1)
    # Change detection covers EVERY tracked attribute (name AND acctbal):
    # a name-only change must version, and the opened version must carry
    # the UPDATE's attributes — taking d.name here would freeze the stale
    # name into every future version the CDC feed writes.
    changed = (
        cur.alias("d")
        .join(upd.alias("u"), "key")
        .where(
            ~F.col("d.acctbal").eqNullSafe(F.col("u.acctbal"))
            | ~F.col("d.name").eqNullSafe(F.col("u.name"))
        )
        .select(
            "key",
            F.col("d.name").alias("old_name"),
            F.col("u.name").alias("new_name"),
            F.col("d.acctbal").alias("old_bal"),
            F.col("u.acctbal").alias("new_bal"),
            F.col("d.effective_from").alias("old_from"),
        )
    )
    inserted = upd.join(dim.select("key"), "key", "left_anti").select(
        "key",
        "name",
        "acctbal",
        F.lit(batch_ts).cast("timestamp").alias("effective_from"),
        F.lit(SCD2_OPEN).cast("timestamp").alias("effective_to"),
        F.lit(1).alias("is_current"),
    )
    closed = changed.select(
        "key",
        F.col("old_name").alias("name"),
        F.col("old_bal").alias("acctbal"),
        F.col("old_from").alias("effective_from"),
        F.lit(batch_ts).cast("timestamp").alias("effective_to"),
        F.lit(0).alias("is_current"),
    )
    opened = changed.select(
        "key",
        F.col("new_name").alias("name"),
        F.col("new_bal").alias("acctbal"),
        F.lit(batch_ts).cast("timestamp").alias("effective_from"),
        F.lit(SCD2_OPEN).cast("timestamp").alias("effective_to"),
        F.lit(1).alias("is_current"),
    )
    # untouched = all history rows + current rows of unchanged keys;
    # only CURRENT rows of changed keys are replaced (by closed+opened)
    hist = dim.where(F.col("is_current") == 0)
    untouched_cur = cur.join(changed.select("key"), "key", "left_anti")
    return (
        hist.unionByName(untouched_cur)
        .unionByName(closed)
        .unionByName(opened)
        .unionByName(inserted)
    )


def cust_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture SCD2 query: initial ``customer`` load merged with the
    deterministic T1 update batch (see ``scd2_merge`` for the dataflow;
    no presentation sort — the driver hash is order-insensitive, r17)."""
    dim, upd = _scd2_inputs(spark, sf_dir)
    return scd2_merge(dim, upd, SCD2_T1)


QUERIES = {
    "ev_hourly_unpivot": ev_hourly_unpivot,
    "cust_scd2_merge": cust_scd2_merge,
}

ORACLES = {
    "ev_hourly_unpivot": """
        SELECT CAST(hour(ts) AS INT) AS hour, event_type,
               count(*) AS n
        FROM events
        GROUP BY hour(ts), event_type
        ORDER BY hour, event_type
    """,
    "cust_scd2_merge": f"""
        WITH dim AS (
          SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal
          FROM customer
        ),
        upd AS (
          SELECT key, name,
                 CASE WHEN key % 20 = 0 THEN round(acctbal + 100.0, 2)
                      ELSE acctbal END AS acctbal
          FROM dim WHERE key % 10 = 0
        ),
        changed AS (
          SELECT d.key, d.name AS old_name, u.name AS new_name,
                 d.acctbal AS old_bal, u.acctbal AS new_bal
          FROM dim d JOIN upd u ON d.key = u.key
          WHERE d.acctbal IS DISTINCT FROM u.acctbal
             OR d.name IS DISTINCT FROM u.name
        )
        SELECT key, name, acctbal,
               TIMESTAMP '{SCD2_T0}' AS effective_from,
               TIMESTAMP '{SCD2_OPEN}' AS effective_to,
               CAST(1 AS INT) AS is_current
        FROM dim WHERE key NOT IN (SELECT key FROM changed)
        UNION ALL
        SELECT key, old_name, old_bal,
               TIMESTAMP '{SCD2_T0}', TIMESTAMP '{SCD2_T1}', CAST(0 AS INT)
        FROM changed
        UNION ALL
        SELECT key, new_name, new_bal,
               TIMESTAMP '{SCD2_T1}', TIMESTAMP '{SCD2_OPEN}', CAST(1 AS INT)
        FROM changed
        ORDER BY key, effective_from
    """,
}
