"""Reference-parity analytics queries (the crypto-trades query surface).

The reference's five API endpoints + manual verification set
(``api/server.py:57-200``, ``src/queries.sql:1-25`` in the reference tree) are
re-expressed over the driver's ``events`` fixture table, which is the
documented stand-in stream table (FIXTURES.md §B):

- ``event_type``  ≙ trade ``symbol``
- ``value``       ≙ trade ``price``
- ``props.$.k``   ≙ trade ``qty`` (exercises ingest-side JSON extraction, S2/S3)
- ``event_id % 2``≙ ``is_buyer_maker`` (deterministic 0/1 side)
- ``max(ts)``     ≙ ``now()`` — the reference's sliding lookback windows are
  anchored at query time; tests need a deterministic anchor, so every query
  anchors at the table's max timestamp via a scalar aggregate (computed as a
  broadcast single-row join — never a driver-side collect).

Scale notes (100 TB): every query filters on ``ts`` first, so with the
production table layout (month-partitioned, sorted-by-ts parquet — see
``plans.layout``) the scan prunes partitions and row groups before anything
else runs. Aggregations are plain hash-aggregates (partial+final, map-side
combine); top-K uses ``TakeOrderedAndProject`` (no full sort). The anchor
aggregate is a parquet-footer-stats MAX at scan level
(``spark.sql.parquet.aggregatePushdown``).

Operator coverage (SURVEY.md §2): P1-P8, A1-A11, F1-F6, O1-O4, C1.
Exact-parity details honored: ClickHouse ``sumIf`` over an empty match-set
yields 0 (not NULL) → ``when/otherwise(0)``; per-side VWAP is NULL when that
side has no volume → ``nullif``; open/close tie-break deterministically on
``(ts, event_id)`` (the reference's ``argMin``/``anyLast`` with trade_id
tie-break intent, survey §2.4 A5/A6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import bounded_cache, derived_dir
from ..tables import load

# "now()" for these queries: the deterministic anchor expression (oracle form).
_SQL_ANCHOR = "(SELECT max(ts) FROM events)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with the trade-surface columns: price, qty, side.

    NO scan_parallel here (r17 A/B): unlike the documents paths (4xmd5
    grid fan-outs, 32-lane folds per row), the per-row work is ONE JSON
    field extraction — repartitioning the full event rows costs more
    than it parallelizes (keyless repartition additionally pays a local
    sort, SPARK-23207): measured ev_ohlcv_1m 0.36->0.82 s, twopass
    1.61->2.82 s WITH the repartition. The family parallelizes at its
    first aggregation exchange instead."""
    return (
        load(spark, sf_dir, "events")
        .withColumn("price", F.col("value"))
        .withColumn("qty", F.get_json_object("props", "$.k").cast("double"))
        .withColumn("side", F.col("event_id") % 2)
    )


def _lookback(df: DataFrame, base: DataFrame, amount: str) -> DataFrame:
    """Rows of ``df`` within ``anchor - INTERVAL amount`` (reference P5 window).

    The anchor — the deterministic stand-in for ``now()`` — is max(ts) over
    the *unfiltered* ``base`` table, attached as a broadcast single-row join:
    stays lazy, no driver collect; at scale the MAX comes from parquet footer
    stats (aggregate pushdown).
    """
    anchor = base.select(F.max("ts").alias("anchor_ts"))
    return df.crossJoin(F.broadcast(anchor)).where(
        F.col("ts") >= F.col("anchor_ts") - F.expr(f"INTERVAL {amount}")
    )


# --------------------------------------------------------------------------
# verification set (reference src/queries.sql)
# --------------------------------------------------------------------------


def ev_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: global row count (reference src/queries.sql:2)."""
    return _events(spark, sf_dir).agg(F.count("*").alias("n"))


def ev_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: latest-N rows for one symbol in a lookback window.

    Reference /live_trades (api/server.py:108-132): projection + equality +
    time-range predicates, ORDER BY ts DESC LIMIT N. Spark plans
    TakeOrderedAndProject — true top-K, no full sort. Tie-break on event_id
    for a deterministic row set.
    """
    e = _events(spark, sf_dir)
    return (
        _lookback(e.where(F.col("event_type") == "click"), e, "24 HOURS")
        .select("ts", "event_id", "user_id", "price", "qty", "side")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
    )


def ev_minute_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A10: per-minute avg price + volume for one symbol (src/queries.sql:16-20)."""
    e = _events(spark, sf_dir)
    return (
        _lookback(e.where(F.col("event_type") == "view"), e, "6 HOURS")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(
            F.round(F.avg("price"), 6).alias("avg_price"),
            F.sum("qty").alias("volume"),
            F.count("*").alias("trades"),
        )
        .orderBy("minute")
    )


# --------------------------------------------------------------------------
# the five API endpoint queries
# --------------------------------------------------------------------------


def ev_ohlcv_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/ohlcv: 1-minute OHLCV bars for one symbol (api/server.py:57-84).

    open = price at min(ts, event_id); close = price at max(ts, event_id) —
    the deterministic form of ClickHouse argMin/anyLast (survey A5/A6).
    Single hash-aggregate; min_by/max_by on a struct key keeps it one pass.
    """
    e = _events(spark, sf_dir)
    return (
        _lookback(e.where(F.col("event_type") == "click"), e, "24 HOURS")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(
            F.min_by("price", F.struct("ts", "event_id")).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", F.struct("ts", "event_id")).alias("close"),
            F.sum("qty").alias("volume"),
            F.count("*").alias("trades"),
        )
    )


def ev_top_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/top_symbols: volume leaders over a lookback (api/server.py:87-105)."""
    e = _events(spark, sf_dir)
    return (
        _lookback(e, e, "7 DAYS")
        .groupBy("event_type")
        .agg(F.sum("qty").alias("volume"), F.count("*").alias("trades"))
        .orderBy(F.col("volume").desc())
        .limit(10)
    )


def _buy_sell_aggs() -> list:
    """Shared conditional aggregates (survey A7/A8).

    ClickHouse sumIf parity: empty match-set sums to 0 (not NULL) — hence
    when/otherwise(0) rather than FILTER. VWAP is NULL when the side has no
    volume (nullif guard), matching api/server.py:148-149.
    """
    buy_qty = F.when(F.col("side") == 0, F.col("qty")).otherwise(F.lit(0.0))
    sell_qty = F.when(F.col("side") == 1, F.col("qty")).otherwise(F.lit(0.0))
    buy_pq = F.when(F.col("side") == 0, F.col("price") * F.col("qty")).otherwise(F.lit(0.0))
    sell_pq = F.when(F.col("side") == 1, F.col("price") * F.col("qty")).otherwise(F.lit(0.0))
    return [
        F.sum(buy_qty).alias("buy_volume"),
        F.sum(sell_qty).alias("sell_volume"),
        F.round(F.sum(buy_pq) / F.nullif(F.sum(buy_qty), F.lit(0.0)), 6).alias(
            "avg_buy_price"
        ),
        F.round(F.sum(sell_pq) / F.nullif(F.sum(sell_qty), F.lit(0.0)), 6).alias(
            "avg_sell_price"
        ),
    ]


def ev_buy_sell_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/live_buy_sell: per-symbol buy/sell volume + VWAP + rate, top by total volume.

    Reference api/server.py:135-169 — the CTE + lateral-alias query (C1/O3):
    total_vol is derived from two sibling aggregates, then sorted on.
    """
    minutes = 3 * 24 * 60  # 3-day lookback, rate per minute (survey A9)
    e = _events(spark, sf_dir)
    agg = (
        _lookback(e, e, "3 DAYS")
        .groupBy("event_type")
        .agg(
            *_buy_sell_aggs(),
            F.round(F.count("*") / F.lit(float(minutes)), 6).alias("trades_per_min"),
        )
    )
    return (
        agg.withColumn("total_vol", F.col("buy_volume") + F.col("sell_volume"))
        .orderBy(F.col("total_vol").desc())
        .limit(5)
        # total_vol orders but is projected away (reference api/server.py:156-164)
        .select(
            "event_type",
            "buy_volume",
            "sell_volume",
            "avg_buy_price",
            "avg_sell_price",
            "trades_per_min",
        )
    )


def ev_buy_sell_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/hist_buy_sell: per-minute buy/sell split for one symbol (api/server.py:172-200)."""
    e = _events(spark, sf_dir)
    return (
        _lookback(e.where(F.col("event_type") == "purchase"), e, "2 DAYS")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(*_buy_sell_aggs(), F.count("*").alias("trades"))
    )


def ev_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplacingMergeTree read-time dedup semantics (survey §1.4 X7).

    "Keep the newest version per key" — here: latest event per
    (user_id, event_type), tie-broken on event_id. Implemented as the
    canonical row_number()=1 dedup view the engine exposes over any
    versioned table (see plans.layout.dedup_view).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        _events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "ts", "price")
    )


def ev_user_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface (INTERSECT / EXCEPT / UNION over user sets).

    Audience overlap: users who clicked AND purchased, clicked only,
    purchased only. Each set op is a shuffle on user_id over the deduped
    (tiny) id sets — the standard cohort algebra shape.
    """
    e = _events(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select("user_id").distinct()
    purchases = e.where(F.col("event_type") == "purchase").select("user_id").distinct()
    tagged = (
        clicks.intersect(purchases).withColumn("grp", F.lit("both"))
        .unionByName(clicks.subtract(purchases).withColumn("grp", F.lit("click_only")))
        .unionByName(purchases.subtract(clicks).withColumn("grp", F.lit("purchase_only")))
    )
    return tagged.groupBy("grp").agg(F.count("*").alias("n_users"))


def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap-based sessions (30 min) per user, rolled up.

    lag → new-session flag → running sum = session id (one shuffle on
    user_id, both windows share it), then two hash-aggregates. The batch
    twin of the streaming session-window operator; durations are integer
    epoch-second diffs so the oracle matches bit-exactly.
    """
    from pyspark.sql.window import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        e.withColumn(
            "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .groupBy("user_id", "sess_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))).alias("dur_sec"),
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("dur_sec").alias("max_session_sec"),
            F.round(F.avg("dur_sec"), 6).alias("avg_session_sec"),
        )
    )


def ev_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (p50/p90/p99) of price per event type.

    ``F.percentile`` (exact, linear interpolation — ANSI PERCENTILE_CONT
    semantics, matching DuckDB quantile_cont). At 100 TB the engine swaps
    this for ``approx_percentile`` with a documented error bound; the exact
    form is the correctness reference.
    """
    e = _events(spark, sf_dir)
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.percentile("price", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("price", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("price", F.lit(0.99)), 6).alias("p99"),
        )
    )


QUANTILE_PS = (0.5, 0.9, 0.99)
QUANTILE_BUCKETS = 1024  # two-pass selection granularity (a knob)


def ev_price_quantiles_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated quantiles per type WITHOUT buffering each
    group's values — the scale path for the exact form itself.

    ``F.percentile`` (the declared exact baseline) gathers every group
    value into one aggregation buffer: a memory ceiling at 100 TB that
    ``approx_percentile`` dodges only by giving up exactness. This query
    keeps exactness with bounded memory via distributed two-pass
    selection (the same trick as corpus_mix's threshold selection):

      pass 1 — per-type (count, min, max) + a fixed-width bucket
               histogram; cumulative counts locate, for each percentile,
               the bucket holding order statistics ⌊r⌋ and ⌈r⌉
               (r = p·(n−1));
      pass 2 — ONLY the boundary buckets' rows (≈ n/QUANTILE_BUCKETS of
               the data) are ranked within their bucket; the needed order
               stats come out by offset, and Spark's own interpolation
               formula v_lo·(⌈r⌉−r) + v_hi·(r−⌊r⌋) is applied verbatim.

    No per-group buffering, no full-group sort: the only windows run over
    ≤QUANTILE_BUCKETS histogram rows per type and over single boundary
    buckets. Output is BIT-IDENTICAL to ``ev_price_quantiles``
    (equality-tested there, same DuckDB oracle here).
    """
    from pyspark.sql.window import Window

    # F.percentile SKIPS nulls: drop them up front so n, the bucket
    # histogram, and the cumulative ranks all see the same population
    # (a NULL bucket would additionally sort first in the cumulative
    # window and shift every cum_prev). The GROUP list however comes from
    # the UNFILTERED table: a type whose prices are all NULL must still
    # surface (with NULL quantiles), exactly as F.percentile and the
    # shared oracle emit it.
    #
    # Groups are keyed on an INVERTIBLE NULL-safe surrogate ("1" for the
    # NULL type, "0"+value otherwise): F.percentile's groupBy and the
    # oracle's GROUP BY both emit a NULL-event_type group, and a plain
    # equi-join on the raw column would silently drop it at every join in
    # this dataflow (NULL keys never match) — the surrogate keeps every
    # join/window a cheap equi-op and decodes back at the end.
    raw = _events(spark, sf_dir).select(
        F.when(F.col("event_type").isNull(), F.lit("1"))
        .otherwise(F.concat(F.lit("0"), F.col("event_type")))
        .alias("gk"),
        "price",
    )
    all_types = raw.select("gk").distinct()
    e = raw.where(F.col("price").isNotNull())
    # r16 perf: the per-type stats and the bucketed rows are each
    # referenced by SEVERAL downstream branches (eb by hist + boundary,
    # stats by eb + ranks); uncached, Catalyst re-derives the subplan per
    # reference and the plan held 18 parquet scans / 42 exchanges for a
    # 2-pass algorithm. bounded_cache collapses it to the two passes the
    # algorithm actually needs — stats is O(types) rows, eb O(rows) of
    # (gk, price, b) — the dsir-weights precedent.
    stats = bounded_cache(
        "trades.q2p_stats",
        e.groupBy("gk").agg(
            F.count("*").alias("n"),
            F.min("price").alias("lo"),
            F.max("price").alias("hi"),
        ),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(QUANTILE_BUCKETS)
    # degenerate all-equal group → single bucket 0
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(QUANTILE_BUCKETS - 1),
            F.floor((F.col("price") - F.col("lo")) / width),
        )
    )
    # NOT cached (r17, per ADVICE): eb is O(all input rows) — caching it
    # writes the entire fact projection to MEMORY_AND_DISK, which at the
    # 100 TB target is strictly worse than the second compressed columnar
    # parquet scan the two consumers (hist, boundary ranking) cost
    # uncached. The algorithm is two-pass BY DESIGN; only the O(types)
    # stats frame above is worth pinning.
    eb = e.join(F.broadcast(stats), "gk").select(
        "gk", "price", bucket.cast("int").alias("b")
    )
    hist = eb.groupBy("gk", "b").agg(F.count("*").alias("c"))
    wcum = Window.partitionBy("gk").orderBy("b")
    cum = hist.withColumn(
        "cum_prev",
        F.coalesce(
            F.sum("c").over(wcum.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ),
    )
    # ranks table: per (type, p) the 0-indexed order stats ⌊r⌋ and ⌈r⌉
    ranks = (
        stats.select("gk", "n")
        .select(
            "gk",
            "n",
            F.explode(F.array(*[F.lit(p) for p in QUANTILE_PS])).alias("p"),
        )
        .withColumn("r", F.col("p") * (F.col("n") - 1))
        .select(
            "gk",
            "p",
            "r",
            F.explode(
                F.array_distinct(
                    F.array(F.floor("r").cast("long"), F.ceil("r").cast("long"))
                )
            ).alias("k"),
        )
    )
    # locate each k's bucket: cum_prev <= k < cum_prev + c  (tiny join:
    # ranks is 3-6 rows/type, cum is <=QUANTILE_BUCKETS rows/type).
    # Explicit aliases: ranks and cum share lineage, and unaliased
    # self-join predicates resolve ambiguously (Spark warns
    # "trivially true equals predicate").
    rk, cu = ranks.alias("rk"), cum.alias("cu")
    located = (
        rk.join(
            F.broadcast(cu),
            (F.col("rk.gk") == F.col("cu.gk"))
            & (F.col("rk.k") >= F.col("cu.cum_prev"))
            & (F.col("rk.k") < F.col("cu.cum_prev") + F.col("cu.c")),
        )
        .select(
            F.col("rk.gk").alias("gk"),
            F.col("rk.p").alias("p"),
            F.col("rk.r").alias("r"),
            F.col("rk.k").alias("k"),
            F.col("cu.b").alias("b"),
            F.col("cu.cum_prev").alias("cum_prev"),
        )
    )
    # pass 2: rank ONLY boundary buckets' rows; order stat k is the
    # (k - cum_prev)-th smallest within its bucket (ties: equal prices
    # yield the same value whichever ranks first)
    needed = located.select("gk", "b").distinct()
    wbucket = Window.partitionBy("gk", "b").orderBy("price")
    boundary = (
        eb.join(F.broadcast(needed), ["gk", "b"])
        .withColumn("pos", F.row_number().over(wbucket) - 1)
    )
    lo, bd = located.alias("lo"), boundary.alias("bd")
    vals = lo.join(
        bd,
        (F.col("lo.gk") == F.col("bd.gk"))
        & (F.col("lo.b") == F.col("bd.b"))
        & (F.col("lo.k") == F.col("bd.pos") + F.col("lo.cum_prev")),
    ).select(
        F.col("lo.gk").alias("gk"),
        F.col("lo.p").alias("p"),
        F.col("lo.r").alias("r"),
        F.col("lo.k").alias("k"),
        F.col("bd.price").alias("price"),
    )
    # interpolate exactly as Spark's Percentile: v_lo*(ceil(r)-r) + v_hi*(r-floor(r));
    # when r is integral floor==ceil and the single value passes through
    per_p = vals.groupBy("gk", "p", "r").agg(
        F.min_by("price", "k").alias("v_lo"),
        F.max_by("price", "k").alias("v_hi"),
    )
    interp = F.when(
        F.ceil("r") == F.floor("r"), F.col("v_lo")
    ).otherwise(
        F.col("v_lo") * (F.ceil("r") - F.col("r"))
        + F.col("v_hi") * (F.col("r") - F.floor("r"))
    )
    wide = per_p.select("gk", "p", F.round(interp, 6).alias("v"))
    quant = wide.groupBy("gk").agg(
        F.max(F.when(F.col("p") == 0.5, F.col("v"))).alias("p50"),
        F.max(F.when(F.col("p") == 0.9, F.col("v"))).alias("p90"),
        F.max(F.when(F.col("p") == 0.99, F.col("v"))).alias("p99"),
    )
    # all-NULL-price groups re-enter here with NULL quantiles (the
    # distinct-type side is tiny; the join is broadcast), and the
    # surrogate decodes back to the raw (possibly NULL) event_type
    decode = F.when(F.col("gk") == "1", F.lit(None).cast("string")).otherwise(
        F.expr("substring(gk, 2)")
    )
    return (
        all_types.join(quant, "gk", "left")
        .select(decode.alias("event_type"), "p50", "p90", "p99")
    )


def ev_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregates: exact per-type unique users + total events.

    count(DISTINCT x) expands to a two-phase plan (partial distinct on
    (group, x), then final count) — Spark handles the expansion; at 100 TB
    the drop-in replacement is ``approx_count_distinct`` (HLL++, mergeable
    sketch, no second shuffle) when ±2% error is acceptable.
    """
    e = _events(spark, sf_dir)
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


def ev_minute_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute momentum: close, previous close (lag), percent change, and
    5-minute moving average — the standard trading-signal window stack.

    Segmented-window decomposition (no global single-task sort): the lag and
    ma5 windows are PARTITIONED BY day — parallel at any series length — and
    the only rows a day boundary can distort (the first 4 of each day, whose
    frames may reach into earlier days) are recomputed over a boundary table
    of ≤8 rows/day (first-4 ∪ last-4 per day). The global window over THAT
    table is bounded by calendar days, not data volume, and its local
    predecessors are exactly the global ones (any global predecessor of a
    first-4 row is a same-day earlier row or in the nearest preceding day's
    last-4). Equals the naive global window bit-for-bit — the oracle stays
    the plain unpartitioned form.
    """
    from pyspark.sql.window import Window

    e = _events(spark, sf_dir)
    bars = (
        e.where(F.col("event_type") == "click")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(F.max_by("price", F.struct("ts", "event_id")).alias("close"))
        .withColumn("day", F.date_trunc("day", F.col("minute")))
    )
    w_day = Window.partitionBy("day").orderBy("minute")
    scored = bars.select(
        "minute",
        "close",
        "day",
        F.row_number().over(w_day).alias("rn"),
        F.row_number()
        .over(Window.partitionBy("day").orderBy(F.col("minute").desc()))
        .alias("rrn"),
        F.lag("close").over(w_day).alias("prev_in"),
        F.avg("close").over(w_day.rowsBetween(-4, 0)).alias("ma5_in"),
    )
    boundary = scored.where((F.col("rn") <= 4) | (F.col("rrn") <= 4)).select(
        "minute", "close", "rn"
    )
    w_g = Window.orderBy("minute")
    fixes = (
        boundary.select(
            "minute",
            "rn",
            F.lag("close").over(w_g).alias("prev_fix"),
            F.avg("close").over(w_g.rowsBetween(-4, 0)).alias("ma5_fix"),
        )
        .where(F.col("rn") <= 4)
        .drop("rn")
    )
    prev = F.when(F.col("rn") <= 4, F.col("prev_fix")).otherwise(F.col("prev_in"))
    ma5 = F.when(F.col("rn") <= 4, F.col("ma5_fix")).otherwise(F.col("ma5_in"))
    return (
        scored.join(F.broadcast(fixes), "minute", "left")
        .select(
            "minute",
            "close",
            prev.alias("prev_close"),
            F.round((F.col("close") - prev) / prev * 100, 6).alias("pct_change"),
            F.round(ma5, 6).alias("ma5"),
        )
        .orderBy("minute")
    )


def ev_type_user_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate: event counts by (event_type, side) with all subtotal
    combinations — the full grouping-sets lattice in one hash aggregate."""
    e = _events(spark, sf_dir)
    return (
        e.cube("event_type", "side")
        .agg(F.count("*").alias("n"), F.sum("qty").alias("volume"))
    )


def ev_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price distribution histogram: 20 equal-width buckets over a fixed
    [0, 200) domain, count + volume per (event_type, bucket).

    ``width_bucket`` keeps binning in the projection (no join against a
    bucket table); one hash-aggregate on (type, bucket) — the
    cardinality-bounded shape dashboard distributions need at any scale.
    """
    e = _events(spark, sf_dir)
    bucket = F.width_bucket(F.col("price"), F.lit(0.0), F.lit(200.0), F.lit(20))
    return (
        e.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count("*").alias("n"), F.sum("qty").alias("volume"))
        .orderBy("event_type", "bucket")
    )


def ev_ohlcv_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled minute series: a continuous minute spine over the symbol's
    active range, empty minutes carrying the previous close forward — the
    continuity contract charting/backtesting needs over sparse bars.

    spine = sequence(min minute, max minute) exploded from ONE aggregate row
    (never a driver-side loop). The forward fill is the segmented form: an
    unbounded ``last(close, ignorenulls)`` PARTITIONED BY day (parallel at
    any range), stitched across days by forward-filling each day's last
    non-null close over a days-level table — one tiny global window bounded
    by calendar days, not data volume. A minute whose day-prefix is all
    gaps coalesces to the carried value; equals the naive global
    unbounded-preceding fill exactly (the oracle keeps that form).
    """
    from pyspark.sql.window import Window

    e = _events(spark, sf_dir)
    bars = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(
            F.max_by("price", F.struct("ts", "event_id")).alias("close"),
            F.sum("qty").alias("volume"),
            F.count("*").alias("trades"),
        )
    )
    spine = (
        bars.agg(F.min("minute").alias("mn"), F.max("minute").alias("mx"))
        .select(
            F.explode(
                F.sequence(F.col("mn"), F.col("mx"), F.expr("INTERVAL 1 MINUTE"))
            ).alias("minute")
        )
    )
    joined = spine.join(bars, "minute", "left").withColumn(
        "day", F.date_trunc("day", F.col("minute"))
    )
    w_day = (
        Window.partitionBy("day")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # day-level carry: last bar close per day, forward-filled over the
    # (calendar-bounded) days spine; carry into day d = fill as of day d-1.
    # Both inputs come from the SMALL side (bars / the range row), so the
    # big spine-join subplan is referenced exactly once below.
    day_last = bars.groupBy(F.date_trunc("day", F.col("minute")).alias("day")).agg(
        F.max_by("close", "minute").alias("day_close")
    )
    days = bars.agg(
        F.date_trunc("day", F.min("minute")).alias("d0"),
        F.date_trunc("day", F.max("minute")).alias("d1"),
    ).select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    carry = days.join(day_last, "day", "left").select(
        "day",
        F.last("day_close", ignorenulls=True).over(w_days).alias("carry_close"),
    )
    return (
        joined.join(F.broadcast(carry), "day")
        .select(
            "minute",
            "close",
            F.coalesce(
                F.last("close", ignorenulls=True).over(w_day), F.col("carry_close")
            ).alias("filled_close"),
            F.coalesce("volume", F.lit(0.0)).alias("volume"),
            F.coalesce("trades", F.lit(0)).alias("trades"),
            F.when(F.col("close").isNull(), 1).otherwise(0).alias("is_gap"),
        )
    )


def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-active week, counted
    in each subsequent week they return — the standard retention triangle.

    Three cheap shuffles on user_id / (cohort, offset): distinct
    user-weeks, per-user min week (the cohort), join back, count distinct
    per (cohort, week offset). Weeks are Monday-truncated in both engines,
    so the day difference is exactly divisible by 7.
    """
    e = _events(spark, sf_dir)
    uw = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .withColumn(
            "week_offset",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def ev_user_counts_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distinct counts: HyperLogLog++ per event type (rsd 2%).

    The scale path for ev_user_counts — mergeable sketch, single shuffle, no
    distinct expansion. Approximate by nature, so there is deliberately NO
    oracle entry: the driver records the weaker rows-only check, and the
    exact twin (ev_user_counts) carries the value-level correctness burden.
    """
    e = _events(spark, sf_dir)
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


def ev_price_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles: approx_percentile (Greenwald-Khanna style)
    per event type — the scale path for ev_price_quantiles. No oracle entry
    by design (approximate); rows-only check, exact twin carries values.
    """
    e = _events(spark, sf_dir)
    pct = F.expr("approx_percentile(price, array(0.5, 0.9, 0.99), 10000)")
    return (
        e.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            F.col("p")[0].alias("p50"),
            F.col("p")[1].alias("p90"),
            F.col("p")[2].alias("p99"),
        )
        .orderBy("event_type")
    )


def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: view → click → purchase, each stage strictly after
    the previous one (per user), with per-stage user counts and conversion.

    Sequential dependence is three chained aggregates: t1 = first view,
    t2 = first click after t1, t3 = first purchase after t2 — each stage a
    groupBy on user_id re-joined to the (pre-filtered, pre-projected) event
    stream. All three shuffles share the user_id key, so at scale this is
    one partitioning reused; no window over the full event history.
    """
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    t1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        e.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        e.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    tagged = (
        t1.select(F.lit("1_view").alias("stage"), "user_id")
        .unionAll(t2.select(F.lit("2_click_after_view").alias("stage"), "user_id"))
        .unionAll(t3.select(F.lit("3_purchase_after_click").alias("stage"), "user_id"))
    )
    counts = tagged.groupBy("stage").agg(F.count("*").alias("n_users"))
    base = t1.agg(F.count("*").alias("n_base"))
    return (
        counts.crossJoin(F.broadcast(base))
        .select(
            "stage",
            "n_users",
            F.round(F.col("n_users") / F.col("n_base"), 6).alias("conversion"),
        )
    )


# --------------------------------------------------------------------------
# physical-layout path (survey §4 X1/X2/X7): the same analytics, but read
# through the production table layout instead of the raw fixture parquet
# --------------------------------------------------------------------------

def _layout_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events rewritten with the production trades layout, then read back.

    Build: month-partitioned (``p_month``), sorted-within-files parquet
    via ``plans.layout.write_table`` — the reference's ``PARTITION BY
    toYYYYMM(ts) ORDER BY (ts, symbol, trade_id)``
    (sql/V1__create_trades_table.sql:14-15). A deterministic subset
    (event_id % 97 == 0) is written twice with a later ``ingested_at`` to
    model WebSocket-reconnect replays; the read side must collapse them
    (ReplacingMergeTree semantics, sql/V1__create_trades_table.sql:13).

    Built once per set of fixture bytes and shared across processes
    (``caching.derived_dir``): a rewritten fixture gets a fresh path,
    never a rebuild-in-place, so no process overwrites a directory
    another is mid-read on.
    """
    from ..plans import layout

    def build(tmp: str) -> None:
        e = load(spark, sf_dir, "events")
        orig = e.withColumn(
            "ingested_at", F.lit("2024-02-01 00:00:00").cast("timestamp")
        )
        dups = e.where(F.col("event_id") % 97 == 0).withColumn(
            "ingested_at", F.lit("2024-02-02 00:00:00").cast("timestamp")
        )
        layout.write_table(
            orig.unionByName(dups),
            tmp,
            sort_cols=("ts", "event_type", "event_id"),
            mode="overwrite",
        )

    return layout.read_table(
        spark, derived_dir(sf_dir, ("events",), ("layout",), build)
    )


def ev_layout_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ranged rollup through the full physical-layout read path:
    partition pruning (X1) → row-group skipping (X2) → read-time dedup (X7).

    ``month_pruned`` adds the ``p_month`` partition predicate for the ts
    range, so Catalyst prunes whole month directories before listing files
    (the plan's PartitionFilters — asserted in tests/test_plans.py);
    ``dedup_view`` collapses the injected reconnect duplicates, so the
    result equals the raw fixture aggregate — which is exactly what the
    DuckDB oracle computes. At 100 TB the pruning is the difference between
    scanning ~1 month and scanning 10 years.
    """
    from ..plans import layout

    t = _layout_table(spark, sf_dir)
    pruned = layout.month_pruned(
        t, "2024-01-10 00:00:00", "2024-01-20 00:00:00"
    )
    deduped = layout.dedup_view(
        pruned, keys=("ts", "event_type", "event_id"), version_col="ingested_at"
    )
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def ev_ohlcv_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: 1-minute bars → 1-hour
    bars → 1-day bars, each level re-aggregating the LEVEL BELOW, never raw.

    OHLCV is decomposable: high/low/volume/trades merge as max/min/sum/sum;
    open/close merge by carrying their (ts, event_id) argmin/argmax keys and
    taking ``min_by(open, k_open)`` / ``max_by(close, k_close)`` at the next
    level (TimescaleDB's continuous-aggregate / ClickHouse's
    AggregatingMergeTree pattern, survey X5/T2). At 100 TB the daily rollup
    reads ~1/1440 of what a raw re-aggregation would — and the same merge
    works incrementally as new partials stream in (streaming/bars.py uses
    the identical decomposition).

    Output proves the cascade: day bars plus how many hour/minute partials
    each merged (n_hours / n_minutes).
    """
    e = _events(spark, sf_dir)
    k = F.struct("ts", "event_id")
    m1 = (
        e.where(F.col("event_type") == "click")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(
            F.min(k).alias("k_open"),
            F.min_by("price", k).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max(k).alias("k_close"),
            F.max_by("price", k).alias("close"),
            F.sum("qty").alias("volume"),
            F.count("*").alias("trades"),
        )
    )
    h1 = (
        m1.groupBy(F.date_trunc("hour", F.col("minute")).alias("hour"))
        .agg(
            F.min("k_open").alias("k_open"),
            F.min_by("open", F.col("k_open")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max("k_close").alias("k_close"),
            F.max_by("close", F.col("k_close")).alias("close"),
            F.sum("volume").alias("volume"),
            F.sum("trades").alias("trades"),
            F.count("*").alias("n_minutes"),
        )
    )
    return (
        h1.groupBy(F.date_trunc("day", F.col("hour")).alias("day"))
        .agg(
            F.min_by("open", F.col("k_open")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("k_close")).alias("close"),
            F.round(F.sum("volume"), 6).alias("volume"),
            F.sum("trades").alias("trades"),
            F.count("*").alias("n_hours"),
            F.sum("n_minutes").alias("n_minutes"),
        )
    )


def ev_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ``props`` through Spark 4 VariantType: ``parse_json``
    once, ``variant_get`` per field.

    The scale path for JSON columns: the binary variant encoding decodes
    fields without re-parsing the string per access (vs ``get_json_object``
    which re-parses per field per row), and shredded variant storage lets
    the scan push field access down like a regular column. Values are
    identical to the string-path extraction, which is what the oracle
    computes.
    """
    e = load(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "double")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.sum("k"), 6).alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


KMV_K = 16


def kmv_frac(col):
    """Uniform hash fraction for the KMV sketch: first 8 md5 hex chars of
    the stringified value, as a fraction of 16⁸ — identical arithmetic in
    Spark and DuckDB (see the ev_user_kmv oracle)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
        / F.lit(float(16**8))
    )


def kmv_estimate(k_eff, h_k):
    """(k−1)/h_k when the sketch is full, else the exact count it holds."""
    return F.when(k_eff < KMV_K, k_eff.cast("double")).otherwise(
        (F.lit(KMV_K) - 1) / h_k
    )


KMV_SALT = 32  # phase-1 top-k parallelism (a knob: ~thousands at 100 TB)


def kmv_topk(du: DataFrame, salt_col: str = "user_id") -> DataFrame:
    """K smallest ``frac`` rows per event_type, computed SKEW-SAFELY in two
    phases: a salted per-(type, salt) top-K first (every salt group's k
    smallest necessarily contains any global k-smallest value — the k
    smallest VALUES counting multiplicity are preserved exactly), then the
    final top-K over the ≤ KMV_SALT×K survivors per type.

    Why not one ``row_number() OVER (PARTITION BY event_type ORDER BY
    frac)``: event_type has a handful of values, so the single window
    funnels each type's ENTIRE distinct-user set through one task's sort —
    a billion-row straggler at 100 TB (the corpus_mix lesson). Phase 1's
    partition key has KMV_SALT× the cardinality, and the final sort sees
    O(K·KMV_SALT) rows per type regardless of corpus size.
    """
    from pyspark.sql.window import Window

    salted = du.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(KMV_SALT))
    )
    w1 = Window.partitionBy("event_type", "salt").orderBy("frac")
    cand = (
        salted.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= KMV_K)
        .drop("rn1", "salt")
    )
    w = Window.partitionBy("event_type").orderBy("frac")
    return cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= KMV_K)


def ev_user_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event type, next to
    the exact count so the error is visible.

    The sketch: hash every distinct user to a uniform fraction of the hash
    space (first 8 md5 hex chars / 16⁸ — identical arithmetic in both
    engines), keep only the k=16 smallest; if the kth exists the estimate is
    (k−1)/h_k, else the sketch saw everything and is exact. Mergeable (union
    of sketches = k smallest of the union) and O(k) memory per group — the
    same family as HLL but exactly reproducible, so unlike
    ``ev_user_counts_approx`` it sits under the full value-hash gate.
    Dataflow: one distinct shuffle on (type, user), then the two-phase
    salted top-k (``kmv_topk`` — no full-type window sort).
    """
    e = _events(spark, sf_dir)
    du = (
        e.select("event_type", "user_id")
        .distinct()
        .withColumn("frac", kmv_frac(F.col("user_id")))
    )
    topk = kmv_topk(du)
    return (
        topk.groupBy("event_type")
        .agg(
            F.count("*").alias("k_eff"),
            F.max("frac").alias("h_k"),
        )
        .join(
            e.groupBy("event_type").agg(
                F.countDistinct("user_id").alias("n_exact")
            ),
            "event_type",
        )
        .select(
            "event_type",
            "n_exact",
            F.round(kmv_estimate(F.col("k_eff"), F.col("h_k")), 2).alias("n_kmv"),
        )
    )


def ev_type_activity_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key fact→dim join through the static-salting fallback tier
    (``plans.skew.salted_join``): events are joined to their per-type
    rollup dimension ON the canonical skewed key (``event_type`` — a
    handful of values carrying all rows, exactly the shape where one
    reducer gets the hot key's entire row set).

    Semantics are EXACTLY the plain equi-join's — the oracle is the plain
    SQL join, and ``n_events == n_type`` by construction, so any salting
    defect (dropped or duplicated sub-key rows) breaks the value hash.
    Plan note: at fixture scale Catalyst broadcasts the exploded dim
    (types × 8 salt rows) and salting costs nothing; with broadcast
    disabled the join shuffles on (event_type, salt) — 8 tasks per hot
    key instead of one straggler (locked in
    ``test_results_survive_broadcast_disable`` and ``tests/test_skew.py``).
    """
    from pyspark.sql.window import Window

    from ..plans.skew import salted_join

    e = _events(spark, sf_dir).select("event_id", "event_type", "value")
    dim = e.groupBy("event_type").agg(F.count("*").alias("n_type"))
    dim = dim.withColumn(
        "type_rank",
        F.row_number().over(Window.orderBy(F.desc("n_type"), F.col("event_type"))),
    )  # global window over the handful of type rows, never the fact
    joined = salted_join(e, dim, on="event_type", buckets=8)
    return (
        joined.groupBy("event_type", "n_type", "type_rank")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


QUERIES = {
    "ev_count": ev_count,
    "ev_latest": ev_latest,
    "ev_minute_trend": ev_minute_trend,
    "ev_ohlcv_1m": ev_ohlcv_1m,
    "ev_top_types": ev_top_types,
    "ev_buy_sell_live": ev_buy_sell_live,
    "ev_buy_sell_hist": ev_buy_sell_hist,
    "ev_dedup_latest": ev_dedup_latest,
    "ev_user_setops": ev_user_setops,
    "ev_sessionize": ev_sessionize,
    "ev_price_quantiles": ev_price_quantiles,
    "ev_price_quantiles_twopass": ev_price_quantiles_twopass,
    "ev_user_counts": ev_user_counts,
    "ev_minute_momentum": ev_minute_momentum,
    "ev_type_user_cube": ev_type_user_cube,
    "ev_price_histogram": ev_price_histogram,
    "ev_ohlcv_gapfill": ev_ohlcv_gapfill,
    "ev_cohort_retention": ev_cohort_retention,
    "ev_funnel": ev_funnel,
    "ev_layout_pruned": ev_layout_pruned,
    "ev_ohlcv_multires": ev_ohlcv_multires,
    "ev_user_kmv": ev_user_kmv,
    "ev_type_activity_salted": ev_type_activity_salted,
    "ev_props_variant": ev_props_variant,
    # approximate twins: intentionally absent from ORACLES (rows-only check)
    "ev_user_counts_approx": ev_user_counts_approx,
    "ev_price_quantiles_approx": ev_price_quantiles_approx,
}

_EV = (
    "SELECT *, value AS price, CAST(json_extract_string(props, '$.k') AS DOUBLE) AS qty, "
    "event_id % 2 AS side FROM events"
)

_BUY_SELL_AGGS = """
      sum(CASE WHEN side = 0 THEN qty ELSE 0.0 END) AS buy_volume,
      sum(CASE WHEN side = 1 THEN qty ELSE 0.0 END) AS sell_volume,
      round(sum(CASE WHEN side = 0 THEN price * qty ELSE 0.0 END)
            / nullif(sum(CASE WHEN side = 0 THEN qty ELSE 0.0 END), 0.0), 6)
        AS avg_buy_price,
      round(sum(CASE WHEN side = 1 THEN price * qty ELSE 0.0 END)
            / nullif(sum(CASE WHEN side = 1 THEN qty ELSE 0.0 END), 0.0), 6)
        AS avg_sell_price
"""

ORACLES = {
    "ev_count": "SELECT count(*) AS n FROM events",
    "ev_latest": f"""
        SELECT ts, event_id, user_id, price, qty, side
        FROM ({_EV}) e
        WHERE event_type = 'click' AND ts >= {_SQL_ANCHOR} - INTERVAL 24 HOUR
        ORDER BY ts DESC, event_id DESC
        LIMIT 100
    """,
    "ev_minute_trend": f"""
        SELECT date_trunc('minute', ts) AS minute,
               round(avg(price), 6) AS avg_price,
               sum(qty) AS volume,
               count(*) AS trades
        FROM ({_EV}) e
        WHERE event_type = 'view' AND ts >= {_SQL_ANCHOR} - INTERVAL 6 HOUR
        GROUP BY 1 ORDER BY 1
    """,
    "ev_ohlcv_1m": f"""
        WITH base AS (
          SELECT date_trunc('minute', ts) AS minute, price, qty,
                 row_number() OVER (PARTITION BY date_trunc('minute', ts)
                                    ORDER BY ts, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY date_trunc('minute', ts)
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM ({_EV}) e
          WHERE event_type = 'click' AND ts >= {_SQL_ANCHOR} - INTERVAL 24 HOUR
        )
        SELECT minute,
               max(CASE WHEN rn_a = 1 THEN price END) AS open,
               max(price) AS high,
               min(price) AS low,
               max(CASE WHEN rn_d = 1 THEN price END) AS close,
               sum(qty) AS volume,
               count(*) AS trades
        FROM base GROUP BY minute ORDER BY minute
    """,
    "ev_top_types": f"""
        SELECT event_type, sum(qty) AS volume, count(*) AS trades
        FROM ({_EV}) e
        WHERE ts >= {_SQL_ANCHOR} - INTERVAL 7 DAY
        GROUP BY event_type ORDER BY volume DESC LIMIT 10
    """,
    "ev_buy_sell_live": f"""
        WITH base AS (
          SELECT event_type, {_BUY_SELL_AGGS},
                 round(count(*) / 4320.0, 6) AS trades_per_min
          FROM ({_EV}) e
          WHERE ts >= {_SQL_ANCHOR} - INTERVAL 3 DAY
          GROUP BY event_type
        )
        SELECT event_type, buy_volume, sell_volume,
               avg_buy_price, avg_sell_price, trades_per_min
        FROM base ORDER BY buy_volume + sell_volume DESC LIMIT 5
    """,
    "ev_buy_sell_hist": f"""
        SELECT date_trunc('minute', ts) AS minute, {_BUY_SELL_AGGS},
               count(*) AS trades
        FROM ({_EV}) e
        WHERE event_type = 'purchase' AND ts >= {_SQL_ANCHOR} - INTERVAL 2 DAY
        GROUP BY 1 ORDER BY 1
    """,
    "ev_dedup_latest": f"""
        SELECT user_id, event_type, ts, price
        FROM (
          SELECT user_id, event_type, ts, price,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM ({_EV}) e
        ) t WHERE rn = 1
    """,
    "ev_user_setops": """
        WITH clicks AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        purchases AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        tagged AS (
          SELECT user_id, 'both' AS grp FROM (SELECT * FROM clicks INTERSECT SELECT * FROM purchases) t
          UNION ALL
          SELECT user_id, 'click_only' FROM (SELECT * FROM clicks EXCEPT SELECT * FROM purchases) t
          UNION ALL
          SELECT user_id, 'purchase_only' FROM (SELECT * FROM purchases EXCEPT SELECT * FROM clicks) t
        )
        SELECT grp, count(*) AS n_users FROM tagged GROUP BY grp ORDER BY grp
    """,
    "ev_sessionize": """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR date_diff('second', lag(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
          SELECT user_id, ts,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM flagged
        ),
        per_sess AS (
          SELECT user_id, sess_id, count(*) AS n_events,
                 date_diff('second', min(ts), max(ts)) AS dur_sec
          FROM sessions GROUP BY user_id, sess_id
        )
        SELECT user_id, count(*) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               max(dur_sec) AS max_session_sec,
               round(avg(dur_sec), 6) AS avg_session_sec
        FROM per_sess GROUP BY user_id ORDER BY user_id
    """,
    "ev_price_quantiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "ev_user_counts": """
        SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "ev_minute_momentum": f"""
        WITH bars AS (
          SELECT date_trunc('minute', ts) AS minute,
                 max(CASE WHEN rn = 1 THEN price END) AS close
          FROM (
            SELECT ts, price,
                   row_number() OVER (PARTITION BY date_trunc('minute', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM ({_EV}) e WHERE event_type = 'click'
          ) t GROUP BY 1
        )
        SELECT minute, close,
               lag(close) OVER w AS prev_close,
               round((close - lag(close) OVER w) / lag(close) OVER w * 100, 6)
                 AS pct_change,
               round(avg(close) OVER (ORDER BY minute
                                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
                 AS ma5
        FROM bars
        WINDOW w AS (ORDER BY minute)
        ORDER BY minute
    """,
    "ev_type_user_cube": f"""
        SELECT event_type, side, count(*) AS n, sum(qty) AS volume
        FROM ({_EV}) e
        GROUP BY CUBE (event_type, side)
        ORDER BY event_type NULLS FIRST, side NULLS FIRST
    """,
    # DuckDB has no width_bucket; same binning arithmetic spelled out
    # (bucket width = (200-0)/20 = 10; below-range -> 0, at/above hi -> 21)
    "ev_price_histogram": f"""
        SELECT event_type,
               CASE WHEN price < 0.0 THEN 0
                    WHEN price >= 200.0 THEN 21
                    ELSE CAST(floor(price / 10.0) AS BIGINT) + 1 END AS bucket,
               count(*) AS n, sum(qty) AS volume
        FROM ({_EV}) e
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "ev_ohlcv_gapfill": f"""
        WITH bars AS (
          SELECT date_trunc('minute', ts) AS minute,
                 max(CASE WHEN rn_d = 1 THEN price END) AS close,
                 sum(qty) AS volume, count(*) AS trades
          FROM (
            SELECT ts, price, qty,
                   row_number() OVER (PARTITION BY date_trunc('minute', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM ({_EV}) e WHERE event_type = 'purchase'
          ) t GROUP BY 1
        ),
        spine AS (
          SELECT unnest(generate_series((SELECT min(minute) FROM bars),
                                        (SELECT max(minute) FROM bars),
                                        INTERVAL 1 MINUTE)) AS minute
        )
        SELECT s.minute, b.close,
               last_value(b.close IGNORE NULLS)
                 OVER (ORDER BY s.minute ROWS UNBOUNDED PRECEDING) AS filled_close,
               coalesce(b.volume, 0.0) AS volume,
               coalesce(b.trades, 0) AS trades,
               CASE WHEN b.close IS NULL THEN 1 ELSE 0 END AS is_gap
        FROM spine s LEFT JOIN bars b ON s.minute = b.minute
        ORDER BY s.minute
    """,
    "ev_cohort_retention": """
        WITH uw AS (
          -- DuckDB date_trunc('week') yields DATE; cast for timestamp parity
          SELECT DISTINCT user_id,
                 CAST(date_trunc('week', ts) AS TIMESTAMP) AS week FROM events
        ),
        cohort AS (
          SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
        )
        SELECT c.cohort_week,
               CAST(date_diff('day', c.cohort_week, u.week) // 7 AS BIGINT)
                 AS week_offset,
               count(DISTINCT u.user_id) AS n_users
        FROM uw u JOIN cohort c ON u.user_id = c.user_id
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "ev_funnel": """
        WITH t1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ),
        t2 AS (
          SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN t1 ON e.user_id = t1.user_id
          WHERE e.event_type = 'click' AND e.ts > t1.t1
          GROUP BY e.user_id
        ),
        t3 AS (
          SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN t2 ON e.user_id = t2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > t2.t2
          GROUP BY e.user_id
        ),
        tagged AS (
          SELECT '1_view' AS stage, user_id FROM t1
          UNION ALL SELECT '2_click_after_view', user_id FROM t2
          UNION ALL SELECT '3_purchase_after_click', user_id FROM t3
        )
        SELECT stage, count(*) AS n_users,
               round(count(*) * 1.0 / (SELECT count(*) FROM t1), 6) AS conversion
        FROM tagged GROUP BY stage ORDER BY stage
    """,
    # The layout path (pruning + read-time dedup of injected reconnect
    # duplicates) must be invisible in the result: the oracle is the same
    # rollup over the raw fixture.
    "ev_layout_pruned": """
        SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY event_type ORDER BY event_type
    """,
    # day bars direct from raw — equivalent to the cascade because every
    # OHLCV component is decomposable and open/close cascade their
    # (ts, event_id) argmin/argmax keys exactly
    "ev_ohlcv_multires": f"""
        WITH base AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, ts, price, qty,
                 row_number() OVER (PARTITION BY date_trunc('day', ts)
                                    ORDER BY ts, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY date_trunc('day', ts)
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM ({_EV}) e
          WHERE event_type = 'click'
        )
        SELECT day,
               max(CASE WHEN rn_a = 1 THEN price END) AS open,
               max(price) AS high,
               min(price) AS low,
               max(CASE WHEN rn_d = 1 THEN price END) AS close,
               round(sum(qty), 6) AS volume,
               count(*) AS trades,
               count(DISTINCT date_trunc('hour', ts)) AS n_hours,
               count(DISTINCT date_trunc('minute', ts)) AS n_minutes
        FROM base GROUP BY day ORDER BY day
    """,
    "ev_props_variant": """
        SELECT event_type,
               count(k) AS n_with_k,
               round(sum(k), 6) AS sum_k,
               round(avg(k), 6) AS avg_k,
               min(k) AS min_k,
               max(k) AS max_k
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
              FROM events) t
        GROUP BY event_type ORDER BY event_type
    """,
    "ev_user_kmv": """
        WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        fr AS (
          SELECT event_type,
                 list_sum(list_transform(range(1, 9),
                   i -> (strpos('0123456789abcdef',
                                substring(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
                        * power(16, 8 - i))) / power(16, 8) AS frac
          FROM du
        ),
        topk AS (
          SELECT event_type, frac,
                 row_number() OVER (PARTITION BY event_type ORDER BY frac) AS rn
          FROM fr
        ),
        sk AS (
          SELECT event_type, count(*) AS k_eff, max(frac) AS h_k
          FROM topk WHERE rn <= 16 GROUP BY event_type
        ),
        ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
               FROM events GROUP BY event_type)
        SELECT ex.event_type, n_exact,
               round(CASE WHEN k_eff < 16 THEN CAST(k_eff AS DOUBLE)
                          ELSE 15.0 / h_k END, 2) AS n_kmv
        FROM sk JOIN ex USING (event_type)
        ORDER BY event_type
    """,
    "ev_type_activity_salted": """
        WITH dim AS (
          SELECT event_type, count(*) AS n_type FROM events GROUP BY event_type
        ),
        rk AS (
          SELECT event_type, n_type,
                 row_number() OVER (ORDER BY n_type DESC, event_type) AS type_rank
          FROM dim
        )
        SELECT e.event_type, r.n_type, r.type_rank,
               count(*) AS n_events,
               round(sum(e.value), 2) AS sum_value
        FROM events e JOIN rk r USING (event_type)
        GROUP BY e.event_type, r.n_type, r.type_rank
        ORDER BY e.event_type
    """,
}

# the two-pass exact form has IDENTICAL semantics — same oracle
ORACLES["ev_price_quantiles_twopass"] = ORACLES["ev_price_quantiles"]
