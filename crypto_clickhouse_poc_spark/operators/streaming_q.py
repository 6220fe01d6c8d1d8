"""The streaming MV surfaced in the correctness gate.

``stream_ohlcv_replay`` replays the ``events`` fixture through the REAL
streaming ingest + incremental-bars pipeline (``streaming.ingest.normalize``
→ ``foreachBatch`` partial bars, the reference's materialized-view dataflow,
survey §2.8 T1/T2) and returns the read-time re-aggregated bars. Because
partial-bar merge is exact (integer counts, integer-valued qty sums, min/max
and carried-key open/close), the result equals the one-shot batch
aggregation — which is precisely the DuckDB oracle. This puts the streaming
path itself under the driver's hash-match gate instead of a weaker
rows-only check.

Replay encoding notes (determinism):
- rows are sorted by (ts, trade_id) and chunked into 8 files; each file is
  one micro-batch (``maxFilesPerTrigger=1`` + ``availableNow``), so
  (minute, symbol) groups span batches and the partial-merge path is
  genuinely exercised.
- epoch-ms is computed with integer datetime arithmetic (never
  ``.timestamp()`` floats — an exact-second ts must not round down a ms).
- floats are serialized with ``repr`` (shortest round-trip), so
  price/qty survive JSON → string-cast → double bit-exactly.

The driver-side collect here is test scaffolding (building a fake stream
from a batch fixture), not an engine pattern — production ingest reads a
real source (WS/Kafka) and nothing touches the driver.
"""

from __future__ import annotations

import json
import tempfile
from datetime import datetime
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.replay import epoch_ms as _epoch_ms
from ..sources.replay import read_replay_stream, write_replay_chunks
from ..streaming import bars as B
from ..streaming import ingest as I
from .trades import _events

_NUM_CHUNKS = 8


def stream_ohlcv_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through the streaming MV; return merged 1-minute bars."""
    rows = (
        _events(spark, sf_dir)
        .select(
            F.col("event_type").alias("symbol"),
            F.col("event_id").alias("trade_id"),
            "price",
            "qty",
            "ts",
            F.col("side").alias("is_buyer_maker"),
        )
        .orderBy("ts", "trade_id")
        .collect()
    )
    lines = []
    for r in rows:
        ev = {
            "stream": f"{r['symbol'].lower()}@trade",
            "data": {
                "s": r["symbol"],
                "t": r["trade_id"],
                "p": repr(r["price"]),
                "q": repr(r["qty"]),
                "T": _epoch_ms(r["ts"]),
                "m": bool(r["is_buyer_maker"]),
            },
        }
        lines.append(json.dumps(ev))

    root = Path(tempfile.mkdtemp(prefix="stream_ohlcv_replay_"))
    replay_dir, partials_dir, ckpt = root / "replay", root / "partials", root / "ckpt"
    write_replay_chunks(lines, str(replay_dir), num_chunks=_NUM_CHUNKS)

    trades = I.normalize(read_replay_stream(spark, str(replay_dir)))

    def emit(batch: DataFrame, batch_id: int) -> None:
        B.partial_bars(batch).write.mode("append").parquet(str(partials_dir))

    q = (
        trades.writeStream.foreachBatch(emit)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    return (
        B.reaggregate_bars(spark.read.parquet(str(partials_dir)))
        .select("minute", "symbol", "open", "high", "low", "close", "volume", "trades")
    )


def ohlcv_hybrid_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MV-backed ``/ohlcv`` serving fast path (``api.ohlcv_hybrid``)
    under the oracle gate: history minutes answered from partial bars, only
    the window edges (the mid-minute window start and the unfinalized tail)
    re-aggregated from raw.

    Partials are built as three deterministic "flush" batches keyed by
    ``trade_id % 3``, so nearly every minute is split across batches and the
    partial merge is genuinely exercised (the reference's
    multiple-partials-per-group MV artifact, survey §1.4/T2). The oracle is
    the plain raw re-aggregation of the same window — equality IS the fast
    path's serving contract.
    """
    from datetime import datetime

    return _hybrid_replay(spark, sf_dir, datetime(2024, 1, 30, 0, 0, 0))


def ohlcv_hybrid_replay_unaligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ohlcv_hybrid_replay`` with a NON-minute-aligned ``finalized_until``
    (23:59:30) — the oracle-level regression lock for the round-5 fix: a
    mid-minute cutoff must be truncated to its minute boundary, else the
    cutoff minute is served from partials AND re-aggregated from raw (a
    duplicated, double-counted row the oracle's plain re-aggregation
    would immediately expose as a row-count + hash mismatch)."""
    from datetime import datetime

    return _hybrid_replay(spark, sf_dir, datetime(2024, 1, 29, 23, 59, 30))


def _hybrid_replay(spark: SparkSession, sf_dir: str, finalized_until) -> DataFrame:
    from datetime import datetime

    from .. import api

    t = _events(spark, sf_dir).select(
        F.col("event_type").alias("symbol"),
        F.col("event_id").alias("trade_id"),
        "price",
        "qty",
        "ts",
    )
    partials = None
    for i in range(3):
        p = B.partial_bars(t.where(F.col("trade_id") % 3 == i))
        partials = p if partials is None else partials.unionAll(p)
    return api.ohlcv_hybrid(
        t,
        partials,
        "click",
        minutes=2880,
        anchor=datetime(2024, 1, 31, 0, 0, 30),
        finalized_until=finalized_until,
    )


def kmv_partials_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch streaming: per-flush KMV partials merged at read
    time — the partial-aggregate MV pattern (survey T2/X5) applied to a
    sketch instead of OHLCV.

    Each of three interleaved flush batches emits its per-type k-smallest
    hash fractions (O(k) rows per type per flush — the sketch partial);
    the read-time merge takes the k smallest of the union. KMV's merge is
    lossless by construction (the global k-minima are each inside their
    batch's k-minima), so the estimate equals the one-shot sketch — which
    is what the oracle computes. At 100 TB this is how distinct counts are
    maintained incrementally without a countDistinct over history.
    """
    from pyspark.sql.window import Window

    from .trades import KMV_K, kmv_estimate, kmv_frac, kmv_topk

    e = _events(spark, sf_dir)
    parts = None
    for i in range(3):
        # per-flush partial: the skew-safe two-phase top-k (same helper as
        # ev_user_kmv — no full-type window sort over the flush's users)
        p = kmv_topk(
            e.where(F.col("event_id") % 3 == i)
            .select("event_type", "user_id")
            .distinct()
            .withColumn("frac", kmv_frac(F.col("user_id")))
        ).select("event_type", "frac")
        parts = p if parts is None else parts.unionAll(p)
    # read-time merge input is ≤ flushes×K rows per type — a plain window
    # is fine here regardless of corpus size
    w = Window.partitionBy("event_type").orderBy("frac")
    merged = (
        parts.distinct()  # same user in several batches → same fraction
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
    )
    return (
        merged.groupBy("event_type")
        .agg(F.count("*").alias("k_eff"), F.max("frac").alias("h_k"))
        .select(
            "event_type",
            F.round(kmv_estimate(F.col("k_eff"), F.col("h_k")), 2).alias("n_kmv"),
        )
    )


def quantile_partials_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch streaming for QUANTILES: per-flush fixed-width
    histogram partials merged at read time (``streaming/quantiles.py``) —
    the T2 partial-aggregate MV pattern extended to distributions.

    Three interleaved flush batches each emit (type, bucket, cnt); the
    merge sums counts (associative ⇒ flush-order-independent) and extracts
    p50/p90/p99 as the upper edge of the rank-covering bucket. Exactly
    equals the one-shot histogram — the oracle computes that directly. At
    100 TB this maintains latency/price percentiles incrementally with
    O(types × buckets) state and no history rescan; error is bounded by
    the bucket width (5.0), a layout constant, unlike approx_percentile
    whose GK sketch is merge-order-dependent (and thus unhashable).
    """
    from ..streaming import quantiles as Q

    e = _events(spark, sf_dir)
    parts = None
    for i in range(3):
        p = Q.hist_partials(
            e.where(F.col("event_id") % 3 == i), value_col="price", key="event_type"
        )
        parts = p if parts is None else parts.unionAll(p)
    return Q.merge_quantiles(parts)


QUERIES = {
    "stream_ohlcv_replay": stream_ohlcv_replay,
    "ohlcv_hybrid_replay": ohlcv_hybrid_replay,
    "ohlcv_hybrid_replay_unaligned": ohlcv_hybrid_replay_unaligned,
    "kmv_partials_replay": kmv_partials_replay,
    "quantile_partials_replay": quantile_partials_replay,
}

ORACLES = {
    # the batch recompute the streaming partials must merge to exactly
    "stream_ohlcv_replay": """
        WITH t AS (
          SELECT event_type AS symbol, event_id AS trade_id, value AS price,
                 CAST(json_extract_string(props, '$.k') AS DOUBLE) AS qty,
                 date_trunc('second', ts) AS ts
          FROM events
        ),
        base AS (
          SELECT date_trunc('minute', ts) AS minute, symbol, price, qty,
                 row_number() OVER (PARTITION BY date_trunc('minute', ts), symbol
                                    ORDER BY ts, trade_id) AS rn_a,
                 row_number() OVER (PARTITION BY date_trunc('minute', ts), symbol
                                    ORDER BY ts DESC, trade_id DESC) AS rn_d
          FROM t
        )
        SELECT minute, symbol,
               max(CASE WHEN rn_a = 1 THEN price END) AS open,
               max(price) AS high,
               min(price) AS low,
               max(CASE WHEN rn_d = 1 THEN price END) AS close,
               sum(qty) AS volume,
               count(*) AS trades
        FROM base GROUP BY minute, symbol ORDER BY minute, symbol
    """,
    # the serving contract: hybrid == plain raw re-aggregation of the window
    "ohlcv_hybrid_replay": """
        WITH t AS (
          SELECT event_id AS trade_id, value AS price,
                 CAST(json_extract_string(props, '$.k') AS DOUBLE) AS qty, ts
          FROM events WHERE event_type = 'click'
        ),
        base AS (
          SELECT date_trunc('minute', ts) AS minute, price, qty,
                 row_number() OVER (PARTITION BY date_trunc('minute', ts)
                                    ORDER BY ts, trade_id) AS rn_a,
                 row_number() OVER (PARTITION BY date_trunc('minute', ts)
                                    ORDER BY ts DESC, trade_id DESC) AS rn_d
          FROM t
          WHERE ts >= TIMESTAMP '2024-01-29 00:00:30'
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
    # identical oracle: the cutoff only routes WHICH tier serves a minute,
    # never the values — plain re-aggregation is the contract for both
    "ohlcv_hybrid_replay_unaligned": """
        WITH t AS (
          SELECT event_id AS trade_id, value AS price,
                 CAST(json_extract_string(props, '$.k') AS DOUBLE) AS qty, ts
          FROM events WHERE event_type = 'click'
        ),
        base AS (
          SELECT date_trunc('minute', ts) AS minute, price, qty,
                 row_number() OVER (PARTITION BY date_trunc('minute', ts)
                                    ORDER BY ts, trade_id) AS rn_a,
                 row_number() OVER (PARTITION BY date_trunc('minute', ts)
                                    ORDER BY ts DESC, trade_id DESC) AS rn_d
          FROM t
          WHERE ts >= TIMESTAMP '2024-01-29 00:00:30'
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
    # the one-shot sketch the merged partials must equal (KMV merge is
    # lossless); identical arithmetic to the ev_user_kmv oracle
    "kmv_partials_replay": """
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
        )
        SELECT event_type,
               round(CASE WHEN count(*) < 16 THEN CAST(count(*) AS DOUBLE)
                          ELSE 15.0 / max(frac) END, 2) AS n_kmv
        FROM topk WHERE rn <= 16 GROUP BY event_type
        ORDER BY event_type
    """,
    # the one-shot histogram the flushed partials must merge to exactly
    # (bucket = floor(value/5.0): IEEE division + floor, engine-identical)
    "quantile_partials_replay": """
        WITH b AS (
          SELECT event_type AS key,
                 CAST(floor(value / 5.0) AS BIGINT) AS bucket,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2
        ),
        c AS (
          SELECT key, bucket,
                 CAST(sum(cnt) OVER (PARTITION BY key ORDER BY bucket) AS BIGINT) AS cum,
                 CAST(sum(cnt) OVER (PARTITION BY key) AS BIGINT) AS n
          FROM b
        )
        SELECT key, max(n) AS n,
               CAST((min(CASE WHEN cum >= ceiling(0.50 * n) THEN bucket END) + 1) * 5.0 AS DOUBLE) AS p50_est,
               CAST((min(CASE WHEN cum >= ceiling(0.90 * n) THEN bucket END) + 1) * 5.0 AS DOUBLE) AS p90_est,
               CAST((min(CASE WHEN cum >= ceiling(0.99 * n) THEN bucket END) + 1) * 5.0 AS DOUBLE) AS p99_est
        FROM c GROUP BY key ORDER BY key
    """,
}
