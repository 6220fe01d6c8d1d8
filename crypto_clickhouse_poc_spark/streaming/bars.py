"""Incremental 1-minute OHLCV bars — the reference's materialized view.

The reference MV (``sql/V2__create_trades_1m_view.sql:16-29``) is an insert
trigger: each insert block is aggregated to (minute, symbol) partial rows
appended to ``trades_1m``; a group spanning blocks yields multiple partials
and correct totals require re-aggregation at read time (the reference's own
API re-aggregates raw trades instead — survey §1.4).

Spark gives both designs; we implement both:

- ``start_bars_partials``  — faithful: ``foreachBatch`` aggregates each
  micro-batch and appends partial bars (carrying open_ts/close_ts so
  partials re-merge exactly); ``reaggregate_bars`` is the read-time merge
  view. Late data free (a late row just makes another partial). This is the
  scale-friendly design: append-only sink, no state store growth.
- ``bars_batch`` — the batch recompute over raw trades (the reference
  /ohlcv endpoint's own approach and the golden reference for tests).

Partial-merge algebra: OHLCV is decomposable — min/max/sum/count merge
directly; open/close merge via min_by/max_by over the carried
(open_ts, open_tid)/(close_ts, close_tid) keys. That is exactly ClickHouse's
partial-aggregate machinery (survey X5) reproduced with carried columns.
The merge is written once here — :func:`merge_bars` (closed, keeps the
keys) and :func:`final_bars` (read time) — and every level that merges
bars partials (the log-driven MV and its hour cascade in
``plans/logmv.py``, the enriched MV in ``plans/joinmv.py``, the partials
compactor in ``compaction.py``) calls them with its own group keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def _ohlcv_aggs() -> list:
    key = F.struct("ts", "trade_id")
    return [
        F.min_by("price", key).alias("open"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max_by("price", key).alias("close"),
        F.sum("qty").alias("volume"),
        F.count("*").alias("trades"),
    ]


def bars_batch(trades: DataFrame) -> DataFrame:
    """Batch OHLCV recompute (deterministic open/close via (ts, trade_id))."""
    return trades.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("minute"), "symbol"
    ).agg(*_ohlcv_aggs())


def _partial_aggs() -> list:
    """Per-batch partials: OHLCV + the merge keys for open/close."""
    key = F.struct("ts", "trade_id")
    return [
        F.min_by("price", key).alias("open"),
        F.min_by(key, key).alias("open_key"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max_by("price", key).alias("close"),
        F.max_by(key, key).alias("close_key"),
        F.sum("qty").alias("volume"),
        F.count("*").alias("trades"),
    ]


def partial_bars(batch: DataFrame) -> DataFrame:
    return batch.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("minute"), "symbol"
    ).agg(*_partial_aggs())


def merge_bars(partials: DataFrame, *keys) -> DataFrame:
    """partial x partial -> partial (closed): fold the partial rows of each
    ``keys`` group into one, KEEPING the open/close merge keys so the
    result merges again. Columns come out in ``partial_bars``'s order, so
    parquet appends after a compaction stay schema-identical. ``keys`` are
    names or Columns — the hour level passes
    ``F.date_trunc("hour", "minute").alias("hour")``."""
    return partials.groupBy(*keys).agg(
        F.min_by("open", F.col("open_key")).alias("open"),
        F.min_by(F.col("open_key"), F.col("open_key")).alias("open_key"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", F.col("close_key")).alias("close"),
        F.max_by(F.col("close_key"), F.col("close_key")).alias("close_key"),
        F.sum("volume").alias("volume"),
        F.sum("trades").alias("trades"),
    )


def final_bars(partials: DataFrame, *keys) -> DataFrame:
    """Read-time merge of partial bars to final bars per ``keys`` group:
    :func:`merge_bars` without the carried merge keys (the optimizer
    prunes their two aggregates, so the plan computes only the bars)."""
    return merge_bars(partials, *keys).drop("open_key", "close_key")


def reaggregate_bars(partials: DataFrame) -> DataFrame:
    """Read-time merge of partial bars → final bars (equals bars_batch)."""
    return final_bars(partials, "minute", "symbol")


def start_bars_partials(
    trades_stream: DataFrame,
    dest_path: str,
    checkpoint_path: str,
    trigger_sec: int = 5,
) -> StreamingQuery:
    """Faithful MV: aggregate each micro-batch, append partial bars."""

    def emit(batch: DataFrame, batch_id: int) -> None:
        partial_bars(batch).write.mode("append").parquet(dest_path)

    return (
        trades_stream.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime=f"{trigger_sec} seconds")
        .start()
    )


def start_bars_final(
    trades_stream: DataFrame,
    dest_path: str,
    checkpoint_path: str,
    watermark: str = "10 minutes",
    state_store: str | None = None,
) -> StreamingQuery:
    """Watermarked streaming aggregation emitting *final* bars (append mode:
    a bar row is emitted once, when the watermark passes its window close).

    The documented divergence from the reference (survey §7): trades later
    than the watermark appear in raw ``trades`` but not in bars; the
    reference would have created another partial row instead.

    ``state_store`` optionally overrides the session's provider for this
    query's window state (see ``ingest.set_state_store``): a short watermark
    bounds the live window count, so small deployments can pick ``"memory"``.
    """
    if state_store is not None:
        from .ingest import set_state_store

        set_state_store(trades_stream.sparkSession, state_store)
    bars = (
        trades_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), "symbol")
        .agg(*_ohlcv_aggs())
        .select(F.col("w.start").alias("minute"), "symbol", "open", "high", "low",
                "close", "volume", "trades")
    )
    return (
        bars.writeStream.format("parquet")
        .option("path", dest_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .start()
    )
