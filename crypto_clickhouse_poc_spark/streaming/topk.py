"""Mergeable heavy-hitters partials: the Misra-Gries MV seat.

Completes the streaming-sketch column of the MV family — bars (OHLCV,
exact merge), KMV (distinct sample), histogram quantiles (exact integer
merge), and now frequencies: each micro-batch appends a ≤ k-entry
Misra-Gries summary of its key stream, and the read-time merge sums the
appended summaries into an estimate interval ``est ≤ true ≤ est + D``
(``operators.freq`` carries the batch twin and the theory citation;
mergeability: Agarwal et al., PODS 2012 — summed local errors stay ≤
n/(k+1) TOTAL, independent of flush interleaving).

Unlike the histogram sketch the merge is not value-exact (the summary
content depends on flush boundaries), but the INTERVAL is deterministic
and the bookkeeping row makes D computed, not assumed — the tests gate
exactly that against batch-exact counts.

Per-flush dataflow is Spark-first, no Python kernel: counts =
``groupBy(key).count()`` inside the micro-batch, top-(k+1) via
``TakeOrderedAndProject`` (never a global sort), subtract the (k+1)-th
count, append the survivors plus one NULL-key bookkeeping row carrying
(d, n). State per flush: ≤ k+1 rows — bounded, history never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..localframe import local_frame

MG_STREAM_K = 64


def mg_flush_partial(batch: DataFrame, key: str, k: int = MG_STREAM_K) -> DataFrame:
    """The micro-batch's Misra-Gries summary as a DataFrame:
    ≤ k (key, est, 0, 0) rows plus one (NULL, 0, d, n) bookkeeping row.

    NULL keys are EXCLUDED from the ranking and from n (the bookkeeping
    row's NULL is the summary's own convention, and counting unranked
    NULL rows in n would break the absent-key bound true ≤ D) — the same
    skip-NULLs semantics as Spark's own ranking aggregates.

    ONE job per flush: ``rollup`` emits the per-key counts AND the grand
    total in the same aggregation, and a single TakeOrdered (grand-total
    row forced first, then count-descending) collects n and the top-(k+1)
    threshold together — the batch is scanned once.
    """
    spark = batch.sparkSession
    agg = (
        batch.where(F.col(key).isNotNull())
        .select(F.col(key).cast("string").alias("key"))
        .rollup("key")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows = (
        agg.orderBy(F.col("key").isNull().desc(), F.col("c").desc(), F.col("key"))
        .limit(k + 2)
        .collect()
    )
    if not rows:  # empty batch: still append bookkeeping so n merges right
        return local_frame(
            spark, [(None, 0, 0, 0)], "key string, est long, d long, n long"
        )
    n = int(rows[0]["c"])  # rollup grand-total row (key IS NULL)
    top = rows[1:]
    sub = top[k]["c"] if len(top) > k else 0
    kept = [
        (r["key"], int(r["c"] - sub), 0, 0) for r in top[:k] if r["c"] - sub > 0
    ]
    out = kept + [(None, 0, int(sub), n)]
    return local_frame(spark, out, "key string, est long, d long, n long")


def merge_heavy_hitters(partials: DataFrame, top_n: int = 20) -> DataFrame:
    """Read-time merge of appended flush summaries: pointwise est sums per
    key, global D and n from the bookkeeping rows, top-``top_n`` by
    estimate with the interval attached. One hash aggregate over the
    bounded flushes × k rows + a TakeOrdered.

    The (1-row) bookkeeping aggregate is the PRIMARY side of a left
    join: when no per-key entries survived compression (near-uniform
    stream) the reader still gets one (NULL, 0, D, n) row — "no key
    exceeds D" is an answer, and D is its content."""
    sums = (
        partials.where(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.sum("est").alias("est"))
    )
    book = partials.where(F.col("key").isNull()).agg(
        F.coalesce(F.sum("d"), F.lit(0)).alias("err_bound"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_total"),
    )
    return (
        book.join(sums, F.lit(True), "left")
        .select(
            "key",
            F.coalesce("est", F.lit(0)).alias("est"),
            "err_bound",
            "n_total",
        )
        .orderBy(F.col("est").desc(), F.col("key"))
        .limit(top_n)
    )


def start_mg_partials(
    stream: DataFrame,
    dest_path: str,
    checkpoint_path: str,
    key: str,
    k: int = MG_STREAM_K,
    trigger_sec: int = 5,
) -> StreamingQuery:
    """Maintain the heavy-hitters MV under Structured Streaming: each
    micro-batch appends its ≤ k+1-row summary (same ``foreachBatch``
    shape as the bars/quantile MVs). Readers call
    :func:`merge_heavy_hitters` — serving cost is O(flushes × k),
    independent of stream length."""

    def emit(batch: DataFrame, batch_id: int) -> None:
        mg_flush_partial(batch, key, k).write.mode("append").parquet(dest_path)

    return (
        stream.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime=f"{trigger_sec} seconds")
        .start()
    )
