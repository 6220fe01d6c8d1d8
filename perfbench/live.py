"""``live_collect``: ingest and bars under an open-loop dashboard read load.

``streaming.collector.Collector`` fills the trades table from an open-loop
envelope generator while ``streaming.bars.start_bars_partials`` runs beside
it, and ``serving.AnalyticsServer`` serves the growing table to an
open-loop refresh client: a refresh is the five GETs of the bundled
dashboard's ``reload()`` issued together, timed from its scheduled send time
until the slowest response arrives, over at most ``nproc`` connections.
At the end, one refresh of a server over the final table, with ``anchor``
pinned, is checked against DuckDB.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pandas as pd

import gen
import reference
from harness import Ctx, log
from spans import percentiles

SYMBOL, MINUTES, WINDOW_SEC = "BTCUSDT", 60, 60
# The five requests of web/index.html reload() with its default inputs.
ENDPOINTS = {
    "ohlcv": f"/ohlcv?symbol={SYMBOL}&minutes={MINUTES}",
    "top_symbols": f"/top_symbols?minutes={MINUTES}",
    "live_buy_sell": f"/live_buy_sell?minutes={MINUTES}",
    "hist_buy_sell": f"/hist_buy_sell?symbol={SYMBOL}&minutes={MINUTES}",
    "live_trades": f"/live_trades?symbol={SYMBOL}&window_sec={WINDOW_SEC}&limit=15",
}
API_FUNCS = ("ohlcv", "top_symbols", "live_trades", "live_buy_sell", "hist_buy_sell")

WINDOW_PHASE_S = 0.5  # the measured window opens this long after a trigger instant
LIVE_SIZES = {"events_per_s": 400, "tick_s": 0.25, "dup_share": 0.02, "late_share": 0.05,
              "max_late_s": 120, "refresh_per_s": 0.2, "drain_backlog": 10_000, "drains": 5,
              "flush_every_sec": 5}


def _expected_rows(want: list[dict]) -> list[dict]:
    return [{k: (v.isoformat() if isinstance(v, (pd.Timestamp, dt.datetime)) else v) for k, v in r.items()} for r in want]


class Refresher:
    """Open-loop dashboard refresh client against one server."""

    def __init__(self, ctx: Ctx, port: int) -> None:
        self.ctx = ctx
        self.port = port
        self.pool = ThreadPoolExecutor(max_workers=ctx.nproc)
        self.latency_ms: list[float] = []
        self.endpoint_ms: dict[str, list[float]] = {e: [] for e in ENDPOINTS}
        self.late_ms: list[float] = []
        self.rows: dict[str, int] = {}
        self.due: dict[int, float] = {}

    def _get(self, rid: int, endpoint: str, refresh_sid):
        tr = self.ctx.tracer
        url = f"http://127.0.0.1:{self.port}{ENDPOINTS[endpoint]}"
        t0 = time.time()
        self.late_ms.append(1000 * (t0 - self.due[rid]))
        with tr.span(f"client.{endpoint}", op=f"r{rid}", parent=refresh_sid) as s:
            if s is not None:
                url += f"&rid={rid}&sp={s.sid}"
            with urllib.request.urlopen(url, timeout=60) as r:
                status, body = r.status, json.loads(r.read())
        t1 = time.time()
        ok = status == 200 and isinstance(body, list)
        self.endpoint_ms[endpoint].append(1000 * (t1 - t0))
        self.rows[f"r{rid}"] = self.rows.get(f"r{rid}", 0) + len(body)
        return ok, t1

    def refresh(self, rid: int, due: float):
        """Issue one refresh now; returns futures of its five requests."""
        self.due[rid] = due
        span = self.ctx.tracer.open("op.refresh", due, f"r{rid}")
        futs = [self.pool.submit(self._get, rid, e, span.sid if span else None) for e in ENDPOINTS]
        return span, futs

    def finish(self, span, futs, due: float) -> bool:
        ends, ok = [], True
        for f in futs:
            try:
                good, t1 = f.result()
                ends.append(t1)
            except Exception as exc:  # a refused or failed request fails the refresh
                log(f"request failed: {exc!r}")
                good = False
            self.ctx.op(good, "dashboard request")
            ok = ok and good
        if ends and span is not None:
            span.end = max(ends)
        if ok:  # failed refreshes are counted by the context
            self.latency_ms.append(1000 * (max(ends) - due))
        return ok

    def run(self, seconds: float, rate: float) -> int:
        """Send refreshes at ``rate``/s for ``seconds``; wait for all."""
        t0 = time.time()
        pending = []
        k = 0
        while True:
            due = t0 + k / rate
            if due >= t0 + seconds:
                break
            time.sleep(max(0.0, due - time.time()))
            pending.append((due, *self.refresh(k, due)))
            k += 1
        for due, span, futs in pending:
            self.finish(span, futs, due)
        return k

    def close(self) -> None:
        self.pool.shutdown(wait=True)


def trace_server(ctx: Ctx, refresher: Refresher):
    """Wrap the serving path's layer boundaries in spans (traced runs only):
    the route handler, every ``api`` query builder and ``collect``."""
    from crypto_clickhouse_poc_spark import api
    from crypto_clickhouse_poc_spark.serving import AnalyticsServer

    tr = ctx.tracer
    route = AnalyticsServer._route_get
    frame = type(ctx.spark.range(0))  # the session's concrete DataFrame class
    collect = frame.collect
    builders = {n: getattr(api, n) for n in API_FUNCS}
    wait_ms: list[float] = []

    def traced_route(self, path, q):
        if "rid" not in q:  # a request the refresh client did not send
            return route(self, path, q)
        rid = int(q.pop("rid"))
        parent = int(q.pop("sp"))
        op = f"r{rid}"
        wait_ms.append(1000 * (time.time() - refresher.due[rid]))
        with tr.span(f"serving{path.replace('/', '.')}", op=op, parent=parent), ctx.job_group(f"{op}:{path}"):
            return route(self, path, q)

    def traced_collect(self):
        if tr.current_op() is None:
            return collect(self)
        with tr.span("exec.collect"):
            rows = collect(self)
        ctx.catalyst(self)
        return rows

    def wrap(name, fn):
        def traced(*a, **kw):
            with tr.span(f"api.{name}"):
                return fn(*a, **kw)
        return traced

    AnalyticsServer._route_get = traced_route
    frame.collect = traced_collect
    for n, fn in builders.items():
        setattr(api, n, wrap(n, fn))
    return wait_ms


def traced_provider(ctx: Ctx, read):
    """The per-request table open, wrapped in a span and its own job group."""
    tr = ctx.tracer

    def provider():
        op = tr.current_op()
        if op is None:
            return read()
        with tr.span("tables.open"), ctx.job_group(f"{op}:tables.open"):
            return read()

    return provider


def check_dashboard(ctx: Ctx, read, want: pd.DataFrame) -> None:
    """One refresh of a server over the final table, ``anchor`` pinned to the
    last event minute: each of its five responses is one operation, checked
    against DuckDB over ``want``, the rows the table must hold."""
    from crypto_clickhouse_poc_spark.serving import AnalyticsServer

    anchor = want["ts"].max().floor("min").to_pydatetime()
    con = reference.connect(trades=want)
    expect = {e: _expected_rows(reference.query(con, sql))
              for e, sql in reference.dashboard_sql("trades", anchor, SYMBOL, MINUTES, WINDOW_SEC).items()}
    log(f"dashboard check at {anchor}: expected rows {({e: len(v) for e, v in expect.items()})}")
    srv = AnalyticsServer(read, anchor=anchor)
    srv.start()
    try:
        for e, path in ENDPOINTS.items():
            with ctx.guarded(f"dashboard {e} at the pinned anchor"):
                with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}", timeout=60) as r:
                    status, body = r.status, json.loads(r.read())
                if status != 200 or not reference.rows_equal(body, expect[e]):
                    raise AssertionError(f"{e}: {len(body)} rows differ from DuckDB's {len(expect[e])}")
    finally:
        srv.stop()


def _serving_report(ctx: Ctx, ref: Refresher, wait_ms) -> dict:
    lat = percentiles(ref.latency_ms)
    layer = {f"serving.{e}_ms": percentiles(v)["p50"] for e, v in ref.endpoint_ms.items()}
    layer["serving.wait_ms"] = percentiles(wait_ms)["p50"] if wait_ms else None
    return {
        "refresh": lat,
        "generator_late_ms": {"p50": percentiles(ref.late_ms)["p50"], "max": max(ref.late_ms, default=0.0)},
        "layer_extra": layer,
        "op_rows": ref.rows,
    }


# ---- live_collect --------------------------------------------------------------


class Lander(threading.Thread):
    """Lands the plan's ticks as envelope files on schedule (open loop).

    Files are written under a dot-name and renamed into place, so the file
    source never lists a partial file. ``created[(symbol, trade_id)]`` is
    the landing time of an event's first delivery.
    """

    def __init__(self, plan: gen.LivePlan, land_dir: Path) -> None:
        super().__init__(daemon=True)
        from crypto_clickhouse_poc_spark.sources.replay import trades_to_event_lines

        self.encode = trades_to_event_lines
        self.plan = plan
        self.dir = land_dir
        self.stop_evt = threading.Event()
        self.created: dict[tuple[str, int], float] = {}
        self.landed: list[pd.DataFrame] = []
        self.late_ms: list[float] = []
        self.dups = 0
        self.log: list[tuple[float, int]] = []  # (landing time, rows)
        self.t0 = time.time()
        self.until = math.inf  # no tick is landed at or after this time

    def land(self, rows: pd.DataFrame, name: str, t0: float) -> float:
        """Land ``rows`` with event times ``t0 + offset_s`` (whole seconds)."""
        sec = int(t0) + rows["offset_s"].to_numpy()
        recs = rows.assign(ts=[dt.datetime.fromtimestamp(int(s), dt.timezone.utc) for s in sec])
        lines = self.encode(recs.to_dict("records"))
        tmp = self.dir / f".{name}"
        tmp.write_text("\n".join(lines) + "\n")
        os.rename(tmp, self.dir / name)
        now = time.time()
        self.dups += int(rows["dup"].sum())
        self.log.append((now, len(rows)))
        for key in zip(rows["symbol"], rows["trade_id"]):
            self.created.setdefault(key, now)
        # What normalize() parses back: the envelope's 8-decimal strings.
        self.landed.append(recs.assign(
            ts=pd.to_datetime(sec, unit="s"),
            price=[float(f"{v:.8f}") for v in rows["price"]],
            qty=[float(f"{v:.8f}") for v in rows["qty"]],
        ))
        return now

    def run(self) -> None:
        for k, rows in enumerate(self.plan.ticks):
            due = self.t0 + k * self.plan.tick_s
            if due >= self.until or self.stop_evt.wait(max(0.0, due - time.time())):
                return
            self.late_ms.append(1000 * (self.land(rows, f"tick-{k:06d}.jsonl", self.t0) - due))

    def delivered(self) -> pd.DataFrame:
        """Every landed envelope row, duplicates included."""
        cols = list(gen.TRADE_COLUMNS)
        return pd.concat(self.landed, ignore_index=True)[cols]


class SinkWatch(threading.Thread):
    """Records when each file-sink batch becomes visible (its metadata log
    entry appears) and, afterwards, which events each batch committed."""

    def __init__(self, sink: Path) -> None:
        super().__init__(daemon=True)
        self.log_dir = sink / "_spark_metadata"
        self.visible: dict[int, float] = {}
        self.rows: dict[str, int] = {}
        self.stop_evt = threading.Event()

    def poll(self) -> None:
        if self.log_dir.exists():
            now = time.time()
            for name in os.listdir(self.log_dir):
                if not name.startswith("."):
                    self.visible.setdefault(int(name.split(".")[0]), now)

    def run(self) -> None:
        while not self.stop_evt.wait(0.02):
            self.poll()

    def committed_rows(self) -> int:
        """Rows the sink has committed so far (from the files' footers)."""
        import pyarrow.parquet as pq

        self.poll()
        for fs in self.batch_files().values():
            for f in fs:
                if f not in self.rows:
                    self.rows[f] = pq.ParquetFile(f).metadata.num_rows
        return sum(self.rows.values())

    def batch_files(self) -> dict[int, list[str]]:
        """Data files each batch added (compacted log entries included)."""
        seen: set[str] = set()
        out: dict[int, list[str]] = {}
        for n in sorted(list(self.visible)):
            name = next(p for p in (f"{n}", f"{n}.compact") if (self.log_dir / p).exists())
            lines = (self.log_dir / name).read_text().splitlines()[1:]
            files = [json.loads(x)["path"].removeprefix("file://") for x in lines if x.strip()]
            out[n] = [f for f in files if f not in seen]
            seen.update(files)
        return out


def _read_sink(files: list[str]) -> pd.DataFrame:
    import pyarrow.parquet as pq

    cols = ["symbol", "trade_id", "price", "qty", "ts", "is_buyer_maker"]
    if not files:
        return pd.DataFrame(columns=cols)
    return pd.concat([pq.read_table(f, columns=cols).to_pandas() for f in files], ignore_index=True)


def _streaming_layers(progress: dict[str, list[dict]]) -> dict:
    ing, bars = progress.get("ingest", []), progress.get("bars", [])
    busy = [p for p in ing if p.get("numInputRows", 0) > 0]

    def dur(ps, k):
        v = [p["durationMs"].get(k, 0) for p in ps if "durationMs" in p]
        return float(np.median(v)) if v else 0.0

    st = [p["stateOperators"][0] for p in busy if p.get("stateOperators")]
    obs = [p.get("observedMetrics", {}) for p in busy]
    return {
        "sources.get_batch_ms": dur(busy, "getBatch"),
        "ingest.batch_ms": dur(busy, "triggerExecution"),
        "ingest.add_batch_ms": dur(busy, "addBatch"),
        "ingest.wal_commit_ms": dur(busy, "walCommit"),
        "ingest.query_planning_ms": dur(busy, "queryPlanning"),
        "ingest.state_rows": st[-1]["numRowsTotal"] if st else 0,
        "ingest.state_bytes": st[-1]["memoryUsedBytes"] if st else 0,
        "ingest.in_rows": sum(o.get("ingest_in", {}).get("rows", 0) for o in obs),
        "ingest.out_rows": sum(o.get("ingest_out", {}).get("rows", 0) for o in obs),
        "ingest.batches": len(busy),
        "bars.batch_ms": dur([p for p in bars if p.get("numInputRows", 0) > 0], "triggerExecution"),
        "bars.input_rows": sum(p.get("numInputRows", 0) for p in bars),
    }


def run_live(ctx: Ctx) -> dict:
    from crypto_clickhouse_poc_spark.plans import layout
    from crypto_clickhouse_poc_spark.serving import AnalyticsServer
    from crypto_clickhouse_poc_spark.streaming import bars, ingest
    from crypto_clickhouse_poc_spark.streaming.collector import Collector

    S = LIVE_SIZES
    spark = ctx.start_spark()
    land, sink, bars_dir = ctx.work / "landing", ctx.work / "trades", ctx.work / "bars"
    land.mkdir()
    # Long enough for the warm-up, the measured window and the catch-up.
    plan = gen.live_plan(ctx.seed, 45 + ctx.seconds, S["events_per_s"], S["tick_s"],
                         S["dup_share"], S["late_share"], S["max_late_s"])
    backlogs, ids = [], gen.next_ids(plan)
    for b in range(S["drains"]):
        backlogs.append(gen.live_plan(ctx.seed + 1 + b, S["drain_backlog"] / 1000, 1000, 1.0, 0.0, 0.0,
                                      first_ids=ids))
        ids = gen.next_ids(backlogs[-1])

    def raw():
        return spark.readStream.format("text").load(str(land))

    ckpt_ingest, ckpt_bars = ctx.work / "ckpt-ingest", ctx.work / "ckpt-bars"
    col = Collector(spark, lambda: ingest.start_ingest(raw(), str(sink), str(ckpt_ingest)))
    lander = Lander(plan, land)
    watch = SinkWatch(sink)
    lander.start()
    watch.start()
    col.start()
    bars_q = bars.start_bars_partials(ingest.normalize(raw()), str(bars_dir), str(ckpt_bars),
                                      trigger_sec=ingest.FLUSH_EVERY_SEC)
    srv = ref = None
    try:
        _wait(lambda: 0 in watch.visible, 120, poll=0.05)  # the table exists once batch 0 commits
        srv = AnalyticsServer(traced_provider(ctx, lambda: layout.read_table(spark, str(sink))))
        srv.start()
        ref = Refresher(ctx, srv.port)
        wait_ms = trace_server(ctx, ref) if ctx.trace else []
        # The 5 s trigger fires on wall-clock multiples of its interval; the
        # window opens at a fixed phase of that clock, so every run sees the
        # same overlap of refreshes, landings and micro-batches.
        trig = ingest.FLUSH_EVERY_SEC
        time.sleep(trig - (time.time() - WINDOW_PHASE_S) % trig)
        ctx.mark_first_op()
        gc0 = ctx.gc_ms()
        t_meas = time.time()
        t_meas_end = lander.until = t_meas + ctx.seconds
        ref.run(ctx.seconds, S["refresh_per_s"])
        gc = ctx.gc_ms() - gc0
        lander.join()
        delivered = lander.delivered()
        want = gen.distinct_trades(delivered.assign(ingested_at=0))
        ingest_q = next(q for q in spark.streams.active if q.id != bars_q.id)
        with ctx.guarded("ingest and bars catch up with the generator"):
            _wait(lambda: watch.committed_rows() >= len(want) and _rows_read(bars_q) >= len(delivered), 60)
            _wait(lambda: _settled(ckpt_bars), 30, poll=0.02)
        bars_q.stop()
        progress = {"ingest": [json.loads(p.json) for p in ingest_q.recentProgress],
                    "bars": [json.loads(p.json) for p in bars_q.recentProgress]}

        # Drains: stop the query between batches (a batch cut off mid-commit
        # would be replayed first on restart, and the backlog would wait for
        # the next trigger), land a fixed backlog, restart on the checkpoint
        # and time until the backlog is committed; the median is reported.
        drain_s = []
        for b, backlog in enumerate(backlogs):
            _wait(lambda: _settled(ckpt_ingest) and not ingest_q.status["isTriggerActive"], 30, poll=0.02)
            col.stop()
            n_before = watch.committed_rows()
            for k, rows in enumerate(backlog.ticks):
                lander.land(rows, f"backlog{b}-{k:06d}.jsonl", time.time())
            t_drain = time.time()
            col.start()
            with ctx.guarded("restarted collector drains the backlog"):
                _wait(lambda: watch.committed_rows() >= n_before + S["drain_backlog"], 90, poll=0.02)
            drain_s.append(time.time() - t_drain)
            ingest_q = next(iter(spark.streams.active))
            progress["ingest"] += [json.loads(p.json) for p in ingest_q.recentProgress]
        drain_p50_s = float(np.median(drain_s))
        col.stop()
        watch.stop_evt.set()
        watch.join()
        watch.poll()
        want = gen.distinct_trades(lander.delivered().assign(ingested_at=0)).drop(columns="ingested_at")
        check_dashboard(ctx, lambda: layout.read_table(spark, str(sink)), want)

        # Correctness: the dashboard above; sink == distinct delivered rows;
        # bars == OHLCV over every row delivered before the drains.
        files = watch.batch_files()
        sink_df = _read_sink([f for fs in files.values() for f in fs])
        con = reference.connect(sink=sink_df, want=want, delivered=delivered)
        with ctx.guarded("sink == distinct delivered rows"):
            diff = con.execute(
                "SELECT (SELECT count(*) FROM (SELECT * FROM sink EXCEPT ALL SELECT * FROM want)),"
                " (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM sink))").fetchone()
            if diff != (0, 0) or len(sink_df) != len(want):
                raise AssertionError(f"sink differs: {diff}, {len(sink_df)} rows vs {len(want)}")
        with ctx.guarded("bars partials == batch OHLCV"):
            con.execute(f"CREATE VIEW partials AS SELECT * FROM read_parquet('{bars_dir}/*.parquet')")
            got = reference.query(con, """
                SELECT minute, symbol,
                  arg_min(open, epoch(open_key.ts)::HUGEINT * 10000000000 + open_key.trade_id) AS open,
                  max(high) AS high, min(low) AS low,
                  arg_max(close, epoch(close_key.ts)::HUGEINT * 10000000000 + close_key.trade_id) AS close,
                  sum(volume) AS volume, sum(trades) AS trades
                FROM partials GROUP BY ALL""")
            if not reference.rows_equal(got, reference.query(con, reference.ohlcv_sql("delivered")), ordered=False):
                raise AssertionError("re-aggregated bars differ from batch OHLCV")
    finally:
        lander.stop_evt.set()
        watch.stop_evt.set()
        if srv is not None:
            srv.stop()
        if ref is not None:
            ref.close()
        for q in spark.streams.active:
            q.stop()

    # Freshness of events landed in the measured window.
    fresh_ms = []
    committed_batches = 0
    for n, fs in files.items():
        if watch.visible[n] < t_meas:
            continue
        committed_batches += 1
        got = _read_sink(fs)
        for key in zip(got["symbol"], got["trade_id"]):
            c = lander.created.get(key)
            if c is not None and t_meas <= c < t_meas_end:
                fresh_ms.append(1000 * (watch.visible[n] - c))
    ctx.attempted += committed_batches  # each committed micro-batch is one operation
    fresh = percentiles(fresh_ms)
    rep = _serving_report(ctx, ref, wait_ms)
    layers = _streaming_layers(progress)
    layers["ingest.dup_drop_ratio"] = (layers.pop("ingest.in_rows") - layers.pop("ingest.out_rows")) / max(1, lander.dups)
    layers["ingest.files_per_batch"] = float(np.mean([len(f) for f in files.values()]))
    # generated minus read when the measured window closed
    layers["ingest.backlog_rows"] = sum(n for t, n in lander.log if t <= t_meas_end) - sum(
        p["numInputRows"] for p in progress["ingest"]
        if dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() <= t_meas_end)
    layers["bars.partial_rows"] = int(con.execute("SELECT count(*) FROM partials").fetchone()[0])
    rep["layer_extra"].update(layers)
    rep.update({
        "e2e": {"op_p50_ms": fresh["p50"], "work_s": drain_p50_s},
        "drain_s": drain_s,
        "named": {
            "refresh_p50_ms": rep["refresh"]["p50"], "refresh_p90_ms": rep["refresh"]["p90"],
            "refresh_tail_ms": rep["refresh"]["tail"], "refresh_tail_pct": rep["refresh"]["tail_pct"],
            "fresh_p50_s": fresh["p50"] / 1000 if fresh["p50"] else None,
            "fresh_p90_s": fresh["p90"] / 1000 if fresh["p90"] else None,
            "drain_rows_per_s": S["drain_backlog"] / drain_p50_s,
        },
        "samples": {"refresh": rep["refresh"]["n"], "fresh": fresh["n"]},
        "sizes": S,
        "lander_late_ms": {"p50": percentiles(lander.late_ms)["p50"], "max": max(lander.late_ms, default=0.0)},
        "gc_ms": gc,
    })
    return rep


def _settled(ckpt: Path) -> bool:
    """True when a streaming checkpoint has committed every batch it planned."""
    def last(log: str) -> int:
        return max((int(n) for n in os.listdir(ckpt / log) if n.isdigit()), default=-1)

    return (ckpt / "commits").exists() and last("offsets") == last("commits")


def _rows_read(q) -> int:
    """Input rows a streaming query has read (over its recent progress)."""
    return sum(p.numInputRows for p in q.recentProgress)


def _wait(cond, timeout: float, poll: float = 0.1) -> None:
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"not reached within {timeout}s")
        time.sleep(poll)
