"""``lakehouse_mv``: a closed-loop cycle script over the public ``plans`` API.

One client runs the seeded script as fast as the engine allows for the
run's measured seconds. Each cycle appends a trade batch with late rows,
folds it into the 1-minute bars MV with ``logmv.refresh_rollup`` (the
append-delta path) and reads the MV back with ``logmv.read_rollup``.
Erasures (``snapshots.delete_by_keys`` then a group-scoped refresh),
month backfills (``snapshots.overwrite_months`` then a refresh) and
``maintain.maintenance_tick`` ride along at fixed cycle strides. Every MV
read is checked against DuckDB's OHLCV over the rows the script says
survive.
"""

from __future__ import annotations

import datetime as dt
import time

import gen
import reference
from harness import Ctx, log
from spans import percentiles

ANCHOR = dt.datetime(2025, 9, 12, 12, 0, 0)
BASE_ROWS = 20_000
BATCH_ROWS = 400
CYCLES = 25  # more than a run reaches
WARMUP_CYCLES = 4
# Erasure, backfill and maintenance tick ride on cycles 9, 17 and 25.
HEAVY_EVERY = 8
# work_s: the eight cycles after the warm-up. The fifth of them holds an
# erasure, a backfill and a maintenance tick, each the first of its kind in
# the process; the other seven give op_p50_ms enough append samples.
FIXED_CYCLES = 8
SIZES = {
    "base_rows": BASE_ROWS, "base_months": 3, "batch_rows": BATCH_ROWS,
    "late_share": 0.1, "erase_every": HEAVY_EVERY, "erase_rows": 20,
    "backfill_and_tick_every": HEAVY_EVERY, "warmup_cycles": WARMUP_CYCLES, "fixed_cycles": FIXED_CYCLES,
}

# What each step does to the MV, and the name its latency is reported under.
VISIBLE = {"append": "mv_visible", "delete": "erasure_visible", "overwrite": "backfill_visible"}
REFRESH_SPAN = {"append": "logmv.refresh_append", "delete": "logmv.refresh_scoped",
                "overwrite": "logmv.refresh_backfill"}


def run(ctx: Ctx) -> dict:
    from crypto_clickhouse_poc_spark.plans import logmv as M
    from crypto_clickhouse_poc_spark.plans import maintain
    from crypto_clickhouse_poc_spark.plans import snapshots as S

    spark = ctx.start_spark()
    tr = ctx.tracer
    base_path, mv_path = str(ctx.work / "base"), str(ctx.work / "mv")
    base = gen.history(ctx.seed, BASE_ROWS, ANCHOR, months=3, recent_share=0.3)
    script = gen.lakehouse_script(ctx.seed, base, CYCLES, BATCH_ROWS,
                                  erase_every=HEAVY_EVERY, backfill_every=HEAVY_EVERY)
    mvs = [maintain.MVSpec(mv_path)]
    calls: dict[str, list[float]] = {}

    def call(name: str, fn, *a, **kw):
        t = time.time()
        with tr.span(name), ctx.job_group(f"{tr_op[0]}:{name}"):
            out = fn(*a, **kw)
        calls.setdefault(name, []).append(1000 * (time.time() - t))
        return out

    def prepare(step: gen.Step):
        """The step's input as a Spark DataFrame, built before its clock starts."""
        return None if step.rows is None else spark.createDataFrame(step.rows)

    def do(step: gen.Step, df) -> None:
        if step.kind == "append":
            call("snapshots.append", S.append, df, base_path)
        elif step.kind == "delete":
            call("snapshots.delete", S.delete_by_keys, spark, base_path, df, ["symbol", "trade_id"])
        elif step.kind == "overwrite":
            call("snapshots.overwrite", S.overwrite_months, df, base_path)
        else:
            call("maintain.tick", maintain.maintenance_tick, spark, base_path, mvs)
            return
        # refresh_rollup picks its path from the log: append delta, group-scoped, backfill
        call(REFRESH_SPAN[step.kind], M.refresh_rollup, spark, base_path, mv_path)

    def read_mv():
        t = time.time()
        with tr.span("logmv.read"), ctx.job_group(f"{tr_op[0]}:logmv.read"):
            with tr.span("logmv.read_rollup"):
                df = M.read_rollup(spark, mv_path)
            with tr.span("exec.collect"):
                rows = df.collect()
        calls.setdefault("logmv.read", []).append(1000 * (time.time() - t))
        ctx.catalyst(df)
        return rows

    tr_op = ["setup"]
    S.append(spark.createDataFrame(base), base_path)
    M.refresh_rollup(spark, base_path, mv_path)
    live = base
    # Warm-up, untimed: the script's first four, plain cycles.
    for steps in script[:WARMUP_CYCLES]:
        for st in steps:
            do(st, prepare(st))
            live = gen.apply_step(live, st)
        read_mv()

    con = reference.connect()
    visible: dict[str, list[float]] = {v: [] for v in VISIBLE.values()}
    cycle_s: list[float] = []
    ctx.mark_first_op()
    gc0 = ctx.gc_ms()
    t_end = time.time() + ctx.seconds
    c = WARMUP_CYCLES
    while c < WARMUP_CYCLES + FIXED_CYCLES or (time.time() < t_end and c < CYCLES):
        steps = script[c]
        c += 1
        tr_op[0] = f"cycle{c}"
        inputs = [prepare(st) for st in steps]
        # The cycle's time is its engine calls only; the check runs after it.
        work = 0.0
        got = None
        with tr.span("op.cycle", op=tr_op[0]):
            for st, df in zip(steps, inputs):
                t = time.time()
                with ctx.guarded(f"cycle {c} {st.kind}"):
                    do(st, df)
                    if st.kind in VISIBLE:
                        visible[VISIBLE[st.kind]].append(1000 * (time.time() - t))
                work += time.time() - t
            t = time.time()
            with ctx.guarded(f"cycle {c} read"):
                got = read_mv()
            work += time.time() - t
        cycle_s.append(work)
        for st in steps:
            live = gen.apply_step(live, st)
        if got is not None:
            with ctx.guarded(f"cycle {c} MV == OHLCV over surviving rows"):
                con.register("live", live)
                want = reference.query(con, reference.ohlcv_sql("live"))
                if not reference.rows_equal([r.asDict() for r in got], want, ordered=False):
                    raise AssertionError(f"MV != OHLCV over surviving rows ({len(got)} vs {len(want)} bars)")
    measured_s = time.time() - (t_end - ctx.seconds)
    log(f"lakehouse_mv: {c - WARMUP_CYCLES} cycles in {measured_s:.1f}s")

    named = {k: percentiles(v) for k, v in visible.items()}
    report = {
        "e2e": {
            "op_p50_ms": named["mv_visible"]["p50"],
            "work_s": sum(cycle_s[:FIXED_CYCLES]),
        },
        "named": {
            "mv_visible_p50_s": (named["mv_visible"]["p50"] or 0) / 1000,
            "erasure_visible_p50_s": (named["erasure_visible"]["p50"] or 0) / 1000,
            "backfill_visible_p50_s": (named["backfill_visible"]["p50"] or 0) / 1000,
            "cycles": c - WARMUP_CYCLES,
        },
        "samples": {k: v["n"] for k, v in named.items()},
        "sizes": SIZES,
        "calls_ms": calls,
        "gc_ms": ctx.gc_ms() - gc0,
    }
    if ctx.trace:
        head = S.latest_version(base_path)
        report["layer_extra"] = {
            "snapshots.log_bytes": _disk_bytes(ctx.work / "base" / S.LOG_DIR),
            "snapshots.live_files": S._n_files(base_path, head),
            "snapshots.bytes_per_user_byte": _disk_bytes(ctx.work / "base") / max(1, int(live.memory_usage(deep=False).sum())),
        }
    return report


def _disk_bytes(path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())
