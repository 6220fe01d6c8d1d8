"""Benchmark entry point: one workload run per process, or all of them.

    python3 perfbench/run.py --workload live_collect --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Run from the root of a checkout; the engine is imported from there. A run
prints one summary line per workload with every end-to-end metric by name
and unit, then, as its last line, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Each run also
writes ``.perfbench/<workload>-s<seed>-t<trace>.json`` (stamps, sizes and
the workload's named metrics); a traced run writes the spans and the
per-layer self-time table to ``.perfbench/<workload>-s<seed>-trace.json``,
with the tracing overhead when the untraced result for the same workload
and seed is there. The exit code is 1 when a correctness check failed.
"""

from __future__ import annotations

import argparse
import json
import math
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import harness  # noqa: E402
import spans  # noqa: E402

# BENCHMARK.json's workloads; the one-command "all" mode runs each in turn.
WORKLOADS = ("live_collect", "lakehouse_corpus")

E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "work_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms",
    "exec.gap_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_rows": "count",
    "exec.shuffle_bytes": "B",
    "jvm.gc_ms": "ms",
    "spark.storage_bytes": "B",
}


def out_dir() -> Path:
    d = ROOT / ".perfbench"
    d.mkdir(exist_ok=True)
    return d


def run_one(args) -> int:
    ctx = harness.Ctx(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        return _run_one(ctx, args)
    finally:
        ctx.cleanup()


def run_lakehouse_corpus(ctx) -> dict:
    """The lakehouse_mv script, then the corpus_llm pass, in one session.

    Both are one client doing driver-side batch work; sharing one ~10 s
    session start keeps the benchmark's total run time within its budget.
    ``op_p50_ms`` is the MV visibility of lakehouse_mv, ``work_s`` the two
    parts' fixed work.
    """
    import corpus
    import lakehouse

    lake = lakehouse.run(ctx)
    corp = corpus.run(ctx)
    rep = {k: v for part in (lake, corp) for k, v in part.items() if k not in ("e2e", "named", "samples", "sizes", "gc_ms")}
    rep.update({
        "e2e": {"op_p50_ms": lake["e2e"]["op_p50_ms"], "work_s": lake["e2e"]["work_s"] + corp["e2e"]["work_s"]},
        "named": {**lake["named"], **corp["named"]},
        "samples": {**lake["samples"], **corp["samples"]},
        "sizes": {"lakehouse_mv": lake["sizes"], "corpus_llm": corp["sizes"]},
        "gc_ms": lake["gc_ms"] + corp["gc_ms"],
    })
    return rep


def _run_one(ctx, args) -> int:
    import live

    run = {"live_collect": live.run_live, "lakehouse_corpus": run_lakehouse_corpus}[args.workload]
    try:
        rep = run(ctx)
        e2e = dict(rep["e2e"])
        e2e["setup_s"] = ctx.setup_s
        e2e["peak_rss_mb"] = ctx.peak_rss_mb()
        storage = ctx.storage_bytes()
    finally:
        ctx.stop_spark()
    named = {**rep["named"], "setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"],
             "failed_op_share": ctx.failed / max(1, ctx.attempted)}
    correct = ctx.failed == 0
    record = {
        "stamps": ctx.stamps, "sizes": rep.get("sizes"), "samples": rep.get("samples"),
        "generator_late_ms": rep.get("generator_late_ms"), "lander_late_ms": rep.get("lander_late_ms"),
        "e2e": e2e, "named": named, "attempted": ctx.attempted, "failed": ctx.failed,
        "failures": ctx.failures,
        "detail": {k: rep[k] for k in ("entry_ms", "build_ms", "calls_ms", "refresh", "drain_s") if k in rep},
    }
    stem = f"{args.workload}-s{args.seed}"
    (out_dir() / f"{stem}-t{args.trace}.json").write_text(json.dumps(record, indent=1, default=str))
    print(f"{args.workload}: " + " ".join(
        f"{k}={_fmt(v)}{_unit(k)}" if v is not None else f"{k}=n/a" for k, v in named.items()))
    print(f"{args.workload}: stamps {json.dumps(ctx.stamps, default=str)}")
    if ctx.failures:
        print(f"{args.workload}: failures {ctx.failures}", file=sys.stderr)

    if args.trace:
        layers, side = layer_metrics(ctx, rep, storage)
        base = out_dir() / f"{stem}-t0.json"
        if base.exists():
            untraced = json.loads(base.read_text())["e2e"]
            side["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in e2e if k in untraced}
        side["e2e_traced"] = e2e
        (out_dir() / f"{stem}-trace.json").write_text(json.dumps(side, default=str))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


def layer_metrics(ctx, rep: dict, storage: int) -> tuple[dict, dict]:
    """Per-layer metrics from the spans and the event log; the side file."""
    dumped = ctx.tracer.dump()
    jobs = spans.read_event_log(str(ctx.event_log_dir))
    # foreground operations (refreshes, cycles, entries) of the measured
    # phase, not of set-up or warm-up
    ops = [s for s in dumped if s["name"].startswith("op.") and s["start"] >= ctx.t_first_op]
    per_op = []
    for s in ops:
        js = [j for g, lst in jobs.items() if g == s["op"] or g.startswith(s["op"] + ":") for j in lst]
        st = spans.exec_stats(js, s["start"], s["end"])
        st["op"] = s["op"]
        rows = rep.get("op_rows", {}).get(s["op"])
        if rows:
            st["scan_ratio"] = st["input_rows"] / rows
        per_op.append(st)

    def mean(key):
        v = [o[key] for o in per_op if key in o]
        return sum(v) / len(v) if v else 0.0

    def med(v):
        return spans.percentiles(v)["p50"] or 0.0

    layers = {
        "session.start_s": ctx.session_start_s,
        **{f"catalyst.{p}_ms": med(v) for p, v in ctx.catalyst_ms.items()},
        **{f"exec.{k}": mean(k) for k in ("ms", "gap_ms", "jobs", "stages", "tasks", "input_rows", "shuffle_bytes")},
        "jvm.gc_ms": rep["gc_ms"],
        "spark.storage_bytes": storage,
    }
    extra = dict(rep.get("layer_extra", {}))
    if any("scan_ratio" in o for o in per_op):
        extra["exec.scan_ratio"] = mean("scan_ratio")
    table = spans.self_time_table(dumped)
    if "refresh" in rep:
        opens = [s for s in dumped if s["name"] == "tables.open"]
        extra["tables.open_ms"] = med([1000 * (s["end"] - s["start"]) for s in opens])
        extra["tables.open_jobs"] = sum(len(v) for g, v in jobs.items() if g.endswith(":tables.open")) / max(1, len(opens))
        extra["api.build_ms"] = med([1000 * (s["end"] - s["start"]) for s in dumped if s["name"].startswith("api.")])
        self_s = spans.self_times(dumped)
        extra["serving.marshal_ms"] = med([1000 * self_s[s["sid"]] for s in dumped if s["name"].startswith("serving.")])
    if "calls_ms" in rep:
        for call, v in rep["calls_ms"].items():
            extra[f"{call}_ms"] = med(v)
            extra[f"{call}_jobs"] = sum(len(lst) for g, lst in jobs.items() if g.endswith(":" + call)) / len(v)
    if "entry_ms" in rep:
        for name in rep["entry_ms"]:
            extra[f"corpus.{name}.build_ms"] = rep["build_ms"][name]
            extra[f"corpus.{name}.plan_ms"] = rep["plan_ms"][name]
            extra[f"corpus.{name}.exec_ms"] = rep["collect_ms"][name] - rep["plan_ms"][name]
            extra[f"corpus.{name}.jobs"] = sum(o["jobs"] for o in per_op if o["op"] == name)
    side = {
        "workload": ctx.workload, "seed": ctx.seed, "stamps": ctx.stamps,
        "per_layer": {**layers, **extra}, "self_time": table, "per_op": per_op, "spans": dumped,
    }
    return layers, side


def _unit(name: str) -> str:
    """Unit of a named metric, from its suffix."""
    for suffix, unit in (("_per_s", " 1/s"), ("_ms", " ms"), ("_s", " s"), ("_mb", " MB"), ("_pct", " %")):
        if name.endswith(suffix):
            return unit
    return ""


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}" if math.isfinite(v) else str(v)
    return str(v)


def run_all(args) -> int:
    """Each workload in a fresh process; with --trace 1, untraced then traced."""
    rc = 0
    for w in WORKLOADS:
        for t in ([0, 1] if args.trace else [0]):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(t)]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            for line in lines[:-1]:
                print(line)
            result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            print(f"{w} trace={t}: exit {p.returncode} {json.dumps(result)}")
            rc = rc or p.returncode or (result is None)
            if t:
                side = json.loads((out_dir() / f"{w}-s{args.seed}-trace.json").read_text())
                print(f"{w}: tracing overhead {json.dumps(side.get('tracing_overhead'))}")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
