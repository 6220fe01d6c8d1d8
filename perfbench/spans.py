"""Spans, percentiles and Spark event-log accounting for the benchmark.

Spans are recorded only around calls the benchmark itself makes into the
engine's layers. They stay in memory and are written out when the run
ends. A span's self time is its duration minus the part of its interval
that its child spans cover (children may overlap, e.g. the five requests
of one dashboard refresh).
"""

from __future__ import annotations

import glob
import json
import math
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


def tail_rank(n: int) -> int | None:
    """0-based rank of the highest percentile that has at least ten samples
    beyond it, or None when there are fewer than eleven samples."""
    return n - 11 if n >= 11 else None


def percentiles(values: list[float]) -> dict:
    """Median, the highest percentile with >= 10 samples beyond it, and n.

    ``tail_pct`` is the percentile that rank represents (90 for 100
    samples); ``p90`` is reported only when it has ten samples beyond it.
    """
    v = sorted(values)
    n = len(v)
    out: dict = {"n": n, "p50": None, "tail": None, "tail_pct": None, "p90": None}
    if not n:
        return out
    out["p50"] = v[(n - 1) // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2
    r = tail_rank(n)
    if r is not None:
        out["tail"] = v[r]
        out["tail_pct"] = math.floor(100 * (r + 1) / n)
        if out["tail_pct"] >= 90:
            out["p90"] = v[math.ceil(0.9 * n) - 1]
    return out


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder; a no-op when disabled.

    The parent of a span is the innermost open span of the same thread;
    ``op`` (the refresh, cycle or entry id) is inherited from the parent
    unless given.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None, parent: int | None = None):
        """Time the enclosed block. ``parent`` links a span opened in
        another thread (e.g. the client request a server handler serves)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            up = self.spans[parent] if parent is not None else (stack[-1] if stack else None)
            s = Span(len(self.spans), name, time.time(), math.nan,
                     up.sid if up else None, op if op is not None else (up.op if up else None))
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def open(self, name: str, start: float, op: str | None, parent: int | None = None) -> Span | None:
        """Start a span that another thread ends by setting ``end``."""
        if not self.enabled:
            return None
        with self._lock:
            s = Span(len(self.spans), name, start, math.nan, parent, op)
            self.spans.append(s)
        return s

    def current_op(self) -> str | None:
        stack = self._stack()
        return stack[-1].op if stack else None

    def dump(self) -> list[dict]:
        """Closed spans as dicts."""
        return [asdict(s) for s in self.spans if not math.isnan(s.end)]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["sid"]: (s["end"] - s["start"]) - covered(kids[s["sid"]], s["start"], s["end"])
        for s in spans
    }


def self_time_table(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total and self time in ms, and the layer (the
    name up to its first dot)."""
    st = self_times(spans)
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(
            s["name"], {"layer": s["name"].split(".")[0], "count": 0, "total_ms": 0.0, "self_ms": 0.0}
        )
        row["count"] += 1
        row["total_ms"] += 1000 * (s["end"] - s["start"])
        row["self_ms"] += 1000 * st[s["sid"]]
    return table


# ---- Spark event log -------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Jobs per job group from a Spark event log directory.

    Each job: submit/end (epoch s), stages, tasks, input rows and bytes,
    shuffle bytes written and read. Only jobs run under a job group are
    returned; the benchmark sets one group per operation.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    j = jobs[ev["Job ID"]] = {
                        "group": group, "submit": ev["Submission Time"] / 1000, "end": None,
                        "stages": len(ev["Stage IDs"]), "tasks": 0, "input_rows": 0,
                        "input_bytes": 0, "shuffle_write": 0, "shuffle_read": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
                    j = jobs.get(stage_job[ev["Stage ID"]])
                    m = ev.get("Task Metrics") or {}
                    if j is None:
                        continue
                    j["tasks"] += 1
                    j["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    j["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    j["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    out: dict[str, list[dict]] = defaultdict(list)
    for j in jobs.values():
        if j["end"] is not None:
            out[j["group"]].append(j)
    return out


def exec_stats(jobs: list[dict], start: float, end: float) -> dict:
    """Execution accounting for one operation spanning [start, end]:
    time with at least one job running, and the driver gap around them."""
    busy = covered([(j["submit"], j["end"]) for j in jobs], start, end)
    return {
        "ms": 1000 * busy,
        "gap_ms": 1000 * max(0.0, (end - start) - busy),
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "input_rows": sum(j["input_rows"] for j in jobs),
        "input_bytes": sum(j["input_bytes"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle_write"] for j in jobs),
    }
