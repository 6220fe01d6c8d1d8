"""Percentile rule, self-time arithmetic and event-log accounting."""

from __future__ import annotations

import pytest

import spans


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert spans.percentiles(list(range(10)))["tail"] is None
    r = spans.percentiles(list(range(11)))
    assert r["tail"] == 0 and r["tail_pct"] == 9 and r["p90"] is None
    r = spans.percentiles(list(range(100)))
    assert r["tail"] == 89 and r["tail_pct"] == 90 and r["p90"] == 89
    assert sum(v > r["tail"] for v in range(100)) == 10
    r = spans.percentiles(list(range(40)))
    assert r["tail"] == 29 and r["tail_pct"] == 75 and r["p90"] is None
    assert spans.percentiles([3.0, 1.0, 2.0, 4.0])["p50"] == 2.5


def _span(sid, name, start, end, parent=None):
    return {"sid": sid, "name": name, "start": start, "end": end, "parent": parent, "op": "r0"}


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span(0, "refresh", 0.0, 10.0),
        _span(1, "client.a", 1.0, 6.0, 0),  # overlapping children: union 1..8
        _span(2, "client.b", 4.0, 8.0, 0),
        _span(3, "serving.a", 2.0, 5.0, 1),
        _span(4, "api.a", 2.5, 3.0, 3),
        _span(5, "collect", 3.0, 4.5, 3),
        _span(6, "client.c", 9.0, 12.0, 0),  # sticks out of its parent: clipped
    ]
    st = spans.self_times(tree)
    assert st == pytest.approx({0: 10 - 7 - 1, 1: 5 - 3, 2: 4, 3: 3 - 2, 4: 0.5, 5: 1.5, 6: 3})
    table = spans.self_time_table(tree)
    assert table["refresh"]["self_ms"] == pytest.approx(2000)
    assert table["serving.a"]["layer"] == "serving"
    assert table["serving.a"]["total_ms"] == pytest.approx(3000)


def test_tracer_links_parents_and_inherits_op():
    tr = spans.Tracer(True)
    with tr.span("cycle", op="c1"):
        with tr.span("snapshots.append"):
            pass
    with tr.span("other", parent=0):
        pass
    d = tr.dump()
    assert [(s["name"], s["parent"], s["op"]) for s in d] == [
        ("cycle", None, "c1"), ("snapshots.append", 0, "c1"), ("other", 0, "c1")]
    off = spans.Tracer(False)
    with off.span("x") as s:
        assert s is None
    assert off.dump() == []


def test_exec_stats_gap_is_op_time_without_jobs():
    jobs = [{"submit": 1.0, "end": 2.0, "stages": 1, "tasks": 4, "input_rows": 10,
             "input_bytes": 0, "shuffle_write": 5},
            {"submit": 1.5, "end": 3.0, "stages": 2, "tasks": 2, "input_rows": 0,
             "input_bytes": 0, "shuffle_write": 0}]
    st = spans.exec_stats(jobs, 0.0, 4.0)
    assert st["ms"] == pytest.approx(2000) and st["gap_ms"] == pytest.approx(2000)
    assert (st["jobs"], st["stages"], st["tasks"], st["shuffle_bytes"]) == (2, 3, 6, 5)
