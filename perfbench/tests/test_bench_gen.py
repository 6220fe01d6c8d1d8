"""The generators are pure functions of their seed."""

from __future__ import annotations

import datetime as dt

import pandas as pd

import gen

ANCHOR = dt.datetime(2025, 9, 12, 12, 0, 0)


def _same(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    return a.equals(b)


def test_history_is_deterministic_per_seed():
    a, b = gen.history(7, 2000, ANCHOR), gen.history(7, 2000, ANCHOR)
    assert _same(a, b)
    assert not _same(a, gen.history(8, 2000, ANCHOR))
    # shape: BTCUSDT hottest, ~1% duplicate keys, several months, whole seconds
    assert a["symbol"].value_counts().index[0] == "BTCUSDT"
    assert len(a) - len(gen.distinct_trades(a)) == 20
    assert a["ts"].dt.to_period("M").nunique() >= 3
    assert (a["ts"].dt.microsecond == 0).all()


def test_live_plan_is_deterministic_and_states_its_shares():
    a, b = gen.live_plan(3, 10, 400), gen.live_plan(3, 10, 400)
    assert len(a.ticks) == len(b.ticks) == 40
    assert all(_same(x, y) for x, y in zip(a.ticks, b.ticks))
    c = gen.live_plan(4, 10, 400)
    assert not all(_same(x, y) for x, y in zip(a.ticks, c.ticks))
    rows = pd.concat(a.ticks, ignore_index=True)
    dups = rows["dup"].sum() / (~rows["dup"]).sum()
    assert 0.005 < dups < 0.04  # dup_share 0.02
    fresh = rows[~rows["dup"]]
    late = (fresh["offset_s"] < fresh["tick"] * a.tick_s - 1).mean()
    assert 0.02 < late < 0.09  # late_share 0.05
    # every duplicate re-sends an event landed in an earlier tick
    first_tick = fresh.set_index(["symbol", "trade_id"])["tick"]
    d = rows[rows["dup"]]
    assert (first_tick.loc[list(zip(d["symbol"], d["trade_id"]))].to_numpy() < d["tick"].to_numpy()).all()


def test_lakehouse_script_is_deterministic_and_erases_existing_keys():
    base = gen.history(5, 3000, ANCHOR, months=3)
    a, b = gen.lakehouse_script(5, base, 9), gen.lakehouse_script(5, base, 9)
    assert [[s.kind for s in c] for c in a] == [[s.kind for s in c] for c in b]
    assert all(x.rows is None and y.rows is None or _same(x.rows, y.rows)
               for ca, cb in zip(a, b) for x, y in zip(ca, cb))
    heavy = ["append", "delete", "overwrite", "tick"]
    assert [[s.kind for s in c] for c in a] == [["append"]] * 4 + [heavy] + [["append"]] * 3 + [heavy]
    live = base
    for cycle in a:
        for st in cycle:
            if st.kind == "delete":
                keys = set(zip(live["symbol"], live["trade_id"]))
                assert set(zip(st.rows["symbol"], st.rows["trade_id"])) <= keys
            live = gen.apply_step(live, st)


def test_corpus_is_deterministic_per_seed():
    d1, e1 = gen.corpus(2, 50, 40)
    d2, e2 = gen.corpus(2, 50, 40)
    assert _same(d1, d2)
    assert all((x == y).all() for x, y in zip(e1["embedding"], e2["embedding"]))
    assert not _same(d1, gen.corpus(3, 50, 40)[0])
    assert (d1["n_chars"] == d1["text"].str.len()).all()
