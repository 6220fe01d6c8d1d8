"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
gives byte-identical inputs, and the program under test receives only
what these functions produce. Times are whole seconds (the trades
table's ``ts`` precision) and prices/quantities are rounded to 8 decimals,
the precision the Binance envelope carries, so that an event survives the
string round-trip through ``streaming.ingest.normalize`` exactly.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

SYMBOLS = ("BTCUSDT", "ETHUSDT", "BNBUSDT", "SOLUSDT", "ADAUSDT")
# Zipf-like popularity with BTCUSDT the hottest, so top-K orders are unambiguous.
SYMBOL_WEIGHTS = np.array([0.46, 0.24, 0.14, 0.10, 0.06])
START_PRICE = np.array([65000.0, 3000.0, 550.0, 140.0, 0.45])

TRADE_COLUMNS = ("symbol", "trade_id", "price", "qty", "ts", "is_buyer_maker")


def _walk(rng: np.random.Generator, sym_idx: np.ndarray, start=START_PRICE) -> np.ndarray:
    """Per-symbol multiplicative random walk, rounded to 8 decimals."""
    price = np.empty(len(sym_idx))
    for s in range(len(SYMBOLS)):
        sel = np.flatnonzero(sym_idx == s)
        steps = rng.normal(0.0, 2e-4, len(sel))
        price[sel] = start[s] * np.exp(np.cumsum(steps))
    return np.round(price, 8)


def _trade_ids(sym_idx: np.ndarray, first: np.ndarray | None = None) -> np.ndarray:
    """Per-symbol strictly increasing ids in row order."""
    ids = np.empty(len(sym_idx), dtype=np.int64)
    for s in range(len(SYMBOLS)):
        sel = np.flatnonzero(sym_idx == s)
        base = 1 if first is None else int(first[s])
        ids[sel] = base + np.arange(len(sel))
    return ids


def _frame(sym_idx, ids, price, qty, ts, side) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "symbol": np.array(SYMBOLS)[sym_idx],
            "trade_id": ids.astype(np.int64),
            "price": price,
            "qty": qty,
            "ts": pd.to_datetime(ts, unit="s"),
            "is_buyer_maker": side.astype(np.int32),
        }
    )


def history(
    seed: int,
    rows: int,
    anchor: dt.datetime,
    months: int = 4,
    recent_share: float = 0.5,
    recent_minutes: int = 120,
    dup_share: float = 0.01,
) -> pd.DataFrame:
    """Trades history in the FIXTURES.md A1 shape, ending at ``anchor``.

    ``recent_share`` of the rows fall in the last ``recent_minutes`` (several
    trades per second, the range the dashboard reads); the rest spread over
    ``months`` earlier months, which month pruning should skip. About
    ``dup_share`` of rows are re-deliveries of an existing key with a later
    ``ingested_at``. Columns: TRADE_COLUMNS + ``ingested_at``.
    """
    rng = np.random.default_rng([seed, 1])
    end = int(pd.Timestamp(anchor).timestamp())
    n_recent = int(rows * recent_share)
    recent = end - rng.integers(1, recent_minutes * 60, n_recent)
    old = end - rng.integers(recent_minutes * 60, months * 31 * 86400, rows - n_recent)
    ts = np.sort(np.concatenate([recent, old]))
    sym = rng.choice(len(SYMBOLS), rows, p=SYMBOL_WEIGHTS)
    df = _frame(
        sym,
        _trade_ids(sym),
        _walk(rng, sym),
        np.round(rng.uniform(0.0001, 0.01, rows), 8),
        ts,
        rng.integers(0, 2, rows),
    )
    df["ingested_at"] = df["ts"] + pd.to_timedelta(rng.integers(0, 3, rows), unit="s")
    dups = df.sample(n=int(rows * dup_share), random_state=np.random.RandomState(seed))
    dups = dups.assign(ingested_at=dups["ingested_at"] + pd.Timedelta(seconds=5))
    return pd.concat([df, dups], ignore_index=True)


def distinct_trades(df: pd.DataFrame) -> pd.DataFrame:
    """Latest delivery per (ts, symbol, trade_id) key — the dedup view."""
    return (
        df.sort_values("ingested_at")
        .drop_duplicates(["ts", "symbol", "trade_id"], keep="last")
        .reset_index(drop=True)
    )


@dataclass
class LivePlan:
    """Open-loop event plan for ``live_collect``.

    ``ticks[k]`` lists the envelope rows landed ``k * tick_s`` seconds after
    the generator starts; each row carries ``offset_s``, the event time
    relative to that start (late events carry an earlier offset). Rows marked
    ``dup`` re-send an event already landed in an earlier tick.
    """

    tick_s: float
    ticks: list[pd.DataFrame] = field(default_factory=list)


def live_plan(
    seed: int,
    seconds: float,
    rate: float,
    tick_s: float = 0.25,
    dup_share: float = 0.02,
    late_share: float = 0.05,
    max_late_s: int = 120,
    first_ids: np.ndarray | None = None,
) -> LivePlan:
    """Plan ``seconds`` of events at ``rate`` events/s.

    A ``late_share`` of events carry an event time up to ``max_late_s``
    seconds before their landing (within the ingest dedup watermark, so
    none are dropped), and every tick is shuffled, so events also arrive
    out of order. A ``dup_share`` of landed rows are reconnect duplicates:
    exact re-sends of an event from one of the previous four ticks.
    """
    rng = np.random.default_rng([seed, 2])
    n_ticks = max(1, int(round(seconds / tick_s)))
    per_tick = max(1, int(round(rate * tick_s)))
    n = n_ticks * per_tick
    sym = rng.choice(len(SYMBOLS), n, p=SYMBOL_WEIGHTS)
    offset = np.repeat(np.arange(n_ticks) * tick_s, per_tick)
    late = rng.random(n) < late_share
    offset = np.where(late, offset - rng.integers(2, max_late_s, n), offset)
    events = _frame(
        sym,
        _trade_ids(sym, first_ids),
        _walk(rng, sym),
        np.round(rng.uniform(0.0001, 0.01, n), 8),
        np.zeros(n, dtype=np.int64),
        rng.integers(0, 2, n),
    ).drop(columns="ts")
    events["offset_s"] = np.floor(offset).astype(np.int64)
    events["tick"] = np.repeat(np.arange(n_ticks), per_tick)
    events["dup"] = False
    plan = LivePlan(tick_s)
    for k in range(n_ticks):
        fresh = events.iloc[k * per_tick : (k + 1) * per_tick]
        lo = max(0, (k - 4) * per_tick)
        n_dup = rng.binomial(per_tick, dup_share) if k > 0 else 0
        dups = events.iloc[rng.integers(lo, k * per_tick, n_dup)].assign(dup=True, tick=k) if n_dup else fresh[:0]
        tick = pd.concat([fresh, dups], ignore_index=True)
        plan.ticks.append(tick.iloc[rng.permutation(len(tick))].reset_index(drop=True))
    return plan


def next_ids(plan: LivePlan) -> np.ndarray:
    """First unused per-symbol trade id after ``plan`` (to extend a stream)."""
    allrows = pd.concat(plan.ticks)
    out = np.ones(len(SYMBOLS), dtype=np.int64)
    for s, name in enumerate(SYMBOLS):
        ids = allrows.loc[allrows["symbol"] == name, "trade_id"]
        if len(ids):
            out[s] = int(ids.max()) + 1
    return out


@dataclass
class Step:
    """One call of the lakehouse cycle script."""

    kind: str  # append | delete | overwrite | tick
    rows: pd.DataFrame | None = None  # append/overwrite payload, delete keys


def _key(df: pd.DataFrame) -> np.ndarray:
    """(symbol, trade_id) as one int64 key."""
    sym = df["symbol"].map({name: i for i, name in enumerate(SYMBOLS)}).to_numpy(np.int64)
    return sym * 10**12 + df["trade_id"].to_numpy(np.int64)


def _month(df: pd.DataFrame) -> np.ndarray:
    return (df["ts"].dt.year * 100 + df["ts"].dt.month).to_numpy()


def apply_step(live: pd.DataFrame, step: Step) -> pd.DataFrame:
    """The base table's rows after ``step`` (the reference's view of it)."""
    if step.kind == "append":
        return pd.concat([live, step.rows], ignore_index=True)
    if step.kind == "delete":
        return live[~np.isin(_key(live), _key(step.rows))].reset_index(drop=True)
    if step.kind == "overwrite":
        keep = live[~np.isin(_month(live), np.unique(_month(step.rows)))]
        return pd.concat([keep, step.rows], ignore_index=True)
    return live


def lakehouse_script(
    seed: int,
    base: pd.DataFrame,
    cycles: int,
    batch_rows: int = 400,
    late_share: float = 0.1,
    erase_every: int = 4,
    erase_rows: int = 20,
    backfill_every: int = 4,
) -> list[list[Step]]:
    """Cycle script over a base table (``base`` = its initial rows).

    Each cycle appends ``batch_rows`` trades in the minute after the
    previous batch, of which ``late_share`` land up to an hour earlier.
    Cycles ``1 + k * erase_every`` (``k >= 1``) also erase ``erase_rows``
    existing trades by key; cycles ``1 + k * backfill_every`` re-ingest the
    oldest month with slightly corrected prices and then run a maintenance
    tick. With the default 4 both start with the fifth cycle. Erased keys
    are drawn from rows that exist then. The first four cycles are plain.
    """
    rng = np.random.default_rng([seed, 3])
    live = base
    clock = int(pd.Timestamp(base["ts"].max()).timestamp()) + 1
    next_id = base.groupby("symbol")["trade_id"].max().reindex(SYMBOLS).fillna(0).to_numpy() + 1
    last_price = base.sort_values("ts").groupby("symbol")["price"].last().reindex(SYMBOLS).to_numpy()
    oldest = _month(base).min()
    script: list[list[Step]] = []
    for c in range(1, cycles + 1):
        sym = rng.choice(len(SYMBOLS), batch_rows, p=SYMBOL_WEIGHTS)
        ts = clock + np.sort(rng.integers(0, 60, batch_rows))
        late = rng.random(batch_rows) < late_share
        ts = np.where(late, ts - rng.integers(60, 3600, batch_rows), ts)
        price = _walk(rng, sym, start=last_price)
        batch = _frame(sym, _trade_ids(sym, next_id), price,
                       np.round(rng.uniform(0.0001, 0.01, batch_rows), 8), ts,
                       rng.integers(0, 2, batch_rows))
        batch["ingested_at"] = pd.to_datetime(clock + 60, unit="s")
        next_id = next_id + np.bincount(sym, minlength=len(SYMBOLS))
        for s in range(len(SYMBOLS)):
            if (sym == s).any():
                last_price[s] = price[sym == s][-1]
        clock += 60
        steps = [Step("append", batch)]
        if c > 4 and c % erase_every == 1 % erase_every:
            pick = rng.choice(len(live) + batch_rows, erase_rows, replace=False)
            rows = pd.concat([live, batch], ignore_index=True).iloc[pick]
            steps.append(Step("delete", rows[["symbol", "trade_id"]].reset_index(drop=True)))
        if c > 4 and c % backfill_every == 1 % backfill_every:
            steps += [Step("overwrite", None), Step("tick")]
        for st in steps:
            if st.kind == "overwrite":
                # The correction is a function of the key, so re-delivered
                # copies of one trade stay identical.
                month = live[_month(live) == oldest]
                fix = 1 + (month["trade_id"].to_numpy() * 2654435761 % 2001 - 1000) * 1e-6
                st.rows = month.assign(price=np.round(month["price"].to_numpy() * fix, 8)).reset_index(drop=True)
            live = apply_step(live, st)
        script.append(steps)
    return script


def corpus(seed: int, docs: int, vectors: int, dim: int = 64) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``documents`` and ``embeddings`` tables in the shape of the test fixtures.

    Documents are space-joined words from a small technical vocabulary in
    five languages and twenty sources, with a seeded share of e-mail and
    phone-number tokens for the PII scan and of near-duplicate documents
    for the dedup entries. Embeddings are unit vectors around ten
    labelled cluster centres.
    """
    rng = np.random.default_rng([seed, 4])
    vocab = (
        "a the row column value batch query key big sort fast merge join window "
        "part hash agg group small customer table filter scan slow data line "
        "spark stream vector order"
    ).split()
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.08:  # near-duplicate of an earlier doc
            base = texts[rng.integers(0, i)].split()
            base[rng.integers(0, len(base))] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(base))
            continue
        words = list(rng.choice(vocab, rng.integers(8, 90)))
        if rng.random() < 0.05:
            words.insert(rng.integers(0, len(words)), f"user{i}@example.com")
        if rng.random() < 0.05:
            words.insert(rng.integers(0, len(words)), f"555-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}")
        texts.append(" ".join(words))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "zh", "es", "de", "fr"], docs, p=[0.44, 0.15, 0.15, 0.14, 0.12]),
            "source": [f"src{i % 20}" for i in range(docs)],
        }
    )
    documents["n_chars"] = documents["text"].str.len().astype(np.int64)
    centres = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, vectors)
    vec = centres[label] + rng.normal(0, 0.35, (vectors, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(vectors, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vec],
            "label": label.astype(np.int32),
        }
    )
    return documents, embeddings
