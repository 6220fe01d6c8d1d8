"""Independent DuckDB references for the benchmark's correctness checks.

Every check recomputes the expected result from the generated inputs in
DuckDB and compares it with what the engine returned. Timestamps are
compared as naive UTC; doubles with a relative tolerance, because sums
accumulated in a different order differ in the last digits.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pandas as pd

REL_TOL = 1e-9

# (ts, trade_id) as one orderable key: open/close are the prices at the
# smallest/largest key, the engine's deterministic tie-break.
_KEY = "(epoch(ts)::HUGEINT * 10000000000 + trade_id)"


def connect(**tables: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name, df in tables.items():
        con.register(name, df)
    return con


def ohlcv_sql(table: str, where: str = "TRUE") -> str:
    """1-minute OHLCV bars per (minute, symbol)."""
    return f"""
        SELECT date_trunc('minute', ts) AS minute, symbol,
               arg_min(price, {_KEY}) AS open, max(price) AS high,
               min(price) AS low, arg_max(price, {_KEY}) AS close,
               sum(qty) AS volume, count(*) AS trades
        FROM {table} WHERE {where} GROUP BY ALL"""


def dashboard_sql(table: str, anchor: dt.datetime, symbol: str, minutes: int, window_sec: int) -> dict[str, str]:
    """The five endpoints of one dashboard refresh, keyed by endpoint name."""
    a = f"TIMESTAMP '{anchor:%Y-%m-%d %H:%M:%S}'"
    lo = f"ts >= {a} - INTERVAL {minutes} MINUTE"
    side = """
        sum(CASE WHEN is_buyer_maker = 0 THEN qty ELSE 0 END) AS buy_volume,
        sum(CASE WHEN is_buyer_maker = 1 THEN qty ELSE 0 END) AS sell_volume,
        sum(CASE WHEN is_buyer_maker = 0 THEN price * qty ELSE 0 END)
          / nullif(sum(CASE WHEN is_buyer_maker = 0 THEN qty ELSE 0 END), 0) AS avg_buy_price,
        sum(CASE WHEN is_buyer_maker = 1 THEN price * qty ELSE 0 END)
          / nullif(sum(CASE WHEN is_buyer_maker = 1 THEN qty ELSE 0 END), 0) AS avg_sell_price"""
    return {
        "ohlcv": f"""
            SELECT minute, open, high, low, close, volume, trades FROM ({ohlcv_sql(table, f"symbol = '{symbol}' AND {lo}")})
            ORDER BY minute""",
        "top_symbols": f"""
            SELECT symbol, sum(qty) AS volume, count(*) AS trades FROM {table} WHERE {lo}
            GROUP BY symbol ORDER BY volume DESC LIMIT 10""",
        "live_buy_sell": f"""
            SELECT symbol, buy_volume, sell_volume, avg_buy_price, avg_sell_price, trades_per_min FROM (
              SELECT symbol, {side}, count(*) / {float(minutes)} AS trades_per_min,
                     sum(qty) AS total_vol
              FROM {table} WHERE {lo} GROUP BY symbol) ORDER BY total_vol DESC LIMIT 5""",
        "hist_buy_sell": f"""
            SELECT date_trunc('minute', ts) AS minute, {side}, count(*) AS trades FROM {table}
            WHERE symbol = '{symbol}' AND {lo} GROUP BY minute ORDER BY minute""",
        "live_trades": f"""
            SELECT ts, symbol, price, qty, is_buyer_maker FROM {table}
            WHERE symbol = '{symbol}' AND ts >= {a} - INTERVAL {window_sec} SECOND
            ORDER BY ts DESC, trade_id DESC LIMIT 15""",
    }


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def _norm(v):
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).tz_localize(None).isoformat() if pd.Timestamp(v).tzinfo else pd.Timestamp(v).isoformat()
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def rows_equal(got: list[dict], want: list[dict], ordered: bool = True) -> bool:
    """Row lists equal up to float tolerance; unordered compares sorted."""
    if len(got) != len(want):
        return False
    g = [{k: _norm(v) for k, v in r.items()} for r in got]
    w = [{k: _norm(v) for k, v in r.items()} for r in want]
    if not ordered:
        key = lambda r: tuple(str(r[k]) for k in sorted(r) if not isinstance(r[k], float))  # noqa: E731
        g, w = sorted(g, key=key), sorted(w, key=key)
    return all(r.keys() == s.keys() and all(_same(r[k], s[k]) for k in r) for r, s in zip(g, w))


def query(con: duckdb.DuckDBPyConnection, sql: str) -> list[dict]:
    return con.execute(sql).df().to_dict("records")
