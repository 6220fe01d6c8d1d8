from __future__ import annotations

import math

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from crypto_clickhouse_poc_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_CORRECT}/{name}.parquet'"
        )
    yield con
    con.close()


def _canon(val):
    if val is None:
        return ("\x00null",)
    if isinstance(val, float):
        if math.isnan(val):
            return ("nan",)
        return (f"{val:.9g}",)
    return (str(val),)


def rows_canonical(cols, rows):
    """Rows with columns in name order, floats at 9 significant digits,
    sorted: the order-insensitive shape the driver's value hash compares."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i])[0] for i in idx) for r in rows]
    out.sort()
    return out


def assert_matches_oracle(
    spark, sf_dir: str, name: str, tables: tuple[str, ...]
) -> None:
    """Library query ``name`` over ``sf_dir`` equals its DuckDB oracle over
    the same ``tables`` files: column names, row count and values."""
    import duckdb

    from crypto_clickhouse_poc_spark import operators

    sdf = operators.library_queries()[name](spark, sf_dir)
    got = rows_canonical(sdf.columns, sdf.collect())
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(operators.library_oracles()[name])
    dcols = [d[0] for d in res.description]
    want = rows_canonical(dcols, res.fetchall())
    con.close()
    assert sorted(sdf.columns) == sorted(dcols), name
    assert got == want, f"{name}: {len(got)} rows vs oracle {len(want)}"
