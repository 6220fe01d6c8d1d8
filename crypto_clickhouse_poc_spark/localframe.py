"""Driver-side rows as a JVM-only local relation.

``spark.createDataFrame(<Python list>, schema)`` plans a pickled Python
RDD (``Scan ExistingRDD``): its first action forks PySpark's Python
daemon and workers — seconds cold, about half a second warm on a 4-core
host — even for a handful of rows, or none. The same rows handed over as
a ``pyarrow.Table`` plan a ``LocalTableScan`` that runs on the JVM
alone. Every driver-side frame in the package is built here, and this
module holds the package's only ``createDataFrame`` call.

It also owns the one rule for filtering by a key set the driver holds
(:func:`in_keys`). ``Column.isin`` is not used for key sets: it pays one
py4j round trip per value (~0.5 ms each).
"""

from __future__ import annotations

import datetime as _dt
import functools
from typing import TYPE_CHECKING, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

if TYPE_CHECKING:
    import pyarrow as pa

# key sets: a literal IN up to LITERAL_MAX keys, a broadcast join over a
# local relation up to LOCAL_MAX (the bound every driver-collected key
# set in the package is held to)
LITERAL_MAX = 128
LOCAL_MAX = 65_536


def _struct(schema: StructType | str) -> StructType:
    return schema if isinstance(schema, StructType) else StructType.fromDDL(schema)


def arrow_table(rows: Sequence[Sequence], schema: StructType | str) -> pa.Table:
    """``rows`` (tuples in ``schema`` order) as an Arrow table typed by the
    Spark ``schema`` (``to_arrow_schema``: longs stay exact int64,
    TimestampType is ``timestamp[us, UTC]``).

    A top-level TimestampType value keeps the meaning the list path gives
    it: a naive ``datetime`` is an OS-local instant, as in
    ``TimestampType.toInternal`` (and as ``collect()`` renders one); an
    aware one is its own instant."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = _struct(schema)
    asch = to_arrow_schema(st)
    cols = list(zip(*rows)) if rows else [()] * len(asch)
    arrays = []
    for vals, f, af in zip(cols, st.fields, asch):
        if isinstance(f.dataType, TimestampType):
            vals = [
                v.astimezone(_dt.timezone.utc) if isinstance(v, _dt.datetime) else v
                for v in vals
            ]
        arrays.append(pa.array(vals, type=af.type))
    return pa.Table.from_arrays(arrays, schema=asch)


def local_frame(
    spark: SparkSession,
    rows: Sequence[Sequence] | pa.Table,
    schema: StructType | str | None = None,
) -> DataFrame:
    """``rows`` as a DataFrame planned as a ``LocalTableScan``: no Python
    worker runs for it. ``schema`` (a StructType or DDL string) types
    Python rows as :func:`arrow_table` does; an Arrow table (e.g. a
    ``DataFrame.toArrow()`` result) goes over as it is, its own schema
    mapping to the Spark one."""
    if schema is None:
        return spark.createDataFrame(rows)
    st = _struct(schema)
    return spark.createDataFrame(arrow_table(rows, st), st)


def sql_str(s: str) -> str:
    """A Spark-SQL single-quoted string literal (backslash escapes are on
    by default in the parser)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# Spark-SQL literal suffix per signed integer width: a tuple IN needs
# every literal typed exactly like its column (no struct coercion)
_INT_SUFFIX = {8: "Y", 16: "S", 32: "", 64: "L"}


def _in_column(name: str, col: pa.ChunkedArray) -> tuple[str, list[str]] | None:
    """(SQL expression over column ``name``, one literal per value, typed
    exactly like the column) for a null-free key column, or None for a
    type with no literal form here. Temporal keys compare as epoch
    integers — ``unix_micros``/``unix_date`` of the column against the
    Arrow epoch values, both timezone-free, so no datetime literal
    re-enters through the session timezone. A timestamp key is a UTC
    instant (``timestamp[us, UTC]``, as ``to_arrow_schema`` and
    ``toArrow`` type one)."""
    import pyarrow as pa

    from .functions.vectors import _dbl_sql

    q = "`" + name.replace("`", "``") + "`"
    t = col.type
    if pa.types.is_timestamp(t):
        vals = col.cast(pa.timestamp("us", t.tz)).cast(pa.int64()).to_pylist()
        return f"unix_micros({q})", [f"{v}L" for v in vals]
    if pa.types.is_date(t):
        return f"unix_date({q})", [
            str(v) for v in col.cast(pa.date32()).cast(pa.int32()).to_pylist()
        ]
    vals = col.to_pylist()
    if pa.types.is_boolean(t):
        return q, ["true" if v else "false" for v in vals]
    if pa.types.is_signed_integer(t):
        return q, [f"{v}{_INT_SUFFIX[t.bit_width]}" for v in vals]
    if pa.types.is_float64(t):
        return q, [_dbl_sql(v) for v in vals]
    if pa.types.is_float32(t):
        return q, [f"CAST({_dbl_sql(v)} AS FLOAT)" for v in vals]
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return q, [sql_str(v) for v in vals]
    return None  # binary, decimal, nested: compare stored values in a join


def in_sql(keys: pa.Table) -> str | None:
    """One parsed SQL predicate: true where the row's ``keys.column_names``
    values equal some key row — ``a IN (…)`` for one column, ``(a, b) IN
    ((…), (…))`` for more. A key row with a null component matches
    nothing (it is left out); a row with a null key compares null, so
    callers wrap the predicate in ``coalesce(…, false)``. No key rows
    renders ``false``. Returns None past ``LITERAL_MAX`` key rows or for
    a key type with no literal form (binary, decimal)."""
    if keys.num_rows > LITERAL_MAX:
        return None
    import pyarrow.compute as pc

    valid = [pc.is_valid(c) for c in keys.columns]
    keys = keys.filter(functools.reduce(pc.and_, valid))
    cols = [_in_column(n, keys.column(n)) for n in keys.column_names]
    if any(c is None for c in cols):
        return None
    if not keys.num_rows:
        return "false"
    rows = list(zip(*(vals for _, vals in cols)))
    if len(cols) == 1:
        return f"{cols[0][0]} IN ({','.join(r[0] for r in rows)})"
    lhs = ", ".join(e for e, _ in cols)
    return f"({lhs}) IN ({','.join('(' + ', '.join(r) + ')' for r in rows)})"


def in_keys(
    spark: SparkSession, df: DataFrame, keys: pa.Table, anti: bool = False
) -> DataFrame:
    """The rows of ``df`` whose ``keys.column_names`` values match a row
    of ``keys`` — or, with ``anti``, match none. One row filter over
    :func:`in_sql` when it renders, else one broadcast semi/anti join over
    ``keys`` as a local relation. On both plans a null never matches: a
    row with a null key column is dropped by the semi and kept by the
    anti filter, and a key row with a null component matches nothing.
    ``keys`` columns carry the types of the ``df`` columns they match."""
    sql = in_sql(keys)
    if sql is not None:
        hit = f"coalesce({sql}, false)"
        return df.where(F.expr(f"NOT {hit}" if anti else hit))
    return df.join(
        F.broadcast(local_frame(spark, keys)),
        keys.column_names,
        "left_anti" if anti else "left_semi",
    )
