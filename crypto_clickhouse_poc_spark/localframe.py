"""Driver-side rows as a JVM-only local relation.

``spark.createDataFrame(<Python list>, schema)`` plans a pickled Python
RDD (``Scan ExistingRDD``): its first action forks PySpark's Python
daemon and workers — seconds cold, about half a second warm on a 4-core
host — even for a handful of rows, or none. The same rows handed over as
a ``pyarrow.Table`` plan a ``LocalTableScan`` that runs on the JVM
alone. Every driver-side frame in the package is built here, and this
module holds the package's only ``createDataFrame`` call.
"""

from __future__ import annotations

import datetime as _dt
from typing import TYPE_CHECKING, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

if TYPE_CHECKING:
    import pyarrow as pa


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
