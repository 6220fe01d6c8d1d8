"""Table loaders over the driver-provided parquet fixtures.

Ten tables per scale-factor directory (see TESTDATA.md): the TPC-H-ish star
schema (region nation customer supplier part orders lineitem), the ``events``
stream stand-in, and the LLM-pipeline tables (documents, embeddings).

All reads are plain ``spark.read.parquet`` — Catalyst handles column pruning
and predicate pushdown into the scan, so loaders never pre-filter or cache.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .caching import fitted

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ts_is_nanos(path: str) -> bool:
    """True iff the parquet ``ts`` column is physically TIMESTAMP(NANOS).

    Footer-only pyarrow probe (no data read); handles both a single file
    and a directory of part files.
    """
    import glob

    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return False
        probe = parts[0]
    try:
        field = pq.read_schema(probe).field("ts")
    except (KeyError, OSError):
        return False
    return getattr(field.type, "unit", None) == "ns"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    ``events.ts`` has shipped in two physical encodings across driver
    rounds: parquet TIMESTAMP(NANOS) (rejected by Spark's vectorized
    reader — read as raw nanos via the legacy conf and truncate to
    micros) and native tz-naive TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ). Both normalize to session-tz TimestampType — the
    session pins UTC, so the NTZ→TZ cast is value-identical and every
    downstream schema stays stable across fixture regenerations.

    The legacy ``nanosAsLong`` conf is set ONLY when the footer actually
    says NANOS (probed via pyarrow, driver-side, metadata-only): on the
    MICROS path the session is left untouched, so other nanos-timestamp
    parquet reads in the session keep their own semantics. When the conf
    IS needed it must stay set for the returned DataFrame's lifetime —
    Spark re-reads it at each query planning, so a save/restore around
    this call would break later actions on the lazy DataFrame.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Spark's cache matches a frame to a cached one by plan, and the plan
    # names the path, not the bytes: once per new file identity, drop
    # what Spark holds for the path, so a rewritten fixture reads fresh
    fitted(sf_dir, (name,), ("spark-cache",), lambda: spark.catalog.refreshByPath(path))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        if _ts_is_nanos(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def scan_parallel(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Un-starve a single-file scan (guide §2.5 "input skew: one huge
    unsplittable file — repartition immediately after the read"): the
    deterministic fixture tables are single-row-group parquet, so a raw
    scan opens as ONE partition and any expensive per-row work downstream
    (md5 grid fan-outs, in-row HOF folds, regexp scans, Pandas-UDF
    kernels) runs serially — the r17 10×-data core-scaling probe measured
    corpus_cms_freq FLAT at 8 vs 32 cores because of exactly this.

    Guarded: a no-op (no shuffle added) when the scan already has at
    least half the session's parallelism — the production multi-file
    case, where adding a corpus-wide shuffle would be scale-wrong. Same
    rule the LSH/simhash paths have applied since r2."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, par // 2):
        return df.repartition(par)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql entry points)."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
