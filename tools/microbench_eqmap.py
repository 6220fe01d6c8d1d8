"""Receipt for the r14 one-parse file→added_v map (VERDICT r13 wrong #1).

Times the plan-BUILD cost of the manifest file→version lookup that every
read of an eq-carrying table constructs, old way vs new:

  old: F.create_map(*[F.lit(path), F.lit(v), ...])  — 2 py4j trips/file
  new: snapshots._added_v_sql(files)                — ONE F.expr parse

Run: python tools/microbench_eqmap.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from crypto_clickhouse_poc_spark.plans import snapshots as S
from crypto_clickhouse_poc_spark.session import get_spark


def _time_both(base, n: int) -> tuple[float, float]:
    """Plan-build seconds for an ``n``-file map, old way and new way."""
    files = [
        {"path": f"data/p_month=202401/part-{i:05d}.parquet", "added_v": i % 7}
        for i in range(n)
    ]

    t0 = time.perf_counter()
    pairs: list = []
    for f in files:
        pairs += [F.lit(f["path"]), F.lit(int(f["added_v"]))]
    col_old = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(S._DV_FILE)), F.lit(0)
    )
    base.where(col_old >= 0).schema  # force analysis
    t_old = time.perf_counter() - t0

    t0 = time.perf_counter()
    col_new = F.expr(S._added_v_sql(files))
    base.where(col_new >= 0).schema
    return t_old, time.perf_counter() - t0


def main() -> None:
    spark = get_spark("microbench-eqmap")
    base = spark.range(1).select(F.lit("x").alias(S._DV_FILE), F.lit(1).alias("k"))

    # one untimed pass: the session's first analyses pay the JVM's
    # parser/analyzer warm-up, which would otherwise land on the first row
    _time_both(base, 64)
    for n in (64, 128, 256, 512):
        t_old, t_new = _time_both(base, n)
        print(
            f"files={n:4d}  create_map={t_old*1000:8.1f} ms   "
            f"one-parse={t_new*1000:6.1f} ms   speedup={t_old/t_new:6.1f}x"
        )

    spark.stop()


if __name__ == "__main__":
    main()
