"""Data-skipping indexes: ClickHouse skip-index parity at the file level.

The reference's engine prunes with a sparse primary index plus optional
*data-skipping indexes* — ``minmax``, ``set(N)`` and ``bloom_filter``
granule summaries consulted before reading data (ClickHouse docs; the POC
table relies on the primary index only, ``sql/V1__create_trades_table.sql:
15-16``). Spark's parquet reader already does the *row-group* layer of this
(footer min-max + pushed filters). What it does NOT give you is the layer
above: at 100 TB / ~100k files, just listing files and opening footers to
discover "nothing here" is the dominant cost for selective queries.

This module materializes that layer as a tiny driver-side manifest — the
same design as Delta Lake's per-file stats in ``_delta_log`` (public Delta
PROTOCOL.md "Per-file Statistics") or Iceberg manifests:

- ``minmax`` per file for chosen columns (numeric / timestamp / string),
- ``set(N)``: the distinct-value set per file, capped at N (overflow ⇒ the
  index abstains for that file, exactly like ClickHouse ``set(N)``),
- ``bloom``: a small Bloom bitmap per file for membership predicates on
  higher-cardinality columns (hash = Spark's ``xxhash64``, so probe values
  hash identically JVM-side at build and query time).

Stats are computed in ONE distributed pass grouped by ``input_file_name()``
(map-side partial aggregation ⇒ the shuffle carries at most
``files × (d + bloom_bits)`` values, not rows). The manifest is O(#files)
JSON on the driver — ~20 MB for 100k files, the same order as the file
listing Spark must hold anyway. Pruning is a pure-Python predicate sweep
over the manifest; surviving files go straight into ``spark.read.parquet``
so the usual pushdown / row-group skipping still applies *inside* them,
and every predicate is also applied as a real Catalyst filter — pruning is
an optimization, never a correctness dependency.

Pair with ``plans/zorder.py``: a z-clustered layout makes the per-file
min-max boxes tight in every interleaved dimension, so this index prunes
on ANY of them — the 1-D ``ORDER BY`` layout only ever prunes its leading
column.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from pathlib import Path
from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..localframe import local_frame

MANIFEST_DIR_SUFFIX = ".skipidx"
MANIFEST_NAME = "manifest.json"

DEFAULT_SET_MAX = 64
DEFAULT_BLOOM_BITS = 2048
DEFAULT_BLOOM_HASHES = 3

_OPS = ("==", ">=", "<=", "in")


class StaleSkipIndexError(RuntimeError):
    """The table's files changed since the index was built — rebuild it."""


def _jsonable(v: Any) -> Any:
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
    return v


def _comparable(v: Any) -> Any:
    """Coerce a predicate/manifest value into the comparison domain."""
    return _jsonable(v)


def _manifest_path(table_path: str) -> Path:
    return Path(table_path.rstrip("/") + MANIFEST_DIR_SUFFIX) / MANIFEST_NAME


def _list_files(table_path: str) -> dict[str, int]:
    """Relative path → size for every parquet data file under the table."""
    root = Path(table_path)
    return {
        str(p.relative_to(root)): p.stat().st_size
        for p in sorted(root.rglob("*.parquet"))
        if not p.name.startswith(("_", "."))
    }


def _bloom_positions(col, dtype: str, n_hashes: int, n_bits: int) -> list:
    """k Bloom bit positions for a column value, as Catalyst expressions.

    Seeded by hashing a literal salt alongside the value; ``xxhash64`` is
    deterministic across build and probe as long as the value type matches,
    so the probe casts to the recorded column type.
    """
    c = col.cast(dtype)
    return [
        F.pmod(F.xxhash64(F.lit(i), c), F.lit(n_bits)).cast("int")
        for i in range(n_hashes)
    ]


def _file_stats(
    spark: SparkSession, paths: Sequence[str], spec: dict, dtypes: dict[str, str]
) -> dict[str, dict]:
    """Distributed per-file stats over ``paths``: one ``input_file_name``-
    grouped pass for minmax+set, one over exploded positions for Bloom
    (both with map-side combine). Returns file-URI → stats entry."""
    df = spark.read.parquet(*paths)
    fname = F.input_file_name().alias("__file")
    set_max = spec["set_max"]
    entries: dict[str, dict] = {}

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in spec["minmax_cols"]:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    for c in spec["set_cols"]:
        # +1 sentinel slot: presence of set_max+1 values = overflow ⇒ abstain
        aggs.append(
            F.slice(F.sort_array(F.collect_set(c)), 1, set_max + 1).alias(f"__set_{c}")
        )
    for row in df.groupBy(fname).agg(*aggs).collect():  # O(#files) rows
        e: dict[str, Any] = {"rows": row["__rows"], "minmax": {}, "sets": {}, "blooms": {}}
        for c in spec["minmax_cols"]:
            e["minmax"][c] = [_jsonable(row[f"__lo_{c}"]), _jsonable(row[f"__hi_{c}"])]
        for c in spec["set_cols"]:
            vals = row[f"__set_{c}"]
            e["sets"][c] = sorted(_jsonable(v) for v in vals) if len(vals) <= set_max else None
        entries[row["__file"]] = e

    for c in spec["bloom_cols"]:
        pos = F.explode(
            F.array(
                *_bloom_positions(
                    F.col(c), dtypes[c], spec["bloom_hashes"], spec["bloom_bits"]
                )
            )
        ).alias("__pos")
        rows = (
            df.select(fname, pos)
            .groupBy("__file")
            .agg(F.sort_array(F.collect_set("__pos")).alias("__bits"))
            .collect()
        )
        for row in rows:
            entries[row["__file"]]["blooms"][c] = list(row["__bits"])
    return entries


def _rel_entries(
    entries: dict[str, dict], listing: dict[str, int], table_path: str
) -> dict[str, dict]:
    """Normalize file:// URIs from input_file_name to table-relative paths."""
    by_rel: dict[str, dict] = {}
    for uri, e in entries.items():
        rel = next((r for r in listing if uri.endswith("/" + r) or uri.endswith(r)), None)
        if rel is None:
            raise RuntimeError(f"stats file {uri} not found under {table_path}")
        by_rel[rel] = e
    return by_rel


def _publish(table_path: str, manifest: dict) -> dict:
    mpath = _manifest_path(table_path)
    mpath.parent.mkdir(parents=True, exist_ok=True)
    tmp = mpath.with_suffix(f".tmp.{os.getpid()}")
    tmp.write_text(json.dumps(manifest))
    tmp.replace(mpath)  # atomic publish
    return manifest


def build_skip_index(
    spark: SparkSession,
    table_path: str,
    minmax_cols: Sequence[str] = (),
    set_cols: Sequence[str] = (),
    bloom_cols: Sequence[str] = (),
    set_max: int = DEFAULT_SET_MAX,
    bloom_bits: int = DEFAULT_BLOOM_BITS,
    bloom_hashes: int = DEFAULT_BLOOM_HASHES,
) -> dict:
    """Build (or rebuild) the skip index for a parquet table. Returns the
    manifest dict; persists it next to the table (``<table>.skipidx/``).
    Build is offline/one-off, like a ClickHouse ``MATERIALIZE INDEX``;
    incremental appends maintain it with :func:`update_skip_index`.
    """
    df = spark.read.parquet(table_path)
    dtypes = dict(df.dtypes)
    for c in (*minmax_cols, *set_cols, *bloom_cols):
        if c not in dtypes:
            raise ValueError(f"column {c!r} not in table schema")
    spec = {
        "minmax_cols": list(minmax_cols),
        "set_cols": list(set_cols),
        "bloom_cols": list(bloom_cols),
        "set_max": set_max,
        "bloom_bits": bloom_bits,
        "bloom_hashes": bloom_hashes,
    }
    listing = _list_files(table_path)
    entries = _file_stats(spark, [table_path], spec, dtypes)
    by_rel = _rel_entries(entries, listing, table_path)
    manifest = {
        "version": 1,
        "schema": json.loads(df.schema.json()),
        "dtypes": dtypes,
        "spec": spec,
        "bloom": {"bits": bloom_bits, "hashes": bloom_hashes},
        "set_max": set_max,
        "files": {rel: {"size": listing[rel], **by_rel.get(rel, {})} for rel in listing},
    }
    return _publish(table_path, manifest)


def update_skip_index(spark: SparkSession, table_path: str) -> dict:
    """Incrementally maintain the index after appends/deletes: stat ONLY
    files not already covered (new or size-changed), drop entries for
    vanished files, keep everything else untouched — O(changed files)
    executor work, the maintenance mode a streaming sink or compaction
    job runs after each flush. Per-file stats are independent, so the
    merged manifest is identical to a full rebuild (asserted in tests).
    """
    old = load_manifest(table_path, check_stale=False)
    spec = old.get("spec")
    if spec is None:  # pre-spec manifest: full rebuild is the only option
        raise ValueError("manifest has no index spec; rebuild with build_skip_index")
    current = _list_files(table_path)
    keep = {
        rel: e
        for rel, e in old["files"].items()
        if rel in current and e["size"] == current[rel]
    }
    fresh = [rel for rel in current if rel not in keep]
    if fresh:
        root = table_path.rstrip("/")
        entries = _file_stats(
            spark, [f"{root}/{rel}" for rel in fresh], spec, old["dtypes"]
        )
        by_rel = _rel_entries(entries, {rel: current[rel] for rel in fresh}, table_path)
        for rel in fresh:
            keep[rel] = {"size": current[rel], **by_rel.get(rel, {})}
    manifest = {**old, "files": {rel: keep[rel] for rel in sorted(current)}}
    return _publish(table_path, manifest)


def load_manifest(table_path: str, check_stale: bool = True) -> dict:
    mpath = _manifest_path(table_path)
    if not mpath.exists():
        raise FileNotFoundError(f"no skip index at {mpath}; run build_skip_index")
    manifest = json.loads(mpath.read_text())
    if check_stale:
        current = _list_files(table_path)
        recorded = {rel: e["size"] for rel, e in manifest["files"].items()}
        if current != recorded:
            raise StaleSkipIndexError(
                f"table {table_path} changed since index build "
                f"({len(current)} files now vs {len(recorded)} indexed); "
                "rebuild with build_skip_index"
            )
    return manifest


def _hash_probe(spark: SparkSession, values: Sequence[Any], dtype: str, manifest: dict) -> list[set[int]]:
    """Bloom bit positions for probe values — one 1-row Spark job total,
    so probe hashing uses the exact JVM ``xxhash64`` the build used."""
    b = manifest["bloom"]
    exprs = []
    for i, v in enumerate(values):
        for p in _bloom_positions(F.lit(v), dtype, b["hashes"], b["bits"]):
            exprs.append(p.alias(f"p_{i}_{len(exprs)}"))
    row = spark.range(1).select(*exprs).collect()[0]
    out: list[set[int]] = [set() for _ in values]
    j = 0
    for i in range(len(values)):
        for _ in range(b["hashes"]):
            out[i].add(row[j])
            j += 1
    return out


def _file_may_match(e: dict, col: str, op: str, val: Any, manifest: dict,
                    probe_bits: list[set[int]] | None) -> bool:
    """Conservative per-file test: False only when the file PROVABLY holds
    no matching row. Any abstention (no stats for col, set overflow) ⇒ True.
    """
    mm = e.get("minmax", {}).get(col)
    if mm is not None and mm[0] is not None:
        lo, hi = mm
        if op == "==" and not (lo <= _comparable(val) <= hi):
            return False
        if op == ">=" and hi < _comparable(val):
            return False
        if op == "<=" and lo > _comparable(val):
            return False
        if op == "in" and not any(lo <= _comparable(v) <= hi for v in val):
            return False
    s = e.get("sets", {}).get(col, "absent")
    if s != "absent" and s is not None:
        if op == "==" and _comparable(val) not in s:
            return False
        if op == "in" and not any(_comparable(v) in s for v in val):
            return False
    bl = e.get("blooms", {}).get(col)
    if bl is not None and probe_bits is not None and op in ("==", "in"):
        bits = set(bl)
        if not any(pb <= bits for pb in probe_bits):  # no value fully present
            return False
    return True


def prune_files(
    spark: SparkSession,
    table_path: str,
    preds: Sequence[tuple[str, str, Any]],
    manifest: dict | None = None,
) -> tuple[list[str], int]:
    """Evaluate conjunctive predicates against the manifest.

    ``preds`` is a list of ``(col, op, value)`` with op in ``==, >=, <=,
    in`` (a BETWEEN is a ``>=`` plus ``<=``). Returns (surviving absolute
    file paths, total file count). Pure driver-side metadata sweep — no
    executor work except at most one 1-row job to hash Bloom probes.
    """
    m = manifest if manifest is not None else load_manifest(table_path)
    for col, op, _ in preds:
        if op not in _OPS:
            raise ValueError(f"unsupported op {op!r}; one of {_OPS}")
    probes: dict[int, list[set[int]]] = {}
    for i, (col, op, val) in enumerate(preds):
        if op in ("==", "in") and any(col in e.get("blooms", {}) for e in m["files"].values()):
            vals = list(val) if op == "in" else [val]
            probes[i] = _hash_probe(spark, vals, m["dtypes"][col], m)
    root = table_path.rstrip("/")
    survivors = [
        f"{root}/{rel}"
        for rel, e in m["files"].items()
        if all(
            _file_may_match(e, col, op, val, m, probes.get(i))
            for i, (col, op, val) in enumerate(preds)
        )
    ]
    return survivors, len(m["files"])


def _pred_filter(preds: Sequence[tuple[str, str, Any]]):
    cond = F.lit(True)
    for col, op, val in preds:
        c = F.col(col)
        if op == "==":
            cond = cond & (c == F.lit(val))
        elif op == ">=":
            cond = cond & (c >= F.lit(val))
        elif op == "<=":
            cond = cond & (c <= F.lit(val))
        else:
            cond = cond & c.isin(list(val))
    return cond


def scan_skipped(
    spark: SparkSession,
    table_path: str,
    preds: Sequence[tuple[str, str, Any]],
    manifest: dict | None = None,
) -> DataFrame:
    """Read the table through the skip index: prune files driver-side, then
    apply EVERY predicate as a real Catalyst filter over the survivors.

    Result is always exactly ``full_scan.filter(preds)`` — the index can
    only skip files it proved empty of matches; false positives are
    filtered, false negatives are impossible (minmax/set are exact, Bloom
    only errs toward keeping).
    """
    m = manifest if manifest is not None else load_manifest(table_path)
    survivors, _total = prune_files(spark, table_path, preds, manifest=m)
    schema = StructType.fromJson(m["schema"])
    if not survivors:
        return local_frame(spark, [], schema)
    reader = spark.read.schema(schema).option("basePath", table_path)
    return reader.parquet(*survivors).where(_pred_filter(preds))
