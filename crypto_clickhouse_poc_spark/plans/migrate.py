"""Versioned SQL migration runner (engine-agnostic shape, Spark execution).

Reproduces the reference runner's behavior (``src/migrate.py:117-150``):
discover ``V{n}__*.sql`` files, apply in version order, record
``(version, filename, checksum, applied_at)`` in a registry, skip
already-applied files, and refuse to proceed if an applied file's checksum
changed (drift detection, ``src/migrate.py:139-144``).

Differences by design: the registry is a parquet table (append-only — a
migration ledger needs no updates); statements execute via ``spark.sql``;
table-existence probes use ``spark.catalog`` instead of system tables.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from ..localframe import local_frame
from ..schemas import MIGRATIONS

_NAME_RE = re.compile(r"^V(\d+)__(.+)\.sql$")


@dataclass(frozen=True)
class Migration:
    version: int
    filename: str
    path: Path
    checksum: str


class ChecksumMismatch(RuntimeError):
    pass


def _checksum(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def discover(sql_dir: str) -> list[Migration]:
    """Find V{n}__*.sql files, sorted by version."""
    out = []
    for p in Path(sql_dir).glob("V*__*.sql"):
        m = _NAME_RE.match(p.name)
        if not m:
            continue
        out.append(
            Migration(int(m.group(1)), p.name, p, _checksum(p.read_text(encoding="utf-8")))
        )
    return sorted(out, key=lambda mg: mg.version)


def _split_statements(sql_text: str) -> list[str]:
    """Split on top-level semicolons (no string-literal semicolons in our DDL;
    comments stripped line-wise)."""
    lines = [ln for ln in sql_text.splitlines() if not ln.strip().startswith("--")]
    return [s.strip() for s in "\n".join(lines).split(";") if s.strip()]


def load_applied(spark: SparkSession, registry_path: str) -> dict[tuple[int, str], str]:
    try:
        rows = spark.read.parquet(registry_path).collect()
    except Exception:
        return {}
    return {(r["version"], r["filename"]): r["checksum"] for r in rows}


def record(spark: SparkSession, registry_path: str, mg: Migration) -> None:
    row = local_frame(
        spark,
        [(mg.version, mg.filename, mg.checksum)],
        schema=Ty.StructType(MIGRATIONS.fields[:3]),
    ).withColumn("applied_at", F.current_timestamp())
    row.write.mode("append").parquet(registry_path)


def run(spark: SparkSession, sql_dir: str, registry_path: str) -> list[str]:
    """Apply pending migrations; return list of applied filenames.

    Raises ChecksumMismatch if an already-applied file was edited.
    """
    applied = load_applied(spark, registry_path)
    done = []
    for mg in discover(sql_dir):
        key = (mg.version, mg.filename)
        if key in applied:
            if applied[key] != mg.checksum:
                raise ChecksumMismatch(
                    f"{mg.filename}: checksum {mg.checksum[:12]}… != applied "
                    f"{applied[key][:12]}… — migration files must be immutable"
                )
            continue
        for i, stmt in enumerate(_split_statements(mg.path.read_text(encoding="utf-8"))):
            try:
                spark.sql(stmt)
            except Exception as exc:  # re-raise with statement context
                raise RuntimeError(f"{mg.filename} statement {i + 1} failed: {exc}") from exc
        record(spark, registry_path, mg)
        done.append(mg.filename)
    return done
