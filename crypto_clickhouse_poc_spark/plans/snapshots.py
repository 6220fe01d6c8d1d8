"""Snapshot log: versioned reads over immutable parquet (the transaction-log
pattern of open-source Delta/Iceberg, minimal form).

``plans/layout.py`` documents its one honest gap: the compact()/swap_in
rename window exists BECAUSE a directory-of-parquet table has no metadata
pointer — readers resolve the live file set by listing the directory. This
module adds that pointer. A table becomes

    <path>/_log/v{N}.json     — complete snapshot manifests (the pointer)
    <path>/data/txn=<id>/...  — immutable data files, one sub-dir per commit

and every operation is a NEW manifest over mostly-old files:

- append   → write a fresh ``txn=`` dir, commit parent files + new files
- merge    → copy-on-write MERGE INTO: rewrite ONLY the files containing
             matching keys, carry every other file by reference
- delete   → merge-on-read: commit a deletion vector (file, row-position
             list); readers anti-join it, compaction materializes it
- eq_delete→ merge-on-read by KEY VALUES (Iceberg equality-delete):
             commit the key rows without reading the table at all;
             applies only to files added before it (sequenced)
- compact  → rewrite survivors into a fresh dir, commit ONLY the new files
             (old files stay on disk — prior versions remain readable; no
             rename window, no reader retry: the swap is one manifest link)
- retention→ METADATA-ONLY: commit a manifest excluding the dropped months'
             files. O(manifest), zero I/O on data, trivially undoable.
- rollback → commit a new version whose file list is an old version's
             (history is append-only; nothing is deleted)
- vacuum   → physically delete files unreferenced by the newest
             ``retain_versions`` manifests (after which time travel to
             versions needing them fails — the Delta retention-window
             trade; requires no concurrent writers)

Every ``v{N}.json`` body is stamped ``"format_version": 1``
(``FORMAT_VERSION``) by :func:`_commit`, and :func:`_version_body` — the
one parser of version files — refuses a body whose stamp is missing or
different with one error naming the file and version. There is no
compatibility path for older log layouts. A version-1 body always
carries ``committed_at`` and ``data_change``, every file entry carries
``added_v``, and every commit from the table's first data write on
carries the table ``schema`` (a body without one belongs to a table
that has never been written).

Commits are optimistic-concurrency: the manifest is written to a unique tmp
name and ``os.link``ed to ``v{N}.json`` — EEXIST means another writer won
version N, so re-read the head and retry on N+1 (the open-source Delta
protocol on a POSIX filesystem). There is no crash window at all: a crash
before the link leaves an orphan tmp/data dir that vacuum sweeps; a crash
after the link IS a completed commit.

The txn id is carried as a PARTITION column (``data/txn=<id>/p_month=…``),
so Spark's partition discovery works unchanged under a ``basePath`` and
every row keeps commit lineage for free; readers drop it by default.

Scale notes for 100 TB: the manifest stores each file's partition value, so
``read_snapshot(months=…)`` prunes at the METADATA level — the Spark scan
is handed only surviving files and never lists storage (listing a
100M-file table is the actual bottleneck cloud tables hit). A single JSON
manifest is the minimal form up to ``SHARD_FILES`` entries; past that the
version file holds per-month CONTENT-ADDRESSED shard references
(Iceberg's manifest-list layout, r9): a commit rewrites only the months
it touched, identical month-shards are stored once across versions, and
``manifest()`` splices the list back so no reader changes. Reference parity: this
subsumes the ClickHouse behaviors layout.py maps (background merge ≙
compact, TTL ≙ drop_months) while adding the versioned reads ClickHouse
itself lacks.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re as _re
import shutil
import time as _time
import uuid
from pathlib import Path
from typing import TYPE_CHECKING, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, LongType, StructField, StructType

from .. import localframe
from ..localframe import arrow_table, local_frame, sql_str
from .layout import PARTITION_COL, dedup_view, with_partition_col

if TYPE_CHECKING:
    import pyarrow as pa

LOG_DIR = "_log"
FORMAT_VERSION = 1
DATA_DIR = "data"
TXN_COL = "txn"
_COMMIT_RETRIES = 50


def _log(path: str) -> Path:
    return Path(path) / LOG_DIR


def _data(path: str) -> Path:
    return Path(path) / DATA_DIR


def latest_version(path: str) -> int | None:
    """Highest committed version, or None for an uninitialized table.

    O(1) amortized via the best-effort ``_head.hint`` each commit drops:
    start at the hinted version and probe FORWARD until the first missing
    manifest. With the hint lost (cold start on a foreign copy of the
    table, a hint write that lost its race forever), the DURABLE
    ``_last_checkpoint`` pointer (written every ``CHECKPOINT_EVERY``
    commits — the Delta ``_last_checkpoint`` file proper, r9) bounds the
    forward probe to the commits since the last checkpoint; only a table
    with neither falls back to the full ``_log/`` glob. Neither hint nor
    checkpoint can overshoot (both are written only after their commit's
    link succeeded, and manifests are never deleted). Never touches
    data."""
    for start in (_log(path) / "_head.hint", _log(path) / "_last_checkpoint"):
        try:
            v = int(start.read_text())
            if not (_log(path) / f"v{v}.json").exists():
                raise ValueError  # corrupt/foreign pointer — next fallback
            while (_log(path) / f"v{v + 1}.json").exists():
                v += 1
            return v
        except (OSError, ValueError):
            continue
    versions = [
        int(p.stem[1:])
        for p in _log(path).glob("v*.json")
        if p.stem[1:].isdigit()
    ]
    return max(versions) if versions else None


# shard the file list out of v{N}.json above this many entries (the
# Iceberg manifest-list layout): the version file then holds one
# content-addressed reference per partition month, and a commit rewrites
# only the months it touched
SHARD_FILES = 512


def manifest(path: str, version: int, months: tuple[str, str] | None = None) -> dict:
    """The version's manifest with ``files`` MATERIALIZED.

    Small tables inline the list in ``v{N}.json``. Past ``SHARD_FILES``
    entries the version file instead carries ``files_ref`` — one
    content-addressed shard (``m-<sha>.json``, grouped by partition
    month) per month — and this accessor splices them back, so every
    reader keeps its ``m["files"]`` shape unchanged. ``months=(lo, hi)``
    skips loading shards wholly outside the range (manifest-level
    pruning one level up: a months-pruned read of a million-file table
    never even parses the other months' metadata)."""
    m = _version_body(path, version)
    m["files"] = _body_files(path, m, months)
    return m


def _body_files(
    path: str, body: dict, months: tuple[str, str] | None = None
) -> list[dict]:
    """A version body's file entries: the inline list as it is, or the
    month shards it references spliced back (only those in ``months``
    when given)."""
    if "files" in body:
        return body["files"]
    refs = body["files_ref"]
    if months is not None:
        lo, hi = months
        refs = [r for r in refs if lo <= r["p_month"] <= hi]
    return [
        f for r in refs for f in json.loads((_log(path) / r["path"]).read_text())
    ]


def _version_body(path: str, version: int) -> dict:
    """The raw ``v{N}.json`` body WITHOUT materializing ``files`` from
    shard references — O(1) regardless of table size. Metadata-only
    questions (an op scan over a long commit range, the inline ``dvs``/
    ``eq_dvs``/``txns`` fields) must use this instead of
    :func:`manifest`, which splices every month shard back just to
    build the file list.

    The one parser of version files: a body whose ``format_version`` is
    not :data:`FORMAT_VERSION` raises ``ValueError``."""
    p = _log(path) / f"v{version}.json"
    body = json.loads(p.read_text())
    if body.get("format_version") != FORMAT_VERSION:
        raise ValueError(
            f"{p}: version {version} has snapshot-log format_version "
            f"{body.get('format_version')!r}; this engine reads only "
            f"format_version {FORMAT_VERSION}"
        )
    return body


def changed_ops(path: str, since_version: int, to_version: int) -> list[str]:
    """The ``op`` of each commit in ``(since_version, to_version]``, in
    version order. Raw version bodies only: a long-idle incremental
    consumer catching up over thousands of commits pays O(range) tiny
    JSON reads, never O(range × month-shards) splices (the r9 verdict's
    remaining-efficiency finding on ``read_changes``)."""
    return [
        _version_body(path, v)["op"]
        for v in range(since_version + 1, to_version + 1)
    ]


def changed_meta(
    path: str, since_version: int, to_version: int
) -> list[tuple[str, bool]]:
    """``(op, data_change)`` per commit in the range — the classification
    change consumers dispatch on."""
    out = []
    for v in range(since_version + 1, to_version + 1):
        b = _version_body(path, v)
        out.append((b["op"], b["data_change"]))
    return out


def manifest_delta(path: str, v: int) -> tuple[list[dict], list[dict]]:
    """``(added, removed)`` file entries of commit ``v`` — added = entries
    stamped ``added_v == v``, removed = entries in ``v-1``'s manifest but
    not ``v``'s — loading ONLY the month shards whose content hash changed
    between the two versions. On a sharded log a change is confined to
    the months it touched (adding/removing a file re-hashes its month's
    shard, content-addressing leaves the rest byte-identical), so a
    per-commit delta costs O(changed shards), never O(table months) —
    the metadata asymptote fix the r10 ADVICE asked for on both the CDC
    feed and the stream source's catch-up path. Inline (unsharded)
    manifests are already O(1) reads; a commit CROSSING the shard
    boundary (one side inline, one sharded) degrades to two full
    materializations, which is exactly what the splice costs anyway.

    Public API (r12, per ADVICE): the CDC feed, the stream source's
    catch-up path, and external incremental consumers all dispatch on
    this — it is the log's "what did commit v change" primitive."""
    cur = _version_body(path, v)
    prev = _version_body(path, v - 1) if v > 0 else None
    if "files_ref" in cur and (prev is None or "files_ref" in prev):
        rc = {r["p_month"]: r["path"] for r in cur["files_ref"]}
        rp = (
            {}
            if prev is None
            else {r["p_month"]: r["path"] for r in prev["files_ref"]}
        )
        changed = {m for m in set(rc) | set(rp) if rc.get(m) != rp.get(m)}

        def _load(refs: dict[str, str]) -> list[dict]:
            return [
                f
                for m in sorted(changed)
                if m in refs
                for f in json.loads((_log(path) / refs[m]).read_text())
            ]

        cur_files, prev_files = _load(rc), _load(rp)
    else:
        cur_files = cur["files"] if "files" in cur else manifest(path, v)["files"]
        if prev is None:
            prev_files = []
        elif "files" in prev:
            prev_files = prev["files"]
        else:
            prev_files = manifest(path, v - 1)["files"]
    now = {f["path"] for f in cur_files}
    added = [f for f in cur_files if f["added_v"] == v]
    removed = [f for f in prev_files if f["path"] not in now]
    return added, removed


def _write_shards(path: str, files: list[dict]) -> list[dict]:
    """Write the file list as per-month, CONTENT-ADDRESSED shard files
    and return the reference list. A month whose file set is unchanged
    since any earlier commit hashes to the SAME name — the ``os.link``
    is then a no-op — so the log's write cost per commit is O(changed
    months), not O(table files), and identical shards are stored once
    across all versions (Iceberg's unchanged-manifest reuse)."""
    import hashlib

    groups: dict[str, list[dict]] = {}
    for f in files:
        groups.setdefault(f.get("p_month", "?"), []).append(f)
    log = _log(path)
    refs = []
    for month in sorted(groups):
        blob = json.dumps(groups[month], sort_keys=True)
        name = f"m-{hashlib.sha256(blob.encode()).hexdigest()[:16]}.json"
        dest = log / name
        if not dest.exists():
            tmp = log / f".shard-{uuid.uuid4().hex}.json"
            tmp.write_text(blob)
            try:
                os.link(tmp, dest)
            except FileExistsError:
                pass  # identical content already committed — reuse
            finally:
                tmp.unlink(missing_ok=True)
        refs.append({"path": name, "p_month": month, "n": len(groups[month])})
    return refs


def history(path: str) -> list[dict]:
    """All committed versions, ascending — (version, op, parent, n_files).

    Reads the newest checkpoint's cumulative summary and walks only the
    manifests committed SINCE it, so the per-call manifest-read count is
    bounded by ``CHECKPOINT_EVERY`` regardless of table age (r9; was
    O(versions))."""
    head = latest_version(path)
    if head is None:
        return []
    ckpt = _read_last_checkpoint(path)
    out = list(ckpt["history"]) if ckpt and ckpt["version"] <= head else []
    for v in range(len(out), head + 1):
        m = _version_body(path, v)
        out.append(
            {
                "version": v,
                "op": m["op"],
                "parent": m["parent"],
                "n_files": _n_files(path, v),
            }
        )
    return out


# checkpoint cadence: the worst-case cold probe / history walk is this
# many manifest stats past the last checkpoint
CHECKPOINT_EVERY = 100


def _n_files(path: str, version: int) -> int:
    """File count of a version WITHOUT materializing sharded manifests:
    the version body either inlines ``files`` or carries per-month
    ``files_ref`` entries whose ``n`` sums to the answer — history
    walks and checkpoint builds stay O(months) per version instead of
    parsing every shard's file entries."""
    m = _version_body(path, version)
    if "files" in m:
        return len(m["files"])
    return sum(r["n"] for r in m["files_ref"])


def _read_last_checkpoint(path: str) -> dict | None:
    """The newest checkpoint body via the ``_last_checkpoint`` pointer,
    or None. Strictly an accelerator: any failure degrades to the
    non-checkpointed path, never to a wrong answer."""
    try:
        v = int((_log(path) / "_last_checkpoint").read_text())
        return json.loads((_log(path) / f"ckpt-v{v}.json").read_text())
    except (OSError, ValueError, json.JSONDecodeError):
        return None


def _write_checkpoint(path: str, version: int) -> None:
    """Write ``ckpt-v<version>.json`` — the head version, its full
    manifest (self-contained disaster copy), and the CUMULATIVE compact
    history through it — then advance the ``_last_checkpoint`` pointer
    (atomic replace, monotonicity-guarded like the head hint).

    Cost is O(CHECKPOINT_EVERY), not O(versions): the history prefix is
    carried over from the previous checkpoint and only the interval's
    manifests are read. Best-effort by contract — every reader has a
    correct fallback — and idempotent: a concurrent committer writing
    the same checkpoint loses the ``os.link`` race harmlessly."""
    prev = _read_last_checkpoint(path)
    hist = (
        list(prev["history"])
        if prev and prev["version"] < version
        else []
    )
    for v in range(len(hist), version + 1):
        m = _version_body(path, v)
        hist.append(
            {
                "version": v,
                "op": m["op"],
                "parent": m["parent"],
                "n_files": _n_files(path, v),
            }
        )
    # the disaster copy embeds the RAW version body (files_ref for a
    # sharded table — O(months)), never the spliced file list: a
    # checkpoint that serialized all 100M file entries would make every
    # CHECKPOINT_EVERY-th commit O(table), defeating the sharded log's
    # O(changed-month) write-cost contract
    body = {
        "version": version,
        "history": hist,
        "manifest_raw": _version_body(path, version),
    }
    log = _log(path)
    tmp = log / f".ckpt-{uuid.uuid4().hex}.json"
    tmp.write_text(json.dumps(body, indent=1))
    try:
        os.link(tmp, log / f"ckpt-v{version}.json")
    except FileExistsError:
        pass  # another committer checkpointed this version first
    finally:
        tmp.unlink(missing_ok=True)
    try:
        cur = int((log / "_last_checkpoint").read_text())
    except (OSError, ValueError):
        cur = -1
    if version > cur:
        ptr_tmp = log / f".ckptptr-{uuid.uuid4().hex}"
        ptr_tmp.write_text(str(version))
        os.replace(ptr_tmp, log / "_last_checkpoint")


class CommitConflict(RuntimeError):
    """Another writer committed between this operation's read and its
    commit, and the operation's result depends on the state it read
    (compact). Re-run the operation against the new head."""


def _normalize_type(t):
    """Canonicalize a ``StructType.jsonValue()`` type node: strip field
    ``metadata`` at every depth (not part of the table contract — a
    parquet read-back can attach it where the writing frame had none)
    and default the nullability flags explicitly, so logically-identical
    frames produced by different routes compare equal."""
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return {
                "type": "struct",
                "fields": [
                    {
                        "name": f["name"],
                        "type": _normalize_type(f["type"]),
                        "nullable": bool(f.get("nullable", True)),
                        "metadata": {},
                    }
                    for f in t["fields"]
                ],
            }
        if kind == "array":
            return {
                "type": "array",
                "elementType": _normalize_type(t["elementType"]),
                "containsNull": bool(t.get("containsNull", True)),
            }
        if kind == "map":
            return {
                "type": "map",
                "keyType": _normalize_type(t["keyType"]),
                "valueType": _normalize_type(t["valueType"]),
                "valueContainsNull": bool(t.get("valueContainsNull", True)),
            }
    return t


_INT_RANK = {"byte": 1, "short": 2, "integer": 3, "long": 4}
_FLT_RANK = {"float": 1, "double": 2}
_DEC_RE = _re.compile(r"decimal\((\d+),(\d+)\)$")


def _widen_primitive(old: str, new: str) -> str | None:
    """TYPE WIDENING (r15 — Delta ALTER COLUMN TYPE / Iceberg type
    promotion): the LOSSLESS within-family promotions a table may take
    without rewriting a file — byte→short→int→long, float→double, and
    decimal growth that keeps every old value representable (scale and
    integer digits both non-decreasing). Returns the wider type (either
    argument order — a narrower WRITE into a widened table is also fine:
    its files land narrow and upcast at read), or None when the pair is
    not a widening (the caller then raises the evolution error).

    Within-family ONLY, by design: Spark 4's parquet vectorized reader
    natively upcasts these promotions at scan time (probed — int32 files
    read under a bigint logical schema, float under double, decimal
    under a grown decimal), so old files keep serving with ZERO rewrite
    through the existing explicit-logical-schema read path. Cross-family
    promotions (int→double) are refused even though Delta's preview
    allows them: the Bloom sidecar and the driver-side probe hash keys
    via their STRING rendering, and str(5) != str(5.0) — a widened-to-
    double key would silently false-negative every existing Bloom probe,
    the one error class the index promises away."""
    if old in _INT_RANK and new in _INT_RANK:
        return old if _INT_RANK[old] >= _INT_RANK[new] else new
    if old in _FLT_RANK and new in _FLT_RANK:
        return old if _FLT_RANK[old] >= _FLT_RANK[new] else new
    mo, mn = _DEC_RE.match(old or ""), _DEC_RE.match(new or "")
    if mo and mn:
        po, so = int(mo.group(1)), int(mo.group(2))
        pn, sn = int(mn.group(1)), int(mn.group(2))
        if sn >= so and pn - sn >= po - so:
            return new
        if so >= sn and po - so >= pn - sn:
            return old
    return None


def _merge_types(old, new, path: str):
    """Recursive type merge for the logged schema — the StructType.merge
    semantics Spark's Parquet schema union applies: nullability/
    containsNull UNION at every depth (``F.array(lits)`` gives
    containsNull=false where a parquet read-back gives true — both
    describe the same data), nested struct fields union additively
    (files that predate a nested ADD null-fill it via schema clipping,
    same as a top-level ADD), LOSSLESS within-family primitive widening
    (:func:`_widen_primitive` — the logged schema takes the wider type,
    old files upcast at scan), and only a genuine primitive/shape
    mismatch raises."""
    if old == new:
        return old
    if isinstance(old, str) and isinstance(new, str):
        w = _widen_primitive(old, new)
        if w is not None:
            return w
    if (
        isinstance(old, dict)
        and isinstance(new, dict)
        and old.get("type") == new.get("type")
    ):
        kind = old["type"]
        if kind == "array":
            return {
                "type": "array",
                "elementType": _merge_types(
                    old["elementType"], new["elementType"], path + ".element"
                ),
                "containsNull": old["containsNull"] or new["containsNull"],
            }
        if kind == "map":
            return {
                "type": "map",
                "keyType": _merge_types(
                    old["keyType"], new["keyType"], path + ".key"
                ),
                "valueType": _merge_types(
                    old["valueType"], new["valueType"], path + ".value"
                ),
                "valueContainsNull": old["valueContainsNull"]
                or new["valueContainsNull"],
            }
        if kind == "struct":
            have = {f["name"] for f in old["fields"]}
            newby = {f["name"]: f for f in new["fields"]}
            out = []
            for f in old["fields"]:
                nf = newby.get(f["name"])
                if nf is None:
                    out.append(f)
                else:
                    out.append(
                        {
                            "name": f["name"],
                            "type": _merge_types(
                                f["type"], nf["type"], f"{path}.{f['name']}"
                            ),
                            "nullable": f["nullable"] or nf["nullable"],
                            "metadata": {},
                        }
                    )
            for g in new["fields"]:
                if g["name"] not in have:
                    # nested ADD COLUMN: absent from older files → null
                    out.append({**g, "nullable": True})
            return {"type": "struct", "fields": out}
    raise ValueError(
        f"schema evolution cannot change column {path!r} "
        f"from {old!r} to {new!r} — files of both "
        "types would be live in the same table; write the new "
        "shape to a new column (or rebuild the table)"
    )


def _frame_schema(df: DataFrame) -> dict:
    """The frame's schema as the manifest's ``schema`` value
    (``StructType.jsonValue()``, normalized — metadata stripped at every
    depth), with TOP-LEVEL nullability relaxed to True: the stored
    schema describes the TABLE across its whole history — any column can
    be absent from files that predate its addition and must read back as
    null, so a frame's incidental non-null guarantee on one commit must
    not be baked into the table contract."""
    s = _normalize_type(df.schema.jsonValue())
    return {
        "type": "struct",
        "fields": [{**f, "nullable": True} for f in s["fields"]],
    }


def _evolve_schema(parent: dict | None, new: dict | None) -> dict | None:
    """The ADD COLUMN evolution rule for the logged schema: parent
    columns keep their positions, genuinely new columns append in frame
    order, and a same-name column must keep a merge-compatible type
    (:func:`_merge_types` — nullability unions at every depth, nested
    struct fields add; a primitive type change is not an evolution the
    parquet read can honor, so it fails the COMMIT instead of every
    future read)."""
    if new is None:
        return parent
    if parent is None:
        return new
    parent = _normalize_type(parent)
    new = _normalize_type(new)
    have = {f["name"]: f for f in parent["fields"]}
    out = []
    for f in parent["fields"]:
        nf = next((g for g in new["fields"] if g["name"] == f["name"]), None)
        if nf is None:
            out.append(f)
        else:
            out.append(
                {
                    "name": f["name"],
                    "type": _merge_types(f["type"], nf["type"], f["name"]),
                    "nullable": f["nullable"] or nf["nullable"],
                    "metadata": {},
                }
            )
    for f in new["fields"]:
        if f["name"] not in have:
            out.append(f)
    return {"type": "struct", "fields": out}


def _commit(
    path: str,
    files_fn,
    op: str,
    txn: tuple[str, int] | None = None,
    txn_expect: int | None | str = "monotone",
    expected_parent: int | None | str = "any",
    dvs_fn=None,
    eq_dvs_fn=None,
    on_conflict: str = "raise",
    data_change: bool = True,
    write_schema: dict | None = None,
    schema_mode: str = "inherit",
    meta_edit=None,
) -> int:
    """Optimistic commit: claim the next version number with an atomic
    ``os.link``; EEXIST = lost the race, so re-read the head and retry.

    ``files_fn(head_files) -> files`` is RE-EVALUATED against the new
    head's file list on every attempt — a losing writer must compose its
    change onto the state that actually won, or it would silently drop the
    winner's files from the table (the r8 review's data-loss repro). Ops
    whose output is NOT a pure function of the head they read (compact:
    the rewritten files dedup a specific snapshot) instead pass
    ``expected_parent`` and get :class:`CommitConflict` on a lost race.

    ``txn=(app, id)`` records an idempotent-writer watermark: the manifest
    carries forward a ``txns`` map {app: last committed id} (the Delta
    (appId, batchId) protocol), so a replayed micro-batch can be detected
    in O(1) from the head manifest alone.

    ``dvs_fn(head_dvs) -> dvs`` transforms the deletion-vector list the
    same way ``files_fn`` transforms the file list; the default carries
    the head's DVs forward unchanged (appends/merges must not lose a
    prior delete), ``delete_where`` appends, compact/materialize clears,
    rollback restores. ``eq_dvs_fn(head_eq, version) -> eq_dvs`` is the
    same seam for EQUALITY deletes (it additionally receives the commit
    version being claimed, which sequences the delete — see
    :func:`delete_by_keys`).

    ``on_conflict="rebase_appends"`` (r10, the Iceberg/Delta conflict-
    resolution rule for logically disjoint commits): when
    ``expected_parent`` lost the race but EVERY interleaved commit in
    ``(expected_parent, head]`` was a pure append, re-attempt with the
    winner as parent — ``files_fn`` is evaluated against the EXPECTED
    parent's file list (the state the op actually read) and the
    interleaved appends' files (``added_v > expected_parent``) are
    carried forward verbatim. Sound because appends are disjoint from
    any rewrite's read set by construction: they add fresh txn dirs,
    never touch existing files, and never add deletion vectors (so the
    head's dvs/eq_dvs equal the expected parent's, and an appended file
    can't be referenced by any existing DV nor subject to any existing
    equality delete — its ``added_v`` postdates every ``eq.v``).
    Without this, a 5 s-cadence streaming sink starves every
    OPTIMIZE/compact forever. Any non-append interleave still raises.

    ``data_change=False`` (the Delta ``dataChange`` flag, r10): the
    WRITER declares that this commit rewrote LAYOUT, not logical row
    content — bin-packing optimize, an MV's algebra-preserving partial
    compaction. Change consumers (CDC, MV refresh, the stream source)
    skip flagged commits instead of refusing them. The deduping
    ``compact_snapshot`` must NOT set it: dropping stale duplicate-key
    versions changes the raw row set, and a consumer folding raw rows
    would silently diverge (the flag exists precisely because 'op ==
    compact' cannot tell these apart).

    ``write_schema`` / ``schema_mode`` (r13 — the Delta metaData-action
    pattern: the TABLE SCHEMA lives in the log, so opening a table never
    reads a single parquet footer, let alone all of them): a data-writing
    commit passes its frame's ``schema.jsonValue()`` and a mode —
    ``"merge"`` (append family: parent columns first, new columns
    appended, same-name types must agree — the ADD COLUMN evolution
    rule), ``"replace"`` (total rewrites: compact / rebuild / rollback,
    whose output schema IS the table schema). The default ``"inherit"``
    carries the parent's schema through schema-free commits (deletes,
    retention). Readers hand the stored schema to the scan and never
    infer one from footers.

    Every body is stamped ``format_version`` (:data:`FORMAT_VERSION`)."""
    log = _log(path)
    log.mkdir(parents=True, exist_ok=True)
    tmp = log / f".tmp-{uuid.uuid4().hex}.json"
    for _ in range(_COMMIT_RETRIES):
        head = latest_version(path)
        rebased = False
        if expected_parent != "any" and head != expected_parent:
            rebased = (
                on_conflict == "rebase_appends"
                and expected_parent is not None
                and head is not None
                and head > expected_parent
                and all(
                    o == "append"
                    for o in changed_ops(path, expected_parent, head)
                )
            )
            if not rebased:
                raise CommitConflict(
                    f"{op} read version {expected_parent} but head is {head} — re-run"
                )
        version = 0 if head is None else head + 1
        head_m = {} if head is None else manifest(path, head)
        txns = head_m.get("txns", {})
        if txn is not None:
            # re-validate the watermark against the head that will actually
            # be the parent: append()'s pre-check reads the head BEFORE the
            # txn dir is written, so two concurrent writers of one app can
            # BOTH pass it and double-commit the same batch (observed shape:
            # two logmv refreshers folding one delta twice). The loser must
            # fail here, not land — its orphan dir is vacuum's to sweep.
            # Three validation modes (``txn_expect``):
            # - "monotone" (default): reject ids at-or-below the watermark
            #   — enough for writers whose batches share one lineage (a
            #   streaming sink's serialized batch ids);
            # - an int/None: exact compare-and-set — the writer states the
            #   watermark it READ, so two refreshers that consumed from
            #   DIFFERENT base heads can't both land overlapping deltas
            #   (monotone alone admits that: ids 5 and 6 over deltas
            #   (3,5] and (3,6] are both "above" watermark 3);
            # - "force": skip validation — ONLY for total-replacement
            #   commits (rebuild) whose files_fn discards every prior
            #   file, so re-stamping any watermark cannot double-count.
            seen = txns.get(txn[0])
            if txn_expect == "monotone":
                if seen is not None and txn[1] <= seen:
                    raise CommitConflict(
                        f"txn {txn} at or below app watermark {seen} — "
                        "a concurrent writer already committed this batch"
                    )
            elif txn_expect != "force" and seen != txn_expect:
                raise CommitConflict(
                    f"txn {txn} expected app watermark {txn_expect} but head "
                    f"has {seen} — a concurrent writer moved it; re-read and "
                    "recompute the delta"
                )
            txns = {**txns, txn[0]: txn[1]}
        head_dvs = head_m.get("dvs", [])
        head_eq = head_m.get("eq_dvs", [])
        head_paths = {f["path"] for f in head_m.get("files", [])}
        # stamp the commit version on genuinely-NEW file entries (copies,
        # so a retry restamps fresh and head dicts are never mutated):
        # equality deletes sequence against this — an eq-delete drops a
        # row only when its file's added_v predates the delete's commit,
        # the Iceberg sequence-number rule at file granularity.
        if rebased:
            # files_fn sees the state the op READ; the append-only
            # interleave rides along untouched (it is in the head
            # manifest, so the stamping below leaves its added_v alone)
            carried = [
                dict(f)
                for f in head_m.get("files", [])
                if f["added_v"] > expected_parent
            ]
            base_files = manifest(path, expected_parent).get("files", [])
            files = [dict(f) for f in files_fn(base_files)] + carried
        else:
            files = [dict(f) for f in files_fn(head_m.get("files", []))]
        for f in files:
            if "added_v" not in f and f["path"] not in head_paths:
                f["added_v"] = version
        # column-mapping metadata (r14): ``renames`` is the era map a
        # read uses to translate a pre-rename file's written column names
        # to the current logical names; ``retired`` is the tombstone set
        # (names renamed-away or dropped) that a stale writer's frame may
        # not carry. A total rewrite ("replace") clears both: no
        # pre-rename/pre-drop file survives it, so the history is clean
        # and a retired name becomes re-usable (rollback restores the
        # target's own lists through meta_edit).
        if schema_mode == "replace":
            renames_meta: list = []
            retired_meta: list = []
        else:
            renames_meta = head_m.get("renames", [])
            retired_meta = head_m.get("retired", [])
        if write_schema is not None and schema_mode == "merge" and retired_meta:
            stale = sorted(
                f["name"]
                for f in write_schema["fields"]
                if f["name"] in retired_meta
            )
            if stale:
                raise ValueError(
                    f"columns {stale} were dropped or renamed away — a "
                    "write may not re-introduce them (old files still "
                    "carry physical data under these names; compact or "
                    "rebuild the table to free them)"
                )
        if schema_mode == "replace":
            # a rebased total rewrite carries an interleaved append's
            # files forward VERBATIM — columns that append evolved in
            # live only in its files, and logging just the rewrite's
            # own (pre-interleave) schema would silently hide them
            # (and the next compact would drop them). The winner's
            # chain already merged the append's columns: union them.
            schema = (
                _evolve_schema(write_schema, head_m.get("schema"))
                if rebased
                else write_schema
            )
        elif schema_mode == "merge":
            schema = _evolve_schema(head_m.get("schema"), write_schema)
        elif schema_mode == "inherit":
            schema = head_m.get("schema")
        else:
            raise ValueError(f"unknown schema_mode {schema_mode!r}")
        body = {
            "format_version": FORMAT_VERSION,
            "version": version,
            "parent": head,
            "op": op,
            # wall-clock commit stamp (Delta commitInfo.timestamp):
            # informational for table_history, and the resolution basis
            # for timestamp time travel (version_as_of) and the stream's
            # startingTimestamp. Clamped to the parent's stamp (r16 —
            # Delta's in-commit-timestamp monotonicity): a writer with a
            # skewed-backward clock would otherwise break the
            # non-decreasing order the binary-search resolvers
            # (_last_version_at) depend on. Non-decreasing (ties
            # allowed) is sufficient — both resolvers use monotone
            # predicates.
            "committed_at": round(
                max(_time.time(), head_m.get("committed_at", 0.0)), 3
            ),
            "data_change": bool(data_change),
            "txns": txns,
            "dvs": sorted(
                dvs_fn(head_dvs) if dvs_fn is not None else head_dvs,
                key=lambda f: f["path"],
            ),
            "eq_dvs": sorted(
                eq_dvs_fn(head_eq, version) if eq_dvs_fn is not None else head_eq,
                key=lambda f: f["path"],
            ),
        }
        if schema is not None:
            body["schema"] = schema
        if renames_meta:
            body["renames"] = renames_meta
        if retired_meta:
            body["retired"] = retired_meta
        # CHECK constraints and column DEFAULTS are table CONTRACTS:
        # carried across every op incl. total rewrites (a compact's rows
        # already satisfied them; a rebuild's frame was validated at its
        # write) — rollback alone restores the target's through meta_edit
        if head_m.get("constraints"):
            body["constraints"] = head_m["constraints"]
        if head_m.get("defaults"):
            body["defaults"] = head_m["defaults"]
        if head_m.get("properties"):
            body["properties"] = head_m["properties"]
        if head_m.get("generated"):
            body["generated"] = head_m["generated"]
        if meta_edit is not None:
            # metadata-only ops (rename/drop column, rollback's restore):
            # computed INSIDE the retry loop against the head that will
            # actually be the parent, so a lost race re-validates
            body.update(meta_edit(head_m, version))
            body = {k: v for k, v in body.items() if v is not None}
        sorted_files = sorted(files, key=lambda f: f["path"])
        if len(sorted_files) > SHARD_FILES:
            # big table: per-month content-addressed shards; the version
            # file stays O(months) and unchanged months cost nothing
            body["files_ref"] = _write_shards(path, sorted_files)
        else:
            body["files"] = sorted_files
        tmp.write_text(json.dumps(body, indent=1))
        try:
            os.link(tmp, log / f"v{version}.json")
        except FileExistsError:
            continue  # another writer claimed this version — recompute head
        finally:
            tmp.unlink(missing_ok=True)
        # best-effort head hint (monotonicity-guarded: a slow writer must
        # not roll a newer writer's hint backwards); readers probe forward
        # from it, so losing this write entirely is only a perf miss
        try:
            cur = int((log / "_head.hint").read_text())
        except (OSError, ValueError):
            cur = -1
        if version > cur:
            try:
                hint_tmp = log / f".hint-{uuid.uuid4().hex}"
                hint_tmp.write_text(str(version))
                os.replace(hint_tmp, log / "_head.hint")
            except OSError:
                pass  # genuinely best-effort: the commit link IS the commit
        if version > 0 and version % CHECKPOINT_EVERY == 0:
            try:
                _write_checkpoint(path, version)
            except OSError:
                pass  # accelerator only; readers fall back correctly
        return version
    raise RuntimeError(f"commit contention: lost {_COMMIT_RETRIES} races at {path}")


def _write_txn(
    df: DataFrame,
    path: str,
    ts_col: str,
    zorder_cols: Sequence[str] | None = None,
    n_files: int = 8,
    cluster_cols: Sequence[str] | None = None,
) -> list[dict]:
    """Write a fresh immutable ``txn=`` dir (month-partitioned, sorted like
    layout.write_table) and return its manifest entries.

    With ``zorder_cols`` (≥2 numeric columns — e.g. ("ts", "price")), the
    rewrite range-partitions on (p_month, z-key) into ~``n_files`` files:
    each file covers a contiguous z-range INSIDE its month, so the footer
    ts stats the manifest records become tight per-file and ``ts_range``
    reads prune BELOW the partition level — the z-order + skip-index
    layout (plans/zorder.py, plans/skipping.py) expressed as a snapshot
    compaction policy.

    With ``cluster_cols`` (r13 — the ClickHouse ``ORDER BY (key, ts)``
    layout lesson as a write option): the write range-partitions on
    (p_month, *cluster_cols, ts) into ~``n_files`` files, so each file
    covers a contiguous KEY range inside its month, and the manifest
    records [min, max] footer stats FOR those key columns — including
    strings, which the stats collector otherwise skips. Key-scoped reads
    (``prune_files_by_values``, the Bloom sidecar, ``merge_into``'s key
    ranges) then prune at the FILE level instead of scanning the full
    width of a time slice. Mutually exclusive with ``zorder_cols`` (one
    physical order per rewrite)."""
    if zorder_cols is not None and cluster_cols is not None:
        raise ValueError(
            "zorder_cols and cluster_cols are mutually exclusive — a "
            "rewrite has one physical order"
        )
    # the 't' prefix is load-bearing: a RAW 12-hex id occasionally matches
    # ^\d+e\d+$ (e.g. "9536e1363716", ~1 in 250 draws), and Spark's
    # partition-value type inference parses that as scientific-notation
    # BigDecimal and calls toBigInteger — expanding 10^1363716 via
    # BigInteger.pow and pinning a core for the better part of an hour on
    # the FIRST read of the table (observed live in this repo's suite).
    # A leading letter makes every txn value unparseable as any numeric
    # type, so inference always lands on string.
    txn = "t" + uuid.uuid4().hex[:12]
    dest = _data(path) / f"{TXN_COL}={txn}"
    # INT96 (Spark's legacy timestamp default) carries NO min/max footer
    # stats — write INT64 micros so every commit gets prunable ts stats
    conf = df.sparkSession.conf
    key = "spark.sql.parquet.outputTimestampType"
    saved = conf.get(key, None)
    conf.set(key, "TIMESTAMP_MICROS")
    try:
        if cluster_cols is not None:
            keyed = with_partition_col(df, ts_col)
            out = keyed.repartitionByRange(
                n_files,
                F.col(PARTITION_COL),
                *[F.col(c) for c in cluster_cols],
                F.col(ts_col),
            ).sortWithinPartitions(PARTITION_COL, *cluster_cols, ts_col)
        elif zorder_cols is None:
            out = (
                with_partition_col(df, ts_col)
                .repartition(F.col(PARTITION_COL))
                .sortWithinPartitions(ts_col)
            )
        else:
            from .zorder import Z_COL, zorder_key

            keyed = with_partition_col(zorder_key(df, zorder_cols), ts_col)
            out = (
                keyed.repartitionByRange(
                    n_files, F.col(PARTITION_COL), F.col(Z_COL)
                )
                .sortWithinPartitions(PARTITION_COL, Z_COL)
                .drop(Z_COL)
            )
        (
            out.write.mode("error")
            .partitionBy(PARTITION_COL)
            .parquet(str(dest))
        )
    finally:
        if saved is None:
            conf.unset(key)
        else:
            conf.set(key, saved)
    # footer-stat reads are independent per-file metadata IO — thread
    # them (pyarrow releases the GIL on reads); sequential reads were
    # pure added driver latency on every commit (r17, guide §7.3)
    from concurrent.futures import ThreadPoolExecutor

    files = sorted(dest.rglob("*.parquet"))
    if not files:
        return []
    with ThreadPoolExecutor(max_workers=min(8, len(files))) as pool:
        stats = list(
            pool.map(
                lambda f: _footer_stats(f, ts_col, stat_cols=cluster_cols),
                files,
            )
        )
    out = []
    for f, st in zip(files, stats):
        rel = f.relative_to(Path(path))
        month = next(
            part.split("=", 1)[1]
            for part in rel.parts
            if part.startswith(f"{PARTITION_COL}=")
        )
        out.append({"path": str(rel), "p_month": month, **st})
    return out


def _footer_stats(
    f: Path,
    ts_col: str,
    collect_cols: bool = True,
    stat_cols: Sequence[str] | None = None,
) -> dict:
    """Per-file stats from the parquet FOOTER — the Iceberg manifest-stats
    pattern: one metadata read at commit time buys metadata-level range
    pruning for every future query. Records (rows, ts_min, ts_max) for
    the layout's time column plus, under ``cols``, a {name: [min, max]}
    map for every primitive numeric/temporal column with footer stats
    (ints/floats raw, timestamps in the canonical ISO form) — the ranges
    ``merge_into`` prunes its key scan with. Strings are skipped (their
    truncated footer stats would bloat the manifest for little pruning
    power) UNLESS named in ``stat_cols`` — a clustered write declares its
    key columns there, and a string key's [min, max] is safe to prune
    with because the parquet spec only permits OUTWARD truncation
    (min_value <= every value <= max_value), so the recorded range always
    CONTAINS the true one. Missing/statless columns degrade to no stats
    (the file is then never pruned)."""
    import datetime as _dt

    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(str(f)).metadata
    except Exception:
        return {}
    declared = set(stat_cols or ())
    out: dict = {"rows": md.num_rows}
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            try:
                smin, smax = st.min, st.max
            except Exception:
                # pyarrow cannot materialize some logical types' footer
                # stats (e.g. DECIMAL raises ArrowNotImplementedError) —
                # the documented degrade: no stats, never pruned
                continue
            ok_str = (
                name in declared
                and isinstance(smin, str)
                and len(smin) <= 256
                and len(smax) <= 256
            )
            if not ok_str and (
                not isinstance(smin, (int, float, _dt.datetime, _dt.date))
                or isinstance(smin, bool)
            ):
                continue
            mins[name] = smin if name not in mins else min(mins[name], smin)
            maxs[name] = smax if name not in maxs else max(maxs[name], smax)
    if ts_col in mins:
        out["ts_min"] = _iso(mins[ts_col])
        out["ts_max"] = _iso(maxs[ts_col])
    if collect_cols and mins:

        def _enc(v):
            return _iso(v) if isinstance(v, (_dt.datetime, _dt.date)) else v

        good = {
            c: [_enc(mins[c]), _enc(maxs[c])]
            for c in mins
            if not (isinstance(mins[c], float) and mins[c] != mins[c])  # NaN
        }
        if good:
            out["cols"] = good
    return out


def _iso(b) -> str:
    """Canonical tz-naive ISO form so manifest stats and query bounds
    compare as strings: 'T' separator, no tz suffix (Spark stores UTC)."""
    if hasattr(b, "isoformat"):
        b = b.replace(tzinfo=None) if getattr(b, "tzinfo", None) else b
        return b.isoformat()
    return str(b).replace(" ", "T")


def _utc_naive(b) -> _dt.datetime:
    """A user-supplied time bound as a naive UTC datetime: naive input is
    taken AS UTC (the documented ts_range convention — the table's footer
    stats are UTC instants), aware input is converted, ISO strings are
    parsed first. One normalization feeding both manifest pruning and the
    row filter, so the two always agree."""
    if isinstance(b, str):
        b = _dt.datetime.fromisoformat(b.replace(" ", "T"))
    if isinstance(b, _dt.datetime):
        if b.tzinfo is not None:
            b = b.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return b
    if isinstance(b, _dt.date):
        return _dt.datetime(b.year, b.month, b.day)
    raise TypeError(f"ts_range bound must be datetime/date/ISO string, got {b!r}")


def _epoch_micros(b: _dt.datetime) -> int:
    """Naive-UTC datetime -> integer epoch microseconds (tz-independent,
    comparable to F.unix_micros of a timestamp column)."""
    return (b - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)


def prune_files_by_values(
    files: list[dict],
    key_col: str,
    values: Sequence,
    renames: list[dict] | None = None,
) -> list[dict]:
    """Advisory manifest-stats prune for a SET of probe values: drop the
    files whose recorded ``cols[key_col]`` [min, max] provably contains
    NONE of ``values``; files without stats for the column are kept (the
    repo-wide contract — pruning is an optimization, never a semantics
    change). Exact even for string keys: footer bounds may only be
    truncated OUTWARD per the parquet spec, so the recorded range always
    contains the true one. The caller re-applies its own exact predicate
    (IN-filter / semi-join) to the surviving rows.

    Bites only on a key-clustered layout (``cluster_cols`` writes, where
    each file covers a contiguous key range); on an unclustered table
    every file's range spans the key domain and nothing is dropped —
    harmless, O(files · log values) driver-side metadata work.

    ``renames`` (r15): a column-mapped table's per-file stats are keyed
    by the WRITTEN name — pass the manifest's era map and each file's
    stats are probed under its own era's name for ``key_col``. Safe
    because a rename never crosses lineages (rename_column refuses
    reusing a retired name outside its lineage), so the translated
    stats are always THIS column's values; without the map, pre-rename
    files just lack stats for the logical name and are kept (the
    conservative contract, correct but unpruned)."""
    import bisect

    vals = sorted(set(values))
    if not vals:
        return files
    out = []
    for f in files:
        written = key_col
        if renames:
            written = rename_map_for_file(
                renames, [key_col], f["added_v"]
            ).get(key_col, key_col)
        rng = f.get("cols", {}).get(written)
        if rng is None:
            out.append(f)
            continue
        mn, mx = rng
        try:
            i = bisect.bisect_left(vals, mn)
            hit = i < len(vals) and vals[i] <= mx
        except TypeError:
            hit = True  # incomparable types (schema drift) — never prune
        if hit:
            out.append(f)
    return out


def last_txn(path: str, app: str) -> int | None:
    """The idempotent-writer watermark for ``app`` — highest batch id ever
    committed under it. Raw head body only: ``txns`` is always inline, so
    an MV's steady-state poll costs zero shard splices (the r9 verdict's
    per-MV-per-tick note)."""
    head = latest_version(path)
    if head is None:
        return None
    return _version_body(path, head).get("txns", {}).get(app)


def append(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    txn_app: str | None = None,
    txn_id: int | None = None,
    txn_expect: int | None | str = "monotone",
    cluster_cols: Sequence[str] | None = None,
    n_files: int = 8,
) -> int:
    """Commit an append: parent's files + the new txn dir's files.

    With ``txn_app``/``txn_id`` set (a streaming sink's (appId, batchId)),
    the append is IDEMPOTENT: a batch id at or below the app's committed
    watermark is a detected replay and is skipped without writing — this is
    what turns foreachBatch's at-least-once batch delivery into an
    exactly-once table. Batches of one app are serialized for a
    Structured Streaming query by construction; if two writers of one app
    DO race (e.g. two logmv refreshers folding the same delta), the
    commit re-validates the watermark against the winning head and the
    loser gets :class:`CommitConflict` instead of double-committing.
    Writers whose batch RANGES depend on the watermark they read (an
    incremental refresher consuming (watermark, head]) must pass
    ``txn_expect=<the watermark they read>`` — the exact compare-and-set
    closes the interleaving where two refreshers observed different
    heads and both ids clear the monotone check while their deltas
    overlap. Different apps commit concurrently through the
    optimistic-link protocol — a lost race re-composes this append onto
    the winner's file list, so concurrent appends merge instead of
    clobbering.

    ``cluster_cols`` opts this commit's files into the key-clustered
    layout (see :func:`_write_txn`): each file covers a contiguous key
    range within its month and the manifest records the key's [min, max]
    — key-scoped readers (:func:`prune_files_by_values`, the Bloom
    sidecar) then prune at the FILE level. Per-commit, so an ingest path
    can cluster while ad-hoc appends stay cheap."""
    if (txn_app is None) != (txn_id is None):
        raise ValueError("txn_app and txn_id must be provided together")
    _wb = _head_body(path)
    df = _apply_defaults(df, path, _wb)
    df = _apply_generated(df, path, _wb)
    _enforce_constraints(df, path, _wb)
    if txn_app is not None:
        seen = last_txn(path, txn_app)
        if seen is not None and txn_id <= seen:
            return latest_version(path)  # replayed micro-batch — no-op
    new = _write_txn(df, path, ts_col, cluster_cols=cluster_cols, n_files=n_files)
    txn = (txn_app, int(txn_id)) if txn_app is not None else None
    return _commit(
        path,
        lambda head_files: head_files + new,
        "append",
        txn=txn,
        txn_expect=txn_expect,
        write_schema=_frame_schema(df),
        schema_mode="merge",
    )


def read_changes(
    spark: SparkSession,
    path: str,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental consumption (change-data-feed for an append-only range):
    the rows of files ADDED after ``since_version`` up to ``to_version``
    (default head). Downstream jobs checkpoint the version they've consumed
    and each run processes only the delta — O(new data), never a rescan.

    Every op in the range must be an append: compaction/retention/rollback
    rewrite VISIBILITY rather than add rows, so "files added" stops meaning
    "rows added" — the reader raises and the consumer falls back to a full
    re-read (the same contract Delta CDF has for non-CDC rewrites)."""
    head = latest_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    to = head if to_version is None else to_version
    # raw version bodies, not manifest(): the op scan must stay O(range),
    # not O(range × month-shards) on a sharded table
    ops = changed_ops(path, since_version, to)
    bad = [o for o in ops if o != "append"]
    if bad:
        raise ValueError(
            f"non-append ops {bad} in ({since_version}, {to}] — "
            "incremental read undefined; re-read the snapshot"
        )
    # since_version=-1 reads from the beginning (every file is "added")
    before = (
        set()
        if since_version < 0
        else {f["path"] for f in manifest(path, since_version)["files"]}
    )
    added = [f for f in manifest(path, to)["files"] if f["path"] not in before]
    if not added:
        # polling at the head with no new commits is the normal consumer
        # steady state — an empty delta, not an error
        return _empty_like(spark, path).drop(TXN_COL)
    # change feeds must survive a schema-evolution boundary: the range
    # end's LOGGED schema covers every file added in the range (schemas
    # only grow along an append range)
    body = _version_body(path, to)
    df = _read_files(
        spark, path, added, schema=body["schema"], renames=body.get("renames")
    )
    return df.drop(TXN_COL, _DV_FILE, _DV_POS)


CDC_TYPE = "_change_type"
CDC_VERSION = "_commit_version"

# how each op surfaces in the change feed (Delta CDF's contract, re-derived
# from this log's own metadata — no per-commit change files are written):
#   append    -> inserts: rows of the files stamped added_v == v
#   delete    -> deletes: exactly the (file, row-position) rows the new
#                deletion vectors name (already net of earlier deletes —
#                delete_where evaluates through the head's DVs)
#   eq_delete -> deletes: snapshot(v-1) semi-joined to the key rows (every
#                file at v-1 has added_v < v, so the sequence rule reduces
#                to plain visibility at v-1)
#   retention -> deletes: the dropped files' rows, at v-1 visibility
#   merge     -> COARSE file-level diff: deletes = removed files' visible
#                rows, inserts = added files' rows. Unchanged rows in a
#                rewritten file appear as a paired delete+insert — exact
#                after any sum-class (invertible) aggregation, NOT a
#                row-precise audit feed (diff_versions is that).
#   upsert    -> inserts: the added files' rows (added_v == v); deletes:
#                snapshot(v-1) semi-joined to the commit's eq-delete keys
#                (the upsert_by_keys composite: its key rows sequence at
#                v, so they hit exactly the pre-upsert rows) — the Delta
#                CDF shape of a MERGE whose matches are full replacements
#   data_change=False commits (bin-packing optimize, an MV's
#                algebra-preserving partial compaction) -> nothing emitted:
#                the WRITER declared layout-only (Delta's dataChange flag).
#                NOT op-name-based: compact_snapshot also rewrites layout
#                but its dedup_view may DROP stale duplicate-key rows —
#                a raw-row change the feed cannot see from the op alone.
#   everything else (deduping compact, rollback, rebuild, unknown) ->
#                refuse: visibility rewrites the feed cannot represent
#                (Delta CDF refuses RESTORE the same way)
_CDC_DELETING = (
    "delete", "eq_delete", "retention", "merge", "upsert", "overwrite",
)
_CDC_COVERED = ("append",) + _CDC_DELETING


# cap on the key count the CDC eq leg probes the Bloom sidecars with: an
# eq-delete's keys are small by delete_by_keys's contract (O(keys) is
# the op's point); a larger key set reads the files unpruned
_CDC_BLOOM_MAX_KEYS = 4096


def _bloom_prune_files(
    spark: SparkSession, path: str, key_col: str, values: list, files: list[dict]
) -> list[dict]:
    """Prune a pre-delete scan's file list through the advisory per-file
    Bloom sidecar, when one exists for ``key_col``, by the delete's key
    ``values`` (a null key matches nothing, so it prunes nothing either).
    Deferred import: bloomidx imports this module at its top level."""
    from . import bloomidx

    return bloomidx.prune_file_list(
        spark, path, key_col, [x for x in values if x is not None], files
    )


def read_changes_cdc(
    spark: SparkSession,
    path: str,
    since_version: int,
    to_version: int | None = None,
    precise_merge: bool = False,
) -> DataFrame:
    """Change-data-feed read of ``(since_version, to_version]``: the table's
    rows tagged ``_change_type`` ('insert' | 'delete') + ``_commit_version``.

    Where :func:`read_changes` refuses any non-append range, this feed also
    represents the DELETING ops (position-DV deletes, equality deletes,
    retention, merge) as retraction rows and WRITER-FLAGGED layout-only
    commits (``data_change=False``: bin-packing optimize, MV partial
    compaction) as no-change — so an incremental consumer with an
    INVERTIBLE algebra (sum/count partials, CMS cells) survives the most
    common production event, an erasure on a base with MVs, without an
    O(base) rebuild (``plans/logmv.refresh_rollup``). Genuine visibility
    rewrites — the DEDUPING ``compact_snapshot`` (its dedup_view may drop
    stale duplicate-key rows from the raw row set), rollback, rebuild —
    still raise ``ValueError``.

    Costs, per covered commit — never O(table) except the documented one:
    appends read only the added files; position deletes read only the
    files the new DVs name; retention/merge read only the removed/added
    files (a range reaching behind the vacuum retention window may
    reference swept files and fails loudly — the same contract time
    travel has); eq_delete is the exception — emitting the deleted ROWS needs a
    key semi-join against snapshot(v-1), one broadcast-key scan of the
    pre-delete snapshot (the keys alone don't carry the group columns a
    consumer folds by). When a per-file Bloom sidecar exists on a
    delete key column (plans/bloomidx), that scan is PRUNED to the
    files that may contain a key — for a COMPOSITE key every indexed
    component column prunes in turn (intersecting per-column maybe-sets
    is sound: both are false-positive-only, r11) — so the
    erasure-on-an-indexed-key case drops from O(base) to O(files
    holding victims). Metadata cost per covered commit is O(changed
    month shards) via :func:`manifest_delta`, never a full per-commit
    manifest splice (r10 ADVICE). Consumers that only ever see appends
    should stay on :func:`read_changes` (zero manifest loads beyond the
    two ends).

    ``precise_merge=True`` (r11) upgrades the MERGE leg from the coarse
    file-level diff to a ROW-PRECISE multiset diff: the removed files'
    visible rows and the added files' rows are counted per full-row
    value (txn lineage excluded) and only the NET difference is emitted
    — an unchanged row carried through a rewrite emits nothing, so a
    non-invertible consumer sees exactly the rows a ``merge_into``
    logically changed. Costs one extra shuffle over the rewritten
    files' rows (O(files the merge touched), never O(table)); the
    coarse diff stays the default because an invertible consumer nets
    the paired delete+insert to zero anyway."""
    head = latest_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    to = head if to_version is None else to_version
    meta = changed_meta(path, since_version, to)
    bad = sorted(
        {op for op, dc in meta if dc and op not in _CDC_COVERED}
    )
    if bad:
        raise ValueError(
            f"ops {bad} in ({since_version}, {to}] rewrite visibility — "
            "CDC undefined; re-read the snapshot"
        )
    pieces: list[DataFrame] = []

    def _tag(df: DataFrame, kind: str, v: int) -> None:
        pieces.append(
            df.drop(TXN_COL, _DV_FILE, _DV_POS)
            .withColumn(CDC_TYPE, F.lit(kind))
            .withColumn(CDC_VERSION, F.lit(v))
        )

    def _prev_like(v: int, frame_files: list[dict]) -> dict:
        """A manifest-shaped dict for ``_apply_dvs`` over a frame that
        contains ONLY ``frame_files``'s rows: the dvs/eq_dvs lists are
        inline in the raw v-1 body (zero shard splices), and the eq
        sequencing map only needs entries for files actually in the
        frame — handing it the spliced full manifest would cost
        O(month-shards) per commit for nothing (r10 ADVICE)."""
        pb = {} if v == 0 else _version_body(path, v - 1)
        return {
            "dvs": pb.get("dvs", []),
            "eq_dvs": pb.get("eq_dvs", []),
            "files": frame_files,
        }

    for v, (op, dc) in zip(range(since_version + 1, to + 1), meta):
        if not dc:
            continue  # writer-declared layout-only commit
        added: list[dict] = []
        removed: list[dict] = []
        # the commit's LOGGED schema reads every file a leg scans exactly
        # (files that predate v null-fill the columns added since, and
        # renamed/dropped columns follow v's column mapping)
        vbody = _version_body(path, v)
        vsch, vren = vbody.get("schema"), vbody.get("renames")
        if op in ("append", "merge", "retention", "upsert", "overwrite"):
            # O(changed month shards), never a per-commit full splice;
            # v0 can be a non-append (drop_months initializes a path):
            # nothing exists before it, so nothing was removed by it
            added, removed = manifest_delta(path, v)
        if op in ("merge", "overwrite") and precise_merge and (added or removed):
            # row-precise multiset diff: count each full-row value on
            # both sides (txn lineage excluded — a rewrite moves rows to
            # a new txn dir without changing them) and emit only the net
            new_rows = (
                _read_files(spark, path, added, schema=vsch, renames=vren)
                if added
                else None
            )
            old_rows = (
                _apply_dvs(
                    spark,
                    _read_files(
                        spark, path, removed, schema=vsch, renames=vren
                    ),
                    _prev_like(v, removed),
                    path,
                )
                if removed
                else None
            )
            sides = []
            if new_rows is not None:
                sides.append(new_rows.drop(TXN_COL).withColumn("_n", F.lit(1)))
            if old_rows is not None:
                sides.append(old_rows.drop(TXN_COL).withColumn("_n", F.lit(-1)))
            both = sides[0]
            for s in sides[1:]:
                # schema evolution at the merge boundary: pre-evolution
                # removed files surface the new columns as NULL, which
                # correctly reads as "changed" against the rewrite
                both = both.unionByName(s, allowMissingColumns=True)
            cols = [c for c in both.columns if c != "_n"]
            net = both.groupBy(*cols).agg(F.sum("_n").alias("_net"))
            reps = F.explode(
                F.sequence(F.lit(1).cast("long"), F.abs(F.col("_net")).cast("long"))
            ).alias("_rep")
            dels = net.where(F.col("_net") < 0).select(*cols, reps).drop("_rep")
            ins = net.where(F.col("_net") > 0).select(*cols, reps).drop("_rep")
            _tag(dels, "delete", v)
            _tag(ins, "insert", v)
        else:
            if op in ("append", "merge", "upsert", "overwrite") and added:
                _tag(
                    _read_files(
                        spark, path, added, schema=vsch, renames=vren
                    ),
                    "insert",
                    v,
                )
            if op in ("merge", "retention", "overwrite") and removed:
                # visible-at-(v-1) rows of the dropped/rewritten files:
                # _apply_dvs touches only rows present in the frame
                gone = _apply_dvs(
                    spark,
                    _read_files(
                        spark, path, removed, schema=vsch, renames=vren
                    ),
                    _prev_like(v, removed),
                    path,
                )
                _tag(gone, "delete", v)
        if op == "delete":
            pb = {} if v == 0 else _version_body(path, v - 1)
            prev = {e["path"] for e in pb.get("dvs", [])}
            new_dvs = [
                e for e in _version_body(path, v)["dvs"] if e["path"] not in prev
            ]
            if new_dvs:
                dv = _read_dvs(spark, path, new_dvs)
                # the files the vectors name: one shuffle-free job (under
                # AQE a distinct's exchange is a job of its own) moving
                # the column as Arrow — O(deleted rows), the size the
                # broadcast below gives the driver anyway
                targets = set(
                    dv.select(_DV_FILE).toArrow().column(0).unique().to_pylist()
                )
                # their v-1 entries, splicing only the targets' month
                # shards (the `p_month=` directory each path names)
                months = sorted(Path(t).parent.name.split("=", 1)[1] for t in targets)
                files = [
                    f
                    for f in _body_files(path, pb, (months[0], months[-1]))
                    if f["path"] in targets
                ]
                scan = _read_files(spark, path, files, schema=vsch, renames=vren)
                scan = scan.withColumn(_DV_FILE, _file_expr_for(scan)).withColumn(
                    _DV_POS, _pos_expr_for(scan)
                )
                hit = scan.join(
                    F.broadcast(dv), [_DV_FILE, _DV_POS], "left_semi"
                ).drop(_DV_FILE, _DV_POS)
                _tag(hit, "delete", v)
        elif op in ("eq_delete", "upsert"):
            prev = (
                set()
                if v == 0
                else {e["path"] for e in _version_body(path, v - 1).get("eq_dvs", [])}
            )
            new_eq = [
                e
                for e in _version_body(path, v)["eq_dvs"]
                if e["path"] not in prev
            ]
            if new_eq and v > 0:  # nothing is visible before v0
                m_prev = manifest(path, v - 1)
                vst = StructType.fromJson(vsch)
                # one semi-join per key-column set; a commit's entries share
                # cols (one delete_by_keys call), so this is one join in
                # practice
                by_cols: dict[tuple, list] = {}
                for e in new_eq:
                    by_cols.setdefault(tuple(e["cols"]), []).append(e)
                for cols, entries in by_cols.items():
                    # keys typed by the frame they filter: v's schema
                    kst = StructType([vst[c] for c in cols])
                    # the pre-delete scan is this feed's one documented
                    # O(base) leg; a per-file Bloom sidecar on any key
                    # column (plans/bloomidx) prunes it to the files
                    # that MAY contain a key — advisory, never changes
                    # the result (false positives read a useless file,
                    # false negatives are impossible by construction).
                    # A COMPOSITE key chains every indexed column's
                    # prune: a file provably lacking ANY component value
                    # provably lacks the composite row, so intersecting
                    # the per-column maybe-sets is sound (r11)
                    # the key table is read once, for the prune and the
                    # filter; past LOCAL_MAX the keys stay in their files
                    files = m_prev["files"]
                    n_keys = sum(e["rows"] for e in entries)
                    keys = (
                        _eq_keys_table(path, entries, kst).drop_columns("_eq_v")
                        if n_keys <= localframe.LOCAL_MAX
                        else None
                    )
                    if keys is not None and n_keys <= _CDC_BLOOM_MAX_KEYS:
                        for c in cols:
                            if not files:
                                break
                            files = _bloom_prune_files(
                                spark, path, c, keys.column(c).to_pylist(), files
                            )
                    if not files:
                        continue  # every file provably lacks every key
                    base = _apply_dvs(
                        spark,
                        _read_files(spark, path, files, schema=vsch, renames=vren),
                        m_prev,
                        path,
                    ).drop(TXN_COL)
                    if keys is not None:
                        hit = localframe.in_keys(spark, base, keys)
                    else:
                        kdf = _eq_keys_frame(spark, path, entries, kst)
                        hit = base.join(
                            F.broadcast(kdf.drop("_eq_v")), list(cols), "left_semi"
                        )
                    _tag(hit, "delete", v)
    if not pieces:
        return (
            _empty_like(spark, path)
            .drop(TXN_COL)
            .withColumn(CDC_TYPE, F.lit("insert"))
            .withColumn(CDC_VERSION, F.lit(0))
            .limit(0)
        )
    out = pieces[0]
    for p in pieces[1:]:
        # schema evolution inside the range: later files may carry more
        # columns — earlier pieces surface them as NULL
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def head_schema(path: str) -> dict:
    """The head version's logged table schema (``StructType.jsonValue()``
    form). Raises on a path with no log or a table never written."""
    head = latest_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    sch = _version_body(path, head).get("schema")
    if sch is None:
        raise ValueError(f"{path} has never been written — schema unknown")
    return sch


def _table_columns(path: str) -> set[str]:
    """The table's read column names — the head's logged schema plus the
    txn and partition columns, as in :func:`_empty_like` — without
    building a frame. Raises ValueError for a table never written."""
    return {f["name"] for f in head_schema(path)["fields"]} | {
        TXN_COL,
        PARTITION_COL,
    }


def _empty_like(spark: SparkSession, path: str) -> DataFrame:
    """A zero-row frame with the table's exact read schema (incl. the txn
    and partition columns), built from the head's LOGGED schema as a pure
    local frame — zero file reads, zero jobs (the steady-state empty
    read_changes poll costs one JSON stat); the partition columns are
    appended with the types path inference gives a real read (txn
    string, p_month int). A table that has never been written has no
    schema and raises."""
    from pyspark.sql.types import IntegerType, StringType

    st = (
        StructType.fromJson(head_schema(path))
        .add(TXN_COL, StringType())
        .add(PARTITION_COL, IntegerType())
    )
    return local_frame(spark, [], st)


DV_DIR = "_dv"
_DV_FILE = "_dv_target_file"
_DV_POS = "_dv_target_pos"


def _dv_file_expr():
    """The table-relative path of each row's source file, derived from
    ``_metadata.file_path`` scheme-independently: everything after the
    LAST ``/data/`` boundary (txn/partition dir names are ``txn=<hex>`` /
    ``p_month=<digits>`` / ``part-*.parquet``, so the boundary is
    unambiguous even if the table's own path contains ``/data/``)."""
    return F.concat(
        F.lit(f"{DATA_DIR}/"),
        F.substring_index(F.col("_metadata.file_path"), f"/{DATA_DIR}/", -1),
    )


def _file_expr_for(df: DataFrame):
    """Each row's table-relative source-file path: the column the era
    read materialized (a union of scans cannot resolve the `_metadata`
    pseudo-column through Project/Union — found by the r14 model check),
    else the pseudo-column expression directly over the scan."""
    return df[_DV_FILE] if _DV_FILE in df.columns else _dv_file_expr()


def _pos_expr_for(df: DataFrame):
    """Each row's in-file position — same materialized-or-pseudo rule."""
    return (
        df[_DV_POS]
        if _DV_POS in df.columns
        else F.col("_metadata.row_index")
    )


def _apply_dvs(spark: SparkSession, df: DataFrame, m: dict, path: str) -> DataFrame:
    """Merge-on-read: anti-join the scan against the snapshot's deletion
    vectors. Two kinds, same seam:

    - POSITION deletes (``dvs``, Delta DV / Iceberg position-delete):
      the vector holds the (source file, row position) of deleted rows,
      so its size is O(deleted rows), not O(table).
    - EQUALITY deletes (``eq_dvs``, Iceberg equality-delete, r9): the
      vector holds KEY VALUES; a row is dropped when its keys match any
      delete row AND its file was added BEFORE the delete committed
      (``added_v < entry.v`` — the sequence rule that lets the same key
      be re-inserted after the delete). Small key sets of any width are
      one row filter (a literal ``IN`` per entry, rendered by
      :func:`localframe.in_sql`); past ``localframe.LITERAL_MAX`` keys it
      is one broadcast anti-join per key-column set, over a local key
      relation up to ``localframe.LOCAL_MAX`` recorded keys and over the
      scanned key files past that. Compaction materializes and clears
      both kinds.

    Both sides are broadcast; rows from files no vector mentions pass
    through the hash lookups untouched; no data file is ever rewritten
    by a delete, and no delete file is opened for schema inference."""
    dvs, eq = m.get("dvs", []), m.get("eq_dvs", [])
    if not dvs and not eq:
        # drop is a no-op unless the era read materialized them
        return df.drop(_DV_FILE, _DV_POS)
    tagged = df.withColumn(_DV_FILE, _file_expr_for(df))
    if dvs:
        dv = _read_dvs(spark, path, dvs)
        tagged = tagged.withColumn(_DV_POS, _pos_expr_for(tagged))
        cond = (tagged[_DV_FILE] == dv[_DV_FILE]) & (tagged[_DV_POS] == dv[_DV_POS])
        tagged = tagged.join(F.broadcast(dv), cond, "left_anti").drop(_DV_POS)
    if eq:
        inline = _inline_eq_filter(tagged, m, path, eq)
        if inline is not None:
            tagged = inline
        else:
            tagged = _join_eq_filter(spark, tagged, m, path, eq)
    return tagged.drop(_DV_FILE, _DV_POS)


def _read_dvs(spark: SparkSession, path: str, dvs: list[dict]) -> DataFrame:
    """The position-delete vectors ``dvs`` (manifest entries) as one scan
    with their fixed schema — the one reader of DV files."""
    return spark.read.schema(f"{_DV_FILE} string, {_DV_POS} long").parquet(
        *[str(Path(path) / e["path"]) for e in dvs]
    )


def _exact_cast(col: pa.ChunkedArray, typ: pa.DataType) -> pa.ChunkedArray:
    """``col`` cast to ``typ``; a value ``typ`` cannot hold exactly (a long
    past the int range, a sub-microsecond instant) becomes null — it
    equals no value of the column the key filters, and a null key
    matches nothing. A naive timestamp is read as a UTC instant: every
    writer of key files stores UTC epoch values."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if col.type == typ:
        return col
    out = pc.cast(col, typ, safe=False)
    same = pc.equal(pc.cast(out, col.type, safe=False), col)
    return pc.if_else(same, out, pa.scalar(None, typ))


def _eq_keys(path: str, e: dict, types: pa.Schema) -> pa.Table:
    """One equality-delete entry's key rows — the one reader of key
    files: its ``fcols`` (the names the file was written with, r14
    column mapping) read driver-side with pyarrow, O(keys), named by the
    entry's logical ``cols`` and typed by ``types``, the Arrow types of
    those columns in the frame the keys filter (:func:`_exact_cast`). A
    key file written before a type widening thus reads like one written
    after it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fcols = e.get("fcols", e["cols"])
    t = pq.read_table(str(Path(path) / e["path"]), columns=list(fcols))
    return pa.Table.from_arrays(
        [_exact_cast(t.column(fc), f.type) for fc, f in zip(fcols, types)],
        names=types.names,
    )


def _eq_keys_table(path: str, entries: list[dict], key_schema: StructType) -> pa.Table:
    """The keys of same-``cols`` ``entries`` as one Arrow table typed by
    ``key_schema`` (the filtered frame's key columns; ``to_arrow_schema``
    makes a TimestampType ``timestamp[us, UTC]``, an exact instant with
    no session-timezone re-entry — the r8 seam), each row carrying its
    entry's commit version as ``_eq_v``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    types = to_arrow_schema(key_schema)
    parts = []
    for e in entries:
        t = _eq_keys(path, e, types)
        parts.append(
            t.append_column("_eq_v", pa.array([int(e["v"])] * t.num_rows, pa.int64()))
        )
    return pa.concat_tables(parts)


def _eq_keys_frame(
    spark: SparkSession, path: str, entries: list[dict], key_schema: StructType
) -> DataFrame:
    """The keys of same-``cols`` ``entries`` as one frame typed by
    ``key_schema`` and carrying ``_eq_v``. Within ``localframe.LOCAL_MAX``
    recorded keys it is a local relation over :func:`_eq_keys_table` —
    the Arrow table goes to Spark directly (SPARK-44533), never through
    pandas, whose int64-with-nulls → float64 upcast would mis-compare
    keys above 2^53 (r13 advice). Past the bound it is one
    explicit-schema scan per key file: an integral key reads as long
    (Spark's Parquet reader widens a narrower file column but refuses to
    narrow a wider one) and is try-cast to the frame's type, so a key
    the type cannot hold becomes null, as in :func:`_exact_cast`."""
    if sum(e["rows"] for e in entries) <= localframe.LOCAL_MAX:
        return local_frame(spark, _eq_keys_table(path, entries, key_schema))
    frames = []
    for e in entries:
        fcols = e.get("fcols", e["cols"])
        read = StructType(
            [
                StructField(
                    fc,
                    LongType() if isinstance(f.dataType, IntegralType) else f.dataType,
                )
                for fc, f in zip(fcols, key_schema)
            ]
        )
        kf = spark.read.schema(read).parquet(str(Path(path) / e["path"]))
        frames.append(
            kf.select(
                *[
                    kf[fc].try_cast(f.dataType).alias(f.name)
                    for fc, f in zip(fcols, key_schema)
                ],
                F.lit(int(e["v"])).cast("long").alias("_eq_v"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def _added_v_sql(files: list[dict]) -> str:
    """Each row's source-file ``added_v`` (0 for a file not listed) as ONE
    SQL expression over ``_dv_target_file``: the manifest's file→added_v
    lookup as a parsed literal ``map(...)``. The
    ``F.create_map(*[F.lit(..), F.lit(..)])`` build it replaces costs 2
    py4j round trips per manifest file (~0.5 ms each, measured r13) —
    ~0.5 s of pure driver time per read of a 500-file eq-carrying table;
    one parse is ~1 ms regardless of file count (the same one-parse rule
    as ``functions/vectors.py``)."""
    entries = ",".join(
        f"{sql_str(f['path'])},{int(f['added_v'])}L" for f in files
    )
    return f"coalesce(element_at(map({entries}), `{_DV_FILE}`), 0L)"


def _join_eq_filter(
    spark: SparkSession, tagged: DataFrame, m: dict, path: str, eq: list[dict]
) -> DataFrame:
    """The equality-delete merge-on-read JOIN plan, for entries the pure
    row filter (:func:`_inline_eq_filter`) declines — key sets past
    ``localframe.LITERAL_MAX``, large manifests, binary/decimal keys.

    ONE broadcast anti-join per key-column set (usually one) over
    :func:`_eq_keys_frame`, whose rows carry their entry version as
    ``_eq_v``: the ``added_v < entry.v`` sequencing rides the join
    condition row-wise, so merging entries of the same col-set is
    exactly the OR of their per-entry conditions. ``added_v`` comes from
    the literal file→version map when the manifest is small (zero extra
    joins), else from one broadcast files-frame join."""
    files_small = len(m["files"]) <= _EQ_INLINE_MAX_FILES
    if files_small:
        added_v = F.expr(_added_v_sql(m["files"]))
    else:
        added = local_frame(
            spark,
            [(f["path"], f["added_v"]) for f in m["files"]],
            f"{_DV_FILE} string, _added_v long",
        )
        tagged = tagged.join(F.broadcast(added), _DV_FILE, "left")
        added_v = F.coalesce(tagged["_added_v"], F.lit(0))
    by_cols: dict[tuple, list] = {}
    for e in eq:
        by_cols.setdefault(tuple(e["cols"]), []).append(e)
    schema = tagged.schema
    for cols, entries in by_cols.items():
        kdf = _eq_keys_frame(
            spark, path, entries, StructType([schema[c] for c in cols])
        )
        cond = added_v < kdf["_eq_v"]
        for c in cols:
            cond = cond & (tagged[c] == kdf[c])
        tagged = tagged.join(F.broadcast(kdf), cond, "left_anti")
    return tagged if files_small else tagged.drop("_added_v")


# past this many manifest files the literal file→added_v map stops
# beating one broadcast files-frame join
_EQ_INLINE_MAX_FILES = 512


def _inline_eq_filter(tagged: DataFrame, m: dict, path: str, eq: list[dict]):
    """The SMALL-case equality-delete plan (r13): the whole merge as ONE
    row filter, zero joins and zero extra jobs. Each entry's keys are
    read driver-side (:func:`_eq_keys`, typed by ``tagged``'s columns)
    and rendered as one literal ``IN`` over any number of key columns
    (:func:`localframe.in_sql`: temporal keys as epoch integers), then
    sequenced by the file→added_v literal map (:func:`_added_v_sql`).
    Same semantics as the join path: null keys never match, and
    ``added_v < entry.v``. Returns None when the manifest or an entry
    is past the literal bounds, or a key type has no literal form
    (binary/decimal keys: the join path compares stored values)."""
    if len(m["files"]) > _EQ_INLINE_MAX_FILES:
        return None
    if any(e["rows"] > localframe.LITERAL_MAX for e in eq):
        return None  # decided before any key file is read
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = tagged.schema
    added_sql = _added_v_sql(m["files"])
    drops = []
    for e in eq:
        types = to_arrow_schema(StructType([schema[c] for c in e["cols"]]))
        key_sql = localframe.in_sql(_eq_keys(path, e, types))
        if key_sql is None:
            return None
        drops.append(f"(({key_sql}) AND ({added_sql} < {int(e['v'])}L))")
    # one parsed filter: a null key compares null, which the coalesce
    # keeps, as the anti-join keeps it
    return tagged.where(F.expr(f"NOT coalesce({' OR '.join(drops)}, false)"))


def _write_local_eq_keys(
    df: DataFrame, path: str, cols: Sequence[str], tuples: Sequence[tuple]
) -> list[dict]:
    """Driver-side equality-delete key file (r13): the scoped-refresh
    swaps COLLECT their key sets before committing, so shipping them back
    through a distributed write job is ~0.5 s of scheduling for a KB
    file. Deduped and written with pyarrow, typed by the commit frame's
    own schema (:func:`arrow_table`) so the file compares equal to the
    stored key columns: collected TimestampType values (OS-local naive,
    the PySpark collect convention) become UTC instants written
    tz-adjusted — Spark reads them back as the same TimestampType the
    distributed writer produced (the r8 timezone seam)."""
    import pyarrow.parquet as pq

    uniq = list({tuple(t) for t in tuples})
    if not uniq:
        return []
    table = arrow_table(uniq, StructType([df.schema[c] for c in cols]))
    dest = Path(path) / DV_DIR / f"eqdv-{uuid.uuid4().hex[:12]}"
    dest.mkdir(parents=True, exist_ok=True)
    f = dest / "part-00000-local.parquet"
    pq.write_table(table, str(f))
    return [
        {
            "path": str(f.relative_to(Path(path))),
            "rows": table.num_rows,
            "cols": list(cols),
        }
    ]


def _write_dv_entries(
    df: DataFrame, path: str, prefix: str, extra: dict | None = None
) -> list[dict]:
    """Write a deletion-vector frame under ``_dv/<prefix>-<id>`` and
    return its manifest entries (``{path, rows}`` + ``extra`` fields per
    file); an all-empty write is removed and returns ``[]``. ONE
    definition for the three DV writers (delete_where, delete_by_keys,
    optimize_small_files' consolidation) so footer-stat and empty-dir
    handling can never drift between them."""
    dest = Path(path) / DV_DIR / f"{prefix}-{uuid.uuid4().hex[:12]}"
    df.write.mode("error").parquet(str(dest))
    entries = []
    for f in dest.rglob("*.parquet"):
        st = _footer_stats(f, "", collect_cols=False)  # rows only
        if st.get("rows", 0):
            entries.append(
                {
                    "path": str(f.relative_to(Path(path))),
                    "rows": st["rows"],
                    **(extra or {}),
                }
            )
    if not entries:
        shutil.rmtree(dest, ignore_errors=True)
    return entries


def delete_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    months: tuple[str, str] | None = None,
    ts_range: tuple | None = None,
    ts_col: str = "ts",
    col_ranges: dict | None = None,
) -> int:
    """Merge-on-read DELETE: record the (file, row-position) of every
    matching row as a deletion vector and commit a manifest that carries
    it — ZERO data files are rewritten (deleting 3 rows from a 1 GB file
    costs a few KB of DV, not a 1 GB rewrite; the GDPR-erasure pattern).
    Readers of the new version anti-join the DV (:func:`_apply_dvs`);
    prior versions still read the rows (time travel); compaction
    materializes the deletes and clears the DV list; vacuum sweeps DV
    files once unreferenced.

    The positions come from ``_metadata.row_index`` over the snapshot
    the predicate was evaluated on, so a concurrent commit between read
    and commit raises :class:`CommitConflict` (a compact would renumber
    the rows the DV points at). The scan applies the head's EXISTING DVs
    first, so re-deleting an already-deleted row is a no-op and DV stats
    stay honest. Matching zero rows commits nothing and returns the head.

    At a 100 TB scale point: the predicate scan is one column-pruned,
    filter-pushed pass (row-group stats prune at the parquet level); the
    DV write is O(matched rows). A predicate that matches most of a file
    is better served by copy-on-write (``merge_into`` with tombstones or
    a compact) — the same trade Delta documents for its DVs.

    SCOPED deletes (r10, the Delta partition-scoped-delete pattern):
    ``months`` / ``ts_range`` / ``col_ranges`` narrow the delete to
    rows INSIDE the scope — the scope is part of the delete's MEANING
    (predicate AND scope; out-of-scope matches survive), which is what
    makes the manifest-level file pruning it buys a pure optimization:
    "erase user X's 2023 rows" scans 2023's files, not the table."""
    read_v = latest_version(path)
    if read_v is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    m = manifest(path, read_v, months=months)
    files = m["files"]
    if months is not None:
        lo, hi = months
        files = [f for f in files if lo <= f["p_month"] <= hi]
    if ts_range is not None:
        # same UTC normalization as read_snapshot: pruning and the row
        # filter below must share one pair of bounds
        b_lo, b_hi = (_utc_naive(b) for b in ts_range)
        lo, hi = _iso(b_lo), _iso(b_hi)
        files = [
            f
            for f in files
            if "ts_min" not in f or (f["ts_min"] <= hi and f["ts_max"] >= lo)
        ]
    if col_ranges:
        for c, (c_lo, c_hi) in col_ranges.items():
            files = [
                f
                for f in files
                if c not in f.get("cols", {})
                or (f["cols"][c][0] <= c_hi and f["cols"][c][1] >= c_lo)
            ]
    if not files:
        return read_v  # scope provably matches nothing — no-op
    # (file, pos) must be materialized on the RAW scan: _apply_dvs's
    # equality-delete path projects through joins, after which the
    # `_metadata` pseudo-column is no longer resolvable (latent until a
    # delete_where followed an eq_delete — found by the r10 CDC model
    # check). Private aliases so they can't collide with _apply_dvs's own
    # working columns.
    base_scan = _read_files(
        spark, path, files, schema=m["schema"], renames=m.get("renames")
    )
    scan = base_scan.withColumn(
        "_hit_file", _file_expr_for(base_scan)
    ).withColumn("_hit_pos", _pos_expr_for(base_scan))
    df = _apply_dvs(spark, scan, m, path)
    hits = df.where(predicate)
    # the scope is applied EXACTLY to the rows too — a stats-less file
    # read conservatively must not delete out-of-scope matches
    if ts_range is not None:
        if df.schema[ts_col].dataType.typeName() == "timestamp":
            hits = hits.where(
                (F.unix_micros(F.col(ts_col)) >= _epoch_micros(b_lo))
                & (F.unix_micros(F.col(ts_col)) <= _epoch_micros(b_hi))
            )
        else:
            hits = hits.where(
                (F.col(ts_col) >= F.lit(b_lo)) & (F.col(ts_col) <= F.lit(b_hi))
            )
    if col_ranges:
        for c, (c_lo, c_hi) in col_ranges.items():
            hits = hits.where(
                (F.col(c) >= F.lit(c_lo)) & (F.col(c) <= F.lit(c_hi))
            )
    if months is not None:
        hits = hits.where(F.col(PARTITION_COL).between(*months))
    hits = hits.select(
        F.col("_hit_file").alias(_DV_FILE),
        F.col("_hit_pos").alias(_DV_POS),
    )
    entries = _write_dv_entries(hits, path, "dv")
    if not entries:
        return read_v  # nothing matched — no-op
    return _commit(
        path,
        lambda hf: hf,
        "delete",
        expected_parent=read_v,
        dvs_fn=lambda head_dvs: head_dvs + entries,
        # the guarded hazard is ROW RENUMBERING (a compact would move the
        # positions the DV points at); appends add fresh files and leave
        # every existing row where it was, so they rebase. Rows an
        # interleaved append inserts that happen to match the predicate
        # survive — the delete applies to the snapshot it read, standard
        # snapshot-isolation semantics (Delta's DELETE behaves the same).
        on_conflict="rebase_appends",
    )


def delete_by_keys(
    spark: SparkSession, path: str, keys: DataFrame, cols: Sequence[str] | None = None
) -> int:
    """EQUALITY delete (the Iceberg equality-delete file, r9): delete
    every row whose ``cols`` values match a row of ``keys`` — WITHOUT
    reading the table at all. Where :func:`delete_where` scans the
    snapshot to record positions, this records the KEY VALUES and lets
    every reader anti-join them (:func:`_apply_dvs`); total cost is
    O(keys), the GDPR-erasure path when the victim rows' locations are
    unknown (late-arriving erasure requests, streaming upserts).

    Sequencing (Iceberg's sequence-number rule at file granularity): the
    delete's commit version is recorded on the entry, every data file
    records the version that added it, and the delete applies only to
    files added BEFORE it — re-inserting the same key afterwards is
    visible. Compaction materializes and clears equality deletes like
    position DVs; ``maybe_compact_snapshot`` counts their rows toward
    the merge-on-read debt threshold. No conflict window: the commit is
    a pure append to the eq-delete list, race-safe by composition."""
    head = latest_version(path)
    if head is None:
        # checked up front: writing the key parquet first would CREATE a
        # bogus v0 table at a typo'd path and report success
        raise FileNotFoundError(f"no snapshots at {path}")
    cols = list(cols or keys.columns)
    try:
        table_cols = _table_columns(path)
    except ValueError:
        return head  # no data files in any version — nothing to delete
    missing = [c for c in cols if c not in table_cols]
    if missing:
        # validated BEFORE committing: one bad entry would make every
        # subsequent read (including compact, the repair path) raise on
        # the missing column — only rollback could un-brick the table
        raise ValueError(
            f"eq-delete cols {missing} not in table schema "
            f"{sorted(table_cols)}"
        )
    # ONE part file: keys are small by contract (O(keys) is the op's
    # point), and each part file becomes an eq_dvs entry that costs
    # every future read its own anti-join — a 200-partition distinct
    # would turn one delete into 200 chained joins.
    # r17: a key set within the driver-side bound is collected and
    # written with pyarrow (_write_local_eq_keys — the scoped refreshers'
    # existing shape): one bounded collect replaces the distributed
    # distinct+coalesce(1) write job AND its footer-stat read, ~3 jobs
    # per erasure at fixture scale. Larger key sets keep the
    # distributed write. The probe reads the RAW keys (no shuffle):
    # _write_local_eq_keys dedups, so the one distinct runs only on the
    # over-bound path.
    kdf = keys.select(*cols)
    probe = kdf.limit(localframe.LOCAL_MAX + 1).collect()
    if len(probe) <= localframe.LOCAL_MAX:
        entries = _write_local_eq_keys(
            kdf, path, cols, [tuple(r) for r in probe]
        )
    else:
        entries = _write_dv_entries(
            kdf.distinct().coalesce(1), path, "eqdv", {"cols": cols}
        )
    if not entries:
        return head  # empty key set — no-op
    return _commit(
        path,
        lambda hf: hf,
        "eq_delete",
        eq_dvs_fn=lambda head_eq, version: head_eq
        + [{**e, "v": version} for e in entries],
    )


def upsert_by_keys(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    keys: DataFrame | Sequence[tuple] | None = None,
    ts_col: str = "ts",
    txn_app: str | None = None,
    txn_id: int | None = None,
    txn_expect: int | None | str = "monotone",
) -> int:
    """Atomic key-replacement commit: append ``df``'s rows AND
    equality-delete every PRIOR row whose ``cols`` match ``keys`` (default:
    ``df``'s own key values) — ONE commit, so a reader sees old-or-new
    state, never the gap between a delete and its replacement. This is
    the Delta MERGE "whenMatched replace / whenNotMatched insert" special
    case expressed as Iceberg primitives (one data append + one
    equality-delete file sequenced at the same snapshot), and the commit
    the log-driven MV maintenance uses to swap a group's stale partials
    for recomputed ones (``plans/logmv.refresh_rollup``'s scoped path).

    Sequencing makes the atomicity free: the eq-delete entry is stamped
    with THIS commit's version and applies only to files with
    ``added_v <`` it (:func:`_apply_dvs`), while the appended files are
    stamped ``added_v ==`` it — so the delete kills every prior version
    of a key and provably cannot touch its replacement.

    Pass ``keys`` explicitly when the delete set must be a SUPERSET of
    ``df``'s keys (a fully-erased MV group has no replacement row but its
    stale partials still need killing) — as a DataFrame, or as a sequence
    of KEY TUPLES in ``cols`` order (r13: callers that already collected
    the key set — the scoped refreshers — skip a distributed write job;
    the key file is written driver-side with types taken from ``df``'s
    schema). Total cost is O(df) + O(keys): the table is never read. Supports the same idempotent-writer
    watermark as :func:`append` (``txn_app``/``txn_id``/``txn_expect``).

    Downstream: :func:`read_changes` refuses ranges containing an upsert
    (it is not an append); :func:`read_changes_cdc` represents it exactly
    (inserts = the added files' rows, deletes = snapshot(v-1) semi-joined
    to the keys); the stream source refuses it under ``ignoreDeletes``
    (skipping it would drop its INSERTED rows) but CONSUMES its
    insert leg under ``ignoreChanges=true`` — Delta semantics: the
    consumer sees the commit's appended rows and may therefore observe
    duplicates for keys whose prior versions were eq-deleted
    (``sources/snapstream.py``, test-gated)."""
    head = latest_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    if (txn_app is None) != (txn_id is None):
        raise ValueError("txn_app and txn_id must be provided together")
    _wb = _head_body(path)
    df = _apply_defaults(df, path, _wb)
    df = _apply_generated(df, path, _wb)
    _enforce_constraints(df, path, _wb)
    if txn_app is not None:
        seen = last_txn(path, txn_app)
        if seen is not None and txn_id <= seen:
            return head  # replayed micro-batch — no-op
    cols = list(cols)
    try:
        table_cols = _table_columns(path)
    except ValueError:
        # no data files in any version: the append IS the first data, so
        # the key cols need only exist in what is being written
        table_cols = set(df.columns)
    missing = [c for c in cols if c not in table_cols]
    if missing:
        # validated BEFORE committing: one bad eq entry bricks every read
        raise ValueError(
            f"upsert key cols {missing} not in table schema "
            f"{sorted(table_cols)}"
        )
    if keys is not None and not isinstance(keys, DataFrame):
        # driver-collected key tuples (Rows are tuples) — the scoped
        # refreshers' shape: write the key file driver-side, no job
        entries = _write_local_eq_keys(df, path, cols, keys)
    else:
        key_rows = (keys if keys is not None else df).select(*cols)
        # r17: bounded key sets collect and write driver-side, like
        # delete_by_keys — one collect replaces the distributed
        # coalesce(1) write job + footer read; larger sets keep the
        # distributed ONE-part-file write (each entry costs every future
        # read a broadcast anti-join until compaction materializes it).
        # Raw-key probe, distinct only past the bound (as delete_by_keys)
        probe = key_rows.limit(localframe.LOCAL_MAX + 1).collect()
        if len(probe) <= localframe.LOCAL_MAX:
            entries = _write_local_eq_keys(
                df, path, cols, [tuple(r) for r in probe]
            )
        else:
            entries = _write_dv_entries(
                key_rows.distinct().coalesce(1), path, "eqdv", {"cols": cols}
            )
    new = _write_txn(df, path, ts_col=ts_col)
    txn = (txn_app, int(txn_id)) if txn_app is not None else None
    return _commit(
        path,
        lambda hf: hf + new,
        "upsert",
        txn=txn,
        txn_expect=txn_expect,
        eq_dvs_fn=lambda head_eq, version: head_eq
        + [{**e, "v": version} for e in entries],
        write_schema=_frame_schema(df),
        schema_mode="merge",
    )


def rename_map_for_file(
    renames: list[dict], logical_names: Sequence[str], added_v: int
) -> dict[str, str]:
    """{current logical name -> name as WRITTEN in a file added at
    ``added_v``} — identity entries omitted. A rename recorded at
    version R applies to files added BEFORE R; chains fold newest→
    oldest (a→b at v5, b→c at v9: a file from v3 wrote 'a')."""
    out: dict[str, str] = {}
    for logical in logical_names:
        cur = logical
        for r in reversed(renames):
            if r["v"] > added_v and r["to"] == cur:
                cur = r["from"]
        if cur != logical:
            out[logical] = cur
    return out


def _read_files(
    spark: SparkSession,
    path: str,
    files: list[dict],
    *,
    schema: dict,
    renames: list[dict] | None = None,
) -> DataFrame:
    """Scan exactly ``files`` (manifest entries) under the table's
    basePath — the one reader of data files.

    ``schema`` (r13 — the logged table schema of the version the files
    are read at): the scan is handed it EXPLICITLY and no parquet footer
    is ever read for inference — the Delta metaData contract, and the
    reason opening a 100k-file table costs one JSON read, not 100k
    footer fetches. Files that predate an added column null-fill it,
    files that predate a type widening upcast to the logged type; the
    txn/p_month partition columns keep their path-inferred types,
    matching an inference read bit-for-bit.

    ``renames`` (r14 — the manifest's column-mapping era map, Delta
    column-mapping semantics without per-column UUIDs): files written
    before a RENAME COLUMN commit carry the old name on disk. Files
    group by their written-name era (#renames+1 eras at most, one in
    steady state), each era scans with the era-translated schema, and a
    metadata-only projection renames back to the logical names — old
    files keep serving forever, no rewrite. A DROPPED column needs no
    translation at all: the explicit logical schema simply never asks
    the scan for it (projection hides the physical bytes)."""
    if renames:
        logical = [f["name"] for f in schema["fields"]]
        groups: dict[tuple, list[dict]] = {}
        for f in files:
            m = rename_map_for_file(renames, logical, f["added_v"])
            groups.setdefault(tuple(sorted(m.items())), []).append(f)
        if len(groups) > 1 or next(iter(groups), ()) != ():
            frames = []
            for key, fs in groups.items():
                mapping = dict(key)  # logical -> written
                era_schema = {
                    "type": "struct",
                    "fields": [
                        {**fld, "name": mapping.get(fld["name"], fld["name"])}
                        for fld in schema["fields"]
                    ],
                }
                df = _read_files(spark, path, fs, schema=era_schema)
                # the `_metadata` pseudo-column resolves only directly
                # over a scan — never through the Union below — so the
                # DV/merge machinery's (file, position) inputs must be
                # materialized per era HERE; _apply_dvs and the plain
                # read exits drop them from user-visible output
                df = df.withColumn(_DV_FILE, _dv_file_expr()).withColumn(
                    _DV_POS, F.col("_metadata.row_index")
                )
                if mapping:
                    df = df.withColumnsRenamed(
                        {w: l for l, w in mapping.items()}
                    )
                frames.append(df)
            out = frames[0]
            for fr in frames[1:]:
                out = out.unionByName(fr)
            return out
    return (
        spark.read.option("basePath", str(_data(path)))
        .schema(StructType.fromJson(schema))
        .parquet(*[str(Path(path) / f["path"]) for f in files])
    )


def compact_snapshot(
    spark: SparkSession,
    path: str,
    keys: Sequence[str] = ("ts", "symbol", "trade_id"),
    version_col: str = "ingested_at",
    ts_col: str = "ts",
    zorder_cols: Sequence[str] | None = None,
    n_files: int = 8,
    cluster_cols: Sequence[str] | None = None,
) -> int:
    """The background-merge analog WITHOUT layout.compact's rename window:
    rewrite the deduped survivors into a fresh txn dir and commit a
    manifest listing ONLY it. Readers of older versions keep their files;
    the swap is one atomic manifest link.

    The rewrite dedups the SPECIFIC snapshot it read, so a concurrent
    commit in between raises :class:`CommitConflict` (the rewritten files
    would silently drop the interleaver's rows otherwise) — re-run against
    the new head; the orphaned rewrite dir is swept by vacuum."""
    read_v = latest_version(path)
    # the read's logged schema carries EVERY column of the table (files
    # that predate an added column null-fill it), so the rewrite keeps
    # them all (r8 third-review finding)
    df = dedup_view(
        read_snapshot(spark, path, version=read_v),
        keys,
        version_col,
    ).drop(PARTITION_COL)
    new = _write_txn(
        df, path, ts_col, zorder_cols=zorder_cols, n_files=n_files,
        cluster_cols=cluster_cols,
    )
    # the read above applied the snapshot's deletion vectors, so the
    # rewrite MATERIALIZES the deletes — the new manifest starts DV-free
    # the read above applied position AND equality deletes, so the
    # rewrite materializes both — the new manifest starts vector-free
    return _commit(
        path, lambda _hf: new, "compact", expected_parent=read_v,
        dvs_fn=lambda _dvs: [],
        eq_dvs_fn=lambda _eq, _v: [],
        # total rewrite: the written frame (the logged schema of the
        # version read, minus nothing) IS the table schema
        write_schema=_frame_schema(df),
        schema_mode="replace",
        # an append-only interleave carries forward; its rows were not
        # part of the deduped snapshot, same as an append landing after
        on_conflict="rebase_appends",
    )


def optimize_small_files(
    spark: SparkSession,
    path: str,
    min_rows: int = 50_000,
    ts_col: str = "ts",
    zorder_cols: Sequence[str] | None = None,
    n_files: int = 1,
    cluster_cols: Sequence[str] | None = None,
) -> int:
    """Incremental bin-packing compaction (the Delta OPTIMIZE semantics):
    coalesce only the files SMALLER than ``min_rows`` into well-laid-out
    files — one per touched month (the month-partitioned layout's natural
    bin), or ~``n_files`` z-range files when ``zorder_cols`` is given
    (``n_files`` has no effect otherwise; the month IS the bin) — and
    carry every other file by reference. No dedup, no row-set change,
    pure re-layout.

    Why it exists next to :func:`compact_snapshot`: compact rewrites the
    WHOLE live set (O(table)) because its job is merging duplicate keys;
    a streaming sink's actual steady-state problem is small-file debt —
    one txn dir per micro-batch — and paying a full-table rewrite every
    maintenance tick is the wrong asymptote. This op is O(small files):
    at 100 TB a table with a thousand 5-minute micro-batch files and a
    hundred 1 GB compacted files rewrites a few hundred MB, not 100 TB.

    Deletion-vector interaction: the rewrite reads its victims through
    :func:`_apply_dvs`, so position AND equality deletes on REWRITTEN
    files are materialized; DV rows targeting untouched files are
    carried (consolidated into a fresh DV file), equality-delete entries
    stay listed (rewritten rows escape them by the ``added_v`` sequence
    rule — they were already applied; untouched files remain subject).
    Like compact, the rewrite depends on the snapshot it read:
    :class:`CommitConflict` on an interleaved commit, orphans swept by
    vacuum. Returns the new version, or the head unchanged when fewer
    than two small files exist (nothing to pack)."""
    read_v = latest_version(path)
    if read_v is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    m = manifest(path, read_v)
    # a file without recorded rows (its footer was unreadable at commit,
    # see _footer_stats) is treated as small — rewriting is always
    # semantics-preserving
    small = [f for f in m["files"] if f.get("rows", 0) < min_rows]
    untouched = [f for f in m["files"] if f.get("rows", 0) >= min_rows]
    if len(small) < 2:
        return read_v
    df = _apply_dvs(
        spark,
        _read_files(spark, path, small, schema=m["schema"], renames=m.get("renames")),
        m,
        path,
    ).drop(TXN_COL, PARTITION_COL)
    new_entries = _write_txn(
        df, path, ts_col, zorder_cols=zorder_cols, n_files=n_files,
        cluster_cols=cluster_cols,
    )
    # consolidate surviving DV rows (those targeting carried files);
    # positions inside rewritten files died with the rewrite
    new_dvs: list[dict] = []
    if m.get("dvs"):
        rewritten = {f["path"] for f in small}
        keep = _read_dvs(spark, path, m["dvs"]).where(
            ~F.col(_DV_FILE).isin(rewritten)
        )
        new_dvs = _write_dv_entries(keep, path, "dv")
    return _commit(
        path,
        lambda _hf: untouched + new_entries,
        "optimize",
        expected_parent=read_v,
        dvs_fn=lambda _d: new_dvs,
        # a streaming sink appending every few seconds must never starve
        # the maintenance tick: pure-append interleaves rebase (their
        # small files simply become the NEXT optimize's debt)
        on_conflict="rebase_appends",
        # pure re-layout: no dedup, no row-set change (DV materialization
        # re-expresses deletes ALREADY visible) — change consumers skip it
        data_change=False,
    )


def register_snapshot(
    spark: SparkSession,
    path: str,
    name: str,
    version: int | None = None,
    months: tuple[str, str] | None = None,
    ts_range: tuple | None = None,
    ts_col: str = "ts",
    col_ranges: dict | None = None,
) -> DataFrame:
    """SQL front door for a snapshot table (survey S8: the reference's
    only query interface is SQL strings): register the — optionally
    time-traveled / manifest-pruned — read as a temp view, so
    ``spark.sql("SELECT ... FROM <name>")`` serves the snapshot.
    Time travel in SQL is a named view per pinned version
    (``register_snapshot(..., "trades_v3", version=3)``); the view holds
    the manifest's file list at registration, so later commits don't
    move it (re-register to follow the head)."""
    df = read_snapshot(
        spark,
        path,
        version=version,
        months=months,
        ts_range=ts_range,
        ts_col=ts_col,
        col_ranges=col_ranges,
    )
    df.createOrReplaceTempView(name)
    return df


def drop_months(path: str, cutoff_month: str) -> int:
    """TTL as metadata: commit a manifest excluding files of months older
    than ``cutoff_month``. Zero data I/O; prior versions still serve the
    dropped months until vacuum. A pure filter of whatever head it lands
    on — race-safe by composition."""
    return _commit(
        path,
        lambda head_files: [f for f in head_files if f["p_month"] >= cutoff_month],
        "retention",
    )


def overwrite_months(
    df: DataFrame,
    path: str,
    months: tuple[str, str] | None = None,
    ts_col: str = "ts",
    n_files: int = 8,
    cluster_cols: Sequence[str] | None = None,
    txn_app: str | None = None,
    txn_id: int | None = None,
    txn_expect: int | None | str = "monotone",
) -> int:
    """Atomic partition-level BACKFILL (the Delta dynamic-partition-
    overwrite / ``replaceWhere`` pattern): replace whole months' content
    with ``df`` in ONE commit — manifest surgery, so a 100 TB table's
    other months are untouched bytes and prior versions still time-travel
    to the old data until vacuum.

    Scope: with ``months=None`` (dynamic), exactly the months PRESENT in
    the frame are replaced — the re-ingest-a-bad-day case. With an
    explicit ``months=(lo, hi)`` range, every in-range month is replaced
    whether or not the frame covers it (a frame missing a month DELETES
    that month; an empty frame empties the range) — the declared-scope
    case, and the frame is validated to stay inside it (a stray
    out-of-range row would otherwise silently APPEND to a month the
    caller never named).

    CDC-covered: consumers see the old visible rows as deletes and the
    new rows as inserts (row-precise under ``precise_merge``, so a
    backfill that truly changed k rows scopes an MV refresh to k rows'
    groups — the same diff the merge leg rides). ``read_changes``
    refuses the range; the stream source consumes it under
    ``ignoreChanges=true`` by emitting the added files (Delta's
    documented overwrite behavior) and fails the batch otherwise.

    Concurrency: an interleaved commit that added files INSIDE the scope
    raises :class:`CommitConflict` (two writers disagree about the
    month's content — last-writer-wins would silently drop rows); scope-
    disjoint appends compose and ride through. Row-level deletes (DV /
    equality) that land mid-overwrite on the replaced months are
    superseded by the new content — the overwrite IS the month's new
    truth; their entries stay harmlessly (a DV targets dropped files and
    matches nothing; an eq-delete's ``added_v < v`` rule exempts the
    overwrite's younger files), and compaction clears the debt.

    ``txn_app``/``txn_id`` ride the same idempotent-writer watermark as
    ``append`` — a replayed backfill job is a detected no-op."""
    if (txn_app is None) != (txn_id is None):
        raise ValueError("txn_app and txn_id must be provided together")
    _wb = _head_body(path)
    df = _apply_defaults(df, path, _wb)
    df = _apply_generated(df, path, _wb)
    _enforce_constraints(df, path, _wb)
    head = latest_version(path)
    if head is None:
        raise FileNotFoundError(
            f"no snapshots at {path} — overwrite replaces existing months; "
            "use append to initialize a table"
        )
    if txn_app is not None and txn_id is not None:
        seen = last_txn(path, txn_app)
        if seen is not None and txn_id <= seen:
            return head  # replayed backfill — no-op
    new = _write_txn(df, path, ts_col, cluster_cols=cluster_cols, n_files=n_files)
    new_months = {e["p_month"] for e in new}
    if months is None:
        if not new_months:
            return head  # empty dynamic overwrite replaces nothing
        in_scope = lambda m: m in new_months  # noqa: E731
    else:
        lo, hi = months
        stray = sorted(m for m in new_months if not (lo <= m <= hi))
        if stray:
            raise ValueError(
                f"overwrite frame contains months {stray} outside the "
                f"declared scope [{lo}, {hi}] — widen the scope or filter "
                "the frame (out-of-scope rows would silently append)"
            )
        in_scope = lambda m: lo <= m <= hi  # noqa: E731

    def files_fn(head_files: list[dict]) -> list[dict]:
        clash = [
            f["path"]
            for f in head_files
            if in_scope(f["p_month"]) and f["added_v"] > head
        ]
        if clash:
            raise CommitConflict(
                f"overwrite read version {head} but a concurrent commit "
                f"added files inside its scope ({clash[:3]}…) — re-run "
                "against the new head"
            )
        return [f for f in head_files if not in_scope(f["p_month"])] + new

    txn = (txn_app, int(txn_id)) if txn_app is not None else None
    return _commit(
        path,
        files_fn,
        "overwrite",
        txn=txn,
        txn_expect=txn_expect,
        write_schema=_frame_schema(df),
        schema_mode="merge",
    )


def table_history(path: str, limit: int | None = None) -> list[dict]:
    """``DESCRIBE HISTORY``: newest-first commit summaries — version,
    op, wall-clock ``committed_at``, ``data_change``, parent, live file
    count, deletion-vector / equality-delete entry counts, and the
    idempotent-writer watermarks.
    Raw version bodies + ``_n_files`` only — O(limit) tiny JSON reads,
    never a shard splice, so inspecting a million-commit table's recent
    history costs the same as a ten-commit one's."""
    head = latest_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    lo = 0 if limit is None else max(0, head - limit + 1)
    out = []
    for v in range(head, lo - 1, -1):
        b = _version_body(path, v)
        out.append(
            {
                "version": v,
                "op": b["op"],
                "committed_at": b["committed_at"],
                "data_change": b["data_change"],
                "parent": b.get("parent"),
                "n_files": _n_files(path, v),
                "n_dvs": len(b.get("dvs", [])),
                "n_eq_dvs": len(b.get("eq_dvs", [])),
                "txns": b.get("txns", {}),
            }
        )
    return out


def _last_version_at(path: str, head: int, when: float, strict: bool) -> int:
    """The LARGEST version in [0, head] whose ``committed_at`` is below
    (``strict``) or at-or-below the cutoff, or -1 when none is. Binary
    search — O(log history) version-body reads, never O(history) (r16:
    the linear newest→oldest walk read the whole log for a cutoff near
    its origin; at a 5 s commit cadence that is ~17k bodies/day of
    driver-side JSON at every stream start). Sound because the
    predicate is monotone over versions: stamps are non-decreasing by
    the commit-time clamp (Delta's in-commit-timestamp rule)."""
    lo, hi, ans = 0, head, -1
    while lo <= hi:
        mid = (lo + hi) // 2
        at = _version_body(path, mid)["committed_at"]
        if at < when if strict else at <= when:
            ans = mid
            lo = mid + 1
        else:
            hi = mid - 1
    return ans


def version_as_of(path: str, when) -> int:
    """Timestamp time travel (Delta ``timestampAsOf``): the newest
    version whose ``committed_at`` is at or before ``when`` (float epoch
    seconds, or a datetime — naive means UTC, the repo-wide convention).
    Raises when even version 0 postdates the cutoff.
    O(log history) body reads via :func:`_last_version_at`."""
    if isinstance(when, _dt.datetime):
        if when.tzinfo is None:
            when = when.replace(tzinfo=_dt.timezone.utc)
        when = when.timestamp()
    head = latest_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    v = _last_version_at(path, head, when, strict=False)
    if v < 0:
        raise ValueError(
            f"no version of {path} existed at {when} (version 0 was "
            "committed later)"
        )
    return v


def rollback(path: str, to_version: int) -> int:
    """Commit a new head whose file list (and deletion-vector list) is
    ``to_version``'s (append-only history — the bad versions stay
    inspectable). Deliberately overwrites whatever head it lands on:
    restore-to-a-point IS the semantics."""
    return _commit(
        path,
        lambda _hf: manifest(path, to_version)["files"],
        "rollback",
        dvs_fn=lambda _dvs: manifest(path, to_version).get("dvs", []),
        eq_dvs_fn=lambda _eq, _v: manifest(path, to_version).get("eq_dvs", []),
        # restore-to-a-point includes the SCHEMA as of that point: a
        # rollback across an evolving append must not keep advertising
        # columns whose files it just un-published (a target with no
        # schema was never written, so it has no files to read either)
        write_schema=_version_body(path, to_version).get("schema"),
        schema_mode="replace",
        # ... and the column-mapping metadata as of that point: the
        # restored files may predate renames the target version knew
        # about ("replace" clears both lists; the target's own are the
        # truth for its files)
        meta_edit=lambda _hm, _v: {
            "renames": _version_body(path, to_version).get("renames") or None,
            "retired": _version_body(path, to_version).get("retired") or None,
            "constraints": _version_body(path, to_version).get("constraints")
            or None,
            "defaults": _version_body(path, to_version).get("defaults")
            or None,
            "properties": _version_body(path, to_version).get("properties")
            or None,
            "generated": _version_body(path, to_version).get("generated")
            or None,
        },
    )


def set_table_properties(path: str, props: dict) -> int:
    """ALTER TABLE SET TBLPROPERTIES (r15): one metadata commit merging
    string key/value pairs into the table's ``properties`` map — a
    generic durable contract surface (carried across every op incl.
    total rewrites, restored by rollback, listed by
    :func:`table_details`). The engine's own seats use it to make
    tables SELF-DESCRIBING (e.g. the cdfsink rollup records its
    group/measure split so maintenance needs no out-of-band config);
    user keys ride along untouched."""
    if not props:
        raise ValueError("no properties to set")

    def edit(head_m: dict, version: int) -> dict:
        cur = dict(head_m.get("properties", {}))
        cur.update({str(k): str(v) for k, v in props.items()})
        return {"properties": cur}

    return _commit(
        path, lambda hf: hf, "set_properties", data_change=False,
        meta_edit=edit,
    )


def unset_table_properties(path: str, keys: Sequence[str]) -> int:
    """ALTER TABLE UNSET TBLPROPERTIES: missing keys are an error (the
    Delta IF EXISTS form is just a pre-filter away)."""

    def edit(head_m: dict, version: int) -> dict:
        cur = dict(head_m.get("properties", {}))
        missing = [k for k in keys if k not in cur]
        if missing:
            raise ValueError(f"no such properties: {missing}")
        for k in keys:
            del cur[k]
        return {"properties": cur or None}

    return _commit(
        path, lambda hf: hf, "unset_properties", data_change=False,
        meta_edit=edit,
    )


def table_properties(path: str, version: int | None = None) -> dict:
    """The ``properties`` map as of ``version`` (default: head) — one
    O(1) body read, never a shard splice."""
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    return dict(_version_body(path, v).get("properties", {}))


def table_details(path: str, version: int | None = None) -> dict:
    """DESCRIBE DETAIL parity (r14): one metadata-read summary of a
    table version — the head by default — unifying everything the
    manifest knows: schema, CHECK constraints, column defaults, the
    column-mapping era map and tombstones, merge-on-read debt, writer
    watermarks and file/row totals. Pure driver-side JSON (O(month
    shards), zero Spark jobs), so a catalog/UI can poll it per table
    per tick at any table count."""
    head = latest_version(path) if version is None else version
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    m = manifest(path, head)
    files = m["files"]
    months = sorted({f.get("p_month") for f in files if f.get("p_month")})
    return {
        "version": m["version"],
        "op": m["op"],
        "committed_at": m["committed_at"],
        "data_change": m["data_change"],
        "num_files": len(files),
        # raw per-file row counts: an UPPER bound under merge-on-read
        # (position/equality deletes subtract at read; compaction
        # re-trues it) — the same caveat Delta's numRecords has
        "num_rows_upper": sum(f.get("rows", 0) for f in files),
        "months": months,
        "num_dvs": len(m.get("dvs", [])),
        "num_eq_dvs": len(m.get("eq_dvs", [])),
        "schema": m.get("schema"),
        "constraints": m.get("constraints", {}),
        "defaults": m.get("defaults", {}),
        "properties": m.get("properties", {}),
        "generated": m.get("generated", {}),
        "renames": m.get("renames", []),
        "retired": m.get("retired", []),
        "txns": m.get("txns", {}),
    }


def rename_column(path: str, old: str, new: str) -> int:
    """METADATA-ONLY column rename (Delta column-mapping semantics, r14
    — VERDICT r13 missing #1): one commit, zero files rewritten. The
    logged schema renames the field; a ``renames`` era entry records
    (version, from, to) so every reader translates pre-rename files'
    written names on the fly (:func:`_read_files`); old files keep
    serving, time travel below the rename still reads the old name, and
    the old name joins ``retired`` — a stale writer still producing it
    fails its COMMIT with a clear error instead of silently forking the
    column. Live equality-delete entries that key on the renamed column
    follow it logically (their key FILES keep the written name, recorded
    per entry as ``fcols``)."""
    if old == new:
        raise ValueError("rename requires distinct names")

    def edit(head_m: dict, version: int) -> dict:
        sch = head_m.get("schema", {"fields": []})
        names = [f["name"] for f in sch["fields"]]
        if old not in names:
            raise ValueError(f"no column {old!r} in {names}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if new in head_m.get("retired", []):
            # Reusing a retired name is only safe when it REVIVES the
            # same lineage (A->B then B->A): per-file [min,max] stats
            # and Bloom sidecars are keyed by the PHYSICAL written name,
            # so renaming a DIFFERENT column into a retired name would
            # probe old files' stats for the original column with the
            # new column's values — wrongly pruning files out of CDC
            # eq-delete legs and scoped MV refreshes. The revive is
            # legitimate exactly when the LATEST rename entry that
            # retired `new` moved it to `old` (same lineage coming
            # back); a name retired by drop_column (no such entry) or by
            # a rename to somewhere else requires a compact/rebuild
            # first (which rewrites files under logical names and
            # clears the tombstone).
            # chronological walk of the era map traces where the name
            # `new` went: A->B then B->C ends at C, so C->A is a revive
            cur = new
            for e in head_m.get("renames", []):
                if e["from"] == cur:
                    cur = e["to"]
            if cur != old:
                raise ValueError(
                    f"column name {new!r} is retired and {old!r} is not "
                    "its rename lineage — per-file stats/Bloom sidecars "
                    "keyed by the old physical name would mis-prune; "
                    "compact_snapshot first to rewrite files and clear "
                    "the tombstone"
                )
        for cname, c in head_m.get("constraints", {}).items():
            if old in c.get("cols", []):
                raise ValueError(
                    f"column {old!r} is referenced by CHECK constraint "
                    f"{cname!r} ({c['expr']}) — drop the constraint "
                    "first, rename, then re-add it on the new name"
                )
        gen = dict(head_m.get("generated", {}))
        for gname, g in gen.items():
            if old in g.get("cols", []):
                raise ValueError(
                    f"column {old!r} is referenced by generated column "
                    f"{gname!r} ({g['expr']}) — drop the generation "
                    "first, rename, then re-declare it on the new name"
                )
        if old in gen:
            gen[new] = gen.pop(old)  # the generated column itself moves
        fields = [
            {**f, "name": new} if f["name"] == old else f
            for f in sch["fields"]
        ]
        eq = []
        for e in head_m.get("eq_dvs", []):
            if old in e["cols"]:
                e = {
                    **e,
                    # the key FILE's written column names, pinned before
                    # the logical names move (readers pq.read by fcols)
                    "fcols": list(e.get("fcols", e["cols"])),
                    "cols": [new if c == old else c for c in e["cols"]],
                }
            eq.append(e)
        dfl = dict(head_m.get("defaults", {}))
        if old in dfl:
            dfl[new] = dfl.pop(old)
        return {
            "schema": {"type": "struct", "fields": fields},
            "defaults": dfl or None,
            "renames": head_m.get("renames", [])
            + [{"v": version, "from": old, "to": new}],
            # renaming BACK to a retired name revives it (B->A after
            # A->B): the era map keeps every file's translation exact
            "retired": sorted(
                (set(head_m.get("retired", [])) | {old}) - {new}
            ),
            "eq_dvs": eq,
            "generated": gen or None,
        }

    return _commit(
        path, lambda hf: hf, "rename_column", data_change=False,
        meta_edit=edit,
    )


def widen_column_type(path: str, col: str, new_type: str) -> int:
    """ALTER TABLE ALTER COLUMN TYPE (r15 — Delta type-widening parity,
    the explicit half of :func:`_widen_primitive`): one METADATA commit
    moving ``col``'s logged type to a strictly wider within-family type
    (byte→short→int→long, float→double, decimal growth), no data write
    required. Zero files rewritten — old files upcast at scan exactly
    like the implicit widen-by-write path. Refuses anything that is not
    a widening of the current type (including no-ops)."""

    def edit(head_m: dict, version: int) -> dict:
        sch = head_m.get("schema", {"fields": []})
        fields = []
        hit = False
        for f in sch["fields"]:
            if f["name"] != col:
                fields.append(f)
                continue
            hit = True
            old_t = f["type"]
            if not isinstance(old_t, str):
                raise ValueError(
                    f"column {col!r} has a nested type {old_t!r} — widen "
                    "the leaf through a write, or rebuild"
                )
            w = _widen_primitive(old_t, new_type)
            if w != new_type or w == old_t:
                raise ValueError(
                    f"{new_type!r} is not a widening of column {col!r}'s "
                    f"current type {old_t!r} — only lossless within-"
                    "family promotions are allowed (byte→short→int→long, "
                    "float→double, decimal growth)"
                )
            fields.append({**f, "type": new_type})
        if not hit:
            raise ValueError(
                f"no column {col!r} in "
                f"{[f['name'] for f in sch['fields']]}"
            )
        return {"schema": {"type": "struct", "fields": fields}}

    return _commit(
        path, lambda hf: hf, "widen_column", data_change=False,
        meta_edit=edit,
    )


def _apply_defaults(df: DataFrame, path: str, body: dict | None = None) -> DataFrame:
    """Write-side DEFAULT fill (ALTER COLUMN SET DEFAULT parity): a
    frame MISSING a defaulted column gets it appended as the default
    expression cast to the column's logged type — so the new files
    physically carry the value. Existing rows are untouched (the Delta
    rule: defaults apply to writes AFTER the default was set; history
    reads back as written, i.e. null for pre-default files). Zero cost
    when no defaults are set (``body`` shares the write path's single
    head-body read)."""
    if body is None:
        body = _head_body(path)
    if body is None:
        return df
    defaults = body.get("defaults", {})
    if not defaults:
        return df
    sch = body.get("schema")
    types = (
        {f["name"]: f for f in sch["fields"]} if sch is not None else {}
    )
    out = df
    for c, expr in defaults.items():
        if c in out.columns:
            continue
        col = F.expr(expr)
        if c in types:
            dt = StructType.fromJson(
                {"type": "struct", "fields": [types[c]]}
            )[c].dataType
            col = col.cast(dt)
        out = out.withColumn(c, col)
    return out


def set_column_default(
    spark: SparkSession, path: str, col: str, expr: str
) -> int:
    """ALTER TABLE ALTER COLUMN SET DEFAULT (r14): one metadata commit
    recording {col: expr}; every later row-adding write whose frame
    LACKS the column writes the default instead of null (writes carrying
    the column are untouched — this engine's writers are full-row, so a
    per-row "use default" marker has no meaning here). The expression
    must be SELF-CONTAINED (literals / deterministic functions, no
    column references — the Delta restriction), validated against a
    one-row frame at set time. Defaults are table contracts: carried
    across every op, restored by rollback, moved by rename, cleared by
    drop_column."""
    # probe against a ZERO-column one-row frame so ANY column reference
    # fails analysis — spark.range(1) itself carries a column named
    # `id`, which an expression referencing a column literally named
    # `id` would silently bind to
    probe = spark.range(1).drop("id").select(F.expr(expr))
    probe.schema

    def edit(head_m: dict, version: int) -> dict:
        sch = head_m.get("schema", {"fields": []})
        if col not in [f["name"] for f in sch["fields"]]:
            raise ValueError(f"no column {col!r} to default")
        if col in head_m.get("generated", {}):
            raise ValueError(
                f"column {col!r} is GENERATED — a column is either "
                "defaulted or generated, not both"
            )
        return {"defaults": {**head_m.get("defaults", {}), col: expr}}

    return _commit(
        path, lambda hf: hf, "set_default", data_change=False,
        meta_edit=edit,
    )


def drop_column_default(path: str, col: str) -> int:
    def edit(head_m: dict, version: int) -> dict:
        d = dict(head_m.get("defaults", {}))
        if col not in d:
            raise ValueError(f"no default on column {col!r}")
        del d[col]
        return {"defaults": d or None}

    return _commit(
        path, lambda hf: hf, "drop_default", data_change=False,
        meta_edit=edit,
    )


def _head_body(path: str) -> dict | None:
    """The head version's raw body, or None on an empty table — fetched
    ONCE per write and shared by the three write-side contract passes
    (defaults, generated, constraints)."""
    head = latest_version(path)
    return None if head is None else _version_body(path, head)


def _apply_generated(df: DataFrame, path: str, body: dict | None = None) -> DataFrame:
    """Write-side GENERATED ALWAYS AS fill (r15 — Delta generated-column
    parity): a frame MISSING a generated column gets it computed from
    the row's other columns and cast to the logged type (the
    partition-derivation pattern: ``minute GENERATED ALWAYS AS
    (date_trunc('minute', ts))``). A frame CARRYING the column is
    validated instead — every provided value must null-safe-equal the
    computed one, the Delta rule (a writer may omit or match, never
    contradict) — enforced with one combined filter job, culprit named.
    A frame missing a SOURCE column of an expression evaluates it over
    the typed null the evolution fill will land (same rule as
    constraints) rather than crashing analysis. Zero cost on tables
    without generated columns (``body`` shares the single head-body
    read the write path already makes)."""
    if body is None:
        body = _head_body(path)
    if body is None:
        return df
    gen = body.get("generated", {})
    if not gen:
        return df
    sch = body.get("schema")
    types = {f["name"]: f for f in sch["fields"]} if sch is not None else {}

    def _typed(c, col):
        if c in types:
            col = col.cast(
                StructType.fromJson({"type": "struct", "fields": [types[c]]})[
                    c
                ].dataType
            )
        return col

    # referenced source columns absent from the frame: evaluate over
    # the typed NULLs that will physically land (evolution null-fill) —
    # added for evaluation only, dropped again below
    refs = {
        c
        for g in gen.values()
        if isinstance(g, dict)
        for c in g.get("cols", [])
    }
    added_refs = sorted(refs - set(df.columns) - set(gen))
    out = df
    for c in added_refs:
        out = out.withColumn(c, _typed(c, F.lit(None)))
    bad = None
    for c, g in gen.items():
        expr = g["expr"] if isinstance(g, dict) else g
        if c not in out.columns:
            out = out.withColumn(c, _typed(c, F.expr(expr)))
        else:
            v = ~F.col(c).eqNullSafe(_typed(c, F.expr(expr)))
            bad = v if bad is None else (bad | v)
    if bad is not None:
        hit = out.where(bad).limit(1).collect()
        if hit:
            raise ValueError(
                "generated-column contract violated: a provided value "
                "disagrees with its generation expression in row "
                f"{hit[0].asDict()} (generated: {gen})"
            )
    return out.drop(*added_refs) if added_refs else out


def set_generated_column(
    spark: SparkSession, path: str, col: str, expr: str
) -> int:
    """ALTER TABLE ... declare ``col`` GENERATED ALWAYS AS (``expr``)
    (r15): one metadata commit. The expression references the table's
    OTHER columns (validated by analysis at set time); existing rows
    must already satisfy it (validated like add_constraint, so readers
    can rely on the invariant from this commit onward). Every later
    row-adding write fills a missing ``col`` from the expression and
    refuses a contradicting provided value. Carried across every op,
    restored by rollback; columns the expression references refuse
    rename/drop while the generation exists."""
    df = read_snapshot(spark, path)
    names = df.drop(TXN_COL, PARTITION_COL).columns
    if col not in names:
        raise ValueError(f"no column {col!r} in {names}")
    probe = df.drop(col)
    try:
        gcol = F.expr(expr)
        probe.select(gcol).schema  # analysis: only OTHER columns
    except Exception as exc:
        raise ValueError(
            f"generation expression {expr!r} must be computable from the "
            f"table's other columns: {exc}"
        ) from None
    bad = df.where(~F.col(col).eqNullSafe(gcol)).limit(1).collect()
    if bad:
        raise ValueError(
            f"cannot declare {col!r} GENERATED ALWAYS AS ({expr}): "
            f"existing row disagrees: {bad[0].asDict()}"
        )
    cols = _constraint_cols(df.drop(TXN_COL, PARTITION_COL, col), expr)

    def edit(head_m: dict, version: int) -> dict:
        gen = dict(head_m.get("generated", {}))
        if col in gen:
            raise ValueError(f"column {col!r} is already generated")
        if col in head_m.get("defaults", {}):
            raise ValueError(
                f"column {col!r} has a DEFAULT — a column is either "
                "defaulted or generated, not both"
            )
        gen[col] = {"expr": expr, "cols": cols}
        return {"generated": gen}

    return _commit(
        path, lambda hf: hf, "set_generated", data_change=False,
        meta_edit=edit,
    )


def drop_generated_column_expr(path: str, col: str) -> int:
    def edit(head_m: dict, version: int) -> dict:
        gen = dict(head_m.get("generated", {}))
        if col not in gen:
            raise ValueError(f"no generation on column {col!r}")
        del gen[col]
        return {"generated": gen or None}

    return _commit(
        path, lambda hf: hf, "drop_generated", data_change=False,
        meta_edit=edit,
    )


def _violation_cond(expr: str):
    """SQL CHECK semantics: a row violates when the expression evaluates
    to FALSE — NULL passes (the standard's unknown-is-satisfied rule,
    Delta CHECK parity)."""
    return ~F.coalesce(F.expr(expr), F.lit(True))


def _enforce_constraints(df: DataFrame, path: str, body: dict | None = None) -> None:
    """Validate a write's frame against the head's CHECK constraints —
    called by every row-adding writer BEFORE files are written. Zero
    cost on constraint-free tables (one head-body JSON read); one
    combined filter job otherwise, with a per-constraint re-check only
    on failure to name the culprit. The add-vs-in-flight-write race is
    the Delta one: a constraint added after a writer read the head does
    not gate that writer's commit (the add itself validated all rows
    visible to IT)."""
    if body is None:
        body = _head_body(path)
    if body is None:
        return
    cons = body.get("constraints", {})
    if not cons:
        return
    # a frame missing a constrained column writes NULLs for it (the
    # evolution null-fill) — so the CHECK must be evaluated over the
    # VALUES THAT WILL LAND: null-fill the missing constrained columns
    # (cast to the logged type, like _apply_defaults) and run every
    # constraint. Skipping instead would silently bypass null-rejecting
    # expressions (`price IS NOT NULL`, `coalesce(price,-1) > 0`) for
    # any writer that omits the column, while rejecting the same rows
    # when the NULLs are explicit — an inconsistent table contract.
    have = set(df.columns)
    need = {c for con in cons.values() for c in con.get("cols", [])} - have
    probe = df
    if need:
        sch = body.get("schema")
        types = (
            {f["name"]: f for f in sch["fields"]} if sch is not None else {}
        )
        for c in sorted(need):
            col = F.lit(None)
            if c in types:
                col = col.cast(
                    StructType.fromJson(
                        {"type": "struct", "fields": [types[c]]}
                    )[c].dataType
                )
            probe = probe.withColumn(c, col)
    any_bad = None
    for c in cons.values():
        v = _violation_cond(c["expr"])
        any_bad = v if any_bad is None else (any_bad | v)
    hit = probe.where(any_bad).limit(1).collect()
    if not hit:
        return
    row = hit[0].asDict()
    # failure path only: one extra filter per constraint to NAME the
    # culprit in the error (constraints are few by construction)
    for name, c in cons.items():
        if probe.where(_violation_cond(c["expr"])).limit(1).count():
            raise ValueError(
                f"CHECK constraint {name!r} ({c['expr']}) violated by "
                f"row {row}"
            )
    raise ValueError(f"CHECK constraint violated by row {row}")


def _constraint_cols(df: DataFrame, expr: str) -> list[str]:
    """The table columns a constraint expression references — derived by
    probing the expression against single-column projections (analysis
    errors mean the column is required). Conservative by construction:
    used only to REFUSE rename/drop of referenced columns."""
    out = []
    for c in df.columns:
        probe = df.drop(c)
        try:
            # analysis only, no job. Must be a PROJECT: Spark resolves a
            # Filter's missing references against the child (the
            # df.drop(c).where(c) leniency), which would hide the
            # dependency — select() gets no such resolution.
            probe.select(F.expr(expr)).schema
        except Exception:
            out.append(c)
    return out


def add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT ... CHECK (Delta parity, r14): one
    metadata commit recording {name: expr}; every subsequent row-adding
    write validates its frame and FAILS the write on a violating row
    (SQL CHECK semantics: NULL passes). The add itself first validates
    every existing row — a constraint the current data violates is
    refused, so readers can rely on it from its commit onward.
    Constraints survive compaction (they are table contracts, not file
    metadata); rollback restores the target version's set; columns a
    constraint references refuse rename/drop while it exists."""
    df = read_snapshot(spark, path)
    bad = df.where(_violation_cond(expr)).limit(1).collect()
    if bad:
        raise ValueError(
            f"cannot add CHECK constraint {name!r} ({expr}): existing "
            f"row violates it: {bad[0].asDict()}"
        )
    cols = _constraint_cols(df.drop(TXN_COL, PARTITION_COL), expr)

    def edit(head_m: dict, version: int) -> dict:
        cons = dict(head_m.get("constraints", {}))
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        cons[name] = {"expr": expr, "cols": cols}
        return {"constraints": cons}

    return _commit(
        path, lambda hf: hf, "add_constraint", data_change=False,
        meta_edit=edit,
    )


def drop_constraint(path: str, name: str) -> int:
    def edit(head_m: dict, version: int) -> dict:
        cons = dict(head_m.get("constraints", {}))
        if name not in cons:
            raise ValueError(f"no constraint {name!r}")
        del cons[name]
        return {"constraints": cons or None}

    return _commit(
        path, lambda hf: hf, "drop_constraint", data_change=False,
        meta_edit=edit,
    )


def drop_column(path: str, name: str) -> int:
    """METADATA-ONLY column drop (r14): one commit, zero files
    rewritten. The logged schema drops the field — since every read
    hands the scan the EXPLICIT logical schema, the physical bytes in
    old files are simply never projected again — and the name joins
    ``retired``: a writer still carrying it fails its commit (the gate a
    stale producer needs), and re-using the name requires a compact/
    rebuild first (which physically sheds the old bytes and clears the
    tombstone — otherwise the dead data would resurface under the
    re-added column). Time travel below the drop still serves the
    column. Refuses while live equality-delete entries key on the
    column (their anti-join needs it; compact to materialize them
    first)."""

    def edit(head_m: dict, version: int) -> dict:
        sch = head_m.get("schema", {"fields": []})
        names = [f["name"] for f in sch["fields"]]
        if name not in names:
            raise ValueError(f"no column {name!r} in {names}")
        if len(names) == 1:
            raise ValueError("cannot drop a table's last column")
        for e in head_m.get("eq_dvs", []):
            if name in e["cols"]:
                raise ValueError(
                    f"column {name!r} keys live equality-delete entries "
                    "— compact_snapshot first to materialize them"
                )
        for cname, c in head_m.get("constraints", {}).items():
            if name in c.get("cols", []):
                raise ValueError(
                    f"column {name!r} is referenced by CHECK constraint "
                    f"{cname!r} ({c['expr']}) — drop the constraint first"
                )
        for gname, g in head_m.get("generated", {}).items():
            if gname != name and name in g.get("cols", []):
                raise ValueError(
                    f"column {name!r} is referenced by generated column "
                    f"{gname!r} ({g['expr']}) — drop the generation first"
                )
        gen = {
            k: v for k, v in head_m.get("generated", {}).items()
            if k != name
        }
        dfl = {
            k: v for k, v in head_m.get("defaults", {}).items() if k != name
        }
        return {
            "schema": {
                "type": "struct",
                "fields": [f for f in sch["fields"] if f["name"] != name],
            },
            "defaults": dfl or None,
            "generated": gen or None,
            "retired": sorted(set(head_m.get("retired", [])) | {name}),
        }

    return _commit(
        path, lambda hf: hf, "drop_column", data_change=False,
        meta_edit=edit,
    )


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    months: tuple[str, str] | None = None,
    ts_range: tuple | None = None,
    ts_col: str = "ts",
    keep_txn: bool = False,
    col_ranges: dict | None = None,
    extra_prune=None,
) -> DataFrame:
    """Read a snapshot (default: latest). ``months=(lo, hi)`` prunes whole
    partitions and ``ts_range=(lo, hi)`` prunes by the per-file footer
    stats the commit recorded — both at the MANIFEST level, so only
    surviving files are handed to the scan and storage is never listed.
    The ts predicate is RE-APPLIED to the surviving rows (the skipping.py
    contract: pruning is an optimization, never a semantics change), so
    the result equals a full read filtered to the range. Files without
    recorded stats are read, not pruned.

    Schema evolution: the scan is handed the version's LOGGED schema, so
    rows from pre-evolution files surface added columns as NULL — the
    Delta ADD COLUMN semantics — and no file footer is read.

    ``col_ranges={col: (lo, hi), ...}`` (r10) generalizes the ts pruning
    to ANY numeric column the commit recorded footer stats for (the
    ``cols`` map ``merge_into`` already prunes its key scan with — the
    Delta data-skipping contract): files whose recorded [min, max] miss
    the requested range are dropped at the MANIFEST level, the predicate
    is re-applied to the survivors, and files without stats for the
    column are read, never pruned. Temporal columns go through
    ``ts_range`` (ISO-normalized); ``col_ranges`` is for raw numerics.

    ``extra_prune`` (r13) is an ADVISORY manifest-files hook
    ``list[dict] -> list[dict]`` applied after the built-in prunes —
    e.g. ``lambda fs: prune_files_by_values(fs, "symbol", keys)`` on a
    key-clustered table. Unlike ``ts_range``/``col_ranges`` its
    predicate is NOT re-applied to the surviving rows: the caller must
    guarantee its own downstream predicate (semi-join / IN-filter) makes
    the row set exact, i.e. the hook may only drop files that provably
    contain no row the caller keeps."""
    head = latest_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    v = head if version is None else version
    # months pushes down into manifest(): on a sharded log the other
    # months' shard files are never even parsed
    m = manifest(path, v, months=months)
    files = m["files"]
    if months is not None:
        lo, hi = months
        files = [f for f in files if lo <= f["p_month"] <= hi]
    if ts_range is not None:
        # bounds are UTC instants (naive datetimes = UTC; aware datetimes
        # are converted): the SAME normalized values feed the manifest
        # string pruning below and the row filter further down, so the
        # two can never disagree on a non-UTC driver (pruning must be an
        # optimization, never a semantics change)
        b_lo, b_hi = (_utc_naive(b) for b in ts_range)
        lo, hi = _iso(b_lo), _iso(b_hi)
        files = [
            f
            for f in files
            if "ts_min" not in f or (f["ts_min"] <= hi and f["ts_max"] >= lo)
        ]
    if col_ranges:
        for c, (c_lo, c_hi) in col_ranges.items():
            files = [
                f
                for f in files
                if c not in f.get("cols", {})
                or (f["cols"][c][0] <= c_hi and f["cols"][c][1] >= c_lo)
            ]
    if extra_prune is not None:
        files = extra_prune(files)
    if not files:
        # legitimately-empty result (everything pruned, or an empty head
        # after retention) — full-read-then-filter would be empty too
        df = _empty_like(spark, path)
    else:
        df = _apply_dvs(
            spark,
            _read_files(
                spark, path, files, schema=m["schema"], renames=m.get("renames")
            ),
            m,
            path,
        )
    if ts_range is not None:
        if df.schema[ts_col].dataType.typeName() == "timestamp":
            # compare as UTC micros: F.lit(datetime) would re-interpret
            # the naive bound through the DRIVER OS timezone, silently
            # dropping in-range rows whenever that differs from the UTC
            # the pruning above assumed (r8 ADVICE finding)
            df = df.where(
                (F.unix_micros(F.col(ts_col)) >= _epoch_micros(b_lo))
                & (F.unix_micros(F.col(ts_col)) <= _epoch_micros(b_hi))
            )
        else:
            df = df.where(
                (F.col(ts_col) >= F.lit(b_lo)) & (F.col(ts_col) <= F.lit(b_hi))
            )
    if col_ranges:
        # pruning is an optimization, never a semantics change: the range
        # predicate is re-applied to the surviving rows
        for c, (c_lo, c_hi) in col_ranges.items():
            df = df.where((F.col(c) >= F.lit(c_lo)) & (F.col(c) <= F.lit(c_hi)))
    return df if keep_txn else df.drop(TXN_COL)


def vacuum(path: str, retain_versions: int = 1) -> list[str]:
    """Delete data files not referenced by the newest ``retain_versions``
    manifests (including orphans from crashed appends) and prune empty
    dirs. The default keeps only the head; a larger window preserves that
    many versions of time travel (the Delta retention-window trade —
    vacuum is what finally breaks older reads). Run only when no writer
    is in flight. Returns the deleted files' relative paths."""
    head = latest_version(path)
    retained = (
        []
        if head is None
        else range(max(0, head - max(1, retain_versions) + 1), head + 1)
    )
    live = {f["path"] for v in retained for f in manifest(path, v)["files"]}
    live |= {
        e["path"]
        for v in retained
        for kind in ("dvs", "eq_dvs")
        for e in manifest(path, v).get(kind, [])
    }
    removed = []
    scan_dirs = [_data(path)]
    if (Path(path) / DV_DIR).exists():
        scan_dirs.append(Path(path) / DV_DIR)
    for root in scan_dirs:
        for f in root.rglob("*.parquet"):
            rel = str(f.relative_to(Path(path)))
            if rel not in live:
                f.unlink()
                removed.append(rel)
    # non-parquet write artifacts (_SUCCESS markers) + emptied dirs
    live_dirs = {Path(p).parent.parts for p in live}
    live_dirs = {parts[:n] for parts in live_dirs for n in range(1, len(parts) + 1)}
    for root in scan_dirs:
        for d in sorted(root.rglob("*"), reverse=True):
            rel_parent = d.relative_to(Path(path)).parent.parts
            if d.is_file() and d.name.startswith("_") and rel_parent not in live_dirs:
                d.unlink()
            elif d.is_dir() and not any(d.iterdir()):
                d.rmdir()
    # orphan manifest/hint tmps from writers that crashed mid-write
    for t in _log(path).glob(".tmp-*.json"):
        t.unlink(missing_ok=True)
    for t in _log(path).glob(".hint-*"):
        t.unlink(missing_ok=True)
    for t in _log(path).glob(".ckpt*-*"):
        t.unlink(missing_ok=True)
    for t in _log(path).glob(".shard-*.json"):
        t.unlink(missing_ok=True)
    return sorted(removed)


def maybe_compact_snapshot(
    spark: SparkSession,
    path: str,
    max_live_files: int = 64,
    keys: Sequence[str] = ("ts", "symbol", "trade_id"),
    version_col: str = "ingested_at",
    ts_col: str = "ts",
    zorder_cols: Sequence[str] | None = None,
    n_files: int = 8,
    max_dv_rows: int = 100_000,
    cluster_cols: Sequence[str] | None = None,
) -> int | None:
    """Compaction POLICY for snapshot tables (the twin of
    ``streaming.compaction.maybe_compact`` for sketch-MV dirs): a
    streaming sink commits one txn dir per micro-batch, so the head's
    file count grows with stream lifetime; when it exceeds
    ``max_live_files``, rewrite through :func:`compact_snapshot`.
    The check is one manifest read — no Spark job and no storage listing
    when under threshold. Returns the new version, or None if no
    compaction ran (including when a concurrent commit won the race —
    the next maintenance tick retries against the new head).

    ``zorder_cols`` makes each maintenance rewrite also the z-clustering
    pass, so a streaming table's layout keeps converging to the
    range-prunable form without a separate job — post-compaction appends
    are un-clustered until the next threshold trip, which is exactly the
    Delta OPTIMIZE ZORDER cadence.

    ``max_dv_rows`` bounds merge-on-read debt the same way: every read
    pays an anti-join proportional to the accumulated deletion-vector
    rows, so once they exceed the threshold the rewrite materializes
    them (compaction clears the DV list) even if the file count is
    healthy."""
    head = latest_version(path)
    if head is None:
        return None
    m = manifest(path, head)
    dv_rows = sum(
        e.get("rows", 0) for k in ("dvs", "eq_dvs") for e in m.get(k, [])
    )
    if len(m["files"]) <= max_live_files and dv_rows <= max_dv_rows:
        return None
    try:
        return compact_snapshot(
            spark, path, keys, version_col, ts_col,
            zorder_cols=zorder_cols, n_files=n_files,
            cluster_cols=cluster_cols,
        )
    except CommitConflict:
        return None


def _merge_candidates(files: list[dict], keys: Sequence[str], src_rng: dict) -> list[dict]:
    """Manifest-level candidate pruning for a merge: a file can contain a
    matching row only if, for EVERY key column, its recorded [min, max]
    overlaps the source's — any stats-covered key with a disjoint range
    proves no row in the file equals any source row on ALL keys.
    Conservative: files without recorded stats for a key are kept, and a
    key absent from ``src_rng`` (empty source) keeps nothing. Timestamps
    compare in the shared canonical ISO form (homogeneous format, so
    string order is time order)."""
    if any(src_rng.get(k) is None for k in keys):
        return []  # empty source: nothing can match anywhere
    out = []
    for f in files:
        stats = f.get("cols", {})
        keep = True
        for k in keys:
            if k not in stats:
                continue
            lo, hi = stats[k]
            s_lo, s_hi = src_rng[k]
            if s_hi < lo or s_lo > hi:
                keep = False
                break
        if keep:
            out.append(f)
    return out


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    update_cols: Sequence[str] | None = None,
    insert: bool = True,
    delete_col: str | None = None,
) -> int:
    """Copy-on-write MERGE INTO over the snapshot log — the transactional
    upsert the SCD2/CDC family deferred to "a transactional format"
    (ROADMAP #5); the snapshot log IS that format, so the seat lands here.
    Semantics are the Delta/Iceberg MERGE subset a CDC-apply needs:

    - matched (target key = source key) → UPDATE ``update_cols`` from the
      source row (default: every shared non-key data column); with
      ``delete_col`` set, a matched source row whose flag is true DELETEs
      the target row instead (the CDC tombstone);
    - not matched by target → INSERT the source row (``insert=False``
      turns the merge into pure UPDATE/DELETE); a source-only tombstone
      is a no-op, as in any idempotent CDC apply.

    The 100 TB shape is file-level copy-on-write: one column-pruned scan
    of the head's KEY columns tagged with ``_metadata.file_path`` finds
    the files that contain ≥1 matching key (a broadcast semi-join against
    the source's distinct keys — the source is the small side by the
    nature of a merge). ONLY those files are rewritten; every untouched
    file is carried into the new manifest by reference, so merging 100
    rows into a 100 TB table rewrites a handful of files, not the table.
    A source key absent from every file can't touch an untouched file by
    construction, so inserts need no second pass. Like ``compact``, the
    rewrite depends on the exact snapshot read — a concurrent commit in
    between raises :class:`CommitConflict` rather than silently dropping
    the interleaver's rows, and prior versions stay readable (time
    travel over the merge boundary is the audit log).

    Contracts (validated up front, each a short-circuit ``limit(1)``
    job): source keys are non-null and unique (Delta's "multiple source
    rows matched" error); duplicate TARGET keys are legal — every copy
    of a matched key is updated/deleted, exactly Delta's behavior.
    """
    keys = list(keys)
    # the source rows become table rows (whether inserted or rewritten
    # into the merge output) — defaults fill and gates apply like any
    # other write (this engine's merge is full-row replacement, so a
    # defaulted column missing from the source takes the default for
    # matched rows too — the upsert contract)
    _wb = _head_body(path)
    source = _apply_defaults(source, path, _wb)
    source = _apply_generated(source, path, _wb)
    _enforce_constraints(source, path, _wb)
    read_v = latest_version(path)
    if read_v is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    m = manifest(path, read_v)
    files = m["files"]

    if delete_col is not None and delete_col not in source.columns:
        raise ValueError(f"delete_col {delete_col!r} not in source")
    null_key = F.lit(False)
    for k in keys:
        null_key = null_key | F.col(k).isNull()
    if source.where(null_key).limit(1).count():
        raise ValueError(f"NULL merge key in source (keys={keys})")
    if (
        source.groupBy(*keys).count().where(F.col("count") > 1).limit(1).count()
    ):
        raise ValueError("duplicate keys in merge source — one row per key")

    tgt_head = read_snapshot(spark, path, version=read_v)
    data_cols = [
        c for c in tgt_head.columns if c not in keys and c != PARTITION_COL
    ]
    if delete_col in data_cols:
        raise ValueError(f"delete_col {delete_col!r} collides with a table column")
    if update_cols is None:
        update_cols = [c for c in data_cols if c in source.columns]
    unknown = [c for c in update_cols if c not in data_cols]
    if unknown:
        raise ValueError(
            f"update_cols {unknown} are not non-key table columns ({data_cols})"
        )
    missing = [c for c in list(keys) + list(update_cols) if c not in source.columns]
    if missing:
        raise ValueError(f"source lacks merge columns {missing}")
    if insert:
        missing = [c for c in data_cols if c not in source.columns]
        if missing:
            raise ValueError(
                f"insert=True needs every table column in the source; missing {missing}"
            )

    # -- which files contain a matching key? Two pruning levels: the
    # MANIFEST's per-file key ranges drop files whose stats are disjoint
    # from the source's key range (no scan at all — O(manifest), the
    # Iceberg pattern), then a column-pruned scan of the survivors' key
    # columns + file tag settles exact membership.
    if files:
        import datetime as _dt

        # Timestamp (TIMESTAMP WITH LOCAL TIME ZONE) bounds must NOT be
        # collected as Python datetimes: PySpark renders them through the
        # DRIVER OS timezone, while the manifest's footer stats are UTC —
        # on a non-UTC driver the string comparison in _merge_candidates
        # would prune the very files holding matching keys and the merge
        # would silently insert duplicates. Collect tz-independent UTC
        # micros engine-side (unix_micros) and rebuild the UTC-naive
        # datetime on the driver, so _iso emits the footer's exact form.
        ts_keys = {
            k
            for k in keys
            if source.schema[k].dataType.typeName() == "timestamp"
        }

        def _bound(agg_fn, k, alias):
            col = agg_fn(k)
            return (F.unix_micros(col) if k in ts_keys else col).alias(alias)

        rng_row = source.agg(
            *[_bound(F.min, k, f"lo_{i}") for i, k in enumerate(keys)],
            *[_bound(F.max, k, f"hi_{i}") for i, k in enumerate(keys)],
        ).collect()[0]

        def _enc(k, v):
            if k in ts_keys:
                v = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
            return _iso(v) if isinstance(v, (_dt.datetime, _dt.date)) else v

        src_rng = {
            k: (
                None
                if rng_row[f"lo_{i}"] is None
                else (_enc(k, rng_row[f"lo_{i}"]), _enc(k, rng_row[f"hi_{i}"]))
            )
            for i, k in enumerate(keys)
        }
        candidates = _merge_candidates(files, keys, src_rng)
    else:
        candidates = []
    if candidates:
        src_keys = source.select(*keys).distinct()
        cand_scan = _read_files(
            spark, path, candidates, schema=m["schema"], renames=m.get("renames")
        )
        # _file_expr_for already yields the table-RELATIVE path (the
        # data/txn=... form the manifest stores) on both the direct-scan
        # and the era-union form
        tagged = cand_scan.select(
            *keys, _file_expr_for(cand_scan).alias("_file")
        )
        touched_rel = {
            r["_file"]
            for r in tagged.join(F.broadcast(src_keys), keys, "left_semi")
            .select("_file")
            .distinct()
            .collect()  # bounded by the table's FILE count, never its rows
        }
    else:
        touched_rel = set()  # empty head/source: pure insert (or no-op)
    untouched = [f for f in files if f["path"] not in touched_rel]
    touched = [f for f in files if f["path"] in touched_rel]

    # -- rewrite = full-outer of (touched rows) x (source) on the keys;
    # the snapshot's deletion vectors are applied first, so a DV'd row
    # neither matches nor resurrects (the rewrite also MATERIALIZES the
    # touched files' deletes; untouched files keep their DVs, carried
    # forward by _commit's default)
    if touched:
        tgt = _apply_dvs(
            spark,
            _read_files(
                spark, path, touched, schema=m["schema"], renames=m.get("renames")
            ),
            m,
            path,
        ).drop(TXN_COL, PARTITION_COL)
    else:
        tgt = _empty_like(spark, path).drop(TXN_COL, PARTITION_COL)
    t = tgt.select(
        *[F.col(c).alias(f"t_{c}") for c in keys + data_cols],
        F.lit(True).alias("t__m"),
    )
    s_cols = keys + [c for c in data_cols if c in source.columns]
    if delete_col is not None:
        s_cols = s_cols + [delete_col]
    s = source.select(
        *[F.col(c).alias(f"s_{c}") for c in s_cols], F.lit(True).alias("s__m")
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"t_{k}") == F.col(f"s_{k}"))
    # full-outer joins have no broadcast-hash form — this is the one
    # key-partitioned shuffle a merge inherently pays, and it shuffles
    # only (touched rows + source), never the table
    j = t.join(s, cond, "full_outer")

    is_insert = F.col("t__m").isNull()
    is_target_only = F.col("s__m").isNull()
    tombstone = (
        F.coalesce(F.col(f"s_{delete_col}"), F.lit(False))
        if delete_col is not None
        else F.lit(False)
    )
    keep = is_target_only | ~tombstone  # matched+flag → delete
    if insert:
        keep = keep & (~is_insert | ~tombstone)  # source-only tombstone: no-op
    else:
        keep = keep & ~is_insert
    out_cols = [F.coalesce(f"t_{k}", f"s_{k}").alias(k) for k in keys]
    for c in data_cols:
        s_val = F.col(f"s_{c}") if c in source.columns else F.lit(None)
        matched_val = s_val if c in update_cols else F.col(f"t_{c}")
        out_cols.append(
            F.when(is_insert, s_val)
            .when(is_target_only, F.col(f"t_{c}"))
            .otherwise(matched_val)
            .alias(c)
        )
    rewritten = j.where(keep).select(*out_cols)

    new = _write_txn(rewritten, path, ts_col)
    if not touched and not new:
        return read_v  # nothing matched, nothing to insert — no-op
    return _commit(
        path,
        lambda _hf: untouched + new,
        "merge",
        expected_parent=read_v,
        write_schema=_frame_schema(rewritten),
        schema_mode="merge",
    )


def merge_into_retry(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: Sequence[str],
    retries: int = 5,
    **kw,
) -> int:
    """:func:`merge_into` with conflict retries: the merge is a pure
    function of (table state, source), so on :class:`CommitConflict` the
    whole operation safely re-runs against the winner's head — unlike
    append, the retry must re-do the reads (touched files and the
    rewrite depend on the state), which is why the loop lives here
    instead of inside ``_commit``. Each failed attempt orphans its txn
    dir; vacuum sweeps those. The production caller is a CDC apply
    racing maintenance (``maybe_compact_snapshot``) — single-writer
    tables never need it."""
    for _ in range(max(1, retries)):
        try:
            return merge_into(spark, path, source, keys, **kw)
        except CommitConflict:
            continue
    raise CommitConflict(
        f"merge lost {retries} races at {path} — check for a maintenance loop"
    )


def update_where(
    spark: SparkSession,
    path: str,
    predicate,
    assignments: dict,
    ts_col: str = "ts",
) -> int:
    """Copy-on-write ``UPDATE ... SET ... WHERE`` (r16 — the one DML
    verb the log lacked a direct form of; Delta/Iceberg UPDATE parity):
    rewrite ONLY the files containing ≥1 matching row, applying each
    assignment under the predicate (``WHEN matched THEN new ELSE old``),
    and commit the swap atomically. Unlike :func:`merge_into` it needs
    no key columns — the predicate is the addressing — and unlike
    :func:`delete_where`'s merge-on-read DVs an update inherently
    rewrites, so the 100 TB shape is merge's: one predicate scan tagged
    with the source file (Catalyst prunes the scan to the predicate's
    columns), a file-count-bounded driver set of hit files, a rewrite
    of exactly those files' VISIBLE rows (existing position/equality
    deletes applied first, so an updated file's deletes materialize and
    a deleted row is never resurrected into an updated one), and every
    untouched file carried by reference.

    ``predicate`` and assignment values may be SQL strings or Column
    expressions. Assigned values cast to the column's current type (a
    type-changing update is schema evolution — do it with
    ``widen_column_type`` first). Generated columns may not be assigned
    (GENERATED ALWAYS AS); they are RECOMPUTED for the rewritten rows,
    so updating a generated column's source keeps it consistent.
    Constraints re-check the rewritten rows. Updating ``ts_col`` is
    legal — the rewrite re-derives month partitioning, so a row moves
    shards correctly.

    Concurrency: the rewrite depends on the exact snapshot read
    (``expected_parent``), so any interleaved commit raises
    :class:`CommitConflict` — re-run against the new head (the same
    contract as merge; wrap in a retry loop for multi-writer tables).
    Rows an interleaved append would have matched are not updated:
    snapshot-isolation semantics, Delta's UPDATE behaves the same.
    Matching zero rows commits nothing and returns the head. Committed
    as op ``merge`` so every CDC/stream consumer represents it with the
    existing rewrite semantics (removed files' pre-rows as deletes,
    added files as inserts)."""
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    if not assignments:
        raise ValueError("update_where needs at least one assignment")
    read_v = latest_version(path)
    if read_v is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    body = _head_body(path)
    gen = (body or {}).get("generated") or {}
    bad = sorted(set(assignments) & set(gen))
    if bad:
        raise ValueError(
            f"columns {bad} are GENERATED ALWAYS AS — assign their "
            "source columns instead; the update recomputes them"
        )
    m = manifest(path, read_v)
    files = m["files"]
    if not files:
        return read_v  # empty head — nothing to update
    table_cols = set(
        read_snapshot(spark, path, version=read_v).columns
    ) - {PARTITION_COL}
    unknown = sorted(set(assignments) - table_cols)
    if unknown:
        raise ValueError(
            f"assigned columns {unknown} not in table columns "
            f"{sorted(table_cols)}"
        )
    # -- which files hold a matching row: the scan reads only the
    # predicate's columns + the file tag (materialized on the raw scan,
    # the _apply_dvs era rule); the collect is bounded by FILE count
    base_scan = _read_files(
        spark, path, files, schema=m["schema"], renames=m.get("renames")
    )
    scan = base_scan.withColumn("_upd_file", _file_expr_for(base_scan))
    vis = _apply_dvs(spark, scan, m, path)
    touched_rel = {
        r["_upd_file"]
        for r in vis.where(cond).select("_upd_file").distinct().collect()
    }
    if not touched_rel:
        return read_v  # predicate matches nothing — no-op
    touched = [f for f in files if f["path"] in touched_rel]
    untouched = [f for f in files if f["path"] not in touched_rel]
    tgt = _apply_dvs(
        spark,
        _read_files(
            spark, path, touched, schema=m["schema"], renames=m.get("renames")
        ),
        m,
        path,
    ).drop(TXN_COL, PARTITION_COL)
    out = tgt
    for c, e in assignments.items():
        expr = F.expr(e) if isinstance(e, str) else e
        out = out.withColumn(
            c,
            F.when(cond, expr.cast(tgt.schema[c].dataType)).otherwise(
                F.col(c)
            ),
        )
    if gen:
        # recompute GENERATED ALWAYS AS over the rewritten rows: pure
        # functions of the row, so untouched rows get identical values
        out = _apply_generated(out.drop(*[g for g in gen if g in out.columns]),
                               path, body)
    _enforce_constraints(out, path, body)
    new = _write_txn(out, path, ts_col)
    return _commit(
        path,
        lambda _hf: untouched + new,
        "merge",
        expected_parent=read_v,
        write_schema=_frame_schema(out),
        schema_mode="merge",
    )


def update_where_retry(
    spark: SparkSession,
    path: str,
    predicate,
    assignments: dict,
    retries: int = 5,
    **kw,
) -> int:
    """:func:`update_where` with conflict retries — the same contract as
    :func:`merge_into_retry`: the update is a pure function of (table
    state, predicate, assignments), so on :class:`CommitConflict` it
    safely re-runs against the winner's head, re-doing the hit-file
    scan and rewrite. Each failed attempt orphans its txn dir (vacuum
    sweeps). The production caller is a correction job racing the
    maintenance tick; single-writer tables never need it."""
    for _ in range(max(1, retries)):
        try:
            return update_where(spark, path, predicate, assignments, **kw)
        except CommitConflict:
            continue
    raise CommitConflict(
        f"update lost {retries} races at {path} — check for a "
        "maintenance loop"
    )


def diff_versions(
    spark: SparkSession,
    path: str,
    v_old: int,
    v_new: int,
    keys: Sequence[str] = ("ts", "symbol", "trade_id"),
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """CDC-style row diff between two snapshots: full-outer join the two
    reads on ``keys`` and classify each key as ``added`` / ``removed`` /
    ``changed`` (any ``compare_cols`` value differs, NULL-safely);
    unchanged keys are filtered out. ``compare_cols`` defaults to every
    shared non-key data column.

    This is the audit/backfill question a versioned table exists to
    answer ("what did that compaction/merge actually change?"). Cost is
    one key-partitioned shuffle of both snapshots — inherent to a
    value-level diff; for append-only ranges prefer :func:`read_changes`,
    which answers from the manifest alone."""
    old = read_snapshot(spark, path, version=v_old)
    new = read_snapshot(spark, path, version=v_new)
    if compare_cols is None:
        skip = set(keys) | {PARTITION_COL, TXN_COL}
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in skip
        ]

    # a key may legitimately hold MULTIPLE rows pre-compaction, so each
    # side reduces to one row per key carrying the SORTED MULTISET of its
    # compare values — a full-outer join of raw rows would cross-product
    # duplicate keys and report an identical snapshot as changed (r8
    # third-review finding). changed ⇔ the multisets differ.
    def _grouped(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                *[F.col(k).alias(f"k{i}") for i, k in enumerate(keys)],
                F.struct(*[F.col(c) for c in compare_cols]).alias("v"),
            )
            .groupBy(*[f"k{i}" for i in range(len(keys))])
            .agg(F.sort_array(F.collect_list("v")).alias(f"{side}_vals"))
        )

    j = _grouped(old, "o").join(
        _grouped(new, "n"), [f"k{i}" for i in range(len(keys))], "full_outer"
    )
    kind = (
        F.when(F.col("o_vals").isNull(), F.lit("added"))
        .when(F.col("n_vals").isNull(), F.lit("removed"))
        .when(~F.col("o_vals").eqNullSafe(F.col("n_vals")), F.lit("changed"))
    )
    return (
        j.withColumn("change_type", kind)
        .where(F.col("change_type").isNotNull())
        .select(
            *[F.col(f"k{i}").alias(k) for i, k in enumerate(keys)],
            "change_type",
        )
    )
