"""Per-file Bloom index for point lookups on snapshot tables.

The manifest's footer stats already prune by RANGE (``ts_range`` reads
skip files whose min/max exclude the bound). Point lookups on a
high-cardinality key ("fetch trade 982734", "find document <hash>")
get nothing from ranges — at 100 TB the query otherwise opens every
file the month prune leaves. The lakehouse answer (Delta's bloom-filter
index, Hudi's bloom metadata, Iceberg puffin blobs) is a tiny per-FILE
Bloom filter on the key: a probe touches k bit positions, a file whose
filter misses any of them provably lacks the key, and false positives
only cost a wasted scan — never a wrong result, because the predicate
is re-applied to the survivors (the repo-wide contract: pruning is an
optimization, never a semantics change).

Design — an ADVISORY SIDECAR, not a commit:

- ``build_bloom_index`` scans one snapshot version grouped by
  ``_metadata.file_path`` into (file, word, bits) rows — the same
  portable md5 bit arithmetic as ``operators/bloom.py`` (one explode +
  one map-side-combined ``bit_or`` aggregate; ≤ BLOOM_WORDS rows per
  file, ~2 KB each) — written under ``_idx/`` and published with an
  atomic pointer swap.
- Readers treat the index as a hint keyed by file path: a manifest file
  ABSENT from the index (appended after the build, or never indexed) is
  always read. Correctness never depends on index freshness; maintenance
  cadence is a cost knob, exactly like OPTIMIZE.
- ``extend_bloom_index`` (r10) keeps maintenance O(new files): it scans
  only the head files the sidecar never saw and publishes the merged
  pointer (``dirs`` accumulates one parquet dir per extension; probes
  union them in the same word-pushed scan). Full rebuild is reserved
  for saturation (new files outgrowing the built filter size) and key
  changes — the write-time pattern Delta's bloom index uses.
- ``read_point`` probes with a word-pushed scan of the sidecar (k words
  of the grid, not the whole index), prunes the manifest's file list,
  and re-applies the equality predicate through the normal DV-aware
  read path — deletes stay applied.
- ``vacuum`` never scans ``_idx`` (it sweeps ``data/`` and ``_dv``), so
  an index outlives retention; a dropped index is just an unlinked dir.

Scale: the index is O(files x BLOOM_WORDS) rows with the probe reading
O(files x k/BLOOM_WORDS) of it; the driver materializes verdicts only
for files that survive the earlier month/ts pruning — the same
driver-side O(manifest) the log already carries.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localframe import local_frame
from ..operators.bloom import _word_bits, bloom_positions
from . import snapshots as S

IDX_DIR = "_idx"


class PointerRace(RuntimeError):
    """Another publisher claimed the next pointer generation between this
    operation's pointer read and its publish. Re-read the pointer and
    recompute (an extension's content depends on the coverage it read)."""


# bloom-<key>.g<N>.json, one immutable file per pointer generation. The
# suffix-anchored regex is load-bearing: a key column whose NAME
# contains ".g" (e.g. "a.gx") must not be truncated to "a" — naive
# split(".g") did exactly that (r12 sweep_bloom_orphans bug: the
# mis-keyed pointer was never read, its dirs never marked live, and the
# sweep deleted a live index).
_PTR_NAME = re.compile(r"^bloom-(.+?)\.g(\d+)\.json$")


def _parse_ptr_name(name: str) -> tuple[str, int] | None:
    """(key, generation) from a pointer file name; None if not a pointer.
    A key that itself ends in ``.g<digits>`` is inherently ambiguous with
    a generation suffix — the generation reading wins, matching what
    every reader/writer of the generation protocol does."""
    m = _PTR_NAME.match(name)
    if m is None:
        return None
    return m.group(1), int(m.group(2))


def _gen_of(p: Path) -> int:
    return _parse_ptr_name(p.name)[1]


def _gen_files(idx_root: Path, key_col: str) -> list[Path]:
    """Generation pointer files belonging to EXACTLY ``key_col`` — the
    naive glob ``bloom-{key}.g*.json`` also matches a different key named
    ``{key}.gx``'s files, so matches are re-checked with the parser."""
    return [
        p
        for p in idx_root.glob(f"bloom-{key_col}.g*.json")
        if (parsed := _parse_ptr_name(p.name)) is not None
        and parsed[0] == key_col
    ]


def _read_pointer(path: str, key_col: str) -> tuple[dict, int] | None:
    """(meta, generation) of the CURRENT pointer — the highest-numbered
    ``bloom-<key>.g<N>.json`` (each one immutable, claimed by an atomic
    ``os.link`` exactly like the log's own v{N}.json protocol, r12).
    None = no index."""
    idx_root = Path(path) / IDX_DIR
    gens = sorted(_gen_files(idx_root, key_col), key=_gen_of)
    for p in reversed(gens):
        try:
            return json.loads(p.read_text()), _gen_of(p)
        except OSError:
            continue  # swept between glob and read — try the next newest
    return None


def index_exists(path: str, key_col: str) -> bool:
    return _read_pointer(path, key_col) is not None


BITS_PER_KEY = 10  # ~1% false-positive rate at k=4
_MIN_BITS = 1 << 14  # 2 KB floor
_MAX_BITS = 1 << 25  # 4 MB/file ceiling — beyond this, split the file


def build_bloom_index(spark: SparkSession, path: str, key_col: str) -> dict | None:
    """Build + atomically publish the per-file Bloom index of ``key_col``
    over the CURRENT head's files. One scan of the snapshot (column-
    pruned to the key + file metadata), one hash aggregate. The filter
    is AUTO-SIZED to the largest file's row count (~BITS_PER_KEY bits
    per key, power of two): a fixed-size filter silently saturates into
    all-maybe once files outgrow it — measured on a 62k-rows/file table,
    16 Kib filters pruned nothing. Returns the published pointer
    ({dir, version, n_files, bits}), or None for an empty head (nothing
    to index — an existing pointer is left in place).

    Key types are restricted to integral/string/date: Python's str() and
    Spark's cast-to-string disagree on float/decimal rendering
    ('1e+20' vs '1.0E20'), which would make the driver-side probe hash
    DIFFERENT positions than the build — a Bloom false negative, the one
    error class the structure promises away. Rejected loudly here."""
    head = S.latest_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    m = S.manifest(path, head)
    if not m["files"]:
        return None  # empty head (e.g. retention dropped every month)
    df = S._read_files(
        spark, path, m["files"], schema=m["schema"], renames=m.get("renames"),
    )
    kind = df.schema[key_col].dataType.typeName()
    if kind not in ("integer", "long", "short", "byte", "string", "date"):
        raise TypeError(
            f"bloom index key {key_col} has type {kind}: float/decimal/"
            "timestamp keys render differently in Python str() and Spark "
            "CAST AS STRING, so the probe could false-negative — index an "
            "integral/string key instead"
        )
    max_rows = max((f.get("rows", 0) for f in m["files"]), default=0)
    bits = _MIN_BITS
    while bits < min(_MAX_BITS, BITS_PER_KEY * max(1, max_rows)):
        bits <<= 1
    words = _bloom_words(df, key_col, bits)
    dest = _write_idx_dir(path, key_col, head, words)
    meta = {
        "dirs": [dest.name],
        "version": head,
        "n_files": len(m["files"]),
        "bits": bits,
    }
    # a rebuild's CONTENT is pointer-independent (it re-scanned the head),
    # so a lost publish race only needs fresh prev/generation bookkeeping
    for _ in range(16):
        prior = _read_pointer(path, key_col)
        gen = prior[1] if prior is not None else 0
        try:
            # meta["prev"] is (re)stamped inside per attempt
            _publish_pointer(path, key_col, meta, supersede=True, expect_gen=gen)
            return meta
        except PointerRace:
            continue
    raise RuntimeError(f"bloom pointer contention on {key_col} at {path}")


def _bloom_words(df: DataFrame, key_col: str, bits: int) -> DataFrame:
    """(file, word, bits) rows for one scan's key column — the shared
    kernel of build and extend, so their bit arithmetic can never drift.
    Null keys contribute no bits; a file holding ONLY nulls is then
    absent from the index, and pruning it is correct — an equality
    probe can never match null."""
    pos = df.where(F.col(key_col).isNotNull()).select(
        # materialized-or-pseudo rule (_apply_dvs' convention): a
        # mixed-era column-mapped scan is a Union where the `_metadata`
        # pseudo-column no longer resolves — the era read materialized
        # _dv_target_file per era instead (r16 ADVICE: _dv_file_expr()
        # here crashed build/extend on any renamed table with
        # post-rename appends)
        S._file_expr_for(df).alias("file"),
        F.explode(
            bloom_positions(F.col(key_col).cast("string"), bits=bits)
        ).alias("pos"),
    )
    return _word_bits(pos).groupBy("file", "word").agg(
        F.bit_or("bits").alias("bits")
    )


def _write_idx_dir(path: str, key_col: str, head: int, words: DataFrame) -> Path:
    idx_root = Path(path) / IDX_DIR
    idx_root.mkdir(parents=True, exist_ok=True)
    tmp = idx_root / f".build-{uuid.uuid4().hex[:12]}"
    words.write.mode("error").parquet(str(tmp))
    dest = idx_root / f"bloom-{key_col}-v{head}-{uuid.uuid4().hex[:6]}"
    os.replace(tmp, dest)
    return dest


def _dirs_of(meta: dict) -> list[str]:
    """Pointer-format shim: r9 pointers carried a single ``dir``; r10
    pointers carry ``dirs`` (base build + extensions)."""
    if "dirs" in meta:
        return list(meta["dirs"])
    return [meta["dir"]] if meta.get("dir") else []


def _publish_pointer(
    path: str, key_col: str, meta: dict, supersede: bool, expect_gen: int
) -> None:
    """Publish the pointer by CLAIMING generation ``expect_gen + 1`` with
    an atomic ``os.link`` — the same optimistic compare-and-set the log's
    ``_commit`` uses for version files (r12; the previous mutable
    read-modify-write let two concurrent extends silently drop each
    other's coverage). ``expect_gen`` is the generation the caller READ
    its inputs from; a lost race raises :class:`PointerRace` and the
    caller must re-read and recompute, because its dirs/coverage math was
    against a pointer that no longer governs.

    Grace semantics unchanged: a REBUILD (``supersede=True``) records the
    superseded build's dirs as ``prev`` — a reader holding the old
    pointer may still be scanning them — and deletes only the GRANDPARENT
    generation's dirs. An EXTENSION keeps the old dirs live and carries
    ``prev`` forward. Older generation FILES are unlinked after a
    successful claim (readers re-glob per probe; their dirs survive via
    the prev window)."""
    idx_root = Path(path) / IDX_DIR
    prior = _read_pointer(path, key_col)
    old_meta, _gen = prior if prior is not None else ({}, 0)
    old_prev = old_meta.get("prev")
    old_prev = (
        [old_prev] if isinstance(old_prev, str) else list(old_prev or [])
    )
    if supersede:
        meta["prev"] = _dirs_of(old_meta)
        doomed = old_prev
    else:
        meta["prev"] = old_prev
        doomed = []
    ptr_tmp = idx_root / f".ptr-{uuid.uuid4().hex}"
    ptr_tmp.write_text(json.dumps(meta))
    dest = idx_root / f"bloom-{key_col}.g{expect_gen + 1}.json"
    try:
        os.link(ptr_tmp, dest)
    except FileExistsError:
        raise PointerRace(
            f"bloom pointer generation {expect_gen + 1} for {key_col} was "
            "claimed by a concurrent publisher — re-read and recompute"
        )
    finally:
        ptr_tmp.unlink(missing_ok=True)
    # Linearizability check: winners unlink generations <= their own
    # expect_gen, which REOPENS those numbers — a delayed publisher whose
    # target was claimed and then cleaned by two back-to-back winners can
    # link a stale generation "successfully" even though a higher one
    # already governs (readers pick max gen, so its pointer is dead on
    # arrival and its supersede cleanup would run against stale meta).
    # Re-glob after the claim: if any HIGHER generation exists, undo the
    # link and report the race instead of a false success.
    for p in _gen_files(idx_root, key_col):
        if _gen_of(p) > expect_gen + 1:
            dest.unlink(missing_ok=True)
            raise PointerRace(
                f"bloom pointer generation {expect_gen + 1} for {key_col} "
                "was published behind a newer generation — re-read and "
                "recompute"
            )
    # winners clean up: stale generation files and the grandparent
    # generation's now-unreferenced dirs
    for p in _gen_files(idx_root, key_col):
        if _gen_of(p) <= expect_gen:
            p.unlink(missing_ok=True)
    live = set(meta["dirs"]) | set(meta["prev"])
    for g in doomed:
        if g not in live:
            shutil.rmtree(idx_root / g, ignore_errors=True)


def extend_bloom_index(spark: SparkSession, path: str, key_col: str) -> dict | None:
    """Incrementally index ONLY the head files the sidecar has never seen
    — O(new files), the write-time pattern Delta's bloom index uses —
    and publish the merged pointer atomically. Returns the new pointer
    meta, ``None`` when the index already covers the head (steady state:
    two manifest reads, no Spark job), or delegates to
    :func:`build_bloom_index` when there is no index yet or the new
    files OUTGROW the built filter size (a fixed-size filter silently
    saturates into all-maybe — the measured failure the auto-sizing in
    build exists for; extension must never un-size it).

    The coverage contract is unchanged: after publishing, a file is
    prunable iff it is in the pointer ``version``'s manifest (now the
    current head), and files absent from the index dirs within that
    coverage are null-only files, prunable by construction. Probes union
    all dirs in one word-pushed scan.

    Race-safe (r12): the extension's content — which files are new, which
    dirs it merges with — depends on the pointer it read, so the publish
    is a generation CAS; a lost race discards this attempt's dir and
    recomputes against the winner's pointer (whose extension may already
    cover everything, making the retry a no-op)."""
    head = S.latest_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    for _ in range(16):
        prior = _read_pointer(path, key_col)
        if prior is None:
            return build_bloom_index(spark, path, key_col)
        meta, gen = prior
        m = S.manifest(path, head)
        if not m["files"]:
            return None  # empty head — existing pointer left in place
        covered = {f["path"] for f in S.manifest(path, meta["version"])["files"]}
        new_files = [f for f in m["files"] if f["path"] not in covered]
        if not new_files:
            return None  # head ⊆ coverage (or equal) — nothing to do
        bits = meta.get("bits", _MIN_BITS)
        max_rows = max((f.get("rows", 0) for f in new_files), default=0)
        if BITS_PER_KEY * max(1, max_rows) > bits and bits < _MAX_BITS:
            # a new file would saturate the existing filter size: re-size
            # by full rebuild (reserved for exactly this and key changes)
            return build_bloom_index(spark, path, key_col)
        df = S._read_files(
            spark, path, new_files, schema=m["schema"], renames=m.get("renames"),
        )
        kind = df.schema[key_col].dataType.typeName()
        if kind not in ("integer", "long", "short", "byte", "string", "date"):
            raise TypeError(
                f"bloom index key {key_col} has type {kind}: float/decimal/"
                "timestamp keys render differently in Python str() and Spark "
                "CAST AS STRING, so the probe could false-negative — index an "
                "integral/string key instead"
            )
        dest = _write_idx_dir(
            path, key_col, head, _bloom_words(df, key_col, bits)
        )
        new_meta = {
            "dirs": _dirs_of(meta) + [dest.name],
            "version": head,
            "n_files": len(m["files"]),
            "bits": bits,
        }
        try:
            _publish_pointer(
                path, key_col, new_meta, supersede=False, expect_gen=gen
            )
            return new_meta
        except PointerRace:
            # the dirs/coverage math above was against a superseded
            # pointer: drop this attempt's dir and recompute
            shutil.rmtree(dest, ignore_errors=True)
            continue
    raise RuntimeError(f"bloom pointer contention on {key_col} at {path}")


def _need_words(value, bits: int) -> dict[int, int]:
    """The probe's k positions as {word: required-bits mask} — pure md5
    arithmetic computed DRIVER-side (hashlib mirrors bloom_positions
    exactly; the shared arithmetic is pinned by a test)."""
    import hashlib

    from ..operators.bloom import BLOOM_HASHES, WORD_BITS

    need: dict[int, int] = {}
    for j in range(BLOOM_HASHES):
        pos = int(hashlib.md5(f"{j}:{value}".encode()).hexdigest()[:8], 16) % bits
        need[pos // WORD_BITS] = need.get(pos // WORD_BITS, 0) | (
            1 << (pos % WORD_BITS)
        )
    return need


def _maybe_files(
    spark: SparkSession, path: str, key_col: str, values: list
) -> tuple[set[str], dict] | None:
    """(file paths the index CANNOT rule out for ANY of ``values``, the
    pointer meta the probe actually used) — or None when no index exists
    (prune nothing). Meta rides along so the caller derives coverage
    from the SAME pointer read (a concurrent rebuild between two reads
    would otherwise prune files the probe never saw). ONE word-pushed
    scan of the sidecar covers every probe value: the scan reads only
    the union of the k words each value hashes to."""
    prior = _read_pointer(path, key_col)
    if prior is None:
        return None
    meta, _gen = prior
    bits = meta.get("bits", _MIN_BITS)
    needs = {str(v): _need_words(v, bits) for v in values}
    all_words = {w for need in needs.values() for w in need}
    if not all_words:
        return set(), meta
    idx = spark.read.parquet(
        *[str(Path(path) / IDX_DIR / d) for d in _dirs_of(meta)]
    )
    words = [int(w) for w in all_words]
    if len(words) <= 128:
        hit = idx.where(F.col("word").isin(*words))
    else:
        # the r13 literal-tax rule: F.lit/isin cost one py4j round trip
        # per value — a multi-thousand-key probe (CDC bloom prune, a
        # scoped read's key set) builds its word filter as one local
        # broadcast semi-join instead
        wdf = local_frame(spark, [(w,) for w in words], "word long")
        hit = idx.join(F.broadcast(wdf), "word", "left_semi")
    rows = hit.select("file", "word", "bits").collect()
    got: dict[str, dict[int, int]] = {}
    for r in rows:
        got.setdefault(r.file, {})[r.word] = r.bits
    return _survivors(got, needs), meta


def _survivors(
    got: dict[str, dict[int, int]], needs: dict[str, dict[int, int]]
) -> set[str]:
    """A file survives if SOME value's words are all present with all
    bits set; a missing word row means an unset bit -> that value is
    ruled out for that file."""
    return {
        f
        for f, words in got.items()
        if any(
            all(words.get(w, 0) & req == req for w, req in need.items())
            for need in needs.values()
        )
    }


def maybe_files_local(
    path: str, key_col: str, values: list
) -> tuple[set[str], dict] | None:
    """SparkSession-less twin of :func:`_maybe_files` (pyarrow dataset
    read with a pushed ``word IN`` filter) for contexts that plan reads
    without a session — the streaming source's ``partitions()`` runs in
    the driver's Python worker where no SparkSession exists. Identical
    hash positions and survivor rule, so the two probes prune the same
    files; cost is one filtered scan of the sidecar's word rows."""
    prior = _read_pointer(path, key_col)
    if prior is None:
        return None
    meta, _gen = prior
    bits = meta.get("bits", _MIN_BITS)
    needs = {str(v): _need_words(v, bits) for v in values}
    all_words = {int(w) for need in needs.values() for w in need}
    if not all_words:
        return set(), meta
    import pyarrow.dataset as ds

    # pyarrow datasets take FILE lists, not directory lists
    srcs = [
        str(f)
        for d in _dirs_of(meta)
        for f in sorted((Path(path) / IDX_DIR / d).glob("*.parquet"))
    ]
    dset = ds.dataset(srcs, format="parquet")
    t = dset.to_table(
        columns=["file", "word", "bits"],
        filter=ds.field("word").isin(sorted(all_words)),
    )
    got: dict[str, dict[int, int]] = {}
    for f, w, b in zip(
        t.column("file").to_pylist(),
        t.column("word").to_pylist(),
        t.column("bits").to_pylist(),
    ):
        got.setdefault(f, {})[w] = b
    return _survivors(got, needs), meta


def prune_file_list_local(
    path: str, key_col: str, values: list, files: list[dict]
) -> list[dict]:
    """SparkSession-less twin of :func:`prune_file_list` — same coverage
    contract (files outside the indexed version are always kept)."""
    probed = maybe_files_local(path, key_col, values)
    if probed is None:
        return files
    maybe, meta = probed
    covered = {f["path"] for f in S.manifest(path, meta["version"])["files"]}
    return [
        f for f in files if f["path"] not in covered or f["path"] in maybe
    ]


def maybe_rebuild_bloom_index(
    spark: SparkSession, path: str, key_col: str, max_stale_files: int = 16
) -> dict | None:
    """Maintenance POLICY (the twin of ``snapshots.maybe_compact_snapshot``):
    every head file the index never saw is read UNPRUNED by point
    lookups, so staleness degrades the index gracefully toward a full
    scan. When more than ``max_stale_files`` of the head's files are
    outside the indexed version's manifest (post-build appends, rollback
    re-exposures), EXTEND the index over just those files (r10 —
    O(new files), never the O(table) rescan; ``extend_bloom_index``
    itself escalates to a full rebuild only on saturation or a missing
    index). The under-threshold check is two manifest reads + one
    pointer read — no Spark job. Returns the new pointer, or None if
    fresh enough (or the head is empty)."""
    head = S.latest_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    prior = _read_pointer(path, key_col)
    if prior is not None:
        meta, _gen = prior
        covered = {f["path"] for f in S.manifest(path, meta["version"])["files"]}
        stale = sum(
            1 for f in S.manifest(path, head)["files"] if f["path"] not in covered
        )
        if stale <= max_stale_files:
            return None
        return extend_bloom_index(spark, path, key_col)
    return build_bloom_index(spark, path, key_col)


def compact_bloom_index(
    spark: SparkSession, path: str, key_col: str, max_dirs: int = 8
) -> dict | None:
    """Fold the sidecar's accumulated extension dirs back into ONE parquet
    dir once the pointer lists more than ``max_dirs`` (r11 verdict #3: at
    streaming-sink cadence extensions accrue one small dir each, and every
    probe pays a per-dir file-open, so the union's cost drifts from data
    volume to dir count). The fold re-reads the SIDECAR rows — O(index),
    never O(data) — re-aggregates per (file, word) (extensions cover
    disjoint file sets, so this is a concatenation; the bit_or makes it
    idempotent regardless), and publishes through the same grace-window
    CAS a rebuild uses: old dirs become ``prev`` for in-flight readers,
    the grandparent generation's dirs are swept. Probes are bit-identical
    before and after (gated in tests). Returns the new pointer meta or
    None when under threshold / no index."""
    for _ in range(16):
        prior = _read_pointer(path, key_col)
        if prior is None:
            return None
        meta, gen = prior
        dirs = _dirs_of(meta)
        if len(dirs) <= max_dirs:
            return None
        idx = spark.read.parquet(
            *[str(Path(path) / IDX_DIR / d) for d in dirs]
        )
        folded = idx.groupBy("file", "word").agg(
            F.bit_or("bits").alias("bits")
        )
        dest = _write_idx_dir(path, key_col, meta["version"], folded)
        new_meta = {
            "dirs": [dest.name],
            "version": meta["version"],
            "n_files": meta.get("n_files"),
            "bits": meta.get("bits", _MIN_BITS),
        }
        try:
            _publish_pointer(
                path, key_col, new_meta, supersede=True, expect_gen=gen
            )
            return new_meta
        except PointerRace:
            # an extend/rebuild won: the fold's input set is stale
            shutil.rmtree(dest, ignore_errors=True)
            continue
    raise RuntimeError(f"bloom pointer contention on {key_col} at {path}")


def sweep_bloom_orphans(
    path: str, min_age_sec: float = 3600.0
) -> list[str]:
    """Remove sidecar dirs no pointer references — debris from crashed
    builders and publish-race losers that died before their own cleanup.
    A dir younger than ``min_age_sec`` is NEVER swept: an in-flight
    extension writes its dir BEFORE claiming the pointer, and sweeping
    that window would leave the winner's pointer referencing a deleted
    dir. Returns the removed dir names (for the maintenance report)."""
    import time

    idx_root = Path(path) / IDX_DIR
    if not idx_root.exists():
        return []
    live: set[str] = set()
    keys = {
        parsed[0]
        for p in idx_root.glob("bloom-*.json")
        if (parsed := _parse_ptr_name(p.name)) is not None
    }
    for key in keys:
        prior = _read_pointer(path, key)
        if prior is not None:
            meta, _gen = prior
            live |= set(_dirs_of(meta)) | set(meta.get("prev") or [])
    removed = []
    now = time.time()
    for d in idx_root.iterdir():
        if not d.is_dir() or d.name in live:
            continue
        try:
            if now - d.stat().st_mtime < min_age_sec:
                continue
        except OSError:
            continue  # vanished concurrently
        shutil.rmtree(d, ignore_errors=True)
        removed.append(d.name)
    return removed


def prune_file_list(
    spark: SparkSession, path: str, key_col: str, values: list, files: list[dict]
) -> list[dict]:
    """Advisory prune of an ARBITRARY manifest file list: drop the files
    the index provably rules out for every probe value; files outside the
    indexed version's coverage are always kept (same exactness contract
    as :func:`read_points`, factored out so other metadata-driven scans —
    the CDC feed's eq-delete branch — can prune with the same sidecar).
    With no index published, returns ``files`` unchanged."""
    probed = _maybe_files(spark, path, key_col, values)
    if probed is None:
        return files
    maybe, meta = probed
    covered = {f["path"] for f in S.manifest(path, meta["version"])["files"]}
    return [
        f
        for f in files
        if f["path"] not in covered or f["path"] in maybe
    ]


def read_points(
    spark: SparkSession, path: str, key_col: str, values: list
) -> DataFrame:
    """Batched point lookup through the index: prune the head manifest's
    files to those the Bloom cannot rule out for ANY probe value (files
    the index never saw are always kept), read the survivors DV-aware,
    and re-apply the IN predicate. Equals a full-scan filter by
    construction; the whole probe costs one word-pushed index scan
    regardless of how many keys are batched.

    Coverage is EXACT, not heuristic: a file is prunable only when it
    was part of the indexed version's own manifest (one O(1)-checkpointed
    manifest read). An added_v comparison would be wrong under rollback
    — a rollback can re-expose files OLDER than the build that the
    build's head didn't contain, and those must be read."""
    head = S.latest_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    m = S.manifest(path, head)
    # files not in the indexed version's manifest (post-build append,
    # rollback re-exposure) are kept: the index knows nothing about them
    files = prune_file_list(spark, path, key_col, values, m["files"])
    wanted = [str(v) for v in values]

    def _residual(df):
        if len(wanted) <= 128:
            return df.where(F.col(key_col).cast("string").isin(*wanted))
        # r13 literal-tax rule: big probe sets filter through one local
        # broadcast semi-join, not thousands of py4j literal round trips
        kdf = local_frame(spark, [(w,) for w in wanted], "_probe string")
        return df.join(
            F.broadcast(kdf),
            df[key_col].cast("string") == kdf["_probe"],
            "left_semi",
        )

    if not files:
        return _residual(S._empty_like(spark, path).drop(S.TXN_COL))
    df = S._apply_dvs(
        spark,
        S._read_files(
            spark, path, files, schema=m["schema"], renames=m.get("renames"),
        ),
        m,
        path,
    ).drop(S.TXN_COL)
    return _residual(df)


def read_point(spark: SparkSession, path: str, key_col: str, value) -> DataFrame:
    """Single-key point lookup — ``read_points`` with one probe value."""
    return read_points(spark, path, key_col, [value])
