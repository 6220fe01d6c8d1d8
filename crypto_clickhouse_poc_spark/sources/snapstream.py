"""Streaming SOURCE over the snapshot log (the Delta streaming-source
analog, built on Spark 4's Python DataSource API).

``plans/snapshots.py`` gives batch consumers ``read_changes`` — poll a
version checkpoint, process the delta. This module removes the polling:
the snapshot log becomes a first-class ``readStream`` source whose OFFSET
IS THE VERSION NUMBER, so Structured Streaming's own checkpointing stores
"which commit have I consumed" and restarts resume exactly.

    spark.dataSource.register(SnapshotCommitsDataSource)
    df = (spark.readStream.format("snapshot_commits")
          .option("path", table_path).load())

Semantics and scale shape:

- ``latestOffset`` is one log-directory stat (never touches data);
  ``partitions(start, end)`` is a manifest diff — the files ADDED in
  (start, end] — with ONE InputPartition per file, so the read work
  fans out to executors and a micro-batch's cost is O(new data).
- Each partition reads its parquet file with pyarrow and yields Arrow
  RecordBatches (the API's zero-copy path — rows never materialize in
  Python), plus the commit lineage (txn) and partition month as columns.
- Bootstrap from the default ``startingVersion=-1`` is an initial
  SNAPSHOT of the start head's manifest (the Delta-source contract):
  a compacted/retained history's current file list IS the current rows,
  so a table maintained by ``maybe_compact_snapshot`` boots fine. A
  DV-carrying head boots too (r9): the deletion vectors' positions are
  grouped per file driver-side and dropped in each partition's Arrow
  reader — the bootstrap equals ``read_snapshot``'s merge-on-read view.
  EQUALITY deletes boot as well (r12 single-column, r13 composite —
  upserts make them routine): the O(keys) key sets are read driver-side
  and each partition anti-filters its key column(s) with a vectorized
  ``is_in`` (one column) or a pandas MultiIndex anti-``isin`` (composite
  keys), sequenced by the same added_v-vs-entry-version rule
  ``_apply_dvs`` uses.
- AFTER bootstrap, the stream dispatches on what each commit MEANS
  (r10): WRITER-FLAGGED layout-only commits (``data_change=False`` —
  bin-packing optimize, MV partial compaction) are SKIPPED, exactly
  Delta's native skip of dataChange=false files, so background
  maintenance never kills a live stream. Deleting commits (position/
  equality deletes, retention) fail the batch by default — an
  append-only stream cannot retract rows it already emitted — unless
  ``ignoreDeletes=true`` (Delta's option of the same name: the TABLE
  reflects the delete; the stream is the history of appends).
  ``ignoreChanges=true`` (r12, Delta's stronger option, implies
  ignoreDeletes) additionally CONSUMES merge/upsert commits by emitting
  their ADDED files' rows — with Delta's documented caveat verbatim:
  rows a rewrite carried unchanged are re-emitted, so downstream must
  tolerate duplicates (idempotent sink or dedup key). Narrower than
  Delta in one honest way: genuine visibility rewrites (the deduping
  compact, rollback, rebuild) still fail the batch rather than
  re-emitting the whole table; restart above the rewrite
  (``startingVersion``) to resume.
- ``readChangeFeed=true`` (r14, Delta CDF's streaming mode): instead of
  choosing between failing and duplicating, the stream emits the CHANGE
  rows — every row carries ``_change_type`` ('insert' | 'delete') and
  ``_commit_version`` — derived per commit from the log's own metadata
  exactly as the batch ``read_changes_cdc`` derives them (appends =
  added files as inserts; overwrite/retention/merge = removed files'
  pre-commit-visible rows as deletes + added files as inserts;
  position deletes = exactly the DV'd rows; eq-delete/upsert = the
  pre-commit snapshot's rows matching the new key sets as deletes,
  manifest-key-stat-pruned on a clustered layout). A downstream
  aggregation that folds inserts positively and deletes negatively
  stays EXACT across a backfill — no idempotent sink or dedup key
  required. Bootstrap emits the initial snapshot as inserts. The
  eq-delete leg is the one documented non-O(new-data) cost (the keys
  alone don't say which rows they hit): candidate files = the
  pre-commit manifest, pruned by per-file key [min,max] stats, one
  partition per surviving file. Visibility rewrites still refuse.

The schema is the head manifest's logged table schema (one JSON read,
no parquet footer; evolved columns null-filled for files that predate
them) + the two path-derived string columns; like every snapshot
reader, files are never listed from storage — the manifest is the
listing.

Schema evolution mid-stream (the declared schema is pinned at stream
start): RENAME/DROP COLUMN in the offset range fails the batch with
restart instructions (``_refuse_schema_edits`` — Delta's metadata-change
behavior); ADD COLUMN null-fills, as the batch read does; TYPE WIDENING (r16)
is ALLOWED like ADD COLUMN — every emitted column is cast to the
stream's declared type (pre-widen narrow files upcast losslessly under
a wide start-time schema; a widen made AFTER stream start keeps flowing
exactly while new values still fit the narrow declared type, and the
first value that doesn't fails the batch loudly with restart
instructions — a restart adopts the widened logged schema). The
eq-delete legs align key sets and file columns on a common type by
casting the FILE column UP when a key only fits the widened type, so a
wide erasure key matches nothing in narrow-era files instead of
raising.

Known boundary — admission control: Delta's ``maxFilesPerTrigger``
pacing is NOT implementable on Spark 4's Python DataSource streaming
API — ``latestOffset()`` receives neither the start offset nor a
ReadLimit, so a capped offset computed from reader-local state could
land BELOW a restart's checkpoint and make the engine re-emit the gap
(offset regression = duplicates). Until the API grows admission
control, a large catch-up range arrives as one micro-batch; bound it
operationally with ``startingVersion``.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ..plans.snapshots import CDC_TYPE, CDC_VERSION, PARTITION_COL, TXN_COL
from ..plans.snapshots import manifest_delta, prune_files_by_values
from ..plans.snapshots import head_schema, rename_map_for_file
from ..plans.snapshots import _eq_keys, _version_body
from ..plans.snapshots import changed_meta as _changed_meta
from ..plans.snapshots import latest_version as _head
from ..plans.snapshots import manifest as _manifest

_ARROW_TO_DDL = {
    "int64": "bigint",
    "int32": "int",
    "int16": "smallint",
    "int8": "tinyint",
    "double": "double",
    "float": "float",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "binary": "binary",
    "date32[day]": "date",
}


def _stored_schema(path: str):
    """The head manifest's LOGGED table schema as the stream's StructType
    — plus the two path-derived string columns. One JSON stat; zero
    footer reads, so a stream (re)start over a million-file table costs
    the same as over ten."""
    from pyspark.sql.types import StringType, StructType

    st = StructType.fromJson(head_schema(path))
    # a column the Arrow reader can't NULL-FILL (read() builds absent
    # columns via _arrow_type) must fail the stream START with a clear
    # error, not a KeyError inside a running micro-batch the day a
    # pre-evolution file shows up (r13 review finding)
    unmappable = [
        (f.name, f.dataType.simpleString())
        for f in st.fields
        if not _fillable_ddl(f.dataType.simpleString())
    ]
    if unmappable:
        raise TypeError(
            f"unmapped column types for streaming: {unmappable} — the "
            "stream's evolution null-fill supports primitive types only"
        )
    return st.add(TXN_COL, StringType()).add(PARTITION_COL, StringType())


def _ddl_of_arrow(t) -> str | None:
    """Spark DDL for an Arrow type, or None when unmapped (the emit-cast
    diagnosis)."""
    s = str(t)
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("decimal128("):
        return "decimal" + s[len("decimal128"):].replace(" ", "")
    return _ARROW_TO_DDL.get(s)


# Spark DDL <-> typeName bridge for _widen_primitive (which speaks
# typeName: byte/short/integer/long; DDL says tinyint/smallint/int/bigint)
_DDL_TO_NAME = {"tinyint": "byte", "smallint": "short", "int": "integer",
                "bigint": "long"}
_NAME_TO_DDL = {v: k for k, v in _DDL_TO_NAME.items()}


def _widen_ddl(a: str, b: str) -> str | None:
    """The wider of two DDL types under the log's LOSSLESS widening
    rules (snapshots._widen_primitive), or None when the pair is not a
    within-family widening."""
    from ..plans.snapshots import _widen_primitive

    w = _widen_primitive(_DDL_TO_NAME.get(a, a), _DDL_TO_NAME.get(b, b))
    return None if w is None else _NAME_TO_DDL.get(w, w)


def _eq_filters(
    path: str, eq_dvs: list[dict], columns: list[tuple[str, str]]
) -> list[tuple[tuple[str, ...], list, int]]:
    """[(key columns, key values, sequencing version)] from the
    manifest's equality-delete entries — one driver-side read of the
    O(keys) key set per entry (``snapshots._eq_keys``, typed by the
    stream's declared ``columns``), at bootstrap only. Single-column
    entries carry a plain list of the non-null values (a null key
    matches nothing; vectorized ``is_in`` anti-filter per partition);
    composite entries (r13) carry a list of key TUPLES, applied per
    partition through a pandas MultiIndex ``isin`` — still one
    vectorized pass per Arrow batch, never a per-row Python loop."""
    import pyarrow as pa

    declared = dict(columns)
    out = []
    for e in eq_dvs:
        cols = tuple(e["cols"])
        t = _eq_keys(
            path, e, pa.schema([(c, _arrow_type(declared[c])) for c in cols])
        )
        if len(cols) == 1:
            keys: list = [k for k in t.column(0).to_pylist() if k is not None]
        else:
            keys = list(zip(*(t.column(c).to_pylist() for c in cols)))
        out.append((cols, keys, e["v"]))
    return out


def _dv_positions(path: str, dvs: list[dict]) -> dict[str, list[int]]:
    """{target file relative path: deleted row positions} from the
    manifest's deletion-vector entries — one pyarrow read of the
    O(deleted rows) DV set, driver-side, at bootstrap only."""
    import pyarrow.parquet as pq

    out: dict[str, list[int]] = {}
    for e in dvs:
        t = pq.read_table(
            str(Path(path) / e["path"]), columns=["_dv_target_file", "_dv_target_pos"]
        )
        for f, p in zip(
            t.column("_dv_target_file").to_pylist(),
            t.column("_dv_target_pos").to_pylist(),
        ):
            out.setdefault(f, []).append(p)
    return out


def _refuse_schema_edits(meta, since: int, to: int) -> None:
    """A RENAME/DROP COLUMN commit inside the offset range changes the
    stream's column contract mid-flight: rows already emitted carry the
    old names, and the declared start-time schema can't express the new
    ones — the Delta streaming source fails on metadata changes for the
    same reason. Fail the batch with restart instructions (a fresh start
    reads the CURRENT logged schema and the era map translates old
    files)."""
    edits = [
        (since + 1 + i, op)
        for i, (op, _dc) in enumerate(meta)
        if op in ("rename_column", "drop_column")
    ]
    if edits:
        raise ValueError(
            f"schema-edit commits {edits} in ({since}, {to}] — the "
            "stream's declared schema predates them; restart the stream "
            "(the restart reads the current logged schema, and old files "
            "translate through the column-mapping era map)"
        )


class SnapshotCommitsDataSource(DataSource):
    """``format("snapshot_commits")``: stream a snapshot table's commits.

    Options: ``path`` (required), ``startingVersion`` (default: -1 =
    from the beginning; pass the current head to tail only new commits),
    ``ignoreDeletes`` (default false: a delete commit fails the batch;
    true skips it — the stream remains the history of appends),
    ``ignoreChanges`` (default false; true implies ignoreDeletes and
    additionally emits merge/upsert commits' ADDED files — duplicates
    possible, the Delta contract), ``readChangeFeed`` (default false;
    true emits CHANGE rows tagged ``_change_type``/``_commit_version``
    — deletes become retraction rows, so a signed downstream fold stays
    exact across overwrite/upsert/delete commits).
    """

    @classmethod
    def name(cls) -> str:
        return "snapshot_commits"

    def _flag(self, name: str) -> bool:
        return str(self.options.get(name, "false")).lower() == "true"

    def schema(self):
        st = _stored_schema(self.options["path"])
        if self._flag("readChangeFeed"):
            from pyspark.sql.types import LongType, StringType

            st = st.add(CDC_TYPE, StringType()).add(CDC_VERSION, LongType())
        return st

    def streamReader(self, schema) -> "SnapshotStreamReader":
        sv = str(self.options.get("startingVersion", "-1"))
        ts_opt = self.options.get("startingTimestamp")
        if ts_opt is not None:
            # Delta parity (r15): start from the first commit stamped AT
            # OR AFTER the timestamp — resolved once here to an
            # exclusive start version (the newest commit strictly older
            # than the cutoff). A cutoff predating the whole log
            # degrades to the full bootstrap read, which a fold consumer
            # cannot distinguish from a replay of all history.
            if "startingVersion" in self.options:
                raise ValueError(
                    "startingVersion and startingTimestamp are mutually "
                    "exclusive"
                )
            import datetime as _dt

            try:
                when = float(ts_opt)
            except ValueError:
                parsed = _dt.datetime.fromisoformat(str(ts_opt))
                if parsed.tzinfo is None:
                    parsed = parsed.replace(tzinfo=_dt.timezone.utc)
                when = parsed.timestamp()
            from ..plans.snapshots import _last_version_at

            head = _head(self.options["path"])
            # O(log history) binary search over the non-decreasing
            # commit stamps (r16 — the linear walk read the WHOLE log
            # at stream start for a cutoff near its origin)
            start = (
                -1
                if head is None
                else _last_version_at(
                    self.options["path"], head, when, strict=True
                )
            )
            sv = str(start)
            import logging

            logging.getLogger(__name__).info(
                "snapshot_commits: startingTimestamp=%s resolved to "
                "exclusive start version %s for %s",
                ts_opt,
                sv,
                self.options["path"],
            )
        if sv.lower() == "latest":
            # Delta parity: tail only commits made AFTER the stream
            # starts — resolve the current head once, here (a fresh
            # checkpoint stores it; restarts resume from theirs)
            head = _head(self.options["path"])
            sv = "-1" if head is None else str(head)
            # a stream that silently skipped history is hard to audit
            # (r14 verdict #4): record the resolved head. It is also
            # durably observable as the first progress event's
            # sources[0].startOffset (initialOffset == this version) —
            # gated in tests.
            import logging

            logging.getLogger(__name__).info(
                "snapshot_commits: startingVersion=latest resolved to "
                "version %s for %s (history up to and including it is "
                "skipped)",
                sv,
                self.options["path"],
            )
        return SnapshotStreamReader(
            self.options["path"],
            int(sv),
            [(f.name, f.dataType.simpleString()) for f in schema.fields],
            ignore_deletes=self._flag("ignoreDeletes"),
            ignore_changes=self._flag("ignoreChanges"),
            change_feed=self._flag("readChangeFeed"),
        )


# the DDL strings read()'s null-fill can materialize (keys of
# _arrow_type's mapping, plus parametric decimal(p,s)) —
# _stored_schema gates stream start on these
_ARROW_FILL_TYPES = frozenset(
    (
        "bigint", "int", "smallint", "tinyint", "double", "float",
        "string", "boolean", "binary", "date", "timestamp",
    )
)

_DECIMAL_DDL = __import__("re").compile(r"decimal\((\d+),(\d+)\)$")


def _fillable_ddl(ddl: str) -> bool:
    return ddl in _ARROW_FILL_TYPES or bool(_DECIMAL_DDL.match(ddl))


# Spark DDL -> arrow type, for null-filling a declared column that a
# pre-evolution file lacks (inverse of _ARROW_TO_DDL's value set)
def _arrow_type(ddl: str):
    import pyarrow as pa

    m = _DECIMAL_DDL.match(ddl)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return {
        "bigint": pa.int64(),
        "int": pa.int32(),
        "smallint": pa.int16(),
        "tinyint": pa.int8(),
        "double": pa.float64(),
        "float": pa.float32(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
    }[ddl]


def _align_keys(col, keys):
    """(probe column, value set) on a common Arrow type for the
    eq-delete legs. Keys cast DOWN to the file column's type when every
    value fits (pyarrow's safe cast — exact or it refuses); otherwise
    the FILE column casts UP to the key type (r16, the widen seam: an
    erasure key that only fits the WIDENED type, probed against a
    pre-widen narrow-era file, must match nothing — the old key-set
    downcast raised ArrowInvalid mid-partition instead). Both directions
    are value-exact, so the membership test is unchanged whenever the
    old path worked at all."""
    import pyarrow as pa

    vals = pa.array(keys)
    if vals.type == col.type:
        return col, vals
    try:
        return col, vals.cast(col.type)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return col.cast(vals.type), vals


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        path: str,
        starting_version: int,
        columns: list[tuple[str, str]],
        ignore_deletes: bool = False,
        ignore_changes: bool = False,
        change_feed: bool = False,
    ):
        self.path = path
        self.start_version = starting_version
        self.columns = columns
        self.ignore_deletes = ignore_deletes or ignore_changes
        self.ignore_changes = ignore_changes
        self.change_feed = change_feed

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def _wmap(self, renames: list | None, added_v: int) -> dict:
        """{written name -> current logical name} for a file of this
        era — {} in the common no-renames case. Logical candidates are
        the stream's declared data columns (path/CDC columns excluded)."""
        if not renames:
            return {}
        skip = {TXN_COL, PARTITION_COL, CDC_TYPE, CDC_VERSION}
        logical = [n for n, _ in self.columns if n not in skip]
        return {
            w: l
            for l, w in rename_map_for_file(renames, logical, added_v).items()
        }

    def latestOffset(self) -> dict:
        head = _head(self.path)
        return {"version": self.start_version if head is None else head}

    def partitions(self, start: dict, end: dict):
        since, to = start["version"], end["version"]
        if to <= since:
            return []
        if since < 0:
            # bootstrap from "the beginning": serve the START HEAD's
            # manifest as an initial SNAPSHOT (the Delta-source contract —
            # a compacted/retained history's current file list IS the
            # current rows, so a table maintained by maybe_compact_snapshot
            # still boots); the append-only check applies from here on.
            # A DV-carrying head bootstraps too (r9): the deletion
            # vectors' (file, position) pairs are grouped per target file
            # HERE — one driver-side read of the O(deleted rows) DV set —
            # and each partition's reader drops its own positions, the
            # same anti-join semantics as _apply_dvs without a join.
            m0 = _manifest(self.path, to)
            # equality deletes (r12/r13 — upserts make them routine):
            # entries are applied in each partition's Arrow reader (one
            # driver-side read of the O(keys) key file here; a vectorized
            # is_in anti-filter for single-column keys, a MultiIndex
            # anti-isin for composite keys there, sequenced by the same
            # added_v-vs-entry-version rule _apply_dvs uses).
            eq_specs = _eq_filters(self.path, m0.get("eq_dvs", []), self.columns)
            dv_pos = _dv_positions(self.path, m0.get("dvs", []))
            ren0 = m0.get("renames")
            return [
                InputPartition(
                    (
                        str(Path(self.path) / f["path"]),
                        f["path"],
                        sorted(dv_pos.get(f["path"], ())),
                        [
                            (cols, keys)
                            for cols, keys, v in eq_specs
                            if f["added_v"] < v
                        ],
                        "insert",
                        to,
                        None,
                        self._wmap(ren0, f["added_v"]),
                    )
                )
                for f in m0["files"]
            ]
        elif self.change_feed:
            return self._cdc_partitions(since, to)
        else:
            meta = _changed_meta(self.path, since, to)
            _refuse_schema_edits(meta, since, to)
            skippable = (
                {"delete", "eq_delete", "retention"}
                if self.ignore_deletes
                else set()
            )
            # ignoreChanges (Delta semantics, r12): merge/upsert/overwrite
            # commits are consumed by emitting their ADDED files —
            # duplicates possible when a rewrite carried rows unchanged
            # (for overwrite: the month's full new content re-emits,
            # Delta's documented overwrite-under-ignoreChanges behavior)
            emit = {"append"} | (
                {"merge", "upsert", "overwrite"} if self.ignore_changes else set()
            )
            bad = sorted(
                {
                    op
                    for op, dc in meta
                    if dc and op not in emit and op not in skippable
                }
            )
            if bad:
                raise ValueError(
                    f"non-append ops {bad} in ({since}, {to}] — a rewrite "
                    "inside the offset range; restart the stream with "
                    f"startingVersion > {to} (rewritten files are visibility "
                    "changes, not new rows; delete commits can be skipped "
                    "with ignoreDeletes=true, merge/upsert consumed with "
                    "ignoreChanges=true)"
                )
            # per-commit added files (added_v == v): a path diff across the
            # whole range would mis-emit a skipped layout op's rewrites.
            # manifest_delta loads only each commit's CHANGED month
            # shards, so a long catch-up read costs O(appends), never
            # O(range x month-shards) (r10 ADVICE on this exact path)
            added = []
            for v, (op, dc) in zip(range(since + 1, to + 1), meta):
                if not dc or op not in emit:
                    continue  # flagged layout op, or a skipped delete
                added.extend(manifest_delta(self.path, v)[0])
        ren_to = _version_body(self.path, to).get("renames")
        return [
            InputPartition(
                (str(Path(self.path) / f["path"]), f["path"], [], [],
                 "insert", to, None,
                 self._wmap(ren_to, f["added_v"]))
            )
            for f in added
        ]

    # ops the change feed can represent — mirror of snapshots._CDC_COVERED
    _FEED_COVERED = frozenset(
        ("append", "delete", "eq_delete", "retention", "merge", "upsert",
         "overwrite")
    )

    def _part(self, f: dict, dv_pos, eq_anti, change: str, v: int, select,
              wmap: dict | None = None):
        return InputPartition(
            (
                str(Path(self.path) / f["path"]),
                f["path"],
                dv_pos,
                eq_anti,
                change,
                v,
                select,
                wmap or {},
            )
        )

    def _cdc_partitions(self, since: int, to: int):
        """The CHANGE-FEED plan for (since, to] — per-commit, the same
        derivation ``read_changes_cdc`` makes Spark-side, expressed as
        pyarrow file partitions: inserts are the commit's added files;
        deletes are (a) removed files' pre-commit-VISIBLE rows (the v-1
        DV/eq filters ride each partition), (b) exactly the rows new
        position-DVs name (a take() of the recorded positions), or
        (c) the pre-commit snapshot's rows matching a new eq-delete's
        key set (candidate files manifest-key-stat-pruned, then an exact
        vectorized IN per partition). Metadata cost is O(changed month
        shards) per commit via manifest_delta; only the eq leg scans
        beyond the commit's own files — the documented CDC exception."""
        parts: list[InputPartition] = []
        meta = _changed_meta(self.path, since, to)
        _refuse_schema_edits(meta, since, to)
        for v, (op, dc) in zip(range(since + 1, to + 1), meta):
            if not dc:
                continue  # writer-declared layout-only commit
            if op not in self._FEED_COVERED:
                raise ValueError(
                    f"op {op!r} at version {v} rewrites visibility — the "
                    "change feed cannot represent it; restart the stream "
                    f"with startingVersion >= {v} to resume from a snapshot"
                )
            pb = {} if v == 0 else _version_body(self.path, v - 1)
            vren = _version_body(self.path, v).get("renames")
            added: list[dict] = []
            removed: list[dict] = []
            if op in ("append", "merge", "retention", "upsert", "overwrite"):
                added, removed = manifest_delta(self.path, v)
            for f in added:
                parts.append(
                    self._part(f, [], [], "insert", v, None,
                               self._wmap(vren, f["added_v"]))
                )
            if removed:
                # deletes = the dropped/rewritten files' rows as visible
                # at v-1: earlier DVs and sequenced eq entries apply
                dv_pos = _dv_positions(self.path, pb.get("dvs", []))
                eq_specs = _eq_filters(self.path, pb.get("eq_dvs", []), self.columns)
                for f in removed:
                    parts.append(
                        self._part(
                            f,
                            sorted(dv_pos.get(f["path"], ())),
                            [
                                (cols, keys)
                                for cols, keys, ev in eq_specs
                                if f["added_v"] < ev
                            ],
                            "delete",
                            v,
                            None,
                            self._wmap(vren, f["added_v"]),
                        )
                    )
            if op == "delete":
                prev = {e["path"] for e in pb.get("dvs", [])}
                new_dvs = [
                    e
                    for e in _version_body(self.path, v).get("dvs", [])
                    if e["path"] not in prev
                ]
                # delete_where records positions of rows VISIBLE at v-1
                # (it evaluates through the head's DVs), so a plain
                # positional take of each target file is exact
                by_rel = {
                    f["path"]: f
                    for f in (_manifest(self.path, v - 1)["files"] if v else [])
                }
                for rel, positions in _dv_positions(self.path, new_dvs).items():
                    fe = by_rel.get(rel, {"path": rel})
                    parts.append(
                        self._part(
                            fe, [], [], "delete", v,
                            ("pos", sorted(positions)),
                            self._wmap(vren, fe["added_v"]),
                        )
                    )
            elif op in ("eq_delete", "upsert"):
                prev = {e["path"] for e in pb.get("eq_dvs", [])}
                new_eq = [
                    e
                    for e in _version_body(self.path, v).get("eq_dvs", [])
                    if e["path"] not in prev
                ]
                if new_eq and v > 0:
                    m_prev = _manifest(self.path, v - 1)
                    pre_dv = _dv_positions(self.path, pb.get("dvs", []))
                    pre_eq = _eq_filters(self.path, pb.get("eq_dvs", []), self.columns)
                    for cols, keys, _ev in _eq_filters(self.path, new_eq, self.columns):
                        files = m_prev["files"]
                        # advisory per-file prunes — key [min,max] stats
                        # (bite on a clustered layout) chained with the
                        # Bloom sidecar when one is published for a key
                        # column (bites on ANY layout); exact IN
                        # re-applied below, so both are semantics-free
                        from ..plans import bloomidx as _bidx

                        for ci, c in enumerate(cols):
                            vals = [
                                x
                                for k in keys
                                for x in [(k if len(cols) == 1 else k[ci])]
                                if x is not None
                            ]
                            files = prune_files_by_values(
                                files, c, vals,
                                renames=m_prev.get("renames"),
                            )
                            if files and _bidx.index_exists(self.path, c):
                                files = _bidx.prune_file_list_local(
                                    self.path, c, vals, files
                                )
                        for f in files:
                            parts.append(
                                self._part(
                                    f,
                                    sorted(pre_dv.get(f["path"], ())),
                                    [
                                        (c2, k2)
                                        for c2, k2, ev2 in pre_eq
                                        if f["added_v"] < ev2
                                    ],
                                    "delete",
                                    v,
                                    ("eq", cols, keys),
                                    self._wmap(vren, f["added_v"]),
                                )
                            )
        return parts

    def read(self, partition: InputPartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        (abs_path, rel, dv_positions, eq_filters, change, version, select,
         wmap) = partition.value
        parts = dict(
            p.split("=", 1) for p in Path(rel).parent.parts if "=" in p
        )
        table = pq.read_table(abs_path)
        if wmap:
            # column mapping (r14): translate this era's written names to
            # the current logical names before any filter/projection
            table = table.rename_columns(
                [wmap.get(c, c) for c in table.column_names]
            )
        if select is not None and select[0] == "pos":
            # change-feed position-delete leg: emit EXACTLY the rows the
            # new DVs name (row order in the file is the position space)
            table = table.take(pa.array(select[1], type=pa.int64()))
        if dv_positions:
            # merge-on-read at bootstrap: drop this file's DV'd row
            # positions (row order in the file IS the position space the
            # DV recorded, the _metadata.row_index convention)
            import numpy as np

            mask = np.ones(table.num_rows, dtype=bool)
            mask[np.asarray(dv_positions, dtype=np.int64)] = False
            table = table.filter(pa.array(mask))
        for cols, keys in eq_filters:
            # merge-on-read for sequenced equality deletes: vectorized
            # anti-IN over the key column(s). Null keys can't match an
            # equality delete (SQL equality), so null rows are always
            # kept and null-carrying delete tuples match nothing.
            import pyarrow.compute as pc

            if any(c not in table.column_names for c in cols):
                # a pre-evolution file lacking a key column: every row's
                # key is null there — nothing can match
                continue
            if len(cols) == 1:
                kcol, vals = _align_keys(table.column(cols[0]), keys)
                table = table.filter(
                    pc.invert(
                        pc.is_in(kcol, value_set=vals)
                    ).fill_null(True)
                )
            else:
                # composite key (r13): one vectorized MultiIndex anti-isin
                # per batch — pandas' hash join, never a per-row loop
                import numpy as np
                import pandas as pd

                kdf = table.select(list(cols)).to_pandas()
                victims = [
                    k for k in keys if all(x is not None for x in k)
                ]
                if not victims:
                    continue
                hit = pd.MultiIndex.from_frame(kdf).isin(
                    pd.MultiIndex.from_tuples(victims, names=list(cols))
                )
                null_any = kdf.isnull().any(axis=1).to_numpy()
                table = table.filter(pa.array(np.asarray(~hit) | null_any))
        if select is not None and select[0] == "eq":
            # change-feed eq-delete leg: KEEP only rows matching the new
            # key set (the inverse of the anti filters above). Null keys
            # never match an equality delete, on either side.
            import pyarrow.compute as pc

            scols, skeys = select[1], select[2]
            if any(c not in table.column_names for c in scols):
                return  # pre-evolution file: key column is all-null there
            if len(scols) == 1:
                victims1 = [k for k in skeys if k is not None]
                if not victims1:
                    return
                kcol, vals = _align_keys(table.column(scols[0]), victims1)
                table = table.filter(
                    pc.is_in(kcol, value_set=vals).fill_null(False)
                )
            else:
                import numpy as np
                import pandas as pd

                victims = [k for k in skeys if all(x is not None for x in k)]
                if not victims:
                    return
                kdf = table.select(list(scols)).to_pandas()
                hit = pd.MultiIndex.from_frame(kdf).isin(
                    pd.MultiIndex.from_tuples(victims, names=list(scols))
                )
                null_any = kdf.isnull().any(axis=1).to_numpy()
                table = table.filter(pa.array(np.asarray(hit) & ~null_any))
        n = table.num_rows
        cols, names = [], []
        for name, ddl in self.columns:
            if name == CDC_TYPE:
                cols.append(pa.array([change] * n, pa.string()))
                names.append(name)
                continue
            if name == CDC_VERSION:
                cols.append(pa.array([version] * n, pa.int64()))
                names.append(name)
                continue
            if name == TXN_COL:
                cols.append(pa.array([parts.get(TXN_COL, "")] * n, pa.string()))
            elif name == PARTITION_COL:
                cols.append(pa.array([parts.get(PARTITION_COL, "")] * n, pa.string()))
            elif name not in table.column_names:
                # declared column absent from this (pre-evolution) file:
                # nulls of the declared type, as the batch read gives
                # (r8 ADVICE — a KeyError here killed the
                # stream on any schema-evolved table)
                cols.append(pa.nulls(n, type=_arrow_type(ddl)))
            else:
                col = table.column(name)
                t = col.type
                if pa.types.is_timestamp(t) and t.tz is not None:
                    col = col.cast(pa.timestamp(t.unit))  # Spark wants naive UTC
                want = _arrow_type(ddl)
                if col.type != want:
                    # normalize every emitted column to the DECLARED type
                    # (r16, the widen seam): a table widened mid-history
                    # serves pre-widen narrow files under the wide logged
                    # schema, and emitting them in their FILE type made
                    # the batch schema disagree with the stream's declared
                    # schema. The upcast is lossless by the widen rules;
                    # the DOWNCAST case is a table widened AFTER stream
                    # start (the declared schema is the start-time schema,
                    # the ADD COLUMN convention) — exact while new values
                    # fit, refused loudly the moment one doesn't.
                    try:
                        col = col.cast(want)
                    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
                        # diagnose precisely (r16 review): only a file
                        # type that is the WIDER within-family twin of
                        # the declared type means "the table was widened
                        # after stream start" — where a restart (which
                        # adopts the widened schema) actually fixes it.
                        # Any other lossy cast (foreign sub-µs
                        # timestamps, cross-family bytes) gets the
                        # generic message, not restart advice that
                        # would loop.
                        fddl = _ddl_of_arrow(col.type)
                        widened = (
                            fddl is not None
                            and fddl != ddl
                            and _widen_ddl(ddl, fddl) == fddl
                        )
                        if widened:
                            raise ValueError(
                                f"column {name!r} in {rel} carries arrow "
                                f"type {col.type} with values that do not "
                                f"fit the stream's declared type {ddl!r} — "
                                "the table was widened after the stream "
                                "started (allowed while values fit, like "
                                "ADD COLUMN); restart the stream to adopt "
                                "the widened schema"
                            ) from e
                        raise ValueError(
                            f"column {name!r} in {rel} has arrow type "
                            f"{col.type} that cannot losslessly cast to "
                            f"the stream's declared type {ddl!r}: {e}"
                        ) from e
                cols.append(col.combine_chunks())
            names.append(name)
        yield from pa.Table.from_arrays(cols, names=names).to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream's own checkpoint

