"""The one store for fitted models and derived tables (``caching.fitted``,
``caching.derived_dir``): reuse while the source bytes are unchanged, a
fresh fit or build when they change, and no per-module copy of the policy
left in ``operators/``."""

from __future__ import annotations

import ast
import os
import tempfile
from pathlib import Path

import pytest

from crypto_clickhouse_poc_spark import caching

OPERATORS = Path(caching.__file__).parent / "operators"


@pytest.fixture
def store(monkeypatch, tmp_path):
    """An empty fit store and a private temp root for derived tables."""
    monkeypatch.setattr(caching, "_FITTED", {})
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tmp_path / "tmp")
    sf = tmp_path / "sf"
    sf.mkdir()
    return sf


def _restamp(path: Path, delta_ns: int) -> None:
    st = path.stat()
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + delta_ns))


def test_fitted_reuses_until_the_bytes_change(store):
    src = store / "t.parquet"
    src.write_bytes(b"one")
    calls = []

    def fit():
        calls.append(1)
        return len(calls)

    assert caching.fitted(str(store), ("t",), ("m",), fit) == 1
    assert caching.fitted(str(store), ("t",), ("m",), fit) == 1
    # same size, mtime moved by one nanosecond: a different set of bytes
    _restamp(src, 1)
    assert caching.fitted(str(store), ("t",), ("m",), fit) == 2
    # other params are another model over the same bytes
    assert caching.fitted(str(store), ("t",), ("m", 2), fit) == 3
    # the refit replaced its entry instead of adding one
    assert len(caching._FITTED) == 2


def test_identity_covers_every_part_file(store):
    parts = store / "t.parquet"
    parts.mkdir()
    (parts / "part-0.parquet").write_bytes(b"a")
    (parts / "part-1.parquet").write_bytes(b"b")
    before = caching._identity(str(store), ("t",))
    assert [rel for rel, _, _ in before] == [
        os.path.join("t.parquet", "part-0.parquet"),
        os.path.join("t.parquet", "part-1.parquet"),
    ]
    (parts / "part-1.parquet").write_bytes(b"bb")
    assert caching._identity(str(store), ("t",)) != before


def test_derived_dir_builds_once_per_identity(store):
    src = store / "t.parquet"
    src.write_bytes(b"one")
    built = []

    def build(tmp):
        built.append(tmp)
        os.makedirs(tmp)
        Path(tmp, "data").write_text(str(len(built)))

    first = caching.derived_dir(str(store), ("t",), ("x",), build)
    assert caching.derived_dir(str(store), ("t",), ("x",), build) == first
    assert len(built) == 1 and Path(first, "data").read_text() == "1"
    _restamp(src, 1)
    second = caching.derived_dir(str(store), ("t",), ("x",), build)
    assert second != first and Path(second, "data").read_text() == "2"
    assert caching.derived_dir(str(store), ("t",), ("y",), build) not in (first, second)


def test_derived_dir_race_loser_discards_its_build(store):
    (store / "t.parquet").write_bytes(b"one")

    def build(tmp):
        os.makedirs(tmp)
        Path(tmp, "data").write_text("loser")
        # another process publishes while this build is in flight
        dest = tmp.rsplit(".build-", 1)[0]
        os.makedirs(dest)
        Path(dest, "data").write_text("winner")

    dest = caching.derived_dir(str(store), ("t",), ("x",), build)
    assert Path(dest, "data").read_text() == "winner"
    assert [p.name for p in Path(dest).parent.iterdir()] == [Path(dest).name]


def test_concurrent_callers_get_the_value_for_the_current_bytes(store):
    """No lock is held while fitting, so threads that miss together may
    each fit; every caller still gets the value fitted from the bytes it
    saw, and the store keeps one entry per model."""
    import sys
    import threading
    import time

    src = store / "t.parquet"

    def fit():
        time.sleep(0.001)
        return src.read_bytes()

    results = []

    def call(payload):
        results.append((payload, caching.fitted(str(store), ("t",), ("m",), fit)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for payload in (b"one", b"two!"):  # the size changes with the bytes
            src.write_bytes(payload)
            threads = [
                threading.Thread(target=call, args=(payload,)) for _ in range(16)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(results) == 32
    assert all(want == got for want, got in results)
    assert len(caching._FITTED) == 1


def test_no_reuse_policy_left_in_operators():
    """Operators reuse fits and derived tables only through the store: no
    module-level memo dict or built-set (the ``ORACLES`` registries are
    declarations, not memos), no whole-second ``getmtime`` stamp and no
    private build-then-rename recipe."""
    offenders = []
    for p in sorted(OPERATORS.glob("*.py")):
        src = p.read_text()
        for node in ast.parse(src).body:
            if not isinstance(node, (ast.Assign, ast.AnnAssign)) or node.value is None:
                continue
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            v = node.value
            empty = (isinstance(v, ast.Dict) and not v.keys) or (
                isinstance(v, ast.Call)
                and isinstance(v.func, ast.Name)
                and v.func.id in ("set", "dict")
                and not v.args
            )
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            if empty and names != ["ORACLES"]:
                offenders.append(f"{p.name}:{node.lineno} {names}")
        offenders += [f"{p.name} {w}" for w in ("getmtime", "os.rename") if w in src]
    assert offenders == []


def test_cached_frame_over_a_rewritten_fixture_reads_the_new_rows(spark, store):
    """A bounded-cached frame over fixture files (``tpch._partsupp``:
    four suppliers per part) sees a ``part.parquet`` rewritten in place:
    ``tables.load`` refreshes Spark's cache for the path once per new
    file identity, where the cache alone matches the old plan by path."""
    import shutil

    import pyarrow.parquet as pq

    from crypto_clickhouse_poc_spark.operators import tpch
    from tests.conftest import SF_CORRECT

    for t in ("part", "supplier"):
        shutil.copy(f"{SF_CORRECT}/{t}.parquet", store / f"{t}.parquet")
    part = store / "part.parquet"
    n = pq.read_metadata(part).num_rows
    key = f"tpch_partsupp:{store}"
    try:
        assert tpch._partsupp(spark, str(store)).count() == 4 * n
        pq.write_table(pq.read_table(part).slice(0, n // 2), part)
        _restamp(part, 1)
        assert tpch._partsupp(spark, str(store)).count() == 4 * (n // 2)
    finally:
        live = caching._LIVE.pop(key, None)
        if live is not None:
            live.unpersist()
