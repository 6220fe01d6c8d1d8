"""``corpus_llm``: cache-cold passes over LLM-data entries of ``operators``.

The corpus (``documents`` and ``embeddings``) is generated from the seed.
After one plain warm-up query, the timed pass runs every entry once, in
seeded order, with ``clearCache()`` before each, so it measures first
calls: the engine's training memos are keyed on the corpus directory and
train inside the timed region, and each entry's code paths run cold. Entries
with an ``oracle_sql()`` are hash-checked against DuckDB over the same
files; the others must return their schema and at least one row.
"""

from __future__ import annotations

import hashlib
import math
import time

import numpy as np

import gen
import reference
from harness import Ctx

# A light per-row path, a trainer behind a process-lifetime memo and MinHash
# dedup. The other LLM-data entries (IVF-PQ/OPQ search, semantic dedup, the
# assembler, ...) cost more first-call time than a run's budget holds.
ENTRIES = (
    "corpus_pii_scan",
    "doc_bpe_tokens",
    "dedup_minhash_summary",
)
SIZES = {"documents": 500, "vectors": 500, "entries": list(ENTRIES)}


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\x00null"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def rows_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result (columns sorted by name)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in idx) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _write_corpus(d, docs, vecs) -> None:
    d.mkdir(parents=True)
    docs.to_parquet(d / "documents.parquet", index=False)
    vecs.to_parquet(d / "embeddings.parquet", index=False)


def run(ctx: Ctx) -> dict:
    from crypto_clickhouse_poc_spark import operators

    spark = ctx.start_spark()
    tr = ctx.tracer
    queries, oracles = operators.library_queries(), operators.library_oracles()
    docs, vecs = gen.corpus(ctx.seed, SIZES["documents"], SIZES["vectors"])
    order = [ENTRIES[i] for i in np.random.default_rng([ctx.seed, 5]).permutation(len(ENTRIES))]
    src = ctx.work / "corpus"
    _write_corpus(src, docs, vecs)

    con = reference.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src / t}.parquet')")
    want = {}
    for name in order:
        if name in oracles:
            res = con.execute(oracles[name])
            want[name] = rows_hash([d[0] for d in res.description], res.fetchall())

    # Warm-up, untimed: one plain scan-and-aggregate pays the session's
    # first-query costs, so they do not land on whichever entry runs first.
    spark.read.parquet(str(src / "documents.parquet")).groupBy("lang").count().collect()

    entry_ms: dict[str, float] = {}
    build_ms: dict[str, float] = {}
    collect_ms: dict[str, float] = {}
    plan_ms: dict[str, float] = {}
    ctx.mark_first_op()
    gc0 = ctx.gc_ms()
    for name in order:
        spark.catalog.clearCache()
        with ctx.guarded(f"entry {name}"), ctx.job_group(name), tr.span("op.entry", op=name):
            t = time.time()
            with tr.span(f"operators.{name}.build"):
                df = queries[name](spark, str(src))
            t_built = time.time()
            with tr.span("exec.collect"):
                rows = df.collect()
            entry_ms[name] = 1000 * (time.time() - t)
            build_ms[name] = 1000 * (t_built - t)
            collect_ms[name] = entry_ms[name] - build_ms[name]
            plan_ms[name] = ctx.catalyst(df)
        if name not in entry_ms:  # the entry raised; counted as failed above
            continue
        with ctx.guarded(f"entry {name} output"):
            if name in want:
                if rows_hash(df.columns, rows) != want[name]:
                    raise AssertionError(f"{name}: result hash differs from its oracle")
            elif not rows or not df.columns:
                raise AssertionError(f"{name}: empty result")
    # the pass's time is the entries' build and collect, not their checks
    pass_s = sum(entry_ms.values()) / 1000
    return {
        "e2e": {"work_s": pass_s},
        "named": {"corpus_total_s": pass_s},
        "samples": {"entries": len(entry_ms)},
        "sizes": {**SIZES, "order": order},
        "entry_ms": entry_ms,
        "build_ms": build_ms,
        "collect_ms": collect_ms,
        "plan_ms": plan_ms,
        "gc_ms": ctx.gc_ms() - gc0,
    }
