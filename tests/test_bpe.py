"""BPE tokenizer-training gates.

No SQL oracle (data-dependent iterative argmax — see the module
docstring); the correctness chain is: hand-computed micro-corpus →
pure-Python reference (`_train_bpe_driver`) → distributed loop must equal
the reference bit-for-bit → the corpus queries must equal a Python
recompute over collected fixture docs."""

from __future__ import annotations

import pytest

from crypto_clickhouse_poc_spark.operators import bpe as B
from crypto_clickhouse_poc_spark.tables import load
from tests.conftest import SF_SMOKE


def test_reference_trainer_on_hand_computed_micro_corpus():
    """One word 'aaa' × 3: merge 1 must be (a,a) at weight 6 (two adjacent
    pairs per word), merge 2 the lexicographic winner of the 3-3 tie
    between (a,</w>) and (aa,a), merge 3 the leftover."""
    merges = B._train_bpe_driver([("aaa", 3)], n_merges=4)
    assert merges == [
        (1, "a", "a", 6),
        (2, "a", B.EOW, 3),
        (3, "aa", "a" + B.EOW, 3),
    ]  # 4th merge impossible — training stops at a single symbol


def test_greedy_merge_is_left_to_right_non_overlapping():
    assert B._merge_seq_py(["a", "a", "a"], "a", "a") == ["aa", "a"]
    assert B._merge_seq_py(["a", "b", "b"], "b", "b") == ["a", "bb"]
    assert B._merge_seq_py(["x"], "a", "b") == ["x"]


def test_distributed_loop_equals_python_reference(spark):
    dist = B._train_bpe(spark, SF_SMOKE, n_merges=8, force_distributed=True)
    ref = B._train_bpe(spark, SF_SMOKE, n_merges=8)
    assert len(ref) == 8
    assert dist == ref


def test_corpus_merges_are_deterministic_and_ranked(spark):
    a = [tuple(r) for r in B.corpus_bpe_merges(spark, SF_SMOKE).collect()]
    b = [tuple(r) for r in B.corpus_bpe_merges(spark, SF_SMOKE).collect()]
    assert a == b and len(a) == B.BPE_MERGES
    assert [r[0] for r in a] == list(range(1, len(a) + 1))
    # merge frequencies are non-increasing only per-step availability, but
    # every chosen pair must have been the strict argmax of its step:
    # verified transitively by the reference-parity gate; here pin > 0
    assert all(r[3] > 0 for r in a)


def test_doc_bpe_tokens_matches_python_recompute(spark):
    merges = B._train_bpe(spark, SF_SMOKE)
    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    want = {}
    for r in docs:
        if r.text is None:
            continue
        words = [w for w in r.text.split(" ") if w]
        if not words:
            continue
        want[r.doc_id] = (
            len(words),
            sum(len(B.encode_word_py(w, merges)) for w in words),
        )
    got = {
        r.doc_id: (r.n_words, r.n_tokens_bpe_learned)
        for r in B.doc_bpe_tokens(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_learned_tokens_bounded_by_chars_and_words(spark):
    """Sanity envelope: a word of L chars segments into 1..L+1 subtokens
    (the EOW marker may merge in), so per doc
    n_words <= n_tokens_bpe_learned <= n_chars + 2*n_words."""
    rows = B.doc_bpe_tokens(spark, SF_SMOKE).collect()
    docs = {
        r.doc_id: r.text
        for r in load(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    }
    for r in rows:
        words = [w for w in docs[r.doc_id].split(" ") if w]
        chars = sum(len(w) for w in words)
        assert r.n_words <= r.n_tokens_bpe_learned <= chars + 2 * r.n_words


def test_corpus_pack_bpe_matches_python_recompute(spark):
    """The learned-count packing replays exactly: shard by md5-bucket,
    order by (md5(doc_id), doc_id) within shard, cumsum -> pack id,
    rollup — recomputed in pure Python from doc_bpe_tokens' output."""
    import hashlib
    from collections import defaultdict

    from crypto_clickhouse_poc_spark.operators.sampling import N_SHARDS, PACK_BUDGET

    counts = {
        r.doc_id: r.n_tokens_bpe_learned
        for r in B.doc_bpe_tokens(spark, SF_SMOKE).collect()
    }

    def md5s(x):
        return hashlib.md5(str(x).encode()).hexdigest()

    by_shard = defaultdict(list)
    for doc, n in counts.items():
        shard = int(md5s(doc)[:4], 16) % N_SHARDS
        by_shard[shard].append((md5s(doc), doc, n))
    want = defaultdict(lambda: [0, 0])
    for shard, docs in by_shard.items():
        cum = 0
        for _, doc, n in sorted(docs):
            pack = cum // PACK_BUDGET
            cum += n
            want[(shard, pack)][0] += 1
            want[(shard, pack)][1] += n
    got = {
        (r.shard, r.pack_id): [r.n_docs, r.n_tokens]
        for r in B.corpus_pack_bpe(spark, SF_SMOKE).collect()
    }
    assert got == dict(want)


def test_doc_bpe_tokens_opens_the_corpus_once(spark, monkeypatch):
    """Training and encoding share one filtered ``documents`` frame: each
    open is a schema-inference job, so the corpus is opened once."""
    opened, real = [], B.load

    def spy(spark_, sf_dir, name):
        opened.append(name)
        return real(spark_, sf_dir, name)

    monkeypatch.setattr(B, "load", spy)
    monkeypatch.setattr(B, "_MERGE_MEMO", {})
    B.doc_bpe_tokens(spark, SF_SMOKE).collect()
    assert opened == ["documents"]
    plan = B.corpus_bpe_merges(spark, SF_SMOKE)._jdf.queryExecution()
    assert "LocalTableScan" in plan.executedPlan().toString()
