"""Byte-pair-encoding tokenizer training over the corpus (Sennrich,
Haddow & Birch, ACL 2016 — the standard subword vocabulary learner).

The distribution insight every production BPE trainer uses: train on the
WORD VOCABULARY (distinct word → corpus frequency), not the token stream.
One corpus scan builds the weighted vocabulary; every merge iteration then
touches only vocabulary rows (∼10⁸ for a 100 TB web corpus — Spark-sized,
while the token stream is 10¹³). Each iteration is:

  explode the current symbol sequences into adjacent pairs (weighted by
  word freq) → one hash aggregation → global top-1 pair (deterministic
  tie-break: count DESC, pair ASC) → apply the merge to each word's
  symbol array with a left-to-right greedy fold (pure JVM HOF).

Like the connected-components operator (``dedup.min_label_clusters``),
training is ADAPTIVE: a vocabulary within ``BPE_DRIVER_VOCAB_MAX`` rows is
collected (bounded, 2-column Arrow transfer) and trained in-process — the
fixture's ~30-word vocab makes 30 Spark jobs per merge pointless — while a
larger vocabulary runs the distributed loop (driven in tests by a zero
driver bound; identical output: both paths implement the same
argmax-merge recursion, bit-equal by the shared tie-break).

Encoding (``doc_bpe_tokens``) follows the same vocabulary trick: segment
each DISTINCT word once with the learned merges, then broadcast-join the
word → n_subtokens map back onto the exploded corpus — the join is
vocabulary-sized, the corpus-side work one explode + one hash agg.

No DuckDB oracle: the train loop is an iterative global argmax (the same
class as k-means, which the repo oracles only because its round count is
fixed and unrolled — BPE's merge CHAIN is data-dependent at every step, so
an unrolled SQL twin would be a 2·n_merges-deep recursive pyramid). The
correctness gate is exact parity with an independent pure-Python reference
implementation (tests/test_bpe.py), the repo's convention for
non-SQL-expressible iterative ops (PCA, PQ/OPQ training).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import fitted
from ..functions import text as T
from ..localframe import local_frame
from ..tables import load

BPE_MERGES = 16  # learned merge count (fixture-sized; production: 30k+)
BPE_DRIVER_VOCAB_MAX = 100_000  # vocab rows the driver path may collect
EOW = "</w>"  # end-of-word marker (Sennrich et al. §3.2)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents with text — each open is a schema-inference job, so
    a caller that needs the corpus twice opens it once and shares this."""
    return load(spark, sf_dir, "documents").where(F.col("text").isNotNull())


def _vocab(d: DataFrame) -> DataFrame:
    """(word, freq): the one corpus-sized aggregation in the whole trainer."""
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("word"))
    return toks.where(F.length("word") > 0).groupBy("word").agg(
        F.count(F.lit(1)).alias("freq")
    )


def _symbols_py(word: str) -> list[str]:
    return list(word) + [EOW]


def _merge_seq_py(seq: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b)."""
    out: list[str] = []
    for s in seq:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return out


def _train_bpe_driver(rows: list[tuple[str, int]], n_merges: int) -> list[tuple]:
    """In-process trainer — ALSO the independent reference the distributed
    path is tested against. Returns [(rank, left, right, freq), ...]."""
    seqs = [( _symbols_py(w), int(f)) for w, f in rows]
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for seq, f in seqs:
            for i in range(len(seq) - 1):
                p = (seq[i], seq[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, best))
        seqs = [(_merge_seq_py(s, a, b), f) for s, f in seqs]
    return merges


def _merge_col(seq, a: str, b: str):
    """The greedy left-to-right merge as a JVM fold: same recursion as
    ``_merge_seq_py``. O(len²) array copies per word — words are short and
    this runs on VOCABULARY rows only."""
    la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
    return F.aggregate(
        seq,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (s == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _train_bpe_distributed(vocab: DataFrame, n_merges: int) -> list[tuple]:
    """The at-scale loop: per iteration one pair-explode + hash agg + 1-row
    collect (the argmax pair — the only driver traffic), then a lazy merge
    projection; localCheckpoint truncates the growing lineage the same way
    the min-label fixpoint does."""
    cur = vocab.select(
        F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW))).alias("seq"),
        "freq",
    ).localCheckpoint()
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        pairs = cur.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("seq") - 2),
                    lambda i: F.struct(
                        F.element_at("seq", i + 1).alias("a"),
                        F.element_at("seq", i + 2).alias("b"),
                    ),
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("p.a"), F.asc("p.b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, best = top[0]["p"]["a"], top[0]["p"]["b"], int(top[0]["cnt"])
        merges.append((rank, a, b, best))
        cur = cur.select(_merge_col(F.col("seq"), a, b).alias("seq"), "freq")
        cur = cur.localCheckpoint()
    return merges


def _train_bpe(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = BPE_MERGES,
    vocab: DataFrame | None = None,
    vocab_rows: list[tuple] | None = None,
) -> list[tuple]:
    """The learned merges, fitted once per set of ``documents`` bytes
    (``caching.fitted``). ``vocab`` / ``vocab_rows`` let a caller that
    already built (or collected) the vocabulary share it —
    ``doc_bpe_tokens`` trains AND encodes off one vocabulary aggregation
    instead of re-scanning the corpus (r8 review)."""

    def fit() -> list[tuple]:
        if vocab_rows is not None:
            return _train_bpe_driver(vocab_rows, n_merges)
        v = _vocab(_docs(spark, sf_dir)) if vocab is None else vocab
        # one bounded action probes size AND collects (r16 perf — the old
        # limit().count() + toPandas() pair ran the vocabulary agg twice)
        pdf = v.limit(BPE_DRIVER_VOCAB_MAX + 1).toPandas()
        if len(pdf) <= BPE_DRIVER_VOCAB_MAX:
            return _train_bpe_driver(list(zip(pdf["word"], pdf["freq"])), n_merges)
        return _train_bpe_distributed(v, n_merges)

    return fitted(sf_dir, ("documents",), ("bpe", n_merges), fit)


def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained artifact as a queryable frame: the learned merge rules
    in order, with the corpus-weighted pair frequency each merge had when
    chosen. rank 1 is the most frequent adjacent symbol pair of the raw
    character corpus; later ranks merge progressively longer subwords."""
    merges = _train_bpe(spark, sf_dir)
    return local_frame(
        spark, merges, "rank int, left string, right string, freq bigint"
    ).orderBy("rank")


def encode_word_py(word: str, merges: list[tuple]) -> list[str]:
    """Segment one word with the learned merges, applied in rank order —
    the standard BPE encoder."""
    seq = _symbols_py(word)
    for _, a, b, _ in merges:
        seq = _merge_seq_py(seq, a, b)
    return seq


def _encode_vocab(
    vocab: DataFrame, merges: list[tuple], vocab_rows: list[tuple] | None = None
) -> DataFrame:
    """word → n_subtokens over the distinct-word table. Adaptive like the
    trainer: small vocab segments in-process (one bounded 1-column
    collect — skipped entirely when the caller hands over the rows it
    already collected); a larger one applies the merge folds
    distributedly, with a checkpoint every few merges so the nested-fold
    plan stays shallow."""
    spark = vocab.sparkSession
    if vocab_rows is not None:
        return F.broadcast(
            local_frame(
                spark,
                [(w, len(encode_word_py(w, merges))) for w, _ in vocab_rows],
                "word string, n_sub int",
            )
        )
    # one bounded action probes size AND collects (r16 perf, same fusion
    # as _train_bpe — the probe-then-collect pair ran the agg twice)
    wpdf = vocab.select("word").limit(BPE_DRIVER_VOCAB_MAX + 1).toPandas()
    if len(wpdf) <= BPE_DRIVER_VOCAB_MAX:
        words = [w for (w,) in wpdf.itertuples(index=False)]
        return F.broadcast(
            local_frame(
                spark,
                [(w, len(encode_word_py(w, merges))) for w in words],
                "word string, n_sub int",
            )
        )
    cur = vocab.select(
        "word", F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW))).alias("seq")
    )
    for i, (_, a, b, _) in enumerate(merges):
        cur = cur.select("word", _merge_col(F.col("seq"), a, b).alias("seq"))
        if (i + 1) % 8 == 0:
            cur = cur.localCheckpoint()
    return cur.select("word", F.size("seq").cast("int").alias("n_sub"))


def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LEARNED-subword token counts (vs the heuristic
    ``doc_token_counts`` estimates): segment each DISTINCT word once with
    the trained merges, broadcast the vocabulary-sized word → n_subtokens
    map, and aggregate the exploded corpus against it. Corpus-side cost:
    one explode + one broadcast equi-join + one hash agg. The vocabulary
    is aggregated ONCE and shared between training and encoding; on the
    driver path it is also collected once and both stages work off the
    same rows (r8 review — no second corpus scan)."""
    d = _docs(spark, sf_dir)
    vocab = _vocab(d)
    # ONE bounded action probes size AND collects (r16 perf — the old
    # limit().count() + toPandas() pair ran the vocabulary aggregation
    # twice); the cap+1 limit proves the collected set is complete
    pdf = vocab.limit(BPE_DRIVER_VOCAB_MAX + 1).toPandas()
    if len(pdf) <= BPE_DRIVER_VOCAB_MAX:
        rows = list(zip(pdf["word"], pdf["freq"]))
        merges = _train_bpe(spark, sf_dir, vocab_rows=rows)
        enc = _encode_vocab(vocab, merges, vocab_rows=rows)
    else:
        merges = _train_bpe(spark, sf_dir, vocab=vocab)
        enc = _encode_vocab(vocab, merges)
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("word")).where(
        F.length("word") > 0
    )
    return (
        # the driver-path enc comes back broadcast-hinted; the distributed
        # path is vocabulary-sized and must shuffle-join instead
        toks.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_tokens_bpe_learned"),
        )
        # no presentation sort (r16 perf — order-insensitive harness)
    )


QUERIES = {
    "corpus_bpe_merges": corpus_bpe_merges,
    "doc_bpe_tokens": doc_bpe_tokens,
}

# no ORACLES: data-dependent iterative argmax (see module docstring) —
# correctness gate is exact parity with the in-module Python reference,
# driver/distributed cross-parity, and determinism (tests/test_bpe.py)
ORACLES: dict[str, str] = {}


def corpus_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing by LEARNED subword counts: the ``corpus_pack``
    dataflow (per-shard deterministic order → window cumsum → fixed-budget
    pack ids) driven by ``doc_bpe_tokens``'s trained-tokenizer counts
    instead of the whitespace heuristic — what an actual training-data
    writer packs by, since the budget is a MODEL sequence length.

    Reuses ``sampling.pack_accounting`` verbatim (one shared definition of
    budget/ordering/straddle semantics) — the only change is the token
    column, so the corpus-side cost is doc_bpe_tokens' explode +
    broadcast join + agg followed by the one shard-keyed pack shuffle.
    Pytest-gated against a Python recompute (the BPE counts make the
    composite non-SQL-expressible, like every learned-tokenizer op)."""
    from .sampling import N_SHARDS, _bucket16, pack_accounting

    counts = doc_bpe_tokens(spark, sf_dir).select(
        "doc_id", F.col("n_tokens_bpe_learned").alias("n_tok")
    )
    d = counts.select(
        "doc_id", (_bucket16(F.col("doc_id")) % N_SHARDS).alias("shard"), "n_tok"
    )
    return pack_accounting(d)


QUERIES["corpus_pack_bpe"] = corpus_pack_bpe
