"""End-to-end training-corpus assembly: every pipeline stage the engine
ships, composed into ONE dataflow —

    quality + repetition gates → exact dedup → MinHash-LSH near-dup
    canonical → benchmark decontamination → weighted language mix →
    shard → fixed-budget sequence packing

The individual stages are declared/pytest-gated queries of their own
(text.corpus_prepare*, curation.corpus_decontaminate, sampling.corpus_mix
/corpus_pack); this query exists so the driver hash-checks their
INTERACTION: a stage that subtly reorders, drops, or duplicates rows
breaks every downstream stage's counts, and the final per-(shard, pack)
accounting is sensitive to all of it.

Scale shape (nothing here is new machinery — each stage keeps its
documented shape):

- gates: per-row predicates BEFORE any shuffle (prune first);
- exact dedup: one shuffle on the uniform content digest;
- near-dup: banded LSH equi-joins over the survivors (O(docs) shuffle),
  pointer-jumped min-label components;
- decontamination: holdout n-grams distinct + BROADCAST semi-join, then a
  broadcast anti-join of the (small) contaminated id set — the fact side
  is never a shuffle side;
- mix: the two-pass hash-threshold selection (histogram pass + per-row
  keep; only the boundary bucket ranks), per-doc token counts riding
  through as passthrough columns so the packer needs NO join back;
- pack: per-shard cumulative-sum windows (shard-parallel, no global
  order), one tiny rollup.

The DuckDB oracle replays the entire chain (the LSH stage reuses the
same min-hash fragments as dedup's oracles; components via a recursive
CTE), so the driver's hash gate covers the full composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import bounded_checkpoint
from ..functions import text as T
from ..tables import load
from .curation import (
    DECONTAM_NGRAM,
    _HOLDOUT_SQL,
    _is_holdout,
    _max_run,
    contaminated_ids,
    holdout_grams,
)
from .dedup import lsh_pairs_from_shingles, min_label_clusters, shingles_from_tokens
from .sampling import (
    _B16,
    _MIX_LANGS,
    _WEIGHT_CASE,
    _bucket16,
    _mix_kept_from,
    mix_weight_col,
    pack_accounting,
    MIX_WEIGHTS,
    N_SHARDS,
    PACK_BUDGET,
)
from .text import exact_canonical, quality_gated

# Gopher-style repetition gate (Rae et al. 2021 §A1.1): drop documents
# whose single most-frequent token exceeds this share of all tokens.
# 0.18 sits at ~p97 of the fixture corpus — a real gate, not a no-op.
REP_TOP_MAX = 0.18

# Near-dup shingle order. Production near-dedup shingles n-grams, not
# unigrams (Lee et al. 2022 and the SlimPajama/The-Pile recipes use
# 10-13-grams): unigram Jaccard SATURATES on a small vocabulary — on the
# fixture's ~31-word corpus every doc's token set converges to the whole
# vocabulary, collapsing 4.4k docs into a ~3M-candidate-pair near-clique
# (measured; verify + components dominated the whole chain). 3-gram
# shingles restore discrimination (true near-dups still share most
# shingles; unrelated docs share almost none) and shrink the candidate
# graph by ~1000×. corpus_prepare_near keeps the unigram form — it twins
# the dedup family's declared constants.
ASSEMBLE_SHINGLE_N = 3


def assembled_docs(
    spark: SparkSession, sf_dir: str, cache: bool = True
) -> DataFrame:
    """The surviving (doc_id, lang, n_tok) set after gates → exact dedup →
    near-dup canonical → decontamination → weighted mix. Exposed so tests
    can assert stage-interaction invariants on the doc set itself.

    ``cache`` materializes the pre-mix survivor frame (doc_id + lang +
    two ints — tiny) once: the mix's two-pass selection evaluates its
    input three times (bounds collect, full leg, boundary leg), and
    without the cache each evaluation re-runs the ENTIRE upstream chain
    — LSH band joins and the cluster fixpoint included (measured 13.5 s
    → 4.9 s at sf0.1). ``bounded_checkpoint`` keeps one live copy per site.
    Pass False to inspect the un-truncated plan (tests do)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = T.tokens(F.col("text"))
    rep_ratio = _max_run(toks) / F.size(toks).cast("double")
    gated = quality_gated(d).where(rep_ratio <= F.lit(REP_TOP_MAX))
    canonical = exact_canonical(gated).select("doc_id", "text", "lang")
    if cache:
        # referenced three times (LSH side, component node set, near join)
        # — materialize the deduped survivors once instead of re-running
        # the gate + digest window per reference. r17: localCheckpoint,
        # not cache — a cache dedupes EXECUTION but every reference still
        # inlines the full gate+window subtree into Catalyst, and with 8
        # band-join references downstream the optimizer alone cost ~0.9 s
        # per invocation (job-profile gap receipt, plans/r17). The
        # checkpoint truncates the plan at the materialization boundary
        # (guide §3.3); fault tolerance of this intermediate is
        # irrelevant inside one query invocation. One live checkpoint per
        # site: the next invocation releases this one.
        canonical = bounded_checkpoint("assemble.canonical", canonical)

    # token arrays materialized as their own column before every n-gram
    # pass — shingles_from_tokens' hot-path contract (slicing an attribute,
    # not a re-evaluated split expression)
    pairs = lsh_pairs_from_shingles(
        canonical.withColumn("w", F.split(F.col("text"), " ")).select(
            "doc_id",
            shingles_from_tokens(F.col("w"), ASSEMBLE_SHINGLE_N).alias("toks"),
        )
    ).select("doc_a", "doc_b")
    clusters = min_label_clusters(canonical.select("doc_id"), pairs)
    near = canonical.join(clusters, "doc_id").where(
        F.col("cluster") == F.col("doc_id")
    )

    clean = near.where(~_is_holdout(F.col("doc_id")))
    contaminated = contaminated_ids(clean, holdout_grams(d))
    surv = clean.join(F.broadcast(contaminated), "doc_id", "left_anti")

    mix_in = surv.where(F.col("lang").isin(sorted(MIX_WEIGHTS))).select(
        "doc_id",
        "lang",
        mix_weight_col().alias("weight"),
        _bucket16(F.col("doc_id")).alias("bkt"),
        F.size(T.tokens(F.col("text"))).alias("n_tok"),
    )
    if cache:
        # same plan-truncation rule as `canonical` above: the mix's four
        # references (bounds collect, full leg, boundary leg, pack) each
        # re-planned the whole gates→LSH→decontaminate chain
        mix_in = bounded_checkpoint("assemble.mix_in", mix_in)
    return _mix_kept_from(mix_in, extra_cols=("n_tok",)).select(
        "doc_id", "lang", "n_tok"
    )


def corpus_assemble(
    spark: SparkSession, sf_dir: str, cache: bool = True
) -> DataFrame:
    """The assembled corpus, packed: per-(shard, pack) doc and token
    accounting over the fully curated + mixed survivor set — what the
    training-data writer consumes."""
    kept = assembled_docs(spark, sf_dir, cache=cache)
    return pack_accounting(
        kept.select(
            "doc_id",
            (_bucket16(F.col("doc_id")) % N_SHARDS).alias("shard"),
            "n_tok",
        )
    )


def _assemble_oracle() -> str:
    """The whole chain in DuckDB: quality+repetition gates, exact dedup,
    the LSH near-dup stage (same min-hash fragments as dedup's oracles,
    recursive reachability), decontamination, weighted mix by
    (md5, doc_id) rank, shard + pack windows."""
    from .dedup import _MH, JACCARD_THRESHOLD
    from .text import _NTOK, _STOP, _TOKS

    rep = (
        f"list_max(list_transform(list_distinct({_TOKS}), "
        f"x -> len(list_filter({_TOKS}, y -> y = x)))) * 1.0 / {_NTOK}"
    )
    return f"""
        WITH RECURSIVE gated AS (
          SELECT doc_id, text, lang,
                 md5(text) AS content_md5
          FROM documents
          WHERE {_NTOK} >= 20
            AND least({_NTOK} / 60.0, 1.0) * 0.4
                + (len(list_distinct({_TOKS})) * 1.0 / {_NTOK}) * 0.3
                + (1 - {_STOP} * 1.0 / {_NTOK}) * 0.3 >= 0.6
            AND {rep} <= {REP_TOP_MAX}
        ),
        canonical AS (
          SELECT doc_id, text, lang
          FROM (
            SELECT *, row_number() OVER (PARTITION BY content_md5
                                         ORDER BY doc_id) AS rn
            FROM gated
          ) t WHERE rn = 1
        ),
        toks AS (
          -- {ASSEMBLE_SHINGLE_N}-gram shingle sets (gated docs all carry
          -- >= 20 tokens, so the short-doc empty-set guard is moot here)
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - {ASSEMBLE_SHINGLE_N - 2}),
                   i -> array_to_string(
                     (string_split(text, ' '))[i:i+{ASSEMBLE_SHINGLE_N - 1}], ' ')
                 )) AS t
          FROM canonical),
        sig AS (SELECT doc_id, {_MH} FROM toks),
        bands AS (
          SELECT doc_id, 0 AS band_id, md5(mh0 || mh1) AS band_key FROM sig
          UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig
          UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM sig
          UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM sig
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        pairs AS (
          SELECT doc_a, doc_b
          FROM (
            SELECT doc_a, doc_b,
                   len(list_filter(ta.t, x -> list_contains(tb.t, x))) AS common,
                   len(ta.t) AS na, len(tb.t) AS nb
            FROM cand
            JOIN toks ta ON ta.doc_id = doc_a
            JOIN toks tb ON tb.doc_id = doc_b
          ) v WHERE common / (na + nb - common) >= {JACCARD_THRESHOLD}
        ),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs
        ),
        -- full transitive closure: O(V*E) intermediate rows. Fine for the
        -- duplicate-rate-bounded pair graphs 3-gram shingles produce
        -- (~205 pairs at sf0.01), but a near-clique graph -- exactly what
        -- unigram shingles create on a small vocabulary (module
        -- docstring) -- would blow up the ORACLE before the Spark side;
        -- if ASSEMBLE_SHINGLE_N is ever lowered, bound this CTE (e.g.
        -- fixed-depth min-label iteration) the way the Spark side is
        -- bounded (r7 ADVICE)
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        lbl AS (
          SELECT c.doc_id,
                 least(c.doc_id, coalesce(min(r.b), c.doc_id)) AS cluster
          FROM canonical c LEFT JOIN reach r ON r.a = c.doc_id
          GROUP BY c.doc_id
        ),
        near AS (
          SELECT c.doc_id, c.text, c.lang
          FROM canonical c JOIN lbl ON c.doc_id = lbl.doc_id
          WHERE lbl.cluster = c.doc_id
        ),
        toks_all AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        hold AS (
          SELECT DISTINCT array_to_string(t[i:i+{DECONTAM_NGRAM - 1}], ' ') AS gram
          FROM toks_all, UNNEST(range(1, len(t) - {DECONTAM_NGRAM - 2})) AS u(i)
          WHERE len(t) >= {DECONTAM_NGRAM} AND {_HOLDOUT_SQL}
        ),
        clean AS (
          SELECT * FROM near WHERE NOT ({_HOLDOUT_SQL})
        ),
        ng_clean AS (
          SELECT c.doc_id, array_to_string(t[i:i+{DECONTAM_NGRAM - 1}], ' ') AS gram
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM clean) c,
               UNNEST(range(1, len(t) - {DECONTAM_NGRAM - 2})) AS u(i)
          WHERE len(t) >= {DECONTAM_NGRAM}
        ),
        contaminated AS (
          SELECT DISTINCT g.doc_id FROM ng_clean g JOIN hold USING (gram)
        ),
        surv AS (
          SELECT doc_id, lang, {_NTOK} AS n_tok
          FROM clean
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        ),
        md AS (
          SELECT doc_id, lang, CAST({_WEIGHT_CASE} AS DOUBLE) AS weight, n_tok
          FROM surv WHERE lang IN ({_MIX_LANGS})
        ),
        avail AS (
          SELECT lang, weight, count(*) AS n_avail FROM md GROUP BY lang, weight
        ),
        total AS (
          SELECT min(CAST(floor(n_avail / weight) AS BIGINT)) AS feasible_total
          FROM avail
        ),
        quota AS (
          SELECT lang, CAST(floor(weight * feasible_total) AS BIGINT) AS quota
          FROM avail, total
        ),
        ranked AS (
          SELECT doc_id, lang, n_tok,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM md
        ),
        kept AS (
          SELECT r.doc_id, r.n_tok
          FROM ranked r JOIN quota q ON r.lang = q.lang
          WHERE r.rk <= q.quota
        ),
        sh AS (
          SELECT doc_id, n_tok, {_B16} % {N_SHARDS} AS shard FROM kept
        ),
        packed AS (
          SELECT shard, n_tok,
                 CAST(floor(
                   (sum(n_tok) OVER (
                      PARTITION BY shard
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tok) / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
          FROM sh
        )
        SELECT shard, pack_id, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM packed
        GROUP BY shard, pack_id
        ORDER BY shard, pack_id
    """


QUERIES = {
    "corpus_assemble": corpus_assemble,
}

ORACLES = {
    "corpus_assemble": _assemble_oracle(),
}
