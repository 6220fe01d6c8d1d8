"""Deduplication operator family over the ``documents`` / ``embeddings`` tables.

Five dedup strategies, each the canonical scale pattern:

- exact        — hash-groupBy on md5(text): one shuffle keyed by digest.
- minhash-LSH  — shingle → k min-hashes → banded bucket keys → bucket
                 equi-join for candidates → verify true jaccard. The join is
                 on band keys (equi-join, shuffle partitioned by bucket), so
                 cost is Σ bucket² instead of n² — the only near-dup
                 strategy that survives 100 TB.
- n-gram jaccard (inverted index) — explode tokens, equi-join on token,
                 count common per pair. Exact, but Σ df(token)² blows up on
                 high-document-frequency tokens; use on blocked/rare-token
                 corpora, else prefer LSH. (On the fixture's tiny vocab this
                 is the degenerate worst case — kept correct, documented slow.)
- simhash      — 16-bit signature per doc; equal-signature buckets are dup
                 candidates. Pure per-row map + one window count.
- embedding cosine — near-dup by semantic similarity; brute-force pair scan
                 here (exact), LSH/IVF variants in ``operators.similarity``.

Shingle-size note: fixture docs are word soup from a ~30-word vocab, so
3-gram shingle sets are near-disjoint (measured p99 jaccard 0.014) while
unigram token sets overlap heavily (median 0.63, p90 0.83). The queries use
unigram shingles + threshold 0.8 so near-dup logic is actually exercised;
``shingles(n)`` supports any n for real corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import bounded_cache
from ..functions import text as T
from ..functions import vectors as V
from ..localframe import local_frame
from ..tables import load

NUM_HASHES = 8
BANDS = 4  # rows per band = NUM_HASHES / BANDS = 2
JACCARD_THRESHOLD = 0.8
COSINE_THRESHOLD = 0.35


def shingles(text: Column, n: int = 1) -> Column:
    """Distinct word n-gram shingle set (n=1 → distinct tokens).

    Documents shorter than n tokens yield an EMPTY set — ``sequence(0, k)``
    with k < 0 would otherwise produce a descending [0..k] range and
    fabricate out-of-bounds "shingles".

    Perf note (n>1): ``slice(w, ...)`` inside the lambda re-evaluates the
    ``split`` per gram index. On a hot path, materialize the token array as
    its own column first and slice that attribute instead (the doc_winnow /
    simhash pattern — see PERF.md round-2 log).
    """
    if n == 1:
        return T.distinct_tokens(text)
    return shingles_from_tokens(F.split(text, " "), n)


def shingles_from_tokens(w: Column, n: int) -> Column:
    """``shingles`` over a token-array expression. HOT-PATH NOTE: pass an
    already-materialized COLUMN (``withColumn("w", F.split(...))`` first),
    not the split expression itself — slicing an expression inside the
    lambda re-evaluates the whole child array per gram index (O(tokens²)
    splits per doc), while slicing an attribute reads the computed row
    value; CollapseProject keeps the boundary (the doc_winnow pattern,
    PERF.md round-2 log)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - n),
        lambda i: F.array_join(F.slice(w, i + 1, n), " "),
    )
    return F.when(F.size(w) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select(
        "doc_id", shingles(F.col("text")).alias("toks")
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep min doc_id as canonical.

    At scale: single shuffle on the digest (uniformly distributed — no skew);
    this is the pattern regardless of corpus size.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", T.content_md5(F.col("text")).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("dup_count"))
    )


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared LSH dataflow over the fixture ``documents`` table (see
    ``lsh_pairs_from_shingles`` for the dataflow itself)."""
    return lsh_pairs_from_shingles(_doc_shingles(spark, sf_dir))


def lsh_signatures(toks: DataFrame) -> DataFrame:
    """Per-doc LSH signature row from any ``(doc_id, toks)`` DataFrame:
    token-set size ``n``, 64-bit token hashes ``ht`` (intersections on
    longs are far cheaper than on strings, and jaccard needs only set
    *sizes*; a 64-bit collision within one doc is ~1e-17), and the BANDS
    ``xxhash64(mh_lo, mh_hi)`` band keys. Shared by the symmetric pair
    scan and the asymmetric incremental probe."""
    par = toks.sparkSession.sparkContext.defaultParallelism
    sig = toks.repartition(par).select(
        "doc_id", "toks", *T.minhash_signature(F.col("toks"), NUM_HASHES)
    )
    return sig.select(
        "doc_id",
        F.size("toks").alias("n"),
        # NB: one-param lambda — F.xxhash64 is variadic and transform would
        # otherwise hand it (element, index), salting the hash by position.
        F.transform("toks", lambda t: F.xxhash64(t)).alias("ht"),
        *[
            F.xxhash64(F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}")).alias(f"bk{b}")
            for b in range(BANDS)
        ],
    )


def lsh_pairs_from_shingles(toks: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup pairs from any (doc_id, toks) DataFrame.

    Returns (doc_a, doc_b, jaccard) for verified pairs with
    jaccard >= JACCARD_THRESHOLD.

    Pair generation uses the *first-collision-band* trick: band i's equi-join
    keeps a pair only if the pair did NOT already collide in any band j < i
    (post-join inequality filters). Each candidate pair is therefore emitted
    exactly once across the BANDS unioned joins — no global ``distinct``
    shuffle over the (quadratic) candidate set. Token sets ride through the
    band join, so jaccard verification is a map-side projection with no
    join-back either: total shuffle volume is O(docs), never O(pairs).

    Physical notes (round-2 perf pass, PERF.md):

    - the probe side is repartitioned to the session's default parallelism
      BEFORE the signature projection: a single-file corpus otherwise reads
      as ONE partition, serializing both the per-doc md5 signature pass and
      the per-pair jaccard verification (measured 4/32 cores busy at sf0.1).
      On a real multi-file 100 TB corpus the scan is already parallel and
      the repartition is a no-op-sized shuffle of (doc_id, hashes) rows.
    - band keys are 64-bit ``xxhash64(mh_lo, mh_hi)`` ints, not md5 hex
      strings: 8-byte join keys hash/compare ~4× cheaper than 32-char
      strings. A cross-band xxhash64 collision can only ADD a candidate
      pair, which the exact-jaccard verify then filters — it can never drop
      one (precondition: ``toks`` is never the empty array, which Spark's
      ``split`` guarantees — min-hashes are never NULL).
    - a length-ratio precheck (J >= num/den forces
      den*min(n) >= num*max(n)) runs on plain ints before the
      array-intersect, so size-mismatched bucket pairs never pay the O(n)
      intersection.
    """
    d = lsh_signatures(toks)
    # The band joins reference this subplan 8 times (both sides × 4 bands);
    # without a cache each reference recomputes the shingle + 8×md5 signature
    # pass (~45% of query time measured at sf0.1). One row per doc with a
    # short hash array — O(docs) memory, the right trade at any scale;
    # bounded_cache keeps at most one live cache across repeated invocations.
    # r17 A/B note: swapping this cache for a plan-truncating localCheckpoint
    # was measured (~0 on dedup_minhash_summary) and reverted — the
    # checkpoint's GC-deferred storage release breaks the bounded-storage
    # contract (test_lsh_quality: <=1 persistent RDD per call site).
    d = bounded_cache("dedup._lsh_pairs", d)
    a, b = d.alias("a"), d.alias("b")
    common = F.size(F.array_intersect("a.ht", "b.ht"))
    # jaccard >= T as exact integer cross-multiplication (T = num/den): one
    # intersect per surviving pair, placed LAST in the conjunction so the
    # cheap id/band-key compares short-circuit first. Use the *intended*
    # rational (4/5), not float(0.8)'s exact ratio: double(0.8) sits just
    # above 4/5, and a pair at exactly jaccard==4/5 must pass — IEEE division
    # rounds 4/5 to double(0.8), so `>= 0.8` passes it in oracle SQL too.
    from fractions import Fraction

    frac = Fraction(JACCARD_THRESHOLD).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator
    parts = []
    for i in range(BANDS):
        cond = (F.col(f"a.bk{i}") == F.col(f"b.bk{i}")) & (
            F.col("a.doc_id") < F.col("b.doc_id")
        )
        for j in range(i):
            cond = cond & (F.col(f"a.bk{j}") != F.col(f"b.bk{j}"))
        # integer length-ratio precheck BEFORE the intersect-based test:
        # common <= min(na, nb), so J >= num/den requires
        # den*min >= num*max — rejects size-mismatched pairs without
        # touching the hash arrays.
        cond = cond & (
            den * F.least(F.col("a.n"), F.col("b.n"))
            >= num * F.greatest(F.col("a.n"), F.col("b.n"))
        )
        cond = cond & ((den + num) * common >= num * (F.col("a.n") + F.col("b.n")))
        parts.append(
            a.join(b, cond).select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                (
                    common / (F.col("a.n") + F.col("b.n") - common)
                ).alias("jaccard"),
            )
        )
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionAll(p)
    return cand


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs with verified jaccard >= 0.8.

    shingle → 8 min-hashes → 4 bands of 2 → md5 band key → self-equi-join on
    (band_id, band_key) → distinct candidate pairs → exact-jaccard verify.
    Collision probability per pair ≈ 1-(1-J²)⁴ (>=0.98 at J=0.8).
    """
    return _lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def dedup_minhash_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document near-dup rollup over the LSH pipeline (bench representative).

    Same signature → banding → candidate → verify dataflow as
    dedup_minhash_lsh, but aggregates to one row per left doc (dup count,
    best match). On a corpus where near-dup pairs are inherently quadratic,
    this is the output contract a 100 TB pipeline actually wants (feed to a
    canonical-id assignment), and it keeps result movement O(n).
    """
    pairs = _lsh_pairs(spark, sf_dir)
    return (
        pairs.groupBy("doc_a")
        .agg(
            F.count("*").alias("n_dups"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
            F.min("doc_b").alias("min_dup_id"),
        )
        # no presentation sort (r16 perf): the driver hash is
        # order-insensitive and an orderBy would add a range-partitioned
        # global sort (sample pass + exchange) over the rollup
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the verified
    LSH pair graph, each doc labeled with its component's min doc_id — the
    canonical-ID step that turns pairwise near-dups into "keep one per
    cluster".

    Iterative min-label propagation (the Pregel/GraphX pattern as plain
    DataFrame ops): every round each node takes the min of its own label and
    its neighbors' labels, then shortcuts via pointer jumping
    (``lbl ← lbl[lbl]``) — convergence in O(log diameter) rounds instead of
    O(diameter), so even chain-shaped near-dup graphs need a handful of
    shuffles. Each round materializes via ``localCheckpoint`` — iterative
    plans MUST truncate lineage, or analysis cost (and eventually the
    driver's heap) grows with every round; a cache alone does not cut the
    logical plan. The loop stops when a round changes no label (driver-side
    count — the standard fixpoint check). Output: (doc_id, cluster,
    cluster_n) for every document (singletons are their own cluster).
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")
    e = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    out = min_label_clusters(docs, e)
    return with_cluster_sizes(out).select("doc_id", "cluster", "cluster_n")


def with_cluster_sizes(lbl: DataFrame) -> DataFrame:
    """Attach ``cluster_n`` to a labeling — as an aggregate + equi-join,
    never ``count() OVER (PARTITION BY cluster)``: a mega cluster would
    put its whole row set through one window task's sort, while the join
    shape partial-aggregates map-side and AQE-skew-splits the hot probe
    partition. The ONE copy of the idiom (dedup_clusters,
    dup_span_clusters, and multimodal's phash clusters all go through
    here)."""
    sizes = lbl.groupBy("cluster").agg(F.count("*").alias("cluster_n"))
    return lbl.join(sizes, "cluster")


# Verified-pair graphs are duplicate-rate-bounded — usually FAR smaller
# than the corpus. Below this edge count the component labels come from a
# driver-side union-find (milliseconds, zero distributed rounds) instead
# of the iterative fixpoint, whose per-round cost is dominated by driver
# round-trips + checkpoints at small sizes (measured: ~3 s for a 205-edge
# graph). The collect is bounded by this constant (~8 MB of int64 pairs
# via the Arrow/toPandas path in _driver_components); larger graphs run
# the distributed pointer-jumping path unchanged.
CC_DRIVER_EDGE_MAX = 500_000


def _driver_components(docs: DataFrame, pdf) -> DataFrame:
    """Union-find on a collected (bounded) edge list — a pandas frame the
    caller already probed out of the pair plan; labels broadcast back as
    a join against the node set. Identical output to the distributed
    fixpoint: cluster = min node id of the component."""
    from pyspark.sql.types import StructField, StructType

    if not len(pdf):
        return docs.select("doc_id", F.col("doc_id").alias("cluster"))
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a0, b0 in zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()):
        a, b = find(a0), find(b0)
        if a != b:
            # union by MIN id — the root IS the cluster label
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    labels = [(x, find(x)) for x in list(parent)]
    labels = [(x, c) for x, c in labels if x != c]
    t = docs.schema["doc_id"].dataType
    lbl = local_frame(
        docs.sparkSession,
        labels, StructType([StructField("doc_id", t), StructField("cluster", t)])
    )
    return docs.join(F.broadcast(lbl), "doc_id", "left").select(
        "doc_id", F.coalesce("cluster", "doc_id").alias("cluster")
    )


def min_label_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components as (doc_id, cluster=min reachable doc_id), from
    any ``(doc_id)`` node set and ``(doc_a, doc_b)`` undirected pair list —
    the iterative core of ``dedup_clusters``, reused by the near-dup stage
    of ``corpus_prepare_near`` and ``corpus_assemble``.

    Adaptive: ONE bounded ``limit(cap+1).toPandas()`` probe pulls the
    edge list; at or below ``CC_DRIVER_EDGE_MAX`` edges a driver
    union-find labels the graph in one pass (identical output — the
    limit cannot truncate a set it fully contains), above it the
    distributed pointer-jumping fixpoint runs. r16 perf: the probe used
    to be three actions (eager checkpoint of the pairs + count +
    toPandas re-read); the fused probe is one action on the common
    small-graph path — the big-graph path re-evaluates the pair plan
    once more, the right trade for a branch taken only when the graph
    is ≥500k edges (where one extra pass over pair GENERATION is noise
    next to the fixpoint rounds it precedes)."""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    pdf = (
        pairs.select("doc_a", "doc_b")
        .limit(CC_DRIVER_EDGE_MAX + 1)
        .toPandas()
    )
    if len(pdf) <= CC_DRIVER_EDGE_MAX:
        return _driver_components(docs, pdf)
    e = (
        pairs.select("doc_a", "doc_b")
        .coalesce(par)
        .localCheckpoint(eager=True)
    )
    # undirected edges, both directions, PLUS a self-loop per node: min over
    # the neighborhood-including-self is then the whole round — one join +
    # one groupBy, no separate keep-own-label left join. Checkpoint once —
    # every round reuses it. coalesce before each checkpoint: the round's
    # shuffles may run at the session's shuffle-partition count (200 on a
    # vanilla session), and materializing hundreds of near-empty partitions
    # per round costs more scheduling than the data itself.
    edges = (
        e.unionAll(e.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
        .unionAll(docs.select(F.col("doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b")))
        .coalesce(par)
        .localCheckpoint(eager=True)
    )
    labels = (
        docs.select(F.col("doc_id"), F.col("doc_id").alias("lbl"))
        .coalesce(par)
        .localCheckpoint(eager=True)
    )
    # Convergence check: labels only ever decrease elementwise, so the label
    # SUM is strictly decreasing until the fixpoint — an O(1)-result agg on
    # the already-checkpointed rows replaces a join against the previous
    # round. Summed as DECIMAL(38,0): exact for any BIGINT ids at any row
    # count that fits a cluster (no int64 overflow false-fixpoint).
    dec_sum = F.sum(F.col("lbl").cast("decimal(38,0)"))
    prev_sum = labels.agg(dec_sum).collect()[0][0]
    converged = False
    for _ in range(20):  # with pointer jumping this covers diameter ~2^20
        # half-round 1 — neighborhood min: lbl ← min(lbl over neighbors∪self)
        propagated = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy("doc_a")
            .agg(F.min("lbl").alias("lbl"))
            .select(F.col("doc_a").alias("doc_id"), "lbl")
            .coalesce(par)
            .localCheckpoint(eager=True)
        )
        # half-round 2 — pointer jumping: lbl ← lbl[lbl]. Labels never
        # exceed their node id, so lbl's own row always exists (inner join
        # is total) and the composition only decreases labels. Chains that
        # min-propagation walks one hop per round collapse in O(log
        # diameter) jumped rounds (Pregel/shortcutting form of CC).
        l1, l2 = propagated.alias("l1"), propagated.alias("l2")
        labels = (
            l1.join(l2, F.col("l1.lbl") == F.col("l2.doc_id"))
            .select(F.col("l1.doc_id").alias("doc_id"), F.col("l2.lbl").alias("lbl"))
            .coalesce(par)
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(dec_sum).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # an unconverged labeling silently merges/splits clusters wrong —
        # fail loudly instead (20 jumped rounds ≈ diameter 2^20; a graph
        # that exhausts this is pathological, not production data)
        raise RuntimeError(
            "min_label_clusters: no fixpoint after 20 pointer-jumped rounds"
        )
    return labels.select("doc_id", F.col("lbl").alias("cluster"))


def dedup_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest neighbor by token-set jaccard via inverted-index join.

    explode(token) → self-equi-join on token → count common tokens per pair
    → jaccard → per-doc best neighbor (window top-1). Exact but joins on
    document frequency — see module docstring for when to prefer LSH.
    """
    toks = _doc_shingles(spark, sf_dir).withColumn("nd", F.size("toks"))
    inv = toks.select("doc_id", "nd", F.explode("toks").alias("token"))
    a, b = inv.alias("a"), inv.alias("b")
    pairs = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.nd").alias("na"),
            F.col("b.nd").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
        .withColumn("jaccard", F.col("common") / (F.col("na") + F.col("nb") - F.col("common")))
    )
    both = pairs.select(
        F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("neighbor_id"), "jaccard"
    ).unionAll(
        pairs.select(
            F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("neighbor_id"), "jaccard"
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("jaccard").desc(), F.col("neighbor_id"))
    return (
        both.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "neighbor_id", F.round("jaccard", 6).alias("jaccard"))
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + bucket sizes (equal signature = dup candidate).

    The per-token md5 array is materialized as its own column so the 16
    bit-vote folds read it 16 times instead of recomputing it 16 times.
    """
    # repartition: spread the per-doc hash work across cores (single-file
    # corpus reads as one partition); the window below shuffles anyway
    par = spark.sparkContext.defaultParallelism
    toks = _doc_shingles(spark, sf_dir).repartition(par)
    sim = toks.withColumn("hx", T.token_md5s(F.col("toks"))).select(
        "doc_id", T.simhash16_from_hashes(F.col("hx")).cast("long").alias("simhash")
    )
    return sim.withColumn("bucket_n", F.count("*").over(Window.partitionBy("simhash")))


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: pairs with cosine ≥ 0.35 (brute-force exact scan).

    Norms precomputed per vector (one pass) so the pair stage does one dot
    product per pair. Quadratic — the scale path is LSH/IVF blocking
    (``operators.similarity``); this is the exactness baseline.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    e = e.withColumn("nrm", V.norm(F.col("v")))
    a, b = e.alias("a"), e.alias("b")
    cos = V.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= COSINE_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, LSH-bucketed (the scale path for
    ``dedup_embedding``): signed-random-projection sketch → banded bucket
    keys → bucket equi-join candidates → exact-cosine verify ≥ 0.35.

    Charikar SRP: bit_b = sign(v · h_b) for SRP_BITS deterministic ±1
    hyperplanes; P[bit match] = 1 − θ/π. SRP_BANDS bands of 6 bits (64
    buckets each — see functions.vectors for the pair-work/recall tuning),
    first-collision band joins (same trick as ``lsh_pairs_from_shingles``:
    a pair is emitted by the FIRST band where it collides and filtered from
    later bands, so no distinct-over-pairs shuffle). Join keys are small
    ints; each side carries (vec_id, v, nrm) so the cosine verify is a
    map-side projection.

    Contract vs the brute-force baseline: output ⊆ ``dedup_embedding``
    (identical cosine + threshold on surviving pairs); recall is the LSH
    collision probability 1 − (1 − p⁶)⁴, p = 1 − θ/π — ≈0.98 for
    near-duplicate vectors (cosine ≥ 0.97), intentionally low for weak
    pairs near the 0.35 floor. At 100 TB the shuffle stays O(vectors),
    never O(pairs) — the only shape that survives.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    return srp_pairs(e)


def srp_pairs(e: DataFrame) -> DataFrame:
    """SRP-LSH near-dup pairs from any ``(vec_id, v: array<double>)``
    DataFrame — the dataflow behind ``dedup_embedding_lsh`` (see there for
    the anatomy and the recall contract)."""
    e = e.withColumn("nrm", V.norm(F.col("v")))
    # band joins reference the sketch 8×; bounded (see caching module).
    # r17 A/B note: a plan-truncating localCheckpoint here won ~12% but was
    # reverted for the same bounded-storage contract as lsh_pairs above.
    d = bounded_cache(
        "dedup.srp_pairs", e.select("vec_id", "v", "nrm", *V.srp_band_keys(F.col("v")))
    )
    a, b = d.alias("a"), d.alias("b")
    cos = V.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    parts = []
    for i in range(V.SRP_BANDS):
        cond = (F.col(f"a.bk{i}") == F.col(f"b.bk{i}")) & (
            F.col("a.vec_id") < F.col("b.vec_id")
        )
        for j in range(i):
            cond = cond & (F.col(f"a.bk{j}") != F.col(f"b.bk{j}"))
        parts.append(
            a.join(b, cond).select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                cos.alias("cosine"),
            )
        )
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionAll(p)
    return cand.where(F.col("cosine") >= COSINE_THRESHOLD).select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine")
    )


# ---------------------------------------------------------------------------
# SemDeDup: k-means-bucketed semantic dedup (Abbas et al., 2023 —
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication", arXiv:2303.09540)
# ---------------------------------------------------------------------------


def _semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cluster near-dup candidate pairs behind both SemDeDup queries:
    assign every vector to its nearest trained k-means centroid (the SAME
    memoized spherical-k-means model the IVF-ANN family serves from — one
    shuffle-free per-row fold over inlined centroid literals), then
    self-equi-join ON THE CLUSTER ID and keep pairs with cosine ≥
    threshold. Carries each side's centroid cosine for the keep policy.

    Scale shape: the blocking is the paper's — pair work is Σ|cluster|²
    instead of n², and k grows with the corpus (SemDeDup uses k ≈ n/1000 on
    LAION) so clusters stay bounded; the join is an equi-join on a small
    int key (shuffle partitioned by cid, AQE-splittable on skew), never a
    cartesian. Complements the SRP-LSH blocking of ``dedup_embedding_lsh``:
    clustering adapts buckets to the data's geometry, SRP's hyperplanes are
    data-independent.
    """
    from . import similarity as SIM

    e = SIM._vectors(spark, sf_dir).select("vec_id", "v")
    return semantic_pairs(e, SIM._train_kmeans(spark, sf_dir))


def semantic_pairs(e: DataFrame, cent_rows: list[tuple]) -> DataFrame:
    """The SemDeDup dataflow over any ``(vec_id, v: array<double>)`` frame
    and a trained centroid list ``[(cid, cv, cnrm), ...]`` — see
    ``_semantic_pairs`` for the anatomy and scale notes."""
    rk = V.centroid_ranking(
        F.col("v"), F.col("nrm"), V.centroid_literal(cent_rows)
    )[0]
    assigned = bounded_cache(
        "dedup.semantic_assigned",
        e.withColumn("nrm", V.norm(F.col("v"))).select(
            "vec_id",
            "v",
            "nrm",
            rk["cid"].alias("cid"),
            (-rk["negcos"]).alias("ccos"),
        ),
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = V.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= COSINE_THRESHOLD)
        .select(
            F.col("a.cid").alias("cid"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine",
            F.col("a.ccos").alias("accos"),
            F.col("b.ccos").alias("bccos"),
        )
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup near-dup pairs: same cosine + threshold as the brute-force
    ``dedup_embedding`` baseline, but only WITHIN k-means clusters — so the
    output is a subset of the baseline's whose recall is the probability
    that near-dups co-assign (near-1 for near-identical vectors; gated in
    tests/test_lsh_quality.py). Fully DuckDB-oracle-exact: the clustering,
    assignment, and cosine arithmetic are all deterministic and
    SQL-replayable."""
    return _semantic_pairs(spark, sf_dir).select(
        "cid", "vec_a", "vec_b", F.round("cosine", 6).alias("cosine")
    )


def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup keep policy over the within-cluster pairs: for every
    near-dup pair, REMOVE the member closer to its centroid (the paper §3
    keeps the LOW-centroid-similarity item — it is the more informative,
    less redundant one), ties broken by the higher vec_id. Output is the
    per-vector verdict for every vector in ≥ 1 pair; vectors in no pair are
    trivially kept and omitted.

    One extra shuffle over the pairs frame (loser-id distinct) + a
    broadcast-sized join back to the ≤2·pairs member set — the verdict
    stage costs O(pairs), never O(n²)."""
    pairs = bounded_cache("dedup.semantic_pairs", _semantic_pairs(spark, sf_dir))
    loser = F.when(
        (F.col("accos") > F.col("bccos"))
        | ((F.col("accos") == F.col("bccos")) & (F.col("vec_a") > F.col("vec_b"))),
        F.col("vec_a"),
    ).otherwise(F.col("vec_b"))
    losers = pairs.select(loser.alias("vec_id")).distinct()
    members = (
        pairs.select(F.col("vec_a").alias("vec_id"), F.col("cid"), F.col("accos").alias("ccos"))
        .unionByName(
            pairs.select(
                F.col("vec_b").alias("vec_id"), F.col("cid"), F.col("bccos").alias("ccos")
            )
        )
        .groupBy("vec_id")
        # cid/ccos are identical on every occurrence of a vec_id (one
        # assignment per vector) — max is just the deterministic pick
        .agg(F.max("cid").alias("cid"), F.max("ccos").alias("ccos"))
    )
    return (
        members.join(losers.withColumn("rm", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.round("ccos", 6).alias("centroid_cos"),
            F.coalesce("rm", F.lit(False)).alias("removed"),
        )
    )


# ---------------------------------------------------------------------------
# Exact duplicated-span detection (substring-level dedup)
#
# Document-level dedup (everything above) misses the common contamination
# mode where a long boilerplate passage is embedded inside otherwise-unique
# documents (Lee et al. 2022, "Deduplicating Training Data Makes Language
# Models Better", §3: exact substring dedup at 50-token granularity). The
# scale-correct shape is span fingerprinting: explode every k-token span to
# a 64-bit hash — O(total_tokens) rows of (doc_id, hash), never O(n²) —
# then one hash-keyed aggregation finds spans occurring in >1 document.
# ---------------------------------------------------------------------------

SPAN_K = 8  # span length in tokens (Lee et al. use 50 BPE tokens; the
# fixture's ~54-token docs need a shorter window to have >1 span per doc)


def _span_index(t: Column, k: int) -> Column:
    """0-based start offsets of every k-token span; empty for short docs
    (``sequence(0, n-k)`` with n < k would produce a DESCENDING range and
    fabricate spans — same guard as ``shingles``)."""
    n = F.size(t)
    return F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )


def span_strings(toks: Column, k: int = SPAN_K) -> Column:
    """Every k-token span as a space-joined string (one entry per POSITION
    — repeats within a doc stay, unlike ``shingles``).

    ``toks`` must be a MATERIALIZED token-array column (an attribute), not
    a ``split(text)`` expression: slicing an expression inside the lambda
    re-evaluates the whole split per span index — O(tokens²) per doc, the
    exact pitfall the ``shingles`` docstring documents (round-2 perf log).
    Queries do ``withColumn("t", T.tokens(text))`` first.
    """
    return F.transform(
        _span_index(toks, k),
        lambda i: F.concat_ws(" ", F.slice(toks, i + F.lit(1), F.lit(k))),
    )


def span_hashes(toks: Column, k: int = SPAN_K) -> Column:
    """64-bit fingerprint per span position (``toks``: materialized token
    array — see ``span_strings``). At 100 TB only these 8-byte ints are
    shuffled, never span text (~8 tokens ≈ 50 bytes each); the oracle keys
    by the span STRING instead, so parity additionally verifies the
    no-collision assumption (64-bit hashes over ~1e5..1e9 spans: collision
    probability ≤ n²/2⁶⁵)."""
    # one-param lambda — xxhash64 is variadic; transform would pass (elem, idx)
    return F.transform(span_strings(toks, k), lambda s: F.xxhash64(s))


def doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction: the share of a doc's k-token
    span positions whose span also appears in ANOTHER document.

    Dataflow (all O(span positions), no pair blow-up):
      1. explode span hashes                    — map-only,
      2. groupBy(h, doc_id) count               — shuffle 1 (map-side combine
         collapses within-doc repeats first),
      3. groupBy(h) distinct-doc count          — shuffle 2 (partial-agg'd),
         equi-JOINED back on h                  — shuffle 3,
      4. groupBy(doc_id) rollup                 — shuffle 4 (tiny: ≤1 row per
         (h, doc) survivor).
    Step 3 is deliberately an aggregate + equi-join, NOT
    ``count() OVER (PARTITION BY h)``: a boilerplate span shared by a
    million docs makes h a hot key, and a window funnels that whole group
    through ONE task's sort with no mitigation, while the join shape
    partial-aggregates map-side and lets AQE's skew-join split the hot
    probe partition (the corpus_mix straggler lesson, round-5 verdict).
    Cost of the trade: the grp branch re-derives the explode when Catalyst
    doesn't reuse the (h, doc_id) exchange — a second map-parallel pass,
    uniformly spread over cores, which is the right price for removing an
    unsplittable straggler. (At fixture scale grp broadcasts and per never
    re-shuffles at all.)
    Docs shorter than k tokens have no spans and are absent from the output
    (the oracle agrees).
    """
    d = load(spark, sf_dir, "documents").withColumn("t", T.tokens(F.col("text")))
    spans = d.select("doc_id", F.explode(span_hashes(F.col("t"))).alias("h"))
    per = spans.groupBy("h", "doc_id").agg(F.count("*").alias("c"))
    grp = per.groupBy("h").agg(F.count("*").alias("n_docs"))
    flagged = per.join(grp, "h")
    dup = F.sum(F.when(F.col("n_docs") > 1, F.col("c")).otherwise(F.lit(0)))
    return (
        flagged.groupBy("doc_id")
        .agg(F.sum("c").alias("n_spans"), dup.alias("dup_spans"))
        .withColumn("dup_frac", F.round(F.col("dup_spans") / F.col("n_spans"), 6))
    )


def corpus_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 cross-document duplicated spans (the boilerplate passages an
    exact-substring dedup pass would cut), by document reach then total
    occurrences. Carries span text through the groupBy — a reporting query
    over the duplicated tail; map-side partial aggregation collapses
    within-partition repeats before the string shuffle, and the top-20 is a
    TakeOrdered, not a global sort."""
    d = load(spark, sf_dir, "documents").withColumn("t", T.tokens(F.col("text")))
    spans = d.select("doc_id", F.explode(span_strings(F.col("t"))).alias("span"))
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), F.asc("span"))
        .limit(20)
    )


def dup_span_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the shares-a-duplicated-span graph — the
    document-grouping view of exact substring dedup (docs chained by
    common boilerplate land in one cluster even when no single span links
    them all).

    Scale shape: edges are STAR-shaped — every doc holding span h links to
    that span's min doc_id — so the edge list is O(distinct (h, doc)
    pairs). A boilerplate span shared by a million docs yields a million
    edges, never the 10¹² of all-pairs-within-group. Components via the
    shared pointer-jumped min-label fixpoint (``min_label_clusters``); the
    star topology has diameter ≤ 2 per span, so convergence is 1-2 rounds.
    """
    d = load(spark, sf_dir, "documents").withColumn("t", T.tokens(F.col("text")))
    spans = d.select("doc_id", F.explode(span_hashes(F.col("t"))).alias("h"))
    per = spans.select("h", "doc_id").distinct()
    # aggregate + equi-join, not a window over h — same skew rationale as
    # doc_dup_spans (a mega-dup span would put its whole group through one
    # window task; the join shape partial-aggregates and AQE-splits)
    grp = per.groupBy("h").agg(
        F.min("doc_id").alias("rep"), F.count("*").alias("n_docs")
    ).where(F.col("n_docs") > 1)
    edges = (
        per.join(grp, "h")
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    lbl = min_label_clusters(d.select("doc_id"), edges)
    return with_cluster_sizes(lbl).select("doc_id", "cluster", "cluster_n")


INCREMENT_SPLIT = 400  # fixture split: doc_id >= 400 is the "new batch"


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (asymmetric) near-dup: probe a NEW batch of documents
    against the EXISTING corpus — the production append pattern. A daily
    ingest must ask "is this new doc a near-dup of anything we already
    have?" without re-pairing the corpus against itself; the band join's
    probe side is only the batch, so per-append cost is
    O(batch + corpus-signatures-touched), not O(corpus²) and not even
    O(corpus log corpus).

    Same signature table, band keys, first-collision-band dedup trick, and
    exact-jaccard verify as the symmetric ``dedup_minhash_lsh`` (shared
    ``lsh_signatures``); the join sides are disjoint id ranges instead of
    ``doc_a < doc_b`` halves. In a deployment the corpus side's signatures
    are PERSISTED once (they are this table's columns) and only the batch
    side is computed per append.
    """
    from fractions import Fraction

    toks = _doc_shingles(spark, sf_dir)
    # same cache SITE as the symmetric scan: the signature subplan is
    # identical, so sharing the site keeps at most one live copy whichever
    # query ran last (bounded_cache unpersists the previous holder)
    d = bounded_cache("dedup._lsh_pairs", lsh_signatures(toks))
    a = d.where(F.col("doc_id") >= INCREMENT_SPLIT).alias("a")  # new batch
    b = d.where(F.col("doc_id") < INCREMENT_SPLIT).alias("b")  # existing
    common = F.size(F.array_intersect("a.ht", "b.ht"))
    frac = Fraction(JACCARD_THRESHOLD).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator
    parts = []
    for i in range(BANDS):
        cond = F.col(f"a.bk{i}") == F.col(f"b.bk{i}")
        for j in range(i):
            cond = cond & (F.col(f"a.bk{j}") != F.col(f"b.bk{j}"))
        cond = cond & (
            den * F.least(F.col("a.n"), F.col("b.n"))
            >= num * F.greatest(F.col("a.n"), F.col("b.n"))
        )
        cond = cond & ((den + num) * common >= num * (F.col("a.n") + F.col("b.n")))
        parts.append(
            a.join(b, cond).select(
                F.col("a.doc_id").alias("doc_new"),
                F.col("b.doc_id").alias("doc_base"),
                F.round(
                    common / (F.col("a.n") + F.col("b.n") - common), 6
                ).alias("jaccard"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_SPANS_CTE = f"""toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
          WHERE len(string_split(text, ' ')) >= {SPAN_K}
        ),
        idx AS (
          SELECT doc_id, t, unnest(range(1, len(t) - {SPAN_K} + 2)) AS i FROM toks
        ),
        spans AS (
          SELECT doc_id, array_to_string(t[i:i + {SPAN_K} - 1], ' ') AS s FROM idx
        )"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_summary": dedup_minhash_summary,
    "dedup_clusters": dedup_clusters,
    "dedup_jaccard_topk": dedup_jaccard_topk,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_semantic": dedup_semantic,
    "dedup_semantic_keep": dedup_semantic_keep,
    "doc_dup_spans": doc_dup_spans,
    "corpus_dup_spans": corpus_dup_spans,
    "dup_span_clusters": dup_span_clusters,
    "dedup_incremental_lsh": dedup_incremental_lsh,
}


def _srp_oracle() -> str:
    """DuckDB twin of ``dedup_embedding_lsh`` — same inlined hyperplanes,
    same banded buckets; the OR-of-bands single join emits each candidate
    pair once, exactly like the first-collision union."""
    bks = ",\n                 ".join(V.srp_band_keys_sql("v"))
    on = " OR ".join(f"(a.bk{k} = b.bk{k})" for k in range(V.SRP_BANDS))
    return f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
          FROM embeddings
        ),
        sig AS (
          SELECT vec_id, v, nrm,
                 {bks}
          FROM e
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        FROM sig a JOIN sig b
          ON a.vec_id < b.vec_id AND ({on})
        WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {COSINE_THRESHOLD}
    """

_TOKS_CTE = (
    "toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents)"
)

_MH = ", ".join(
    f"list_aggregate(list_transform(t, x -> md5('{i}:' || x)), 'min') AS mh{i}" for i in range(8)
)

_SIMHASH_VOTES = " + ".join(
    "(CASE WHEN list_sum(list_transform(t, x -> "
    f"((strpos('0123456789abcdef', substring(md5(x), {b + 1}, 1)) - 1) % 2) * 2 - 1)) > 0 "
    f"THEN {1 << b} ELSE 0 END)"
    for b in range(16)
)

ORACLES = {
    "dedup_exact": """
        SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id,
               count(*) AS dup_count
        FROM documents GROUP BY md5(text)
    """,
    "dedup_minhash_lsh": f"""
        WITH {_TOKS_CTE},
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
        verified AS (
          SELECT doc_a, doc_b,
                 len(list_filter(ta.t, x -> list_contains(tb.t, x))) AS common,
                 len(ta.t) AS na, len(tb.t) AS nb
          FROM cand
          JOIN toks ta ON ta.doc_id = doc_a
          JOIN toks tb ON tb.doc_id = doc_b
        )
        SELECT doc_a, doc_b, round(common / (na + nb - common), 6) AS jaccard
        FROM verified
        WHERE common / (na + nb - common) >= 0.8
    """,
    # summary rollup over the same pipeline: max(round(j)) == round(max(j))
    # since round is monotone, so wrapping the pairs query is exact.
    "dedup_minhash_summary": None,  # filled in below from the pairs oracle
    "dedup_jaccard_topk": f"""
        WITH {_TOKS_CTE},
        inv AS (SELECT doc_id, len(t) AS nd, unnest(t) AS token FROM toks),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nd AS na, b.nd AS nb,
                 count(*) AS common
          FROM inv a JOIN inv b ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
        ),
        bidir AS (
          SELECT doc_a AS doc_id, doc_b AS neighbor_id,
                 common / (na + nb - common) AS jaccard FROM pairs
          UNION ALL
          SELECT doc_b, doc_a, common / (na + nb - common) FROM pairs
        )
        SELECT doc_id, neighbor_id, round(jaccard, 6) AS jaccard
        FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY jaccard DESC, neighbor_id) AS rn
          FROM bidir
        ) t WHERE rn = 1
    """,
    "dedup_simhash": f"""
        WITH {_TOKS_CTE},
        sim AS (SELECT doc_id, CAST({_SIMHASH_VOTES} AS BIGINT) AS simhash FROM toks)
        SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS bucket_n
        FROM sim
    """,
    "dedup_embedding": """
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
          FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
    """,
    "dedup_embedding_lsh": _srp_oracle(),
}

ORACLES["dedup_minhash_summary"] = f"""
    WITH pairs AS ({ORACLES["dedup_minhash_lsh"]})
    SELECT doc_a, count(*) AS n_dups, max(jaccard) AS max_jaccard,
           min(doc_b) AS min_dup_id
    FROM pairs GROUP BY doc_a ORDER BY doc_a
"""

# Connected components as a recursive transitive-closure CTE: reach(a, b)
# enumerates every node reachable from a; the component label is the min
# reachable node (including a itself). Closure size is bounded by
# Σ component², viable at oracle scale (sf0.01).
ORACLES["dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({ORACLES["dedup_minhash_lsh"]}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    lbl AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    )
    SELECT doc_id, cluster,
           count(*) OVER (PARTITION BY cluster) AS cluster_n
    FROM lbl
"""

ORACLES["doc_dup_spans"] = f"""
    WITH {_SPANS_CTE},
    d AS (SELECT s, count(DISTINCT doc_id) AS nd FROM spans GROUP BY s),
    per AS (SELECT doc_id, s, count(*) AS c FROM spans GROUP BY doc_id, s)
    SELECT per.doc_id,
           CAST(sum(per.c) AS BIGINT) AS n_spans,
           CAST(coalesce(sum(per.c) FILTER (d.nd > 1), 0) AS BIGINT) AS dup_spans,
           round(coalesce(sum(per.c) FILTER (d.nd > 1), 0) * 1.0
                 / sum(per.c), 6) AS dup_frac
    FROM per JOIN d ON per.s = d.s
    GROUP BY per.doc_id
"""

ORACLES["corpus_dup_spans"] = f"""
    WITH {_SPANS_CTE}
    SELECT s AS span,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occ
    FROM spans GROUP BY s
    HAVING count(DISTINCT doc_id) > 1
    ORDER BY n_docs DESC, n_occ DESC, span
    LIMIT 20
"""

ORACLES["dup_span_clusters"] = f"""
    WITH RECURSIVE {_SPANS_CTE},
    dsp AS (SELECT DISTINCT s, doc_id FROM spans),
    dup AS (SELECT s FROM dsp GROUP BY s HAVING count(*) > 1),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM dsp a JOIN dsp b ON a.s = b.s
      JOIN dup ON dup.s = a.s
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    lbl AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    )
    SELECT doc_id, cluster,
           count(*) OVER (PARTITION BY cluster) AS cluster_n
    FROM lbl
"""

ORACLES["dedup_incremental_lsh"] = f"""
    WITH {_TOKS_CTE},
    sig AS (SELECT doc_id, {_MH} FROM toks),
    bands AS (
      SELECT doc_id, 0 AS band_id, md5(mh0 || mh1) AS band_key FROM sig
      UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig
      UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM sig
      UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_base
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id >= {INCREMENT_SPLIT} AND b.doc_id < {INCREMENT_SPLIT}
    ),
    verified AS (
      SELECT doc_new, doc_base,
             len(list_filter(ta.t, x -> list_contains(tb.t, x))) AS common,
             len(ta.t) AS na, len(tb.t) AS nb
      FROM cand
      JOIN toks ta ON ta.doc_id = doc_new
      JOIN toks tb ON tb.doc_id = doc_base
    )
    SELECT doc_new, doc_base, round(common / (na + nb - common), 6) AS jaccard
    FROM verified
    WHERE common / (na + nb - common) >= 0.8
"""


def _semdedup_prefix() -> str:
    """Shared CTE prefix for the SemDeDup oracles: the similarity module's
    deterministic k-means (same md5-seeded init, same fixed Lloyd rounds)
    → nearest-centroid assignment → within-cluster pairs with cosine and
    both members' centroid cosines. Import is deferred so dedup keeps no
    module-level dependency on similarity."""
    from . import similarity as _SIM

    return f"""
    WITH {_SIM._E},
    {_SIM._KMEANS_SQL},
    scored AS (
      SELECT e.vec_id, e.v, e.nrm, c.centroid_label,
             list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) AS ccos
      FROM e, cent_n c
    ),
    assigned AS (
      SELECT vec_id, v, nrm, centroid_label AS cid, ccos
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC, centroid_label) AS rn
            FROM scored) t
      WHERE rn = 1
    ),
    pairs AS (
      SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine,
             a.ccos AS accos, b.ccos AS bccos
      FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {COSINE_THRESHOLD}
    )"""


ORACLES["dedup_semantic"] = f"""
    {_semdedup_prefix()}
    SELECT cid, vec_a, vec_b, round(cosine, 6) AS cosine FROM pairs
"""

ORACLES["dedup_semantic_keep"] = f"""
    {_semdedup_prefix()},
    members AS (
      SELECT vec_id, max(cid) AS cid, max(ccos) AS ccos FROM (
        SELECT vec_a AS vec_id, cid, accos AS ccos FROM pairs
        UNION ALL
        SELECT vec_b AS vec_id, cid, bccos AS ccos FROM pairs) u
      GROUP BY vec_id
    ),
    losers AS (
      SELECT DISTINCT CASE WHEN accos > bccos
                             OR (accos = bccos AND vec_a > vec_b)
                           THEN vec_a ELSE vec_b END AS vec_id
      FROM pairs
    )
    SELECT m.vec_id, m.cid, round(m.ccos, 6) AS centroid_cos,
           (l.vec_id IS NOT NULL) AS removed
    FROM members m LEFT JOIN losers l ON l.vec_id = m.vec_id
    ORDER BY m.vec_id
"""
