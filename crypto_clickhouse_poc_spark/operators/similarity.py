"""Similarity search over the ``embeddings`` table (array<float> column).

Two tiers, as a 100 TB engine needs both:

- **Brute-force top-k** (exact baseline): broadcast the (small) query set
  against the full vector table — a broadcast nested-loop join, which is the
  *correct* plan here: no shuffle of the big side, each executor scans its
  partitions once, top-k per query via window. Cosine is a JVM-side
  ``zip_with``/``aggregate`` fold (see ``functions.vectors``); for maximum
  constant-factor throughput a numpy Pandas-UDF variant is provided
  (``ann_topk_pandas``) that matmuls each Arrow batch against the query
  matrix — same results, preferred at very high dimensionality.
- **IVF (inverted-file) partitioned search** (scale path): UNSUPERVISED
  k-means centroids (Lloyd's algorithm as iterative DataFrame rounds —
  deterministic md5-seeded init, fixed round count, so the oracle replays
  the identical training), assign each vector to its nearest centroid,
  search only within probed clusters. The assignment is a per-row fold
  argmax over the trained centroids inlined as literals
  (``functions.vectors.centroid_ranking``) — zero joins, zero Exchange,
  no vectors×k row explosion; at 100 TB you persist the cluster id as a
  partition column so a query probes ~n/k of the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import bounded_cache, derived_dir, fitted
from ..functions import vectors as V
from ..localframe import local_frame
from ..tables import load

TOPK = 10
N_QUERY_VECS = 5  # fixture query set: vec_id < 5


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scan_parallel (r17, guide §2.5): the single-file embeddings scan
    # opens as ONE partition and everything downstream of _vectors is
    # heavy per-row arithmetic (O(k·d) centroid-ranking folds, SRP
    # sketches, pair cosines) that would otherwise run serially at
    # fixture scale; no-op on a production multi-file scan. The shuffled
    # rows are (id, label, d doubles) — small next to the work they feed.
    from ..tables import scan_parallel

    e = scan_parallel(load(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", V.as_double(F.col("embedding")).alias("v")
    )
    return e.withColumn("nrm", V.norm(F.col("v")))


def ann_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for each query vector (vec_id < 5)."""
    e = _vectors(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cos = V.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOPK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("cosine", 6).alias("cosine"))
    )


def ann_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k with a vectorized numpy kernel (mapInPandas).

    Same semantics as ann_topk_brute; each Arrow batch is scored against the
    whole query matrix with one matmul. Demonstrates the Pandas-UDF scale
    path; no oracle entry needed (ann_topk_brute is the oracle-checked twin).
    """
    import pandas as pd  # noqa: F401 — guaranteed in env

    e = load(spark, sf_dir, "embeddings")
    qrows = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in e.where(F.col("vec_id") < N_QUERY_VECS).select("vec_id", "embedding").collect()
    ]

    def score(batches):
        import numpy as np
        import pandas as pd

        qids = np.array([q[0] for q in qrows])
        qm = np.array([q[1] for q in qrows], dtype=np.float64)
        qn = np.linalg.norm(qm, axis=1)
        for pdf in batches:
            vm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            vn = np.linalg.norm(vm, axis=1)
            sims = (vm @ qm.T) / np.outer(vn, qn)  # [batch, nq]
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, len(pdf)),
                    "neighbor_id": np.tile(pdf["vec_id"].to_numpy(), len(qids)),
                    "cosine": sims.T.reshape(-1),
                }
            )
            yield out[out.query_id != out.neighbor_id]

    scored = e.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


KMEANS_K = 8  # centroid count (fixture: 500-5k vectors, 10 latent labels)
KMEANS_ROUNDS = 3  # FIXED round count — the oracle replays the same training


def _train_kmeans(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    rounds: int = KMEANS_ROUNDS,
) -> list[tuple]:
    """Unsupervised spherical k-means (Lloyd): driver-side centroid rows
    ``[(cid, cv, cnrm), ...]`` (cid-ascending).

    No labels anywhere: seeds are the ``k`` vectors with the smallest
    ``md5(vec_id)`` (hash-seeded — pseudo-random but deterministic and
    SQL-expressible, so the DuckDB oracle replays the identical init), and
    each round is assign (per-row fold argmax over the current centroids
    inlined as literals — ``functions.vectors.centroid_ranking``, zero
    joins, zero Exchange) → recompute (per-(cluster, dim) mean, rounded to
    6dp so the float mean, whose partial-sum order is engine-dependent, is
    reproducible before any downstream distance math). The round count is
    FIXED, not convergence-tested, so both engines run exactly the same
    iterations.

    Scale shape: each round is one shuffle-free projection + one
    shuffle-by-(cluster, dim) aggregate over the big table — O(rounds)
    scans; the only driver-side data is k·dim aggregate cells per round
    (the centroids themselves, which ARE the trained artifact — production
    persists them beside the data as the partition dictionary). Norms are
    recomputed driver-side with the same sequential left-fold + IEEE sqrt
    the engines use, so the literal matches what ``V.norm`` would produce.
    A cluster that loses all members drops out (deterministically, in both
    engines). Fitted once per set of embeddings bytes (``caching.fitted``).
    """
    import math

    def _nrm(cv: list[float]) -> float:
        acc = 0.0
        for x in cv:
            acc += x * x
        return math.sqrt(acc)

    def fit() -> list[tuple]:
        e = _vectors(spark, sf_dir).select("vec_id", "v", "nrm")
        seeds = (
            e.withColumn("h", F.md5(F.col("vec_id").cast("string")))
            .orderBy("h", "vec_id")
            .limit(k)  # TakeOrderedAndProject — no global sort materialized
            .select("v")
            .collect()
        )
        rows = [(cid, list(r["v"]), _nrm(r["v"])) for cid, r in enumerate(seeds)]
        for _ in range(rounds):
            lit = V.centroid_literal(rows)
            rk = V.centroid_ranking(F.col("v"), F.col("nrm"), lit)
            per_dim = (
                e.select(
                    rk[0]["cid"].alias("cid"), F.posexplode("v").alias("pos", "x")
                )
                .groupBy("cid", "pos")
                .agg(F.round(F.avg("x"), 6).alias("c"))
            )
            byc: dict[int, dict[int, float]] = {}
            for r in per_dim.collect():
                byc.setdefault(int(r["cid"]), {})[int(r["pos"])] = float(r["c"])
            rows = [
                (cid, cv, _nrm(cv))
                for cid, dims in sorted(byc.items())
                for cv in [[dims[p] for p in sorted(dims)]]
            ]
        return rows

    return fitted(sf_dir, ("embeddings",), ("kmeans", k, rounds), fit)


def _kmeans_centroids(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    rounds: int = KMEANS_ROUNDS,
) -> DataFrame:
    """Trained centroids as a DataFrame (cid, cv, cnrm) — see _train_kmeans."""
    return local_frame(
        spark,
        _train_kmeans(spark, sf_dir, k, rounds),
        "cid long, cv array<double>, cnrm double",
    )


def _ranking(spark: SparkSession, sf_dir: str) -> Column:
    """Per-row centroid ranking column over the trained index (expects the
    ``v``/``nrm`` columns of :func:`_vectors`): cosine DESC, cid ASC —
    ``_ranking(...)[0]['cid']`` is the IVF assignment, slots 1.. the
    multi-probe runners-up. Pure projection: no join, no Exchange, no
    vectors×k row explosion (plan-locked in tests/test_plans.py)."""
    rows = _train_kmeans(spark, sf_dir)
    return V.centroid_ranking(F.col("v"), F.col("nrm"), V.centroid_literal(rows))


def ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid.

    Output is the (true label × assigned cluster) contingency table. The
    assignment is a shuffle-free per-row fold over the inlined centroid
    literals — the only Exchange in the plan is the final contingency
    groupBy; at scale the assigned cluster becomes a partition column
    (partition-pruned ANN probes).
    """
    e = _vectors(spark, sf_dir)
    assigned = e.select(
        "label", _ranking(spark, sf_dir)[0]["cid"].alias("centroid_label")
    )
    return (
        assigned.groupBy("label", "centroid_label")
        .agg(F.count("*").alias("n"))
    )


def ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probed search (nprobe=1): top-k among vectors sharing the query's
    nearest centroid.

    The scale path brute-force can't walk: assignment is a shuffle-free
    per-row fold (see ``_ranking``), then a query touches only its probed
    cluster — the probe itself is a broadcast equi-join against the ≤5-row
    query side, and with the cluster id as a partition column this is
    partition pruning, reading ~n/k of the data. Recall vs exact top-k is
    the standard IVF trade; both engines compute the same deterministic
    assignment, so the oracle is exact.
    """
    e = _vectors(spark, sf_dir)
    assigned = e.select(
        "vec_id", "v", "nrm", _ranking(spark, sf_dir)[0]["cid"].alias("cluster")
    )
    q = assigned.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("cluster").alias("qcluster"),
    )
    cos = V.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    scored = (
        assigned.join(F.broadcast(q), F.col("cluster") == F.col("qcluster"))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOPK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("cosine", 6).alias("cosine"))
    )


NPROBE = 2


def ann_ivf_search_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probed search with nprobe=2: each query searches its TWO nearest
    clusters.

    nprobe is the IVF recall lever — a query sitting near a Voronoi
    boundary has true neighbors in the runner-up cluster that nprobe=1
    misses; probing the top-2 centroids recovers them at ~2× the probe
    cost (still ~2n/k of the data, nowhere near a full scan). Same
    deterministic shuffle-free assignment fold as ``ann_ivf_search`` — the
    probe list is just slots 0..nprobe-1 of the per-row centroid ranking,
    exploded on the ≤5-row query side only. A candidate lives in exactly
    one cluster and a query's probed clusters are distinct, so no
    candidate is scored twice.
    """
    e = _vectors(spark, sf_dir)
    rk = _ranking(spark, sf_dir)
    assigned = e.select("vec_id", "v", "nrm", rk[0]["cid"].alias("cluster"))
    probes = e.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.explode(
            F.slice(F.transform(rk, lambda s: s["cid"]), 1, NPROBE)
        ).alias("qcluster"),
    )
    cos = V.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    scored = (
        assigned.join(F.broadcast(probes), F.col("cluster") == F.col("qcluster"))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOPK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("cosine", 6).alias("cosine"))
    )


# --- IVF-PQ: product-quantization ADC shortlist + exact rerank ------------

PQ_M = 8  # subspaces: 64 dims → 8-dim subvectors
PQ_KS = 16  # codebook entries per subspace (a code is a nibble)
PQ_ROUNDS = 2  # FIXED Lloyd rounds per sub-codebook, deterministic
PQ_RERANK = 50  # ADC-ranked candidates that get the exact cosine rerank


def _pq_encode(
    e: DataFrame,
    coarse: list[tuple],
    books: list[list[list[float]]],
    with_residual: bool = False,
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """Coarse-assign + PQ-encode every vector with one Arrow-batched numpy
    kernel (``mapInPandas``): per batch, one [n, k] matmul picks the
    nearest centroid (np.argmax returns the FIRST max — cid-ascending
    rows give the fold's max-cosine/smallest-cid tie-break on EXACT
    ties; BLAS sums in a different order than the sequential fold, so a
    vector within one ulp of equidistant can land in the other cluster —
    harmless here because the PQ tier is self-consistent end-to-end and
    has no SQL oracle, but the reason this kernel backs only the PQ
    queries while the oracle-gated IVF queries stay on the fold),
    residuals are one subtraction, and each subspace's code is an
    [n, ks] L2 argmin. Shuffle-free; the HOF-literal alternative is
    fine for k=8 coarse centroids but its M×ks duplicated expression tree
    chokes Catalyst — batch-vectorized numpy is the honest kernel here
    (same call as the repo's other wide kernels, e.g. ann_topk_pandas).

    Output: (vec_id, v, nrm, cluster, code[, r]) — ``code`` is
    ``array<int>`` of length PQ_M.

    ``rotation`` (optional, [d, d] orthogonal, rows = new basis) is the
    OPQ pre-rotation (Ge et al., "Optimized Product Quantization", CVPR
    2013): residuals are rotated (r' = R·r) BEFORE sub-codebook argmin,
    so codes — and the codebooks trained from the emitted ``r`` — live
    in the rotated space. One extra [n, d]·[d, d] matmul per batch;
    still map-only.
    """
    sub_d = V.EMB_DIM // PQ_M

    def encode(batches):
        import numpy as np
        import pandas as pd

        cids = np.array([c[0] for c in coarse], dtype=np.int64)
        C = np.array([c[1] for c in coarse], dtype=np.float64)
        cn = np.array([c[2] for c in coarse], dtype=np.float64)
        B = [np.array(b, dtype=np.float64) for b in books]
        Rot = None if rotation is None else np.array(rotation, dtype=np.float64)
        for pdf in batches:
            Vm = np.array(pdf["v"].tolist(), dtype=np.float64)
            nrm = np.array(pdf["nrm"], dtype=np.float64)
            cos = (Vm @ C.T) / np.outer(nrm, cn)
            a = np.argmax(cos, axis=1)
            R = Vm - C[a]
            if Rot is not None:
                R = R @ Rot.T
            codes = np.empty((len(pdf), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                sub = R[:, m * sub_d : (m + 1) * sub_d]
                d2 = ((sub[:, None, :] - B[m][None, :, :]) ** 2).sum(-1)
                codes[:, m] = np.argmin(d2, axis=1)
            out = {
                "vec_id": pdf["vec_id"],
                "v": pdf["v"],
                "nrm": nrm,
                "cluster": cids[a],
                "code": list(codes.tolist()),
            }
            if with_residual:
                out["r"] = list(R.tolist())
            yield pd.DataFrame(out)

    schema = "vec_id long, v array<double>, nrm double, cluster long, code array<int>"
    if with_residual:
        schema += ", r array<double>"
    return e.select("vec_id", "v", "nrm").mapInPandas(encode, schema)


def _ranked_cids_py(qv: list[float], rows: list[tuple]) -> list[int]:
    """Driver-side twin of the assignment fold's full ranking (cosine DESC,
    cid ASC) for the handful of query vectors."""
    qn = sum(x * x for x in qv) ** 0.5
    scored = [
        (-(sum(a * b for a, b in zip(qv, cv)) / (qn * cnrm)), cid)
        for cid, cv, cnrm in rows
    ]
    return [int(cid) for _, cid in sorted(scored)]


def _nearest_cid_py(qv: list[float], rows: list[tuple]) -> int:
    return _ranked_cids_py(qv, rows)[0]


def _train_pq(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = PQ_ROUNDS,
    rotation: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Train the per-subspace PQ codebooks on coarse-quantization RESIDUALS
    (r = v − centroid(v)), the standard IVF-PQ decomposition (Jégou,
    Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
    IEEE TPAMI 2011 — the IVFADC variant): residuals are concentrated
    near the origin, so ks entries per subspace quantize them far better
    than they would the raw vectors.

    Same deterministic shape as ``_train_kmeans``: md5-seeded init (the
    PQ_KS smallest-md5 vectors' residual subvectors), FIXED round count,
    and each Lloyd round is one shuffle-free batch encode (``_pq_encode``)
    + ONE (m, j, pos) mean aggregate for ALL subspaces together (rounded
    to 6dp to absorb partial-sum order) — O(rounds) scans regardless of
    PQ_M, collecting only M·ks·sub_d codebook cells per round. A codebook
    entry that loses all members keeps its previous value (codes are
    positional indexes, so entries must never be renumbered mid-training).
    """
    # the fit's params carry the rotation's VALUE, not just its presence:
    # books trained under one basis must never be served for a
    # numerically different one (stale-basis codes would silently
    # mis-score every ADC lookup). The rounded tuple is the key itself —
    # dict lookup does hash PLUS equality, so unlike a bare hash() it
    # cannot collide two different rotations.
    rot_key = (
        None
        if rotation is None
        else tuple(round(x, 12) for row in rotation for x in row)
    )

    def fit() -> list[list[list[float]]]:
        sub_d = V.EMB_DIM // PQ_M
        coarse = _train_kmeans(spark, sf_dir)
        cmap = {cid: cv for cid, cv, _ in coarse}

        e = _vectors(spark, sf_dir)
        seeds = (
            e.withColumn("h", F.md5(F.col("vec_id").cast("string")))
            .orderBy("h", "vec_id")
            .limit(PQ_KS)
            .select("v")
            .collect()
        )
        books: list[list[list[float]]] = [[] for _ in range(PQ_M)]
        for row in seeds:
            v = list(row["v"])
            cv = cmap[_nearest_cid_py(v, coarse)]
            res = [a - c for a, c in zip(v, cv)]
            if rotation is not None:
                res = [sum(r * x for r, x in zip(rrow, res)) for rrow in rotation]
            for m in range(PQ_M):
                books[m].append(res[m * sub_d : (m + 1) * sub_d])

        return _lloyd_rounds(e, coarse, books, rounds, rotation)

    return fitted(sf_dir, ("embeddings",), ("pq", PQ_M, PQ_KS, rounds, rot_key), fit)


def _lloyd_rounds(
    e: DataFrame,
    coarse: list[tuple],
    books: list[list[list[float]]],
    rounds: int,
    rotation: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """``rounds`` Lloyd iterations on the sub-codebooks, WARM-STARTED from
    ``books`` (extracted from ``_train_pq`` so the non-parametric OPQ
    trainer can continue from the previous iteration's books — re-seeding
    every call would forfeit k-means' monotone-descent property). Each
    round: one shuffle-free batch encode + ONE (m, j, pos) mean aggregate
    for all subspaces; a codebook entry that loses all members keeps its
    previous value (codes are positional)."""
    sub_d = V.EMB_DIM // PQ_M
    for _ in range(rounds):
        enc = _pq_encode(e, coarse, books, with_residual=True, rotation=rotation)
        cells = (
            enc.select("code", F.posexplode("r").alias("pos", "x"))
            .select(
                (F.col("pos") / sub_d).cast("int").alias("m"),
                F.element_at("code", (F.col("pos") / sub_d).cast("int") + 1).alias("j"),
                (F.col("pos") % sub_d).alias("p"),
                "x",
            )
            .groupBy("m", "j", "p")
            .agg(F.round(F.avg("x"), 6).alias("c"))
            .collect()
        )
        new_books = [[list(entry) for entry in book] for book in books]
        for row in cells:
            new_books[int(row["m"])][int(row["j"])][int(row["p"])] = float(row["c"])
        books = new_books
    return books


def ann_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search: ADC (asymmetric-distance) shortlist inside the probed
    cluster, then exact cosine rerank of the top-``PQ_RERANK``.

    The 100 TB serving shape (FAISS IVFPQ re-expressed as DataFrame ops):
    candidates store only their cluster id + an M-byte PQ code (~64× below
    the raw vector), the query side precomputes a per-subspace lookup
    table lut[m][j] = q_m · book[m][j] driver-side (M×ks doubles per
    query, inlined as a map literal), and the approximate score per
    candidate is a pure M-element fold over its code — no vector math on
    the big side at all. Only the shortlist that survives ADC pays the
    exact 64-dim rerank, which also makes the EMITTED cosines exact.
    Within a probed cluster q·centroid is constant, so adding it changes
    no ranks but keeps the approx score an interpretable cosine estimate.

    Recall vs exact probed search is bounded by ADC truncation only (the
    rerank is exact); deterministic end-to-end, gated by planted-recall +
    exactness pytest checks (the unrolled 2-round PQ training is not
    reasonably SQL-expressible, so no DuckDB oracle — rows-only driver
    check, documented).
    """
    coarse = _train_kmeans(spark, sf_dir)
    books = _train_pq(spark, sf_dir)
    encoded = _pq_encode(_vectors(spark, sf_dir), coarse, books)
    return _pq_adc_rerank(spark, sf_dir, encoded)


def _pq_query_side(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = 1,
    books: list[list[list[float]]] | None = None,
    rotation: list[list[float]] | None = None,
):
    """Driver-side PQ query prep: the query DataFrame — one row per
    (query, probed cluster), ≤ 5·nprobe rows — with (query_id, qv, qn,
    qcluster, q·centroid-of-that-cluster), plus the ADC lookup tables
    lut[m][j] = q_m · book[m][j] as a map literal keyed by query_id, and
    the union of probed cluster ids.

    With an OPQ ``rotation`` the lookup tables use the ROTATED query
    (q' = R·q): codes decode to rotated residuals r̂', and
    q·r̂ = q·Rᵀr̂' = (R·q)·r̂' — so rotating q driver-side keeps the ADC
    fold on the big side untouched."""
    coarse = _train_kmeans(spark, sf_dir)
    if books is None:
        books = _train_pq(spark, sf_dir)
    cmap = {cid: cv for cid, cv, _ in coarse}
    sub_d = V.EMB_DIM // PQ_M
    qrows = (
        _vectors(spark, sf_dir)
        .where(F.col("vec_id") < N_QUERY_VECS)
        .select("vec_id", "v", "nrm")
        .collect()
    )
    qmeta, lut_keys, lut_vals = [], [], []
    for row in sorted(qrows, key=lambda x: x["vec_id"]):
        qid, qv, qn = int(row["vec_id"]), list(row["v"]), float(row["nrm"])
        for qc in _ranked_cids_py(qv, coarse)[:nprobe]:
            qdotc = sum(a * b for a, b in zip(qv, cmap[qc]))
            qmeta.append((qid, qv, qn, qc, qdotc))
        lq = (
            qv
            if rotation is None
            else [sum(r * x for r, x in zip(rrow, qv)) for rrow in rotation]
        )
        lut_keys.append(F.lit(qid).cast("long"))
        # one py4j call per query instead of PQ_M x |codebook| (the r13
        # literal-tax rule: F.lit costs ~1 ms of driver round trip EACH)
        lut_vals.append(
            V.dbl_array2(
                [
                    [
                        sum(
                            a * b
                            for a, b in zip(
                                lq[m * sub_d : (m + 1) * sub_d], entry
                            )
                        )
                        for entry in books[m]
                    ]
                    for m in range(PQ_M)
                ]
            )
        )
    qdf = local_frame(
        spark,
        qmeta, "query_id long, qv array<double>, qn double, qcluster long, qdotc double"
    )
    lut = F.element_at(
        F.map_from_arrays(F.array(*lut_keys), F.array(*lut_vals)), F.col("query_id")
    )
    probed = sorted({qc for _, _, _, qc, _ in qmeta})
    return qdf, lut, probed


def _pq_adc_rerank(
    spark: SparkSession,
    sf_dir: str,
    candidates: DataFrame,
    nprobe: int = 1,
    books: list[list[list[float]]] | None = None,
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """The PQ serving dataflow over any encoded candidate frame
    (vec_id, v, nrm, cluster, code): broadcast probe join → ADC approx
    score (an M-element lookup fold per candidate — the 2-arg transform
    lambda is (element, index)) → top-PQ_RERANK shortlist → exact cosine
    rerank → top-k. A candidate lives in exactly one cluster and a
    query's probed clusters are distinct, so multi-probe scores no
    candidate twice."""
    qdf, lut, _ = _pq_query_side(spark, sf_dir, nprobe, books, rotation)
    approx = (
        F.col("qdotc")
        + F.aggregate(
            F.transform(
                "code",
                lambda c, i: F.element_at(F.element_at(lut, i + 1), c + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    ) / (F.col("qn") * F.col("nrm"))
    cand = (
        candidates.join(F.broadcast(qdf), F.col("cluster") == F.col("qcluster"))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("approx", approx)
    )
    wa = Window.partitionBy("query_id").orderBy(F.col("approx").desc(), F.col("vec_id"))
    shortlist = (
        cand.withColumn("arank", F.row_number().over(wa))
        .where(F.col("arank") <= PQ_RERANK)
    )
    cos = V.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        shortlist.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOPK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("cosine", 6).alias("cosine"))
    )


def ann_ivf_pq_search_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with nprobe=2: the multi-probe recall lever applied to the
    PQ tier — each query ADC-scans its TWO nearest clusters' codes
    (~2n/k codes, still nowhere near a scan), then the usual exact
    rerank. Same quality gates as ``ann_ivf_pq_search`` (pytest recall +
    exactness; no SQL oracle — PQ training is not reasonably
    SQL-expressible)."""
    coarse = _train_kmeans(spark, sf_dir)
    books = _train_pq(spark, sf_dir)
    encoded = _pq_encode(_vectors(spark, sf_dir), coarse, books)
    return _pq_adc_rerank(spark, sf_dir, encoded, nprobe=NPROBE)


def _pq_table(
    spark: SparkSession,
    sf_dir: str,
    books: list[list[list[float]]] | None = None,
    rotation: list[list[float]] | None = None,
    tag: str = "pq",
) -> DataFrame:
    """The persisted IVF-PQ index table: every vector's PQ code (+ full
    vector for the rerank tier), written as parquet PARTITIONED BY the
    coarse cluster id (``p_cluster``) — the on-disk layout every IVF claim
    in this module points at: a probe reads ONLY its cluster's directory
    (Catalyst partition pruning), ~n/k of the index.

    Built once per set of embeddings bytes (``caching.derived_dir``); the
    path also carries the index parameters, so changing K/M/ks/rounds
    never reuses an index built with the old ones. The OPQ tier persists
    through this SAME writer by passing its rotated codebooks + rotation
    and a distinct ``tag`` (the tag keys the path, so PQ and OPQ codes
    never alias)."""

    def build(tmp: str) -> None:
        coarse = _train_kmeans(spark, sf_dir)
        enc = _pq_encode(
            _vectors(spark, sf_dir),
            coarse,
            _train_pq(spark, sf_dir) if books is None else books,
            rotation=rotation,
        ).withColumn("p_cluster", F.col("cluster"))
        enc.write.mode("overwrite").partitionBy("p_cluster").parquet(tmp)

    params = (KMEANS_K, KMEANS_ROUNDS, PQ_M, PQ_KS, PQ_ROUNDS, tag)
    return spark.read.parquet(derived_dir(sf_dir, ("embeddings",), params, build))


def ann_ivf_pq_probe_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe against the PERSISTED partitioned index: identical
    semantics (and results) to ``ann_ivf_pq_search``, but the candidate
    scan goes through ``_pq_table`` with the probed cluster ids as a
    partition predicate — the plan carries ``PartitionFilters`` on
    ``p_cluster`` (locked in tests/test_plans.py), so at 100 TB the probe
    lists and reads ~nprobe/k of the index directories instead of scanning
    the encoded table. This is the serving-path read shape; the in-memory
    twin exists for oracle-style comparison and ad-hoc data.
    """
    _, _, probed = _pq_query_side(spark, sf_dir)
    index = _pq_table(spark, sf_dir).where(F.col("p_cluster").isin(probed))
    return _pq_adc_rerank(spark, sf_dir, index)


def ann_srp_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the hyperplane sibling of IVF): top-k among
    vectors sharing at least one SRP band bucket with the query.

    Candidates come from the first-collision union of 4 int-keyed
    equi-joins against the tiny broadcast query-side sketch (a pair is
    proposed by the FIRST band where it collides — no distinct over
    candidates), then exact cosine ranks them. Shuffle stays O(vectors);
    at 100 TB the band keys become partition columns so a probe reads only
    its buckets. Recall follows the SRP collision curve — near-certain for
    near-identical vectors, decaying for weak neighbors (the same trade
    IVF makes via nprobe); the sketch is deterministic, so the oracle is
    exact.
    """
    # cached: the band joins reference this subplan 8× (probe side + query
    # side per band), and the SRP sketch is a CodegenFallback HOF fold —
    # recomputing it per reference dominated the query (~6.5 s → ~1.5 s at
    # sf0.1 when cached once); bounded_cache caps it at one live copy
    # across repeated invocations
    d = bounded_cache(
        "similarity.ann_srp_search",
        _vectors(spark, sf_dir).select(
            "vec_id", "v", "nrm", *V.srp_band_keys(F.col("v"))
        ),
    )
    q = d.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        *[F.col(f"bk{k}").alias(f"qbk{k}") for k in range(V.SRP_BANDS)],
    )
    cos = V.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    parts = []
    for i in range(V.SRP_BANDS):
        cond = (F.col(f"bk{i}") == F.col(f"qbk{i}")) & (
            F.col("vec_id") != F.col("query_id")
        )
        for j in range(i):
            cond = cond & (F.col(f"bk{j}") != F.col(f"qbk{j}"))
        parts.append(
            d.join(F.broadcast(q), cond).select(
                "query_id", "vec_id", cos.alias("cosine")
            )
        )
    scored = parts[0]
    for p in parts[1:]:
        scored = scored.unionAll(p)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOPK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("cosine", 6).alias("cosine"))
    )


QUERIES = {
    "ann_topk_brute": ann_topk_brute,
    "ann_topk_pandas": ann_topk_pandas,
    "ann_ivf_assign": ann_ivf_assign,
    "ann_ivf_search": ann_ivf_search,
    "ann_ivf_search_multiprobe": ann_ivf_search_multiprobe,
    "ann_ivf_pq_search": ann_ivf_pq_search,
    "ann_ivf_pq_search_multiprobe": ann_ivf_pq_search_multiprobe,
    "ann_ivf_pq_probe_pruned": ann_ivf_pq_probe_pruned,
    "ann_srp_search": ann_srp_search,
}

_E = (
    "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v, "
    "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings)"
)


def _kmeans_sql(k: int = KMEANS_K, rounds: int = KMEANS_ROUNDS) -> str:
    """DuckDB twin of :func:`_kmeans_centroids`: the same md5-seeded init and
    the same FIXED number of Lloyd rounds, unrolled as a generated CTE chain
    (assign{r} → per-dim mean → cent{r}), ending in
    ``cent_n(centroid_label, cv, cnrm)``."""
    chain = [
        f"""dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        seeds AS (
          SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
          FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
        ),
        cent0 AS (SELECT cid, v AS cv, sqrt(list_dot_product(v, v)) AS cnrm FROM seeds)"""
    ]
    for r in range(1, rounds + 1):
        chain.append(f"""
        assign{r} AS (
          SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) DESC,
                              c.cid) AS rn
            FROM e, cent{r - 1} c) t WHERE rn = 1
        ),
        pdim{r} AS (
          SELECT cid, i, round(avg(v[i]), 6) AS c FROM assign{r}, dims GROUP BY cid, i
        ),
        cent{r} AS (
          SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM (
            SELECT cid, list(c ORDER BY i) AS cv FROM pdim{r} GROUP BY cid) t
        )""")
    chain.append(f"""
        cent_n AS (SELECT cid AS centroid_label, cv, cnrm FROM cent{rounds})""")
    return ",".join(chain)


_KMEANS_SQL = _kmeans_sql()

ORACLES = {
    "ann_topk_brute": f"""
        WITH {_E},
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 list_dot_product(qv, v) / (qn * nrm) AS cosine
          FROM e, q WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        ) t WHERE rank <= 10
    """,
    "ann_topk_pandas": f"""
        WITH {_E},
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 list_dot_product(qv, v) / (qn * nrm) AS cosine
          FROM e, q WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        ) t WHERE rank <= 10
    """,
    "ann_ivf_search": f"""
        WITH {_E},
        {_KMEANS_SQL},
        assigned AS (
          SELECT vec_id, v, nrm, centroid_label AS cluster
          FROM (
            SELECT e.vec_id, e.v, e.nrm, c.centroid_label,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) DESC,
                              c.centroid_label) AS rn
            FROM e, cent_n c
          ) t WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, cluster AS qcluster
              FROM assigned WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, a.vec_id AS neighbor_id,
                 list_dot_product(qv, a.v) / (qn * a.nrm) AS cosine
          FROM assigned a JOIN q ON a.cluster = q.qcluster
          WHERE a.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        ) t WHERE rank <= 10
    """,
    "ann_ivf_assign": f"""
        WITH {_E},
        {_KMEANS_SQL},
        scored AS (
          SELECT e.vec_id, e.label, c.centroid_label,
                 list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) AS cosine
          FROM e, cent_n c
        ),
        assigned AS (
          SELECT vec_id, label, centroid_label
          FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cosine DESC, centroid_label) AS rn
            FROM scored
          ) t WHERE rn = 1
        )
        SELECT label, centroid_label, count(*) AS n
        FROM assigned GROUP BY label, centroid_label
        ORDER BY label, centroid_label
    """,
    "ann_ivf_search_multiprobe": f"""
        WITH {_E},
        {_KMEANS_SQL},
        ranked AS (
          SELECT e.vec_id, e.v, e.nrm, c.centroid_label,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) DESC,
                            c.centroid_label) AS rn
          FROM e, cent_n c
        ),
        assigned AS (
          SELECT vec_id, v, nrm, centroid_label AS cluster
          FROM ranked WHERE rn = 1
        ),
        probes AS (
          SELECT vec_id AS query_id, v AS qv, nrm AS qn,
                 centroid_label AS qcluster
          FROM ranked WHERE vec_id < 5 AND rn <= 2
        ),
        scored AS (
          SELECT q.query_id, a.vec_id AS neighbor_id,
                 list_dot_product(qv, a.v) / (qn * a.nrm) AS cosine
          FROM assigned a JOIN probes q ON a.cluster = q.qcluster
          WHERE a.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        ) t WHERE rank <= 10
    """,
    # generated: same inlined SRP hyperplanes as the Spark plan; the
    # OR-of-bands single join proposes each (query, candidate) once,
    # exactly like the first-collision union
    "ann_srp_search": f"""
        WITH {_E},
        sig AS (
          SELECT vec_id, v, nrm,
                 {", ".join(V.srp_band_keys_sql("v"))}
          FROM e
        ),
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
                     {", ".join(f"bk{k} AS qbk{k}" for k in range(V.SRP_BANDS))}
              FROM sig WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, s.vec_id AS neighbor_id,
                 list_dot_product(qv, s.v) / (qn * s.nrm) AS cosine
          FROM sig s JOIN q
            ON s.vec_id <> q.query_id
           AND ({" OR ".join(f"(s.bk{k} = q.qbk{k})" for k in range(V.SRP_BANDS))})
        )
        SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        ) t WHERE rank <= 10
    """,
}
