"""OPQ: Optimized Product Quantization — the rotated-PQ tier of the ANN
family (Ge, He, Ke, Sun, "Optimized Product Quantization for Approximate
Nearest Neighbor Search", CVPR 2013; shipped publicly as FAISS's
``OPQMatrix`` pre-transform).

Plain PQ (``similarity._train_pq``) splits each coarse-quantization
residual into ``PQ_M`` contiguous coordinate blocks and quantizes each
independently — implicitly assuming the blocks are (a) statistically
independent and (b) carry comparable variance. Real embedding corpora
violate both, and every violated bit of either assumption is quantization
error PQ cannot recover. OPQ fixes the basis instead of the books: rotate
the residual space by an orthogonal matrix R chosen so the subspaces
decorrelate and their variances balance, then train/encode the SAME PQ in
the rotated space. At equal bytes per code, rotated-PQ recall is provably
≥ plain PQ for Gaussian data (Ge et al. §4) — a free-at-serve-time win,
since R folds into the existing Arrow encode kernel as one extra
[n, d]·[d, d] matmul and into the driver-side query prep as a d×d
matvec per query.

This module implements the PARAMETRIC solution (Ge et al. §4, the
closed-form variant — no alternating minimization loop needed):

1. residual second moments — one Arrow-batched pass (the same
   O(d²)-per-partition moment shape as ``embed.pca_fit``, reused
   directly) over r = v − centroid(v);
2. eigendecomposition of the residual covariance on the driver (d×d);
3. **eigenvalue allocation**: assign principal directions to the PQ_M
   subspaces balancing the PRODUCT of eigenvalues per subspace (greedy on
   log-eigenvalues, largest first, into the lightest non-full bucket) —
   Ge et al.'s balanced-variance criterion;
4. R's rows are the allocated eigenvectors in bucket order, so rotated
   subvector m is exactly bucket m's decorrelated directions.

Distances are preserved exactly (R orthogonal): the coarse tier, the
exact rerank, and the emitted cosines are untouched — only the ADC
shortlist quality improves. Training determinism matches the PQ tier
(deterministic coarse centroids and seeds, fixed round count; the
eigendecomposition is deterministic up to sign, fixed by the same
largest-|coordinate|-positive convention as ``embed.pca_fit``).

Not SQL-expressible (eigensolver + 2-round Lloyd training), so like the
PQ/PCA tiers the gate is pytest: recall on a planted anisotropic corpus
must be ≥ plain PQ at equal bytes/vector, and the encode plan must stay
map-only (tests/test_opq.py).

Reference parity note: the reference repo (crypto-clickhouse-POC) has no
vector tier at all — this extends the §8.2 training-data-pipeline surface
(SURVEY.md), not reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import fitted
from ..functions import vectors as V
from .embed import pca_fit
from .similarity import (
    NPROBE,
    PQ_M,
    PQ_ROUNDS,
    _lloyd_rounds,
    _pq_adc_rerank,
    _pq_encode,
    _pq_query_side,
    _pq_table,
    _train_kmeans,
    _train_pq,
    _vectors,
)


def _residuals(e: DataFrame, coarse: list[tuple]) -> DataFrame:
    """(vec_id, r): coarse-assign + subtract, one Arrow kernel, map-only —
    the training input for the rotation (codes not needed here, so this
    is ``_pq_encode`` minus the codebook argmins)."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        C = np.array([c[1] for c in coarse], dtype=np.float64)
        cn = np.array([c[2] for c in coarse], dtype=np.float64)
        for pdf in batches:
            Vm = np.array(pdf["v"].tolist(), dtype=np.float64)
            nrm = np.array(pdf["nrm"], dtype=np.float64)
            a = np.argmax((Vm @ C.T) / np.outer(nrm, cn), axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "r": list((Vm - C[a]).tolist())}
            )

    return e.select("vec_id", "v", "nrm").mapInPandas(
        kernel, "vec_id long, r array<double>"
    )


def eigenvalue_allocation(eigvals: list[float], m: int) -> list[int]:
    """Ge et al.'s balanced-product allocation: component indexes ordered
    so consecutive blocks of d/m form the m subspaces, each with
    (approximately) equal eigenvalue PRODUCT (log-sum). Returns the
    permutation (bucket 0's components first).

    The greedy needs NON-NEGATIVE item weights: covariance eigenvalues
    are routinely < 1, and their negative logs would make a bucket look
    "lighter" with every item it receives — the naive min-log-sum greedy
    then stuffs the whole top of the spectrum into one bucket and
    degenerates to the contiguous PCA split (measured: worse than plain
    PQ). Because every bucket ends with exactly d/m items, shifting all
    logs by a constant moves every bucket's sum equally and leaves the
    balance objective untouched — so shift by min(log λ) and run the
    standard LPT greedy (largest weight first into the lightest non-full
    bucket) on the non-negative weights."""
    import math

    d = len(eigvals)
    if d % m:
        # same invariant _pq_encode's sub_d slicing relies on; without it
        # total bucket capacity m*(d//m) < d and the greedy would raise a
        # confusing min()-of-empty mid-allocation (r7 ADVICE)
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    cap = d // m
    logs = [math.log(max(v, 1e-12)) for v in eigvals]
    base = min(logs)
    w = [l - base for l in logs]
    order = sorted(range(d), key=lambda i: -w[i])
    buckets: list[list[int]] = [[] for _ in range(m)]
    sums = [0.0] * m
    for i in order:
        open_ = [b for b in range(m) if len(buckets[b]) < cap]
        b = min(open_, key=lambda j: (sums[j], j))
        buckets[b].append(i)
        sums[b] += w[i]
    return [i for bucket in buckets for i in bucket]


def _train_opq_rotation(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The [d, d] OPQ rotation for this corpus: eigenbasis of the coarse
    RESIDUAL covariance (what PQ actually quantizes — rotating by the raw
    vectors' basis would decorrelate the wrong distribution), rows
    permuted by eigenvalue allocation. Fitted once per set of embeddings
    bytes (``caching.fitted``)."""

    def fit() -> list[list[float]]:
        coarse = _train_kmeans(spark, sf_dir)
        res = _residuals(_vectors(spark, sf_dir), coarse)
        # full-basis PCA of the residuals: k = d keeps every direction, and
        # pca_fit's sign convention makes the rotation deterministic
        model = pca_fit(res, "r", k=V.EMB_DIM)
        perm = eigenvalue_allocation(list(model.eigvals), PQ_M)
        return [list(model.components[i]) for i in perm]

    return fitted(sf_dir, ("embeddings",), ("opq_rot", PQ_M), fit)


OPQ_NP_ITERS = 3  # alternating-minimization iterations (fixed, replayable)


def _cross_cov(
    e: DataFrame,
    coarse: list[tuple],
    books: list[list[list[float]]],
    rotation: list[list[float]],
):
    """Distributed M = Σᵢ rᵢ·x̂ᵢᵀ — raw residual outer decoded-code (in the
    current rotated basis) — as O(d²)-per-partition Arrow partials (the
    ``embed._moment_partials`` shape). M is all the R-step needs."""
    import numpy as np

    sub_d = V.EMB_DIM // PQ_M

    def kernel(batches):
        import numpy as np
        import pandas as pd

        C = np.array([c[1] for c in coarse], dtype=np.float64)
        cn = np.array([c[2] for c in coarse], dtype=np.float64)
        B = [np.array(b, dtype=np.float64) for b in books]
        Rot = np.array(rotation, dtype=np.float64)
        G = None
        for pdf in batches:
            Vm = np.array(pdf["v"].tolist(), dtype=np.float64)
            if not len(Vm):
                continue
            nrm = np.array(pdf["nrm"], dtype=np.float64)
            a = np.argmax((Vm @ C.T) / np.outer(nrm, cn), axis=1)
            R = Vm - C[a]
            Rr = R @ Rot.T
            Xh = np.empty_like(Rr)
            for m in range(PQ_M):
                sub = Rr[:, m * sub_d : (m + 1) * sub_d]
                d2 = ((sub[:, None, :] - B[m][None, :, :]) ** 2).sum(-1)
                Xh[:, m * sub_d : (m + 1) * sub_d] = B[m][np.argmin(d2, axis=1)]
            g = R.T @ Xh
            G = g if G is None else G + g
        if G is not None:
            yield pd.DataFrame({"g": [G.reshape(-1).tolist()]})

    parts = e.select("v", "nrm").mapInPandas(kernel, "g array<double>").collect()
    d = V.EMB_DIM
    return np.sum([np.array(p["g"]).reshape(d, d) for p in parts], axis=0)


def _train_opq_np(
    spark: SparkSession, sf_dir: str, iters: int = OPQ_NP_ITERS
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Non-parametric OPQ (Ge et al. §5): alternate the two exact steps —

    - **R-step** (codes fixed): orthogonal-Procrustes update. For fixed
      decoded codes x̂, min_R Σ‖R·r − x̂‖² over orthogonal R is
      R = V·Uᵀ from the SVD of M = Σ r·x̂ᵀ — optimal in closed form.
    - **B-step** (rotation fixed): warm-started Lloyd rounds on the
      sub-codebooks (``similarity._lloyd_rounds`` — warm-starting is what
      preserves k-means' monotone descent across iterations).

    Initialization is the parametric rotation + its codebooks (Ge et
    al.'s own recommendation), so the iterate can only improve on the
    parametric solution's objective (each step is a non-increasing move;
    test-gated with a rounding epsilon — codebook means are rounded to
    6dp for cross-run determinism). Per iteration: one d×d cross-cov
    pass + a driver SVD + the usual Lloyd rounds — O(iters) scans.
    Fitted once per set of embeddings bytes (``caching.fitted``)."""
    import numpy as np

    def fit() -> tuple[list[list[float]], list[list[list[float]]]]:
        coarse = _train_kmeans(spark, sf_dir)
        rot = _train_opq_rotation(spark, sf_dir)
        books = _train_pq(spark, sf_dir, rotation=rot)
        e = _vectors(spark, sf_dir)
        for _ in range(iters):
            M = _cross_cov(e, coarse, books, rot)
            U, _s, Vh = np.linalg.svd(M)
            rot = (Vh.T @ U.T).tolist()
            books = _lloyd_rounds(e, coarse, books, PQ_ROUNDS, rotation=rot)
        return rot, books

    return fitted(sf_dir, ("embeddings",), ("opq_np", iters), fit)


def ann_ivf_opq_np_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-OPQ with the alternating-minimization rotation: identical
    serving dataflow and code size to ``ann_ivf_opq_search``; only the
    (rotation, codebooks) pair differs."""
    coarse = _train_kmeans(spark, sf_dir)
    rot, books = _train_opq_np(spark, sf_dir)
    encoded = _pq_encode(_vectors(spark, sf_dir), coarse, books, rotation=rot)
    return _pq_adc_rerank(spark, sf_dir, encoded, books=books, rotation=rot)


def ann_ivf_opq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-OPQ search: identical serving dataflow to ``ann_ivf_pq_search``
    (broadcast probe join → ADC fold → exact rerank → top-k) at identical
    code size (same PQ_M × PQ_KS), with codes and codebooks living in the
    rotated residual space. The rotation rides inside the existing encode
    kernel (one extra matmul per Arrow batch, still map-only) and the
    driver-side query prep (rotated lookup tables) — the big-side ADC
    fold and the plan shape are byte-for-byte the PQ tier's."""
    coarse = _train_kmeans(spark, sf_dir)
    rot = _train_opq_rotation(spark, sf_dir)
    books = _train_pq(spark, sf_dir, rotation=rot)
    encoded = _pq_encode(_vectors(spark, sf_dir), coarse, books, rotation=rot)
    return _pq_adc_rerank(spark, sf_dir, encoded, books=books, rotation=rot)


def _opq_trained(spark: SparkSession, sf_dir: str):
    """(rotation, rotated codebooks) — memoized by the underlying trainers."""
    rot = _train_opq_rotation(spark, sf_dir)
    return rot, _train_pq(spark, sf_dir, rotation=rot)


def ann_ivf_opq_search_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-OPQ with nprobe=2 — the multi-probe recall lever applied to the
    rotated tier. Same serving dataflow as ``ann_ivf_pq_search_multiprobe``
    (each query ADC-scans its TWO nearest clusters' codes, then the exact
    rerank); the two levers compose because they touch different stages:
    the rotation improves the ADC shortlist's fidelity inside each probed
    cluster, multi-probe widens which clusters contribute candidates.
    Recall gate (pytest): OPQ multiprobe ≥ OPQ single-probe ≥ plain PQ at
    equal bytes/vector."""
    coarse = _train_kmeans(spark, sf_dir)
    rot, books = _opq_trained(spark, sf_dir)
    encoded = _pq_encode(_vectors(spark, sf_dir), coarse, books, rotation=rot)
    return _pq_adc_rerank(
        spark, sf_dir, encoded, nprobe=NPROBE, books=books, rotation=rot
    )


def ann_ivf_opq_probe_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-OPQ probe against the PERSISTED rotated-code index: identical
    results to ``ann_ivf_opq_search``, with the candidate scan going
    through the same cluster-partitioned index writer as the PQ tier
    (``similarity._pq_table`` with the OPQ codebooks + rotation and its
    own path tag), probed cluster ids as a partition predicate — the plan
    carries ``PartitionFilters`` on ``p_cluster`` (plan-locked), so OPQ is
    SERVABLE at ~nprobe/k of the index, not just trainable."""
    rot, books = _opq_trained(spark, sf_dir)
    _, _, probed = _pq_query_side(spark, sf_dir, books=books, rotation=rot)
    index = _pq_table(spark, sf_dir, books=books, rotation=rot, tag="opq").where(
        F.col("p_cluster").isin(probed)
    )
    return _pq_adc_rerank(spark, sf_dir, index, books=books, rotation=rot)


QUERIES = {
    "ann_ivf_opq_search": ann_ivf_opq_search,
    "ann_ivf_opq_np_search": ann_ivf_opq_np_search,
    "ann_ivf_opq_search_multiprobe": ann_ivf_opq_search_multiprobe,
    "ann_ivf_opq_probe_pruned": ann_ivf_opq_probe_pruned,
}

# No ORACLES: like the PQ/PCA tiers, OPQ training (eigensolver + Lloyd
# rounds) is not reasonably SQL-expressible — pytest-gated instead
# (tests/test_opq.py: recall ≥ plain PQ at equal bytes, rotation
# orthonormality, allocation balance, map-only encode plan).
ORACLES: dict[str, str] = {}
