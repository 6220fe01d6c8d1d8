"""Distributed PCA / whitening over the ``embeddings`` table.

Large embedding corpora are routinely PCA-reduced (and often whitened)
before ANN indexing — FAISS's ``PCAMatrix`` / OPQ pre-rotation is standard
public practice (Jégou et al., "Product Quantization for Nearest Neighbor
Search"; Ge et al., "Optimized Product Quantization"). The scale-correct
Spark shape mirrors MLlib's ``RowMatrix.computePrincipalComponents``:

- **moment accumulation** — one Arrow-batched ``mapInPandas`` pass emits a
  per-partition partial ``(n, Σx, XᵀX)``: O(d²) floats per partition
  regardless of row count (d=64 → ~33 KB). The driver combines
  ``numPartitions`` partials; nothing O(rows) ever reaches the driver.
- **eigendecomposition on the driver** — a d×d symmetric ``eigh`` is
  microseconds; distributing it would be pure overhead.
- **projection** — components are broadcast inside the kernel closure and
  applied as one numpy matmul per Arrow batch: map-only, shuffle-free
  (plan-locked in tests/test_pca.py).

Numerical conventions (what makes the output deterministic):

- covariance uses the population convention (divide by n), matching
  ``numpy.cov(..., bias=True)``;
- eigenvector SIGN is fixed by making the largest-|coordinate| entry of
  each component positive (eigh's sign is otherwise arbitrary);
- partial sums are combined in partition order; float addition is
  associative only to ~1 ulp, so model equality across different
  partitionings is asserted to tolerance, not bit-exactness (test-covered).

Not SQL-expressible (DuckDB has no eigensolver), so the query surface here
is pytest-gated (numpy-parity + invariants), not driver-hashed — same
policy as the IVF-PQ training tier.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..localframe import local_frame
from ..tables import load

PCA_K = 16  # components kept by the fixture queries (d=64 → 4× reduction)


@dataclass(frozen=True)
class PCAModel:
    """Fitted PCA basis. ``components`` is [k, d] (rows orthonormal),
    ``mean`` is [d], ``eigvals`` the top-k covariance eigenvalues in
    descending order, ``total_var`` the trace of the covariance (so
    explained-variance ratios don't need all d eigenvalues)."""

    mean: tuple
    components: tuple  # k rows of d floats
    eigvals: tuple
    total_var: float

    def explained_variance_ratio(self) -> list[float]:
        return [v / self.total_var for v in self.eigvals]


def _moment_partials(df: DataFrame, vec_col: str):
    """Per-partition (n, Σx, XᵀX) partials; returns the combined numpy
    triples. The collect is bounded: one row of d²+d+1 doubles per
    partition."""
    import numpy as np

    def accumulate(batches):
        import numpy as np
        import pandas as pd

        n = 0
        s = None
        g = None
        for pdf in batches:
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if x.size == 0:
                continue
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            gram = x.T @ x
            g = gram if g is None else g + gram
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.reshape(-1).tolist()]}
            )

    parts = df.select(vec_col).mapInPandas(
        accumulate, "n long, s array<double>, g array<double>"
    ).collect()
    if not parts:
        raise ValueError("pca_fit: empty input")
    d = len(parts[0]["s"])
    n = sum(p["n"] for p in parts)
    s = np.sum([np.array(p["s"]) for p in parts], axis=0)
    g = np.sum([np.array(p["g"]).reshape(d, d) for p in parts], axis=0)
    return n, s, g


def pca_fit(df: DataFrame, vec_col: str = "embedding", k: int = PCA_K) -> PCAModel:
    """Fit a k-component PCA from one distributed moment pass.

    Covariance from raw moments: C = G/n − μμᵀ (population convention),
    symmetrized before ``eigh`` to scrub accumulation asymmetry.
    """
    import numpy as np

    n, s, g = _moment_partials(df, vec_col)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    cov = (cov + cov.T) / 2.0
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:k]
    vals = eigvals[order]
    comps = eigvecs[:, order].T  # [k, d]
    # sign convention: largest-|coordinate| entry positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return PCAModel(
        mean=tuple(float(v) for v in mean),
        components=tuple(tuple(float(x) for x in row) for row in comps),
        eigvals=tuple(float(v) for v in vals),
        total_var=float(np.trace(cov)),
    )


def pca_project(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    out_col: str = "proj",
    whiten: bool = False,
) -> DataFrame:
    """Project ``vec_col`` onto the fitted basis: (x − μ) @ Wᵀ, optionally
    scaled to unit variance per component (whitening). Map-only — the
    [k, d] basis ships inside the kernel closure (a few KB), one matmul
    per Arrow batch, no shuffle."""

    keep = [c for c in df.columns if c != vec_col]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema if f.name != vec_col]
        + [f"{out_col} array<double>"]
    )

    def project(batches):
        import numpy as np
        import pandas as pd

        w = np.array(model.components, dtype=np.float64)  # [k, d]
        mu = np.array(model.mean, dtype=np.float64)
        if whiten:
            # guard tiny/zero eigenvalues (degenerate directions)
            scale = 1.0 / np.sqrt(np.maximum(np.array(model.eigvals), 1e-12))
            w = w * scale[:, None]
        for pdf in batches:
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            out = pdf[keep].copy() if keep else pd.DataFrame(index=pdf.index)
            proj = (x - mu) @ w.T if len(x) else np.zeros((0, w.shape[0]))
            out[out_col] = list(proj)
            yield out

    return df.mapInPandas(project, schema)


def emb_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explained-variance profile of the fixture embeddings: one row per
    kept component with its eigenvalue and cumulative explained-variance
    ratio. Values rounded to 6 — float partial-sum order across partitions
    perturbs ~1e-12, well under the rounding grain (invariance
    test-covered)."""
    e = load(spark, sf_dir, "embeddings")
    model = pca_fit(e, "embedding", PCA_K)
    evr = model.explained_variance_ratio()
    rows = []
    cum = 0.0
    for i, (ev, r) in enumerate(zip(model.eigvals, evr)):
        cum += r
        rows.append((i, round(ev, 6), round(r, 6), round(cum, 6)))
    return local_frame(
        spark, rows, "component int, eigval double, evr double, cum_evr double"
    )


def emb_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-K in PCA space — the reduced-dimension twin
    of ``ann_topk_brute``: 4× fewer bytes per vector in every shuffle and
    matmul.

    Recall honesty: the fixture embeddings have a near-flat spectrum (top
    16 of 64 components carry only ~38% of the variance — measured), so
    reduced-space recall on the FIXTURE is inherently low; that is a
    property of the data, not the operator. The correctness gate in
    tests/test_pca.py therefore uses a seeded planted low-rank corpus
    (recall@10 ≥ 0.9 at k=16) plus the exact reconstruction-error identity
    mean‖x − x̂‖² = Σ dropped eigenvalues on the fixture."""
    from .similarity import N_QUERY_VECS, TOPK

    e = load(spark, sf_dir, "embeddings")
    model = pca_fit(e, "embedding", PCA_K)
    p = pca_project(e.select("vec_id", "embedding"), model, "embedding", "proj")

    def score(batches):
        import numpy as np
        import pandas as pd

        qm = np.array(qrows_b.value, dtype=np.float64)
        qids = qm[:, 0].astype(np.int64)
        qv = qm[:, 1:]
        qn = np.linalg.norm(qv, axis=1)
        for pdf in batches:
            vm = np.array(pdf["proj"].tolist(), dtype=np.float64)
            if not len(vm):
                continue
            vn = np.linalg.norm(vm, axis=1)
            sims = (vm @ qv.T) / np.outer(np.maximum(vn, 1e-12), np.maximum(qn, 1e-12))
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, len(pdf)),
                    "neighbor_id": np.tile(pdf["vec_id"].to_numpy(), len(qids)),
                    "cosine": sims.T.reshape(-1),
                }
            )

    # project ONLY the query rows for the query side: a filter cannot push
    # below a Python map, so filtering p would run the projection kernel
    # over the whole corpus just to keep 5 rows (review finding r6)
    q = pca_project(
        e.where(F.col("vec_id") < N_QUERY_VECS).select("vec_id", "embedding"),
        model,
        "embedding",
        "proj",
    )
    qrows = [[float(r["vec_id"])] + list(r["proj"]) for r in q.collect()]
    qrows_b = spark.sparkContext.broadcast(qrows)
    scored = p.mapInPandas(score, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


QUERIES = {
    "emb_pca_variance": emb_pca_variance,
    "emb_pca_topk": emb_pca_topk,
}

# No ORACLES: PCA needs an eigensolver, which DuckDB doesn't have. The
# family is pytest-gated instead (tests/test_pca.py: numpy parity,
# orthonormality, partitioning invariance, whitening variance, projection
# plan shape, ANN recall preservation) — same policy as PQ training.
ORACLES: dict[str, str] = {}
