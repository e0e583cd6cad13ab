"""Distributed vector statistics over ``array<float>`` embedding
columns (SURVEY.md §2.13 extension; no reference analogue — the
reference pipeline stops at scalar columns).

Three operators with one shared scale posture:

* ``covariance_matrix`` — the d×d population covariance via
  per-Arrow-batch NumPy partial Gram matrices (``mapInPandas``): each
  batch of n_b vectors collapses to ONE d² + d + 1 set of partial
  sums, so the shuffle input is proportional to the number of
  batches, never the number of vectors. This is the classic
  tree-aggregation shape — at 100 TB the reduce input is a few
  thousand tiny rows per executor core.
* ``pca_project`` — eigendecomposition of that covariance on the
  driver (d×d is bounded by the embedding dimension, NOT the corpus —
  64×64 doubles here), then the top-k projection as codegen dot
  products against literal component arrays. No second pass over the
  data beyond the one projection scan.
* ``label_centroids`` — per-label mean vector by posexplode +
  grouped average: (label, dim) keys partial-aggregate map-side, so
  the shuffle carries one partial per (label, dim, task), not n·d
  rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PARTIAL_SCHEMA = "i int, j int, val double"


def _gram_partials(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-batch partial sums as (i, j, val) rows:

    * ``(i, j, Σ xᵢ·xⱼ)`` for i,j ≥ 0 — the Gram entries,
    * ``(i, -1, Σ xᵢ)``   — per-dimension sums,
    * ``(-1, -1, n)``     — the vector count.

    One NumPy ``Mᵀ·M`` per Arrow batch; floats are widened to float64
    before the product so the result is the same as summing
    double-precision products row-by-row (each float32 is exactly
    representable in float64).
    """

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            d = M.shape[1]
            G = M.T @ M
            s = M.sum(axis=0)
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": np.concatenate([ii.ravel(), np.arange(d), [-1]]),
                    "j": np.concatenate(
                        [jj.ravel(), np.full(d, -1), [-1]]
                    ).astype("int32"),
                    "val": np.concatenate([G.ravel(), s, [float(len(M))]]),
                }
            )

    return df.select(vec_col).mapInPandas(gen, schema=_PARTIAL_SCHEMA)


def covariance_matrix(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(dim_i, dim_j, cov) — population covariance
    cov = E[xᵢxⱼ] − E[xᵢ]E[xⱼ], rounded to 6 decimals. d² output rows.
    """
    from data_pipeline_001_spark.operators._scoped import (
        bounded_intermediate,
    )

    # the Gram/sum/count branches below would each re-derive this agg
    # — and Catalyst does NOT reuse the exchange across them (measured:
    # 4 full corpus scans in the executed plan). Materializing the tiny
    # (d²+d+1)-row result pins the corpus scan to exactly one pass.
    agg = bounded_intermediate(
        _gram_partials(df, vec_col)
        .groupBy("i", "j")
        .agg(F.sum("val").alias("v"))
    )
    n = agg.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("v").alias("n")
    )
    s = agg.where((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("d"), F.col("v").alias("s")
    )
    g = agg.where((F.col("i") >= 0) & (F.col("j") >= 0))
    # broadcast-of-one-scalar-row + broadcast of the d-row sum table:
    # everything after the partial agg is O(d²) rows
    si = F.broadcast(s).withColumnRenamed("d", "i").withColumnRenamed("s", "si")
    sj = F.broadcast(s).withColumnRenamed("d", "j").withColumnRenamed("s", "sj")
    return (
        g.crossJoin(F.broadcast(n))
        .join(si, "i")
        .join(sj, "j")
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            # + 0.0 canonicalizes IEEE negative zero (−0.0 + 0.0 = +0.0)
            # so the value hash agrees with engines that round to +0.0
            (
                F.round(
                    F.col("v") / F.col("n")
                    - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def _principal_components(df: DataFrame, vec_col: str, k: int):
    """Top-k eigenvectors (rows) + eigenvalues of the covariance,
    computed driver-side from the d² covariance rows. Sign-fixed so
    each component's largest-magnitude coefficient is positive —
    removes the ±v ambiguity that would otherwise make the projection
    environment-dependent."""
    import numpy as np

    rows = covariance_matrix(df, vec_col).collect()
    d = max(r["dim_i"] for r in rows) + 1
    C = np.zeros((d, d))
    for r in rows:
        C[r["dim_i"], r["dim_j"]] = r["cov"]
    # symmetrize away the independent 6-decimal rounding of C[i,j]/C[j,i]
    C = (C + C.T) / 2.0
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        pivot = np.argmax(np.abs(v))
        if v[pivot] < 0:
            v = -v
        comps.append(v)
    return np.array(comps), vals[order]


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
) -> DataFrame:
    """(id, pc1..pck) — project every vector onto the top-k principal
    components. The eig is on the d×d covariance (driver-side, bounded
    by embedding dim, not corpus size); the projection is one codegen
    dot product per component per row — a single scan, no shuffle.
    """
    from data_pipeline_001_spark.functions import vectors as V

    comps, _ = _principal_components(df, vec_col, k)
    cols: list[Column] = []
    for c_idx, comp in enumerate(comps):
        lit = F.array(*[F.lit(float(x)) for x in comp])
        cols.append(
            F.round(V.dot(F.col(vec_col), lit), 6).alias(f"pc{c_idx + 1}")
        )
    return df.select(F.col(id_col), *cols)


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(label, dim, centroid) — per-label mean of each embedding
    dimension. posexplode fans out executor-side; the grouped average
    partial-aggregates map-side, so the shuffle is one partial per
    (label, dim) per task."""
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    )
    return ex.groupBy("label", "dim").agg(
        (F.round(F.avg(F.col("val").cast("double")), 6) + F.lit(0.0)).alias(
            "centroid"
        )
    )


def quantization_calibration(
    df: DataFrame, vec_col: str = "embedding", pct: float = 0.999
) -> DataFrame:
    """Per-dimension int8 symmetric-quantization calibration: for each
    dimension, the absmax scale (no clipping) and a percentile-clipped
    scale (``pct`` of |val| mass kept) with the resulting clip
    fraction — the standard calibration sweep before serving an
    embedding corpus quantized (absmax is outlier-dominated; the
    clipped scale trades a bounded clip rate for 2-4× finer grids).

    Two passes over the exploded (pos, |val|) stream: an exact
    per-dimension percentile/absmax aggregate (d rows — bounded by the
    embedding dimension, broadcast back), then one clip-rate scan.
    Shuffles are keyed by pos (d keys) but partial-aggregate map-side,
    so the reduce input is partials-per-task, not n·d rows. At corpus
    scales where exact per-dim percentiles are too heavy, swap
    ``percentile`` for ``approx_percentile`` (the documented
    equidepth-bins twin pattern); the exact form is the oracle.

    The clip threshold is rounded to 6 decimals BEFORE the comparison
    on both engines so interpolated-percentile ULP differences cannot
    flip a count.
    """
    vals = df.select(
        F.posexplode(vec_col).alias("pos0", "v")
    ).select(
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.abs(F.col("v").cast("double")).alias("a"),
    )
    # localCheckpoint the d-row stats table (bounded by the embedding
    # dimension) so the clip pass reuses it instead of re-running the
    # percentile aggregate — 2 corpus scans total, not 3
    stats = vals.groupBy("pos").agg(
        F.count("*").alias("n_vals"),
        F.max("a").alias("absmax_raw"),
        F.round(F.percentile("a", F.lit(pct)), 6).alias("p_abs"),
    ).localCheckpoint()
    clip = (
        vals.join(F.broadcast(stats.select("pos", "p_abs")), "pos")
        .groupBy("pos")
        .agg(
            F.round(
                F.avg((F.col("a") > F.col("p_abs")).cast("double")), 6
            ).alias("clip_frac")
        )
    )
    return (
        stats.join(F.broadcast(clip), "pos")
        .select(
            "pos",
            "n_vals",
            F.round("absmax_raw", 6).alias("absmax"),
            F.round(F.col("absmax_raw") / 127.0, 6).alias("scale_absmax"),
            F.col("p_abs").alias("p_clip_abs"),
            F.round(F.col("p_abs") / 127.0, 6).alias("scale_clipped"),
            "clip_frac",
        )
    )


def mahalanobis_distances(
    df: DataFrame,
    fit_df: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ridge: float = 1e-6,
) -> DataFrame:
    """(id, d2) — squared Mahalanobis distance of every vector from
    the corpus distribution: d² = (x-μ)ᵀ Σ⁻¹ (x-μ).

    The fit is bounded by embedding dim, never corpus size: μ is d
    numbers, Σ the d² covariance rows ``covariance_matrix`` already
    tree-aggregates, and the ridge-regularized inverse + Cholesky
    whitener are a driver-side d×d computation (the ``pca_project``
    eig precedent). Scoring is one vectorized NumPy matmul per Arrow
    batch in ``mapInPandas`` — no shuffle, parallelism = input
    partitions. ``fit_df`` lets callers fit on a clean corpus and
    score a contaminated one (the standard outlier-detection split).
    """
    import numpy as np
    import pandas as pd

    fit = fit_df if fit_df is not None else df
    rows = covariance_matrix(fit, vec_col).collect()
    if not rows:
        raise ValueError(
            "mahalanobis_distances: fit frame is empty — cannot "
            "estimate a covariance from zero vectors"
        )
    d = max(r["dim_i"] for r in rows) + 1
    C = np.zeros((d, d))
    for r in rows:
        C[r["dim_i"], r["dim_j"]] = r["cov"]
    C = (C + C.T) / 2.0
    mu_rows = (
        fit.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .collect()
    )
    mu = np.zeros(d)
    for r in mu_rows:
        mu[r["i"]] = r["m"]
    # Eigendecompose instead of inv+cholesky: the collected covariance
    # is rounded to 6 decimals upstream, which perturbs eigenvalues by
    # up to ~d*5e-7 — enough to push a near-singular fit below a fixed
    # 1e-6 ridge and make np.linalg.cholesky raise. Clamping the
    # spectrum at a magnitude-scaled floor is robust to both rounding
    # and genuinely degenerate (rank-deficient) fit corpora.
    evals, evecs = np.linalg.eigh(C)
    floor = max(ridge, ridge * d * (np.trace(C) / d if d else 1.0))
    evals = np.maximum(evals, floor)
    # whitener: d2 = ||Wᵀ(x-μ)||² with W·Wᵀ = Σ⁻¹ (W = V·Λ^{-1/2})
    W = evecs / np.sqrt(evals)

    def score(batches):
        for pdf in batches:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            Z = (X - mu) @ W
            yield pd.DataFrame(
                {id_col: pdf[id_col], "d2": (Z * Z).sum(axis=1)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} long, d2 double"
    )
