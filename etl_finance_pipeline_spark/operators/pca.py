"""Distributed PCA over embedding columns: one covariance aggregate,
a driver-side power iteration on the collected d×d matrix, and a
broadcast projection — the standard dimensionality-reduction /
whitening step before clustering, ANN indexing, or SemDeDup.

Why this shape at 100 TB: the ONLY corpus-scale work is accumulating
the d² second-moment sums plus d first-moment sums — one map-side-
combinable aggregate whose output is a dim-table (64-dim → 4 KB of
doubles). Eigen-analysis of a d×d matrix is control-flow, not data
flow, so it runs on the driver (same contract as the k-means /
PQ codebook collects elsewhere in this package); the projection back
over the corpus is a narrow dot product against a broadcast literal.

Two covariance lanes, same contract as pq_encode:
 * ``engine="jvm"`` — pure Catalyst: explode the d² per-row products
   and aggregate. Bit-reproducible in the DuckDB oracle.
 * ``engine="numpy"`` — Arrow-batched mapInPandas emitting one
   partial Gram matrix per batch (an XᵀX matmul), then the same
   (i, j) sum. ~d× fewer exploded rows; the corpus-scale lane.
Both lanes feed identical downstream arithmetic; they differ only in
float summation order (sub-ulp), absorbed by the callers' 6-dp
portable rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_finance_pipeline_spark.functions.layout import fan_out
from etl_finance_pipeline_spark.operators.similarity import _as_double

#: pca_fit's driver eigen-solve collects d² covariance cells; past
#: this width that pull (4M+ rows at d=2048) and the O(d²)-per-step
#: dense power iteration stop being control-plane — refuse loudly
#: (see pca_fit's docstring for the distributed-matvec scale path).
_PCA_MAX_DIM = 2048


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    engine: str = "jvm",
) -> DataFrame:
    """Full covariance matrix of the embedding column as an (i, j,
    cov) frame (1-based indices, all d² cells):

        cov[i,j] = S_ij/n − (s_i/n)·(s_j/n)

    computed from one pass of exact sums (population covariance, the
    PCA convention). See module docstring for the two lanes.

    The input is fan_out-widened: the d² per-row products are the
    cost center, and a single-file corpus would otherwise run the
    whole explode on one task (measured 4.9 s → sub-second at sf0.1).
    """
    src = _as_double(fan_out(df), vec_col)
    if engine == "jvm":
        v = F.col(vec_col)
        d = F.size(v)
        cells = F.flatten(
            F.transform(
                F.sequence(F.lit(1), d),
                lambda i: F.transform(
                    F.sequence(F.lit(1), d),
                    lambda j: F.struct(
                        i.cast("int").alias("i"),
                        j.cast("int").alias("j"),
                        (
                            F.element_at(v, i.cast("int"))
                            * F.element_at(v, j.cast("int"))
                        ).alias("xx"),
                        F.element_at(v, i.cast("int")).alias("xi"),
                    ),
                ),
            )
        )
        exploded = src.select(F.explode(cells).alias("_c")).select(
            F.col("_c.i").alias("i"),
            F.col("_c.j").alias("j"),
            F.col("_c.xx").alias("xx"),
            F.col("_c.xi").alias("xi"),
        )
        sums = exploded.groupBy("i", "j").agg(
            F.sum("xx").alias("sxx"),
            F.sum("xi").alias("sxi"),
            F.count("*").alias("n"),
        )
    elif engine == "numpy":
        import pandas as pd
        from pyspark.sql import types as T

        out_schema = T.StructType(
            [
                T.StructField("i", T.IntegerType()),
                T.StructField("j", T.IntegerType()),
                T.StructField("sxx", T.DoubleType()),
                T.StructField("sxi", T.DoubleType()),
                T.StructField("n", T.LongType()),
            ]
        )

        def _gram(batches):
            import numpy as np

            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
                d = x.shape[1]
                g = x.T @ x
                s = x.sum(axis=0)
                ii, jj = np.meshgrid(
                    np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij"
                )
                yield pd.DataFrame(
                    {
                        "i": ii.ravel().astype("int32"),
                        "j": jj.ravel().astype("int32"),
                        "sxx": g.ravel(),
                        "sxi": np.repeat(s, d),
                        "n": np.int64(len(pdf)),
                    }
                )

        partials = src.select(vec_col).mapInPandas(_gram, out_schema)
        sums = partials.groupBy("i", "j").agg(
            F.sum("sxx").alias("sxx"),
            F.sum("sxi").alias("sxi"),
            F.sum("n").alias("n"),
        )
    else:
        raise ValueError(f"unknown covariance engine: {engine}")
    # the means branch below is a second consumer of `sums` — without
    # lineage truncation Spark re-runs the whole d²-row explode for it
    # (the multi-consumer trap; same device as dedup._doc_shingles).
    # The frame is d² rows — the checkpoint is free.
    sums = sums.localCheckpoint(eager=True)
    # sxi aggregated per (i, j) cell equals s_i scaled by the count of
    # j cells contributing — it is summed once per (i, j), so for a
    # fixed i every j row carries the same s_i. Mean of j's column
    # comes from the transposed cell (j, i)'s sxi — avoid a second
    # shuffle by joining the diagonal-free means frame instead:
    means = sums.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("j"), (F.col("sxi") / F.col("n")).alias("mean_j")
    )
    out = (
        sums.withColumn("mean_i", F.col("sxi") / F.col("n"))
        .join(F.broadcast(means), "j")
        .select(
            "i",
            "j",
            (
                F.col("sxx") / F.col("n") - F.col("mean_i") * F.col("mean_j")
            ).alias("cov"),
            "mean_i",
            "mean_j",
        )
    )
    return out


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    iters: int = 8,
    engine: str = "jvm",
) -> tuple[list[float], float, list[float]]:
    """One-stop fit: covariance pass + power iteration. Returns
    (loadings, eigenvalue, means) — the means come for free from the
    covariance frame's diagonal.

    Dimensionality bound: the driver collects the d² covariance cells
    for the eigen-solve — 4,096 rows at the declared d=64 surface,
    still trivial at d=512 (262k rows), but a d≳2,048 embedding pulls
    4M+ rows driver-side and the dense power iteration goes O(d²) per
    step in driver memory. Beyond ``_PCA_MAX_DIM`` the fit refuses
    loudly; the scale path there is a distributed matvec (keep the
    covariance FRAME, express ``C·v`` as one map-side-combinable
    aggregate per iteration) or a randomized/sketched solver — the
    covariance PASS itself (one d²-cell aggregate) is unchanged.
    """
    first = df.select(F.size(F.col(vec_col)).alias("_d")).first()
    if first is not None and first["_d"] is not None and first["_d"] > _PCA_MAX_DIM:
        raise ValueError(
            f"pca_fit: dim {first['_d']} exceeds the driver eigen-solve "
            f"bound ({_PCA_MAX_DIM}); use a distributed matvec or a "
            "randomized solver for wide embeddings"
        )
    cov = embedding_covariance(df, vec_col, engine=engine)
    rows = cov.collect()
    means = [
        r["mean_i"]
        for r in sorted(
            (r for r in rows if r["i"] == r["j"]), key=lambda r: r["i"]
        )
    ]
    loadings, eig = _power_iterate(rows, len(means), iters)
    return loadings, eig, means


def _power_iterate(
    rows, d: int, iters: int, round_digits: int | None = 6
) -> tuple[list[float], float]:
    """Fixed-iteration power method with the package's cross-engine
    lockstep device: v is portable-rounded after every normalization
    (same as linear_probe_train's per-step weight rounding), so the
    oracle's unrolled SQL and this numpy loop can't drift apart over
    iterations — each round restarts from bit-identical inputs."""
    import numpy as np

    c = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        c[r["i"] - 1, r["j"] - 1] = r["cov"]
    v = np.full(d, 1.0 / np.sqrt(d))
    for _ in range(iters):
        w = c @ v
        v = w / np.sqrt(float(w @ w))
        if round_digits is not None:
            scale = 10.0 ** round_digits
            v = np.floor(v * scale + 0.5) / scale
    if v[0] < 0:
        v = -v
    eig = float(v @ (c @ v))
    return [float(x) for x in v], eig


def pca_project(
    df: DataFrame,
    loadings: list[float],
    means: list[float] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "score",
) -> DataFrame:
    """Project each vector onto a component: score = (x − mean)·v.
    The loadings/means ride as literals (broadcast with the task) —
    a narrow projection, no shuffle, no UDF."""
    src = _as_double(df, vec_col)
    lit_v = F.array(*[F.lit(float(x)) for x in loadings])
    vec = F.col(vec_col)
    if means is not None:
        lit_m = F.array(*[F.lit(float(x)) for x in means])
        vec = F.zip_with(vec, lit_m, lambda x, m: x - m)
    dot = F.aggregate(
        F.zip_with(vec, lit_v, lambda x, w: x * w),
        F.lit(0.0),
        lambda a, t: a + t,
    )
    return src.select(F.col(id_col), dot.alias(out_col))


def pca_fit2(
    df: DataFrame,
    vec_col: str = "embedding",
    iters: int = 8,
    engine: str = "jvm",
) -> tuple[list[list[float]], list[float], list[float]]:
    """Top-2 PCA via Hotelling deflation: fit the dominant component,
    deflate C2 = C − λ·v·vᵀ (using the ROUNDED v and a 6-dp-rounded λ
    so the oracle deflates with bit-identical inputs), and run the
    same lockstep power method on C2. Returns ([v1, v2], [λ1, λ2],
    means). One covariance pass; both eigen-solves are driver
    control flow over the collected d×d dim-table."""
    import math

    import numpy as np

    cov = embedding_covariance(df, vec_col, engine=engine)
    rows = cov.collect()
    means = [
        r["mean_i"]
        for r in sorted(
            (r for r in rows if r["i"] == r["j"]), key=lambda r: r["i"]
        )
    ]
    d = len(means)
    v1, eig1 = _power_iterate(rows, d, iters)
    eig1r = math.floor(eig1 * 1e6 + 0.5) / 1e6
    c = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        c[r["i"] - 1, r["j"] - 1] = r["cov"]
    v1a = np.array(v1)
    c2 = c - eig1r * np.outer(v1a, v1a)
    rows2 = [
        {"i": i + 1, "j": j + 1, "cov": float(c2[i, j])}
        for i in range(d)
        for j in range(d)
    ]
    v2, eig2 = _power_iterate(rows2, d, iters)
    return [v1, v2], [eig1, eig2], means


def pca_project_multi(
    df: DataFrame,
    components: list[list[float]],
    means: list[float] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project onto several components in ONE narrow pass: output
    (id, pc1, pc2, ...). Same broadcast-literal contract as
    :func:`pca_project`."""
    src = _as_double(df, vec_col)
    vec = F.col(vec_col)
    if means is not None:
        lit_m = F.array(*[F.lit(float(x)) for x in means])
        vec = F.zip_with(vec, lit_m, lambda x, m: x - m)
    cols = []
    for k, comp in enumerate(components):
        lit_v = F.array(*[F.lit(float(x)) for x in comp])
        cols.append(
            F.aggregate(
                F.zip_with(vec, lit_v, lambda x, w: x * w),
                F.lit(0.0),
                lambda a, t: a + t,
            ).alias(f"pc{k + 1}")
        )
    return src.select(F.col(id_col), *cols)


def embed_standardize(
    df: DataFrame,
    means: list[float],
    stds: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "zvec",
    round_digits: int | None = 6,
) -> DataFrame:
    """Per-dimension z-scoring (x − mean)/std with the fitted moments
    riding as broadcast literals — the standard feature-scaling pass
    before kmeans/PQ when dimensions carry different variances.
    Narrow, no shuffle; zero-variance dims pass through unscaled
    (std clamped to 1)."""
    src = _as_double(df, vec_col)
    lit_m = F.array(*[F.lit(float(x)) for x in means])
    lit_s = F.array(
        *[F.lit(float(s) if s > 0 else 1.0) for s in stds]
    )
    z = F.zip_with(
        F.zip_with(F.col(vec_col), lit_m, lambda x, m: x - m),
        lit_s,
        lambda x, s: x / s,
    )
    if round_digits is not None:
        scale = float(10 ** round_digits)
        z = F.transform(
            z, lambda v: F.floor(v * scale + F.lit(0.5)) / scale
        )
    return src.select(F.col(id_col), z.alias(out_col))


def pca_outliers(
    df: DataFrame,
    components: list[list[float]],
    means: list[float],
    k: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Reconstruction-residual outlier scoring — the embedding-space
    anomaly detector a curation pipeline runs after PCA: residual =
    ‖x−μ‖² − Σ_k ((x−μ)·v_k)², the centered energy the top
    components CANNOT explain. Vectors far off the principal
    subspace (corrupt embeddings, off-distribution content) rank
    first; top-*k* by (rounded residual desc, id) plans as
    TakeOrderedAndProject, never a global sort.

    One narrow pass: components/means ride as literals, every term is
    a zip_with/aggregate expression — no shuffle before the top-k.

    Output: (id, pc columns..., residual).
    """
    from etl_finance_pipeline_spark.functions.scalar import portable_round
    from etl_finance_pipeline_spark.operators.similarity import _as_double

    src = _as_double(df, vec_col)
    lit_m = F.array(*[F.lit(float(x)) for x in means])
    centered = F.zip_with(F.col(vec_col), lit_m, lambda x, m: x - m)
    total = F.aggregate(centered, F.lit(0.0), lambda a, v: a + v * v)
    pcs = []
    for comp in components:
        lit_v = F.array(*[F.lit(float(x)) for x in comp])
        pcs.append(
            F.aggregate(
                F.zip_with(centered, lit_v, lambda x, w: x * w),
                F.lit(0.0),
                lambda a, t: a + t,
            )
        )
    residual = total
    for p in pcs:
        residual = residual - p * p
    out = src.select(
        F.col(id_col),
        *[
            portable_round(p, round_digits).alias(f"pc{i + 1}")
            for i, p in enumerate(pcs)
        ],
        portable_round(residual, round_digits).alias("residual"),
    )
    return out.orderBy(F.col("residual").desc(), F.col(id_col)).limit(k)
