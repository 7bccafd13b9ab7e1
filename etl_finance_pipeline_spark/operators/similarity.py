"""Similarity search over embedding columns (array<float/double>).

Two tiers, same contract:
 * ``cosine_topk``      — exact brute force. Baseline + verify tool.
 * ``lsh_ann_topk``     — random-hyperplane LSH-bucketed ANN: the
                          scale path. Buckets shrink the candidate set
                          from |corpus| to |bucket|.

All vector math is JVM-side Catalyst higher-order functions
(``zip_with`` + ``aggregate``) — no Python UDFs, no data to the
driver. Hyperplanes are deterministic module constants so the DuckDB
oracle reproduces buckets bit-for-bit.

Scale notes (100 TB design point):
 * Queries are broadcast (a query batch is small by definition);
   the corpus side streams. Brute force is one broadcast-nested-loop
   over the corpus — embarrassingly parallel, no shuffle until top-k.
 * Per-query top-k is a window row_number — shuffles only the
   (query, candidate) pairs, already k-bounded per bucket in the LSH
   path.
 * The LSH path joins on bucket id: equality shuffle join, AQE
   skew-splittable. Recall is tunable via planes (fewer planes →
   bigger buckets → higher recall/cost).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_pipeline_spark.functions.layout import fan_out

#: Deterministic random hyperplanes (seed 42), 4 planes × 64 dims,
#: rounded to 6 decimals — embedded identically in the oracle SQL.
_rng = random.Random(42)
N_PLANES = 4
EMBED_DIM = 64
HYPERPLANES: list[list[float]] = [
    [round(_rng.gauss(0.0, 1.0), 6) for _ in range(EMBED_DIM)] for _ in range(N_PLANES)
]

#: Banded (OR-amplified) hyperplane LSH for near-duplicate detection:
#: B bands of P planes each. A pair is a candidate if its P-bit sign
#: signature matches in ANY band. P=16 puts each band's self-join into
#: ~2^16 buckets (vs 2^4=16 for the single-bucket variant, whose
#: within-bucket join is effectively quadratic at 100 TB); B=8 bands
#: OR-amplify recall for dedup-grade cosines. Seeded separately from
#: HYPERPLANES so the single-probe ANN path is unchanged.
N_BANDS = 8
PLANES_PER_BAND = 16
_rng_banded = random.Random(4242)
BANDED_HYPERPLANES: list[list[list[float]]] = [
    [
        [round(_rng_banded.gauss(0.0, 1.0), 6) for _ in range(EMBED_DIM)]
        for _ in range(PLANES_PER_BAND)
    ]
    for _ in range(N_BANDS)
]


def planes_for_dim(dim: int, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic hyperplanes sized to *dim* — the 64-dim module
    constants when they fit, else a dim-seeded regeneration. Keeps
    single-probe LSH usable on corpora whose embedding width differs
    from the default without silently degrading (see
    :func:`probe_vector_dim`)."""
    if dim == EMBED_DIM and n_planes == N_PLANES:
        return HYPERPLANES
    rng = random.Random(42 * 1_000_003 + dim)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n_planes)
    ]


def banded_planes_for_dim(dim: int) -> list[list[list[float]]]:
    """Banded variant of :func:`planes_for_dim` (B×P×dim)."""
    if dim == EMBED_DIM:
        return BANDED_HYPERPLANES
    rng = random.Random(4242 * 1_000_003 + dim)
    return [
        [
            [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)]
            for _ in range(PLANES_PER_BAND)
        ]
        for _ in range(N_BANDS)
    ]


def probe_vector_dim(df: DataFrame, vec_col: str) -> int | None:
    """Width of the embedding column, read from ONE row (a single-task
    limit(1) job — metadata probe, not a data path).

    Hyperplane signatures silently collapse when plane dim ≠ vector
    dim: ``zip_with`` null-pads the shorter array, the dot product
    goes NULL, every sign bit falls to the ``otherwise(0)`` branch and
    ALL vectors land in bucket/signature 0 — turning the banded
    self-join into a full N² cross join (measured: a 500k-vector run
    with mismatched planes filled the disk with shuffle spill).
    Probing the actual width and sizing the planes to it removes that
    failure mode."""
    row = df.select(F.size(F.col(vec_col)).alias("_d")).first()
    return None if row is None or row["_d"] is None else int(row["_d"])


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))


def _guard_exact_pairs(
    op: str, a: DataFrame, b: DataFrame, max_pairs: int | None
) -> None:
    """Enforce the exact-lane contract: the brute-force pair frame is
    an EVAL DEVICE (recall oracle), and pointing it at a real corpus
    must fail loudly before the cross join runs, not OOM an hour in.
    Costs two count jobs over column-pruned scans — O(rows scanned),
    nothing materialized."""
    if max_pairs is None:
        return
    na, nb = a.count(), b.count()
    if na * nb > max_pairs:
        raise ValueError(
            f"{op}: exact pair frame would be {na} x {nb} = {na * nb:,} "
            f"rows (> max_pairs={max_pairs:,}). This lane is the recall "
            "oracle for eval-sized inputs; use the bucketed twin "
            "(lsh_ann_topk/ivf_ann_topk/bitext_margin_mine_ivf) at "
            "corpus scale, or pass max_pairs=None if the sides are "
            "known-bounded."
        )


def pair_alignment(
    df: DataFrame,
    a_col: str,
    b_col: str,
    threshold: float = 0.8,
    round_digits: int | None = 6,
) -> DataFrame:
    """Cross-modal pair-alignment gate — the CLIP-score-style cosine
    filter multimodal training corpora apply on top of per-modality
    dedup (LAION/DataComp curate image-text pairs exactly this way):
    per row, the cosine between the two modality embeddings *a_col*
    and *b_col*; pairs below *threshold* are mismatches (wrong
    caption, decorative image, scraper mispairing) and get
    ``keep = false``. Adds (cos_sim, keep).

    Scale shape: a pure narrow map (zip_with/aggregate, JVM-side) —
    no join, no shuffle; at 100 TB it rides the pair-table scan. The
    mining twin (hard negatives) is a separate query over the exact
    top-k device."""
    a = F.col(a_col).cast("array<double>")
    b = F.col(b_col).cast("array<double>")
    sim = cosine(a, b)
    if round_digits is not None:
        from etl_finance_pipeline_spark.functions.scalar import (
            portable_round,
        )

        sim = portable_round(sim, round_digits)
    return df.withColumn("cos_sim", sim).withColumn(
        "keep", F.col("cos_sim") >= threshold
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = 6,
    max_pairs: int | None = 10_000_000,
) -> DataFrame:
    """Exact brute-force cosine top-k: every query against the full
    corpus. Queries are broadcast; ranking is deterministic via
    (cosine desc, neighbor_id asc) after optional rounding.

    Output: (query_id, neighbor_id, cosine, rank).

    This is the RECALL ORACLE, not the production ANN path — the
    |queries|×|corpus| pair frame is intentional for ground truth at
    eval scale and catastrophic at corpus scale (use `lsh_ann_topk` /
    `ivf_ann_topk` there). *max_pairs* enforces that contract: the
    call raises once the pair frame would exceed it (two pruned-scan
    counts, cheap next to the pair work). Pass ``None`` only from a
    caller that has already bounded the sides.

    The corpus side is fan_out-widened: per-pair cosine is the cost
    center and must use every core even when the corpus arrives as a
    single small file."""
    _guard_exact_pairs("cosine_topk", queries, corpus, max_pairs)
    corpus = _as_double(fan_out(corpus), vec_col)
    queries = _as_double(queries.withColumnRenamed(id_col, query_id_col), vec_col)
    q = queries.select(query_id_col, F.col(vec_col).alias("_qv"))
    sim = cosine(F.col("_qv"), F.col(vec_col))
    if round_digits is not None:
        from etl_finance_pipeline_spark.functions.scalar import portable_round

        sim = portable_round(sim, round_digits)
    pairs = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]] | None = None) -> Column:
    """LSH bucket id = sign-bit string of the vector against each
    hyperplane: bucket = Σ_p (dot(v, plane_p) > 0) << p."""
    planes = planes if planes is not None else HYPERPLANES
    bucket: Column = F.lit(0)
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(w) for w in plane])
        bucket = bucket + F.when(dot(vec, lit_plane) > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    planes: list[list[float]] | None = None,
    round_digits: int | None = 6,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's
    hyperplane bucket, then exact cosine re-rank within the bucket.

    The bucket join replaces the brute-force cross join with an
    equality join on bucket id — at N corpus vectors and 2^P balanced
    buckets the candidate set shrinks by ~2^P. Output schema matches
    :func:`cosine_topk`.

    *multiprobe* > 0 additionally probes the buckets whose sign
    differs in any single plane (the standard multi-probe LSH recall
    boost: a near neighbor lost to one borderline hyperplane sign is
    recovered). multiprobe=1 probes P extra buckets per query —
    candidate cost ×(P+1), recall close to exhaustive for
    dedup-grade similarity. Still an equality join (query side
    explodes to its probe list; corpus is untouched).
    """
    if planes is None:
        dim = probe_vector_dim(corpus, vec_col)
        planes = planes_for_dim(dim) if dim else HYPERPLANES
    n_planes = len(planes)
    corpus = _as_double(fan_out(corpus), vec_col).withColumn(
        "_bucket", hyperplane_bucket(F.col(vec_col), planes)
    )
    queries = _as_double(queries.withColumnRenamed(id_col, query_id_col), vec_col)
    base = hyperplane_bucket(F.col(vec_col), planes)
    if multiprobe and multiprobe >= 1:
        probe_list = F.array(
            base, *[base.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
        )
        q = queries.select(
            query_id_col,
            F.col(vec_col).alias("_qv"),
            F.explode(probe_list).alias("_bucket"),
        )
    else:
        q = queries.select(
            query_id_col,
            F.col(vec_col).alias("_qv"),
            base.alias("_bucket"),
        )
    sim = cosine(F.col("_qv"), F.col(vec_col))
    if round_digits is not None:
        from etl_finance_pipeline_spark.functions.scalar import portable_round

        sim = portable_round(sim, round_digits)
    pairs = (
        F.broadcast(q)
        .join(corpus, on="_bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "cvec",
) -> DataFrame:
    """Assign every vector to its *nprobe* nearest centroids by cosine
    (deterministic tiebreak: cosine desc, centroid id asc).

    Centroids are broadcast (an IVF codebook is small by construction);
    assignment is a broadcast nested-loop + per-vector top-nprobe
    window — N×K rows, narrow, no corpus shuffle until the window.
    Output: (id, vec, cid, probe_rank).
    """
    pairs = corpus.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col(centroid_id_col),
        cosine(F.col(vec_col), F.col(centroid_vec_col)).alias("_c"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_c").desc(), F.col(centroid_id_col)
    )
    return (
        pairs.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .drop("_c")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors are bucketed into
    inverted lists by nearest centroid; each query probes its *nprobe*
    nearest lists and exact-cosine re-ranks only those candidates.

    The codebook would be trained offline at scale (k-means on a
    sample); here it is any small (cid, cvec) DataFrame. Candidate
    join is an equality join on cid — shuffle-partitioned by list,
    AQE skew-splittable (hot lists split automatically). Probing more
    lists (*nprobe*) trades cost for recall, the standard IVF knob.
    Output schema matches :func:`cosine_topk`.
    """
    corpus = _as_double(fan_out(corpus), vec_col)
    queries = _as_double(queries.withColumnRenamed(id_col, query_id_col), vec_col)
    centroids = _as_double(centroids, "cvec")

    lists = ivf_assign(corpus, centroids, nprobe=1, id_col=id_col, vec_col=vec_col)
    probes = ivf_assign(
        queries, centroids, nprobe=nprobe, id_col=query_id_col, vec_col=vec_col
    ).select(query_id_col, F.col(vec_col).alias("_qv"), "cid")

    sim = cosine(F.col("_qv"), F.col(vec_col))
    if round_digits is not None:
        from etl_finance_pipeline_spark.functions.scalar import portable_round

        sim = portable_round(sim, round_digits)
    cand = (
        probes.join(lists.select(id_col, vec_col, "cid"), on="cid")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    banded_planes: list[list[list[float]]] | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ threshold) via
    banded (OR-amplified) hyperplane LSH: per band, vectors self-join
    on their P-bit sign signature; a pair is scored if it collides in
    ANY band (DISTINCT over band hits), exact cosine re-ranks.

    Scale shape: each band's equality join lands in up to 2^P buckets
    (P=16 → 65k), so the per-band candidate set is ~N²/2^P instead of
    the single-bucket variant's N²/2^4 — the same AND/OR amplification
    as :func:`~..operators.dedup.minhash_lsh_pairs` banding. Recall is
    tuned for dedup-grade thresholds (near-identical vectors agree on
    nearly every sign, so they collide in some band w.h.p.); at low
    thresholds this is an approximate pruner by design.

    Output: (id_a, id_b, cosine), id_a < id_b."""
    if banded_planes is not None:
        bands = banded_planes
    else:
        dim = probe_vector_dim(df, vec_col)
        bands = banded_planes_for_dim(dim) if dim else BANDED_HYPERPLANES
    plane_dim = len(bands[0][0])
    # fan_out: B*P dot products per vector is the CPU center — widen a
    # single-file input across cores (structural no-op at scale).
    # The size filter is a no-op on uniform-width corpora; rows whose
    # width differs from the plane dim CANNOT be signed against these
    # planes and would otherwise collapse into signature 0 (see
    # probe_vector_dim) — excluding them is the only non-degenerate
    # behavior short of a distributed assert.
    d = (
        _as_double(fan_out(df), vec_col)
        .filter(F.size(F.col(vec_col)) == F.lit(plane_dim))
        .select(F.col(id_col), F.col(vec_col))
    )
    # Planes ride as a broadcast TABLE, not literals: B*P plane arrays
    # inlined as expression nodes (8*16*64 literals at the default)
    # cost ~10s of Catalyst/codegen time per query — a constant that
    # dwarfs the actual compute at bench scale. The join form computes
    # the same dots with the same fold order, so signatures are
    # identical; the groupBy shuffles only (id, band, bit) rows.
    planes_df = df.sparkSession.createDataFrame(
        [
            (b, p, [float(w) for w in plane])
            for b, band in enumerate(bands)
            for p, plane in enumerate(band)
        ],
        "_band int, _p int, _plane array<double>",
    )
    sigs = (
        d.join(F.broadcast(planes_df))
        .select(
            id_col,
            "_band",
            F.when(
                dot(F.col(vec_col), F.col("_plane")) > 0,
                F.expr("shiftleft(1, _p)"),
            )
            .otherwise(0)
            .alias("_bit"),
        )
        .groupBy(id_col, "_band")
        .agg(F.sum("_bit").cast("int").alias("_sig"))
    )
    e = sigs.join(d, on=id_col).select(id_col, vec_col, "_band", "_sig")
    a = e.select(
        "_band", "_sig", F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
    )
    b = e.select(
        "_band", "_sig", F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
    )
    sim = cosine(F.col("_va"), F.col("_vb"))
    if round_digits is not None:
        from etl_finance_pipeline_spark.functions.scalar import portable_round

        sim = portable_round(sim, round_digits)
    return (
        a.join(b, on=["_band", "_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair colliding in several bands must score once — dedupe on
        # ids only (the vectors ride along; candidate sets are small by
        # construction, so the wide dropDuplicates shuffle is cheap)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def train_kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
    round_digits: int | None = None,
) -> DataFrame:
    """Deterministic Lloyd's k-means — the IVF index BUILD path (the
    query path is :func:`ivf_ann_topk`, which takes these centroids).

    Each iteration is one distributed pass: every vector evaluates its
    squared-L2 distance to all k centroids JVM-side (zip_with +
    aggregate over a broadcast literal — k×dim doubles, trivially
    small), takes the argmin, and per-(cluster, dimension) means are
    ONE posexplode + map-side-combinable aggregation. The k×dim means
    are collected to the driver between iterations to keep the plan
    depth O(1) per pass — this is driver-side CONTROL FLOW over tiny
    aggregates, not a driver-side data path; the same structure as the
    connected-components loop (operators/graph.py).

    Deterministic end-to-end: seeding takes the k ids with the
    smallest portable hash (engine-portable, reshuffle-proof), fixed
    iteration count, and ties in the argmin break toward the lower
    cluster id. *round_digits* applies portable rounding
    (``floor(m*10^d + 0.5)/10^d``) to each centroid mean after every
    iteration — summation order is engine-internal, so rounding the
    per-iteration fixed point is what makes the trained codebook
    reproducible cross-engine (the DuckDB oracle unrolls the same
    iterations with the same rounding).

    Returns (cluster_id int, cvec array<double>).
    """
    from etl_finance_pipeline_spark.functions.scalar import portable_hash64

    # NO fan_out on src (A/B'd r14: cluster_mix 3.96->5.57,
    # cluster_profile 3.87->4.57, semantic_pack_stats 2.87->6.24 with
    # it): the repartition would be re-executed by EVERY Lloyd pass,
    # and a per-pass shuffle of the vectors costs more than the serial
    # per-pass scan it replaces — r13's embeddings fan-out finding.
    # (pq_train keeps its fan_out: its explode quadruples the per-pass
    # compute, which measured net-positive — pq_topk 4.49->4.12.)
    src = _as_double(df, vec_col).select(id_col, vec_col)
    seeds = (
        src.withColumn("_h", portable_hash64(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(k)
        .select(F.col(vec_col))
        .collect()
    )
    centroids: list[list[float]] = [list(r[0]) for r in seeds]

    spark = df.sparkSession

    def _cents_frame() -> DataFrame:
        # The centroids arrive as ONE broadcast-joined row, not a
        # literal (the pq_train device, applied here in r14): literal
        # centroids change every pass, so each Lloyd iteration
        # re-analyzed and re-codegen'd the whole assignment plan; with
        # a column from a 1-row LocalRelation the expression tree is
        # IDENTICAL across passes and the whole-stage codegen cache
        # hits — only the tiny broadcast payload differs. Same doubles,
        # same arithmetic, byte-identical centroids.
        return spark.createDataFrame(
            [([list(map(float, c)) for c in centroids],)],
            "_cents array<array<double>>",
        )

    dist = lambda a, b: F.aggregate(  # noqa: E731  (squared L2)
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    for _ in range(iters):
        with_c = src.crossJoin(F.broadcast(_cents_frame()))
        # argmin over the k distances; ties -> lower cluster id via
        # the (dist, cid) struct ordering
        assigned = with_c.select(
            id_col,
            vec_col,
            F.array_min(
                F.transform(
                    F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                    lambda i: F.struct(
                        dist(F.col(vec_col), F.element_at("_cents", i + 1)).alias(
                            "d"
                        ),
                        i.alias("cid"),
                    ),
                )
            )["cid"].alias("cluster_id"),
        )
        # per-(cluster, dimension) means: posexplode + ONE map-side-
        # combinable shuffle; the k×dim mean rows are assembled into
        # vectors on the driver (512 doubles at the default k=8/dim=64)
        # instead of paying a second collect_list exchange. (A dim-wide
        # `agg(avg(vec[i]) for i)` formulation was measured SLOWER —
        # 64 aggregate expressions per iteration dominate codegen time.)
        dim = len(centroids[0])
        means = (
            assigned.select(
                "cluster_id", F.posexplode(F.col(vec_col)).alias("_pos", "_v")
            )
            .groupBy("cluster_id", "_pos")
            .agg(F.avg("_v").alias("_m"))
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in means:
            new.setdefault(r["cluster_id"], [0.0] * dim)[r["_pos"]] = r["_m"]
        if round_digits is not None:
            import math

            scale = 10.0 ** round_digits
            new = {
                cid: [math.floor(m * scale + 0.5) / scale for m in vec]
                for cid, vec in new.items()
            }
        # empty clusters keep their previous centroid
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]

    spark = df.sparkSession
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster_id int, cvec array<double>",
    )


def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's assignment step as a standalone operator: every vector
    to its squared-L2-nearest centroid (ties → lower cluster id —
    the identical argmin the training loop runs, so buckets agree
    with what k-means itself would assign). Centroids arrive as a
    DataFrame (:func:`train_kmeans_centroids` output) and are
    collected to a literal — codebook-sized by construction. One
    exchange-free projection over the corpus: at 100 TB this is the
    bucketing map the in-context-packing and IVF-build lanes ride.

    Output: (*id_col*, cluster_id).
    """
    cents = sorted(
        ((int(r[0]), [float(x) for x in r[1]]) for r in centroids.collect())
    )
    if not cents:
        # F.sequence(0, -1) below would silently build a descending
        # [0, -1] index array instead of failing — fail loudly instead
        raise ValueError("kmeans_assign: empty centroids frame")
    lit = F.array(*[F.array(*[F.lit(x) for x in c]) for _, c in cents])
    cids = [cid for cid, _ in cents]
    src = _as_double(df, vec_col)
    dist = lambda a, b: F.aggregate(  # noqa: E731  (squared L2)
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    arg = F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(cids) - 1)),
            lambda i: F.struct(
                dist(F.col(vec_col), F.element_at(F.col("_cents"), i + 1)).alias("d"),
                i.alias("cid"),
            ),
        )
    )["cid"]
    id_lit = F.array(*[F.lit(c) for c in cids])
    return (
        src.withColumn("_cents", lit)
        .select(
            id_col,
            F.element_at(id_lit, arg + 1).cast("int").alias("cluster_id"),
        )
    )


def semdedup(
    df: DataFrame,
    k: int = 8,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """SemDedup (Abbas et al. 2023): semantic deduplication by
    clustering embeddings, then dropping near-duplicates WITHIN each
    cluster only — the cluster assignment bounds the pairwise search
    so the quadratic term is n²/k per cluster, never corpus-wide.

    Deterministic variant: the k "centroids" are the k SMALLEST-id
    corpus vectors (a seeded codebook, the same device
    ``train_kmeans_centroids`` uses for its Lloyd seeds) — selected by
    rank, not by ``id < k``, so a non-zero-based or sparse id space
    still yields exactly min(k, n) centroids; assignment is
    argmax cosine with (cosine desc, centroid id asc) tiebreak; within
    a cluster every pair with cosine ≥ *threshold* is a duplicate
    edge and the SMALLEST id of each edge survives — a doc is dropped
    iff some smaller-id neighbor in its cluster sits within the
    threshold.

    Output: (vec_id, cluster_id, keep) for every corpus vector.

    Scale shape (100 TB): centroids broadcast (k rows); assignment is
    a narrow map over one broadcast-nested-loop join; the
    within-cluster self-join shuffles on cluster_id only. Production
    runs size k ~ n/1000 so clusters stay bounded; the paper's recipe
    (k-means codebook) drops in by swapping the seed frame for
    ``train_kmeans_centroids`` output.
    """
    from etl_finance_pipeline_spark.functions.scalar import portable_round

    emb = _as_double(df.select(id_col, vec_col), vec_col)
    # TakeOrderedAndProject: k rows reach the driver-side broadcast,
    # never a full sort.
    cents = emb.orderBy(id_col).limit(k).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    sim = cosine(F.col(vec_col), F.col("cvec"))
    if round_digits is not None:
        sim = portable_round(sim, round_digits)
    w = Window.partitionBy(id_col).orderBy(F.col("_c").desc(), F.col("cid"))
    assigned = (
        emb.join(F.broadcast(cents))
        .select(id_col, vec_col, F.col("cid"), sim.alias("_c"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(id_col, vec_col, F.col("cid").alias("cluster_id"))
    )
    a = assigned.select(
        F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"), "cluster_id"
    )
    b = assigned.select(
        F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"), "cluster_id"
    )
    pair_cos = cosine(F.col("_va"), F.col("_vb"))
    if round_digits is not None:
        pair_cos = portable_round(pair_cos, round_digits)
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(pair_cos >= threshold)
        .select(F.col("_idb").alias(id_col))
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|v|/127,
    q_i = floor(v_i/scale + 0.5) ∈ [−127, 127] — the 4× memory cut
    that makes billion-vector ANN serving affordable (int8 dot
    products; the scale pair rides along for exact-cosine re-rank of
    the shortlist). Zero vectors quantize to zeros with scale 0.

    Pure column algebra (zip_with/transform — JVM-side, no UDF), and
    the floor(x + 0.5) form executes the same IEEE ops in any engine,
    so the quantized codes are bit-portable. Output: (id, scale,
    qvec array<int>, max_abs_err) — the error column is the per-vector
    reconstruction check ``max|v − q·scale|`` (≤ scale/2 by
    construction, 0 for zero vectors).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    scale = max_abs / F.lit(127.0)
    q = F.when(max_abs == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    )
    out = df.select(F.col(id_col), scale.alias("scale"), v.alias("_v"), q.alias("qvec"))
    err = F.array_max(
        F.zip_with(
            "_v",
            "qvec",
            lambda a, b: F.abs(a - b.cast("double") * F.col("scale")),
        )
    )
    return out.select(id_col, "scale", "qvec", err.alias("max_abs_err"))


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    ksub: int = 8,
    iters: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Product-quantization codebook training (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search") — the encode
    path that makes billion-vector ANN feasible: each vector is split
    into *m* subvectors; each subspace learns its own *ksub*-word
    codebook via Lloyd's k-means; a vector then stores m small codes
    (m bytes at ksub≤256) instead of dim floats — a 4-32× memory cut
    that IVF-PQ pairs with the coarse IVF index at 100 TB scale.

    ALL subspaces train in the same distributed passes: one explode
    into (id, subspace, subvec) rows, then per iteration one argmin
    projection against the broadcast literal codebooks and ONE
    per-(subspace, code, dim) mean aggregate (map-side combinable).
    The driver holds only m·ksub·(dim/m) = dim·ksub doubles between
    iterations — control flow, not a data path, same structure as
    train_kmeans_centroids.

    Deterministic like the IVF trainer: hash-picked seed ids (shared
    across subspaces), fixed iterations, argmin ties toward the lower
    code, per-iteration portable rounding so a SQL oracle can unroll
    the identical fixed point. Empty codes carry their previous
    codeword.

    Returns (subspace int, code int, cvec array<double> of dim/m).
    """
    from etl_finance_pipeline_spark.functions.scalar import portable_hash64

    src = _as_double(df, vec_col).select(id_col, vec_col)
    seeds = (
        src.withColumn("_h", portable_hash64(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(ksub)
        .select(vec_col)
        .collect()
    )
    # dim from the seed rows — they are full vectors, so the separate
    # probe_vector_dim() action (one more pass over the input lineage)
    # is redundant (r14, guide §1.2: fewer passes). A NULL first seed
    # leaves dim unknown, so it reaches the same ValueError as no seeds.
    dim = len(list(seeds[0][0])) if seeds and seeds[0][0] is not None else None
    if dim is None or dim % m != 0:
        raise ValueError(f"vector dim {dim} not divisible into {m} subspaces")
    subdim = dim // m
    # codebooks[s][c] = list of subdim floats
    books: list[list[list[float]]] = [
        [list(r[0])[s * subdim : (s + 1) * subdim] for r in seeds]
        for s in range(m)
    ]

    # fan_out: every Lloyd pass below is a narrow argmin + aggregate
    # over this frame, so its parallelism is the input scan's — a
    # single small parquet file would run each pass serially (no-op
    # for checkpointed/already-wide inputs like ivfpq's resid frame)
    sub = fan_out(src).select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"),
    ).select(
        id_col,
        "s",
        F.expr(f"slice({vec_col}, s * {subdim} + 1, {subdim})").alias("_sv"),
    )

    spark = df.sparkSession

    def _books_frame() -> DataFrame:
        # the whole nested codebook as ONE broadcast-joined row, not a
        # literal: embedding m*ksub*subdim values as expression nodes
        # made every Lloyd pass re-analyze and re-codegen the full
        # plan (the literal changes each pass), which dominated
        # training time. With the codebook arriving as a column from a
        # 1-row LocalRelation, the expression tree is IDENTICAL across
        # passes, so analysis is O(plan shape) and the whole-stage
        # codegen cache hits (the generated source is unchanged) —
        # only the tiny broadcast payload differs per pass.
        return spark.createDataFrame(
            [([[list(map(float, cw)) for cw in books[s]] for s in range(m)],)],
            "_books array<array<array<double>>>",
        )

    l2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scale = 10 ** round_digits
    for _ in range(iters):
        mywords = F.element_at(F.col("_books"), F.col("s") + 1)
        # argmin via ONE min over [dist, idx] pairs: array_position(
        # d, array_min(d)) would evaluate the whole interpreted
        # distance chain twice per row; array ordering is elementwise
        # lexicographic, so ties still break to the lower code
        code = F.element_at(
            F.array_min(
                F.zip_with(
                    F.transform(mywords, lambda cw: l2(F.col("_sv"), cw)),
                    F.sequence(F.lit(0), F.lit(ksub - 1)),
                    lambda d, i: F.array(d, i.cast("double")),
                )
            ),
            2,
        ).cast("int")
        # M-step WITHOUT a posexplode: a Generate with a computed
        # sibling column re-evaluates that column once PER EXPLODED
        # ELEMENT after projection collapse (measured: the interpreted
        # argmin is 0.14 s standalone but 2.8 s under posexplode at
        # subdim=16 — exactly the 16× duplication). subdim sum
        # aggregates + a count keep the argmin evaluated once per row,
        # shuffle subdim× fewer rows, and reproduce F.avg's value
        # bit-for-bit (Average IS sum/count in the same IEEE order —
        # A/B-verified identical on the bench corpus).
        means = (
            sub.crossJoin(F.broadcast(_books_frame()))
            .select("s", code.alias("_c"), "_sv")
            .groupBy("s", "_c")
            .agg(
                F.count("*").alias("_n"),
                *[
                    F.sum(F.element_at("_sv", p + 1)).alias(f"_s{p}")
                    for p in range(subdim)
                ],
            )
            .collect()
        )
        # driver-side floor-rounding of sum/count: same doubles, same
        # floor(x*scale+0.5)/scale contract as the SQL oracle
        import math

        for r in means:
            books[r["s"]][r["_c"]] = [
                math.floor(r[f"_s{p}"] / r["_n"] * scale + 0.5) / scale
                for p in range(subdim)
            ]

    rows = [
        (s, c, books[s][c]) for s in range(m) for c in range(ksub)
    ]
    return df.sparkSession.createDataFrame(
        rows, "subspace int, code int, cvec array<double>"
    )


def _pq_codes_expr(vec_col: str, books: list, m: int, subdim: int) -> Column:
    """codes array<int>: per subspace, the argmin codeword (ties to
    the lower code via array_position's first match) — one narrow
    expression, no explode, codebooks ride as a literal."""
    # single nested literal — see _books_lit in pq_train
    books_lit = F.lit([[list(map(float, cw)) for cw in books[s]] for s in range(m)])
    l2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    ksub = len(books[0])

    def _one(s: Column) -> Column:
        sv = F.slice(F.col(vec_col), s * subdim + 1, F.lit(subdim))
        # single-evaluation [dist, idx] argmin (see pq_train)
        return F.element_at(
            F.array_min(
                F.zip_with(
                    F.transform(F.element_at(books_lit, s + 1), lambda cw: l2(sv, cw)),
                    F.sequence(F.lit(0), F.lit(ksub - 1)),
                    lambda d, i: F.array(d, i.cast("double")),
                )
            ),
            2,
        ).cast("int")

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), _one)


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    engine: str = "jvm",
) -> DataFrame:
    """Encode vectors to PQ codes against a trained codebook frame
    (subspace, code, cvec). Two lanes, both narrow (no join, no
    shuffle — the codebook is dim·ksub doubles and rides with the
    task):

    * ``engine="jvm"`` — a pure expression: per-subspace argmin via
      higher-order functions. Bit-reproducible in SQL (the oracle
      lane), but interpreted per element — measured ~56k vectors/s.
    * ``engine="numpy"`` — Arrow-batched mapInPandas computing all
      distances as one ‖x‖²−2x·Cᵀ matmul per subspace; ~50× faster
      and the lane to use at corpus scale. Identical codes except on
      sub-ulp distance ties (summation order differs), which only
      exact duplicate codewords can produce.

    Output: (id, codes array<int> of length m).
    """
    rows = codebooks.orderBy("subspace", "code").collect()
    m = 1 + max(r["subspace"] for r in rows)
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["subspace"]].append(list(r["cvec"]))
    subdim = len(rows[0]["cvec"])
    src = _as_double(df, vec_col)
    if engine == "jvm":
        return src.select(
            F.col(id_col),
            _pq_codes_expr(vec_col, books, m, subdim).alias("codes"),
        )
    if engine != "numpy":
        raise ValueError(f"unknown pq_encode engine: {engine}")

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        cbs = [np.asarray(books[s], dtype=np.float64) for s in range(m)]
        cb_sq = [np.einsum("ij,ij->i", c, c) for c in cbs]
        for pdf in batches:
            vecs = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                sub = vecs[:, s * subdim : (s + 1) * subdim]
                # argmin ||x - c||^2 = argmin ||c||^2 - 2 x·c
                d = cb_sq[s][None, :] - 2.0 * (sub @ cbs[s].T)
                codes[:, s] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes.tolist())}
            )

    return src.select(id_col, vec_col).mapInPandas(kernel, out_schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    round_digits: int = 6,
    encode_engine: str = "jvm",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: corpus vectors are
    represented ONLY by their m codes; each query precomputes a
    distance table d[s][c] = ‖q_s − codeword_sc‖² and a corpus
    vector's approximate distance is the sum of m table lookups —
    the memory/compute shape that serves billion-vector search.

    Spark shape (100 TB): corpus codes explode to (id, subspace,
    code) — m small ints per vector, the compressed representation
    is all that moves; the query-side distance tables
    (n_queries·m·ksub rows, tiny by definition) BROADCAST onto that
    stream; one map-side-combinable sum per (query, id) and a
    per-query top-k window. The raw corpus vectors are never touched
    after encoding — that is the entire point of PQ.

    Deterministic: distances portably rounded to *round_digits*
    before ranking, ties break toward the lower neighbor id.
    *encode_engine* passes through to :func:`pq_encode` — "jvm"
    (default, oracle-exact) or "numpy" (the ~50× corpus-scale lane).

    Output: (query_id, neighbor_id, adc_dist, rank), rank ≤ k,
    self-pairs excluded.
    """
    from etl_finance_pipeline_spark.functions.scalar import portable_round

    rows = codebooks.orderBy("subspace", "code").collect()
    m = 1 + max(r["subspace"] for r in rows)
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["subspace"]].append(list(r["cvec"]))
    subdim = len(rows[0]["cvec"])

    codes = pq_encode(corpus, codebooks, vec_col, id_col, encode_engine).select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("s", "code"),
    )
    cb_rows = codebooks.select(
        F.col("subspace").alias("s"), "code", "cvec"
    )
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    l2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dtab = q.crossJoin(F.broadcast(cb_rows)).select(
        "query_id",
        "s",
        "code",
        l2(
            F.slice(F.col("_qv"), F.col("s") * subdim + 1, F.lit(subdim)),
            F.col("cvec"),
        ).alias("_d"),
    )
    summed = (
        codes.join(F.broadcast(dtab), ["s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(portable_round(F.sum("_d"), round_digits).alias("adc_dist"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    encode_engine: str = "jvm",
) -> DataFrame:
    """IVF-PQ composed ANN — the standard billion-vector layout (Jégou
    et al. 2011): a coarse inverted index prunes the search to *nprobe*
    cells, and within cells vectors are represented only by PQ codes of
    their RESIDUAL (vector − cell centroid), searched by asymmetric
    distance tables. Composes the two halves this engine already has:
    IVF cell assignment (:func:`ivf_assign` family) and PQ
    train/encode/ADC (:func:`pq_train`).

    Spark shape (100 TB): the coarse codebook is collected to the
    driver and embedded in the plan as literal arrays (k×dim doubles,
    so plan size grows with the codebook); corpus assignment is a
    narrow per-vector argmin over those literals, with no join and no
    exchange; residual PQ training/encoding touch the residual frame
    (localCheckpointed once — it feeds every Lloyd pass and the
    encode); the search joins (id, cid, s, code) int tuples against a
    BROADCAST distance-table frame (n_queries·nprobe·m·ksub rows, tiny
    by definition) and reduces with one map-side-combinable sum — the
    raw vectors are never touched after encoding.

    Deterministic: L2 coarse assignment with lower-cid tie-break, PQ
    training per :func:`pq_train`'s portable contract, ADC distances
    portably rounded, final ties to the lower neighbor id.

    Output: (query_id, neighbor_id, adc_dist, rank), rank ≤ k,
    self-pairs excluded.
    """
    from etl_finance_pipeline_spark.functions.scalar import portable_round

    l2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # fan_out: the argmin + residual chain below is narrow, so its
    # parallelism is the scan's — one small parquet file would run the
    # whole n×cells distance sweep on one core (ivf_ann_topk does the
    # same; structural no-op at real input widths)
    corpus_d = _as_double(fan_out(corpus), vec_col)
    coarse_d = _as_double(coarse, "cvec").select("cid", "cvec")

    # nearest cell by squared L2, ties to the lower cid — as a NARROW
    # argmin over the collected codebook (the kmeans_assign device,
    # r14): the old crossJoin + row_number window shuffled n_vectors ×
    # n_cells rows INCLUDING the full vector payload just to keep one
    # row per vector. Same distances, same (d asc, cid asc) tie-break
    # (cells sorted by cid, argmin on (d, index)), zero exchanges.
    cells = sorted(
        (int(r["cid"]), [float(x) for x in r["cvec"]])
        for r in coarse_d.collect()
    )
    if not cells:
        raise ValueError("ivfpq_topk: empty coarse codebook")
    cid_type = coarse_d.schema["cid"].dataType
    cvecs_lit = F.array(
        *[F.array(*[F.lit(x) for x in c]) for _, c in cells]
    )
    cids_lit = F.array(
        *[F.lit(cid).cast(cid_type) for cid, _ in cells]
    )
    arg = F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(cells) - 1)),
            lambda i: F.struct(
                l2(F.col(vec_col), F.element_at(F.col("_cells"), i + 1)).alias("d"),
                i.alias("i"),
            ),
        )
    )["i"]
    # residuals feed every Lloyd pass of pq_train AND the encode —
    # materialize once. `_ai` lands in its own projection so the
    # argmin chain is evaluated once, not once per consumer.
    resid = (
        corpus_d.withColumn("_cells", cvecs_lit)
        .withColumn("_ai", arg)
        .select(
            id_col,
            F.element_at(cids_lit, F.col("_ai") + 1).alias("cid"),
            F.zip_with(
                vec_col,
                F.element_at(F.col("_cells"), F.col("_ai") + 1),
                lambda x, y: x - y,
            ).alias("_res"),
        )
        .localCheckpoint(eager=True)
    )

    cb = pq_train(
        resid, vec_col="_res", id_col=id_col, m=m, ksub=ksub,
        iters=iters, round_digits=round_digits,
    )
    rows = cb.orderBy("subspace", "code").collect()
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["subspace"]].append(list(r["cvec"]))
    subdim = len(rows[0]["cvec"])

    # residual codes with the cell id riding along. Two lanes like
    # pq_encode: "jvm" is the pure-expression oracle-exact path;
    # "numpy" is the Arrow-batched corpus-scale path (~50×) with cid
    # passed through the kernel — identical codes except on sub-ulp
    # distance ties, which need duplicate codewords.
    if encode_engine == "jvm":
        coded = resid.select(
            F.col(id_col).alias("neighbor_id"),
            "cid",
            _pq_codes_expr("_res", books, m, subdim).alias("codes"),
        )
    elif encode_engine == "numpy":
        from pyspark.sql import types as T

        out_schema = T.StructType(
            [
                resid.schema[id_col],
                resid.schema["cid"],
                T.StructField("codes", T.ArrayType(T.IntegerType())),
            ]
        )

        def kernel(batches):
            import numpy as np
            import pandas as pd

            cbs = [np.asarray(books[s], dtype=np.float64) for s in range(m)]
            cb_sq = [np.einsum("ij,ij->i", c, c) for c in cbs]
            for pdf in batches:
                vecs = np.asarray(pdf["_res"].tolist(), dtype=np.float64)
                cds = np.empty((len(pdf), m), dtype=np.int32)
                for s in range(m):
                    sub = vecs[:, s * subdim : (s + 1) * subdim]
                    d = cb_sq[s][None, :] - 2.0 * (sub @ cbs[s].T)
                    cds[:, s] = np.argmin(d, axis=1)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "cid": pdf["cid"],
                        "codes": list(cds.tolist()),
                    }
                )

        coded = resid.mapInPandas(kernel, out_schema).withColumnRenamed(
            id_col, "neighbor_id"
        )
    else:
        raise ValueError(f"unknown ivfpq encode engine: {encode_engine}")
    codes = coded.select(
        "neighbor_id", "cid", F.posexplode("codes").alias("s", "code")
    )

    # query probes: top-nprobe cells by L2, residual per probed cell
    queries_d = _as_double(
        queries.withColumnRenamed(id_col, "query_id"), vec_col
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("_cd").asc(), F.col("cid")
    )
    probes = (
        queries_d.crossJoin(F.broadcast(coarse_d))
        .select(
            "query_id",
            "cid",
            F.zip_with(vec_col, "cvec", lambda x, y: x - y).alias("_qres"),
            l2(F.col(vec_col), F.col("cvec")).alias("_cd"),
        )
        .withColumn("_pr", F.row_number().over(w2))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "cid", "_qres")
    )
    cb_rows = cb.select(F.col("subspace").alias("s"), "code", "cvec")
    dtab = probes.crossJoin(F.broadcast(cb_rows)).select(
        "query_id",
        "cid",
        "s",
        "code",
        l2(
            F.slice(F.col("_qres"), F.col("s") * subdim + 1, F.lit(subdim)),
            F.col("cvec"),
        ).alias("_d"),
    )
    summed = (
        codes.join(F.broadcast(dtab), ["cid", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(portable_round(F.sum("_d"), round_digits).alias("adc_dist"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w3 = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        summed.withColumn("rank", F.row_number().over(w3))
        .filter(F.col("rank") <= k)
    )


def hard_negative_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int | None = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the k most-similar corpus vectors with a DIFFERENT label — the
    highest-loss negatives (the easy random draw is negative_pairs in
    operators/corpus.py; this is the in-batch-miner counterpart).

    Same plan shape as cosine_topk: anchors broadcast (anchor sets
    are training-batch-sized by definition), corpus streams through
    one narrow cosine projection, per-anchor top-k window — the label
    filter prunes pairs BEFORE the window. Output: (anchor_id,
    negative_id, cosine, rank).
    """
    corpus = _as_double(fan_out(corpus), vec_col)
    a = _as_double(anchors, vec_col).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("_av"),
        F.col(label_col).alias("_alabel"),
    )
    sim = cosine(F.col("_av"), F.col(vec_col))
    if round_digits is not None:
        from etl_finance_pipeline_spark.functions.scalar import portable_round

        sim = portable_round(sim, round_digits)
    pairs = (
        F.broadcast(a)
        .crossJoin(corpus)
        .filter(F.col(label_col) != F.col("_alabel"))
        .select(
            "anchor_id",
            F.col(id_col).alias("negative_id"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cluster_balanced_sample(
    corpus: DataFrame,
    centroids: DataFrame,
    budget: int,
    cap: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Cluster-balanced mixture sampling — the SemDedup/cluster-
    curation follow-through (Abbas et al. 2023 §5; DoReMi-style
    domain reweighting with k-means cells as the domains): assign
    every vector to its nearest TRAINED centroid (squared-L2 argmin,
    lower-id tiebreak — the metric :func:`train_kmeans_centroids`
    itself uses), allocate a global sample *budget* across clusters
    with a per-cluster share *cap* and ONE cap-and-redistribute round
    (the token_budget closed form: capped cells pin at the cap, the
    freed mass spreads over uncapped cells proportional to their raw
    share), then take each cell's allocation deterministically by
    portable-hash rank — so a dominant cluster cannot swamp the
    mixture and reruns/engines select the identical set.

    Scale shape: one broadcast nested-loop assign (k×dim codebook) +
    per-vector argmin window, one dim-table allocation (k rows of
    broadcast arithmetic), one per-cluster ranking window (clusters
    are the balance unit — their size is bounded by design, and the
    hash-rank window partitions by cluster, never globally).

    Output: (id, cluster_id, cluster_rank) for the selected rows.
    """
    from etl_finance_pipeline_spark.functions.scalar import (
        portable_hash64,
        portable_round,
    )

    src = _as_double(corpus, vec_col)
    cents = _as_double(
        centroids.select(
            F.col("cluster_id").alias("_cid"), F.col("cvec").alias("_cv")
        ),
        "_cv",
    )
    d2 = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("_cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = src.crossJoin(F.broadcast(cents)).select(
        F.col(id_col), F.col("_cid"), d2.alias("_d2")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_d2").asc(), F.col("_cid"))
    assigned = (
        pairs.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(F.col(id_col), F.col("_cid").alias("cluster_id"))
    )

    counts = assigned.groupBy("cluster_id").agg(F.count("*").alias("_n"))
    total = counts.agg(F.sum("_n").alias("_tt"))
    shared = counts.crossJoin(F.broadcast(total)).withColumn(
        "_raw", F.col("_n") / F.col("_tt")
    )
    capl = F.lit(float(cap))
    stats = shared.agg(
        F.sum(F.least(F.col("_raw"), capl)).alias("_capsum"),
        F.sum(
            F.when(F.col("_raw") < capl, F.col("_raw")).otherwise(0.0)
        ).alias("_us"),
    )
    final = F.when(F.col("_raw") >= capl, capl).otherwise(
        F.col("_raw")
        + (F.col("_raw") / F.col("_us")) * (F.lit(1.0) - F.col("_capsum"))
    )
    alloc = (
        shared.crossJoin(F.broadcast(stats))
        .select(
            "cluster_id",
            # allocation derives from the ROUNDED share so the integer
            # floor can't straddle engines' sub-ulp differences
            F.floor(portable_round(final, round_digits) * budget)
            .cast("long")
            .alias("_alloc"),
        )
    )

    key = portable_hash64(
        F.concat(F.col(id_col).cast("string"), F.lit("#cmix"))
    )
    wr = Window.partitionBy("cluster_id").orderBy(F.col("_k"), F.col(id_col))
    return (
        assigned.withColumn("_k", key)
        .withColumn("cluster_rank", F.row_number().over(wr))
        .join(F.broadcast(alloc), "cluster_id")
        .filter(F.col("cluster_rank") <= F.col("_alloc"))
        .select(
            F.col(id_col),
            F.col("cluster_id").cast("int").alias("cluster_id"),
            F.col("cluster_rank").cast("long").alias("cluster_rank"),
        )
    )


def cluster_profile(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Per-cell census of a trained k-means clustering — the
    read-before-you-curate companion to SemDedup/cluster_mix: each
    cell reports its population, mean squared-L2 distance to its
    centroid (cohesion), and — when a label column exists — the
    majority label and its purity (count desc, label asc tiebreak).

    One broadcast assign (k×dim codebook) + two cell-keyed
    aggregates; the per-cell top-label window partitions by cell.

    Output: (cluster_id, n_vecs, mean_dist[, top_label, label_purity]).
    """
    from etl_finance_pipeline_spark.functions.scalar import portable_round

    src = _as_double(corpus, vec_col)
    cents = _as_double(
        centroids.select(
            F.col("cluster_id").alias("_cid"), F.col("cvec").alias("_cv")
        ),
        "_cv",
    )
    d2 = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("_cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cols = [F.col(id_col), F.col("_cid"), d2.alias("_d2")]
    if label_col is not None:
        cols.append(F.col(label_col).alias("_lbl"))
    pairs = src.crossJoin(F.broadcast(cents)).select(*cols)
    w = Window.partitionBy(id_col).orderBy(F.col("_d2").asc(), F.col("_cid"))
    assigned = (
        pairs.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )
    stats = assigned.groupBy("_cid").agg(
        F.count("*").alias("_n"), F.avg("_d2").alias("_md")
    )
    out = stats.select(
        F.col("_cid").cast("int").alias("cluster_id"),
        F.col("_n").cast("long").alias("n_vecs"),
        portable_round(F.col("_md"), round_digits).alias("mean_dist"),
    )
    if label_col is None:
        return out
    lab = assigned.groupBy("_cid", "_lbl").agg(F.count("*").alias("_c"))
    lw = Window.partitionBy("_cid").orderBy(F.col("_c").desc(), F.col("_lbl"))
    top = (
        lab.withColumn("_r", F.row_number().over(lw))
        .filter(F.col("_r") == 1)
        .select(
            F.col("_cid"),
            F.col("_lbl").alias("top_label"),
            F.col("_c").alias("_topc"),
        )
    )
    return (
        out.join(top, out["cluster_id"] == top["_cid"])
        .select(
            "cluster_id",
            "n_vecs",
            "mean_dist",
            F.col("top_label").cast("long").alias("top_label"),
            portable_round(
                F.col("_topc") / F.col("n_vecs"), round_digits
            ).alias("label_purity"),
        )
    )


def prototype_prune(
    corpus: DataFrame,
    centroids: DataFrame,
    prune_frac: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Prototypicality-based data pruning (the SSL-prototypes metric
    of Sorscher et al. 2022, "Beyond neural scaling laws"): assign
    each vector to its nearest k-means centroid and score it by
    squared-L2 distance to that centroid — LOW distance means
    prototypical/easy, and with an abundant corpus the published
    recipe prunes the easiest fraction and keeps the hard examples.
    The cut is PER CLUSTER (the paper's cluster-balanced form):
    within each cell the floor(prune_frac · n) lowest-distance
    vectors are flagged for pruning, so no cell is emptied and the
    kept set preserves cluster coverage. Composes with :func:`semdedup`
    exactly as published — dedup near-duplicates first, prune
    prototypes second.

    Distances are portably rounded (*round_digits*) and ranking ties
    break by id, so the flag set is deterministic cross-engine. One
    broadcast assign (k×dim codebook literal frame) + one per-cell
    ranking window — the identical shuffle shape as kmeans_assign +
    rank; nothing driver-side is data-sized.

    Output: (*id_col*, cluster_id, proto_dist, cluster_n, proto_rank,
    keep) — proto_rank 1 = most prototypical in its cell.
    """
    from etl_finance_pipeline_spark.functions.scalar import portable_round

    src = _as_double(corpus, vec_col)
    cents = _as_double(
        centroids.select(
            F.col("cluster_id").alias("_cid"), F.col("cvec").alias("_cv")
        ),
        "_cv",
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col("_cv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = src.crossJoin(F.broadcast(cents)).select(
        F.col(id_col), F.col("_cid"), d2.alias("_d2")
    )
    aw = Window.partitionBy(id_col).orderBy(F.col("_d2").asc(), F.col("_cid"))
    assigned = (
        pairs.withColumn("_r", F.row_number().over(aw))
        .filter(F.col("_r") == 1)
        .select(
            id_col,
            F.col("_cid"),
            portable_round(F.col("_d2"), round_digits).alias("proto_dist"),
        )
    )
    rw = Window.partitionBy("_cid").orderBy(
        F.col("proto_dist").asc(), F.col(id_col).asc()
    )
    cw = Window.partitionBy("_cid")
    ranked = assigned.withColumn(
        "proto_rank", F.row_number().over(rw)
    ).withColumn("cluster_n", F.count("*").over(cw))
    return ranked.select(
        id_col,
        F.col("_cid").cast("int").alias("cluster_id"),
        "proto_dist",
        F.col("cluster_n").cast("long").alias("cluster_n"),
        F.col("proto_rank").cast("long").alias("proto_rank"),
        (
            F.col("proto_rank")
            > F.floor(F.lit(float(prune_frac)) * F.col("cluster_n"))
        ).alias("keep"),
    )


def bitext_margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    margin_threshold_ppm: int = 1_020_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pairs: int | None = 10_000_000,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    CCMatrix/LASER device): candidate translation pairs between two
    language sides are scored by the RATIO margin

        margin(x, y) = cos(x, y) / ((avgₖNN(x) + avgₖNN(y)) / 2)

    which normalizes away hubness — a y that is everyone's neighbor
    has a large avgₖNN(y) and stops winning. Per source vector, the
    best-margin target is kept when the margin clears the threshold.

    All comparisons are deterministic across engines: each cosine is
    rounded to micro-units (BIGINT) BEFORE any aggregation, the k-NN
    denominators are exact integer sums over a window ordered by
    (cos_u DESC, id) — integer ties, integer tiebreaks — and the
    final margin is one double expression over integers.

    Scale: this implementation scores the explicit src × tgt pair
    frame (the small side broadcasts — a BroadcastNestedLoopJoin, no
    shuffle). At 100 TB-corpus scale the pair frame must be pruned
    FIRST: bucket both sides with the IVF/LSH machinery in this
    module (`ivf_ann_topk`, `lsh_ann_topk`) and mine margins within
    candidate buckets only — the margin arithmetic here is unchanged,
    only the candidate generator swaps. *max_pairs* enforces that
    contract mechanically: the call raises before building a pair
    frame larger than the ceiling (see `bitext_margin_mine_ivf` for
    the corpus-scale lane with the same output contract).

    Output: (src_id, tgt_id, cos_ppm, margin_ppm), one row per source
    vector whose best margin clears *margin_threshold_ppm*.
    """
    _guard_exact_pairs("bitext_margin_mine", src, tgt, max_pairs)
    a = src.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).cast("array<double>").alias("_va"),
    )
    b = tgt.select(
        F.col(id_col).alias("tgt_id"),
        F.col(vec_col).cast("array<double>").alias("_vb"),
    )
    # fan_out the src side: the cross join's output partitioning is
    # the left side's, and a single-file scan would put the entire
    # |src|x|tgt| cosine workload on one task
    pairs = fan_out(a).crossJoin(b).select(
        "src_id",
        "tgt_id",
        F.floor(cosine(F.col("_va"), F.col("_vb")) * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("cos_u"),
    )
    return _margin_from_pairs(pairs, k, margin_threshold_ppm)


def bitext_margin_mine_ivf(
    src: DataFrame,
    tgt: DataFrame,
    centroids: DataFrame,
    k: int = 4,
    nprobe: int = 2,
    margin_threshold_ppm: int = 1_020_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`bitext_margin_mine` with its scale path made real: the
    candidate pair frame is IVF-BUCKETED instead of exhaustive —
    targets live in their single nearest-centroid inverted list,
    sources probe their *nprobe* nearest lists, and margins are mined
    over the candidate pairs only (the k-NN denominators are averages
    over each vector's CANDIDATES, exactly how a FAISS-backed
    CCMatrix run approximates them from its k-NN result lists). The
    pair frame shrinks from |src|×|tgt| to the probed-list joins —
    an equality join on cid, shuffle-partitioned, AQE-skew-splittable
    — which is what makes mining feasible when both sides are in the
    hundreds of millions. Same output contract as the exact miner;
    `bitext_recall`-style overlap against it is the recall readout.
    """
    a = src.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).cast("array<double>").alias("_va"),
    )
    b = tgt.select(
        F.col(id_col).alias("tgt_id"),
        F.col(vec_col).cast("array<double>").alias("_vb"),
    )
    c = _as_double(centroids, "cvec")
    probes = ivf_assign(a, c, nprobe=nprobe, id_col="src_id", vec_col="_va")
    lists = ivf_assign(b, c, nprobe=1, id_col="tgt_id", vec_col="_vb")
    pairs = (
        probes.select("src_id", "_va", "cid")
        .join(lists.select("tgt_id", "_vb", "cid"), "cid")
        .select(
            "src_id",
            "tgt_id",
            F.floor(
                cosine(F.col("_va"), F.col("_vb")) * 1_000_000 + F.lit(0.5)
            )
            .cast("long")
            .alias("cos_u"),
        )
    )
    return _margin_from_pairs(pairs, k, margin_threshold_ppm)


def _margin_from_pairs(
    pairs: DataFrame, k: int, margin_threshold_ppm: int
) -> DataFrame:
    """Ratio-margin scoring over a (src_id, tgt_id, cos_u) candidate
    frame — shared by the exact and IVF-bucketed miners.

    The per-side k-NN denominator frames (dsrc/dtgt) are O(|src|)-
    and O(|tgt|)-row aggregates, so they carry NO broadcast hint:
    the IVF lane is documented as the path for sides in the hundreds
    of millions, where a forced broadcast would blow the driver.
    AQE broadcasts them at small scale on its own; at large scale
    they hash-join on the same id keys the candidate frame already
    carries. Margins are UNDEFINED when a vector's candidate
    neighborhood has non-positive average cosine (orthogonal or
    antipodal embeddings): the denominator is guarded to NULL there,
    and the threshold filter drops the pair — mirrored by a CASE
    guard in the DuckDB oracle twin."""
    w_src = Window.partitionBy("src_id").orderBy(
        F.col("cos_u").desc(), F.col("tgt_id")
    )
    w_tgt = Window.partitionBy("tgt_id").orderBy(
        F.col("cos_u").desc(), F.col("src_id")
    )
    # materialize the scored candidate frame ONCE (r14, guide §2.4):
    # it feeds the two k-NN denominator aggregates AND the final join,
    # and without a cut the |src|×|tgt| cosine sweep upstream re-runs
    # per consumer (exchange reuse only covers the two window lanes).
    # Bounded by construction: the exact miner caps the pair frame at
    # max_pairs, the IVF miner prunes it to probed buckets.
    ranked = (
        pairs.withColumn("_ra", F.row_number().over(w_src))
        .withColumn("_rb", F.row_number().over(w_tgt))
        .localCheckpoint(eager=True)
    )
    dsrc = (
        ranked.filter(F.col("_ra") <= k)
        .groupBy("src_id")
        .agg(F.sum("cos_u").alias("_dx"), F.count("*").alias("_kx"))
    )
    dtgt = (
        ranked.filter(F.col("_rb") <= k)
        .groupBy("tgt_id")
        .agg(F.sum("cos_u").alias("_dy"), F.count("*").alias("_ky"))
    )
    den = (
        F.col("_dx") * 1.0 / F.col("_kx")
        + F.col("_dy") * 1.0 / F.col("_ky")
    )
    margin = F.when(
        den > 0,
        F.floor(
            2.0 * F.col("cos_u") * 1_000_000.0 / den + F.lit(0.5)
        ).cast("long"),
    )
    scored = (
        ranked.select("src_id", "tgt_id", "cos_u")
        .join(dsrc, "src_id")
        .join(dtgt, "tgt_id")
        .withColumn("margin_ppm", margin)
    )
    w_best = Window.partitionBy("src_id").orderBy(
        F.col("margin_ppm").desc(), F.col("tgt_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w_best))
        .filter(
            (F.col("_rn") == 1)
            & (F.col("margin_ppm") >= margin_threshold_ppm)
        )
        .select("src_id", "tgt_id", F.col("cos_u").alias("cos_ppm"), "margin_ppm")
    )


def jl_signs(d_in: int, d_out: int, seed: int = 7) -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss projection matrix
    (Achlioptas 2003 sign variant): entry (i, j) is the parity of
    md5(f"{seed}:{i}:{j}") — reproducible from constants alone, so
    the DuckDB oracle interpolates the identical matrix and no
    training pass or stored model is needed (the point of JL over
    PCA at corpus scale: data-OBLIVIOUS, one narrow map, zero
    learning shuffles). d_in × d_out ints — control-plane sized."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest(), 16
            )
            % 2
            == 0
            else -1
            for j in range(d_out)
        ]
        for i in range(d_in)
    ]


def jl_project(
    df: DataFrame,
    d_in: int,
    d_out: int,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project *vec_col* (length *d_in*) to *d_out* dims with the
    deterministic ±1 JL matrix: yⱼ = (Σᵢ xᵢ·sᵢⱼ) / √d_out, each
    output rounded to 6 dp fixed point. One exchange-free codegen
    projection — each output dim is a deterministic left fold over
    the input array zipped with a literal sign column, so at 100 TB
    this rides the scan like the other signal maps. Output EXPLODED
    to (id, dim, value) rows so the oracle compares scalars."""
    wide = jl_project_wide(df, d_in, d_out, seed, id_col, vec_col)
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("dim"),
                F.col(f"d{j}").alias("value"),
            )
            for j in range(d_out)
        ]
    )
    return wide.select(F.col(id_col), F.explode(pairs).alias("_p")).select(
        id_col, F.col("_p.dim").alias("dim"), F.col("_p.value").alias("value")
    )


def jl_project_wide(
    df: DataFrame,
    d_in: int,
    d_out: int,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`jl_project`'s wide form: (id, d0..d{d_out-1}), each
    dim a deterministic ascending-index left fold rounded to 6 dp."""
    import math

    signs = jl_signs(d_in, d_out, seed)
    x = F.col(vec_col)
    inv = 1.0 / math.sqrt(d_out)
    dims = []
    for j in range(d_out):
        col_j = F.array(*[F.lit(float(signs[i][j])) for i in range(d_in)])
        y = F.aggregate(
            F.zip_with(x, col_j, lambda a, s: a.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        dims.append(
            (
                F.floor(y * inv * 1_000_000 + F.lit(0.5)) / 1_000_000.0
            ).alias(f"d{j}")
        )
    return df.select(F.col(id_col), *dims)
