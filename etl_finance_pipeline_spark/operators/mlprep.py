"""Tabular ML / privacy preparation operators: k-anonymity audit,
group-mean imputation, deterministic categorical indexing.

Each is one or two hash-partitioned aggregates plus a broadcast-sized
mapping — the standard feature-prep steps a training pipeline runs
after dedup/filtering and before encoding, expressed so a SQL oracle
reproduces them exactly (decimal-exact means, frequency/lexical
tiebreaks instead of arrival order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over the quasi-identifier combination: every
    equivalence class (distinct quasi-id tuple) reports its size and
    whether it violates k (fewer than *k* rows ⇒ those rows are
    re-identifiable within the release). The privacy gate a dataset
    publisher runs before sharing; the follow-up (suppress or
    generalize violating classes) is a semi-join on the output.

    One map-side-combinable groupBy on the quasi-id columns.

    Output: quasi columns + (class_size, violates_k).
    """
    return df.groupBy(*quasi_cols).agg(
        F.count("*").alias("class_size")
    ).select(
        *quasi_cols,
        F.col("class_size").cast("long").alias("class_size"),
        (F.col("class_size") < k).alias("violates_k"),
    )


def impute_group_mean(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    out_col: str | None = None,
) -> DataFrame:
    """Fill NULLs in *value_col* with the column's per-group mean
    (computed over the non-null rows, as an exact decimal sum ÷ count
    so engines agree bit-for-bit) — the baseline tabular imputer.
    Groups that are entirely NULL stay NULL (no global fallback —
    silently mixing group and global statistics is how imputers leak
    across strata).

    One aggregate + one broadcast-or-shuffle join on the group key;
    flag column ``<out>_imputed`` records which rows were filled.
    """
    out = out_col or value_col
    means = df.groupBy(*group_cols).agg(
        (
            F.sum(F.col(value_col).cast("decimal(30,6)")).cast("double")
            / F.count(value_col)
        ).alias("_gmean")
    )
    j = df.join(means, group_cols, "left")
    # When out_col names a NEW column, the raw value column stays in
    # the output — requesting a separate imputed column must not lose
    # the originals.
    keep = df.columns if out != value_col else [c for c in df.columns if c != value_col]
    return j.select(
        *keep,
        F.coalesce(F.col(value_col), F.col("_gmean")).alias(out),
        (
            F.col(value_col).isNull() & F.col("_gmean").isNotNull()
        ).alias(f"{out}_imputed"),
    )


def string_index(
    df: DataFrame,
    col: str,
    out_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic categorical indexer (StringIndexer semantics with
    a portable tiebreak): labels are ranked by frequency descending,
    then lexically — index 0 is the most frequent value — and every
    row gets its label's index. NULL values index to NULL.

    The vocabulary frame is |distinct values| rows; its ranking window
    is unpartitioned BY DESIGN (a vocabulary is broadcast-sized by
    definition — if yours isn't, you want feature hashing, not an
    index map). The encode join broadcasts the mapping.

    Returns (encoded_df, mapping_df) — mapping is (value, index,
    freq) for export alongside the model.
    """
    out = out_col or f"{col}_idx"
    freq = (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col(col))
    mapping = freq.select(
        F.col(col).alias("value"),
        (F.row_number().over(w) - 1).cast("long").alias("index"),
        F.col("freq").cast("long").alias("freq"),
    )
    encoded = df.join(
        F.broadcast(mapping.withColumnRenamed("value", col)),
        col,
        "left",
    ).select(*df.columns, F.col("index").alias(out))
    return encoded, mapping


def linear_probe_train(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    lr: float = 0.1,
    iters: int = 5,
    round_digits: int = 6,
) -> tuple[list[float], float]:
    """Train a LINEAR PROBE on an embedding column by deterministic
    full-batch gradient descent — the standard device for turning a
    frozen encoder into a data-quality / domain / toxicity scorer in
    LLM-corpus curation (fit a linear head on embeddings, score the
    whole corpus with one narrow projection).

    Least-squares objective (no sigmoid — every update is +,·,÷
    arithmetic, so with per-iteration portable rounding the fixed
    point is bit-reproducible in any engine; a logistic link would
    couple the oracle to libm's exp): per iteration ONE distributed
    pass computes the WHOLE gradient — the residual against the
    broadcast-joined weight row, then dim per-dimension Σ resid·x_j
    sums PLUS Σ resid in a single map-side-combinable global
    aggregate. No posexplode (a Generate re-evaluates a computed
    sibling column once per exploded element — the residual's dot
    product would run dim× per row) and no second pass for the bias
    gradient. The weights arrive as a 1-row broadcast frame, not a
    literal, so every iteration reuses one compiled plan. The driver
    holds dim+1 doubles of control flow between iterations, exactly
    like the k-means and PageRank loops.

    w ← w − lr·(2/n)·Xᵀ(Xw + b − y),  b ← b − lr·(2/n)·Σ(Xw + b − y)

    Returns (weights list[dim], bias) — rounded to *round_digits*.
    """
    from etl_finance_pipeline_spark.functions.layout import fan_out

    # fan_out: every GD pass is one narrow residual+gradient aggregate
    # over this frame, so its parallelism is the input's — a raw
    # single-file embeddings scan would run all iters serially (no-op
    # for checkpointed/already-wide inputs like the fasttext lanes)
    src = fan_out(df).select(
        F.col(vec_col).cast("array<double>").alias("_x"),
        F.col(label_col).cast("double").alias("_y"),
    )
    # iters+1 actions read this frame — persist for the loop and
    # release it on every exit, the empty-input raise and a failed GD
    # pass included: without it every GD pass re-runs the upstream
    # featurize/scan lineage. Spills to disk if it outgrows memory;
    # callers that already checkpointed their input just get a cheap
    # cached re-read.
    from etl_finance_pipeline_spark.functions.lanes import scoped_persist

    with scoped_persist(src) as src:
        # ONE action for (n, dim) instead of a first() plus a count() —
        # each extra action re-runs the (often unmaterialized) featurize
        # lineage upstream (r14, guide §1.2: fewer passes). min(size) ==
        # the first row's size on well-formed input (all vectors share a
        # dim); ragged input failed downstream before and still does.
        row0 = src.agg(
            F.count("*").alias("_n"), F.min(F.size("_x")).alias("_d")
        ).first()
        if row0 is None or row0["_d"] is None:
            raise ValueError("linear_probe_train: empty input")
        dim = row0["_d"]
        n = row0["_n"]
        scale = 10 ** round_digits
        w = [0.0] * dim
        b = 0.0
        import math

        spark = df.sparkSession
        pred = (
            F.aggregate(
                F.zip_with(F.col("_x"), F.col("_w"), lambda x, wi: x * wi),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            + F.col("_b")
        )
        for _ in range(iters):
            wdf = spark.createDataFrame(
                [(list(map(float, w)), float(b))], "_w array<double>, _b double"
            )
            row = (
                src.crossJoin(F.broadcast(wdf))
                .select((pred - F.col("_y")).alias("_r"), "_x")
                .groupBy()
                .agg(
                    F.sum("_r").alias("_gb"),
                    *[
                        F.sum(F.col("_r") * F.element_at("_x", j + 1)).alias(
                            f"_g{j}"
                        )
                        for j in range(dim)
                    ],
                )
                .first()
            )
            w = [
                math.floor(
                    (w[j] - lr * 2.0 / n * (row[f"_g{j}"] or 0.0)) * scale + 0.5
                )
                / scale
                for j in range(dim)
            ]
            b = math.floor((b - lr * 2.0 / n * row["_gb"]) * scale + 0.5) / scale
        return w, b


def bt_ratings(
    duels: DataFrame,
    item_a: str = "item_a",
    item_b: str = "item_b",
    win_a: str = "win_a",
    iters: int = 5,
) -> DataFrame:
    """Bradley-Terry strength fit over pairwise judgments — the
    standard readout that turns chosen/rejected preference pairs into
    per-item scores (Bradley & Terry 1952; reward-model data
    analysis runs exactly this to sanity-check annotator signal).
    Fixed-iteration minorization-maximization (Hunter 2004):

        π_i ← W_i / Σ_j n_ij / (π_i + π_j)

    regularized with half a win against a fixed reference of strength
    1 (keeps every rating positive and identified without a
    normalization step). Deterministic cross-engine by construction:
    each pairwise term is floored to nano-units BEFORE the
    denominator sum (exact integer addition — order-free, the DoReMi
    exact-int device), and the update division is one exact big-int
    expression, so the DuckDB oracle unrolls bit-identical rounds.

    Scale shape: ONE distributed aggregation reduces the duel frame
    to (item_a, item_b, n, wins) sufficient statistics — O(k²) rows
    for k items — which are collected and iterated in the driver
    (control-plane-sized, like the k-means codebook and tokenizer
    vocab collects; items are sources/models/annotators, not
    documents). The duel frame itself never leaves the cluster.

    Input: one row per duel with *win_a* ∈ {0, 1}. Ties should be
    excluded upstream; self-duels (item_a == item_b) are REJECTED —
    the driver fold would floor one combined nano-unit term where the
    oracle's symmetrized form floors two, a 1-nano divergence on
    semantically meaningless input. Output: (item, rating, n_wins,
    n_duels), rating at 6 dp.
    """
    import math

    stats = (
        duels.groupBy(item_a, item_b)
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col(win_a).cast("long")).alias("w"),
        )
        .collect()
    )
    adj: dict[str, dict[str, int]] = {}
    wins: dict[str, int] = {}
    for r in stats:
        a, b, n, w = r[item_a], r[item_b], int(r["n"]), int(r["w"])
        if a == b:
            # checked on the k²-sized sufficient stats (free), not
            # with an extra pass over the duel frame
            raise ValueError(
                "bt_ratings: self-duels (item_a == item_b) are not "
                "valid pairwise judgments — filter them upstream"
            )
        adj.setdefault(a, {})[b] = adj.setdefault(a, {}).get(b, 0) + n
        adj.setdefault(b, {})[a] = adj.setdefault(b, {}).get(a, 0) + n
        wins[a] = wins.get(a, 0) + w
        wins[b] = wins.get(b, 0) + (n - w)
    items = sorted(adj)
    pi = {s: 1.0 for s in items}
    for _ in range(iters):
        new = {}
        for s in items:
            # every term floored to nano-units, then summed as exact
            # integers — the addition order can't matter
            den = math.floor(1e9 / (pi[s] + 1.0) + 0.5)
            for t, nst in adj[s].items():
                den += math.floor(nst * 1e9 / (pi[s] + pi[t]) + 0.5)
            # rating6 = floor((W + 0.5) * 1e9 / den * 1e6 + 0.5) in
            # exact integer arithmetic (HUGEINT in the oracle)
            w2 = 2 * wins[s] + 1  # 2W + 1
            new[s] = (w2 * 5 * 10**14 * 2 + den) // (2 * den) / 1e6
        pi = new
    spark = duels.sparkSession
    rows = [
        (s, float(pi[s]), int(wins[s]), int(sum(adj[s].values())))
        for s in items
    ]
    return spark.createDataFrame(
        rows, "item string, rating double, n_wins long, n_duels long"
    )


def best_of_n_gain(
    ratings: DataFrame,
    ns: tuple[int, ...] = (1, 2, 4, 8),
    item_col: str = "item",
    rating_col: str = "rating",
) -> DataFrame:
    """Best-of-n / rejection-sampling readout over fitted strengths —
    the selection calculus an RLHF data pipeline runs on top of
    Bradley-Terry ratings (:func:`bt_ratings`): draw n candidates
    i.i.d. uniformly from the rated pool, keep the strongest; report,
    for each n, the EXACT expected max strength, its gain over a
    single draw, and each item's probability of being the one
    selected. Discrete order statistics in closed form: with items
    ranked i = 1..k by rating (ties broken by item id — a documented
    convention; E[max] is unaffected by how ties split),

        P(item at rank i selected) = (i^n − (i−1)^n) / k^n
        E[max_n] = Σ_i rating_i · (i^n − (i−1)^n) / k^n

    All arithmetic is EXACT integers over nano/micro-unit ratings
    (the DoReMi exact-int device): numerators are Python bigints, the
    final division is one floor((2N + D) / 2D) rounding, so the
    DuckDB oracle (HUGEINT) reproduces every digit. The ratings frame
    is k-sized (control-plane) by construction — the only collect.

    Requires 1 ∈ *ns* (the gain baseline). Output: one row per
    (item, n) — (item, n, rating, sel_p, emax, bon_gain), all at
    6 dp.
    """
    if 1 not in ns:
        raise ValueError("best_of_n_gain: ns must include 1 (baseline)")
    rows = ratings.select(item_col, rating_col).collect()
    items = sorted(
        (int(round(float(r[rating_col]) * 1e6)), r[item_col]) for r in rows
    )
    k = len(items)
    if k == 0:
        raise ValueError("best_of_n_gain: empty ratings frame")
    e6: dict[int, int] = {}
    for n in ns:
        num = sum(
            r6 * ((i + 1) ** n - i**n) for i, (r6, _) in enumerate(items)
        )
        den = k**n
        e6[n] = (2 * num + den) // (2 * den)
    out = []
    for n in ns:
        den = k**n
        for i, (r6, it) in enumerate(items):
            w = (i + 1) ** n - i**n
            p6 = (2 * w * 10**6 + den) // (2 * den)
            out.append(
                (
                    it,
                    int(n),
                    r6 / 1e6,
                    p6 / 1e6,
                    e6[n] / 1e6,
                    (e6[n] - e6[1]) / 1e6,
                )
            )
    spark = ratings.sparkSession
    return spark.createDataFrame(
        out,
        "item string, n int, rating double, sel_p double, "
        "emax double, bon_gain double",
    )


def linear_probe_score(
    df: DataFrame,
    weights: list[float],
    bias: float,
    vec_col: str = "embedding",
    out_col: str = "probe_score",
) -> DataFrame:
    """Score every row with a trained linear probe: one narrow
    JVM-side projection (weights ride as a literal), no shuffle —
    the corpus-scale pass that ranks/filters documents by the probe.
    """
    w_lit = F.array(*[F.lit(float(x)) for x in weights])
    score = (
        F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                w_lit,
                lambda x, wi: x * wi,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        + F.lit(float(bias))
    )
    return df.withColumn(out_col, score)


def binary_auc(
    df: DataFrame,
    score_col: str = "probe_score",
    label_col: str = "label",
) -> DataFrame:
    """Exact ROC-AUC of a score against a 0/1 label — the Mann-Whitney
    U statistic with average ranks for ties:

        AUC = (S_pos − P(P+1)/2) / (P·N)

    where S_pos is the sum over positives of the average ascending
    rank of their score. Ranks come from the score-GROUPED frame
    (one aggregate), then one cumulative window over distinct score
    values. Callers should portable-round the score first so tie
    groups are engine-independent.

    Scale note: the cumulative window runs over DISTINCT scores of an
    EVAL split — benchmark-sized by definition (same contract as the
    decontamination eval sets); for corpus-sized inputs bin the score
    first (fixed-width binning = the standard approximate AUC).
    Output: one row (n, n_pos, n_neg, auc).

    A one-class split (zero positives or zero negatives) has no
    defined AUC; rather than returning a silent NULL that callers
    could mistake for a score, the plan raises loudly
    (``assert_true`` on P>0 ∧ N>0).
    """
    from pyspark.sql.window import Window

    g = df.groupBy(F.col(score_col).alias("_s")).agg(
        F.count("*").alias("_n"),
        F.sum(F.col(label_col).cast("long")).alias("_np"),
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, 0)
    ranked = g.withColumn("_cum", F.sum("_n").over(w)).withColumn(
        "_rank_avg",
        (F.col("_cum") - F.col("_n")).cast("double")
        + (F.col("_n") + 1) / F.lit(2.0),
    )
    agg = ranked.agg(
        F.sum("_n").alias("_tot"),
        F.sum("_np").alias("_p"),
        F.sum(F.col("_np") * F.col("_rank_avg")).alias("_spos"),
    )
    p = F.col("_p").cast("double")
    n_neg = (F.col("_tot") - F.col("_p")).cast("double")
    auc = (F.col("_spos") - p * (p + 1) / F.lit(2.0)) / (p * n_neg)
    return agg.filter(
        # fail loudly on a one-class split instead of emitting a
        # silent NULL auc (assert_true is NULL when the predicate
        # holds, so the filter keeps the row)
        F.assert_true(
            (p > 0) & (n_neg > 0),
            F.concat_ws(
                " ",
                F.lit("binary_auc: one-class eval split (n_pos"),
                F.col("_p").cast("string"),
                F.lit(", n_neg"),
                n_neg.cast("string"),
                F.lit(") has no defined AUC"),
            ),
        ).isNull()
    ).select(
        F.col("_tot").cast("long").alias("n"),
        F.col("_p").cast("long").alias("n_pos"),
        (F.col("_tot") - F.col("_p")).cast("long").alias("n_neg"),
        (F.floor(auc * 1e6 + F.lit(0.5)) / 1e6).alias("auc"),
    )


def hashed_text_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 32,
    out_col: str = "features",
) -> DataFrame:
    """Dense mean-pooled hashing-trick text features — the fastText
    input representation (Joulin et al. 2016): each token lands in
    bucket ``h1(token) % dim`` with sign from ``h2``'s low bit
    (exactly :func:`corpus.feature_hash`'s algebra), per-document
    bucket sums are divided by the token count (fastText's averaged
    bag of words — length-invariant), and the buckets assemble into a
    fixed-width dense array a linear head can consume.

    Nothing to fit, broadcast, or look up — the stateless featurizer
    that scales to any corpus. One explode + two map-side-combinable
    aggregates, keyed by (id, bucket) then id.

    Output: (id, features array<double>[dim]). Documents with zero
    tokens are omitted (they have no feature mass).
    """
    from etl_finance_pipeline_spark.functions.text import tokens
    from etl_finance_pipeline_spark.operators.sketch import hash_word

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_w"))
    idx = (hash_word(F.col("_w"), 1) % dim).cast("int")
    sign = F.when(hash_word(F.col("_w"), 16) % 2 == 0, F.lit(1)).otherwise(
        F.lit(-1)
    )
    buckets = (
        toks.select(F.col(id_col), idx.alias("_i"), sign.alias("_s"))
        .groupBy(id_col, "_i")
        .agg(
            F.sum("_s").cast("double").alias("_v"),
            F.count("*").alias("_c"),
        )
    )
    return (
        buckets.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("_i", "_v"))
            ).alias("_m"),
            F.sum("_c").cast("double").alias("_nt"),
        )
        .select(
            F.col(id_col),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_m"), i.cast("int")), F.lit(0.0)
                )
                / F.col("_nt"),
            ).alias(out_col),
        )
    )


def calibration_report(
    df: DataFrame,
    score_col: str = "probe_score",
    label_col: str = "label",
    n_bins: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Reliability diagram of a probability-like score against a 0/1
    label (Guo et al. 2017's binned calibration): scores are clamped
    to [0,1] and split into *n_bins* fixed-width bins; each bin
    reports its mass, mean score (confidence) and positive fraction
    (accuracy), and the |confidence − accuracy| gap — the table a
    curation pipeline reads before trusting a quality classifier's
    scores as keep-probabilities.

    One map-side-combinable aggregate keyed by bin (≤ n_bins rows).
    Output: (bin, n, mean_score, frac_pos, gap), rounded portably.
    """
    from etl_finance_pipeline_spark.functions.scalar import portable_round

    s = F.least(
        F.greatest(F.col(score_col).cast("double"), F.lit(0.0)), F.lit(1.0)
    )
    b = F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1))
    g = (
        df.select(
            b.alias("bin"),
            s.alias("_s"),
            F.col(label_col).cast("double").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("_n"),
            F.avg("_s").alias("_ms"),
            F.avg("_y").alias("_fp"),
        )
    )
    ms = portable_round(F.col("_ms"), round_digits)
    fp = portable_round(F.col("_fp"), round_digits)
    return g.select(
        F.col("bin"),
        F.col("_n").cast("long").alias("n"),
        ms.alias("mean_score"),
        fp.alias("frac_pos"),
        # gap derives from the ROUNDED bin stats so the abs can't
        # straddle engines' sub-ulp mean differences
        portable_round(F.abs(ms - fp), round_digits).alias("gap"),
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str = "probe_score",
    label_col: str = "label",
    n_bins: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Expected calibration error: the bin-mass-weighted mean of the
    reliability gaps, Σ (n_b/N)·|conf_b − acc_b| — the one-number
    calibration summary (Naeini et al. 2015). Derived from the
    ROUNDED :func:`calibration_report` bins so the scalar is
    engine-portable. Output: one row (n, n_bins, ece).
    """
    from etl_finance_pipeline_spark.functions.scalar import portable_round

    rep = calibration_report(df, score_col, label_col, n_bins, round_digits)
    agg = rep.agg(
        F.sum("n").alias("_tot"),
        F.sum(F.col("n") * F.col("gap")).alias("_wg"),
    )
    return agg.select(
        F.col("_tot").cast("long").alias("n"),
        F.lit(n_bins).cast("int").alias("n_bins"),
        portable_round(F.col("_wg") / F.col("_tot"), round_digits).alias("ece"),
    )
