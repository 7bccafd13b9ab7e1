"""Data-quality reporting — aggregate profile + SMA indicators.

Capability parity with /root/reference/src/etl/utils/reporting.py
(A4-A9, W1): row count / time span, per-column NULL profile, duplicate
count, candle-range stats, CLOSE distribution (exact median), outlier
heuristic, and rolling simple-moving-average indicator stats.

Spark-first: the whole profile is ONE wide aggregate per key (single
shuffle, map-side partial agg); the SMA pass is one per-key ordered
window. Reports come back as small DataFrames (one row per key) —
collect on the driver for JSON serialization, exactly like the
reference's dict report but computed distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sma(
    df: DataFrame,
    value_col: str = "CLOSE",
    window_size: int = 10,
    key_cols: list[str] | None = None,
    ts_col: str = "TIMESTAMP",
    order_cols: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Rolling simple moving average over the trailing *window_size*
    rows, ``min_periods=1`` semantics (avg of however many rows the
    frame holds — Spark's default) [W1, reporting.py:107-112].

    *order_cols* should make the ordering total (e.g. add a sequence
    column when timestamps can tie) for deterministic results.
    """
    w = (
        Window.partitionBy(*(key_cols or []))
        .orderBy(*(order_cols or [ts_col]))
        .rowsBetween(-(window_size - 1), 0)
    )
    return df.withColumn(out_col or f"SMA_{window_size}", F.avg(value_col).over(w))


def vwap(
    df: DataFrame,
    price_col: str = "CLOSE",
    volume_col: str = "VOLUME",
    window_size: int | None = None,
    key_cols: list[str] | None = None,
    ts_col: str = "TIMESTAMP",
    out_col: str = "VWAP",
) -> DataFrame:
    """Volume-weighted average price: cumulative per key when
    *window_size* is None, else over the trailing *window_size* rows.
    One per-key ordered window (growing/rows frame — O(n))."""
    w = Window.partitionBy(*(key_cols or [])).orderBy(ts_col)
    w = (
        w.rowsBetween(Window.unboundedPreceding, 0)
        if window_size is None
        else w.rowsBetween(-(window_size - 1), 0)
    )
    pv = F.sum(F.col(price_col) * F.col(volume_col)).over(w)
    v = F.sum(volume_col).over(w)
    return df.withColumn(out_col, pv / v)


def bollinger_bands(
    df: DataFrame,
    price_col: str = "CLOSE",
    window_size: int = 20,
    num_std: float = 2.0,
    key_cols: list[str] | None = None,
    ts_col: str = "TIMESTAMP",
) -> DataFrame:
    """Bollinger bands: trailing SMA ± num_std · sample-stddev over
    *window_size* rows (min_periods=1 semantics; the stddev of a
    single row is NULL, matching pandas ``rolling().std()``)."""
    w = (
        Window.partitionBy(*(key_cols or []))
        .orderBy(ts_col)
        .rowsBetween(-(window_size - 1), 0)
    )
    mid = F.avg(price_col).over(w)
    sd = F.stddev_samp(price_col).over(w)
    return (
        df.withColumn("BB_MID", mid)
        .withColumn("BB_UPPER", mid + num_std * sd)
        .withColumn("BB_LOWER", mid - num_std * sd)
    )


def data_quality_report(
    df: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "TIMESTAMP",
    compute_indicators: bool = True,
    sma_windows: tuple[int, ...] = (10, 50),
    approx: bool = False,
) -> DataFrame:
    """One report row per key (or a single global row when *key_cols*
    is empty): rows, start/end, per-column null counts, duplicate
    timestamps, candle range stats, CLOSE min/max/median, and the
    suspicious-price-jump heuristic (close_max/median > 100 or
    close_min/median < 0.01, reporting.py:80-94).

    *approx=False* (default) computes the EXACT median and distinct
    count — required for oracle parity, but the exact percentile is a
    holistic aggregate (buffers all values per group). The exact
    distinct count is the size of the key's stamp set, not a distinct
    aggregate: Catalyst plans ``count(DISTINCT)`` by first grouping on
    (keys, stamp), which would give every stamp its own percentile
    buffer; the set holds per-key values like the percentile beside it.
    *approx=True* is the 100 TB path: ``approx_percentile`` (mergeable
    t-digest-style sketch) and HLL ``approx_count_distinct`` — fully
    map-side combinable, constant memory per group.
    """
    keys = key_cols or []
    cols = set(df.columns)
    distinct_ts = (
        F.approx_count_distinct(ts_col)
        if approx
        # both sides skip NULL stamps, as countDistinct does
        else F.size(F.collect_set(ts_col))
    )
    aggs = [
        F.count("*").alias("rows"),
        F.min(ts_col).alias("start"),
        F.max(ts_col).alias("end"),
        (F.count(ts_col) - distinct_ts).alias("duplicate_timestamps"),
    ]
    for c in df.columns:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"))
    if {"HIGH", "LOW"} <= cols:
        rng = F.col("HIGH") - F.col("LOW")
        aggs += [F.avg(rng).alias("mean_range"), F.max(rng).alias("max_range")]
    if "CLOSE" in cols:
        median = (
            F.percentile_approx("CLOSE", 0.5)
            if approx
            else F.expr("percentile(CLOSE, 0.5)")
        )
        aggs += [
            F.min("CLOSE").alias("close_min"),
            F.max("CLOSE").alias("close_max"),
            median.alias("close_median"),
        ]

    rep = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)

    if "CLOSE" in cols:
        rep = rep.withColumn(
            "suspicious_price_jump",
            F.when(
                (F.col("close_median") > 0)
                & (
                    (F.col("close_max") / F.col("close_median") > 100)
                    | (F.col("close_min") / F.col("close_median") < 0.01)
                ),
                F.lit(True),
            ).otherwise(F.lit(False)),
        )

    if compute_indicators and "CLOSE" in cols:
        ind = df
        for wsize in sma_windows:
            ind = sma(ind, "CLOSE", wsize, keys, ts_col)
        ind_aggs = []
        for wsize in sma_windows:
            c = f"SMA_{wsize}"
            ind_aggs += [
                F.max_by(c, ts_col).alias(f"{c}_last"),
                F.min(c).alias(f"{c}_min"),
                F.max(c).alias(f"{c}_max"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"),
            ]
        ind_rep = ind.groupBy(*keys).agg(*ind_aggs) if keys else ind.agg(*ind_aggs)
        rep = rep.join(ind_rep, on=keys, how="left") if keys else rep.crossJoin(ind_rep)
    return rep


def returns_and_volatility(
    df: DataFrame,
    value_col: str = "CLOSE",
    ts_col: str = "TIMESTAMP",
    key_cols: list[str] | None = None,
    window_size: int = 20,
) -> DataFrame:
    """Per-key log returns (``ln(p_t / p_{t-1})``) and trailing
    *window_size*-row sample-stddev volatility — the risk-metric pair
    every candle consumer derives next (beyond the reference, which
    stops at candles).

    Two expressions, ONE ordered window pass physically: lag and the
    rolling stddev share the same (keys, ts) sort, so Catalyst plans a
    single shuffle+sort with both window frames evaluated in it. The
    first row per key has NULL return and NULL volatility (stddev of
    an empty/1-row frame).
    """
    keys = key_cols or []
    w = Window.partitionBy(*keys).orderBy(ts_col)
    ret = F.log(F.col(value_col) / F.lag(value_col).over(w))
    out = df.withColumn("LOG_RETURN", ret)
    wv = w.rowsBetween(-(window_size - 1), 0)
    return out.withColumn("VOLATILITY", F.stddev_samp("LOG_RETURN").over(wv))


#: Keyless ewma_macd single-series guard: one pandas task handles at
#: most this many rows before the operator refuses (see ewma_macd).
_KEYLESS_EWMA_MAX_ROWS = 5_000_000


def _guard_keyless(df, op_name):
    """Cheap limit-probe shared by every keyless single-series lane
    (pandas kernels AND unpartitioned JVM windows): a caller who
    forgot key_cols fails loudly instead of silently funneling
    billions of rows through one task."""
    probe = df.limit(_KEYLESS_EWMA_MAX_ROWS + 1).count()
    if probe > _KEYLESS_EWMA_MAX_ROWS:
        raise ValueError(
            f"{op_name} with key_cols=None sends the whole frame through "
            f"one task; input exceeds {_KEYLESS_EWMA_MAX_ROWS:,} rows. "
            "Pass key_cols (e.g. ['SYMBOL']) to distribute the series."
        )


def _apply_per_key(df, keys, kernel, out_schema, op_name):
    """Dispatch a grouped-map pandas kernel: per-key when *keys* is
    non-empty; otherwise the WHOLE frame runs as one series through
    one task — guarded by _guard_keyless."""
    if keys:
        return df.groupBy(*keys).applyInPandas(kernel, out_schema)
    _guard_keyless(df, op_name)
    return df.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        lambda p: kernel(p.drop(columns=["_g"])), out_schema
    )


def binned_quartile_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bin_width: float = 100.0,
    n_buckets: int = 4,
) -> DataFrame:
    """Per-group value-quantile profile at fixed-bin granularity:
    values are floored into bins of ``bin_width``; a bin belongs to
    bucket ``(n_buckets * rows_in_strictly_higher_bins) div n + 1``
    (bucket 1 = highest values) and every row in the bin shares its
    bucket.

    This is the scale-safe replacement for a per-group ``ntile``
    window (which funnels ALL rows of a group through one task — a
    100 TB killer when group cardinality is constant): the only
    per-row work is one map-side-combinable groupBy on (group, bin);
    the ranking windows run over the bin histogram (≤ domain/bin_width
    rows per group), and per-bin partials (count / decimal sum / min /
    max) roll up to the profile without a second pass over the data.
    Bucket assignment is pure integer arithmetic — deterministic
    across engines.

    Output: (group_col, bucket, n_rows, avg_value, min_value,
    max_value).
    """
    hist = df.groupBy(
        F.col(group_col),
        F.floor(F.col(value_col) / bin_width).cast("long").alias("_bin"),
    ).agg(
        F.count("*").alias("_cnt"),
        F.sum(F.col(value_col).cast("decimal(30,6)")).alias("_sum"),
        F.min(value_col).alias("_min"),
        F.max(value_col).alias("_max"),
    )
    w_desc = Window.partitionBy(group_col).orderBy(F.col("_bin").desc())
    w_all = Window.partitionBy(group_col)
    q = (
        hist.withColumn("_above", F.sum("_cnt").over(w_desc) - F.col("_cnt"))
        .withColumn("_n", F.sum("_cnt").over(w_all))
        .withColumn(
            "bucket",
            F.expr(f"{n_buckets} * _above div _n + 1").cast("long"),
        )
    )
    return q.groupBy(group_col, "bucket").agg(
        F.sum("_cnt").alias("n_rows"),
        (F.sum("_sum").cast("double") / F.sum("_cnt")).alias("avg_value"),
        F.min("_min").alias("min_value"),
        F.max("_max").alias("max_value"),
    )


def ewma_macd(
    df: DataFrame,
    value_col: str = "CLOSE",
    ts_col: str = "TIMESTAMP",
    key_cols: list[str] | None = None,
    span_fast: int = 12,
    span_slow: int = 26,
    span_signal: int = 9,
) -> DataFrame:
    """Per-key EWMA pair + MACD line/signal/histogram (the classic
    12/26/9), computed with a grouped-map pandas UDF.

    EWMA is a *recursion* (`e_t = α·x_t + (1−α)·e_{t−1}`) — the one
    indicator shape Spark's window frames genuinely cannot express
    (every frame aggregate is associative; the exponential carry is
    not). This is exactly the documented ``applyInPandas`` fallback
    lane (SURVEY §2.11): one Arrow batch per key, pandas ``ewm``
    (adjust=True, matching its definition of span) inside, schema
    declared up front. Each key's full series must fit one executor —
    same contract as the reference's whole-file frames, and fine at
    100 TB where series-per-symbol is the natural shard.

    Output: input columns + EWMA_FAST, EWMA_SLOW, MACD, MACD_SIGNAL,
    MACD_HIST.
    """
    import pandas as pd  # noqa: F401 (Arrow lane)

    keys = key_cols or []
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [
            "EWMA_FAST double",
            "EWMA_SLOW double",
            "MACD double",
            "MACD_SIGNAL double",
            "MACD_HIST double",
        ]
    )

    def _kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        px = pdf[value_col].astype("float64")
        fast = px.ewm(span=span_fast, adjust=True).mean()
        slow = px.ewm(span=span_slow, adjust=True).mean()
        macd = fast - slow
        signal = macd.ewm(span=span_signal, adjust=True).mean()
        pdf["EWMA_FAST"] = fast
        pdf["EWMA_SLOW"] = slow
        pdf["MACD"] = macd
        pdf["MACD_SIGNAL"] = signal
        pdf["MACD_HIST"] = macd - signal
        return pdf

    return _apply_per_key(df, keys, _kernel, out_schema, "ewma_macd")


def wilder_rsi(
    df: DataFrame,
    value_col: str = "CLOSE",
    ts_col: str = "TIMESTAMP",
    key_cols: list[str] | None = None,
    n: int = 14,
) -> DataFrame:
    """Relative Strength Index with Wilder-style smoothing in its
    ``ewm(alpha=1/n, adjust=False)`` form: per step
    ``avg = (1-α)·avg_prev + α·x`` seeded from the first gain/loss —
    the second classic indicator recursion Spark windows cannot
    express (non-associative carry), routed through the same
    grouped-map pandas lane as :func:`ewma_macd`.

    RSI_t = 100 − 100/(1 + avg_gain/avg_loss); 100 when avg_loss is
    exactly 0 (all-gain prefix), 50 on a flat prefix (both zero). The
    first row of each series has no delta and reports NULL.

    Output: input columns + GAIN, LOSS, RSI. Each key's series must
    fit one executor — same contract as ewma_macd.
    """
    import pandas as pd  # noqa: F401 (Arrow lane)

    keys = key_cols or []
    alpha = 1.0 / n
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["GAIN double", "LOSS double", "RSI double"]
    )

    def _kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        px = pdf[value_col].astype("float64")
        delta = px.diff()
        gain = delta.clip(lower=0.0)
        loss = (-delta).clip(lower=0.0)
        # recursion starts at the first DELTA (row 2 of the series)
        ag = gain.iloc[1:].ewm(alpha=alpha, adjust=False).mean()
        al = loss.iloc[1:].ewm(alpha=alpha, adjust=False).mean()
        import numpy as np

        with np.errstate(divide="ignore", invalid="ignore"):
            body = 100.0 - 100.0 / (1.0 + ag / al)
        body = body.where(al != 0.0, 100.0).where((al != 0.0) | (ag != 0.0), 50.0)
        rsi = pd.Series(float("nan"), index=pdf.index)
        rsi.loc[body.index] = body
        pdf["GAIN"] = gain
        pdf["LOSS"] = loss
        pdf["RSI"] = rsi
        return pdf

    return _apply_per_key(df, keys, _kernel, out_schema, "wilder_rsi")


def on_balance_volume(
    df: DataFrame,
    price_col: str = "CLOSE",
    volume_col: str = "VOLUME",
    ts_col: str = "TIMESTAMP",
    key_cols: list[str] | None = None,
    out_col: str = "OBV",
) -> DataFrame:
    """On-Balance Volume: running sum of volume signed by the price
    direction (+V on an up-close, −V on a down-close, 0 unchanged;
    the first row contributes 0). Unlike the EWMA recursions this IS
    associative — a lag + signum + unbounded-preceding sum — so it
    stays entirely in JVM window execution: one per-key ordered
    window pass, no pandas lane. Keyless calls run one global window
    task and share the same size guard as the pandas lanes."""
    keys = key_cols or []
    if not keys:
        _guard_keyless(df, "on_balance_volume")
    w = Window.partitionBy(*keys).orderBy(ts_col)
    signed = F.coalesce(
        F.signum(F.col(price_col) - F.lag(price_col).over(w)), F.lit(0.0)
    ) * F.col(volume_col)
    cum = Window.partitionBy(*keys).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out_col, F.sum(signed).over(cum))


def cusum_monitor(
    df: DataFrame,
    value_col: str = "CLOSE",
    ts_col: str = "TIMESTAMP",
    key_cols: list[str] | None = None,
    kappa_frac: float = 0.005,
    h_frac: float = 0.05,
) -> DataFrame:
    """Two-sided CUSUM change-point monitor (Page 1954): per key,
    ``S+_t = max(0, S+_{t-1} + (x_t − μ) − κ)`` and
    ``S−_t = max(0, S−_{t-1} − (x_t − μ) − κ)``, alarming when either
    statistic exceeds the decision threshold h — the classic
    drift/level-shift detector for series monitoring. μ is the key's
    exact mean (decimal sum ÷ count — reference-period mean in
    production); κ = *kappa_frac*·μ (slack) and h = *h_frac*·μ.

    The clamped recursion is non-associative (the max(0,·) floor
    carries), so like the EWMA family it runs in the grouped-map
    pandas lane; every update is +/−/max over doubles, so a recursive
    SQL oracle reproduces it bit-for-bit.

    Output: input columns + CUSUM_HIGH, CUSUM_LOW, ALARM.
    """
    import pandas as pd  # noqa: F401 (Arrow lane)

    keys = key_cols or []
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["CUSUM_HIGH double", "CUSUM_LOW double", "ALARM boolean"]
    )

    def _kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        x = pdf[value_col].astype("float64").to_numpy()
        # μ arrives precomputed (exact decimal mean, engine-side) so
        # the kernel never does its own summation
        mu = float(pdf["_MU"].iloc[0])
        kappa = kappa_frac * mu
        h = h_frac * mu
        s_hi, s_lo = 0.0, 0.0
        his, los, alarms = [], [], []
        for v in x:
            s_hi = max(0.0, s_hi + (v - mu) - kappa)
            s_lo = max(0.0, s_lo - (v - mu) - kappa)
            his.append(s_hi)
            los.append(s_lo)
            alarms.append(s_hi > h or s_lo > h)
        pdf["CUSUM_HIGH"] = his
        pdf["CUSUM_LOW"] = los
        pdf["ALARM"] = alarms
        return pdf.drop(columns=["_MU"])

    mu_expr = (
        F.sum(F.col(value_col).cast("decimal(30,6)")).cast("double")
        / F.count("*")
    ).alias("_MU")
    if keys:
        mu_df = df.groupBy(*keys).agg(mu_expr)
        return df.join(mu_df, keys).groupBy(*keys).applyInPandas(
            _kernel, out_schema
        )
    return _apply_per_key(
        df.crossJoin(F.broadcast(df.agg(mu_expr))),
        [],
        _kernel,
        out_schema,
        "cusum_monitor",
    )


def trend_ols(
    df: DataFrame,
    value_col: str = "CLOSE",
    ts_col: str = "TIMESTAMP",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key ordinary-least-squares trend line over the
    time-ordered series: slope and intercept of y against the row
    index x = 0..n−1 (index regression sidesteps epoch-scale x²
    overflow and makes the slope "value change per bar"). Every
    moment is an exact sum — x is a small integer, y sums as
    decimal(30,6), Σxy as decimal — so slope/intercept are one
    deterministic double division each, like the CUPED readout.

    One per-key ordered window (row index) + one aggregate. Output:
    key columns + (n, slope, intercept) — slope NULL for 1-row keys.
    Keyless calls run one global window task and share the same size
    guard as the pandas lanes.
    """
    keys = key_cols or []
    if not keys:
        _guard_keyless(df, "trend_ols")
    w = Window.partitionBy(*keys).orderBy(ts_col)
    idx = (F.row_number().over(w) - 1).cast("long")
    with_x = df.select(
        *keys,
        idx.alias("_x"),
        F.col(value_col).cast("decimal(30,6)").alias("_y"),
    )
    g = with_x.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    denom = (F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    slope = F.when(
        F.col("n") > 1,
        (F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
            "double"
        )
        / denom,
    )
    intercept = (
        F.col("_sy").cast("double") - slope * F.col("_sx").cast("double")
    ) / F.col("n")
    return g.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )
