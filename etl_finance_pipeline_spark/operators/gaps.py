"""Time-series gap detection & repair — the engine's signature capability.

Capability parity with /root/reference/src/etl/transform/gaps.py,
re-expressed as distributed DataFrame algebra:

 * expected grid   → per-key min/max agg + ``explode(sequence(...))``
                     (tiny agg, grid generated executor-side) [G1]
 * missing stamps  → grid LEFT ANTI JOIN actual on (key, ts)   [G2]
 * gap clustering  → gaps-and-islands: bucket_index − row_number()
                     as the island key                          [G3]
 * classification  → F.when chain replicating the reference's
                     branch ORDER (incl. its unreachable
                     ``long_gap`` branch — any ≥24h gap crosses a
                     calendar date so ``overnight_gap`` fires first;
                     kept for observable-behavior parity)       [G4]
 * reindex         → grid LEFT OUTER JOIN actual                [G5]
 * ffill           → last(ignorenulls) over unbounded-preceding [G6]
 * interpolation   → pure-window prev/next formulation of pandas
                     ``interpolate(method="linear",
                     limit_direction="both")``                  [G7]

Scale notes: the only shuffles are (a) the per-key min/max aggregate
(tiny), (b) the grid join keyed on (key, ts) — hash-partitioned,
AQE-skew-splittable, and (c) the per-key ordered windows, which
partition by key. Series for one key are processed on one executor —
the standard contract for per-entity time-series windows; with
millions of keys at 100 TB this parallelizes wide.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_pipeline_spark.functions.scalar import offset_alias_to_seconds

PRICE_COLUMNS = ("OPEN", "HIGH", "LOW", "CLOSE")


def expected_grid(
    df: DataFrame,
    rule: str,
    key_cols: list[str],
    ts_col: str = "TIMESTAMP",
) -> DataFrame:
    """Complete per-key candle grid from min(ts) to max(ts) at *rule*
    frequency (pandas offset alias). [G1]

    ``groupBy(keys).agg(min, max)`` then ``explode(sequence(...))`` —
    the sequence is generated distributed, one row per key in the agg.
    """
    step = offset_alias_to_seconds(rule)
    bounds = df.groupBy(*key_cols).agg(
        F.min(ts_col).alias("_min_ts"), F.max(ts_col).alias("_max_ts")
    )
    return bounds.select(
        *key_cols,
        F.explode(
            F.sequence("_min_ts", "_max_ts", F.expr(f"INTERVAL {step} SECOND"))
        ).alias(ts_col),
    )


def missing_timestamps(
    df: DataFrame, rule: str, key_cols: list[str], ts_col: str = "TIMESTAMP"
) -> DataFrame:
    """Grid stamps absent from the data: LEFT ANTI JOIN. [G2]"""
    grid = expected_grid(df, rule, key_cols, ts_col)
    return grid.join(
        df.select(*key_cols, ts_col).dropDuplicates(),
        on=[*key_cols, ts_col],
        how="left_anti",
    )


def classify_gap_expr(
    length_minutes: Column, start: Column, end_exclusive: Column, short_gap_minutes: int
) -> Column:
    """Gap classification, replicating the reference's branch order
    (gaps.py:23-36): short → overnight (crosses calendar day) →
    long (dead code, kept for parity) → medium. [G4]"""
    return (
        F.when(length_minutes <= short_gap_minutes, F.lit("short_gap"))
        .when(F.to_date(start) != F.to_date(end_exclusive), F.lit("overnight_gap"))
        .when(length_minutes >= 24 * 60, F.lit("long_gap"))
        .otherwise(F.lit("medium_gap"))
    )


def gap_islands(
    missing: DataFrame,
    rule: str,
    key_cols: list[str],
    ts_col: str = "TIMESTAMP",
    short_gap_minutes: int = 5,
) -> DataFrame:
    """Cluster consecutive missing stamps into gap records. [G3+G4]

    Classic gaps-and-islands: for stamps on a fixed grid,
    ``bucket_index - row_number()`` is constant within a consecutive
    run. Output schema matches the reference's GapInfo (gaps.py:14-20):
    (keys..., start, end, end_exclusive, length_minutes, missing_count,
    classification) where ``end`` is the last missing stamp and
    ``end_exclusive = end + freq`` (the form reported by
    ``repair_gaps``, gaps.py:178).
    """
    step = offset_alias_to_seconds(rule)
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    bucketed = missing.withColumn(
        "_island",
        (F.unix_timestamp(ts_col) / step).cast("long") - F.row_number().over(w),
    )
    islands = bucketed.groupBy(*key_cols, "_island").agg(
        F.min(ts_col).alias("start"),
        F.max(ts_col).alias("end"),
        F.count("*").alias("missing_count"),
    )
    end_exclusive = F.col("end") + F.expr(f"INTERVAL {step} SECOND")
    # length = end - start + freq (gaps.py:80)
    length_minutes = (
        (F.unix_timestamp("end") - F.unix_timestamp("start") + step) / 60.0
    )
    return islands.select(
        *key_cols,
        "start",
        "end",
        end_exclusive.alias("end_exclusive"),
        length_minutes.alias("length_minutes"),
        "missing_count",
        classify_gap_expr(
            length_minutes, F.col("start"), end_exclusive, short_gap_minutes
        ).alias("classification"),
    )


def detect_gaps(
    df: DataFrame,
    rule: str,
    key_cols: list[str],
    ts_col: str = "TIMESTAMP",
    short_gap_minutes: int = 5,
) -> DataFrame:
    """Full gap detection: grid → anti-join → islands → classify.
    Returns one row per gap per key."""
    missing = missing_timestamps(df, rule, key_cols, ts_col)
    return gap_islands(missing, rule, key_cols, ts_col, short_gap_minutes)


def reindex_to_grid(
    df: DataFrame, rule: str, key_cols: list[str], ts_col: str = "TIMESTAMP"
) -> DataFrame:
    """Insert all-NULL rows at missing grid stamps: grid LEFT JOIN
    actual (pandas ``reindex``, gaps.py:148). [G5]"""
    grid = expected_grid(df, rule, key_cols, ts_col)
    return grid.join(df, on=[*key_cols, ts_col], how="left")


def forward_fill(
    df: DataFrame,
    cols: list[str],
    key_cols: list[str],
    ts_col: str = "TIMESTAMP",
) -> DataFrame:
    """Per-key forward fill: last non-null over unbounded-preceding
    frame (pandas ``ffill``, gaps.py:156). [G6]"""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumns(
        {c: F.last(c, ignorenulls=True).over(w) for c in cols if c in df.columns}
    )


def interpolate_linear(
    df: DataFrame,
    cols: list[str],
    key_cols: list[str],
    ts_col: str = "TIMESTAMP",
) -> DataFrame:
    """Per-key time-weighted linear interpolation with edge extension —
    pandas ``interpolate(method="linear", limit_direction="both")``
    (gaps.py:167-170) as pure window algebra (no UDF). [G7]

    For each NULL: prev/next non-null value+timestamp via
    last/first(ignorenulls) over unbounded frames, then
    ``prev + (next-prev) * (ts-prev_ts)/(next_ts-prev_ts)``.
    ``coalesce(value, interp, prev, next)`` reproduces
    limit_direction="both" (leading NULLs ← first valid, trailing ←
    last valid).

    Note: on a uniform grid (the repair path), index-linear and
    time-linear interpolation coincide, so this matches pandas exactly.

    Performance: BOTH window frames are *growing* frames
    (UNBOUNDED PRECEDING → CURRENT ROW), which Spark's WindowExec
    evaluates incrementally in O(n) per key. The "next non-null" is
    obtained by ordering the growing frame DESCENDING — never use
    ``rowsBetween(0, unboundedFollowing)``, whose shrinking frame is
    re-evaluated from scratch per row (O(n²): 294s vs 3s at 215k rows).
    """
    w_back = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ts_sec = F.unix_timestamp(ts_col).cast("double")
    # Build every column's expression in ONE projection so Catalyst
    # plans exactly two Window operators (one backward, one forward)
    # over a single per-key sort — not one pair per column.
    exprs: dict[str, Column] = {}
    for c in cols:
        if c not in df.columns:
            continue
        val = F.col(c)
        ts_if_valid = F.when(val.isNotNull(), ts_sec)
        prev_val = F.last(val, ignorenulls=True).over(w_back)
        prev_ts = F.last(ts_if_valid, ignorenulls=True).over(w_back)
        next_val = F.last(val, ignorenulls=True).over(w_fwd)
        next_ts = F.last(ts_if_valid, ignorenulls=True).over(w_fwd)
        interp = prev_val + (next_val - prev_val) * (ts_sec - prev_ts) / (
            next_ts - prev_ts
        )
        exprs[c] = F.coalesce(val, interp, prev_val, next_val)
    return df.withColumns(exprs)


def repair_gaps(
    df: DataFrame,
    rule: str,
    key_cols: list[str],
    ts_col: str = "TIMESTAMP",
    use_ffill_for: list[str] | None = None,
    interpolate_prices: bool = True,
) -> DataFrame:
    """Reindex to the expected grid and apply repair policies —
    composition parity with gaps.py:121-190 (G1-G8):
    ffill FIRST for *use_ffill_for* columns, THEN linear interpolation
    of price columns NOT in the ffill list.

    Returns the repaired frame only. The reference's report pieces are
    separate calls over frames: :func:`detect_gaps` lists the gaps, and
    ``data_quality_report`` over the returned frame gives its row and
    per-column NULL counts.
    """
    use_ffill_for = use_ffill_for if use_ffill_for is not None else ["VOLUME"]
    reindexed = reindex_to_grid(df, rule, key_cols, ts_col)

    if use_ffill_for:
        present = [c for c in use_ffill_for if c in reindexed.columns]
        reindexed = forward_fill(reindexed, present, key_cols, ts_col)

    price_cols = [c for c in PRICE_COLUMNS if c in reindexed.columns]
    if use_ffill_for:
        price_cols = [c for c in price_cols if c not in use_ffill_for]
    if interpolate_prices and price_cols:
        reindexed = interpolate_linear(reindexed, price_cols, key_cols, ts_col)
    return reindexed
