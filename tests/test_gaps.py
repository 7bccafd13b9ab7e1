"""Gap engine tests — reference semantics from
/root/reference/tests/test_phase8_gaps.py plus interpolation parity
with pandas interpolate(method='linear', limit_direction='both').
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import functions as F

from etl_finance_pipeline_spark.operators.gaps import (
    classify_gap_expr,
    detect_gaps,
    expected_grid,
    forward_fill,
    interpolate_linear,
    missing_timestamps,
    reindex_to_grid,
    repair_gaps,
)

T0 = datetime(2024, 1, 2, 9, 0)


def _series(spark, minutes, sym="X"):
    rows = [(sym, T0 + timedelta(minutes=m), 100.0 + m) for m in minutes]
    return spark.createDataFrame(rows, ["SYMBOL", "TIMESTAMP", "CLOSE"])


def test_expected_grid_complete(spark):
    df = _series(spark, [0, 9])
    grid = expected_grid(df, "1T", ["SYMBOL"])
    assert grid.count() == 10


def test_missing_timestamps_anti_join(spark):
    df = _series(spark, [0, 1, 2, 5, 6, 7, 8, 9])  # 3,4 missing
    miss = missing_timestamps(df, "1T", ["SYMBOL"])
    got = sorted(r["TIMESTAMP"] for r in miss.collect())
    assert got == [T0 + timedelta(minutes=3), T0 + timedelta(minutes=4)]


def test_detect_gaps_islands_and_classification(spark):
    # two islands: minutes 3-4 (short) and 20-40 (medium at threshold 5)
    present = [0, 1, 2, 5, 6, 7, 8, 9] + list(range(10, 20)) + list(range(41, 45))
    df = _series(spark, present)
    gaps = detect_gaps(df, "1T", ["SYMBOL"], short_gap_minutes=5).orderBy("start")
    rows = gaps.collect()
    assert len(rows) == 2
    g1, g2 = rows
    assert g1["missing_count"] == 2 and g1["classification"] == "short_gap"
    assert g1["length_minutes"] == 2.0
    assert g2["missing_count"] == 21 and g2["classification"] == "medium_gap"


def test_gap_classification_overnight_beats_long(spark):
    """Reference branch order: a 2-day gap crossing midnight classifies
    as overnight_gap — long_gap is dead code (SURVEY §2.5 G4)."""
    df = spark.range(1).select(
        F.lit(2880.0).alias("len_min"),
        F.lit(datetime(2024, 1, 1, 12, 0)).alias("s"),
        F.lit(datetime(2024, 1, 3, 12, 0)).alias("e"),
    )
    got = df.select(
        classify_gap_expr(F.col("len_min"), F.col("s"), F.col("e"), 5).alias("c")
    ).collect()[0]["c"]
    assert got == "overnight_gap"


def test_reindex_and_ffill(spark):
    df = _series(spark, [0, 1, 4]).withColumn("VOLUME", F.col("CLOSE") * 10)
    re = reindex_to_grid(df, "1T", ["SYMBOL"])
    assert re.count() == 5
    ff = forward_fill(re, ["VOLUME"], ["SYMBOL"]).orderBy("TIMESTAMP")
    vols = [r["VOLUME"] for r in ff.collect()]
    assert vols == [1000.0, 1010.0, 1010.0, 1010.0, 1040.0]


def test_interpolate_matches_pandas(spark):
    # gap in the middle + leading/trailing NULLs (limit_direction=both)
    ts = [T0 + timedelta(minutes=m) for m in range(8)]
    vals = [None, None, 10.0, None, None, 16.0, None, None]
    sdf = spark.createDataFrame(
        [("X", t, v) for t, v in zip(ts, vals)], ["SYMBOL", "TIMESTAMP", "CLOSE"]
    )
    got = [
        r["CLOSE"]
        for r in interpolate_linear(sdf, ["CLOSE"], ["SYMBOL"])
        .orderBy("TIMESTAMP")
        .collect()
    ]
    want = (
        pd.Series(vals, dtype="float64")
        .interpolate(method="linear", limit_direction="both")
        .tolist()
    )
    assert got == want  # [10,10,10,12,14,16,16,16]


def test_repair_gaps_full_composition(spark):
    from etl_finance_pipeline_spark.operators.report import data_quality_report

    df = (
        _series(spark, [0, 1, 2, 5, 6, 7, 8, 9])
        .withColumn("OPEN", F.col("CLOSE") - 0.5)
        .withColumn("VOLUME", F.lit(7.0))
    )
    repaired = repair_gaps(df, "1T", ["SYMBOL"])
    dq = data_quality_report(repaired, compute_indicators=False).collect()[0]
    assert dq["rows"] == 10
    # VOLUME forward-filled, prices interpolated -> no NULLs remain
    assert dq["nulls_VOLUME"] == 0
    assert dq["nulls_CLOSE"] == 0
    assert dq["nulls_OPEN"] == 0
    gaps = detect_gaps(df, "1T", ["SYMBOL"]).collect()
    assert len(gaps) == 1
    assert gaps[0]["missing_count"] == 2
    # interpolated CLOSE at minute 3: between 102 and 105 -> 103
    row = repaired.filter(
        F.col("TIMESTAMP") == T0 + timedelta(minutes=3)
    ).collect()[0]
    assert abs(row["CLOSE"] - 103.0) < 1e-9
    assert row["VOLUME"] == 7.0


def test_gap_engine_empty_frame(spark):
    df = spark.createDataFrame(
        [], "SYMBOL string, TIMESTAMP timestamp, CLOSE double"
    )
    assert detect_gaps(df, "1T", ["SYMBOL"]).count() == 0
    assert reindex_to_grid(df, "1T", ["SYMBOL"]).count() == 0
    assert interpolate_linear(df, ["CLOSE"], ["SYMBOL"]).count() == 0
