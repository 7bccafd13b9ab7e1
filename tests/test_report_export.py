"""DQ report, SMA, and export-layer tests (reference semantics:
reporting.py A4-A9/W1, exporter.py S7-S10/P6/P8-P9,
tests/test_phase7_export.py).
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from etl_finance_pipeline_spark.operators.report import data_quality_report, sma
from etl_finance_pipeline_spark.sources.exporter import (
    append_export_log,
    content_hash,
    derive_partition_columns,
    validate_for_export,
    write_parquet_with_metadata,
)

T0 = datetime(2024, 1, 2, 9, 0)


def _candles(spark, n=20, sym="X"):
    rows = [
        (sym, T0 + timedelta(minutes=5 * i), 10.0 + i, 20.0 + i, 5.0 + i, 15.0 + i)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, ["SYMBOL", "TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE"]
    )


def test_sma_matches_pandas_min_periods_1(spark):
    df = _candles(spark, 12)
    got = [
        r["SMA_10"]
        for r in sma(df, "CLOSE", 10, ["SYMBOL"]).orderBy("TIMESTAMP").collect()
    ]
    want = (
        pd.Series([15.0 + i for i in range(12)])
        .rolling(10, min_periods=1)
        .mean()
        .tolist()
    )
    assert got == pytest.approx(want)


def test_data_quality_report_fields(spark):
    rep = data_quality_report(_candles(spark, 20), ["SYMBOL"]).collect()[0]
    assert rep["rows"] == 20
    assert rep["start"] == T0
    assert rep["end"] == T0 + timedelta(minutes=95)
    assert rep["duplicate_timestamps"] == 0
    assert rep["mean_range"] == 15.0  # HIGH-LOW constant
    assert rep["close_min"] == 15.0 and rep["close_max"] == 34.0
    assert rep["close_median"] == 24.5  # exact median of 15..34
    assert rep["suspicious_price_jump"] is False
    assert rep["SMA_10_last"] == pytest.approx(
        pd.Series([15.0 + i for i in range(20)]).rolling(10, 1).mean().iloc[-1]
    )


def test_dq_outlier_heuristic(spark):
    df = _candles(spark, 10).withColumn(
        "CLOSE", F.when(F.col("OPEN") == 10.0, 1e6).otherwise(F.col("CLOSE"))
    )
    rep = data_quality_report(df, ["SYMBOL"], compute_indicators=False).collect()[0]
    assert rep["suspicious_price_jump"] is True


def test_validate_for_export_flags(spark):
    # row 0: O=10 H=20 L->18 C=15 — LOW above min(O,H,C)=10 but still
    # below HIGH, so only the low rule trips
    df = _candles(spark, 5).withColumn(
        "LOW", F.when(F.col("OPEN") == 10.0, 18.0).otherwise(F.col("LOW"))
    )
    rep = validate_for_export(df)
    assert rep["rows"] == 5
    assert rep["low_above_min"] == 1
    assert rep["high_below_max"] == 0
    assert rep["negative_OPEN"] == 0


def test_validate_requires_timestamp_type(spark):
    df = spark.createDataFrame([(1, 2.0)], ["TIMESTAMP", "OPEN"])
    with pytest.raises(ValueError, match="TimestampType"):
        validate_for_export(df)
    with pytest.raises(ValueError, match="missing"):
        validate_for_export(df.select("OPEN"))


def test_derive_partition_columns(spark):
    df = _candles(spark, 3)
    out, resolved = derive_partition_columns(df, ["Symbol", "year", "month"])
    assert resolved == ["SYMBOL", "YEAR", "MONTH"]
    row = out.select("YEAR", "MONTH").collect()[0]
    assert (row["YEAR"], row["MONTH"]) == (2024, 1)


def test_write_parquet_roundtrip(spark, tmp_path):
    df = _candles(spark, 20)
    out = str(tmp_path / "out")
    rep = write_parquet_with_metadata(
        df, out, partition_cols=["SYMBOL", "YEAR"], metadata={"tf": "5m"}
    )
    # partition dirs exist (Hive layout -> partition pruning on read)
    assert os.path.isdir(os.path.join(out, "SYMBOL=X", "YEAR=2024"))
    # sidecar metadata
    meta = json.load(open(out + ".meta.json"))
    assert meta["validation"]["rows"] == 20
    assert meta["user_metadata"] == {"tf": "5m"}
    assert rep["content_hash"] == meta["content_hash"]
    # roundtrip preserves data
    back = spark.read.parquet(out)
    assert back.count() == 20
    assert set(back.columns) >= {"TIMESTAMP", "OPEN", "CLOSE", "SYMBOL", "YEAR"}


def test_content_hash_changes_with_data(spark):
    c5, c6 = _candles(spark, 5), _candles(spark, 6)
    h1 = content_hash(c5, ["SYMBOL"], validate_for_export(c5))
    h2 = content_hash(c6, ["SYMBOL"], validate_for_export(c6))
    assert h1 != h2 and len(h1) == 64


def _two_symbols(spark, n=6):
    return _candles(spark, n, sym="AAA").unionByName(_candles(spark, n, sym="BBB"))


def test_content_hash_does_not_depend_on_partitioning(spark):
    """The hashed head is the earliest (TIMESTAMP, SYMBOL) rows, not
    whatever the first partition holds."""
    df = _two_symbols(spark)
    val = validate_for_export(df)
    layouts = [
        df.coalesce(1),
        df.repartition(3, "TIMESTAMP"),
        df.orderBy(F.desc("TIMESTAMP")).coalesce(1),
    ]
    hashes = {content_hash(d, ["TIMESTAMP", "SYMBOL"], val) for d in layouts}
    assert len(hashes) == 1


def test_validate_counts_duplicates_per_symbol(spark):
    """Stamps shared by different symbols are not duplicates; a repeated
    (SYMBOL, TIMESTAMP) is. Without SYMBOL the whole output is one key."""
    df = _two_symbols(spark)
    assert validate_for_export(df)["duplicate_timestamps"] == 0
    repeated = df.unionByName(df.filter(F.col("SYMBOL") == "AAA").limit(1))
    assert validate_for_export(repeated)["duplicate_timestamps"] == 1
    assert validate_for_export(df.drop("SYMBOL"))["duplicate_timestamps"] == 6


def test_export_delta_encodes_timestamps_and_reads_back(spark, tmp_path):
    """Exported files carry v2 data pages with a DELTA_BINARY_PACKED
    TIMESTAMP in every row group, and Spark, pyarrow and DuckDB read the
    same rows back."""
    import duckdb
    import pyarrow.parquet as pq

    df = _two_symbols(spark, 30)
    out = str(tmp_path / "delta")
    write_parquet_with_metadata(df, out, partition_cols=["SYMBOL", "YEAR"])

    files = glob.glob(f"{out}/**/*.parquet", recursive=True)
    assert files
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            chunks = [meta.row_group(g).column(i) for i in range(meta.num_columns)]
            ts = next(c for c in chunks if c.path_in_schema == "TIMESTAMP")
            assert "DELTA_BINARY_PACKED" in ts.encodings, (path, ts.encodings)

    cols = ["SYMBOL", "TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE"]

    def rows_of(frame):
        return sorted(
            tuple(r) for r in frame.select(
                "SYMBOL", F.unix_micros("TIMESTAMP"), *cols[2:]
            ).collect()
        )

    want = rows_of(df)
    assert rows_of(spark.read.parquet(out)) == want
    table = pq.read_table(out).select(cols)
    table = table.set_column(1, "TIMESTAMP", table.column("TIMESTAMP").cast("int64"))
    assert sorted(tuple(r.values()) for r in table.to_pylist()) == want
    got_duck = duckdb.sql(
        f"""SELECT SYMBOL, epoch_us(TIMESTAMP), OPEN, HIGH, LOW, CLOSE
            FROM read_parquet('{out}/**/*.parquet', hive_partitioning = true)"""
    ).fetchall()
    assert sorted(got_duck) == want


def test_failed_overwrite_leaves_no_stale_sidecar(spark, tmp_path):
    """A write that fails after Spark has cleared the old output must
    not leave the old sidecar claiming the old rows and hash."""
    out = str(tmp_path / "out")
    write_parquet_with_metadata(_candles(spark, 10), out)
    with open(out + ".meta.json") as fh:
        assert json.load(fh)["validation"]["rows"] == 10
    # validation and the hash never read NOTE, so only the write fails
    bad = _candles(spark, 10).withColumn("NOTE", F.raise_error(F.lit("boom")))
    with pytest.raises(PySparkException, match="boom"):
        write_parquet_with_metadata(bad, out)
    assert not os.path.exists(out + ".meta.json")


def test_empty_export_keeps_null_span(spark, tmp_path):
    """A 0-row frame has no time span: the sidecar, the export-log row
    and the hash payload carry JSON null, not the string "None"."""
    import hashlib

    empty = _candles(spark, 1).limit(0)
    out = str(tmp_path / "empty")
    rep = write_parquet_with_metadata(empty, out)
    with open(out + ".meta.json") as fh:
        meta = json.load(fh)
    assert meta["validation"]["rows"] == 0
    assert meta["validation"]["start"] is None and meta["validation"]["end"] is None
    payload = {"rows": 0, "min": None, "max": None, "head": []}
    want = hashlib.sha256(json.dumps(payload, sort_keys=True).encode()).hexdigest()
    assert rep["content_hash"] == want
    logs = str(tmp_path / "logs")
    append_export_log(logs, {"output": out, **rep["validation"]})
    with open(os.path.join(logs, "export_log.ndjson")) as fh:
        row = json.loads(fh.read())
    assert row["start"] is None and row["end"] is None


def test_append_export_log(tmp_path):
    d = str(tmp_path / "logs")
    append_export_log(d, {"a": 1})
    append_export_log(d, {"b": 2})
    lines = open(os.path.join(d, "export_log.ndjson")).read().splitlines()
    assert len(lines) == 2
    assert json.loads(lines[0]) == {"a": 1}


def test_vwap_cumulative(spark):
    from etl_finance_pipeline_spark.operators.report import vwap

    rows = [
        ("X", T0, 10.0, 100.0),
        ("X", T0 + timedelta(minutes=5), 20.0, 300.0),
    ]
    df = spark.createDataFrame(rows, ["SYMBOL", "TIMESTAMP", "CLOSE", "VOLUME"])
    out = vwap(df, key_cols=["SYMBOL"]).orderBy("TIMESTAMP").collect()
    assert out[0]["VWAP"] == pytest.approx(10.0)
    assert out[1]["VWAP"] == pytest.approx((10 * 100 + 20 * 300) / 400)


def test_bollinger_matches_pandas(spark):
    from etl_finance_pipeline_spark.operators.report import bollinger_bands

    closes = [10.0, 12.0, 11.0, 15.0, 13.0, 14.0, 9.0]
    rows = [("X", T0 + timedelta(minutes=5 * i), c) for i, c in enumerate(closes)]
    df = spark.createDataFrame(rows, ["SYMBOL", "TIMESTAMP", "CLOSE"])
    out = bollinger_bands(df, window_size=3, key_cols=["SYMBOL"]).orderBy(
        "TIMESTAMP"
    ).collect()
    s = pd.Series(closes)
    mid = s.rolling(3, min_periods=1).mean()
    sd = s.rolling(3, min_periods=1).std()
    for i, r in enumerate(out):
        assert r["BB_MID"] == pytest.approx(mid[i])
        if pd.isna(sd[i]):
            assert r["BB_UPPER"] is None
        else:
            assert r["BB_UPPER"] == pytest.approx(mid[i] + 2 * sd[i])
            assert r["BB_LOWER"] == pytest.approx(mid[i] - 2 * sd[i])


def test_partition_pruning_on_export_output(spark, tmp_path):
    """The partitioned layout must actually prune: a SYMBOL= filter
    on the read-back side shows up in the scan's partition filters
    and reads only that partition's files."""
    a = _candles(spark, 10, sym="AAA")
    b = _candles(spark, 10, sym="BBB")
    out = str(tmp_path / "pruned")
    write_parquet_with_metadata(
        a.unionByName(b), out, partition_cols=["SYMBOL", "YEAR"]
    )
    back = spark.read.parquet(out).filter(F.col("SYMBOL") == "AAA")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "SYMBOL#" in plan.split("PartitionFilters: [")[1].split("]")[0]
    assert back.count() == 10


def test_dq_exact_duplicate_timestamps_without_distinct_aggregate(spark):
    """Exact-mode duplicate_timestamps is count() − nunique() of the
    stamps per symbol (NULL stamps count in neither), and the plan holds
    no distinct aggregate."""
    t0 = datetime(2024, 1, 2, 9, 0)
    stamps = {
        "A": [t0, t0, t0 + timedelta(minutes=1), None, None],
        "B": [t0, t0 + timedelta(minutes=1), t0 + timedelta(minutes=2)],
        "C": [None, t0, t0],
    }
    rows = [
        (sym, ts, 1.0 + i, 2.0 + i, 0.5 + i, 1.5 + i, 10.0)
        for sym, series in stamps.items()
        for i, ts in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows,
        "SYMBOL string, TIMESTAMP timestamp, OPEN double, HIGH double, "
        "LOW double, CLOSE double, VOLUME double",
    )
    rep = data_quality_report(df, ["SYMBOL"])
    got = {r["SYMBOL"]: r["duplicate_timestamps"] for r in rep.collect()}
    pdf = pd.DataFrame(
        [(sym, ts) for sym, series in stamps.items() for ts in series],
        columns=["SYMBOL", "TIMESTAMP"],
    )
    g = pdf.groupby("SYMBOL")["TIMESTAMP"]
    assert got == (g.count() - g.nunique()).to_dict() == {"A": 1, "B": 0, "C": 1}
    plan = rep._jdf.queryExecution().executedPlan().toString().lower()
    assert "count(distinct" not in plan


def test_dq_report_approx_mode(spark):
    exact = data_quality_report(
        _candles(spark, 50), ["SYMBOL"], compute_indicators=False
    ).collect()[0]
    approx = data_quality_report(
        _candles(spark, 50), ["SYMBOL"], compute_indicators=False, approx=True
    ).collect()[0]
    assert approx["rows"] == exact["rows"]
    assert approx["duplicate_timestamps"] == 0
    # approx median within 5% of exact on this distribution
    assert abs(approx["close_median"] - exact["close_median"]) <= 0.05 * abs(
        exact["close_median"]
    )


def test_ewma_macd_matches_pandas(spark):
    """The applyInPandas EWMA/MACD kernel reproduces pandas ewm exactly
    per key, and the recursion respects time order even when input
    arrives shuffled."""
    import pandas as pd
    from datetime import datetime, timedelta

    from etl_finance_pipeline_spark.operators.report import ewma_macd

    t0 = datetime(2024, 1, 1)
    rows = []
    for sym, base in (("A", 100.0), ("B", 50.0)):
        for i in range(40):
            rows.append((sym, t0 + timedelta(minutes=i), base + ((i * 7) % 13) - 6.0))
    df = spark.createDataFrame(
        rows, "SYMBOL string, TIMESTAMP timestamp, CLOSE double"
    ).orderBy(F.rand(seed=1))  # shuffle arrival order
    out = ewma_macd(df, key_cols=["SYMBOL"]).toPandas()
    for sym in ("A", "B"):
        got = (
            out[out.SYMBOL == sym].sort_values("TIMESTAMP").reset_index(drop=True)
        )
        px = got["CLOSE"]
        fast = px.ewm(span=12, adjust=True).mean()
        slow = px.ewm(span=26, adjust=True).mean()
        macd = fast - slow
        signal = macd.ewm(span=9, adjust=True).mean()
        pd.testing.assert_series_equal(
            got["MACD"], macd.rename("MACD"), atol=1e-12, rtol=0
        )
        pd.testing.assert_series_equal(
            got["MACD_HIST"], (macd - signal).rename("MACD_HIST"), atol=1e-12, rtol=0
        )


def test_ewma_macd_keyless_guard_fires(spark, monkeypatch):
    """key_cols=None routes the whole frame through ONE pandas task;
    above the row guard the operator must refuse instead of silently
    serializing the corpus into one executor."""
    import pytest as _pytest

    import etl_finance_pipeline_spark.operators.report as report

    monkeypatch.setattr(report, "_KEYLESS_EWMA_MAX_ROWS", 10)
    df = spark.range(50).select(
        F.col("id").cast("timestamp").alias("TIMESTAMP"),
        (F.col("id") * 1.0).alias("CLOSE"),
    )
    with _pytest.raises(ValueError, match="one task"):
        report.ewma_macd(df, key_cols=None)
    # under the guard the keyless lane still works
    small = df.limit(5)
    assert report.ewma_macd(small, key_cols=None).count() == 5


def test_binned_quartile_profile_buckets_and_rollup(spark):
    """Bucket assignment is bin-granular integer arithmetic: 100 rows
    of value==bin*width split into 4 equal buckets, and per-bucket
    count/avg/min/max roll up from bin partials exactly."""
    from etl_finance_pipeline_spark.operators.report import (
        binned_quartile_profile,
    )

    df = spark.range(100).select(
        F.lit("g").alias("g"), (F.col("id") * 100.0).alias("v")
    )
    out = {
        r["bucket"]: r
        for r in binned_quartile_profile(df, "g", "v", bin_width=100.0).collect()
    }
    assert sorted(out) == [1, 2, 3, 4]
    # bucket 1 = TOP values: ids 75..99
    assert out[1]["n_rows"] == 25 and out[1]["max_value"] == 9900.0
    assert out[1]["min_value"] == 7500.0
    assert out[4]["min_value"] == 0.0 and out[4]["max_value"] == 2400.0
    assert out[4]["avg_value"] == sum(i * 100.0 for i in range(25)) / 25


def test_wilder_rsi_matches_pandas_reference(spark):
    """RSI kernel reproduces the hand-computed ewm(adjust=False)
    recursion, handles all-gain (100) and flat (50) prefixes, and
    leaves the first row NULL."""
    from datetime import datetime, timedelta

    from etl_finance_pipeline_spark.operators.report import wilder_rsi

    t0 = datetime(2024, 1, 1)
    closes = [100.0, 101.0, 102.0, 101.5, 101.5, 103.0]
    rows = [("A", t0 + timedelta(minutes=i), c) for i, c in enumerate(closes)]
    df = spark.createDataFrame(rows, "SYMBOL string, TIMESTAMP timestamp, CLOSE double")
    out = (
        wilder_rsi(df, key_cols=["SYMBOL"], n=14)
        .orderBy("TIMESTAMP")
        .collect()
    )
    assert out[0]["RSI"] is None
    # rows 1-2 are all-gain -> RSI 100
    assert out[1]["RSI"] == 100.0 and out[2]["RSI"] == 100.0
    # reference recursion
    import pandas as pd

    px = pd.Series(closes)
    d = px.diff()
    ag = d.clip(lower=0.0).iloc[1:].ewm(alpha=1 / 14, adjust=False).mean()
    al = (-d).clip(lower=0.0).iloc[1:].ewm(alpha=1 / 14, adjust=False).mean()
    want = 100.0 - 100.0 / (1.0 + ag.iloc[-1] / al.iloc[-1])
    assert abs(out[5]["RSI"] - want) < 1e-12


def test_wilder_rsi_flat_series_is_50(spark):
    from datetime import datetime, timedelta

    from etl_finance_pipeline_spark.operators.report import wilder_rsi

    t0 = datetime(2024, 1, 1)
    rows = [("A", t0 + timedelta(minutes=i), 5.0) for i in range(4)]
    df = spark.createDataFrame(rows, "SYMBOL string, TIMESTAMP timestamp, CLOSE double")
    out = wilder_rsi(df, key_cols=["SYMBOL"]).orderBy("TIMESTAMP").collect()
    assert [r["RSI"] for r in out[1:]] == [50.0, 50.0, 50.0]


def test_cusum_detects_level_shift(spark):
    """A mid-series level shift drives CUSUM_HIGH over the threshold;
    the pre-shift segment stays quiet (statistic clamped near zero)."""
    from datetime import datetime, timedelta

    from etl_finance_pipeline_spark.operators.report import cusum_monitor

    t0 = datetime(2024, 1, 1)
    closes = [100.0] * 30 + [110.0] * 30  # +10% shift at the midpoint
    rows = [("A", t0 + timedelta(minutes=i), c) for i, c in enumerate(closes)]
    df = spark.createDataFrame(rows, "SYMBOL string, TIMESTAMP timestamp, CLOSE double")
    out = cusum_monitor(df, key_cols=["SYMBOL"]).orderBy("TIMESTAMP").collect()
    # mu is the whole-series mean (105): the pre-shift segment sits
    # BELOW it, so the low-side statistic climbs and alarms; after the
    # shift the low side drains back to zero while the high side
    # climbs and alarms — the signature of a level shift
    assert out[0]["ALARM"] is False  # one sample is not enough
    assert out[29]["CUSUM_LOW"] > out[0]["CUSUM_LOW"]
    assert out[29]["CUSUM_HIGH"] == 0.0
    assert out[-1]["CUSUM_LOW"] == 0.0
    assert out[-1]["CUSUM_HIGH"] > 100.0
    assert all(r["ALARM"] for r in out[-20:])
