"""Normalization layer tests — ports of the reference's observable
semantics (rename rules, protected columns, required-column errors,
coercion counts, keep-first dedupe, tz policy incl. ambiguous-DST NaT).
Reference assertions: /root/reference/tests/test_phase5_normalization.py,
test_timezone_normalize.py.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from etl_finance_pipeline_spark.operators.normalize import (
    build_rename_map,
    detect_datetime_column,
    enforce_dtypes,
    normalize_columns,
    normalize_datetime,
    normalize_df,
    remove_duplicates,
    validate_required_columns,
)


def test_rename_exact_and_case_insensitive():
    m = build_rename_map(["open", "High", "LOW", "close", "datetime"])
    assert m == {
        "open": "OPEN",
        "High": "HIGH",
        "LOW": "LOW",  # renamed to canonical (same letters, canonical case)
        "close": "CLOSE",
        "datetime": "TIMESTAMP",
    } or m.get("LOW") is None  # exact-case match may be skipped
    # canonical columns map to themselves or are left alone
    assert m["open"] == "OPEN"
    assert m["datetime"] == "TIMESTAMP"


def test_rename_prefix_suffix():
    m = build_rename_map(["open_ask", "bid_close", "volume_real"])
    assert m["open_ask"] == "OPEN"  # variant_ prefix: open_*
    assert m["bid_close"] == "CLOSE"  # _variant suffix: *_close
    assert m["volume_real"] == "VOLUME"


def test_rename_protected_never_renamed():
    m = build_rename_map(["symbol", "Ticker", "PAIR", "instrument", "open"])
    for c in ("symbol", "Ticker", "PAIR", "instrument"):
        assert c not in m
    assert m["open"] == "OPEN"


def test_rename_first_claim_wins():
    # two candidates for OPEN — only the first column claims it
    m = build_rename_map(["o", "price_open"])
    assert m["o"] == "OPEN"
    assert "price_open" not in m


def test_validate_required_raises_with_names(spark):
    df = spark.createDataFrame([(1.0,)], ["OPEN"])
    with pytest.raises(ValueError, match="HIGH"):
        validate_required_columns(df, ["OPEN", "HIGH"])


def test_normalize_columns_is_pure_projection(spark):
    df = spark.createDataFrame([("2024-01-01", 1.0)], ["time", "o"])
    out = normalize_columns(df)
    assert set(out.columns) == {"TIMESTAMP", "OPEN"}


def test_enforce_dtypes_coercion_counts(spark):
    df = spark.createDataFrame(
        [("1.5", "x"), ("2.0", "3"), (None, "bad")], ["OPEN", "CLOSE"]
    )
    out = enforce_dtypes(df)
    types = dict(out.dtypes)
    assert types["OPEN"] == "double" and types["CLOSE"] == "double"
    r = out.agg(
        *[F.sum(F.col(f"_coerced_{c}").cast("long")).alias(c) for c in ("OPEN", "CLOSE")]
    ).collect()[0]
    assert r["OPEN"] == 0  # null stays null, not a coercion
    assert r["CLOSE"] == 2  # "x" and "bad"


def test_remove_duplicates_keep_first(spark):
    df = spark.createDataFrame(
        [
            ("A", 1, 10.0, 1),
            ("A", 1, 20.0, 2),  # dup key, later arrival -> dropped
            ("A", 2, 30.0, 3),
            ("B", 1, 40.0, 4),
        ],
        ["sym", "ts", "val", "seq"],
    )
    out = remove_duplicates(df, ["sym", "ts"], order_by=["seq"]).orderBy("seq")
    rows = [(r.sym, r.ts, r.val) for r in out.collect()]
    assert rows == [("A", 1, 10.0), ("A", 2, 30.0), ("B", 1, 40.0)]


def test_detect_datetime_column(spark):
    df = spark.createDataFrame([(1, "2024-01-01")], ["id", "Date"])
    assert detect_datetime_column(df) == "Date"
    df2 = spark.createDataFrame([(1,)], ["id"])
    with pytest.raises(ValueError):
        detect_datetime_column(df2)


def test_normalize_datetime_string_coercion(spark):
    df = spark.createDataFrame(
        [("2024-01-02 03:04:05",), ("not a date",)], ["TIMESTAMP"]
    )
    out, rep = normalize_datetime(df)
    vals = [r[0] for r in out.select("TIMESTAMP").collect()]
    assert datetime(2024, 1, 2, 3, 4, 5) in vals
    assert None in vals
    assert rep["needs_review"] is True  # no source_tz -> assumed UTC


def test_normalize_datetime_tz_localize(spark):
    # 12:00 New York winter = 17:00 UTC
    df = spark.createDataFrame([("2024-01-15 12:00:00",)], ["TIMESTAMP"])
    out, rep = normalize_datetime(df, source_tz="America/New_York")
    got = out.select("TIMESTAMP").collect()[0][0]
    assert got == datetime(2024, 1, 15, 17, 0, 0)
    assert rep["needs_review"] is False


def test_normalize_datetime_ambiguous_dst_is_nulled(spark):
    # US fall-back 2021-11-07: wall clock 01:30 occurs twice -> NaT policy
    df = spark.createDataFrame(
        [("2021-11-07 01:30:00",), ("2021-11-07 03:00:00",)], ["TIMESTAMP"]
    )
    out, _ = normalize_datetime(df, source_tz="America/New_York")
    vals = dict(
        zip(("ambiguous", "ok"), [r[0] for r in out.select("TIMESTAMP").collect()])
    )
    assert vals["ambiguous"] is None
    assert vals["ok"] == datetime(2021, 11, 7, 8, 0, 0)


def test_normalize_datetime_nonexistent_flagged(spark):
    # US spring-forward 2021-03-14: 02:30 does not exist
    df = spark.createDataFrame([("2021-03-14 02:30:00",)], ["TIMESTAMP"])
    out, _ = normalize_datetime(df, source_tz="America/New_York")
    row = out.collect()[0]
    assert row["_dst_nonexistent"] is True


def test_normalize_df_composition(spark):
    df = spark.createDataFrame(
        [
            ("EURUSD", "2024-01-01 00:00:00", "1.10", 2.0, 1.0, 1.5, 10.0, 1),
            ("EURUSD", "2024-01-01 00:00:00", "1.20", 2.0, 1.0, 1.5, 10.0, 2),
            ("EURUSD", "2024-01-01 00:01:00", "oops", 2.0, 1.0, 1.5, 10.0, 3),
        ],
        ["symbol", "time", "open", "high", "low", "close", "vol", "seq"],
    )
    res = normalize_df(
        df.withColumnRenamed("symbol", "SYMBOL"), dedupe_order=[F.col("seq")]
    )
    assert res.df.count() == 2  # dup ts removed, keep-first
    assert res.report["rows_before_dedupe"] == 3
    assert res.report["coercions"]["coerced_OPEN"] == 1  # "oops"
    kept = res.df.filter(F.col("seq") == 1).collect()
    assert len(kept) == 1 and abs(kept[0]["OPEN"] - 1.10) < 1e-12


def test_normalize_df_report_is_one_action(spark, monkeypatch):
    """The whole report (rows, timestamp and numeric coercions, the
    offset-less refinement of needs_review) is one aggregate observed on
    the first action over the result: normalize_df itself runs no
    action, ``.report`` on a frame no action has touched costs exactly
    one, and ``.report`` after an action over ``res.df`` starts no job."""
    df = spark.createDataFrame(
        [
            ("EURUSD", "2024-01-01 00:00:00", "1.10", 1),
            ("EURUSD", "2024-01-01 00:00:00", "1.20", 2),
            ("EURUSD", "2024-01-01 00:01:00", "oops", 3),
            ("EURUSD", "not a stamp", "1.30", 4),
            ("EURUSD", None, None, 5),
        ],
        ["SYMBOL", "time", "open", "seq"],
    ).withColumns({c: F.lit(1.0) for c in ("high", "low", "close")})
    expected = {
        "timezone": {
            "needs_review": True,  # offset-less stamps were assumed UTC
            "source_tz": "UTC(assumed)",
            "target_tz": "UTC",
        },
        "rows_before_dedupe": 5,
        "ts_coerced_to_null": 1,  # "not a stamp"; the NULL stamp is not counted
        "coercions": {
            "coerced_OPEN": 1,  # "oops"; the NULL price is not counted
            "coerced_HIGH": 0,
            "coerced_LOW": 0,
            "coerced_CLOSE": 0,
        },
    }
    frame_cls = type(df)  # the concrete (classic) DataFrame class
    calls = []
    for name in ("collect", "count"):

        def counting(self, _real=getattr(frame_cls, name), _name=name):
            calls.append(_name)
            return _real(self)

        monkeypatch.setattr(frame_cls, name, counting)
    sc = spark.sparkContext
    groups = iter(range(3))

    def jobs_of(thunk):
        """(result, Spark jobs started) of *thunk* under its own job group."""
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        group = f"normalize-report-{next(groups)}"
        sc.setJobGroup(group, "normalize report test")
        try:
            out = thunk()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    res, jobs = jobs_of(lambda: normalize_df(df, dedupe_order=[F.col("seq")]))
    assert jobs == 0 and calls == []  # normalize_df runs no action
    report, jobs = jobs_of(lambda: res.report)
    assert calls == ["count"] and jobs > 0  # one action computes it
    assert report == expected
    assert res.report is report  # read once, kept
    assert not any(c.startswith(("_coerced_", "_ts_")) for c in res.df.columns)

    # an action over the result observes the report in passing
    res = normalize_df(df, dedupe_order=[F.col("seq")])
    # one row per (SYMBOL, TIMESTAMP): the two NULL stamps share a key
    assert len(res.df.collect()) == 3
    calls.clear()
    report, jobs = jobs_of(lambda: res.report)
    assert jobs == 0 and calls == []
    assert report == expected


def test_remove_duplicates_window_strategy_equivalent(spark):
    rows = [("A", 1, 10.0, 2), ("A", 1, 20.0, 1), ("B", 2, 30.0, 3)]
    df = spark.createDataFrame(rows, ["sym", "ts", "val", "seq"])
    agg = sorted(map(tuple, remove_duplicates(df, ["sym", "ts"], ["seq"]).collect()))
    win = sorted(
        map(
            tuple,
            remove_duplicates(df, ["sym", "ts"], ["seq"], strategy="window").collect(),
        )
    )
    assert agg == win == [("A", 1, 20.0, 1), ("B", 2, 30.0, 3)]


def test_remove_duplicates_multi_order_cols(spark):
    # composite (struct) ordering key — ties on the first order col
    rows = [("A", 1, 10.0, 5, 2), ("A", 1, 20.0, 5, 1), ("A", 1, 30.0, 4, 9)]
    df = spark.createDataFrame(rows, ["sym", "ts", "val", "o1", "o2"])
    out = remove_duplicates(df, ["sym", "ts"], ["o1", "o2"]).collect()
    assert len(out) == 1
    assert out[0]["val"] == 30.0  # (4, 9) < (5, 1) < (5, 2)


def test_snapshot_diff_classifies_all_change_types(spark):
    from etl_finance_pipeline_spark.operators.normalize import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged -> omitted
         (2, "b", 21.0),        # changed value
         (3, "c", None),        # NULL == NULL -> unchanged, omitted
         (5, "e", 50.0)],       # added; 4 removed
        "k long, name string, v double",
    )
    got = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {2: "changed", 4: "removed", 5: "added"}


def test_snapshot_diff_null_to_value_counts_as_change(spark):
    from etl_finance_pipeline_spark.operators.normalize import snapshot_diff

    old = spark.createDataFrame([(1, None)], "k long, v double")
    new = spark.createDataFrame([(1, 7.0)], "k long, v double")
    got = snapshot_diff(old, new, ["k"]).collect()
    assert got[0]["change_type"] == "changed"


# --------------------------------------------------------------------
# Reference-fixture regression pack (FIXTURES.md F1-F4): the
# reference's tests/test_transform_normalize.py ships 5 tests whose
# CSV fixtures are .gitignored out of the repo (they fail with
# FileNotFoundError from a fresh checkout). The frames below are the
# FIXTURES.md reconstructions from the test assertions + default
# config, asserting the same test intent through this engine's
# normalize_df.
# --------------------------------------------------------------------


def _fixture_ok_rows():
    # F1 sample_ok.csv: tz-naive 1-min unique stamps, valid OHLCV
    return [
        ("2024-01-01 00:0%d:00" % i, 1.1000 + i / 1e4, 1.1010 + i / 1e4,
         1.0995 + i / 1e4, 1.1005 + i / 1e4, 100.0 + i)
        for i in range(5)
    ]


def test_fixture_sample_ok_normalizes(spark):
    """F1 / reference test_normalize_ok + test_normalization_report_
    exists (tests/test_transform_normalize.py:17-48): synonym rename
    to the canonical schema, timestamp parsed tz-aware (UTC), OHLC
    numeric, no duplicate stamps, and a normalization report with
    dtype/coercion content."""
    df = spark.createDataFrame(
        _fixture_ok_rows(),
        ["timestamp", "open", "high", "low", "close", "volume"],
    )
    res = normalize_df(df)
    out = res.df
    for col in ("OPEN", "HIGH", "LOW", "CLOSE"):
        assert col in out.columns
        assert dict(out.dtypes)[col] == "double"
    # tz-aware UTC-internal timestamp column, unique
    assert dict(out.dtypes)["TIMESTAMP"].startswith("timestamp")
    rows = out.orderBy("TIMESTAMP").collect()
    assert len(rows) == 5
    assert len({r["TIMESTAMP"] for r in rows}) == 5
    # the report carries the dtype/coercion evidence the reference
    # asserts under "columns"/"dtypes"
    assert res.report["rows_before_dedupe"] == 5
    assert all(v == 0 for v in res.report["coercions"].values())


def test_fixture_sample_duplicates_keep_first(spark):
    """F2 / reference test_remove_duplicates (:52-60): 3 rows with
    one duplicated timestamp -> exactly 2 remain, and the FIRST
    occurrence's values win."""
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", 1.10, 1.11, 1.09, 1.105, 100.0, 1),
            ("2024-01-01 00:00:00", 9.99, 9.99, 9.99, 9.990, 999.0, 2),
            ("2024-01-01 00:01:00", 1.11, 1.12, 1.10, 1.115, 101.0, 3),
        ],
        ["timestamp", "open", "high", "low", "close", "volume", "seq"],
    )
    res = normalize_df(df, dedupe_order=[F.col("seq")])
    assert res.df.count() == 2
    kept = {r["seq"] for r in res.df.collect()}
    assert kept == {1, 3}  # keep-first: seq 2 (the later dup) dropped


def test_fixture_sample_tzaware_parses_offsets(spark):
    """F3 / reference test_tzaware (:64-72): timestamp strings carry
    explicit UTC offsets and source_tz=None — the parsed column is
    tz-aware (UTC-internal) honoring each row's own offset."""
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00+02:00", 1.10, 1.11, 1.09, 1.105, 100.0),
            ("2024-01-01 01:00:00+02:00", 1.11, 1.12, 1.10, 1.115, 101.0),
        ],
        ["timestamp", "open", "high", "low", "close", "volume"],
    )
    res = normalize_df(df, source_tz=None, target_tz="UTC")
    rows = res.df.orderBy("TIMESTAMP").collect()
    assert len(rows) == 2
    # +02:00 offset honored: 00:00+02:00 == 22:00 UTC the day before
    assert rows[0]["TIMESTAMP"].strftime("%Y-%m-%d %H:%M") == "2023-12-31 22:00"
    # tz-aware assumption satisfied without the needs_review flag the
    # assumed-UTC path raises
    assert not res.report["timezone"].get("needs_review", False)


def test_fixture_sample_strings_coerce_to_null(spark):
    """F4 / reference test_string_close_becomes_nan (:76-84): a
    non-numeric CLOSE string coerces to NULL (pandas NaN analog), is
    counted in the coercion report, and the row survives."""
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", 1.10, 1.11, 1.09, "abc", 100.0),
            ("2024-01-01 00:01:00", 1.11, 1.12, 1.10, "1.115", 101.0),
        ],
        ["timestamp", "open", "high", "low", "close", "volume"],
    )
    res = normalize_df(df)
    rows = {r["TIMESTAMP"].strftime("%H:%M"): r for r in res.df.collect()}
    assert len(rows) == 2
    assert rows["00:00"]["CLOSE"] is None
    assert abs(rows["00:01"]["CLOSE"] - 1.115) < 1e-12
    assert res.report["coercions"]["coerced_CLOSE"] == 1
