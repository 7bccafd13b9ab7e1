"""End-to-end pipeline test: raw CSV directory → normalized, gap-
repaired, resampled, partitioned parquet + reports (reference
composition run.py:60-253)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_finance_pipeline_spark.config import EngineConfig
from etl_finance_pipeline_spark.plans.pipeline import (
    infer_symbol,
    run_pipeline,
    tf_label,
)


def test_tf_label():
    assert tf_label("5T") == "5m"
    assert tf_label("1H") == "1H"
    assert tf_label("15T") == "15m"


def _cfg(tmp_path, timeframes):
    return EngineConfig.model_validate(
        {
            "paths": {
                "raw_path": str(tmp_path / "raw"),
                "processed_path": str(tmp_path / "processed"),
                "reports_path": str(tmp_path / "reports"),
                "logs_path": str(tmp_path / "logs"),
            },
            "resample": {"timeframes": timeframes},
        }
    )


def _write_raw(tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    # EURUSD minutes 0,1,2,5 (gap at 3-4), duplicate at minute 1
    lines = ["time,open,high,low,close,volume"]
    for m, o in [(0, 1.0), (1, 1.1), (1, 9.9), (2, 1.2), (5, 1.5)]:
        lines.append(f"2024-01-02 09:0{m}:00,{o},{o + 0.1},{o - 0.1},{o},100")
    (raw / "EURUSD_2024.csv").write_text("\n".join(lines) + "\n")
    (raw / "notes.txt").write_text("not a data file")
    return raw


def test_infer_symbol_from_filename(spark, tmp_path):
    _write_raw(tmp_path)
    df = spark.read.option("header", True).csv(
        str(tmp_path / "raw" / "EURUSD_2024.csv")
    ).withColumn("_source_file", F.input_file_name())
    out = infer_symbol(df)
    assert out.select("SYMBOL").distinct().collect()[0][0] == "EURUSD"


def test_run_pipeline_end_to_end(spark, tmp_path):
    _write_raw(tmp_path)
    cfg = _cfg(tmp_path, ["1T", "5T"])
    res = run_pipeline(spark, cfg, dry_run=False)

    # unsupported file quarantined
    assert [os.path.basename(q["file"]) for q in res.quarantined] == ["notes.txt"]

    # outputs written per timeframe with reference naming
    assert sorted(os.path.basename(p) for p in res.outputs) == [
        "candles_1m",
        "candles_5m",
    ]

    # 1m output: full grid 09:00-09:05 = 6 rows, keep-first dedupe
    # (minute 1 keeps open=1.1), gap minutes 3-4 interpolated
    one_m = spark.read.parquet(res.outputs[0])
    rows = {r["TIMESTAMP"].minute: r for r in one_m.collect()}
    assert len(rows) == 6
    assert rows[1]["OPEN"] == pytest.approx(1.1)
    assert rows[3]["CLOSE"] == pytest.approx(1.2 + (1.5 - 1.2) / 3)
    assert rows[3]["VOLUME"] == 100.0  # ffill
    # partitioned by SYMBOL/YEAR (Hive layout)
    assert os.path.isdir(
        os.path.join(res.outputs[0], "SYMBOL=EURUSD", "YEAR=2024")
    )

    # 5m output: buckets 09:00 and 09:05
    five_m = spark.read.parquet(res.outputs[1])
    assert five_m.count() == 2

    # reports + logs
    dq = json.load(open(tmp_path / "reports" / "dq_report.json"))
    assert dq[0]["SYMBOL"] == "EURUSD"
    log_lines = open(tmp_path / "logs" / "export_log.ndjson").read().splitlines()
    assert len(log_lines) == 2
    # sidecar metadata per output
    assert os.path.exists(res.outputs[0] + ".meta.json")


def test_run_pipeline_dry_run_writes_nothing(spark, tmp_path):
    _write_raw(tmp_path)
    cfg = _cfg(tmp_path, [])
    res = run_pipeline(spark, cfg, dry_run=True)
    assert res.outputs == []
    assert not os.path.exists(tmp_path / "processed")
    assert res.reports["dry_run_raw"]["rows"] == 6  # repaired 1T grid


def test_run_pipeline_with_source_tz(spark, tmp_path):
    """tz priority: explicit source_tz localizes naive stamps before
    UTC storage (run.py:327-330 parity)."""
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "USDJPY_2024.csv").write_text(
        "time,open,high,low,close,volume\n"
        "2024-01-15 12:00:00,1,2,0.5,1.5,10\n"
    )
    cfg = _cfg(tmp_path, [])
    res = run_pipeline(spark, cfg, dry_run=False, source_tz="America/New_York")
    out = spark.read.parquet(res.outputs[0]).collect()[0]
    # 12:00 EST == 17:00 UTC
    assert out["TIMESTAMP"].hour == 17


def test_run_pipeline_many_symbols(spark, tmp_path):
    """Per-key scale path: 30 instruments in one run, one DataFrame —
    every stage keyed by SYMBOL, outputs partitioned per symbol."""
    raw = tmp_path / "raw"
    raw.mkdir()
    for i in range(30):
        sym = f"SYM{i:02d}"
        lines = ["time,open,high,low,close,volume"]
        for m in range(0, 10, 2):  # gappy minute series
            px = 100 + i + m / 10
            lines.append(f"2024-01-02 09:0{m}:00,{px},{px+1},{px-1},{px},50")
        (raw / f"{sym}_2024.csv").write_text("\n".join(lines) + "\n")
    cfg = _cfg(tmp_path, ["5T"])
    res = run_pipeline(spark, cfg, dry_run=False)
    out = spark.read.parquet(res.outputs[0])
    assert out.select("SYMBOL").distinct().count() == 30
    # every symbol produced both 5-minute buckets
    counts = {r["SYMBOL"]: r["n"] for r in out.groupBy("SYMBOL").agg(
        F.count("*").alias("n")).collect()}
    assert set(counts.values()) == {2}
    assert len(json.load(open(tmp_path / "reports" / "dq_report.json"))) == 30


# --------------------------------------------------------------------
# Shuffle fusion: one upfront repartition(SYMBOL) serves every
# downstream distribution requirement
# --------------------------------------------------------------------

def _fused_chain(spark, fuse: bool):
    from etl_finance_pipeline_spark.operators.gaps import repair_gaps
    from etl_finance_pipeline_spark.operators.normalize import remove_duplicates
    from etl_finance_pipeline_spark.operators.resample import resample_ohlc

    rows = []
    for sym in ("EURUSD", "GBPUSD", "USDJPY"):
        for m in (0, 1, 1, 2, 5, 6):  # dup at minute 1, gap at 3-4
            rows.append((sym, f"2024-01-02 09:{m:02d}:00", 1.0 + m, 100.0))
    df = spark.createDataFrame(
        rows, "SYMBOL string, TIMESTAMP string, CLOSE double, VOLUME double"
    ).withColumn("TIMESTAMP", F.to_timestamp("TIMESTAMP"))
    df = df.withColumn("_seq", F.monotonically_increasing_id())
    if fuse:
        df = df.repartition("SYMBOL")
    dd = remove_duplicates(df, ["SYMBOL", "TIMESTAMP"], ["_seq"]).drop("_seq")
    repaired = repair_gaps(dd, "1T", ["SYMBOL"], use_ffill_for=["VOLUME", "CLOSE"])
    return resample_ohlc(
        repaired.withColumn("OPEN", F.col("CLOSE"))
        .withColumn("HIGH", F.col("CLOSE"))
        .withColumn("LOW", F.col("CLOSE")),
        "5T",
        ["SYMBOL"],
        drop_incomplete=False,
    )


def test_symbol_fusion_single_exchange(spark):
    """With hash(SYMBOL) established once up front (and
    requireAllClusterKeysForCoPartition=false so the grid join accepts
    subset co-partitioning), dedupe agg, gap windows, grid join and
    candle agg all reuse it: ZERO optimizer-injected
    (ENSURE_REQUIREMENTS) hash exchanges — every Exchange in the plan
    is the single declared REPARTITION_BY_COL (it prints once per
    consuming branch; the pipeline's cache executes it once). The
    unfused chain needs several injected shuffles."""
    import re

    injected = re.compile(r"Exchange hashpartitioning[^\n]*ENSURE_REQUIREMENTS")
    res = _fused_chain(spark, fuse=True)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert not injected.search(plan), plan
    unfused_plan = (
        _fused_chain(spark, fuse=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(injected.findall(unfused_plan)) >= 3, unfused_plan
    # and it computes the same candles as the unfused chain
    fused = {tuple(r) for r in res.collect()}
    unfused = {tuple(r) for r in _fused_chain(spark, fuse=False).collect()}
    assert fused == unfused and len(fused) > 0


def _above_cache_scans(plan: str) -> str:
    """*plan*'s tree string without the cached plans printed under each
    InMemoryTableScan, i.e. only the operators a read of the cache runs."""
    kept, skip_deeper_than = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if skip_deeper_than is not None and indent > skip_deeper_than:
            continue
        skip_deeper_than = indent if "InMemoryTableScan" in line else None
        kept.append(line)
    return "\n".join(kept)


def test_pipeline_one_partitioning_path(spark, tmp_path, monkeypatch):
    """run_pipeline caches the normalized frame hash-partitioned by
    SYMBOL: its dedupe is a HashAggregate (no scan-time string columns
    are carried into it), and no timeframe lane adds a hash exchange of
    its own above the cache."""
    import re

    from etl_finance_pipeline_spark.plans import pipeline

    real_persist = pipeline.scoped_persist
    persisted: list[tuple[list[str], str]] = []

    def spy_persist(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        persisted.append((df.columns, plan))
        return real_persist(df)

    monkeypatch.setattr(pipeline, "scoped_persist", spy_persist)
    raw = tmp_path / "raw"
    raw.mkdir()
    for i, sym in enumerate(("EURUSD", "GBPUSD", "USDJPY")):
        lines = ["time,open,high,low,close,volume"]
        for m, o in [(0, 1.0), (1, 1.1), (1, 9.9), (2, 1.2), (5, 1.5)]:
            o += i
            lines.append(f"2024-01-02 09:0{m}:00,{o},{o + 0.1},{o - 0.1},{o},100")
        (raw / f"{sym}_2024.csv").write_text("\n".join(lines) + "\n")
    run_pipeline(spark, _cfg(tmp_path, ["1T", "5T"]), dry_run=False)

    (norm_cols, norm_plan), *lanes = persisted
    assert len(lanes) == 2
    assert "HashAggregate" in norm_plan and "SortAggregate" not in norm_plan, norm_plan
    assert "_source_file" not in norm_cols and "_corrupt_record" not in norm_cols
    injected = re.compile(r"Exchange hashpartitioning[^\n]*ENSURE_REQUIREMENTS")
    for _, plan in lanes:
        assert "InMemoryTableScan" in plan, plan
        assert not injected.search(_above_cache_scans(plan)), plan


@pytest.mark.parametrize("bad_col", ["volume", "trades"])
def test_run_pipeline_drops_corrupt_csv_rows(spark, tmp_path, monkeypatch, bad_col):
    """A CSV row the sampled schema cannot hold (a fractional value in
    the 9th file, past the 8-file schema sample that types the column as
    int) is counted as corrupt_rows and dropped before the dedupe,
    instead of entering it with a NULL; the rows counted are exactly the
    rows dropped, also when the fault is in a column the report does not
    otherwise read (``trades``)."""
    from etl_finance_pipeline_spark.plans import pipeline

    real_persist = pipeline.scoped_persist
    persisted = []

    def spy_persist(df):
        persisted.append(df)
        return real_persist(df)

    monkeypatch.setattr(pipeline, "scoped_persist", spy_persist)
    raw = tmp_path / "raw"
    raw.mkdir()
    for i in range(1, 10):
        lines = ["time,open,high,low,close,volume,trades"]
        for m in range(5):
            vals = {"volume": "100", "trades": "7"}
            if (i, m) == (9, 2):
                vals[bad_col] = "100.5"
            lines.append(
                f"2024-01-02 09:0{m}:00,{i},{i + 0.5},{i - 0.5},{i},"
                f"{vals['volume']},{vals['trades']}"
            )
        (raw / f"SYM{i}_2024.csv").write_text("\n".join(lines) + "\n")
    res = run_pipeline(spark, _cfg(tmp_path, ["1T"]), dry_run=True)

    report = res.reports["normalization"]
    assert report["rows_before_dedupe"] == 45
    assert report["corrupt_rows"] == 1
    assert report["coercions"]["coerced_VOLUME"] == 0
    kept = persisted[0].collect()
    assert len(kept) == report["rows_before_dedupe"] - report["corrupt_rows"]
    assert ("SYM9", 2) not in {(r["SYMBOL"], r["TIMESTAMP"].minute) for r in kept}
    assert {(r["VOLUME"], r["trades"]) for r in kept} == {(100.0, 7)}
    # the observed report reads every column, so a query that reads only
    # the keys drops the same rows
    assert len(persisted[0].select("SYMBOL", "TIMESTAMP").collect()) == len(kept)


def test_pipeline_transactional_sink(spark, tmp_path):
    """transactional=True routes outputs through the commit-log table
    format: same rows as the plain sink, appends become versions, and
    time travel reaches the earlier run."""
    from etl_finance_pipeline_spark.sources.table_format import (
        history,
        read_table,
    )

    _write_raw(tmp_path)
    cfg = _cfg(tmp_path, ["5T"])
    cfg.parquet.transactional = True
    r1 = run_pipeline(spark, cfg, dry_run=False)
    out = r1.outputs[0]
    v0 = read_table(spark, out)
    n0 = v0.count()
    assert n0 > 0 and "SYMBOL" in v0.columns
    # second run appends a new version with the same candle set
    run_pipeline(spark, cfg, dry_run=False)
    assert [h["version"] for h in history(out)] == [0, 1]
    assert read_table(spark, out).count() == 2 * n0
    assert read_table(spark, out, version=0).count() == n0
    # export log carries the committed version
    log = (tmp_path / "logs" / "export_log.ndjson").read_text().strip().splitlines()
    assert '"table_version": 0' in log[0] and '"table_version": 1' in log[1]


def test_pipeline_transactional_sink_writes_sidecar_with_configured_codec(
    spark, tmp_path
):
    """The transactional sink writes its files with the configured
    codec, not the session's, and the same sidecar as the plain sink
    plus the committed table version."""
    import glob

    import pyarrow.parquet as pq

    _write_raw(tmp_path)
    cfg = _cfg(tmp_path, ["5T"])
    cfg.parquet.transactional = True
    cfg.parquet.compression = "snappy"
    out = run_pipeline(spark, cfg, dry_run=False).outputs[0]

    files = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    assert files
    codecs = set()
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            codecs |= {group.column(i).compression for i in range(group.num_columns)}
    assert codecs == {"SNAPPY"}

    with open(out + ".meta.json") as fh:
        sidecar = json.load(fh)
    assert sidecar["table_version"] == 0
    assert sidecar["compression"] == "snappy"
    assert sidecar["user_metadata"] == {"timeframe": "5m"}
    assert len(sidecar["content_hash"]) == 64
    log = (tmp_path / "logs" / "export_log.ndjson").read_text().splitlines()
    assert json.loads(log[0]) == {"output": out, "table_version": 0, **sidecar["validation"]}


def test_run_pipeline_partial_failure_logs_committed_writes(
    spark, tmp_path, monkeypatch
):
    """One timeframe's write fails: the error propagates, the export
    log names exactly the outputs whose sidecars were written, and the
    normalized frame's cache is released."""
    from etl_finance_pipeline_spark.plans import pipeline

    real_write = pipeline.write_parquet_with_metadata

    def write_all_but_5m(df, out_path, **kwargs):
        if out_path.endswith("candles_5m"):
            raise RuntimeError("injected 5m write failure")
        return real_write(df, out_path, **kwargs)

    monkeypatch.setattr(pipeline, "write_parquet_with_metadata", write_all_but_5m)
    _write_raw(tmp_path)
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="injected 5m"):
        run_pipeline(spark, _cfg(tmp_path, ["1T", "5T", "15T"]), dry_run=False)

    processed = tmp_path / "processed"
    sidecars = {
        str(processed / name[: -len(".meta.json")])
        for name in os.listdir(processed)
        if name.endswith(".meta.json")
    }
    log = (tmp_path / "logs" / "export_log.ndjson").read_text().splitlines()
    logged = [json.loads(line)["output"] for line in log]
    assert sorted(logged) == sorted(sidecars)
    # the first lane starts before the failing one, so it always commits
    assert str(processed / "candles_1m") in sidecars
    assert str(processed / "candles_5m") not in sidecars
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before


def test_run_pipeline_partial_failure_logs_committed_table_versions(
    spark, tmp_path, monkeypatch
):
    """The transactional sink under the same injected 5m failure: the
    export log names exactly the tables with a committed version, each
    with the version it committed, and the normalized frame's cache is
    released."""
    from etl_finance_pipeline_spark.sources import table_format

    real_write = table_format.write_table

    def write_all_but_5m(df, table, **kwargs):
        if table.endswith("candles_5m"):
            raise RuntimeError("injected 5m write failure")
        return real_write(df, table, **kwargs)

    monkeypatch.setattr(table_format, "write_table", write_all_but_5m)
    _write_raw(tmp_path)
    cfg = _cfg(tmp_path, ["1T", "5T", "15T"])
    cfg.parquet.transactional = True
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="injected 5m"):
        run_pipeline(spark, cfg, dry_run=False)

    processed = tmp_path / "processed"
    committed = {
        str(processed / f"candles_{tf}"): [
            h["version"] for h in table_format.history(str(processed / f"candles_{tf}"))
        ]
        for tf in ("1m", "5m", "15m")
    }
    log = (tmp_path / "logs" / "export_log.ndjson").read_text().splitlines()
    logged = {e["output"]: e["table_version"] for e in map(json.loads, log)}
    assert len(logged) == len(log)
    assert logged == {out: versions[-1] for out, versions in committed.items() if versions}
    # the first lane starts before the failing one, so it always commits
    assert committed[str(processed / "candles_1m")] == [0]
    assert committed[str(processed / "candles_5m")] == []
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before


#: seed figures of the _write_raw input, identical before and after the
#: normalize report moved onto the cache fill
_RAW_NORMALIZATION = {
    "timezone": {"needs_review": True, "source_tz": "UTC(assumed)", "target_tz": "UTC"},
    "rows_before_dedupe": 5,
    "ts_coerced_to_null": 0,
    "coercions": {
        "coerced_OPEN": 0,
        "coerced_HIGH": 0,
        "coerced_LOW": 0,
        "coerced_CLOSE": 0,
        "coerced_VOLUME": 0,
    },
    "corrupt_rows": 0,
}
_RAW_DQ = [
    {
        "SYMBOL": "EURUSD",
        "rows": 4,
        "start": "2024-01-02 09:00:00",
        "end": "2024-01-02 09:05:00",
        "duplicate_timestamps": 0,
        "nulls_TIMESTAMP": 0,
        "nulls_OPEN": 0,
        "nulls_HIGH": 0,
        "nulls_LOW": 0,
        "nulls_CLOSE": 0,
        "nulls_VOLUME": 0,
        "nulls_SYMBOL": 0,
        "mean_range": 0.20000000000000015,
        "max_range": 0.20000000000000018,
        "close_min": 1.0,
        "close_max": 1.5,
        "close_median": 1.15,
        "suspicious_price_jump": False,
        "SMA_10_last": 1.2,
        "SMA_10_min": 1.0,
        "SMA_10_max": 1.2,
        "SMA_10_nulls": 0,
        "SMA_50_last": 1.2,
        "SMA_50_min": 1.0,
        "SMA_50_max": 1.2,
        "SMA_50_nulls": 0,
    }
]


def test_run_pipeline_scans_its_input_once_before_the_lanes(spark, tmp_path, monkeypatch):
    """normalize_df runs no action; between it and the lanes the pipeline
    runs exactly one action, the count() that fills the normalized cache
    and observes the normalize report; the lanes read only that cache
    (the raw files are moved away as they start). Both reports equal
    their pinned figures."""
    from etl_finance_pipeline_spark.plans import pipeline

    sc = spark.sparkContext
    raw = _write_raw(tmp_path)
    actions: list[str] = []
    seen: dict[str, object] = {}
    real_normalize, real_overlap = pipeline.normalize_df, pipeline.overlap

    def spy_normalize(*args, **kwargs):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc.setJobGroup("pipeline-normalize", "normalize_df")
        try:
            out = real_normalize(*args, **kwargs)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        seen["normalize_jobs"] = len(sc.statusTracker().getJobIdsForGroup("pipeline-normalize"))
        actions.clear()
        return out

    def spy_overlap(*lanes):
        seen["actions_before_lanes"] = list(actions)
        raw.rename(tmp_path / "raw_moved")  # a lane that reads the input fails
        return real_overlap(*lanes)

    frame_cls = type(spark.range(1))
    for name in ("collect", "count"):

        def counting(self, _real=getattr(frame_cls, name), _name=name):
            actions.append(_name)
            return _real(self)

        monkeypatch.setattr(frame_cls, name, counting)
    monkeypatch.setattr(pipeline, "normalize_df", spy_normalize)
    monkeypatch.setattr(pipeline, "overlap", spy_overlap)
    res = run_pipeline(spark, _cfg(tmp_path, ["1T", "5T"]), dry_run=False)

    assert seen == {"normalize_jobs": 0, "actions_before_lanes": ["count"]}
    assert res.reports["normalization"] == _RAW_NORMALIZATION
    assert json.load(open(tmp_path / "reports" / "dq_report.json")) == _RAW_DQ
    assert sorted(os.path.basename(p) for p in res.outputs) == ["candles_1m", "candles_5m"]


def test_run_pipeline_dq_failure_still_exports_and_logs(spark, tmp_path, monkeypatch):
    """The DQ report is one lane among the timeframes: when it fails,
    every timeframe is still written and logged, the DQ error is
    re-raised afterwards, and no cached block is left behind."""
    from etl_finance_pipeline_spark.plans import pipeline

    def failing_report(*args, **kwargs):
        raise RuntimeError("injected data-quality failure")

    monkeypatch.setattr(pipeline, "data_quality_report", failing_report)
    _write_raw(tmp_path)
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="injected data-quality"):
        run_pipeline(spark, _cfg(tmp_path, ["1T", "5T", "15T"]), dry_run=False)

    processed = tmp_path / "processed"
    outputs = {str(processed / f"candles_{tf}") for tf in ("1m", "5m", "15m")}
    sidecars = {
        str(processed / name[: -len(".meta.json")])
        for name in os.listdir(processed)
        if name.endswith(".meta.json")
    }
    log = (tmp_path / "logs" / "export_log.ndjson").read_text().splitlines()
    assert sidecars == outputs
    assert sorted(json.loads(line)["output"] for line in log) == sorted(outputs)
    assert not (tmp_path / "reports" / "dq_report.json").exists()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before


def test_run_pipeline_caches_each_output_for_its_sink(spark, tmp_path, monkeypatch):
    """A real run hands the sink a persisted frame, so validation, write
    and head read one materialized result; a dry run counts every
    timeframe without caching it; neither leaves a cached block."""
    from etl_finance_pipeline_spark.plans import pipeline

    real_write = pipeline.write_parquet_with_metadata
    real_persist = pipeline.scoped_persist
    seen_cached: list[bool] = []
    persisted: list[object] = []

    def spy_write(df, out_path, **kwargs):
        seen_cached.append(df.is_cached)
        return real_write(df, out_path, **kwargs)

    def spy_persist(df):
        persisted.append(df)
        return real_persist(df)

    monkeypatch.setattr(pipeline, "write_parquet_with_metadata", spy_write)
    monkeypatch.setattr(pipeline, "scoped_persist", spy_persist)
    _write_raw(tmp_path)
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    cached_before = rdds.size()

    run_pipeline(spark, _cfg(tmp_path, ["1T", "5T"]), dry_run=False)
    assert seen_cached == [True, True]
    assert len(persisted) == 3  # the normalized frame + one per timeframe

    persisted.clear()
    res = run_pipeline(spark, _cfg(tmp_path, ["1T", "5T"]), dry_run=True)
    assert seen_cached == [True, True]  # the dry run wrote nothing
    assert len(persisted) == 1  # only the normalized frame
    assert res.reports["dry_run_1m"]["rows"] == 6
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before


def test_rotating_logger(tmp_path):
    """Reference-parity ops logging (logger.py:11-27): console + size-
    rotated file handler, idempotent per name, no import side effects."""
    import logging

    from etl_finance_pipeline_spark.logging_utils import get_logger

    name = "etl_test_rotation"
    log = get_logger(name, log_dir=str(tmp_path), max_bytes=500, backup_count=2)
    assert get_logger(name) is log
    assert len(log.handlers) == 2  # no handler stacking on repeat calls

    for i in range(100):
        log.info("line %d with enough text to force a rotation soon", i)
    for h in log.handlers:
        h.flush()
        if isinstance(h, logging.handlers.RotatingFileHandler):
            h.close()
    files = sorted(p.name for p in tmp_path.iterdir())
    assert "etl.log" in files
    assert any(f.startswith("etl.log.") for f in files)  # rotated backups
    assert all(not f.startswith("etl.log.3") for f in files)  # capped at 2


def test_rotating_logger_follows_explicit_dir_change(tmp_path):
    """A second run in the same process with a DIFFERENT explicit
    logs path must not keep writing into the first run's directory:
    the file handler is rebuilt when the resolved target moves
    (cached config still wins when no dir is passed)."""
    import logging

    from etl_finance_pipeline_spark.logging_utils import get_logger

    name = "etl_test_redirect"
    d1, d2 = tmp_path / "run1", tmp_path / "run2"
    log = get_logger(name, log_dir=str(d1))
    log.info("first run")
    assert get_logger(name) is log  # no-arg repeat: cached, no rebuild
    assert len(log.handlers) == 2

    log2 = get_logger(name, log_dir=str(d2), level="DEBUG")
    assert log2 is log and len(log.handlers) == 2  # swapped, not stacked
    assert log.level == logging.DEBUG
    log.info("second run")
    for h in log.handlers:
        h.flush()
        if isinstance(h, logging.handlers.RotatingFileHandler):
            assert h.baseFilename.startswith(str(d2))
            h.close()
    assert "second run" in (d2 / "etl.log").read_text()
    assert "second run" not in (d1 / "etl.log").read_text()
