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
                "quarantine_path": str(tmp_path / "quarantine"),
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
    rep = repair_gaps(dd, "1T", ["SYMBOL"], use_ffill_for=["VOLUME", "CLOSE"])
    return resample_ohlc(
        rep.df.withColumn("OPEN", F.col("CLOSE"))
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


def test_pipeline_fused_matches_default(spark, tmp_path):
    """run_pipeline with fuse_symbol_partitioning+cache produces the
    same dry-run row counts and DQ report as the default config."""
    _write_raw(tmp_path)
    base = _cfg(tmp_path, ["5T"])
    r1 = run_pipeline(spark, base, dry_run=True)
    fused_cfg = _cfg(tmp_path, ["5T"])
    fused_cfg.performance.fuse_symbol_partitioning = True
    r2 = run_pipeline(spark, fused_cfg, dry_run=True)
    assert r1.reports["dry_run_5m"] == r2.reports["dry_run_5m"]
    assert r1.reports["data_quality"] == r2.reports["data_quality"]


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
