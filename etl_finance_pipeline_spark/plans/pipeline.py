"""End-to-end pipeline driver + CLI — the engine's equivalent of the
reference's orchestration (/root/reference/src/run.py:60-253,256-340),
composed from lazy operators:

  load (directory scan, quarantine)
    → normalize (rename / dtypes / tz policy / keep-first dedupe)
    → data-quality report
    → per timeframe: gap repair AT the target frequency → resample
    → validated partitioned parquet export + sidecar + NDJSON log

Key architectural translation (SURVEY §7.1): the reference loops one
file at a time on one core; here ALL files/symbols live in one
DataFrame and every per-file step is per-key dataflow — the pipeline
scales out by symbol count, not file count.

Replicated reference behaviors:
 * empty ``resample.timeframes`` → single ``_raw`` output with gap
   repair at "1T" (run.py:150-190);
 * otherwise repair at EACH timeframe then resample to it
   (run.py:192-250);
 * output naming ``{name}_{tf}`` with T→m ("5T"→"5m", run.py:224-225);
 * dry-run mode: full compute + reports, no writes (run.py:232).
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import threading
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from etl_finance_pipeline_spark.config import EngineConfig, load_config
from etl_finance_pipeline_spark.functions.lanes import overlap
from etl_finance_pipeline_spark.operators.gaps import repair_gaps
from etl_finance_pipeline_spark.operators.normalize import normalize_df
from etl_finance_pipeline_spark.operators.report import data_quality_report
from etl_finance_pipeline_spark.operators.resample import resample_ohlc
from etl_finance_pipeline_spark.sources.exporter import (
    append_export_log,
    write_parquet_with_metadata,
)
from etl_finance_pipeline_spark.sources.readers import load_directory


def tf_label(rule: str) -> str:
    """'5T' → '5m' (reference naming, run.py:224-225)."""
    return rule.replace("T", "m").replace("t", "m")


def infer_symbol(df: DataFrame) -> DataFrame:
    """Ensure a SYMBOL column: use an existing identifier column
    (symbol/ticker/pair/instrument/sym, case-insensitive, uppercased
    P4/P5) else parse ``EURUSD_...`` prefixes from the source filename
    captured at scan time."""
    lower = {c.lower(): c for c in df.columns}
    for cand in ("symbol", "ticker", "pair", "instrument", "sym"):
        if cand in lower:
            return df.withColumn(
                "SYMBOL", F.upper(F.col(lower[cand]).cast("string"))
            )
    if "_source_file" in df.columns:
        base = F.element_at(F.split(F.col("_source_file"), "/"), -1)
        return df.withColumn(
            "SYMBOL", F.upper(F.regexp_extract(base, r"^([A-Za-z0-9]+)_", 1))
        )
    return df.withColumn("SYMBOL", F.lit("UNKNOWN"))


@dataclass
class PipelineResult:
    reports: dict = field(default_factory=dict)
    outputs: list[str] = field(default_factory=list)
    quarantined: list[dict] = field(default_factory=list)


def run_pipeline(
    spark: SparkSession,
    cfg: EngineConfig,
    dry_run: bool = True,
    source_tz: str | None = None,
) -> PipelineResult:
    """Execute the full E→T→L pipeline per *cfg*. Returns collected
    reports + written output paths. tz priority: explicit *source_tz*
    arg (per-source metadata) > config default (run.py:327-330)."""
    from etl_finance_pipeline_spark.logging_utils import get_logger

    log = get_logger("etl_finance_pipeline_spark.pipeline", log_dir=cfg.paths.logs_path)
    result = PipelineResult()
    loaded = load_directory(spark, cfg.paths.raw_path)
    result.quarantined = loaded.quarantined_files
    log.info(
        "extract: %d format group(s), %d file(s) quarantined",
        len(loaded.frames),
        len(loaded.quarantined_files),
    )
    if not loaded.frames:
        return result

    frames = []
    for _fmt, df in loaded.frames.items():
        frames.append(infer_symbol(df))
    df = frames[0]
    for extra in frames[1:]:
        df = df.unionByName(extra, allowMissingColumns=True)

    fuse = cfg.performance.fuse_symbol_partitioning
    if fuse:
        # One shuffle for the whole pipeline: hash(SYMBOL) satisfies the
        # clustering requirement of every downstream dedupe/window/grid-
        # join/candle-agg (see PerformanceConfig). The ingest sequence for
        # the keep-first dedupe tiebreak must be captured BEFORE the
        # exchange — ids assigned after a shuffle reflect fetch order,
        # which is nondeterministic across runs.
        df = df.withColumn("_ingest_seq", F.monotonically_increasing_id())
        df = df.repartition("SYMBOL")

    tz = source_tz or cfg.timezone.source_default
    norm = normalize_df(
        df,
        columns_map=cfg.schema_.columns_map,
        required_columns=cfg.schema_.required_columns,
        source_tz=tz,
        target_tz=cfg.timezone.target,
        dedupe_order=["_ingest_seq"] if fuse else None,
    )
    result.reports["normalization"] = norm.report
    log.info("normalize: %s", norm.report)
    norm_df = norm.df.drop("_ingest_seq") if fuse else norm.df
    # ≥2 actions read this frame (DQ collect + per-timeframe outputs);
    # the persisted layout keeps the symbol partitioning, so cached
    # reuse skips both the recompute AND the exchange.
    norm_df = norm_df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        _fan_out(spark, cfg, norm_df, dry_run, result, log)
    finally:
        norm_df.unpersist()
    return result


def _fan_out(
    spark: SparkSession,
    cfg: EngineConfig,
    norm_df: DataFrame,
    dry_run: bool,
    result: PipelineResult,
    log: logging.Logger,
) -> None:
    """DQ report over the normalized frame, then one gap-repair →
    resample → export plan per timeframe, the plans overlapped."""
    dq = data_quality_report(norm_df, ["SYMBOL"])
    result.reports["data_quality"] = [r.asDict() for r in dq.collect()]
    os.makedirs(cfg.paths.reports_path, exist_ok=True)
    with open(os.path.join(cfg.paths.reports_path, "dq_report.json"), "w") as fh:
        json.dump(result.reports["data_quality"], fh, indent=2, default=str)

    timeframes = cfg.resample.timeframes or []
    plans: list[tuple[str, DataFrame]] = []
    if not timeframes:
        # raw path: repair at hardcoded 1T, no resample (run.py:150-190)
        rep = repair_gaps(
            norm_df,
            "1T",
            ["SYMBOL"],
            use_ffill_for=cfg.gaps.use_ffill_for,
            interpolate_prices=cfg.gaps.interpolate_prices,
            short_gap_minutes=cfg.gaps.short_gap_minutes,
        )
        plans.append(("_raw", rep.df))
    else:
        for tf in timeframes:
            rep = repair_gaps(
                norm_df,
                tf,
                ["SYMBOL"],
                use_ffill_for=cfg.gaps.use_ffill_for,
                interpolate_prices=cfg.gaps.interpolate_prices,
                short_gap_minutes=cfg.gaps.short_gap_minutes,
            )
            res = resample_ohlc(
                rep.df,
                tf,
                ["SYMBOL"],
                drop_incomplete=cfg.resample.drop_incomplete,
                extra_numeric_policy=cfg.resample.extra_numeric_policy,
            )
            plans.append((f"_{tf_label(tf)}", res))

    # The per-timeframe plans are INDEPENDENT jobs over the same cached
    # normalized frame: overlap them so the next plan's tasks back-fill
    # executors freed by the current plan's straggler tail.
    # The DQ collect above already materialized the cache, so concurrent
    # first-use cannot duplicate the upstream compute. Each lane runs
    # under a copy of this thread's job group, so its own description
    # labels only its own jobs. Each write is logged as soon as it
    # commits, so a failed sibling cannot drop it from the audit trail.
    log_lock = threading.Lock()

    def emit(suffix: str, frame: DataFrame) -> tuple[dict | None, str | None]:
        out_path = os.path.join(cfg.paths.processed_path, f"candles{suffix}")
        spark.sparkContext.setJobDescription(f"pipeline: candles{suffix}")
        if dry_run:
            # full compute, no write — count() drives the plan
            n = frame.count()
            return {"rows": n, "would_write": out_path}, None
        if cfg.parquet.transactional:
            # commit-log sink: same validation, then an atomic append —
            # a crashed run leaves no visible partial output and
            # concurrent readers keep seeing the previous snapshot
            from etl_finance_pipeline_spark.sources.exporter import (
                derive_partition_columns,
                validate_for_export,
            )
            from etl_finance_pipeline_spark.sources.table_format import write_table

            validation = validate_for_export(frame)
            out_frame, resolved = derive_partition_columns(
                frame, cfg.parquet.partition_cols
            )
            snap = write_table(
                out_frame, out_path, mode="append", partition_by=resolved
            )
            log_entry = {
                "output": out_path,
                "table_version": snap.version,
                **validation,
            }
        else:
            report = write_parquet_with_metadata(
                frame,
                out_path,
                compression=cfg.parquet.compression,
                partition_cols=cfg.parquet.partition_cols,
                metadata={"timeframe": suffix.lstrip("_")},
            )
            log_entry = {"output": out_path, **report["validation"]}
        with log_lock:
            append_export_log(cfg.paths.logs_path, log_entry)
        log.info("export: wrote %s", out_path)
        return None, out_path

    emitted = overlap(*[partial(emit, s, f) for s, f in plans])
    for (suffix, _), (dry_report, out_path) in zip(plans, emitted):
        if dry_report is not None:
            result.reports[f"dry_run{suffix}"] = dry_report
        if out_path is not None:
            result.outputs.append(out_path)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="PySpark OHLCV ETL pipeline")
    ap.add_argument("--config", default=None, help="YAML config path")
    ap.add_argument("--raw-path", default=None)
    ap.add_argument("--no-dry-run", action="store_true")
    ap.add_argument("--source-tz", default=None)
    args = ap.parse_args(argv)

    cfg = load_config(args.config)
    if args.raw_path:
        cfg.paths.raw_path = args.raw_path

    from etl_finance_pipeline_spark import get_spark

    spark = get_spark(app_name="etl-pipeline")
    res = run_pipeline(
        spark, cfg, dry_run=not args.no_dry_run, source_tz=args.source_tz
    )
    print(json.dumps({
        "outputs": res.outputs,
        "quarantined": res.quarantined,
        "reports": {k: v for k, v in res.reports.items() if k != "data_quality"},
        "n_symbols": len(res.reports.get("data_quality", [])),
    }, default=str, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
