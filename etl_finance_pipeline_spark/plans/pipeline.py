"""End-to-end pipeline driver + CLI — the engine's equivalent of the
reference's orchestration (/root/reference/src/run.py:60-253,256-340),
composed from lazy operators:

  load (directory scan, quarantine)
    → normalize (rename / dtypes / tz policy / keep-first dedupe)
    → one count() fills the SYMBOL-partitioned normalized cache; it is
      the only scan of the raw input, and the normalize report is
      observed on it
    → all at once, over the cache: the data-quality report, and per
      timeframe gap repair AT the target frequency → resample →
      validated partitioned parquet export + sidecar + NDJSON log

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

from etl_finance_pipeline_spark.config import EngineConfig, load_config
from etl_finance_pipeline_spark.functions.lanes import overlap, scoped_persist
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

    frames = [infer_symbol(df) for df in loaded.frames.values()]
    df = frames[0]
    for extra in frames[1:]:
        df = df.unionByName(extra, allowMissingColumns=True)
    # infer_symbol was the scan-time path's last reader: carried further,
    # the string would turn the dedupe's min_by into a SortAggregate
    df = df.drop("_source_file")

    tz = source_tz or cfg.timezone.source_default
    norm = normalize_df(
        df,
        columns_map=cfg.schema_.columns_map,
        required_columns=cfg.schema_.required_columns,
        source_tz=tz,
        target_tz=cfg.timezone.target,
    )
    # ≥3 actions read this frame (the fill below, the DQ collect and the
    # per-timeframe outputs).
    # It is cached hash-partitioned by SYMBOL, which meets every lane's
    # distribution requirement (gap windows, grid joins and candle
    # aggregates all key on SYMBOL first), so cached reads skip both the
    # recompute and any lane-side exchange.
    with scoped_persist(norm.df.repartition("SYMBOL")) as norm_df:
        # the one scan of the raw input: it fills the cache before any
        # lane reads it, and normalize's report is observed on it
        norm_df.count()
        result.reports["normalization"] = norm.report
        log.info("normalize: %s", norm.report)
        _fan_out(spark, cfg, norm_df, dry_run, result, log)
    return result


def _fan_out(
    spark: SparkSession,
    cfg: EngineConfig,
    norm_df: DataFrame,
    dry_run: bool,
    result: PipelineResult,
    log: logging.Logger,
) -> None:
    """The DQ report and one gap-repair → resample → export lane per
    timeframe over the filled cache, all started at once."""

    def quality() -> None:
        dq = data_quality_report(norm_df, ["SYMBOL"])
        result.reports["data_quality"] = [r.asDict() for r in dq.collect()]
        os.makedirs(cfg.paths.reports_path, exist_ok=True)
        with open(os.path.join(cfg.paths.reports_path, "dq_report.json"), "w") as fh:
            json.dump(result.reports["data_quality"], fh, indent=2, default=str)

    def plan(tf: str | None) -> DataFrame:
        # no timeframes: raw path, repair at hardcoded 1T and no
        # resample (run.py:150-190); else repair AT the timeframe, then
        # resample to it
        repaired = repair_gaps(
            norm_df,
            tf or "1T",
            ["SYMBOL"],
            use_ffill_for=cfg.gaps.use_ffill_for,
            interpolate_prices=cfg.gaps.interpolate_prices,
        )
        if tf is None:
            return repaired
        return resample_ohlc(
            repaired,
            tf,
            ["SYMBOL"],
            drop_incomplete=cfg.resample.drop_incomplete,
            extra_numeric_policy=cfg.resample.extra_numeric_policy,
        )

    # The DQ report and each timeframe are INDEPENDENT lanes over the
    # same cached normalized frame: each builds its own plan, so
    # planning overlaps too, and one lane's tasks back-fill executors
    # freed by another's straggler tail. run_pipeline's count() already
    # filled the cache, so concurrent first use cannot duplicate the
    # upstream compute. Each lane runs under a copy of this thread's job
    # group, so its own description labels only its own jobs. Each write
    # is logged as soon as it commits, and a failed lane stops no other
    # lane, so a failed sibling (the DQ report included) cannot drop a
    # commit from the audit trail; its error is re-raised afterwards.
    log_lock = threading.Lock()

    def emit(suffix: str, tf: str | None) -> tuple[dict | None, str | None]:
        out_path = os.path.join(cfg.paths.processed_path, f"candles{suffix}")
        spark.sparkContext.setJobDescription(f"pipeline: candles{suffix}")
        frame = plan(tf)
        if dry_run:
            # full compute, no write — count() drives the plan
            n = frame.count()
            return {"rows": n, "would_write": out_path}, None
        # validation, write and content-hash head are three actions over
        # this lane's output: persist it so the repair → resample chain
        # runs once and the other two read the cache
        with scoped_persist(frame) as frame:
            report = write_parquet_with_metadata(
                frame,
                out_path,
                compression=cfg.parquet.compression,
                partition_cols=cfg.parquet.partition_cols,
                metadata={"timeframe": suffix.lstrip("_")},
                transactional=cfg.parquet.transactional,
            )
        # a transactional row also names the version it committed
        version = {k: report[k] for k in report.keys() & {"table_version"}}
        log_entry = {"output": out_path, **version, **report["validation"]}
        with log_lock:
            append_export_log(cfg.paths.logs_path, log_entry)
        log.info("export: wrote %s", out_path)
        return None, out_path

    timeframes = cfg.resample.timeframes or []
    lanes = [(f"_{tf_label(tf)}", tf) for tf in timeframes] or [("_raw", None)]
    _, *emitted = overlap(quality, *[partial(emit, suffix, tf) for suffix, tf in lanes])
    for (suffix, _), (dry_report, out_path) in zip(lanes, emitted):
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
