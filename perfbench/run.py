"""Benchmark of the OHLCV pipeline and the transactional table.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_wide --seed 1 --seconds 10 --trace 0

Workloads (see NOTES.md for why each exists):
  etl_wide   run_pipeline(dry_run=False) over many per-symbol CSV files
  etl_deep   the same call over two long parquet FX series
  table_ops  appends, merges, point reads and compactions on a
             sources.table_format table

One process, one closed-loop client, ``local[<cores>]``. Inputs are made
from ``--seed`` under ``.perfbench/`` in the checkout; the engine only
sees those files. Every output is checked against DuckDB (check.py).

``--trace 0`` measures the end-to-end metrics with nothing wrapped.
``--trace 1`` wraps the engine's public functions (spans.py) and reports
per-layer metrics, plus the tracing overhead against untraced repeats
of the same operation in the same process.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
A fuller report is written to ``.perfbench/last-<workload>-trace<k>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import inspect
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Input sizes. ETL rows barely move the pipeline's wall time at this
#: scale (it is bound by per-job overhead), so they are sized to keep a
#: run near one minute on 4 cores.
WIDE_SYMBOLS, WIDE_MINUTES = 32, 1440
DEEP_DAYS = 28
TABLE_DAYS, TABLE_MINUTES_PER_DAY = 40, 240
TABLE_READS_PER_DAY, TABLE_COMPACT_EVERY = 4, 10
SMA_WINDOW, VOL_WINDOW = 10, 20


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _prepare_env(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside *work*."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    # every JVM the launcher starts; without -UsePerfData each would
    # also write /tmp/hsperfdata_<user>/<pid>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the *suffix* files under *path*."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes, which would otherwise happen only
    after this process has gone."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metric(value: float | None, unit: str) -> dict:
    return {"value": value, "unit": unit}


# --------------------------------------------------------------------
# tracing: which engine functions form which layer
# --------------------------------------------------------------------


def _install_etl_tracer(tracer) -> None:
    from etl_finance_pipeline_spark.plans import pipeline
    from etl_finance_pipeline_spark.sources import exporter, readers

    # run_pipeline looks its layer functions up in its own module
    for attr, layer in (
        ("load_directory", "readers"),
        ("normalize_df", "normalize"),
        ("data_quality_report", "report"),
        ("repair_gaps", "gaps"),
        ("resample_ohlc", "resample"),
        ("write_parquet_with_metadata", "exporter"),
        ("append_export_log", "exporter"),
        ("run_pipeline", "pipeline"),
    ):
        tracer.wrap(pipeline, attr, layer)
    for attr in ("read_csv", "read_parquet", "sample_csv_schema"):
        tracer.wrap(readers, attr, "readers")
    for attr in ("validate_for_export", "derive_partition_columns", "content_hash"):
        tracer.wrap(exporter, attr, "exporter")


def _dq_collect_call_site() -> dict[str, str]:
    """Job-name needle of the pipeline's own data-quality collect, so its
    jobs count for ``report`` rather than ``pipeline``."""
    from etl_finance_pipeline_spark.plans import pipeline

    lines, _ = inspect.getsourcelines(pipeline)
    for i, line in enumerate(lines, start=1):
        if "dq.collect()" in line:
            return {f"pipeline.py:{i}": "report"}
    return {}


def _spark_totals(harvest, wall: float, job_intervals: list) -> dict[str, float]:
    from spans import union_length

    stages = harvest.stages.values()
    return {
        "spark.jobs": len(harvest.jobs),
        "spark.stages": len(harvest.stages),
        "spark.tasks": sum(s.tasks for s in stages),
        "spark.executor_run_s": sum(s.run_ms for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "spark.gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "spark.driver_only_s": max(0.0, wall - union_length(job_intervals) / 1e3),
    }


def _layer_jobs(harvest, attribution, layer):
    jobs = [j for j in harvest.jobs if attribution[j.id] == layer]
    ids = {j.id for j in jobs}
    run_s = sum(
        s.run_ms for sid, s in harvest.stages.items() if harvest.stage_owner[sid] in ids
    ) / 1e3
    return jobs, run_s


def _etl_layers(tracer, first_span, harvest, wall, cores, result, out_dir, rows_by_tf, deduped):
    from spans import attribute, exchanges_in_plan, self_times, span_of_job, union_length

    spans = tracer.spans[first_span:]
    attribution = attribute(harvest, tracer.spans, _dq_collect_call_site())
    own = self_times(spans)
    by_layer: dict[str, float] = {}
    for s in spans:
        by_layer[s.layer] = by_layer.get(s.layer, 0.0) + own[s.id]

    def dur(name):
        return sum(s.duration for s in spans if s.name == name)

    exports = [s for s in spans if s.name == "exporter.write_parquet_with_metadata"]
    outputs = max(1, len(exports))
    export_ids = {s.id for s in spans if s.layer == "exporter"}
    write_ids = {s.id for s in exports}
    jobs_by_id = {j.id: j for j in harvest.jobs}

    passes = exchanges = 0
    for plan, job_ids in harvest.executions.values():
        owners = {span_of_job(jobs_by_id[j]) for j in job_ids}
        if owners & export_ids:
            passes += 1
        if owners & write_ids:
            exchanges += exchanges_in_plan(plan)

    layer_jobs = {name: _layer_jobs(harvest, attribution, name) for name in
                  ("readers", "normalize", "report", "exporter")}
    run_total = sum(s.run_ms for s in harvest.stages.values()) / 1e3
    files, nbytes = _dir_bytes(out_dir)
    rows_before = result.reports["normalization"]["rows_before_dedupe"]
    intervals = [(j.start_ms, j.end_ms) for j in harvest.jobs if j.start_ms and j.end_ms]
    out = {
        "readers.self_s": by_layer.get("readers", 0.0),
        "readers.jobs": len(layer_jobs["readers"][0]),
        "readers.input_bytes": sum(s.input_bytes for s in harvest.stages.values()),
        "normalize.self_s": by_layer.get("normalize", 0.0),
        "normalize.jobs": len(layer_jobs["normalize"][0]),
        "normalize.executor_s": layer_jobs["normalize"][1],
        "normalize.dedupe_dropped_share": (rows_before - deduped) / rows_before,
        "report.plan_s": dur("report.data_quality_report"),
        "report.dq_executor_s": layer_jobs["report"][1],
        "gaps.plan_s": dur("gaps.repair_gaps"),
        "gaps.rows_filled_share": (rows_by_tf["1m"] - deduped) / rows_by_tf["1m"],
        "resample.plan_s": dur("resample.resample_ohlc"),
        "resample.exchanges_per_output": exchanges / outputs,
        "exporter.self_s": by_layer.get("exporter", 0.0),
        "exporter.passes_per_output": passes / outputs,
        "exporter.executor_s": layer_jobs["exporter"][1],
        "exporter.files_written": files,
        "exporter.bytes_written": nbytes,
        "pipeline.self_s": by_layer.get("pipeline", 0.0),
        "pipeline.core_busy_share": run_total / (wall * cores),
        "pipeline.export_overlap_s": sum(s.duration for s in exports)
        - union_length([(s.start, s.end) for s in exports]),
        "trace.unattributed_jobs": sum(1 for v in attribution.values() if v == "unattributed"),
    }
    out.update(_spark_totals(harvest, wall, intervals))
    return out


# --------------------------------------------------------------------
# ETL workloads
# --------------------------------------------------------------------


def _generate_etl(workload: str, seed: int, raw: str) -> None:
    import gen

    if workload == "etl_wide":
        gen.write_wide(raw, gen.wide_series(seed, WIDE_SYMBOLS, WIDE_MINUTES))
    else:
        gen.write_deep(raw, gen.deep_series(seed, DEEP_DAYS))


def run_etl(spark, workload: str, seed: int, seconds: float, trace: bool, work: str, cores: int):
    from check import EtlOracle
    from etl_finance_pipeline_spark.config import EngineConfig
    from etl_finance_pipeline_spark.plans import pipeline
    from stats import median, timed

    raw = os.path.join(work, "raw")
    _generate_etl(workload, seed, raw)
    oracle = EtlOracle(raw)
    tracer = stores = None
    if trace:
        from spans import StatusStores, Tracer

        tracer = Tracer(spark.sparkContext)
        stores = StatusStores(spark)

    runs: list[dict] = []

    def one(i: int, traced: bool) -> dict:
        out_dir = os.path.join(work, f"out{i}")
        cfg = EngineConfig.model_validate(
            {
                "paths": {
                    "raw_path": raw,
                    "processed_path": out_dir,
                    "reports_path": os.path.join(work, "reports"),
                    "logs_path": os.path.join(work, "logs"),
                    "quarantine_path": os.path.join(work, "quarantine"),
                }
            }
        )
        if stores is not None:
            stores.harvest()  # start from a clean slate
        first_span = len(tracer.spans) if tracer else 0
        if traced:
            _install_etl_tracer(tracer)
        wall, result, err = timed(pipeline.run_pipeline, spark, cfg, dry_run=False)
        if traced:
            tracer.unwrap_all()
        rec = {"i": i, "traced": traced, "wall": wall if err is None else None}
        if err is None:
            problems, rows_by_tf = oracle.check(out_dir)
        else:
            problems, rows_by_tf = [f"run_pipeline raised {err!r}"], {}
        rec["problems"] = problems
        if not problems:
            _, nbytes = _dir_bytes(out_dir)
            rec["bytes_per_row"] = nbytes / sum(rows_by_tf.values())
            if traced:
                rec["layers"] = _etl_layers(
                    tracer, first_span, stores.harvest(), wall, cores, result,
                    out_dir, rows_by_tf, oracle.deduped_rows,
                )
        shutil.rmtree(out_dir, ignore_errors=True)
        runs.append(rec)
        print(f"perfbench: {workload} run {i} traced={traced} wall={wall:.3f}s "
              f"problems={problems}", file=sys.stderr, flush=True)
        return rec

    # Calls go on until `seconds` of measurement have passed, at least
    # one; the first is cold. A traced run follows its cold call with
    # (traced, untraced) pairs of warm calls, at least one pair.
    start = time.perf_counter()
    one(0, traced=False)
    i = 1
    while time.perf_counter() - start < seconds or (trace and i == 1):
        one(i, traced=trace)
        i += 1
        if trace:  # the untraced twin gives the tracing overhead
            one(i, traced=False)
            i += 1
    oracle.close()

    plain = [math.inf if r["wall"] is None else r["wall"] for r in runs if not r["traced"]]
    e2e = {
        "etl_cold_s": _metric(plain[0], "s"),
        "etl_rows_per_s": _metric(oracle.input_rows * len(plain) / sum(plain), "1/s"),
        "stored_bytes_per_row": _metric(
            median([r.get("bytes_per_row") for r in runs]), "B/row"),
    }
    layers = {}
    if trace:
        warm = [r for r in runs if r["traced"]]
        layer_runs = [r["layers"] for r in warm if "layers" in r]
        for key in (layer_runs[0] if layer_runs else {}):
            layers[key] = median([lr[key] for lr in layer_runs])
        untraced = median([r["wall"] for r in runs[1:] if not r["traced"]])
        traced_wall = median([r["wall"] for r in warm])
        layers["trace.overhead_share"] = traced_wall / untraced - 1.0
    return runs, e2e, layers


# --------------------------------------------------------------------
# table_ops
# --------------------------------------------------------------------


def _install_table_tracer(tracer) -> None:
    from etl_finance_pipeline_spark.operators import report
    from etl_finance_pipeline_spark.sources import table_format

    for attr in ("write_table", "merge_table", "read_table", "compact", "snapshot"):
        tracer.wrap(table_format, attr, "table_format")
    for attr in ("sma", "returns_and_volatility"):
        tracer.wrap(report, attr, "report")


def _log_reads(table: str, version: int) -> int:
    """Log files a snapshot of *version* opens: newest checkpoint at or
    below it, plus every manifest after that checkpoint."""
    names = os.listdir(os.path.join(table, "_log"))
    cps = [int(n.split(".")[0]) for n in names if n.endswith(".checkpoint.json")]
    base = max([c for c in cps if c <= version], default=-1)
    manifests = [
        int(n[:-5]) for n in names
        if n.endswith(".json") and not n.endswith(".checkpoint.json") and not n.startswith(".")
    ]
    return (base >= 0) + sum(1 for v in manifests if base < v <= version)


def run_table_ops(spark, seed: int, seconds: float, trace: bool, work: str, cores: int):
    import gen
    import numpy as np
    import pyarrow.parquet as pq
    from check import TableOracle, rows_match
    from etl_finance_pipeline_spark.operators import report
    from etl_finance_pipeline_spark.sources import table_format as tf
    from pyspark.sql import functions as F
    from stats import median, percentile, timed

    plan = gen.write_table_ops(os.path.join(work, "gen"), seed, TABLE_DAYS, TABLE_MINUTES_PER_DAY)
    table = os.path.join(work, "table")
    oracle = TableOracle()
    rng = np.random.default_rng([seed, 4])
    symbols = [f"TK{i:02d}" for i in range(gen.TABLE_SYMBOLS)]
    tracer = stores = None
    if trace:
        from spans import StatusStores, Tracer

        tracer = Tracer(spark.sparkContext)
        stores = StatusStores(spark)
        stores.harvest()
        _install_table_tracer(tracer)

    ops: list[dict] = []
    layer = {"read_plan_s": [], "log_reads": [], "pruned": [], "rewrite_bytes": 0, "rewrite_rows": 0}

    def version() -> int:
        return tf._list_versions(table)[-1] if os.path.isdir(table) else -1

    def record(kind: str, wall: float, err, problems=()):
        ok = err is None and not problems
        ops.append({"kind": kind, "wall": wall if ok else None, "elapsed": wall,
                    "error": None if err is None else repr(err), "problems": list(problems)})

    def client_op(kind: str, fn, *args):
        """One timed operation; when tracing, inside a ``client`` span so
        that the jobs its own collect starts belong to a span too."""
        scope = tracer.span(f"client.{kind}", "client") if tracer else contextlib.nullcontext()
        with scope:
            return timed(fn, *args)

    def append_op(path: str):
        return tf.write_table(spark.read.parquet(path), table, mode="append",
                              partition_by=["SYMBOL"])

    def merge_op(path: str):
        return tf.merge_table(spark, table, spark.read.parquet(path), ["SYMBOL", "TIMESTAMP"])

    def read_op(sym: str, since_us: int, iso: str):
        df = tf.read_table(spark, table, partition_filter={"SYMBOL": sym},
                           stats_filter=[("TIMESTAMP", ">=", iso)])
        df = df.filter(F.col("TIMESTAMP") >= F.lit(iso).cast("timestamp"))
        df = report.sma(df, "CLOSE", SMA_WINDOW, ["SYMBOL"])
        df = report.returns_and_volatility(df, "CLOSE", key_cols=["SYMBOL"], window_size=VOL_WINDOW)
        return df.select(F.unix_micros("TIMESTAMP"), "CLOSE", f"SMA_{SMA_WINDOW}",
                         "LOG_RETURN", "VOLATILITY").orderBy("TIMESTAMP").collect()

    for day in plan:
        wall, _, err = client_op("append", append_op, day["append"])
        if err is None:
            oracle.append(day["append"])
        record("append", wall, err)

        before = version()
        wall, snap, err = client_op("merge", merge_op, day["revise"])
        if version() > before:  # committed, even if something raised afterwards
            oracle.merge(day["revise"])
        if err is None:
            layer["rewrite_rows"] += pq.ParquetFile(day["revise"]).metadata.num_rows
            with open(tf._manifest_path(table, snap.version)) as fh:
                added = json.load(fh)["files"]
            layer["rewrite_bytes"] += sum(
                os.path.getsize(os.path.join(table, f["path"])) for f in added)
        record("merge", wall, err)

        first_us = gen.BASE_US + max(0, day["day"] - 2) * gen.DAY_MIN * gen.MINUTE_US
        last_us = gen.BASE_US + (day["day"] * gen.DAY_MIN + TABLE_MINUTES_PER_DAY - 1) * gen.MINUTE_US
        for _ in range(TABLE_READS_PER_DAY):
            sym = symbols[int(rng.integers(len(symbols)))]
            minute = int(rng.integers(0, TABLE_MINUTES_PER_DAY))
            day_back = int(rng.integers(0, min(3, day["day"] + 1)))
            since_us = gen.BASE_US + ((day["day"] - day_back) * gen.DAY_MIN + minute) * gen.MINUTE_US
            since_us = min(max(since_us, first_us), last_us)
            iso = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(since_us // 1_000_000))
            n_spans = len(tracer.spans) if tracer else 0
            wall, got, err = client_op("read", read_op, sym, since_us, iso)
            problems = []
            if err is None:
                want = oracle.expected_read(sym, since_us, SMA_WINDOW, VOL_WINDOW)
                if not rows_match([tuple(r) for r in got], want):
                    problems = [f"read {sym} since {iso}: {len(got)} rows, expected {len(want)}"]
            record("read", wall, err, problems)
            if tracer:
                reads = [s for s in tracer.spans[n_spans:] if s.name == "table_format.read_table"]
                layer["read_plan_s"] += [s.duration for s in reads]
                with tracer.span("probe.files", "probe"):
                    live = tf.snapshot(table)
                    scanned = tf.read_table(spark, table, partition_filter={"SYMBOL": sym},
                                            stats_filter=[("TIMESTAMP", ">=", iso)]).inputFiles()
                layer["log_reads"].append(_log_reads(table, live.version))
                layer["pruned"].append(1.0 - len(scanned) / max(1, len(live.files)))

        if (day["day"] + 1) % TABLE_COMPACT_EVERY == 0:
            wall, _, err = client_op("compact", tf.compact, spark, table)
            record("compact", wall, err)
    busy_s = sum(o["elapsed"] for o in ops)
    if tracer:
        tracer.unwrap_all()

    live = tf.snapshot(table)
    live_bytes = sum(os.path.getsize(os.path.join(table, f["path"])) for f in live.files)
    stored_ok = live.num_rows == oracle.rows()
    if not stored_ok:
        ops.append({"kind": "snapshot", "wall": None, "error": None, "problems": [
            f"live snapshot holds {live.num_rows} rows, expected {oracle.rows()}"]})
    oracle.close()

    def walls(kind):
        return [o["wall"] for o in ops if o["kind"] == kind]

    failed = sum(1 for o in ops if o["wall"] is None)
    e2e = {
        "append_ms_p50": _metric(percentile(walls("append"), 50) * 1e3, "ms"),
        "merge_ms_p50": _metric(percentile(walls("merge"), 50) * 1e3, "ms"),
        "read_ms_p50": _metric(percentile(walls("read"), 50) * 1e3, "ms"),
        "read_ms_p90": _metric(percentile(walls("read"), 90) * 1e3, "ms"),
        "table_ops_per_s": _metric((len(ops) - failed) / busy_s, "1/s"),
        "stored_bytes_per_row": _metric(live_bytes / max(1, live.num_rows), "B/row"),
    }
    layers = {}
    if trace:
        from spans import Harvest, attribute

        harvest = stores.harvest()
        spans = tracer.spans

        client = {s.id for s in spans if s.layer == "client"}

        def span_median(name):
            """Median duration of the client's own calls of *name*."""
            return median([s.duration for s in spans if s.name == name and s.parent in client])

        attribution = attribute(harvest, spans)
        # jobs of the measurement probes are not the client's traffic
        keep = {j for j, lay in attribution.items() if lay != "probe"}
        harvest = Harvest(
            jobs=[j for j in harvest.jobs if j.id in keep],
            stages={k: v for k, v in harvest.stages.items() if harvest.stage_owner[k] in keep},
            stage_owner={k: v for k, v in harvest.stage_owner.items() if v in keep},
        )
        intervals = [(j.start_ms, j.end_ms) for j in harvest.jobs if j.start_ms and j.end_ms]
        totals = _spark_totals(harvest, busy_s, intervals)
        layers = {
            "table_format.append_s": span_median("table_format.write_table"),
            "table_format.merge_s": span_median("table_format.merge_table"),
            "table_format.read_plan_s": median(layer["read_plan_s"]),
            "table_format.snapshot_log_reads": median(layer["log_reads"]),
            "table_format.files_live": len(live.files),
            "table_format.read_pruned_share": median(layer["pruned"]),
            "table_format.merge_rewrite_bytes_per_row":
                layer["rewrite_bytes"] / layer["rewrite_rows"] if layer["rewrite_rows"] else 0.0,
            "table_format.compact_s": span_median("table_format.compact"),
            "report.plan_s": sum(s.duration for s in spans if s.layer == "report")
            / max(1, sum(1 for o in ops if o["kind"] == "read")),
            "trace.unattributed_jobs": sum(1 for v in attribution.values() if v == "unattributed"),
        }
        layers.update({k: v / max(1, len(ops)) for k, v in totals.items()})
    return ops, e2e, layers


# --------------------------------------------------------------------
# entry point
# --------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_wide", "etl_deep", "table_ops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_finance_pipeline_spark", "__init__.py")):
        _die(f"engine package etl_finance_pipeline_spark not found under {ROOT}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import stats

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    extra_conf = _prepare_env(work)
    cores = len(os.sched_getaffinity(0))
    try:
        with stats.PeakRss() as rss:
            t0 = time.perf_counter()
            from etl_finance_pipeline_spark import get_spark

            spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                              shuffle_partitions=cores, extra_conf=extra_conf)
            setup_s = stats.process_age_s()
            session_start_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
            try:
                if args.workload == "table_ops":
                    ops, e2e, layers = run_table_ops(
                        spark, args.seed, args.seconds, bool(args.trace), work, cores)
                else:
                    ops, e2e, layers = run_etl(
                        spark, args.workload, args.seed, args.seconds, bool(args.trace), work, cores)
            finally:
                _stop(spark)
        failed = sum(1 for o in ops if o["wall"] is None or o.get("problems"))
        e2e = {
            "setup_s": _metric(setup_s, "s"),
            **e2e,
            "peak_rss_mb": _metric(rss.peak / 2**20, "MB"),
            "failed_share": _metric(failed / len(ops), "share"),
        }
        layers = {"session.start_s": session_start_s, **layers}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for o in ops:
        for p in o.get("problems") or ([o["error"]] if o.get("error") else []):
            print(f"perfbench: FAILED {o.get('kind', 'run_pipeline')}: {p}", file=sys.stderr)
    if args.trace:
        metrics = {k: _metric(stats.finite_or_none(v), _unit(k)) for k, v in layers.items()}
    else:
        metrics = {k: _metric(stats.finite_or_none(m["value"]), m["unit"]) for k, m in e2e.items()}
    listed = _listed(args.workload, args.trace)
    if listed:
        metrics = {k: v for k, v in metrics.items() if k in listed}
    out = {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, f"last-{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump({"args": vars(args), "result": out, "end_to_end": e2e, "per_layer": layers,
                   "ops": ops}, fh, indent=1, default=str)
    print(json.dumps(out))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_share"):
        return "share"
    if name.endswith("_per_row"):
        return "B/row"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("_s"):
        return "s"
    return "count"


def _listed(workload: str, trace: int) -> set[str]:
    """Metric names BENCHMARK.json lists for this mode, when it lists
    *workload*; empty (report everything) otherwise."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError):
        return set()
    if workload not in {w["name"] for w in spec["workloads"]}:
        return set()
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    raise SystemExit(main())
