"""Golden-output contract for ``run_pipeline``.

Small seeded inputs of both benchmark shapes (``perfbench/gen.py``: 2
days of the two-symbol ``etl_deep`` parquet series, 4 symbols x 1 day
of the ``etl_wide`` CSVs) run through the default config, and every
output is compared against ``tests/golden/run_pipeline.json``:

* per timeframe: the row count, an order-insensitive row hash, the
  sidecar minus ``exported_at``/``path``, and the file count per
  partition directory;
* the export-log rows, sorted by output;
* ``dq_report.json`` (sorted by ``SYMBOL``) and the normalization
  report;
* one transactional pass over the deep input: its export-log rows
  minus ``table_version``.

Rows are compared, not bytes: exported Parquet footers are not
byte-reproducible. Every double, in rows and reports alike, is rounded
to ``SIG_DIGITS`` significant digits before it is hashed or compared.

The golden file changes only with an intended output change. Rewrite it
with ``PYTHONPATH=. python tests/test_golden.py`` and state in CHANGES.md
what moved and why.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys
from collections import Counter

import pyarrow.parquet as pq

from etl_finance_pipeline_spark.config import EngineConfig
from etl_finance_pipeline_spark.plans.pipeline import run_pipeline

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden", "run_pipeline.json")
SIG_DIGITS = 12
SEED = 1
DEEP_DAYS = 2
WIDE_SYMBOLS, WIDE_MINUTES = 4, 1440


def _gen():
    path = os.path.join(HERE, os.pardir, "perfbench", "gen.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses look their module up
    spec.loader.exec_module(mod)
    return mod


def _canon(obj):
    """*obj* with every float rounded to SIG_DIGITS significant digits."""
    if isinstance(obj, float):
        return float(f"{obj:.{SIG_DIGITS}g}")
    if isinstance(obj, dict):
        return {k: _canon(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_canon(v) for v in obj]
    return obj


def _row_hash(path: str) -> tuple[int, str]:
    """Row count and sha256 over the sorted, canonical rows of one
    exported directory (Hive partition columns included)."""
    table = pq.read_table(path)
    names = sorted(table.column_names)
    rows = sorted(
        json.dumps([_canon(r[c]) for c in names], default=str)
        for r in table.to_pylist()
    )
    digest = hashlib.sha256("\n".join([json.dumps(names), *rows]).encode())
    return len(rows), digest.hexdigest()


def _files_per_partition(path: str) -> dict[str, int]:
    counts: Counter = Counter()
    for root, _, files in os.walk(path):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            counts[os.path.relpath(root, path)] += n
    return dict(sorted(counts.items()))


def _log_rows(work: str, drop: tuple[str, ...] = ()) -> list[dict]:
    with open(os.path.join(work, "logs", "export_log.ndjson")) as fh:
        rows = [json.loads(line) for line in fh]
    for r in rows:
        r["output"] = os.path.basename(r["output"])
        for k in drop:
            r.pop(k)
    return _canon(sorted(rows, key=lambda r: r["output"]))


def _run(spark, raw: str, work: str, transactional: bool = False):
    cfg = EngineConfig.model_validate(
        {
            "paths": {
                "raw_path": raw,
                "processed_path": os.path.join(work, "processed"),
                "reports_path": os.path.join(work, "reports"),
                "logs_path": os.path.join(work, "logs"),
            },
            "parquet": {"transactional": transactional},
        }
    )
    return run_pipeline(spark, cfg, dry_run=False)


def _observe(spark, raw: str, work: str) -> dict:
    res = _run(spark, raw, work)
    outputs = {}
    for path in sorted(res.outputs):
        rows, digest = _row_hash(path)
        with open(path + ".meta.json") as fh:
            sidecar = json.load(fh)
        del sidecar["exported_at"], sidecar["path"]
        outputs[os.path.basename(path)] = {
            "rows": rows,
            "row_hash": digest,
            "sidecar": _canon(sidecar),
            "files_per_partition": _files_per_partition(path),
        }
    with open(os.path.join(work, "reports", "dq_report.json")) as fh:
        dq = sorted(json.load(fh), key=lambda r: r["SYMBOL"])
    return {
        "outputs": outputs,
        "export_log": _log_rows(work),
        "dq_report": _canon(dq),
        "normalization": _canon(res.reports["normalization"]),
    }


def observe_all(spark, tmp: str) -> dict:
    gen = _gen()
    deep_raw = os.path.join(tmp, "deep_raw")
    gen.write_deep(deep_raw, gen.deep_series(SEED, DEEP_DAYS))
    wide_raw = os.path.join(tmp, "wide_raw")
    gen.write_wide(wide_raw, gen.wide_series(SEED, WIDE_SYMBOLS, WIDE_MINUTES))

    tx = os.path.join(tmp, "deep_tx")
    _run(spark, deep_raw, tx, transactional=True)
    return {
        "etl_deep": _observe(spark, deep_raw, os.path.join(tmp, "deep")),
        "etl_wide": _observe(spark, wide_raw, os.path.join(tmp, "wide")),
        "etl_deep_transactional_log": _log_rows(tx, drop=("table_version",)),
    }


def test_run_pipeline_matches_golden_outputs(spark, tmp_path):
    with open(GOLDEN) as fh:
        want = json.load(fh)
    got = observe_all(spark, str(tmp_path))
    for key in want:
        assert got[key] == want[key], key
    assert got.keys() == want.keys()


if __name__ == "__main__":
    import tempfile

    from etl_finance_pipeline_spark import get_spark

    session = get_spark(app_name="golden", master="local[4]", shuffle_partitions=4)
    session.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        observed = observe_all(session, tmp)
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as fh:
        json.dump(observed, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {GOLDEN}")
