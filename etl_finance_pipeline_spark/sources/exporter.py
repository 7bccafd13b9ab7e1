"""Sink: validated, partitioned, compressed Parquet export with
sidecar metadata, content hash, and an append-only NDJSON export log.

Capability parity with /root/reference/src/etl/load/exporter.py
(S7-S10, P6, P8-P9), Spark-first:
 * Validation (schema + OHLC sanity) is ONE aggregate — never a
   driver-side scan.
 * YEAR/MONTH partition columns derived with ``F.year``/``F.month``
   (exporter.py:94-125) → Hive-style partition pruning on read.
 * Content hash (exporter.py:76-91): sha256 over (row count, ts
   min/max, earliest 3 rows of the key columns) — the count and span
   reuse the validation row, so only one top-3 collect is added: O(1)
   driver data regardless of table size.
 * One sink for both pipeline sinks: plain directory Parquet, or an
   atomic append to the transactional table format; each writes the
   same sidecar.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_finance_pipeline_spark.sources import table_format

#: plain-sink file size bound, in rows
MAX_RECORDS_PER_FILE = 5_000_000


def validate_for_export(df: DataFrame, ts_col: str = "TIMESTAMP") -> dict:
    """Export-time validation (P8/P9/A4/O3).

    Schema assertions raise; data sanity checks come back as one
    report row: row/duplicate counts, time span, negative prices,
    LOW > min(O,H,C), HIGH < max(O,L,C) violation flags
    (exporter.py:26-71). A duplicate is a repeated non-NULL stamp per
    ``SYMBOL`` when that column is present (dedupe's key), so series
    sharing a clock do not count against each other.
    """
    field = dict(df.dtypes).get(ts_col)
    if field is None:
        raise ValueError(f"missing timestamp column {ts_col!r}")
    if not field.startswith("timestamp"):
        raise ValueError(f"{ts_col!r} must be TimestampType, got {field}")

    cols = set(df.columns)
    key = F.col(ts_col)
    if "SYMBOL" in cols:
        key = F.when(key.isNotNull(), F.struct("SYMBOL", ts_col))
    aggs = [
        F.count("*").alias("rows"),
        F.min(ts_col).alias("start"),
        F.max(ts_col).alias("end"),
        (F.count(key) - F.countDistinct(key)).alias("duplicate_timestamps"),
    ]
    price_cols = [c for c in ("OPEN", "HIGH", "LOW", "CLOSE") if c in cols]
    for c in price_cols:
        aggs.append(F.max((F.col(c) < 0).cast("int")).alias(f"negative_{c}"))
    if {"OPEN", "HIGH", "LOW", "CLOSE"} <= cols:
        aggs.append(
            F.max(
                (F.col("LOW") > F.least("OPEN", "HIGH", "CLOSE")).cast("int")
            ).alias("low_above_min")
        )
        aggs.append(
            F.max(
                (F.col("HIGH") < F.greatest("OPEN", "LOW", "CLOSE")).cast("int")
            ).alias("high_below_max")
        )
    row = df.agg(*aggs).collect()[0].asDict()
    for k in ("start", "end"):  # NULL on an empty frame: stays JSON null
        if row[k] is not None:
            row[k] = str(row[k])
    return row


def derive_partition_columns(
    df: DataFrame, partition_cols: list[str], ts_col: str = "TIMESTAMP"
) -> tuple[DataFrame, list[str]]:
    """Resolve requested partition columns case-insensitively; derive
    YEAR/MONTH from the timestamp when absent (P6, exporter.py:94-125)."""
    resolved: list[str] = []
    lower_map = {c.lower(): c for c in df.columns}
    for req in partition_cols:
        low = req.lower()
        if low in lower_map:
            resolved.append(lower_map[low])
        elif low == "year":
            df = df.withColumn("YEAR", F.year(ts_col))
            resolved.append("YEAR")
        elif low == "month":
            df = df.withColumn("MONTH", F.month(ts_col))
            resolved.append("MONTH")
        # unknown requested partition col: skip (reference warns + skips)
    return df, resolved


def content_hash(df: DataFrame, key_cols: list[str], validation: dict) -> str:
    """sha256 over (row count, ts min/max, head-3 of key columns) —
    cheap change-detection fingerprint (S10, exporter.py:76-91). The
    head is the first 3 rows ordered by *key_cols*, as the reference
    hashes the time-sorted ``head(3)``, so the hash does not depend on
    how *df* is partitioned. The count and span come from
    *validation*, the row :func:`validate_for_export` already
    collected, so the hash itself runs one top-3 job."""
    present = [c for c in key_cols if c in df.columns]
    head = (
        df.select(*present).orderBy(*present).limit(3).collect() if present else []
    )
    payload = json.dumps(
        {
            "rows": validation["rows"],
            "min": validation["start"],
            "max": validation["end"],
            "head": [[str(v) for v in r] for r in head],
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def write_parquet_with_metadata(
    df: DataFrame,
    out_path: str,
    *,
    compression: str = "zstd",
    partition_cols: list[str] | None = None,
    metadata: dict | None = None,
    transactional: bool = False,
) -> dict:
    """Validate → derive partition cols → write → content hash → sidecar
    ``<dir>.meta.json`` → return the export report (S7+S8,
    exporter.py:128-210). Only the write differs by sink: the plain one
    writes a sibling staging directory, sorted by partition and time
    within each task, and swaps it in for *out_path* once it and the
    hash succeed, so a failed export leaves the previous output and its
    sidecar as they were; the transactional one appends an atomic commit
    to the table at *out_path* and reports its ``table_version`` (its
    old sidecar goes before the write starts, so a failed write leaves
    none behind)."""
    report = {"validation": validate_for_export(df)}
    df, resolved = derive_partition_columns(df, partition_cols or [])

    sidecar = out_path.rstrip("/") + ".meta.json"
    if transactional:
        if os.path.exists(sidecar):
            os.remove(sidecar)
        snap = table_format.write_table(
            df, out_path, mode="append", partition_by=resolved, compression=compression
        )
        report["table_version"] = snap.version
        digest = content_hash(df, ["TIMESTAMP", "SYMBOL"], report["validation"])
    else:
        with _replacing(out_path, sidecar) as staging:
            (
                df.sortWithinPartitions(*resolved, "TIMESTAMP")
                .write.mode("overwrite")
                .option("compression", compression)
                .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
                .partitionBy(*resolved)
                .parquet(staging)
            )
            digest = content_hash(df, ["TIMESTAMP", "SYMBOL"], report["validation"])
    report.update(
        {
            "path": out_path,
            "compression": compression,
            "partition_cols": resolved,
            "content_hash": digest,
            "exported_at": datetime.now(timezone.utc).isoformat(),
            "user_metadata": metadata or {},
        }
    )
    with open(sidecar, "w") as fh:
        json.dump(report, fh, indent=2, default=str)
    return report


@contextlib.contextmanager
def _replacing(out_path: str, sidecar: str):
    """Yield a staging directory beside *out_path*. When the block
    succeeds, the old sidecar and directory go and the staging
    directory takes *out_path*'s name; when it fails, only the staging
    directory goes. Its name starts with ``.``, so a reader of the
    parent directory skips it."""
    parent, name = os.path.split(out_path.rstrip("/"))
    staging = os.path.join(parent, f".{name}.staging")
    try:
        yield staging
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if os.path.exists(sidecar):
        os.remove(sidecar)
    shutil.rmtree(out_path, ignore_errors=True)
    os.rename(staging, out_path.rstrip("/"))


def append_export_log(log_dir: str, entry: dict) -> None:
    """Append one JSON line per export to ``export_log.ndjson``
    (S9, exporter.py:213-220)."""
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, "export_log.ndjson"), "a") as fh:
        fh.write(json.dumps(entry, default=str) + "\n")
