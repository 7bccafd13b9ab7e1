"""Sink: validated, partitioned, compressed Parquet export with
sidecar metadata, content hash, and an append-only NDJSON export log.

Capability parity with /root/reference/src/etl/load/exporter.py
(S7-S10, P6, P8-P9), Spark-first:
 * Validation (schema + OHLC sanity) is ONE aggregate — never a
   driver-side scan.
 * YEAR/MONTH partition columns derived with ``F.year``/``F.month``
   (exporter.py:94-125) → Hive-style partition pruning on read.
 * Content hash (exporter.py:76-91): sha256 over (row count, ts
   min/max, head-3 of key columns) — the count and span reuse the
   validation row, so only a ``limit(3)`` collect is added: O(1)
   driver data regardless of table size.
 * Writer knobs for the 100 TB path: zstd, ``maxRecordsPerFile`` to
   bound file sizes, optional sort-within-partitions for time-ordered
   row groups (better scan locality + min/max pruning).
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def validate_for_export(df: DataFrame, ts_col: str = "TIMESTAMP") -> dict:
    """Export-time validation (P8/P9/A4/O3).

    Schema assertions raise; data sanity checks come back as one
    report row: row/duplicate counts, time span, negative prices,
    LOW > min(O,H,C), HIGH < max(O,L,C) violation flags
    (exporter.py:26-71).
    """
    field = dict(df.dtypes).get(ts_col)
    if field is None:
        raise ValueError(f"missing timestamp column {ts_col!r}")
    if not field.startswith("timestamp"):
        raise ValueError(f"{ts_col!r} must be TimestampType, got {field}")

    cols = set(df.columns)
    aggs = [
        F.count("*").alias("rows"),
        F.min(ts_col).alias("start"),
        F.max(ts_col).alias("end"),
        (F.count(ts_col) - F.countDistinct(ts_col)).alias("duplicate_timestamps"),
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
    row["start"] = str(row["start"])
    row["end"] = str(row["end"])
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
    count and span come from *validation*, the row
    :func:`validate_for_export` already collected, so the hash itself
    reads only the head."""
    present = [c for c in key_cols if c in df.columns]
    head = df.select(*present).limit(3).collect() if present else []
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
    ts_col: str = "TIMESTAMP",
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
    sort_within_partitions: bool = True,
) -> dict:
    """Validate → derive partition cols → write partitioned zstd
    parquet → sidecar ``<dir>.meta.json`` → return the export report
    (S7+S8, exporter.py:128-210)."""
    report = {"validation": validate_for_export(df, ts_col)}
    df, resolved = derive_partition_columns(df, partition_cols or [], ts_col)

    writer_df = df
    if sort_within_partitions:
        sort_cols = [c for c in (*resolved, ts_col) if c in df.columns]
        writer_df = df.sortWithinPartitions(*sort_cols)

    writer = (
        writer_df.write.mode(mode)
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records_per_file)
    )
    if resolved:
        writer = writer.partitionBy(*resolved)
    writer.parquet(out_path)

    report.update(
        {
            "path": out_path,
            "compression": compression,
            "partition_cols": resolved,
            "content_hash": content_hash(
                df, [ts_col, "SYMBOL"], report["validation"]
            ),
            "exported_at": datetime.now(timezone.utc).isoformat(),
            "user_metadata": metadata or {},
        }
    )
    with open(out_path.rstrip("/") + ".meta.json", "w") as fh:
        json.dump(report, fh, indent=2, default=str)
    return report


def overwrite_partitions(
    df: DataFrame,
    out_path: str,
    partition_cols: list[str],
    *,
    compression: str = "zstd",
    ts_col: str = "TIMESTAMP",
    max_records_per_file: int = 5_000_000,
) -> dict:
    """Idempotent partition backfill: rewrite ONLY the Hive partitions
    present in *df*, leaving every other partition of *out_path*
    untouched — the re-run primitive for "reprocess yesterday" jobs
    (a plain ``mode=overwrite`` would truncate the whole dataset; a
    plain append would duplicate the re-run's rows).

    Implemented with Spark's dynamic partition overwrite
    (``partitionOverwriteMode=dynamic``, scoped to this write via the
    writer option rather than a session-level config mutation).
    Re-running the same input is a no-op on the dataset's contents —
    the exactly-once property batch backfills need.

    Returns {path, partitions_written, rows}.
    """
    df2, resolved = derive_partition_columns(df, partition_cols, ts_col)
    if not resolved:
        raise ValueError("overwrite_partitions requires partition columns")
    parts = [
        tuple(r) for r in df2.select(*resolved).distinct().collect()
    ]
    (
        df2.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*resolved)
        .parquet(out_path)
    )
    return {
        "path": out_path,
        "partitions_written": sorted(parts),
        "rows": df2.count(),
    }


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist *df* as a bucketed+sorted managed table — the
    pre-partitioning recipe for repeated co-located joins: two tables
    bucketed on the same key with the same bucket count sort-merge
    join WITHOUT any exchange (verified in tests/test_bucketing.py).

    At 100 TB: bucket the big fact tables on their join keys once at
    ingest; every downstream join on those keys skips its shuffle.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols is None:
        sort_cols = bucket_cols
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def append_export_log(log_dir: str, entry: dict) -> None:
    """Append one JSON line per export to ``export_log.ndjson``
    (S9, exporter.py:213-220)."""
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, "export_log.ndjson"), "a") as fh:
        fh.write(json.dumps(entry, default=str) + "\n")
