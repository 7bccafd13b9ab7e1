"""Sources: CSV / Parquet readers, directory scan, quarantine.

Capability parity with /root/reference/src/etl/extract/ (S1-S6),
Spark-first:
 * One ``spark.read`` per FORMAT (not per file) — Spark lists, splits
   and parallelizes the whole directory natively; per-file identity is
   recovered with ``input_file_name()``. The reference's per-file loop
   (extractor.py:18-61) would serialize a 100 TB directory on the
   driver.
 * Corrupt CSV/JSON rows are kept in PERMISSIVE mode under
   ``_corrupt_record``: ``split_quarantine`` splits them off for a
   dead-letter sink, and ``normalize_df`` counts and drops them —
   row-level handling, stronger than the reference's whole-file
   quarantine (extractor.py:56-59), which we also keep for unreadable
   files.
 * At scale pass an explicit schema: ``inferSchema`` is a full extra
   pass over the data.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SUPPORTED_EXTENSIONS = {
    ".csv": "csv",
    ".parquet": "parquet",
    ".pq": "parquet",
    ".json": "json",
    ".ndjson": "json",
    ".jsonl": "json",
    ".orc": "orc",
}

CORRUPT_COL = "_corrupt_record"


def detect_file_type(path: str) -> str:
    """Extension -> format name; raise for unsupported (S2, parity:
    file_detector.py:5-11)."""
    ext = os.path.splitext(path)[1].lower()
    if ext not in SUPPORTED_EXTENSIONS:
        raise ValueError(f"unsupported file type: {path}")
    return SUPPORTED_EXTENSIONS[ext]


def sample_csv_schema(
    spark: SparkSession,
    paths: str | list[str],
    sample_files: int = 8,
    options: dict[str, str] | None = None,
) -> T.StructType:
    """Infer a CSV schema from a BOUNDED file sample.

    ``inferSchema`` over the full input is a second complete pass —
    at 100 TB that doubles the scan. Reading the schema off the first
    *sample_files* files bounds inference cost by file count, not
    dataset size; the schema then applies schema-first to the full
    read, where PERMISSIVE mode quarantines any later row the sampled
    schema cannot hold (e.g. a wider numeric appearing only past the
    sample) instead of silently re-typing the column.
    """
    plist = [paths] if isinstance(paths, str) else list(paths)
    # A directory or glob is ONE entry here but many files underneath —
    # slicing the unexpanded list would silently run full-dataset
    # inference. Expand to the concrete file listing first so the
    # bound really is a file-count bound.
    expanded: list[str] = []
    for p in plist:
        if glob.has_magic(p):
            expanded.extend(sorted(glob.glob(p)))
        elif os.path.isdir(p):
            expanded.extend(
                sorted(
                    os.path.join(p, n)
                    for n in os.listdir(p)
                    if n.lower().endswith(".csv") and not n.startswith((".", "_"))
                )
            )
        else:
            expanded.append(p)
    reader = spark.read.option("header", True).option("inferSchema", True)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.csv(expanded[:sample_files]).schema


def read_csv(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType | None = None,
    with_source_file: bool = True,
    options: dict[str, str] | None = None,
    infer_sample_files: int | None = 8,
) -> DataFrame:
    """CSV source with permissive corrupt-record capture (S3+S6),
    schema-first: pass *schema* explicitly (the production path), or
    it is inferred from the first *infer_sample_files* files
    (:func:`sample_csv_schema`) and applied to the whole read — never
    a full-dataset inference pass. ``infer_sample_files=None`` restores
    full inference for small/dev data. A string ``_corrupt_record``
    column captures rows the schema cannot hold, for row-level
    quarantine.
    """
    if schema is None and infer_sample_files is not None:
        schema = sample_csv_schema(
            spark, paths, sample_files=infer_sample_files, options=options
        )
    reader = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if schema is not None:
        if CORRUPT_COL not in schema.fieldNames():
            schema = schema.add(T.StructField(CORRUPT_COL, T.StringType(), True))
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.csv(paths)
    if with_source_file:
        df = df.withColumn("_source_file", F.input_file_name())
    return df


def read_json(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType | None = None,
    with_source_file: bool = True,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """NDJSON/JSON-lines source with permissive corrupt-record capture
    (same dead-letter contract as the CSV reader)."""
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", CORRUPT_COL
    )
    if schema is not None:
        if CORRUPT_COL not in schema.fieldNames():
            schema = schema.add(T.StructField(CORRUPT_COL, T.StringType(), True))
        reader = reader.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.json(paths)
    if with_source_file:
        df = df.withColumn("_source_file", F.input_file_name())
    return df


def read_parquet(
    spark: SparkSession, paths: str | list[str], with_source_file: bool = True
) -> DataFrame:
    """Parquet source (S4)."""
    df = spark.read.parquet(*([paths] if isinstance(paths, str) else paths))
    if with_source_file:
        df = df.withColumn("_source_file", F.input_file_name())
    return df


def read_orc(
    spark: SparkSession, paths: str | list[str], with_source_file: bool = True
) -> DataFrame:
    """ORC source — same self-describing-schema contract as parquet
    (footer schema, no inference pass), read with Spark's native
    vectorized ORC reader."""
    df = spark.read.orc(*([paths] if isinstance(paths, str) else paths))
    if with_source_file:
        df = df.withColumn("_source_file", F.input_file_name())
    return df


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_rows, quarantined_rows) based on the corrupt-record column.

    Note: Spark disallows queries over a raw CSV scan whose required
    schema is ONLY the corrupt-record column (e.g. ``bad.count()``,
    SPARK UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) —
    write the quarantine frame to its dead-letter sink (references all
    columns, always allowed) or cache it first if you need bare counts.
    """
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return good, bad


@dataclass
class LoadResult:
    """Result of a directory load: one DataFrame per format, plus
    per-read metadata and the quarantine listing (S5/S6)."""

    frames: dict[str, DataFrame] = field(default_factory=dict)
    quarantined_files: list[dict] = field(default_factory=list)
    metadata: list[dict] = field(default_factory=list)


def load_directory(
    spark: SparkSession,
    raw_path: str,
    schema: T.StructType | None = None,
) -> LoadResult:
    """Scan a directory, group files by detected format, read each
    group with ONE distributed reader call (S1).

    Unsupported or unreadable files land in ``quarantined_files``
    (whole-file dead-letter, parity extractor.py:56-59); the driver
    only ever touches file NAMES, never file contents.
    """
    result = LoadResult()
    by_format: dict[str, list[str]] = {}
    for name in sorted(os.listdir(raw_path)):
        full = os.path.join(raw_path, name)
        # Spark writes datasets as DIRECTORIES (part.parquet/, out.orc/)
        # — a directory whose name carries a supported extension is that
        # format's dataset; extensionless directories are skipped.
        if not os.path.isfile(full):
            ext = os.path.splitext(name)[1].lower()
            if os.path.isdir(full) and ext in SUPPORTED_EXTENSIONS:
                by_format.setdefault(SUPPORTED_EXTENSIONS[ext], []).append(full)
            continue
        try:
            fmt = detect_file_type(full)
            by_format.setdefault(fmt, []).append(full)
        except ValueError as exc:
            result.quarantined_files.append({"file": full, "reason": str(exc)})

    readers = {
        "csv": lambda f: read_csv(spark, f, schema=schema),
        "json": lambda f: read_json(spark, f, schema=schema),
        "parquet": lambda f: read_parquet(spark, f),
        "orc": lambda f: read_orc(spark, f),
    }
    for fmt, files in by_format.items():
        try:
            df, n_read = readers[fmt](files), len(files)
        except Exception:  # unreadable group → per-file fallback
            readable = []
            for f in files:
                try:
                    readable.append(readers[fmt](f))
                except Exception as exc:
                    result.quarantined_files.append({"file": f, "reason": str(exc)})
            if not readable:
                continue
            df, n_read = readable[0], len(readable)
            for one in readable[1:]:
                df = df.unionByName(one, allowMissingColumns=True)
        result.frames[fmt] = df
        result.metadata.append(
            {"format": fmt, "files": n_read, "columns": df.columns, "status": "ok"}
        )
    return result
