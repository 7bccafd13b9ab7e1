"""Transactional parquet table format — a minimal Delta-style commit log.

The reference's sink is a bare ``to_parquet`` directory
(/root/reference/src/etl/load/exporter.py:60-118): a crashed write
leaves a half-written table and readers racing a writer see partial
data. At 100 TB on object storage that is not survivable, so this
engine ships a log-structured table format in the spirit of
Delta Lake / Iceberg (public designs: Armbrust et al., "Delta Lake:
High-Performance ACID Table Storage over Cloud Object Stores",
VLDB 2020):

* Data files are immutable parquet parts under ``data/<commit-id>/``.
* Table state is the REPLAY of ``_log/<version>.json`` manifests —
  each an atomic append/overwrite commit listing files added/removed
  with row counts and hive-style partition values.
* Commit = write-temp + hard-link claim of the next version number:
  ``os.link`` fails if the version exists, which makes the log an
  optimistic-concurrency primitive (loser re-reads and retries).
  On S3-like stores the same contract is a put-if-absent.
* Readers resolve a snapshot (latest or ``version=``) to a file list;
  partition predicates prune files driver-side BEFORE Spark ever
  lists them — scan cost is proportional to matching files only.

Commit actions: ``append`` (add files), ``overwrite`` (reset then
add), ``replace`` (remove a listed file subset, add rewrites — the
primitive behind MERGE and any future DELETE/OPTIMIZE-by-partition).
:func:`merge_table` implements upsert with Delta-style file pruning:
only files whose key stats overlap the source are rewritten.

Log replay is bounded by CHECKPOINT manifests: every
``_CHECKPOINT_INTERVAL``-th commit also writes
``_log/<version>.checkpoint.json`` holding the fully-resolved file
list, so ``snapshot()`` loads the newest checkpoint ≤ the requested
version and replays only the suffix — O(interval) commit reads no
matter how many total commits exist (Delta writes a parquet
checkpoint every 10th commit for the same reason). Checkpoints are
derived state: deterministic from the log, safe to rewrite, never
required for correctness (a missing checkpoint just means a longer
replay).

Schema evolution on append is ADDITIVE and TYPED: new columns may
appear (old files read as NULL for them via union-by-name), but a
type change on an existing column raises :class:`SchemaEvolutionError`
at commit time — never discovered later by a reader. Each manifest
records the full merged schema, so a snapshot's schema is the last
commit's, not a function of which files survived.

Single-table transactions only.
"""

from __future__ import annotations

import glob
import json
import os
import time
import re
import uuid
from dataclasses import dataclass
from datetime import date, datetime, timezone, tzinfo
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, IntegerType, StringType, StructField, StructType
from pyspark.sql.types import TimestampNTZType, TimestampType

_LOG_DIR = "_log"
_DATA_DIR = "data"
_VERSION_DIGITS = 20
_CHECKPOINT_INTERVAL = 10
_MAX_RETRIES = 5
# one stats bound of each time type: _like coerces a value to its type
_TIME_BOUNDS = {
    TimestampType: datetime(1970, 1, 1, tzinfo=timezone.utc),
    TimestampNTZType: datetime(1970, 1, 1),
    DateType: date(1970, 1, 1),
}


class CommitConflict(RuntimeError):
    """Another writer claimed the version this commit targeted."""


class ExpectationViolation(ValueError):
    """A write-time expectation failed; nothing was committed."""

    def __init__(self, violations: dict[str, int]):
        self.violations = violations
        super().__init__(f"expectations violated: {violations}")


class SchemaEvolutionError(ValueError):
    """An append tried to change the type of an existing column."""


class VacuumedRangeError(RuntimeError):
    """A change-feed range includes versions whose manifests were
    vacuumed — the deltas are unrecoverable and the consumer must fall
    back to a full recompute instead of silently skipping them."""

    def __init__(self, table: str, missing: list[int]):
        self.table = table
        self.missing = missing
        super().__init__(
            f"change feed on {table} needs vacuumed versions {missing}; "
            "full recompute required"
        )


@dataclass
class Snapshot:
    version: int
    files: list[dict]  # {"path": rel, "rows": int, "partition_values": {}}
    schema_ddl: str | None
    schema_json: str | None = None

    @property
    def num_rows(self) -> int:
        return sum(f.get("rows", 0) for f in self.files)

    @property
    def schema(self) -> StructType | None:
        return StructType.fromJson(json.loads(self.schema_json)) if self.schema_json else None


def _log_path(table: str) -> str:
    return os.path.join(table, _LOG_DIR)


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(_log_path(table), f"{version:0{_VERSION_DIGITS}d}.json")


def _list_log(table: str, suffix: str) -> list[int]:
    """Sorted version numbers of the ``<version><suffix>`` log files."""
    logdir = _log_path(table)
    names = os.listdir(logdir) if os.path.isdir(logdir) else []
    stems = [n[: -len(suffix)] for n in names if n.endswith(suffix)]
    return sorted(int(v) for v in stems if v.isdigit())


def _list_versions(table: str) -> list[int]:
    return _list_log(table, ".json")


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(
        _log_path(table), f"{version:0{_VERSION_DIGITS}d}.checkpoint.json"
    )


def _list_checkpoints(table: str) -> list[int]:
    return _list_log(table, ".checkpoint.json")


def _read_manifest(table: str, version: int) -> dict:
    """The commit manifest of *version* — the one place a log file is
    opened (checkpoints aside)."""
    with open(_manifest_path(table, version)) as fh:
        return json.load(fh)


def _replay(table: str, versions: list[int], version: int) -> tuple[dict, list[dict]]:
    """The newest checkpoint at or before *version* (``{}`` if none)
    and the manifests after it up to *version*, oldest first: what
    ``snapshot()`` and ``_epoch_marks()`` fold over. O(_CHECKPOINT_INTERVAL)
    manifest reads however long the log is; a missing checkpoint only
    means a longer replay."""
    usable = [cp for cp in _list_checkpoints(table) if cp <= version]
    ckpt: dict = {}
    if usable:
        with open(_checkpoint_path(table, usable[-1])) as fh:
            ckpt = json.load(fh)
    start = usable[-1] + 1 if usable else 0
    return ckpt, [_read_manifest(table, v) for v in versions if start <= v <= version]


def _maybe_checkpoint(table: str, snap: Snapshot) -> None:
    """Write a resolved-state checkpoint if *snap* lands on the
    interval and none exists yet. Derived state: concurrent writers
    produce byte-identical content (the log below the version is
    immutable), so last-rename-wins via ``os.replace`` is safe."""
    if snap.version == 0 or snap.version % _CHECKPOINT_INTERVAL:
        return
    _force_checkpoint(table, snap)


def _force_checkpoint(table: str, snap: Snapshot) -> None:
    path = _checkpoint_path(table, snap.version)
    if os.path.exists(path):
        return
    tmp = os.path.join(_log_path(table), f".tmp-ckpt-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "checkpoint_version": snap.version,
                "files": snap.files,
                "schema": snap.schema_ddl,
                "schema_json": snap.schema_json,
                # Streaming-sink epoch high-water marks ride the
                # checkpoint so idempotence survives vacuum (which
                # deletes the manifests that carry source_batch_id).
                # Per-txn-app dict ("" = writes without an app id);
                # the legacy global max is kept for old readers.
                "max_source_batch_ids": _epoch_marks(table, snap.version),
                "max_source_batch_id": last_committed_epoch(table, snap.version),
            },
            fh,
            default=str,
        )
    os.replace(tmp, path)


def _epoch_marks(table: str, version: int | None = None) -> dict[str, int]:
    """Per-txn-app streaming epoch high-water marks at or before
    *version* (default: latest): ``{txn_app_id: max source_batch_id}``
    with ``""`` collecting writes that carried no app id.
    O(_CHECKPOINT_INTERVAL): reads the newest checkpoint's recorded
    marks plus the manifest suffix after it — never the whole log."""
    versions = _list_versions(table)
    if not versions:
        return {}
    ckpt, manifests = _replay(table, versions, versions[-1] if version is None else version)
    marks: dict[str, int] = {}
    raw = ckpt.get("max_source_batch_ids")
    if raw is not None:
        marks = {str(k): int(v) for k, v in raw.items()}
    elif ckpt.get("max_source_batch_id") is not None:  # pre-per-app checkpoint
        marks[""] = int(ckpt["max_source_batch_id"])
    for m in manifests:
        b = m.get("source_batch_id")
        if b is None:
            continue
        app = str(m.get("source_txn_app") or "")
        if app not in marks or int(b) > marks[app]:
            marks[app] = int(b)
    return marks


def last_committed_epoch(
    table: str, version: int | None = None, txn_app_id: str | None = None
) -> int | None:
    """Highest streaming ``source_batch_id`` committed at or before
    *version* (default: latest), or None if no streaming sink has
    written. Structured Streaming epoch ids are monotonic per QUERY,
    so the max is a valid dedupe watermark only within one query's
    writes: pass *txn_app_id* to scope the mark to that writer (the
    Delta txnAppId pattern) — two queries feeding one table, or a
    query whose checkpoint was relocated (epoch ids reset to 0), must
    not be gated by each other's marks. With no *txn_app_id* the
    global max across all writers is returned (legacy single-writer
    view, also what the vacuum-surviving checkpoint records)."""
    marks = _epoch_marks(table, version)
    if txn_app_id is not None:
        b = marks.get(str(txn_app_id))
        return int(b) if b is not None else None
    return max(marks.values()) if marks else None


def _merge_schemas(old: StructType, new: StructType) -> StructType:
    """Additive, typed merge: *new* may add columns; a type change on
    a shared column is refused. Field order = old order then new
    additions (readers re-project to this order)."""
    by_name = {f.name: f for f in old.fields}
    order = [f.name for f in old.fields]
    for f in new.fields:
        prev = by_name.get(f.name)
        if prev is None:
            by_name[f.name] = f
            order.append(f.name)
        elif prev.dataType != f.dataType:
            raise SchemaEvolutionError(
                f"column {f.name!r}: {prev.dataType.simpleString()} -> "
                f"{f.dataType.simpleString()} is not an additive change"
            )
        elif f.nullable and not prev.nullable:
            by_name[f.name] = StructField(f.name, f.dataType, nullable=True)
    return StructType([by_name[n] for n in order])


def _partition_values(rel_path: str) -> dict[str, str]:
    """Parse hive-style ``K=V`` directory components of a part path."""
    vals: dict[str, str] = {}
    for comp in rel_path.split(os.sep):
        if "=" in comp and not comp.startswith("part-"):
            k, _, v = comp.partition("=")
            vals[k] = v
    return vals


def _stage_files(
    df: DataFrame, table: str, partition_by: list[str] | None, compression: str | None = None
) -> tuple[list[dict], str]:
    """Write *df* as immutable parquet parts under a fresh commit dir
    and return their manifest entries (path relative to table root,
    per-file row counts from the parquet footers)."""
    commit_id = uuid.uuid4().hex
    data_dir = os.path.join(table, _DATA_DIR, commit_id)
    # INT96 timestamps have no footer min/max → no data skipping;
    # force INT64 micros even when the caller's session predates
    # get_spark's default (engine sessions already set this)
    df.sparkSession.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    writer = df.write.mode("error")
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)

    import pyarrow.parquet as pq

    entries = []
    for path in glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True):
        rel = os.path.relpath(path, table)
        meta = pq.ParquetFile(path).metadata
        if meta.num_rows == 0:
            # Spark emits one part file per write task; empty tasks
            # produce zero-row files. Dropping them here keeps manifests
            # proportional to data, not to parallelism — and their empty
            # stats would otherwise defeat data skipping (missing stats
            # are conservatively kept).
            os.remove(path)
            continue
        entries.append(
            {
                "path": rel,
                "rows": meta.num_rows,
                "partition_values": _partition_values(rel),
                "stats": _column_stats(meta),
            }
        )
    return entries, commit_id


def _column_stats(meta) -> dict[str, list]:
    """Per-column [min, max] from the parquet row-group footers —
    free at write time, and the basis for data skipping on
    NON-partition columns at read time (same role as Delta's
    per-file stats / Iceberg manifests)."""
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for rg in range(meta.num_row_groups):
        row_group = meta.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            if "." in name:  # nested — skip
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                continue  # undecoded binary stats are not comparable
            if name not in mins or mn < mins[name]:
                mins[name] = mn
            if name not in maxs or mx > maxs[name]:
                maxs[name] = mx
    return {k: [mins[k], maxs[k]] for k in mins if k in maxs}


def _zorder_value(df: DataFrame, cols: list[str], bits: int = 8) -> DataFrame:
    """Append ``_zvalue``: interleaved-bit Z-order key over *cols*
    (Morton code — the multi-dimension analogue of ``cluster_by``'s
    1-D range sort, same role as Delta OPTIMIZE ZORDER BY). Numeric /
    timestamp dims bucket equal-width from a one-row min/max agg;
    string dims bucket by hash (equal values co-locate, which is all
    file skipping needs). Sorting by the interleaved key gives every
    dimension locality ∝ 1/ndims, so footer [min, max] stats stay
    tight on ALL listed columns instead of just the first."""
    n = 1 << bits
    dtypes = dict(df.dtypes)
    # order-preserving numeric image of each dim: numerics cast to
    # double; strings take their first-4-byte big-endian value (NOT a
    # hash — footer min/max stats are lexicographic, so the bucketing
    # must preserve lexicographic order for skipping to line up)
    nums = {}
    for c in cols:
        if dtypes[c] == "string":
            nums[c] = F.conv(
                F.hex(F.substring(F.rpad(F.col(c), 4, "\x00").cast("binary"), 1, 4)),
                16,
                10,
            ).cast("double")
        else:
            nums[c] = F.col(c).cast("double")
    stats = df.agg(
        *[
            f
            for c in cols
            for f in (
                F.min(nums[c]).alias(f"_mn_{c}"),
                F.max(nums[c]).alias(f"_mx_{c}"),
            )
        ]
    ).first()
    buckets = []
    for c in cols:
        mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
        if mn is None or mx is None or mx == mn:
            b = F.lit(0)
        else:
            width = (mx - mn) / n
            b = F.least(F.lit(n - 1), F.floor((nums[c] - F.lit(mn)) / F.lit(width)))
        buckets.append(F.coalesce(b.cast("long"), F.lit(0)))
    z = F.lit(0).cast("long")
    for i, b in enumerate(buckets):
        for k in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, k).bitwiseAND(F.lit(1)), k * len(cols) + i)
            )
    return df.withColumn("_zvalue", z)


def _try_commit(table: str, version: int, manifest: dict) -> None:
    """Atomically claim *version*: hard-link a temp manifest onto the
    version path. ``os.link`` is create-exclusive, so exactly one
    writer wins a version; the loser gets :class:`CommitConflict`."""
    logdir = _log_path(table)
    os.makedirs(logdir, exist_ok=True)
    tmp = os.path.join(logdir, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, default=str)
    try:
        os.link(tmp, _manifest_path(table, version))
    except FileExistsError as exc:
        raise CommitConflict(f"version {version} already committed") from exc
    finally:
        os.unlink(tmp)


def _commit(
    table: str,
    action: str,
    commit_id: str,
    files: list[dict],
    schema: StructType | None,
    partition_by: list[str] | None,
    extra: dict | None = None,
    removed: list[dict] | None = None,
    read: Snapshot | None = None,
    overlap_preds: list[tuple] | None = None,
    conflict: str = "",
) -> Snapshot:
    """The one optimistic-commit loop: claim the next version with a
    manifest listing staged *files* (plus *extra* keys), then return
    the committed snapshot. On :class:`CommitConflict` an append or
    overwrite simply retries at the next version. A replace (*removed*
    given: the live files it rewrote out of snapshot *read*) retries
    only while :func:`_conflict_retry_safe` holds, and otherwise raises
    *conflict* — re-claiming with stale file lists would resurrect
    rows a concurrent commit dropped. Gives up after ``_MAX_RETRIES``."""
    for _ in range(_MAX_RETRIES):
        versions = _list_versions(table)
        version = (versions[-1] + 1) if versions else 0
        # an append's schema merge must run INSIDE the retry loop: on
        # conflict the winning commit may itself have evolved the schema
        commit_schema = schema
        if action == "append" and versions:
            prior = snapshot(table, versions[-1]).schema
            if prior is not None:
                commit_schema = _merge_schemas(prior, schema)
        manifest = {
            "version": version,
            "action": action,
            "commit_id": commit_id,
            **({"removed": [f["path"] for f in removed]} if removed is not None else {}),
            "files": files,
            "schema": commit_schema.simpleString() if commit_schema else None,
            "schema_json": commit_schema.json() if commit_schema else None,
            "partition_by": partition_by or [],
            "committed_at": datetime.now(timezone.utc).isoformat(),
            **(extra or {}),
        }
        try:
            _try_commit(table, version, manifest)
        except CommitConflict:
            if removed is None or _conflict_retry_safe(table, read, removed, overlap_preds):
                continue
            raise CommitConflict(conflict) from None
        snap = snapshot(table, version)
        _maybe_checkpoint(table, snap)
        return snap
    raise CommitConflict(f"gave up after {_MAX_RETRIES} retries on {table}")


def write_table(
    df: DataFrame,
    table: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    extra_metadata: dict | None = None,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_files: int | None = None,
    expectations: dict[str, str] | None = None,
    on_violation: str = "fail",
    compression: str | None = None,
) -> Snapshot:
    """Commit *df* to *table* atomically. mode='append' adds files;
    mode='overwrite' logically removes every live file first (data
    files are never deleted — history stays time-travelable). Data is
    staged before the commit is attempted, so a version conflict
    retries only the (cheap) manifest claim, never the data write.

    *cluster_by* range-partitions and sorts the data on those columns
    before writing, so each file covers a narrow [min, max] slice —
    which is what makes ``read_table(stats_filter=…)`` skip files
    instead of merely not-matching rows (the Z-ordering role in
    Delta's OPTIMIZE; one dimension here, the common case for time
    series clustered by timestamp).

    *zorder_by* is the multi-dimension variant: rows are range-
    partitioned and sorted by an interleaved-bit Morton key over the
    listed columns, so file [min, max] stats stay tight on EVERY
    listed dimension — a (SYMBOL, ts) z-ordered table skips files for
    one-symbol reads AND time-range reads. Mutually exclusive with
    *cluster_by* (which wins on its first column only).

    *expectations* are write-time quality constraints (Delta CHECK
    constraint / DLT expectation role): ``{"name": "sql predicate"}``.
    Violation counts ride the write itself via ``observe`` — zero
    extra passes. ``on_violation="fail"`` refuses to commit when any
    count is nonzero (staged files stay invisible; vacuum reclaims
    them); ``"drop"`` filters violating rows out and commits, with
    per-expectation counts recorded in the manifest either way.
    *compression* is the new files' codec; None keeps the session's."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    if on_violation not in ("fail", "drop"):
        raise ValueError(f"on_violation must be fail|drop, got {on_violation!r}")
    observation = None
    if expectations:
        from pyspark.sql import Observation

        observation = Observation()
        df = df.observe(
            observation,
            # NULL predicate result counts as a violation — matching
            # the drop-mode filter, which only keeps rows that are TRUE
            *[
                F.sum(
                    (~F.coalesce(F.expr(pred), F.lit(False))).cast("long")
                ).alias(name)
                for name, pred in expectations.items()
            ],
        )
        if on_violation == "drop":
            for pred in expectations.values():
                df = df.filter(F.expr(pred))
    if zorder_by:
        # zorder_files pins the output file count; default lets AQE
        # size the range shuffle (it coalesces small tables to 1)
        range_args = ([zorder_files] if zorder_files else []) + ["_zvalue"]
        df = (
            _zorder_value(df, zorder_by)
            .repartitionByRange(*range_args)
            .sortWithinPartitions("_zvalue")
            .drop("_zvalue")
        )
    if cluster_by:
        df = df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)
    entries, commit_id = _stage_files(df, table, partition_by, compression)
    violation_counts: dict[str, int] = {}
    if observation is not None:
        violation_counts = {k: int(v or 0) for k, v in observation.get.items()}
        if on_violation == "fail" and any(violation_counts.values()):
            # staged files have no manifest: invisible to every reader,
            # reclaimed by vacuum
            raise ExpectationViolation(
                {k: v for k, v in violation_counts.items() if v}
            )
    return _commit(
        table, mode, commit_id, entries, df.schema, partition_by,
        extra={
            **({"expectations": violation_counts} if violation_counts or expectations else {}),
            **(extra_metadata or {}),
        },
    )


def snapshot(table: str, version: int | None = None) -> Snapshot:
    """Resolve the table state at *version* (default: latest): load
    the newest checkpoint ≤ *version*, then replay only the manifest
    suffix after it — O(_CHECKPOINT_INTERVAL) reads regardless of
    total log length. Time travel to pre-checkpoint versions uses the
    closest older checkpoint (or a full replay for the earliest ones);
    correctness never depends on a checkpoint existing.

    TIMESTAMP and DATE stats bounds, which manifests store as strings
    (``json.dump(default=str)``), come back as ``datetime``/``date`` —
    typed by the schema the log records — so they compare as times."""
    versions = _list_versions(table)
    if not versions:
        raise FileNotFoundError(f"no table at {table}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise ValueError(f"version {version} not in {table} (have {versions})")
    ckpt, manifests = _replay(table, versions, version)
    files: list[dict] = list(ckpt.get("files", []))
    schema_ddl, schema_json = ckpt.get("schema"), ckpt.get("schema_json")
    for manifest in manifests:
        if manifest["action"] == "overwrite":
            files = []
        elif manifest["action"] == "replace":
            removed = set(manifest.get("removed", []))
            files = [f for f in files if f["path"] not in removed]
        files.extend(manifest["files"])
        schema_ddl = manifest.get("schema") or schema_ddl
        schema_json = manifest.get("schema_json") or schema_json
    snap = Snapshot(version, files, schema_ddl, schema_json)
    bounds = {
        f.name: _TIME_BOUNDS[type(f.dataType)]
        for f in (snap.schema.fields if snap.schema else [])
        if type(f.dataType) in _TIME_BOUNDS
    }
    for f in files:
        stats = f.get("stats") or {}
        for col in bounds.keys() & stats.keys():
            stats[col] = [_like(v, bounds[col], timezone.utc) for v in stats[col]]
    return snap


def _session_tz(spark: SparkSession | None = None) -> ZoneInfo:
    spark = spark or SparkSession.getActiveSession()
    return ZoneInfo(spark.conf.get("spark.sql.session.timeZone") if spark else "UTC")


def _like(value, bound, tz: tzinfo | None = None):
    """*value* coerced to the type of the stats *bound* it is compared
    with: a ``datetime`` (aware for TIMESTAMP, naive for TIMESTAMP_NTZ)
    or a ``date``; anything else passes through. A naive ISO-8601
    string (``T`` or space separator) is read in *tz* (default: the
    active session's time zone), as ``CAST(… AS TIMESTAMP)`` reads it;
    a naive ``datetime`` is local time, as ``collect()`` returns it. On
    a DATE bound a time of day is dropped, as ``CAST(… AS DATE)`` drops
    it."""
    if isinstance(bound, datetime):
        if isinstance(value, datetime):
            if bound.tzinfo is not None and value.tzinfo is None:
                return value.astimezone()
            return value
        if isinstance(value, str):
            value = datetime.fromisoformat(value)
            if bound.tzinfo is not None and value.tzinfo is None:
                value = value.replace(tzinfo=tz or _session_tz())
        return value
    if isinstance(bound, date) and isinstance(value, (str, datetime)):
        return date.fromisoformat(str(value)[:10])
    return value


def _typed_predicates(spark: SparkSession, snap: Snapshot, predicates: list[tuple]) -> list[tuple]:
    """*predicates* with each value coerced once, by its column's type
    in *snap*'s schema, to what that column's stats bounds decode to —
    so per-file matching never has to look up the session time zone."""
    types = {f.name: type(f.dataType) for f in snap.schema.fields} if snap.schema else {}
    tz = _session_tz(spark)
    return [(c, op, _like(v, _TIME_BOUNDS.get(types.get(c)), tz)) for c, op, v in predicates]


def _stats_match(stats: dict[str, list], predicates: list[tuple]) -> bool:
    """Could a file with these [min, max] ranges hold a matching row?
    Conservative: missing stats ⇒ keep the file."""
    for col, op, value in predicates:
        rng = stats.get(col)
        if not rng:
            continue
        mn, mx = rng
        value = _like(value, mn)
        if (
            (op == ">=" and mx < value)
            or (op == ">" and mx <= value)
            or (op == "<=" and mn > value)
            or (op == "<" and mn >= value)
            or (op == "=" and not (mn <= value <= mx))
        ):
            return False
    return True


def read_table(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    partition_filter: dict[str, str] | None = None,
    stats_filter: list[tuple] | None = None,
) -> DataFrame:
    """Read a snapshot. *partition_filter* (e.g. ``{"SYMBOL":
    "EURUSD"}``) prunes files on the driver from manifest metadata —
    Spark receives only matching paths, so a one-symbol read of a
    thousand-symbol table lists and scans 1/1000th of the files. The
    hive partition columns are re-derived with basePath so they stay
    queryable columns.

    *stats_filter* skips files by footer min/max on NON-partition
    columns: ``[("ts", ">=", "2024-01-02T09:30"), ("CLOSE", "<", 2.0)]``
    drops every file whose recorded [min, max] cannot intersect the
    predicate (files without stats for the column are kept). Timestamp
    and date bounds compare as times, not text: pass a ``datetime``
    or an ISO-8601 string (``T`` or space separator); a
    naive string is read in the session time zone, as ``CAST(… AS
    TIMESTAMP)`` reads it, and a naive ``datetime`` as local time, as
    ``collect()`` returns it. This prunes I/O only — apply the same
    predicate in the query for row-level filtering."""
    snap = snapshot(table, version)
    files = snap.files
    if partition_filter:
        files = [f for f in files if _in_partition(f, partition_filter)]
    if stats_filter:
        preds = _typed_predicates(spark, snap, stats_filter)
        files = [f for f in files if _stats_match(f.get("stats") or {}, preds)]
    if not files:
        empty_schema = snap.schema or snap.schema_ddl or "dummy string"
        return spark.createDataFrame([], empty_schema)
    out = _read_files(spark, table, files, snap.schema)
    schema = snap.schema
    if schema is not None:
        # evolved tables: files written before a column existed read as
        # NULL (union-by-name); re-project to the committed field order
        # so the snapshot schema, not commit order, is the contract
        cols = [f.name for f in schema.fields if f.name in out.columns]
        cols += [c for c in out.columns if c not in cols]
        out = out.select(*cols)
    return out


def _in_partition(f: dict, partition_filter: dict[str, str]) -> bool:
    """Does manifest entry *f* lie in the hive partition *partition_filter* names?"""
    return all(
        f.get("partition_values", {}).get(k) == str(v) for k, v in partition_filter.items()
    )


def _hive_layout(df: DataFrame, files: list[dict], also: tuple[str, ...] = ()) -> list[str]:
    """The hive layout a rewrite of *files* keeps: every key in their
    ``partition_values`` (first-seen order), then *also*. A rewrite
    staged without it would leave files with no partition values, which
    ``read_table(partition_filter=…)`` silently drops."""
    keys = list(dict.fromkeys([k for f in files for k in f.get("partition_values", {})] + [*also]))
    for k in keys:
        if k not in df.columns:
            raise ValueError(f"partition column {k!r} not in data")
    return keys


def _infer_partition_type(values: list[str]) -> str:
    """Mimic Spark's hive partition type inference over the manifest's
    path values: int → bigint → double → string."""
    for cast_to, name in ((int, "int"), (float, "double")):
        try:
            nums = [cast_to(v) for v in values]
        except ValueError:
            continue
        if cast_to is int and not all(-(2**31) <= n < 2**31 for n in nums):
            return "bigint"
        return name
    return "string"


def _read_files(
    spark: SparkSession,
    table: str,
    files: list[dict],
    schema: StructType | None = None,
) -> DataFrame:
    """ONE scan relation for the whole snapshot — the driver acts as
    the FileIndex (the role Delta's TahoeFileIndex plays): Spark gets
    the explicit pruned file list (mergeSchema covers additive
    evolution across commits), and hive partition columns are
    re-derived from the file paths. When the snapshot's recorded
    *schema* is passed, partition columns are cast to their DECLARED
    types — path-value re-inference would corrupt string partitions
    that look numeric (``MONTH=01`` → int 1, breaking later
    partition-filtered reads after a rewrite). The previous
    formulation scanned per commit dir and unioned — O(commits)
    relations, which a streaming-ingest table turns into thousands;
    this plans one scan regardless of commit count. Partition values
    containing %-escapes are not unescaped (none of our writers
    produce them)."""
    paths = [os.path.join(table, f["path"]) for f in files]
    pvals: dict[str, list[str]] = {}
    for f in files:
        for k, v in f.get("partition_values", {}).items():
            pvals.setdefault(k, []).append(v)
    declared = {f.name: f.dataType.simpleString() for f in schema.fields} if schema else {}
    out = spark.read.option("mergeSchema", "true").parquet(*paths)
    for k, vals in pvals.items():
        ext = F.regexp_extract(F.input_file_name(), re.escape(k) + "=([^/]+)", 1)
        if k in out.columns:
            # some files carry k as a data column (unpartitioned
            # commits, and merge/delete rewrites written before those
            # kept the hive layout), others only in the path
            col = F.when(ext != "", ext).otherwise(F.col(k).cast("string"))
        else:
            col = F.when(ext != "", ext)
        out = out.withColumn(k, col.cast(declared.get(k) or _infer_partition_type(vals)))
    return out


def _conflict_retry_safe(
    table: str,
    prior_snap: Snapshot,
    removed_files: list[dict],
    overlap_preds: list[tuple] | None = None,
) -> bool:
    """After a :class:`CommitConflict`: may the rewrite re-claim the
    next version with its pre-conflict removed/files lists? Only if the
    conflicting commits are disjoint from what it read and removes —
    every removed file must still be live (else re-committing would
    resurrect rows a concurrent delete/merge dropped), and, when
    *overlap_preds* is given, no NEW live file may overlap that key
    range (files without stats count as overlapping)."""
    live = snapshot(table)
    live_paths = {f["path"] for f in live.files}
    if not {f["path"] for f in removed_files} <= live_paths:
        return False
    if overlap_preds is not None:
        prior_paths = {f["path"] for f in prior_snap.files}
        for f in live.files:
            if f["path"] not in prior_paths and _stats_match(
                f.get("stats") or {}, overlap_preds
            ):
                return False
    return True


def merge_table(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    key_cols: list[str],
    extra_metadata: dict | None = None,
) -> Snapshot:
    """MERGE (upsert) *source* into *table* on *key_cols*: matching
    rows are replaced, new keys are inserted — with Delta-style file
    pruning. Only files whose footer [min, max] ranges on the key
    columns can intersect the source's key range are rewritten; every
    other file is carried into the new snapshot UNTOUCHED via a
    ``replace`` commit (removed + added file lists). On a clustered
    table a point-key merge rewrites one file, not 100 TB.

    Rewrite = (overlapping files ∖ source keys by left_anti) ∪ source,
    staged under the table's hive layout. Missing stats on a key column
    ⇒ the file is conservatively rewritten. Data files are immutable;
    time travel to pre-merge versions is unaffected.
    """
    snap = snapshot(table)
    # key range of the source (driver-side: one tiny agg)
    bounds = source.agg(
        *[expr for c in key_cols for expr in (
            F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}"))]
    ).collect()[0]
    preds = _typed_predicates(spark, snap, [
        (c, op, bounds[f"_{m}_{c}"]) for c in key_cols for op, m in ((">=", "mn"), ("<=", "mx"))
    ])
    overlapping = [f for f in snap.files if _stats_match(f.get("stats") or {}, preds)]

    if overlapping:
        existing = _read_files(spark, table, overlapping, snap.schema)
        keep = existing.join(source.select(*key_cols), on=key_cols, how="left_anti")
        rewrite = keep.unionByName(source, allowMissingColumns=True)
    else:
        rewrite = source
    partition_by = _hive_layout(rewrite, snap.files)
    entries, commit_id = _stage_files(rewrite, table, partition_by)
    return _commit(
        table, "replace", commit_id, entries, rewrite.schema, partition_by,
        extra={"merge_keys": key_cols, **(extra_metadata or {})},
        removed=overlapping, read=snap, overlap_preds=preds,
        conflict=f"concurrent commit on {table} touched data this merge "
        "read; re-run merge_table against the new snapshot",
    )


def delete_where(
    spark: SparkSession,
    table: str,
    condition: str,
    stats_pruning: list[tuple] | None = None,
) -> Snapshot:
    """DELETE rows matching *condition* (a Spark SQL predicate).
    *stats_pruning* (same shape as ``read_table(stats_filter=…)``,
    describing where matching rows CAN live) limits the rewrite to
    overlapping files; without it every file is rewritten, under the
    table's hive layout. Files whose rewrite keeps all rows could be
    skipped too — left simple here. History stays time-travelable.

    Concurrent appends serialize fine (our delete first, the append
    after); a concurrent rewrite of a file we remove does not — the
    delete aborts instead of resurrecting its old bytes."""
    snap = snapshot(table)
    touched = list(snap.files)
    if stats_pruning:
        preds = _typed_predicates(spark, snap, stats_pruning)
        touched = [f for f in touched if _stats_match(f.get("stats") or {}, preds)]
    if not touched:
        return snap
    kept = _read_files(spark, table, touched, snap.schema).filter(f"NOT ({condition})")
    partition_by = _hive_layout(kept, snap.files)
    entries, commit_id = _stage_files(kept, table, partition_by)
    return _commit(
        table, "replace", commit_id, entries, kept.schema, partition_by,
        extra={"delete_condition": condition}, removed=touched, read=snap,
        conflict=f"concurrent commit on {table} rewrote data this delete "
        "read; re-run delete_where against the new snapshot",
    )


def compact_partition(
    spark: SparkSession,
    table: str,
    partition_filter: dict[str, str],
    target_files: int = 1,
) -> Snapshot:
    """Partition-scoped OPTIMIZE: coalesce only the files of ONE hive
    partition into *target_files*, committed as a ``replace`` (removed
    + added lists) marked ``data_change: false``. At 100 TB you never
    compact the whole table — you compact the partitions the streaming
    sink just fragmented, one replace commit each, while every other
    partition's files carry over untouched by path.

    Compaction moves bytes, not rows — but only for the bytes it read:
    a concurrent rewrite of a touched file aborts the compaction
    instead of being overwritten by it."""
    snap = snapshot(table)
    touched = [f for f in snap.files if _in_partition(f, partition_filter)]
    if len(touched) <= target_files:
        return snap
    df = _read_files(spark, table, touched, snap.schema).coalesce(target_files)
    # the table's FULL hive layout, not just the filter keys: a filter
    # naming a subset of a multi-column layout (e.g. {YEAR: 2024} over
    # YEAR/MONTH) must keep the other keys
    partition_by = _hive_layout(df, touched, tuple(partition_filter))
    entries, commit_id = _stage_files(df, table, partition_by)
    return _commit(
        table, "replace", commit_id, entries, snap.schema, partition_by,
        extra={"data_change": False}, removed=touched, read=snap,
        conflict=f"concurrent commit on {table} rewrote a file this "
        "compaction read; re-run compact_partition",
    )


def compact(
    spark: SparkSession,
    table: str,
    target_files: int | None = None,
    partition_by: list[str] | None = None,
) -> Snapshot:
    """Rewrite the current snapshot into one fresh commit (OPTIMIZE):
    reads the live file set, writes it back coalesced, commits as an
    overwrite. Readers are snapshot-isolated throughout — they replay
    either the old log suffix or the new one, never a mixture — and
    time travel to pre-compaction versions still works because data
    files are immutable and never deleted. Bounds the O(commits) scan
    fan-out of :func:`read_table` after many small appends (the
    streaming-ingest pattern). *partition_by* defaults to the hive
    layout already present in the snapshot's files."""
    snap = snapshot(table)
    df = read_table(spark, table)
    if partition_by is None:
        partition_by = _hive_layout(df, snap.files) or None
    if target_files is not None:
        df = df.coalesce(target_files)
    # data_change=False: compaction rearranges bytes, not rows —
    # read_changes must not surface it as a full delete+insert
    return write_table(
        df,
        table,
        mode="overwrite",
        partition_by=partition_by,
        extra_metadata={"data_change": False},
    )


def history(table: str) -> list[dict]:
    """The commit log, oldest first (version/action/rows/timestamp)."""
    out = []
    for v in _list_versions(table):
        m = _read_manifest(table, v)
        out.append(
            {
                "version": m["version"],
                "action": m["action"],
                "num_files": len(m["files"]),
                "rows_added": sum(f.get("rows", 0) for f in m["files"]),
                "committed_at": m.get("committed_at"),
                "source_batch_id": m.get("source_batch_id"),
            }
        )
    return out


def read_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change feed: the rows each commit in ``(from_version,
    to_version]`` inserted or removed, as the snapshot data plus
    ``_change_type`` ('insert' | 'delete') and ``_commit_version``
    columns — the incremental-consumer API (downstream jobs resume
    from their last-seen version instead of re-scanning the table).

    Granularity is FILE-level, like the manifests themselves: an
    append is pure inserts; a replace commit (merge/delete) surfaces
    rewritten files as delete+insert pairs, including rows the rewrite
    carried over unchanged — consumers that need row-level deltas
    reconcile on their merge keys. Commits marked
    ``data_change: false`` (compaction) move bytes, not rows, and are
    skipped entirely.
    """
    versions = _list_versions(table)
    if not versions:
        raise FileNotFoundError(f"no table at {table}")
    if to_version is None:
        to_version = versions[-1]
    # Every version in the requested range must still have its
    # manifest. vacuum() truncates old manifests, so a consumer whose
    # from_version predates the cutoff would otherwise silently skip
    # those commits' rows and stamp the new high-water mark — losing
    # deltas with no error.
    missing = sorted(set(range(from_version + 1, to_version + 1)) - set(versions))
    if missing:
        raise VacuumedRangeError(table, missing)
    targets = [v for v in versions if from_version < v <= to_version]
    parts: list[DataFrame] = []
    for v in targets:
        m = _read_manifest(table, v)
        if m.get("data_change") is False:
            continue
        commit_schema = (
            StructType.fromJson(json.loads(m["schema_json"]))
            if m.get("schema_json")
            else None
        )
        removed_entries: list[dict] = []
        if m["action"] in ("overwrite", "replace") and v > 0:
            # Delete rows come from the PRIOR snapshot; if that version
            # was vacuumed the deletes are unrecoverable too.
            if v - 1 not in versions:
                raise VacuumedRangeError(table, [v - 1])
            prior = snapshot(table, v - 1).files
            if m["action"] == "overwrite":
                removed_entries = prior
            else:
                removed = set(m.get("removed", []))
                removed_entries = [f for f in prior if f["path"] in removed]
        for entries, kind in ((m["files"], "insert"), (removed_entries, "delete")):
            if entries:
                parts.append(
                    _read_files(spark, table, entries, commit_schema)
                    .withColumn("_change_type", F.lit(kind))
                    .withColumn("_commit_version", F.lit(v).cast("int"))
                )
    if not parts:
        base = snapshot(table, to_version).schema
        fields = list(base.fields) if base else []
        schema = StructType(
            fields
            + [
                StructField("_change_type", StringType()),
                StructField("_commit_version", IntegerType()),
            ]
        )
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def vacuum(
    table: str,
    keep_versions: int = 1,
    min_age_seconds: float | None = None,
) -> dict:
    """Physically delete data files referenced ONLY by snapshots older
    than the last *keep_versions*, and truncate their manifests. Time
    travel inside the retained window keeps working — a checkpoint is
    forced at the new log start so replay never needs the dropped
    manifests; travel past the cutoff is gone (that is what vacuum
    means). Data files are shared across snapshots, so anything still
    referenced by a retained version survives.

    *min_age_seconds* is the production safety net for concurrent
    writers: staged-but-uncommitted files look unreferenced, so a
    vacuum racing a slow writer could delete its staged data before
    the commit. With an age floor, only unreferenced files whose mtime
    is older than the window are deleted — the same contract as
    Delta's retention period. Single-writer test pipelines can omit
    it. Returns
    ``{"data_files_deleted", "manifests_deleted", "cutoff_version"}``.
    """
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    versions = _list_versions(table)
    if not versions:
        raise FileNotFoundError(f"no table at {table}")
    retained = versions[-keep_versions:]
    cutoff = retained[0]
    referenced: set[str] = set()
    for v in retained:
        referenced.update(f["path"] for f in snapshot(table, v).files)
    _force_checkpoint(table, snapshot(table, cutoff))
    logdir = _log_path(table)
    deleted_files = 0
    now = time.time()
    for root, _dirs, names in os.walk(table):
        if os.path.abspath(root).startswith(os.path.abspath(logdir)):
            continue
        for name in names:
            full = os.path.join(root, name)
            rel = os.path.relpath(full, table)
            if rel not in referenced and not name.startswith("."):
                if (
                    min_age_seconds is not None
                    and now - os.path.getmtime(full) < min_age_seconds
                ):
                    continue  # possibly a concurrent writer's staged file
                os.remove(full)
                deleted_files += 1
    deleted_manifests = 0
    for v in versions:
        if v >= cutoff:
            continue
        os.remove(_manifest_path(table, v))
        deleted_manifests += 1
    for cp in _list_checkpoints(table):
        if cp < cutoff:
            os.remove(_checkpoint_path(table, cp))
    return {
        "data_files_deleted": deleted_files,
        "manifests_deleted": deleted_manifests,
        "cutoff_version": cutoff,
    }
