"""Streaming sink into the transactional table format.

``foreachBatch`` + the commit log give an effectively-exactly-once
pipeline end to end: Structured Streaming's checkpoint guarantees each
epoch is delivered at least once, and the sink makes redelivery
idempotent by recording the epoch id in the commit manifest — a
retried epoch finds its ``source_batch_id`` already committed and
skips. This is the same recipe Delta's streaming sink uses
(txn-version-per-query in the log); the native streaming file sink
can't offer it for plain directories, and the reference has no
streaming path at all (SURVEY §2.10).

Scale: one commit per microbatch means the log grows with epochs —
pair with :func:`~etl_finance_pipeline_spark.sources.table_format.compact`
on a schedule (the standard OPTIMIZE cadence for streaming ingest).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from etl_finance_pipeline_spark.sources.table_format import (
    last_committed_epoch,
    write_table,
)


def await_stream(q, timeout: float = 300.0) -> None:
    """Block until streaming query *q* terminates, RAISING on timeout:
    ``awaitTermination(t)`` returns False when the clock runs out while
    the query is still running, and every availableNow lane reads its
    memory-table sink immediately afterward — ignoring that bool turns
    a hung microbatch into a silently partial (wrong) result. The one
    helper every batch-replayable streaming lane funnels through."""
    if not q.awaitTermination(timeout):
        q.stop()
        name = getattr(q, "name", None) or getattr(q, "id", "?")
        raise TimeoutError(
            f"streaming query {name} still running after {timeout}s"
        )


def _epoch_already_committed(
    table: str, epoch_id: int, txn_app_id: str | None = None
) -> bool:
    """O(1)-per-microbatch idempotence check: Structured Streaming
    epoch ids are monotonic per query, so a redelivered epoch is
    exactly one with id <= the committed high-water mark. The mark
    rides checkpoints, so it survives vacuum truncating manifests.
    Scoped by *txn_app_id* (Delta's txnAppId pattern) so a second
    query feeding the same table, or a query restarted with a fresh
    checkpoint (epoch ids reset to 0), is never gated by another
    writer's mark — without scoping those batches would be silently
    skipped (data loss, no error)."""
    last = last_committed_epoch(table, txn_app_id=txn_app_id)
    return last is not None and int(epoch_id) <= last


def _default_txn_app(checkpoint_dir: str) -> str:
    """Stable per-query writer id derived from the checkpoint
    location: the same query restarts with the same id (dedupe
    works), while a different query — or a relocated checkpoint,
    whose epoch ids restart at 0 — gets a fresh scope."""
    import hashlib

    key = os.path.abspath(checkpoint_dir).encode()
    return "ckpt-" + hashlib.sha256(key).hexdigest()[:12]


def write_batch_idempotent(
    batch_df: DataFrame,
    epoch_id: int,
    table: str,
    partition_by: list[str] | None = None,
    txn_app_id: str | None = None,
) -> bool:
    """foreachBatch body: append *batch_df* as one commit tagged with
    (*txn_app_id*, *epoch_id*), unless that epoch already committed
    under the same app id (redelivery after a sink failure → no
    duplicate data). Returns True if committed."""
    if _epoch_already_committed(table, epoch_id, txn_app_id):
        return False
    meta: dict = {"source_batch_id": int(epoch_id)}
    if txn_app_id:
        meta["source_txn_app"] = str(txn_app_id)
    write_table(
        batch_df,
        table,
        mode="append",
        partition_by=partition_by,
        extra_metadata=meta,
    )
    return True


def upsert_batch_idempotent(
    batch_df: DataFrame,
    epoch_id: int,
    table: str,
    key_cols: list[str],
    txn_app_id: str | None = None,
) -> bool:
    """foreachBatch body for streaming CDC apply: MERGE *batch_df*
    into *table* on *key_cols* as one commit tagged with *epoch_id*.
    Redelivered epochs skip via the manifest's ``source_batch_id`` —
    and a merge interrupted AFTER staging but BEFORE commit leaves
    only invisible orphan files (vacuum reclaims them), so the
    table never sees a partial epoch."""
    from etl_finance_pipeline_spark.sources.table_format import (
        merge_table,
        snapshot,
    )

    try:
        snapshot(table)
    except FileNotFoundError:
        return write_batch_idempotent(
            batch_df, epoch_id, table, txn_app_id=txn_app_id
        )
    if _epoch_already_committed(table, epoch_id, txn_app_id):
        return False
    meta: dict = {"source_batch_id": int(epoch_id)}
    if txn_app_id:
        meta["source_txn_app"] = str(txn_app_id)
    merge_table(
        batch_df.sparkSession,
        table,
        batch_df,
        key_cols,
        extra_metadata=meta,
    )
    return True


def stream_upsert_to_table(
    stream_df: DataFrame,
    table: str,
    checkpoint_dir: str,
    key_cols: list[str],
    available_now: bool = True,
    txn_app_id: str | None = None,
):
    """Streaming upsert (CDC apply): each microbatch MERGEs into the
    transactional table on *key_cols* — the standard pattern for
    maintaining a latest-state dimension or a deduplicated fact from
    an append-only change stream. File pruning inside merge_table
    keeps per-epoch work proportional to the batch's key range, not
    the table size (point-keyed epochs on a clustered table rewrite
    one file)."""

    app = txn_app_id or _default_txn_app(checkpoint_dir)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_batch_idempotent(batch_df, epoch_id, table, key_cols, app)

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_to_table(
    stream_df: DataFrame,
    table: str,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
    available_now: bool = True,
    auto_compact_every: int | None = None,
    txn_app_id: str | None = None,
):
    """Start a streaming query writing *stream_df* into the
    transactional table. Returns the StreamingQuery (caller awaits).

    *auto_compact_every*: run ``compact`` after every N committed
    epochs — the standard small-files control for streaming ingest
    (one commit per microbatch means one-or-more small files per
    epoch; without compaction a day of minute-batches is ~1440 tiny
    files). Compaction commits are ``data_change: false``, so change-
    feed consumers and incremental refreshes see nothing."""

    app = txn_app_id or _default_txn_app(checkpoint_dir)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        committed = write_batch_idempotent(
            batch_df, epoch_id, table, partition_by, app
        )
        # epoch ids are monotonic, so modular arithmetic on the id
        # gives the every-N cadence without an O(versions) log scan
        if (
            committed
            and auto_compact_every
            and (int(epoch_id) + 1) % auto_compact_every == 0
        ):
            from etl_finance_pipeline_spark.sources.table_format import (
                compact,
                snapshot,
            )

            # ~5M rows per output file: collapses epoch-sized shards
            # without creating a single-file bottleneck on big tables
            rows = snapshot(table).num_rows
            compact(
                batch_df.sparkSession,
                table,
                target_files=max(1, rows // 5_000_000),
            )

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
