"""Incremental aggregate maintenance over the table format's change
feed — materialized-view refresh without rescanning the base table.

A grouped SUM/COUNT aggregate is self-maintainable: inserts add to the
group, deletes subtract. ``refresh_aggregate`` consumes
``read_changes(base, from_version)``, folds each changed row in with a
±1 sign, and MERGEs the per-key deltas into the materialized state
table — per refresh the work is O(changed files), not O(base table).
At 100 TB that is the difference between an hourly dashboard rollup
costing one microbatch and costing a full scan.

AVG rides for free as sum/count at read time. MIN/MAX do NOT — they
are not self-maintainable under deletes (dropping the current min
needs the base table to find the next one); refusing them is the
correct semantics, same line Materialize/Flink draw for retractable
aggregates.

The refresh is transactional end-to-end: state rides the same commit
log as data, and the state manifest records the base version it
reflects (``base_version``), so a crashed refresh resumes from the
recorded high-water mark — at-least-once delivery of the feed plus
last-committed-version dedupe = exactly-once state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_finance_pipeline_spark.sources.table_format import (
    Snapshot,
    VacuumedRangeError,
    _list_versions,
    _read_manifest,
    read_changes,
    read_table,
    snapshot,
    write_table,
)


def aggregate_state_version(state_table: str) -> int | None:
    """The base-table version the materialized state currently
    reflects (its refresh high-water mark), or None if no state."""
    for v in reversed(_list_versions(state_table)):
        m = _read_manifest(state_table, v)
        if m.get("base_version") is not None:
            return int(m["base_version"])
    return None


def refresh_aggregate(
    spark: SparkSession,
    base_table: str,
    state_table: str,
    key_cols: list[str],
    sum_cols: list[str],
) -> Snapshot | None:
    """Bring the materialized grouped aggregate in *state_table* up to
    date with *base_table*. State schema: key_cols + ``<c>_sum`` per
    sum column + ``row_count``.

    First call (no state yet) runs the one full aggregation and stamps
    the base version. Subsequent calls read ONLY the change feed past
    the recorded high-water mark, fold inserts as +x/+1 and deletes as
    −x/−1, combine with the current state, and commit the merged rows
    as the next state version (groups whose count reaches 0 are
    dropped). Returns the new state snapshot, or None if already
    current.
    """
    base_version = snapshot(base_table).version
    seen = aggregate_state_version(state_table)

    sums = [
        F.sum(F.col(c).cast("double")).alias(f"{c}_sum") for c in sum_cols
    ]
    if seen is None:
        # Pin the scan to the version captured above: reading the
        # unpinned latest would fold a concurrent commit into the
        # state while stamping the earlier base_version, and the next
        # refresh's change feed would then replay (double-count) it.
        agg = (
            read_table(spark, base_table, version=base_version)
            .groupBy(*key_cols)
            .agg(*sums, F.count("*").alias("row_count"))
        )
        return write_table(
            agg,
            state_table,
            mode="overwrite",
            extra_metadata={"base_version": base_version},
        )
    if seen >= base_version:
        return None

    try:
        changes = read_changes(
            spark, base_table, from_version=seen, to_version=base_version
        )
    except VacuumedRangeError:
        # Part of the feed past our high-water mark was vacuumed — the
        # deltas are unrecoverable, so recompute the aggregate from the
        # base snapshot instead of silently losing them. Pinned to the
        # version captured at entry for the same replay-race reason as
        # the initial build above.
        agg = (
            read_table(spark, base_table, version=base_version)
            .groupBy(*key_cols)
            .agg(*sums, F.count("*").alias("row_count"))
        )
        return write_table(
            agg,
            state_table,
            mode="overwrite",
            extra_metadata={"base_version": base_version},
        )
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = (
        changes.withColumn("_sign", sign)
        .groupBy(*key_cols)
        .agg(
            *[
                F.sum(F.col(c).cast("double") * F.col("_sign")).alias(f"{c}_sum")
                for c in sum_cols
            ],
            F.sum("_sign").alias("row_count"),
        )
    )
    state = read_table(spark, state_table)
    merged = (
        state.unionByName(delta)
        .groupBy(*key_cols)
        .agg(
            *[F.sum(f"{c}_sum").alias(f"{c}_sum") for c in sum_cols],
            F.sum("row_count").alias("row_count"),
        )
        .filter(F.col("row_count") > 0)
    )
    return write_table(
        merged,
        state_table,
        mode="overwrite",
        extra_metadata={"base_version": base_version},
    )


def refresh_authority(
    spark: SparkSession,
    edges_table: str,
    state_table: str,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    edge_delta_threshold: float = 0.1,
) -> Snapshot | None:
    """Incremental link-graph authority maintenance — the
    continuous-crawl shape: the crawl keeps appending (and retracting)
    edges to *edges_table*; the standing PageRank in *state_table* is
    re-ranked ONLY when the accumulated edge delta since the last rank
    exceeds *edge_delta_threshold* (as a fraction of the ranked edge
    count), and carried unchanged otherwise. Rank is a global
    fixpoint, so unlike grouped sums it is NOT self-maintainable from
    deltas — the honest incremental contract is delta-DETECTION at
    O(changed files) (the change feed plans only files past the
    high-water mark) with a full re-rank, itself O(current edges),
    only when the graph has moved enough to matter. This is how
    production rank pipelines amortize: per-batch cost stays
    proportional to the batch until the deferred drift crosses the
    budget.

    State rides the same commit log as data (``base_version`` high-
    water mark, ``n_edges`` of the ranked graph), so a crashed refresh
    resumes exactly like refresh_aggregate. A vacuumed feed range
    degrades to the same answer the threshold path gives: re-rank
    from the pinned base snapshot.

    Returns the new state snapshot, or None when the standing rank is
    carried (delta under threshold, or already current).
    """
    from etl_finance_pipeline_spark.operators.graph import pagerank

    base_version = snapshot(edges_table).version
    seen = aggregate_state_version(state_table)

    def _rerank() -> Snapshot:
        edges = read_table(
            spark, edges_table, version=base_version
        ).select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        n_edges = edges.distinct().count()
        ranks = pagerank(edges, iters=iters, damping=damping)
        return write_table(
            ranks,
            state_table,
            mode="overwrite",
            extra_metadata={
                "base_version": base_version,
                "n_edges": n_edges,
            },
        )

    if seen is None:
        return _rerank()
    if seen >= base_version:
        return None
    try:
        changes = read_changes(
            spark, edges_table, from_version=seen, to_version=base_version
        )
    except VacuumedRangeError:
        return _rerank()
    # O(changed files): the feed plans only commits past the mark
    n_delta = changes.count()
    latest = _read_manifest(state_table, _list_versions(state_table)[-1])
    n_ranked = int(latest.get("n_edges", 0) or 0)
    if n_ranked > 0 and n_delta / n_ranked <= edge_delta_threshold:
        return None  # carry the standing rank; mark stays at `seen`
    return _rerank()


def read_aggregate(
    spark: SparkSession, state_table: str, avg_for: list[str] | None = None
) -> DataFrame:
    """Read the materialized aggregate; *avg_for* derives ``<c>_avg``
    columns from the maintained sum/count pairs."""
    out = read_table(spark, state_table)
    for c in avg_for or []:
        out = out.withColumn(f"{c}_avg", F.col(f"{c}_sum") / F.col("row_count"))
    return out
