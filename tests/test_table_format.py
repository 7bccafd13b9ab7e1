"""Transactional table format: atomic commits, snapshot isolation,
time travel, driver-side partition pruning, optimistic concurrency."""

from __future__ import annotations

import os

import pytest

from etl_finance_pipeline_spark.sources.table_format import (
    CommitConflict,
    _manifest_path,
    _try_commit,
    history,
    read_table,
    snapshot,
    write_table,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "SYMBOL string, CLOSE double")


def test_append_and_read_latest(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0)]), t)
    write_table(_df(spark, [("GBPUSD", 2.0)]), t)
    got = {tuple(r) for r in read_table(spark, t).collect()}
    assert got == {("EURUSD", 1.0), ("GBPUSD", 2.0)}
    assert [h["version"] for h in history(t)] == [0, 1]


def test_time_travel_and_overwrite(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0)]), t)
    write_table(_df(spark, [("GBPUSD", 2.0)]), t)
    write_table(_df(spark, [("USDJPY", 3.0)]), t, mode="overwrite")
    # latest sees only the overwrite
    assert read_table(spark, t).collect()[0]["SYMBOL"] == "USDJPY"
    # version 1 still replays append history (data files never deleted)
    v1 = {r["SYMBOL"] for r in read_table(spark, t, version=1).collect()}
    assert v1 == {"EURUSD", "GBPUSD"}
    assert snapshot(t).num_rows == 1
    assert snapshot(t, 1).num_rows == 2


def test_partition_pruning_is_driver_side(spark, tmp_path):
    t = str(tmp_path / "tbl")
    rows = [(s, float(i)) for i, s in enumerate(["EURUSD", "GBPUSD", "USDJPY"]) for _ in range(3)]
    write_table(_df(spark, rows), t, partition_by=["SYMBOL"])
    snap = snapshot(t)
    assert all(f["partition_values"].get("SYMBOL") for f in snap.files)
    out = read_table(spark, t, partition_filter={"SYMBOL": "GBPUSD"})
    assert {r["SYMBOL"] for r in out.collect()} == {"GBPUSD"}
    # pruning happened before Spark: only GBPUSD files in the scan
    scan = out._jdf.queryExecution().executedPlan().toString()
    assert "EURUSD" not in scan
    # partition column restored as a queryable column with basePath
    assert out.filter("CLOSE >= 0").count() == 3


def test_commit_conflict_retries(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0)]), t)
    # squat on version 1: the next write must detect the conflict and
    # land on version 2
    _try_commit(t, 1, {"version": 1, "action": "append", "files": [], "schema": None})
    snap = write_table(_df(spark, [("GBPUSD", 2.0)]), t)
    assert snap.version == 2
    with pytest.raises(CommitConflict):
        _try_commit(t, 2, {"version": 2, "action": "append", "files": [], "schema": None})


def test_crashed_write_invisible(spark, tmp_path):
    """Staged data without a committed manifest is invisible: simulate
    a writer that died between staging and commit."""
    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0)]), t)
    from etl_finance_pipeline_spark.sources.table_format import _stage_files

    _stage_files(_df(spark, [("ZOMBIE", 9.9)]), t, None)  # no commit
    got = {r["SYMBOL"] for r in read_table(spark, t).collect()}
    assert got == {"EURUSD"}
    # and the next real commit is unaffected
    write_table(_df(spark, [("GBPUSD", 2.0)]), t)
    assert snapshot(t).num_rows == 2


def test_empty_snapshot_after_missing_table(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        snapshot(str(tmp_path / "nope"))


def test_compact_preserves_data_and_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for i in range(4):  # 4 small append commits
        write_table(_df(spark, [(f"SYM{i}", float(i))]), t)
    before = {tuple(r) for r in read_table(spark, t).collect()}
    from etl_finance_pipeline_spark.sources.table_format import compact

    snap = compact(spark, t, target_files=1)
    assert snap.version == 4 and len(snap.files) == 1
    assert {tuple(r) for r in read_table(spark, t).collect()} == before
    # pre-compaction versions still time-travelable
    assert read_table(spark, t, version=1).count() == 2


def test_compact_keeps_partition_layout(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0), ("GBPUSD", 2.0)]), t, partition_by=["SYMBOL"])
    write_table(_df(spark, [("EURUSD", 3.0)]), t, partition_by=["SYMBOL"])
    from etl_finance_pipeline_spark.sources.table_format import compact

    snap = compact(spark, t)
    assert all(f["partition_values"].get("SYMBOL") for f in snap.files)
    out = read_table(spark, t, partition_filter={"SYMBOL": "EURUSD"})
    assert sorted(r["CLOSE"] for r in out.collect()) == [1.0, 3.0]


def test_stats_pruning_skips_files(spark, tmp_path):
    """Footer min/max stats prune non-matching files driver-side:
    three commits with disjoint CLOSE ranges; a range predicate reads
    only the overlapping file(s)."""
    t = str(tmp_path / "tbl")
    for lo in (0.0, 10.0, 20.0):
        write_table(
            _df(spark, [("EURUSD", lo + i) for i in range(5)]), t
        )
    snap = snapshot(t)
    assert all("CLOSE" in f["stats"] for f in snap.files)
    out = read_table(spark, t, stats_filter=[("CLOSE", ">=", 10.0), ("CLOSE", "<", 20.0)])
    # only the middle commit's files are scanned (a commit may hold
    # several part-files; every one outside [10, 20) must be skipped)
    scanned = out.inputFiles()
    matching = {
        os.path.dirname(f["path"])
        for f in snap.files
        if f["stats"]["CLOSE"][1] >= 10.0 and f["stats"]["CLOSE"][0] < 20.0
    }
    assert scanned and {p.split("/data/")[1].split("/")[0] for p in scanned} == {
        d.split(os.sep)[1] for d in matching
    }
    assert len(scanned) < 15  # strictly fewer than the full file set
    assert sorted(r["CLOSE"] for r in out.collect()) == [10.0, 11.0, 12.0, 13.0, 14.0]
    # equality predicate outside every range -> empty frame, zero files
    none = read_table(spark, t, stats_filter=[("CLOSE", "=", 99.0)])
    assert none.count() == 0
    # missing-stats column is conservative: everything kept
    assert read_table(spark, t, stats_filter=[("NOPE", ">=", 1)]).count() == 15


def test_cluster_by_tightens_file_ranges(spark, tmp_path):
    """cluster_by range-sorts before writing: each file covers a
    disjoint CLOSE slice, so a point predicate scans exactly one
    file (unclustered, every file straddles the full range)."""
    rows = [("S", float(i)) for i in range(1000)]
    import random

    random.Random(7).shuffle(rows)
    plain, clustered = str(tmp_path / "plain"), str(tmp_path / "clus")
    df = spark.createDataFrame(rows, "SYMBOL string, CLOSE double").repartition(4)
    write_table(df, plain)
    write_table(df, clustered, cluster_by=["CLOSE"])
    pred = [("CLOSE", ">=", 10.0), ("CLOSE", "<", 20.0)]
    n_plain = len(read_table(spark, plain, stats_filter=pred).inputFiles())
    n_clus = len(read_table(spark, clustered, stats_filter=pred).inputFiles())
    assert n_clus < n_plain, (n_clus, n_plain)
    got = read_table(spark, clustered, stats_filter=pred).filter(
        "CLOSE >= 10 AND CLOSE < 20"
    )
    assert got.count() == 10


def test_merge_upserts_with_file_pruning(spark, tmp_path):
    """MERGE rewrites only files whose key stats overlap the source:
    two disjoint-range commits; merging keys in the second range
    updates/inserts there and carries the first commit's files
    untouched (same paths in the new snapshot)."""
    from etl_finance_pipeline_spark.sources.table_format import merge_table

    t = str(tmp_path / "tbl")
    lo = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k long, v double"
    )
    hi = spark.createDataFrame(
        [(i, float(i)) for i in range(100, 110)], "k long, v double"
    )
    write_table(lo, t)
    write_table(hi, t)
    lo_paths = {f["path"] for f in snapshot(t).files if f["stats"]["k"][1] < 100}
    src = spark.createDataFrame(
        [(105, 999.0), (200, 2.0)], "k long, v double"  # update + insert
    )
    snap = merge_table(spark, t, src, ["k"])
    got = {r["k"]: r["v"] for r in read_table(spark, t).collect()}
    assert got[105] == 999.0 and got[200] == 2.0 and got[5] == 5.0
    assert len(got) == 21
    # low-range files survived the merge byte-identically (not rewritten)
    assert lo_paths <= {f["path"] for f in snap.files}
    # time travel to pre-merge still shows the original value
    assert {r["k"]: r["v"] for r in read_table(spark, t, version=1).collect()}[105] == 105.0


def test_merge_into_clustered_table_rewrites_one_slice(spark, tmp_path):
    from etl_finance_pipeline_spark.sources.table_format import merge_table

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "k long, v double"
    ).repartition(4)
    write_table(df, t, cluster_by=["k"])
    n_files = len(snapshot(t).files)
    src = spark.createDataFrame([(500, -1.0)], "k long, v double")
    snap = merge_table(spark, t, src, ["k"])
    rewritten = n_files + len(snap.files) - len(
        {f["path"] for f in snapshot(t, version=0).files} & {f["path"] for f in snap.files}
    ) - len(snap.files)
    # all but one original file carried over
    carried = {f["path"] for f in snapshot(t, 0).files} & {f["path"] for f in snap.files}
    assert len(carried) == n_files - 1, (n_files, len(carried), rewritten)
    assert {r["v"] for r in read_table(spark, t).filter("k = 500").collect()} == {-1.0}
    assert read_table(spark, t).count() == 1000


def test_delete_where_prunes_and_time_travels(spark, tmp_path):
    from etl_finance_pipeline_spark.sources.table_format import delete_where

    t = str(tmp_path / "tbl")
    lo = spark.createDataFrame([(i, float(i)) for i in range(10)], "k long, v double")
    hi = spark.createDataFrame([(i, float(i)) for i in range(100, 110)], "k long, v double")
    write_table(lo, t)
    write_table(hi, t)
    lo_paths = {f["path"] for f in snapshot(t).files if f["stats"]["k"][1] < 100}
    snap = delete_where(
        spark, t, "k >= 105", stats_pruning=[("k", ">=", 105)]
    )
    got = {r["k"] for r in read_table(spark, t).collect()}
    assert got == set(range(10)) | {100, 101, 102, 103, 104}
    # low-range files untouched by path; deleted rows still at v1
    assert lo_paths <= {f["path"] for f in snap.files}
    assert read_table(spark, t, version=1).count() == 20


def test_checkpoint_bounds_replay(spark, tmp_path):
    from etl_finance_pipeline_spark.sources.table_format import (
        _checkpoint_path,
        _list_checkpoints,
    )

    t = str(tmp_path / "tbl")
    for i in range(12):  # versions 0..11 → checkpoint at v10
        write_table(_df(spark, [(f"S{i}", float(i))]), t)
    assert _list_checkpoints(t) == [10]
    assert os.path.exists(_checkpoint_path(t, 10))
    # latest snapshot == brute-force expectation
    got = {r["SYMBOL"] for r in read_table(spark, t).collect()}
    assert got == {f"S{i}" for i in range(12)}
    # time travel BEFORE the checkpoint still replays correctly
    assert snapshot(t, 3).num_rows == 4
    # checkpoint is authoritative: delete the pre-checkpoint manifests
    # and the latest snapshot still resolves (log-truncation support)
    for v in range(10):
        os.unlink(_manifest_path(t, v))
    again = {r["SYMBOL"] for r in read_table(spark, t).collect()}
    assert again == got
    assert snapshot(t).num_rows == 12


def test_schema_evolution_additive_append(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0)]), t)
    wide = spark.createDataFrame(
        [(2.0, "GBPUSD", 9.0)], "CLOSE double, SYMBOL string, VOLUME double"
    )
    snap = write_table(wide, t)  # reordered + new column
    # merged schema keeps original order, appends the new column
    assert [f.name for f in snap.schema.fields] == ["SYMBOL", "CLOSE", "VOLUME"]
    out = read_table(spark, t)
    assert out.columns == ["SYMBOL", "CLOSE", "VOLUME"]
    rows = {tuple(r) for r in out.collect()}
    # pre-evolution file reads NULL for the added column
    assert rows == {("EURUSD", 1.0, None), ("GBPUSD", 2.0, 9.0)}


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    from etl_finance_pipeline_spark.sources.table_format import SchemaEvolutionError

    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0)]), t)
    bad = spark.createDataFrame([("GBPUSD", "oops")], "SYMBOL string, CLOSE string")
    with pytest.raises(SchemaEvolutionError, match="CLOSE"):
        write_table(bad, t)
    # failed append left no new committed version
    assert snapshot(t).version == 0


def test_overwrite_resets_schema(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0)]), t)
    narrow = spark.createDataFrame([(5,)], "N bigint")
    snap = write_table(narrow, t, mode="overwrite")
    # overwrite is a fresh contract — no merge against prior schema
    assert [f.name for f in snap.schema.fields] == ["N"]
    assert read_table(spark, t).columns == ["N"]


def test_many_commits_plan_one_scan(spark, tmp_path):
    """The snapshot reads as ONE scan relation however many commits
    produced it (driver-side FileIndex), with partition columns
    re-derived from paths — typed like hive inference."""
    t = str(tmp_path / "tbl")
    for i in range(6):
        df = spark.createDataFrame(
            [(f"S{i % 2}", 2020 + i, float(i))], "SYMBOL string, YEAR int, CLOSE double"
        )
        write_table(df, t, partition_by=["SYMBOL", "YEAR"])
    out = read_table(spark, t)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert dict(out.dtypes)["YEAR"] == "int"
    assert out.count() == 6
    assert {(r["SYMBOL"], r["YEAR"]) for r in out.collect()} == {
        (f"S{i % 2}", 2020 + i) for i in range(6)
    }


def test_zorder_skips_on_both_dims(spark, tmp_path):
    """Z-ordered writes keep footer stats tight on EVERY z dimension:
    a (SYMBOL, ts) z-ordered table prunes files for a one-symbol read
    AND for a time-range read — 1-D cluster_by can only do the first."""
    from datetime import datetime, timedelta

    from etl_finance_pipeline_spark.sources.table_format import _stats_match, snapshot

    t0 = datetime(2024, 1, 1)
    rows = [
        (f"S{i % 8}", t0 + timedelta(minutes=m), float(i))
        for i, m in enumerate(range(4096))
    ]
    df = spark.createDataFrame(rows, "SYMBOL string, TS timestamp, V double")
    t = str(tmp_path / "tbl")
    write_table(df, t, zorder_by=["SYMBOL", "TS"], zorder_files=8)
    snap = snapshot(t)
    nfiles = len([f for f in snap.files if f.get("stats")])
    assert nfiles >= 4
    by_symbol = [
        f for f in snap.files
        if _stats_match(f.get("stats") or {}, [("SYMBOL", "=", "S3")])
    ]
    mid = str(t0 + timedelta(minutes=3500))
    by_time = [
        f for f in snap.files if _stats_match(f.get("stats") or {}, [("TS", ">=", mid)])
    ]
    assert len(by_symbol) < nfiles, "symbol dim should skip files"
    assert len(by_time) < nfiles, "time dim should skip files"
    # data survives the morton shuffle intact
    assert read_table(spark, t).count() == 4096


def test_read_changes_appends_and_replace(spark, tmp_path):
    from etl_finance_pipeline_spark.sources.table_format import (
        merge_table,
        read_changes,
    )

    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0)]), t)               # v0
    write_table(_df(spark, [("GBPUSD", 2.0)]), t)               # v1: insert
    merge_table(spark, t, _df(spark, [("GBPUSD", 9.0)]), ["SYMBOL"])  # v2
    ch = read_changes(spark, t, from_version=0)
    rows = {(r["SYMBOL"], r["CLOSE"], r["_change_type"], r["_commit_version"])
            for r in ch.collect()}
    # v1 append surfaces as insert
    assert ("GBPUSD", 2.0, "insert", 1) in rows
    # v2 merge: old files rewritten -> delete + insert pairs
    assert ("GBPUSD", 2.0, "delete", 2) in rows
    assert ("GBPUSD", 9.0, "insert", 2) in rows
    # consumer starting after v2 sees nothing
    assert read_changes(spark, t, from_version=2).count() == 0


def test_read_changes_skips_compaction(spark, tmp_path):
    from etl_finance_pipeline_spark.sources.table_format import (
        compact,
        read_changes,
    )

    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0)]), t)       # v0
    write_table(_df(spark, [("GBPUSD", 2.0)]), t)       # v1
    compact(spark, t, target_files=1)                   # v2: data_change=False
    ch = read_changes(spark, t, from_version=1)
    assert ch.count() == 0  # compaction moved bytes, not rows
    # but the compacted table still reads correctly
    assert read_table(spark, t).count() == 2


def test_vacuum_drops_old_versions_keeps_window(spark, tmp_path):
    from etl_finance_pipeline_spark.sources.table_format import vacuum

    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0)]), t)                   # v0
    write_table(_df(spark, [("GBPUSD", 2.0)]), t)                   # v1
    write_table(_df(spark, [("USDJPY", 3.0)]), t, mode="overwrite") # v2
    write_table(_df(spark, [("AUDUSD", 4.0)]), t)                   # v3
    res = vacuum(t, keep_versions=2)
    assert res["cutoff_version"] == 2
    # v0/v1 data files (orphaned by the overwrite) physically gone
    assert res["data_files_deleted"] > 0
    # retained window still reads, including time travel to the cutoff
    assert {r["SYMBOL"] for r in read_table(spark, t).collect()} == {
        "USDJPY",
        "AUDUSD",
    }
    assert {r["SYMBOL"] for r in read_table(spark, t, version=2).collect()} == {
        "USDJPY"
    }
    # travel past the cutoff is gone
    with pytest.raises(ValueError):
        read_table(spark, t, version=1)


def test_partition_layout_evolution_across_commits(spark, tmp_path):
    """Partition evolution: a commit may change partition_by — files
    from both layouts coexist in one snapshot and read as one frame
    (the partition column comes from the path for hive-laid files and
    from the data for unpartitioned ones)."""
    t = str(tmp_path / "tbl")
    write_table(_df(spark, [("EURUSD", 1.0)]), t, partition_by=["SYMBOL"])
    write_table(_df(spark, [("GBPUSD", 2.0)]), t)  # unpartitioned commit
    out = read_table(spark, t)
    got = {(r["SYMBOL"], r["CLOSE"]) for r in out.collect()}
    assert got == {("EURUSD", 1.0), ("GBPUSD", 2.0)}
    # driver-side pruning still works for the hive-laid subset
    pruned = read_table(spark, t, partition_filter={"SYMBOL": "EURUSD"})
    assert {r["SYMBOL"] for r in pruned.collect()} == {"EURUSD"}


def test_write_expectations_fail_and_drop(spark, tmp_path):
    """Write-time expectations (Delta CHECK / DLT expectation role):
    violation counts ride the write via observe; fail mode refuses the
    commit (nothing visible), drop mode filters and records counts in
    the manifest. NULL predicate results count as violations."""
    import json

    from etl_finance_pipeline_spark.sources.table_format import (
        ExpectationViolation,
        _manifest_path,
        write_table,
    )

    t = str(tmp_path / "tbl")
    bad = spark.createDataFrame(
        [("EURUSD", 1.0), ("GBPUSD", -2.0), ("USDJPY", None)],
        "SYMBOL string, CLOSE double",
    )
    with pytest.raises(ExpectationViolation) as exc:
        write_table(bad, t, expectations={"close_pos": "CLOSE > 0"})
    assert exc.value.violations == {"close_pos": 2}  # NULL counts
    # nothing committed: table does not exist for readers
    with pytest.raises(FileNotFoundError):
        snapshot(t)

    snap = write_table(
        bad, t, expectations={"close_pos": "CLOSE > 0"}, on_violation="drop"
    )
    got = {r["SYMBOL"] for r in read_table(spark, t).collect()}
    assert got == {"EURUSD"}
    with open(_manifest_path(t, snap.version)) as fh:
        m = json.load(fh)
    assert m["expectations"] == {"close_pos": 2}
    # clean batch passes fail mode and records zero counts
    ok = spark.createDataFrame([("AUDUSD", 4.0)], "SYMBOL string, CLOSE double")
    snap2 = write_table(ok, t, expectations={"close_pos": "CLOSE > 0"})
    with open(_manifest_path(t, snap2.version)) as fh:
        m2 = json.load(fh)
    assert m2["expectations"] == {"close_pos": 0}


def test_compact_partition_scoped_replace(spark, tmp_path):
    """Partition-scoped OPTIMIZE rewrites ONE hive partition's files;
    the other partition's files carry over by path, and the change
    feed ignores the rewrite (data_change=false)."""
    from etl_finance_pipeline_spark.sources.table_format import (
        compact_partition,
        read_changes,
    )

    t = str(tmp_path / "tbl")
    # 3 small commits fragmenting EURUSD; one GBPUSD commit
    for v in (1.0, 2.0, 3.0):
        write_table(_df(spark, [("EURUSD", v)]), t, partition_by=["SYMBOL"])
    write_table(_df(spark, [("GBPUSD", 9.0)]), t, partition_by=["SYMBOL"])
    before = snapshot(t)
    gbp_paths = {
        f["path"]
        for f in before.files
        if f["partition_values"].get("SYMBOL") == "GBPUSD"
    }
    eur_files = [
        f for f in before.files if f["partition_values"].get("SYMBOL") == "EURUSD"
    ]
    assert len(eur_files) == 3

    snap = compact_partition(spark, t, {"SYMBOL": "EURUSD"}, target_files=1)
    eur_after = [
        f for f in snap.files if f["partition_values"].get("SYMBOL") == "EURUSD"
    ]
    assert len(eur_after) == 1
    # GBPUSD untouched, carried by path
    assert {
        f["path"]
        for f in snap.files
        if f["partition_values"].get("SYMBOL") == "GBPUSD"
    } == gbp_paths
    # data intact
    got = sorted(
        r["CLOSE"] for r in read_table(spark, t).collect()
    )
    assert got == [1.0, 2.0, 3.0, 9.0]
    # invisible to the change feed
    assert read_changes(spark, t, from_version=3).count() == 0


def _day_df(spark, rows):
    return spark.createDataFrame(rows, "SYMBOL string, DAY int, CLOSE double")


def _day_rows(spark, t):
    return {tuple(r) for r in read_table(spark, t).select("SYMBOL", "DAY", "CLOSE").collect()}


def _day_table(spark, t):
    """A SYMBOL-partitioned table whose GBPUSD partition holds two
    files: (EURUSD, 1), (GBPUSD, 1) at v0 and (GBPUSD, 2) at v1."""
    write_table(_day_df(spark, [("EURUSD", 1, 1.0), ("GBPUSD", 1, 2.0)]), t, partition_by=["SYMBOL"])
    write_table(_day_df(spark, [("GBPUSD", 2, 3.0)]), t, partition_by=["SYMBOL"])


# each replace writer, run on GBPUSD's day-2 row, and the rows it leaves
# in the table above
_REWRITERS = {
    "merge_table": (
        lambda tf, spark, t: tf.merge_table(
            spark, t, _day_df(spark, [("GBPUSD", 2, 30.0)]), ["SYMBOL", "DAY"]
        ),
        {("GBPUSD", 1, 2.0), ("GBPUSD", 2, 30.0)},
    ),
    "delete_where": (
        lambda tf, spark, t: tf.delete_where(spark, t, "DAY = 2", stats_pruning=[("DAY", ">=", 2)]),
        {("GBPUSD", 1, 2.0)},
    ),
    "compact_partition": (
        lambda tf, spark, t: tf.compact_partition(spark, t, {"SYMBOL": "GBPUSD"}),
        {("GBPUSD", 1, 2.0), ("GBPUSD", 2, 3.0)},
    ),
}


def _race(monkeypatch, tf, concurrent):
    """Patch ``_try_commit`` so that *concurrent* commits first, once."""
    orig = tf._try_commit
    state = {"raced": False}

    def racing(table, version, manifest):
        if not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(tf, "_try_commit", orig)
            concurrent()
        return orig(table, version, manifest)

    monkeypatch.setattr(tf, "_try_commit", racing)
    return state


@pytest.mark.parametrize("writer", sorted(_REWRITERS))
def test_merge_conflict_does_not_resurrect_deleted_rows(spark, tmp_path, monkeypatch, writer):
    """A replace writer that loses the commit race to a DELETE touching
    its rewrite set must abort — re-claiming the next version with its
    pre-conflict file lists would re-insert the deleted rows."""
    import etl_finance_pipeline_spark.sources.table_format as tf

    t = str(tmp_path / "tbl_race")
    _day_table(spark, t)
    run, fresh = _REWRITERS[writer]
    # the concurrent delete rewrites every file, including those ours read
    state = _race(monkeypatch, tf, lambda: tf.delete_where(spark, t, "SYMBOL = 'EURUSD'"))
    with pytest.raises(CommitConflict, match=f"re-run {writer}"):
        run(tf, spark, t)
    assert state["raced"]

    # the concurrent delete's outcome survives — EURUSD stays gone
    assert _day_rows(spark, t) == {("GBPUSD", 1, 2.0), ("GBPUSD", 2, 3.0)}

    # a fresh run against the new snapshot applies cleanly
    run(tf, spark, t)
    assert _day_rows(spark, t) == fresh


@pytest.mark.parametrize("writer", sorted(_REWRITERS))
def test_merge_conflict_with_disjoint_append_retries(spark, tmp_path, monkeypatch, writer):
    """Losing the race to an APPEND of unrelated keys is benign: the
    replace writer retries at the next version and both commits land."""
    import etl_finance_pipeline_spark.sources.table_format as tf

    t = str(tmp_path / "tbl_race2")
    _day_table(spark, t)
    run, expected = _REWRITERS[writer]
    state = _race(
        monkeypatch,
        tf,
        lambda: write_table(_day_df(spark, [("ZZZBAR", 9, 9.0)]), t, partition_by=["SYMBOL"]),
    )
    snap = run(tf, spark, t)
    assert state["raced"] and snap.version == 3
    assert _day_rows(spark, t) == {("EURUSD", 1, 1.0), ("ZZZBAR", 9, 9.0)} | expected


def test_compact_partition_keeps_other_hive_keys(spark, tmp_path):
    """Compacting on a SUBSET of a multi-column hive layout must keep
    the other keys in the re-staged files' partition_values, so
    partition-filtered reads on the unnamed key still see the rows."""
    from etl_finance_pipeline_spark.sources.table_format import compact_partition

    t = str(tmp_path / "tbl2")
    rows = [
        ("2024", "01", 1.0),
        ("2024", "01", 2.0),
        ("2024", "02", 3.0),
        ("2025", "01", 9.0),
    ]
    for y, m, v in rows:
        write_table(
            spark.createDataFrame([(y, m, v)], "YEAR string, MONTH string, CLOSE double"),
            t,
            partition_by=["YEAR", "MONTH"],
        )

    snap = compact_partition(spark, t, {"YEAR": "2024"}, target_files=1)
    y24 = [f for f in snap.files if f["partition_values"].get("YEAR") == "2024"]
    # MONTH survives in every re-staged file's partition_values
    assert all("MONTH" in f["partition_values"] for f in y24)
    # a read filtered on the key the compaction did NOT name is intact
    jan = read_table(spark, t, partition_filter={"MONTH": "01"}).collect()
    assert sorted(r["CLOSE"] for r in jan) == [1.0, 2.0, 9.0]
    # and the full table is intact
    assert sorted(r["CLOSE"] for r in read_table(spark, t).collect()) == [
        1.0, 2.0, 3.0, 9.0,
    ]


def test_concurrent_appends_all_land(spark, tmp_path, monkeypatch):
    """Optimistic concurrency under real thread interleaving: N writers
    appending disjoint rows in parallel must all commit (with retries),
    produce N distinct versions, and lose no rows."""
    import threading

    import etl_finance_pipeline_spark.sources.table_format as tf
    from etl_finance_pipeline_spark.sources.table_format import write_table as wt

    monkeypatch.setattr(tf, "_MAX_RETRIES", 50)
    t = str(tmp_path / "tbl_threads")
    write_table(_df(spark, [("SEED", 0.0)]), t)

    n_writers, errors = 8, []

    def writer(i: int) -> None:
        try:
            wt(_df(spark, [(f"SYM{i}", float(i))]), t)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert errors == []
    got = {tuple(r) for r in read_table(spark, t).collect()}
    assert got == {("SEED", 0.0)} | {(f"SYM{i}", float(i)) for i in range(n_writers)}
    assert [h["version"] for h in history(t)] == list(range(n_writers + 1))


def test_vacuum_age_floor_protects_staged_files(spark, tmp_path):
    """With min_age_seconds, an unreferenced-but-FRESH file (a
    concurrent writer's staged-not-yet-committed data) survives the
    vacuum; the same vacuum without the floor deletes it."""
    from etl_finance_pipeline_spark.sources.table_format import _stage_files, vacuum

    t = str(tmp_path / "tbl_age")
    write_table(_df(spark, [("EURUSD", 1.0)]), t)
    write_table(_df(spark, [("GBPUSD", 2.0)]), t)
    # a concurrent writer mid-commit: staged files, no manifest yet
    entries, _ = _stage_files(_df(spark, [("STAGED", 9.9)]), t, None)
    staged_paths = [os.path.join(t, e["path"]) for e in entries]
    assert all(os.path.exists(p) for p in staged_paths)

    vacuum(t, keep_versions=1, min_age_seconds=3600)
    assert all(os.path.exists(p) for p in staged_paths)  # protected

    vacuum(t, keep_versions=1)
    assert not any(os.path.exists(p) for p in staged_paths)  # reclaimed


def test_changefeed_near_dup_new_vs_standing(spark, tmp_path):
    """Change-feed incremental dedup: a new commit's documents are
    deduped against the snapshot AS OF the consumer's last-seen
    version — the recurring-crawl ingestion composition of
    read_changes × incremental_lsh_pairs."""
    from etl_finance_pipeline_spark.operators.dedup import changefeed_near_dup

    t = str(tmp_path / "docs")
    ddl = "doc_id long, text string"
    base = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "spark plans are optimized by catalyst before execution begins"),
        ],
        ddl,
    )
    write_table(base, t)  # v0: standing corpus
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "totally fresh material sharing nothing with standing documents"),
        ],
        ddl,
    )
    write_table(new, t)  # v1: the ingested batch
    pairs = changefeed_near_dup(spark, t, from_version=0, threshold=0.5)
    got = {(r["batch_id"], r["corpus_id"]) for r in pairs.collect()}
    assert got == {(10, 1)}


def test_changefeed_near_dup_reads_only_changed_files(spark, tmp_path):
    """O(changed files) on the new side: the change feed plans exactly
    the files the new commit wrote — none of the standing corpus's —
    so ingest dedup cost scales with the batch, not table history."""
    from etl_finance_pipeline_spark.operators.dedup import changefeed_near_dup
    from etl_finance_pipeline_spark.sources.table_format import read_changes

    t = str(tmp_path / "docs")
    ddl = "doc_id long, text string"
    write_table(
        spark.createDataFrame(
            [(i, f"standing document number {i} body text here") for i in range(20)],
            ddl,
        ),
        t,
    )  # v0
    write_table(
        spark.createDataFrame(
            [(100, "standing document number 3 body text here")], ddl
        ),
        t,
    )  # v1: one near-identical new doc
    v0 = {os.path.basename(f["path"]) for f in snapshot(t, 0).files}
    v1_new = {
        os.path.basename(f["path"]) for f in snapshot(t, 1).files
    } - v0
    assert v1_new  # the commit actually wrote files
    ch = read_changes(spark, t, from_version=0)
    scanned = {os.path.basename(p) for p in ch.inputFiles()}
    assert scanned == v1_new
    pairs = changefeed_near_dup(spark, t, from_version=0, threshold=0.9)
    assert {(r["batch_id"], r["corpus_id"]) for r in pairs.collect()} == {(100, 3)}


_TS_DDL = "SYMBOL string, TIMESTAMP timestamp, CLOSE double"


def test_merge_on_timestamp_key_carries_untouched_days(spark, tmp_path):
    """MERGE keyed on (SYMBOL, TIMESTAMP): manifests store timestamp
    stats as strings while the source bounds are datetimes — the bounds
    must compare as times, so revised rows are replaced and the day the
    source does not touch keeps its files by path."""
    from datetime import datetime, timedelta

    from etl_finance_pipeline_spark.sources.table_format import merge_table

    t = str(tmp_path / "tbl")
    t0 = datetime(2024, 3, 4)
    for day in range(2):  # one append per day
        rows = [
            (s, t0 + timedelta(days=day, minutes=m), float(m))
            for s in ("EURUSD", "GBPUSD")
            for m in range(3)
        ]
        write_table(spark.createDataFrame(rows, _TS_DDL), t, partition_by=["SYMBOL"])
    day0 = {f["path"] for f in snapshot(t, 0).files}
    stamp = t0 + timedelta(days=1, minutes=1)
    snap = merge_table(
        spark, t, spark.createDataFrame([("EURUSD", stamp, -1.0)], _TS_DDL), ["SYMBOL", "TIMESTAMP"]
    )
    assert day0 <= {f["path"] for f in snap.files}
    got = {(r["SYMBOL"], r["TIMESTAMP"], r["CLOSE"]) for r in read_table(spark, t).collect()}
    assert len(got) == 12
    assert ("EURUSD", stamp, -1.0) in got and ("EURUSD", stamp, 1.0) not in got


def test_iso_stats_filter_keeps_files_on_the_bounds_day(spark, tmp_path):
    """An ISO-8601 bound compares as a time, whichever separator it
    uses: the file whose last stamp falls later on the bound's day is
    kept, and the file wholly before the bound is still skipped."""
    from datetime import datetime

    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    for day in (4, 5):
        rows = [("EURUSD", datetime(2024, 3, day, h, m), float(h)) for h, m in ((0, 0), (12, 0), (23, 50))]
        write_table(spark.createDataFrame(rows, _TS_DDL), t)
    day5_dirs = {f["path"].split(os.sep)[1] for f in snapshot(t).files} - {
        f["path"].split(os.sep)[1] for f in snapshot(t, 0).files
    }
    for bound in ("2024-03-05T12:00:00", "2024-03-05 12:00:00", datetime(2024, 3, 5, 12)):
        out = read_table(spark, t, stats_filter=[("TIMESTAMP", ">=", bound)])
        assert {p.split("/data/")[1].split("/")[0] for p in out.inputFiles()} == day5_dirs
        assert out.filter(F.col("TIMESTAMP") >= F.lit(bound).cast("timestamp")).count() == 2


def test_merge_and_delete_keep_hive_layout(spark, tmp_path):
    """Rewrites are staged under the table's hive layout: after a merge,
    and after a delete, a one-symbol partition-filtered read equals the
    unfiltered read filtered to that symbol."""
    from pyspark.sql import functions as F

    from etl_finance_pipeline_spark.sources.table_format import delete_where, merge_table

    rewrites = {
        "merge": lambda t: merge_table(spark, t, _df(spark, [("EURUSD", 5.0)]), ["SYMBOL"]),
        "delete": lambda t: delete_where(spark, t, "CLOSE = 3.0"),
    }
    for name, rewrite in rewrites.items():
        t = str(tmp_path / name)
        rows = [("EURUSD", 1.0), ("GBPUSD", 2.0), ("EURUSD", 3.0)]
        write_table(_df(spark, rows), t, partition_by=["SYMBOL"])
        rewrite(t)
        assert all(f["partition_values"].get("SYMBOL") for f in snapshot(t).files)
        for sym in ("EURUSD", "GBPUSD"):
            pruned = read_table(spark, t, partition_filter={"SYMBOL": sym}).collect()
            full = read_table(spark, t).filter(F.col("SYMBOL") == sym).collect()
            assert pruned and sorted(map(tuple, pruned)) == sorted(map(tuple, full)), (name, sym)
