"""Tests of the benchmark itself: generator, checker, percentiles and
span accounting. Run from the checkout root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import math
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


def _same_tree(a, b) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


# --------------------------------------------------------------------
# generator
# --------------------------------------------------------------------


@pytest.mark.parametrize(
    "write",
    [
        lambda d, seed: gen.write_wide(d, gen.wide_series(seed, 4, 300)),
        lambda d, seed: gen.write_deep(d, gen.deep_series(seed, 8)),
        lambda d, seed: gen.write_table_ops(d, seed, 3, 30),
    ],
    ids=["etl_wide", "etl_deep", "table_ops"],
)
def test_generator_is_deterministic_per_seed(tmp_path, write):
    write(str(tmp_path / "a"), 7)
    write(str(tmp_path / "b"), 7)
    write(str(tmp_path / "c"), 8)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_duplicates_come_later_with_other_values():
    for s in gen.wide_series(3, 6, 2000):
        first_at: dict[int, int] = {}
        dups = 0
        for i, t in enumerate(s.ts_us):
            if t in first_at:
                j = first_at[t]
                dups += 1
                assert i > j
                assert (s.high[i], s.low[i], s.volume[i]) != (s.high[j], s.low[j], s.volume[j])
            else:
                first_at[t] = i
        assert dups > 0
        assert np.all(s.low <= np.minimum(s.open, s.close))
        assert np.all(s.high >= np.maximum(s.open, s.close))


def test_fx_market_closed_friday_22_to_sunday_22():
    minutes = gen.fx_minutes(14)
    closed_per_week = 2 * gen.DAY_MIN
    assert len(minutes) == 14 * gen.DAY_MIN - 2 * closed_per_week
    friday_22 = 4 * gen.DAY_MIN + 22 * 60
    assert friday_22 - 1 in minutes and friday_22 not in minutes
    assert friday_22 + closed_per_week in minutes


# --------------------------------------------------------------------
# percentiles and spans
# --------------------------------------------------------------------


def test_percentile_counts_failures_as_infinite():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    assert stats.percentile([1.0, None, None, 4.0], 50) == 4.0
    assert stats.percentile([1.0, 2.0, None], 90) == math.inf
    assert stats.median([None]) == math.inf
    assert stats.percentile([], 50) == math.inf


def _span(i, parent, start, end, layer="x"):
    return spans.Span(id=i, name=f"{layer}.{i}", layer=layer, start=start,
                      parent=parent, thread="t", end=end)


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: counted once
        _span(3, 1, 2.0, 3.0),  # grandchild: only its parent's time
        _span(4, 0, 9.0, 12.0),  # runs past the parent's end: clipped
    ]
    own = spans.self_times(tree)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(3.0 - 1.0)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(1.0)
    assert own[4] == pytest.approx(3.0)


def test_every_job_goes_to_exactly_one_layer():
    tree = [_span(0, None, 0, 1, "pipeline"), _span(1, 0, 0, 1, "exporter")]
    harvest = spans.Harvest(jobs=[
        spans.Job(1, "collect at /x/plans/pipeline.py:139", "perfbench:0", 0, 1, [1], execution=5),
        spans.Job(2, "run at ThreadPoolExecutor", "perfbench:0", 0, 1, [2], execution=5),
        spans.Job(3, "parquet at exporter.py:1", "perfbench:1", 0, 1, [3], execution=6),
        spans.Job(4, "count at other.py:1", None, 0, 1, [4]),
    ])
    layers = spans.attribute(harvest, tree, {"pipeline.py:139": "report"})
    assert layers == {1: "report", 2: "report", 3: "exporter", 4: "unattributed"}


def test_exchanges_counted_in_final_plan_only():
    plan = (
        "== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
        "   * HashAggregate (5)\n   +- ShuffleQueryStage (4)\n      +- Exchange (3)\n"
        "+- == Initial Plan ==\n   HashAggregate (8)\n   +- Exchange (7)\n\n(3) Exchange\n"
    )
    assert spans.exchanges_in_plan(plan) == 1


# --------------------------------------------------------------------
# checker against the real engine
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from etl_finance_pipeline_spark import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh"))})
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def etl_output(spark, tmp_path_factory):
    from etl_finance_pipeline_spark.config import EngineConfig
    from etl_finance_pipeline_spark.plans.pipeline import run_pipeline

    root = tmp_path_factory.mktemp("etl")
    raw = str(root / "raw")
    gen.write_wide(raw, gen.wide_series(5, 3, 240))
    paths = {k: str(root / k) for k in ("processed", "reports", "logs", "quarantine")}
    cfg = EngineConfig.model_validate({"paths": {
        "raw_path": raw, "processed_path": paths["processed"], "reports_path": paths["reports"],
        "logs_path": paths["logs"], "quarantine_path": paths["quarantine"]}})
    run_pipeline(spark, cfg, dry_run=False)
    return check.EtlOracle(raw), paths["processed"]


def _first_file(out_dir, label):
    for dirpath, _, names in sorted(os.walk(os.path.join(out_dir, f"candles_{label}"))):
        for n in sorted(names):
            if n.endswith(".parquet"):
                return os.path.join(dirpath, n)
    raise AssertionError("no output file")


def _rewrite(path, edit):
    table = pq.read_table(path)
    original = path + ".orig"
    os.rename(path, original)
    pq.write_table(edit(table), path)
    return original


def test_checker_accepts_the_engine_output(etl_output):
    oracle, out = etl_output
    problems, rows = oracle.check(out)
    assert problems == []
    assert rows["1m"] >= oracle.deduped_rows


@pytest.mark.parametrize("label", ["1m", "15m"])
def test_checker_rejects_a_planted_wrong_candle(etl_output, label):
    import pyarrow as pa

    oracle, out = etl_output
    path = _first_file(out, label)

    def bump_close(t):
        close = t["CLOSE"].to_numpy().copy()
        close[len(close) // 2] += 0.001
        return t.set_column(t.schema.get_field_index("CLOSE"), "CLOSE", pa.array(close))

    original = _rewrite(path, bump_close)
    try:
        problems, _ = oracle.check(out)
    finally:
        os.replace(original, path)
    assert problems, "a wrong CLOSE went unnoticed"


@pytest.mark.parametrize("label", ["1m", "1H"])
def test_checker_rejects_a_dropped_row(etl_output, label):
    oracle, out = etl_output
    path = _first_file(out, label)
    original = _rewrite(path, lambda t: t.slice(1))
    try:
        problems, _ = oracle.check(out)
    finally:
        os.replace(original, path)
    assert any("rows" in p for p in problems)


def test_table_read_check_agrees_with_an_unpruned_read(spark, tmp_path):
    """The read oracle matches the engine when no stats filter is given,
    so read failures under an ISO-8601 stats filter are the engine's."""
    from etl_finance_pipeline_spark.operators import report
    from etl_finance_pipeline_spark.sources import table_format as tf
    from pyspark.sql import functions as F

    plan = gen.write_table_ops(str(tmp_path / "gen"), 9, 2, 60)
    table = str(tmp_path / "table")
    oracle = check.TableOracle()
    for day in plan:
        tf.write_table(spark.read.parquet(day["append"]), table, partition_by=["SYMBOL"])
        oracle.append(day["append"])
    since_us = gen.BASE_US + (gen.DAY_MIN + 17) * gen.MINUTE_US
    bound = F.timestamp_micros(F.lit(since_us))
    df = tf.read_table(spark, table, partition_filter={"SYMBOL": "TK03"})
    df = df.filter(F.col("TIMESTAMP") >= bound)
    df = report.returns_and_volatility(report.sma(df, "CLOSE", 10, ["SYMBOL"]), "CLOSE",
                                       key_cols=["SYMBOL"], window_size=20)
    got = df.select(F.unix_micros("TIMESTAMP"), "CLOSE", "SMA_10", "LOG_RETURN",
                    "VOLATILITY").orderBy("TIMESTAMP").collect()
    want = oracle.expected_read("TK03", since_us, 10, 20)
    assert len(want) == 60 - 17
    assert check.rows_match([tuple(r) for r in got], want)
    assert not check.rows_match([tuple(r) for r in got][1:], want)
