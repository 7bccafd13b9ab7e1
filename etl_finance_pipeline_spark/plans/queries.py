"""Named queries exercising every engine operator, with matching
DuckDB oracle SQL (driver correctness contract — see __spark_entry__).

Conventions for oracle parity:
 * Every computed column is aliased IDENTICALLY in the Spark plan and
   the SQL (the driver sorts columns by name before hashing).
 * Floating-point aggregates that sum many values (SUM/AVG over
   doubles) are rounded to 6 decimals on BOTH sides — summation order
   differs between engines, exact comparisons never survive.
   min/max/arg_min/arg_max are exact and left unrounded.
 * Timestamps: parquet nanos floor to micros identically in Spark
   (see sources.tables) and DuckDB.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_pipeline_spark.operators.gaps import (
    detect_gaps,
    forward_fill,
    interpolate_linear,
    missing_timestamps,
    reindex_to_grid,
)
from etl_finance_pipeline_spark.operators.normalize import (
    normalize_columns,
    remove_duplicates,
)
from etl_finance_pipeline_spark.operators.report import data_quality_report, sma
from etl_finance_pipeline_spark.operators.resample import (
    candles_from_ticks,
    resample_ohlc,
)
from etl_finance_pipeline_spark.sources.tables import load_table
from etl_finance_pipeline_spark.functions.scalar import portable_round as _pr


def _t(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def events_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical events frame: engine rename layer maps ts→TIMESTAMP;
    event_type plays the SYMBOL role (P1/P4)."""
    ev = load_table(spark, _t(sf_dir, "events"))
    return normalize_columns(ev).withColumnRenamed("event_type", "SYMBOL")


def _dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedupe on (SYMBOL, TIMESTAMP), arrival = event_id."""
    return remove_duplicates(
        events_frame(spark, sf_dir), ["SYMBOL", "TIMESTAMP"], order_by=["event_id"]
    )


def _candles_5m_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return candles_from_ticks(
        _dedup_events(spark, sf_dir), "5T", ["SYMBOL"], value_col="value"
    )


# --------------------------------------------------------------------
# Flagship: tick→candle OHLCV aggregation (A1 + O1 + P1)
# --------------------------------------------------------------------

def q_candles_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _candles_5m_raw(spark, sf_dir)
    return c.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("bucket_ts"),
        F.col("OPEN").alias("open"),
        F.col("HIGH").alias("high"),
        F.col("LOW").alias("low"),
        F.col("CLOSE").alias("close"),
        _pr("VOLUME", 6).alias("volume"),
        F.col("N_TICKS").alias("n_ticks"),
    )


SQL_CANDLES_5M = """
WITH dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
)
SELECT event_type AS symbol,
       time_bucket(INTERVAL 5 MINUTE, ts) AS bucket_ts,
       arg_min(value, ts) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, ts) AS close,
       floor((sum(value)) * 1000000 + 0.5) / 1000000 AS volume,
       count(*) AS n_ticks
FROM dedup
GROUP BY 1, 2
"""


# --------------------------------------------------------------------
# O1 — keep-first dedupe (coarse key so duplicates actually exist)
# --------------------------------------------------------------------

def q_dedupe_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = events_frame(spark, sf_dir).withColumn(
        "ts_minute", F.date_trunc("minute", F.col("TIMESTAMP"))
    )
    # (event_type, ts) is unique in this table, so TIMESTAMP alone is a
    # total order per group — a composite (struct) ordering key would
    # silently force SortAggregate (struct buffers aren't hash-able).
    out = remove_duplicates(df, ["SYMBOL", "ts_minute"], order_by=["TIMESTAMP"])
    return out.select(
        "event_id",
        F.col("SYMBOL").alias("symbol"),
        "ts_minute",
        F.col("value").alias("value"),
    )


SQL_DEDUPE_KEEP_FIRST = """
SELECT event_id, event_type AS symbol,
       date_trunc('minute', ts) AS ts_minute, value
FROM events
QUALIFY row_number() OVER (
  PARTITION BY event_type, date_trunc('minute', ts)
  ORDER BY ts, event_id
) = 1
"""


# --------------------------------------------------------------------
# G1+G2 — expected grid + missing timestamps (anti-join)
# --------------------------------------------------------------------

def _minute_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events_frame(spark, sf_dir)
        .select("SYMBOL", F.date_trunc("minute", "TIMESTAMP").alias("TIMESTAMP"))
        .distinct()
    )


def q_missing_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = _minute_observations(spark, sf_dir)
    missing = missing_timestamps(obs, "1T", ["SYMBOL"])
    return missing.select(F.col("SYMBOL").alias("symbol"), F.col("TIMESTAMP").alias("ts"))


SQL_MISSING_MINUTES = """
WITH obs AS (
  SELECT DISTINCT event_type AS symbol, date_trunc('minute', ts) AS m FROM events
), b AS (
  SELECT symbol, min(m) AS mn, max(m) AS mx FROM obs GROUP BY 1
), grid AS (
  SELECT symbol, unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS ts FROM b
)
SELECT g.symbol, g.ts FROM grid g
WHERE NOT EXISTS (SELECT 1 FROM obs o WHERE o.symbol = g.symbol AND o.m = g.ts)
"""


# --------------------------------------------------------------------
# G3+G4 — gap islands + classification
# --------------------------------------------------------------------

def q_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = _minute_observations(spark, sf_dir)
    gaps = detect_gaps(obs, "1T", ["SYMBOL"], short_gap_minutes=5)
    return gaps.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("start").alias("gap_start"),
        F.col("end").alias("gap_end"),
        F.col("length_minutes").alias("length_minutes"),
        F.col("missing_count").alias("missing_count"),
        F.col("classification").alias("classification"),
    )


SQL_GAP_ISLANDS = """
WITH obs AS (
  SELECT DISTINCT event_type AS symbol, date_trunc('minute', ts) AS m FROM events
), b AS (
  SELECT symbol, min(m) AS mn, max(m) AS mx FROM obs GROUP BY 1
), grid AS (
  SELECT symbol, unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS ts FROM b
), missing AS (
  SELECT g.symbol, g.ts FROM grid g
  WHERE NOT EXISTS (SELECT 1 FROM obs o WHERE o.symbol = g.symbol AND o.m = g.ts)
), isl AS (
  SELECT symbol, ts,
         epoch_us(ts) // 60000000 - row_number() OVER (PARTITION BY symbol ORDER BY ts) AS island
  FROM missing
), agg AS (
  SELECT symbol, min(ts) AS gap_start, max(ts) AS gap_end, count(*) AS missing_count
  FROM isl GROUP BY symbol, island
)
SELECT symbol, gap_start, gap_end,
       (epoch_us(gap_end) // 1000000 - epoch_us(gap_start) // 1000000 + 60) / 60.0 AS length_minutes,
       missing_count,
       CASE
         WHEN (epoch_us(gap_end) // 1000000 - epoch_us(gap_start) // 1000000 + 60) / 60.0 <= 5 THEN 'short_gap'
         WHEN CAST(gap_start AS DATE) != CAST(gap_end + INTERVAL 1 MINUTE AS DATE) THEN 'overnight_gap'
         WHEN (epoch_us(gap_end) // 1000000 - epoch_us(gap_start) // 1000000 + 60) / 60.0 >= 1440 THEN 'long_gap'
         ELSE 'medium_gap'
       END AS classification
FROM agg
"""


# --------------------------------------------------------------------
# G5+G6 — reindex to grid + forward fill
# --------------------------------------------------------------------

def q_reindex_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_min = (
        events_frame(spark, sf_dir)
        .groupBy("SYMBOL", F.date_trunc("minute", "TIMESTAMP").alias("TIMESTAMP"))
        .agg(F.max_by("value", "TIMESTAMP").alias("close"))
    )
    re = reindex_to_grid(per_min, "1T", ["SYMBOL"])
    ff = forward_fill(re, ["close"], ["SYMBOL"])
    return ff.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("ts"),
        F.col("close").alias("close_filled"),
    )


SQL_REINDEX_FFILL = """
WITH per_min AS (
  SELECT event_type AS symbol, date_trunc('minute', ts) AS m,
         arg_max(value, ts) AS close
  FROM events GROUP BY 1, 2
), b AS (
  SELECT symbol, min(m) AS mn, max(m) AS mx FROM per_min GROUP BY 1
), grid AS (
  SELECT symbol, unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS ts FROM b
), re AS (
  SELECT g.symbol, g.ts, p.close
  FROM grid g LEFT JOIN per_min p ON p.symbol = g.symbol AND p.m = g.ts
)
SELECT symbol, ts,
       last_value(close IGNORE NULLS) OVER (
         PARTITION BY symbol ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS close_filled
FROM re
"""


# --------------------------------------------------------------------
# G7 — linear interpolation (limit_direction="both")
# --------------------------------------------------------------------

def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_min = (
        events_frame(spark, sf_dir)
        .groupBy("SYMBOL", F.date_trunc("minute", "TIMESTAMP").alias("TIMESTAMP"))
        .agg(F.max_by("value", "TIMESTAMP").alias("CLOSE"))
    )
    re = reindex_to_grid(per_min, "1T", ["SYMBOL"])
    ip = interpolate_linear(re, ["CLOSE"], ["SYMBOL"])
    return ip.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("ts"),
        _pr("CLOSE", 6).alias("close_interp"),
    )


SQL_INTERPOLATE_LINEAR = """
WITH per_min AS (
  SELECT event_type AS symbol, date_trunc('minute', ts) AS m,
         arg_max(value, ts) AS close
  FROM events GROUP BY 1, 2
), b AS (
  SELECT symbol, min(m) AS mn, max(m) AS mx FROM per_min GROUP BY 1
), grid AS (
  SELECT symbol, unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS ts FROM b
), re AS (
  SELECT g.symbol, g.ts, p.close
  FROM grid g LEFT JOIN per_min p ON p.symbol = g.symbol AND p.m = g.ts
), win AS (
  SELECT symbol, ts, close,
    CAST(epoch_us(ts) // 1000000 AS DOUBLE) AS ts_sec,
    last_value(close IGNORE NULLS) OVER wb AS prev_val,
    last_value(CASE WHEN close IS NOT NULL THEN CAST(epoch_us(ts) // 1000000 AS DOUBLE) END IGNORE NULLS) OVER wb AS prev_ts,
    first_value(close IGNORE NULLS) OVER wf AS next_val,
    first_value(CASE WHEN close IS NOT NULL THEN CAST(epoch_us(ts) // 1000000 AS DOUBLE) END IGNORE NULLS) OVER wf AS next_ts
  FROM re
  WINDOW
    wb AS (PARTITION BY symbol ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY symbol ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT symbol, ts,
       floor((coalesce(
         close,
         prev_val + (next_val - prev_val) * (ts_sec - prev_ts) / (next_ts - prev_ts),
         prev_val, next_val
       )) * 1000000 + 0.5) / 1000000 AS close_interp
FROM win
"""


# --------------------------------------------------------------------
# A1-A3 — OHLCV resample composition (5m candles → 1h)
# --------------------------------------------------------------------

def q_resample_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _candles_5m_raw(spark, sf_dir).drop("N_TICKS")
    hourly = resample_ohlc(c, "1H", ["SYMBOL"])
    return hourly.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("bucket_ts"),
        F.col("OPEN").alias("open"),
        F.col("HIGH").alias("high"),
        F.col("LOW").alias("low"),
        F.col("CLOSE").alias("close"),
        _pr("VOLUME", 6).alias("volume"),
    )


SQL_RESAMPLE_1H = """
WITH dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS b,
         arg_min(value, ts) AS open, max(value) AS high,
         min(value) AS low, arg_max(value, ts) AS close,
         sum(value) AS volume
  FROM dedup GROUP BY 1, 2
)
SELECT symbol,
       time_bucket(INTERVAL 1 HOUR, b) AS bucket_ts,
       arg_min(open, b) AS open,
       max(high) AS high,
       min(low) AS low,
       arg_max(close, b) AS close,
       floor((sum(volume)) * 1000000 + 0.5) / 1000000 AS volume
FROM c5 GROUP BY 1, 2
"""


def q_resample_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar resampling (variable-length buckets via date_trunc —
    not expressible as a fixed window duration): monthly OHLCV from
    the 5-minute candles."""
    c = _candles_5m_raw(spark, sf_dir).drop("N_TICKS")
    monthly = resample_ohlc(c, "1MS", ["SYMBOL"])
    return monthly.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("month_start"),
        F.col("OPEN").alias("open"),
        F.col("HIGH").alias("high"),
        F.col("LOW").alias("low"),
        F.col("CLOSE").alias("close"),
        _pr("VOLUME", 6).alias("volume"),
    )


SQL_RESAMPLE_MONTHLY = """
WITH dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS b,
         arg_min(value, ts) AS open, max(value) AS high,
         min(value) AS low, arg_max(value, ts) AS close,
         sum(value) AS volume
  FROM dedup GROUP BY 1, 2
)
SELECT symbol,
       date_trunc('month', b) AS month_start,
       arg_min(open, b) AS open,
       max(high) AS high,
       min(low) AS low,
       arg_max(close, b) AS close,
       floor((sum(volume)) * 1000000 + 0.5) / 1000000 AS volume
FROM c5 GROUP BY 1, 2
"""


# --------------------------------------------------------------------
# W1 — rolling SMA
# --------------------------------------------------------------------

def q_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _candles_5m_raw(spark, sf_dir)
    s = sma(c, "CLOSE", 10, ["SYMBOL"])
    return s.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("ts"),
        F.col("CLOSE").alias("close"),
        _pr("SMA_10", 6).alias("sma_10"),
    )


SQL_SMA = """
WITH dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS ts,
         arg_max(value, ts) AS close
  FROM dedup GROUP BY 1, 2
)
SELECT symbol, ts, close,
       floor((avg(close) OVER (
         PARTITION BY symbol ORDER BY ts
         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
       )) * 1000000 + 0.5) / 1000000 AS sma_10
FROM c5
"""


def q_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indicator stack over 5-minute candles: cumulative VWAP +
    Bollinger bands (one ordered window pass per key)."""
    from etl_finance_pipeline_spark.operators.report import bollinger_bands, vwap

    c = _candles_5m_raw(spark, sf_dir)
    out = bollinger_bands(
        vwap(c, key_cols=["SYMBOL"]),
        window_size=20,
        num_std=2.0,
        key_cols=["SYMBOL"],
    )
    return out.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("ts"),
        F.col("CLOSE").alias("close"),
        _pr("VWAP", 6).alias("vwap"),
        _pr("BB_MID", 6).alias("bb_mid"),
        _pr("BB_UPPER", 6).alias("bb_upper"),
        _pr("BB_LOWER", 6).alias("bb_lower"),
    )


SQL_INDICATORS = """
WITH dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS ts,
         arg_max(value, ts) AS close,
         sum(value) AS volume
  FROM dedup GROUP BY 1, 2
)
SELECT symbol, ts, close,
       floor((sum(close * volume) OVER cum / sum(volume) OVER cum) * 1000000 + 0.5) / 1000000 AS vwap,
       floor((avg(close) OVER w20) * 1000000 + 0.5) / 1000000 AS bb_mid,
       floor((avg(close) OVER w20 + 2.0 * stddev_samp(close) OVER w20) * 1000000 + 0.5) / 1000000 AS bb_upper,
       floor((avg(close) OVER w20 - 2.0 * stddev_samp(close) OVER w20) * 1000000 + 0.5) / 1000000 AS bb_lower
FROM c5
WINDOW
  cum AS (PARTITION BY symbol ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  w20 AS (PARTITION BY symbol ORDER BY ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


def q_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log returns + 20-bar rolling volatility over 5-minute candles —
    lag and rolling stddev share one (symbol, ts) sort pass."""
    from etl_finance_pipeline_spark.operators.report import returns_and_volatility

    c = _candles_5m_raw(spark, sf_dir)
    out = returns_and_volatility(c, key_cols=["SYMBOL"], window_size=20)
    return out.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("ts"),
        F.col("CLOSE").alias("close"),
        _pr("LOG_RETURN", 6).alias("log_return"),
        _pr("VOLATILITY", 6).alias("volatility"),
    )


SQL_RETURNS = """
WITH dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS ts,
         arg_max(value, ts) AS close
  FROM dedup GROUP BY 1, 2
), r AS (
  SELECT symbol, ts, close,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY ts)) AS lr
  FROM c5
)
SELECT symbol, ts, close,
       floor(lr * 1000000 + 0.5) / 1000000 AS log_return,
       floor((stddev_samp(lr) OVER (
         PARTITION BY symbol ORDER BY ts
         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
       )) * 1000000 + 0.5) / 1000000 AS volatility
FROM r
"""


# --------------------------------------------------------------------
# A4-A8 — data-quality profile (exact median, outlier heuristic)
# --------------------------------------------------------------------

def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _candles_5m_raw(spark, sf_dir)
    rep = data_quality_report(c, ["SYMBOL"], compute_indicators=False)
    return rep.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("rows").alias("n_rows"),
        F.col("start").alias("t_start"),
        F.col("end").alias("t_end"),
        F.col("duplicate_timestamps").alias("dup_ts"),
        _pr("mean_range", 6).alias("mean_range"),
        F.col("max_range").alias("max_range"),
        F.col("close_min").alias("close_min"),
        F.col("close_max").alias("close_max"),
        _pr("close_median", 6).alias("close_median"),
        F.col("suspicious_price_jump").alias("suspicious_price_jump"),
    )


SQL_DQ_PROFILE = """
WITH dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS ts,
         arg_min(value, ts) AS open, max(value) AS high,
         min(value) AS low, arg_max(value, ts) AS close
  FROM dedup GROUP BY 1, 2
)
SELECT symbol,
       count(*) AS n_rows,
       min(ts) AS t_start,
       max(ts) AS t_end,
       count(ts) - count(DISTINCT ts) AS dup_ts,
       floor((avg(high - low)) * 1000000 + 0.5) / 1000000 AS mean_range,
       max(high - low) AS max_range,
       min(close) AS close_min,
       max(close) AS close_max,
       floor((quantile_cont(close, 0.5)) * 1000000 + 0.5) / 1000000 AS close_median,
       CASE WHEN quantile_cont(close, 0.5) > 0
             AND (max(close) / quantile_cont(close, 0.5) > 100
                  OR min(close) / quantile_cont(close, 0.5) < 0.01)
            THEN true ELSE false END AS suspicious_price_jump
FROM c5 GROUP BY symbol
"""


# --------------------------------------------------------------------
# TPC-H-style analytics (join/agg machinery from Catalyst)
# --------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, _t(sf_dir, "lineitem"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _pr(F.sum("l_quantity"), 2).alias("sum_qty"),
            _pr(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _pr(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            _pr(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            _pr(F.avg("l_quantity"), 6).alias("avg_qty"),
            _pr(F.avg("l_extendedprice"), 6).alias("avg_price"),
            _pr(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
       floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS sum_disc_price,
       floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100 + 0.5) / 100 AS sum_charge,
       floor((avg(l_quantity)) * 1000000 + 0.5) / 1000000 AS avg_qty,
       floor((avg(l_extendedprice)) * 1000000 + 0.5) / 1000000 AS avg_price,
       floor((avg(l_discount)) * 1000000 + 0.5) / 1000000 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, _t(sf_dir, "lineitem"))
    orders = load_table(spark, _t(sf_dir, "orders"))
    cust = load_table(spark, _t(sf_dir, "customer"))
    nation = load_table(spark, _t(sf_dir, "nation"))
    # dims are small → broadcast; fact-fact join (orders ⋈ lineitem)
    # shuffles on orderkey.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            _pr(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .select(F.col("n_name").alias("nation"), "revenue", "n_items")
    )


SQL_NATION_REVENUE = """
SELECT n.n_name AS nation,
       floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 100 + 0.5) / 100 AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-style: top-20 customers by revenue. Fact-fact join shuffles
    on orderkey; customer/nation dims broadcast; deterministic top-k
    via (revenue desc, custkey) row_number."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    orders = load_table(spark, _t(sf_dir, "orders"))
    cust = load_table(spark, _t(sf_dir, "customer"))
    nation = load_table(spark, _t(sf_dir, "nation"))
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _pr(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
    )
    # TakeOrderedAndProject (per-partition top-20 + driver merge), not
    # a global row_number window that would single-partition the whole
    # per-customer agg; rank re-derived on the 20 survivors.
    top = rev.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            "c_custkey",
            F.col("c_name").alias("customer"),
            F.col("n_name").alias("nation"),
            "revenue",
            F.col("rank").cast("long").alias("rank"),
        )
    )


SQL_TOP_CUSTOMERS = """
WITH rev AS (
  SELECT c.c_custkey, c.c_name, n.n_name,
         floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 100 + 0.5) / 100 AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2, 3
)
SELECT c_custkey, c_name AS customer, n_name AS nation, revenue,
       CAST(row_number() OVER (ORDER BY revenue DESC, c_custkey) AS BIGINT) AS rank
FROM rev
QUALIFY rank <= 20
"""


def q_late_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-style: order-priority counts for orders with at least one
    line shipped > 60 days after the order date — LEFT SEMI join
    (Catalyst's existence join; no fan-out, no dedup needed)."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    orders = load_table(spark, _t(sf_dir, "orders"))
    late = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 60)),
    ).select("o_orderkey").distinct()
    return (
        orders.join(late, on="o_orderkey", how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .select(F.col("o_orderpriority").alias("priority"), "n_orders")
    )


SQL_LATE_ORDER_PRIORITIES = """
SELECT o_orderpriority AS priority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY 1
"""


def q_supplier_rank_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-over-join: suppliers ranked by account balance within
    their region (broadcast dims, per-region ranking window)."""
    sup = load_table(spark, _t(sf_dir, "supplier"))
    nation = load_table(spark, _t(sf_dir, "nation"))
    region = load_table(spark, _t(sf_dir, "region"))
    j = sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    w = Window.partitionBy("r_name").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return j.select(
        F.col("r_name").alias("region"),
        F.col("n_name").alias("nation"),
        F.col("s_name").alias("supplier"),
        F.col("s_acctbal").alias("acctbal"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


SQL_SUPPLIER_RANK_BY_NATION = """
SELECT r.r_name AS region, n.n_name AS nation, s.s_name AS supplier,
       s.s_acctbal AS acctbal,
       CAST(row_number() OVER (
         PARTITION BY r.r_name ORDER BY s.s_acctbal DESC, s.s_suppkey
       ) AS BIGINT) AS rank
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
"""


def q_part_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-flavored: revenue share per part type prefix — join to the
    part dim (broadcast), conditional aggregation."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    part = load_table(spark, _t(sf_dir, "part"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        j.withColumn("type_prefix", F.split(F.col("p_type"), " ").getItem(0))
        .groupBy("type_prefix")
        .agg(
            _pr(rev, 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_PART_TYPE_SHARE = """
SELECT regexp_split_to_array(p.p_type, ' ')[1] AS type_prefix,
       floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 100 + 0.5) / 100 AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
"""


def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-style: top-10 unshipped-at-cutoff orders by revenue. Both
    date filters push to the parquet scans; orders⋈lineitem shuffles on
    orderkey; deterministic top-k via (revenue desc, orderkey)."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    orders = load_table(spark, _t(sf_dir, "orders"))
    cutoff = "1995-03-15 00:00:00"
    j = (
        orders.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
        .join(
            li.filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")),
            orders.o_orderkey == li.l_orderkey,
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _pr(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
    )
    # top-k via orderBy+limit compiles to TakeOrderedAndProject — each
    # partition keeps its local top 10, the driver merges 10×P rows —
    # instead of a global row_number window, which would funnel the
    # ENTIRE agg output through one partition. rank is re-derived on
    # the 10 surviving rows.
    top = j.orderBy(F.col("revenue").desc(), F.col("o_orderkey")).limit(10)
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_orderpriority").alias("priority"),
        "revenue",
        "rank",
    )


SQL_SHIP_PRIORITY = """
WITH j AS (
  SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
         floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 100 + 0.5) / 100 AS revenue
  FROM orders o
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
    AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
  GROUP BY 1, 2, 3
)
SELECT o_orderkey, o_orderdate, o_orderpriority AS priority, revenue,
       CAST(row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS BIGINT) AS rank
FROM j
QUALIFY rank <= 10
"""


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-style: orders whose total quantity exceeds a threshold —
    aggregate-then-join. The HAVING filter runs on the lineitem agg
    BEFORE the join, shrinking the probe side to a handful of keys;
    that small survivor set is broadcast so the orders/customer side
    never shuffles."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    orders = load_table(spark, _t(sf_dir, "orders"))
    cust = load_table(spark, _t(sf_dir, "customer"))
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_custkey"),
            F.col("c_name").alias("customer"),
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            _pr(F.col("sum_qty"), 6).alias("sum_qty"),
        )
    )


SQL_BIG_ORDERS = """
SELECT c.c_custkey, c.c_name AS customer, o.o_orderkey, o.o_orderdate,
       o.o_totalprice,
       floor(big.sum_qty * 1000000 + 0.5) / 1000000 AS sum_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
) big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-style nation-to-nation trade matrix: the two dims attach to
    DIFFERENT sides of the fact — supplier nation via l_suppkey,
    customer nation via orders. Both dim chains broadcast; the only
    shuffle is the orders⋈lineitem fact-fact join + final agg."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    orders = load_table(spark, _t(sf_dir, "orders"))
    cust = load_table(spark, _t(sf_dir, "customer"))
    sup = load_table(spark, _t(sf_dir, "supplier"))
    nation = load_table(spark, _t(sf_dir, "nation"))
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), sup.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            # exact decimal sum → order-independent across engines (the
            # rounded-double trick fails when a group's sum lands on a
            # cent boundary), then back to double for the schema
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,6)"
                )
            )
            .cast("double")
            .alias("volume"),
            F.count("*").alias("n_items"),
        )
    )


SQL_TRADE_VOLUME = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS ship_year,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS volume,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name != cn.n_name
GROUP BY 1, 2, 3
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-style correlated scalar subquery, decorrelated: revenue from
    lineitems whose quantity is below half their part's average
    quantity. The correlated ``(SELECT avg(...) WHERE l_partkey =
    outer.l_partkey)`` becomes a groupBy(l_partkey) aggregate re-joined
    to the fact — the aggregate side has part-dimension cardinality, so
    it broadcasts and the fact side never shuffles for the join (one
    shuffle total, for the per-part avg). Quantities are integral, so
    sum/avg are exact in double and the threshold compare is
    engine-order-independent."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    part = load_table(spark, _t(sf_dir, "part"))
    half = li.groupBy("l_partkey").agg((F.avg("l_quantity") / 2).alias("half_avg"))
    return (
        li.join(F.broadcast(half), "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("small_qty_revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_SMALL_QTY_REVENUE = """
SELECT p.p_brand AS brand,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
         AS small_qty_revenue,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_quantity < (
  SELECT avg(l2.l_quantity) / 2 FROM lineitem l2
  WHERE l2.l_partkey = l.l_partkey
)
GROUP BY 1
"""


def q_stale_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as LEFT ANTI join: parts with no shipment in the
    final data year. The build side is filtered (year = 2001) and
    column-pruned to the join key BEFORE the anti join, then broadcast
    — the part scan is the only unfiltered pass, and the lineitem scan
    ships one column through a year predicate."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    part = load_table(spark, _t(sf_dir, "part"))
    shipped = li.filter(F.year("l_shipdate") == 2001).select("l_partkey")
    return part.join(
        F.broadcast(shipped), part.p_partkey == F.col("l_partkey"), "left_anti"
    ).select(
        "p_partkey",
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
        F.col("p_retailprice").alias("retailprice"),
    )


SQL_STALE_PARTS = """
SELECT p_partkey, p_name AS name, p_brand AS brand,
       p_retailprice AS retailprice
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_partkey = p.p_partkey AND year(l.l_shipdate) = 2001
)
"""


def q_clean_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-flavored NOT EXISTS over a same-key fact: orders with no
    returned line, per order status. The returned-keys side is a
    substantial fraction of the fact at any scale, so it is NOT
    broadcast — Catalyst plans a shuffled anti join on o_orderkey and
    AQE can convert or skew-split it at runtime."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    orders = load_table(spark, _t(sf_dir, "orders"))
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_anti")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_price"),
        )
    )


SQL_CLEAN_ORDERS = """
SELECT o_orderstatus AS status, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         AS total_price
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
GROUP BY 1
"""


def q_order_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-quartile profile per market segment, at price-bin
    granularity (bins of width $100): a bin belongs to quartile
    ``(4 * rows_in_strictly_higher_bins) div n + 1`` (quartile 1 =
    highest prices), and every order in a bin shares its quartile.

    Scale shape — this is the round-5 rewrite of the per-segment
    ``ntile(4)`` window, which funneled the WHOLE orders table through
    one task per segment (segment cardinality is constant, so at 100 TB
    five tasks each sort billions of rows). Here the only per-row work
    is a map-side-combinable groupBy on (segment, bin); the windows run
    over the bin histogram (≤ ~price_domain/100 rows per segment), and
    per-bin partial aggregates (count / decimal sum / min / max) roll
    up into the quartile profile with no second pass over the data.
    Bucket assignment is pure integer arithmetic — no FP or tie
    ambiguity between engines."""
    from etl_finance_pipeline_spark.operators.report import (
        binned_quartile_profile,
    )

    orders = load_table(spark, _t(sf_dir, "orders"))
    cust = load_table(spark, _t(sf_dir, "customer"))
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    prof = binned_quartile_profile(
        j.select(F.col("c_mktsegment").alias("segment"), "o_totalprice"),
        group_col="segment",
        value_col="o_totalprice",
        bin_width=100.0,
        n_buckets=4,
    )
    return prof.select(
        "segment",
        F.col("bucket").alias("quartile"),
        F.col("n_rows").alias("n_orders"),
        F.col("avg_value").alias("avg_price"),
        F.col("min_value").alias("min_price"),
        F.col("max_value").alias("max_price"),
    )


SQL_ORDER_QUARTILES = """
WITH hist AS (
  SELECT c.c_mktsegment AS segment,
         CAST(floor(o.o_totalprice / 100) AS BIGINT) AS bin,
         count(*) AS cnt,
         sum(CAST(o.o_totalprice AS DECIMAL(30,6))) AS sum_dec,
         min(o.o_totalprice) AS min_p,
         max(o.o_totalprice) AS max_p
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
q AS (
  SELECT segment, cnt, sum_dec, min_p, max_p,
         sum(cnt) OVER (PARTITION BY segment ORDER BY bin DESC) - cnt AS above,
         sum(cnt) OVER (PARTITION BY segment) AS n
  FROM hist
)
SELECT segment, CAST(4 * above // n + 1 AS BIGINT) AS quartile,
       CAST(sum(cnt) AS BIGINT) AS n_orders,
       CAST(sum(sum_dec) AS DOUBLE) / sum(cnt) AS avg_price,
       min(min_p) AS min_price,
       max(max_p) AS max_price
FROM q GROUP BY 1, 2
"""


def q_repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: users who both clicked AND purchased —
    INTERSECT (distinct semantics). Catalyst rewrites intersect into
    aggregate + left-semi hash join; both inputs are pruned to the
    single key column at the scan."""
    ev = load_table(spark, _t(sf_dir, "events"))
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


SQL_REPEAT_BUYERS = """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
"""


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: revenue at (nation, year), per-nation
    subtotal, and grand total in ONE pass — Catalyst expands the
    rollup into a single Expand+aggregate, not three scans.
    grouping() flags disambiguate NULL group values from subtotals."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    orders = load_table(spark, _t(sf_dir, "orders"))
    cust = load_table(spark, _t(sf_dir, "customer"))
    nation = load_table(spark, _t(sf_dir, "nation"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    j = j.withColumn("nation", F.col("n_name")).withColumn(
        "order_year", F.year("o_orderdate")
    )
    return (
        j.rollup("nation", "order_year")
        .agg(
            F.grouping("nation").cast("int").alias("is_total"),
            F.grouping("order_year").cast("int").alias("is_nation_subtotal"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,6)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .select(
            "nation",
            F.col("order_year").cast("int").alias("order_year"),
            "is_total",
            "is_nation_subtotal",
            "revenue",
            "n_items",
        )
    )


SQL_REVENUE_ROLLUP = """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INT) AS order_year,
       CAST(grouping(n.n_name) AS INT) AS is_total,
       CAST(grouping(year(o.o_orderdate)) AS INT) AS is_nation_subtotal,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n.n_name, year(o.o_orderdate))
"""


def q_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per nation × order-priority as columns.
    Spark's pivot with an explicit value list compiles to ONE
    conditional aggregate (no second pass to discover values — always
    pin the list at scale)."""
    orders = load_table(spark, _t(sf_dir, "orders"))
    cust = load_table(spark, _t(sf_dir, "customer"))
    nation = load_table(spark, _t(sf_dir, "nation"))
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    out = (
        j.groupBy(F.col("n_name").alias("nation"))
        .pivot("o_orderpriority", pris)
        .agg(F.count(F.lit(1)))
        .na.fill(0, [p for p in pris])
    )
    renames = {p: f"p{p[0]}" for p in pris}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out


SQL_PRIORITY_PIVOT = """
SELECT n.n_name AS nation,
       sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS p1,
       sum(CASE WHEN o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS p2,
       sum(CASE WHEN o.o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS p3,
       sum(CASE WHEN o.o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS p4,
       sum(CASE WHEN o.o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS p5
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
"""


# --------------------------------------------------------------------
# Dedup / text / similarity (training-data pipeline extensions)
# --------------------------------------------------------------------

def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, _t(sf_dir, "documents"))
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


SQL_EXACT_DEDUP_DOCS = """
SELECT doc_id, lang, source, n_chars
FROM documents
QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, _t(sf_dir, "documents"))
    tok = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok"),
    )
    stop = ["the", "a", "of", "and", "to", "in", "is", "it"]
    return tok.groupBy("doc_id", "n_chars").agg(
        F.count("*").alias("n_tokens"),
        _pr(F.avg(F.length("tok")), 6).alias("avg_token_len"),
        F.sum(F.col("tok").isin(stop).cast("long")).alias("n_stopwords"),
        _pr(
            F.sum(F.col("tok").isin(stop).cast("long")) / F.count("*"), 6
        ).alias("stopword_ratio"),
    )


SQL_TEXT_STATS = """
WITH tok AS (
  SELECT doc_id, length(text) AS n_chars,
         unnest(regexp_split_to_array(text, '\\s+')) AS tok
  FROM documents
)
SELECT doc_id, n_chars,
       count(*) AS n_tokens,
       floor((avg(length(tok))) * 1000000 + 0.5) / 1000000 AS avg_token_len,
       CAST(sum(CASE WHEN tok IN ('the','a','of','and','to','in','is','it') THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords,
       floor((sum(CASE WHEN tok IN ('the','a','of','and','to','in','is','it') THEN 1 ELSE 0 END) * 1.0 / count(*)) * 1000000 + 0.5) / 1000000 AS stopword_ratio
FROM tok
GROUP BY doc_id, n_chars
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: query vectors (vec_id < 5) against the
    full corpus. ``zip_with`` + ``aggregate`` keep the dot product
    JVM-side; ranking is deterministic via (rounded sim, vec_id)."""
    emb = load_table(spark, _t(sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dot = F.expr("aggregate(zip_with(qv, v, (x, y) -> x * y), 0D, (acc, e) -> acc + e)")
    qn = F.expr("sqrt(aggregate(zip_with(qv, qv, (x, y) -> x * y), 0D, (acc, e) -> acc + e))")
    vn = F.expr("sqrt(aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, e) -> acc + e))")
    pairs = (
        F.broadcast(q)
        .crossJoin(emb)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _pr(dot / (qn * vn), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


SQL_ANN_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
), pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         floor((
           list_sum(list_transform(list_zip(q.qv, e.embedding),
                                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) * 1000000 + 0.5) / 1000000 AS cosine
  FROM q, embeddings e
  WHERE e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
FROM pairs
QUALIFY rank <= 5
"""


# --------------------------------------------------------------------
# Analytical query shapes, batch 2: outer-join distribution (Q13),
# global-scalar HAVING (Q11), conditional-ratio (Q14), EXCEPT,
# CUBE grouping sets, RANGE-interval window frames, cohort retention,
# distinct-aggregation (Q16), and co-moment statistics.
# --------------------------------------------------------------------


def q_cust_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join customer→orders (customers
    with zero orders must survive), per-customer order count, then a
    second aggregation into the count-of-counts distribution. The
    outer join's null o_orderkey rows become n_orders=0 via COUNT's
    null-skipping — no COALESCE needed. Scale: both aggs combine
    map-side; the join shuffles on custkey once (orders side pruned
    to two columns at the scan)."""
    cust = load_table(spark, _t(sf_dir, "customer"))
    orders = load_table(spark, _t(sf_dir, "orders"))
    per_cust = (
        cust.select("c_custkey")
        .join(
            orders.select("o_custkey", "o_orderkey"),
            cust.c_custkey == orders.o_custkey,
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


SQL_CUST_ORDER_DIST = """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1
)
SELECT n_orders, count(*) AS n_customers FROM per_cust GROUP BY 1
"""


def q_nation_acctbal_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group sum filtered by HAVING against a
    GLOBAL scalar (nations holding >5%% of worldwide supplier
    account balance). The scalar lands as a 1-row broadcast
    (crossJoin(broadcast(total))) — Catalyst turns the comparison
    into a BroadcastNestedLoopJoin with a single-row build side, the
    same plan a decorrelated scalar subquery gets. Sums stay
    DECIMAL end-to-end so the threshold compare is exact in both
    engines."""
    sup = load_table(spark, _t(sf_dir, "supplier"))
    nat = load_table(spark, _t(sf_dir, "nation"))
    dec = F.col("s_acctbal").cast("decimal(30,6)")
    per_nation = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(dec).alias("_bal"))
    )
    total = sup.agg(F.sum(dec).alias("_total"))
    return (
        per_nation.crossJoin(F.broadcast(total))
        .filter(F.col("_bal") > F.col("_total") * F.lit(0.05).cast("decimal(8,6)"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("_bal").cast("double").alias("acctbal"),
        )
    )


SQL_NATION_ACCTBAL_SHARE = """
SELECT n.n_name AS nation,
       CAST(sum(CAST(s.s_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS acctbal
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1
HAVING sum(CAST(s.s_acctbal AS DECIMAL(30,6))) >
       (SELECT sum(CAST(s_acctbal AS DECIMAL(30,6))) FROM supplier)
       * CAST(0.05 AS DECIMAL(8,6))
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregation ratio — the share of
    1997 revenue from promo-branded parts, as one conditional SUM
    over a broadcast dim join. Single-row result; both sums are
    DECIMAL so the division is the only float op (then rounded)."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    part = load_table(spark, _t(sf_dir, "part"))
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(30,6)"
    )
    j = li.filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    ).join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        _pr(
            (
                F.sum(F.when(F.col("p_type").startswith("PROMO"), rev)).cast(
                    "double"
                )
                * 100.0
                / F.sum(rev).cast("double")
            ),
            6,
        ).alias("promo_share")
    )


SQL_PROMO_REVENUE_SHARE = """
SELECT floor((
         CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                       THEN CAST(l.l_extendedprice * (1.0 - l.l_discount)
                                 AS DECIMAL(30,6)) END) AS DOUBLE) * 100.0
         / CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE)
       ) * 1000000 + 0.5) / 1000000 AS promo_share
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
"""


def q_window_shoppers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op (distinct semantics): users who clicked on
    opening day but did not purchase that day. Complements
    repeat_buyers' INTERSECT — Catalyst rewrites EXCEPT into
    aggregate + LEFT ANTI hash join, both scans pruned to the key
    column with the date predicate pushed down."""
    ev = load_table(spark, _t(sf_dir, "events"))
    day1 = ev.filter(F.to_date("ts") == "2024-01-01")
    clicks = day1.filter(F.col("event_type") == "click").select("user_id")
    buys = day1.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.subtract(buys)


SQL_WINDOW_SHOPPERS = """
SELECT user_id FROM events
WHERE event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-01'
EXCEPT
SELECT user_id FROM events
WHERE event_type = 'purchase' AND CAST(ts AS DATE) = DATE '2024-01-01'
"""


def q_returns_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: all 4 combinations of
    (l_returnflag, l_linestatus) in ONE Expand pass over the scan —
    not 4 scans unioned. grouping() flags disambiguate data NULLs
    from subtotal rows, same contract as q_revenue_rollup."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    qty = F.col("l_quantity").cast("decimal(30,6)")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(qty).cast("double").alias("sum_qty"),
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
        )
        .select(
            "l_returnflag", "l_linestatus", "n_items", "sum_qty", "g_flag", "g_status"
        )
    )


SQL_RETURNS_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_status
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


_GROUPING_SETS_SQL = """
SELECT c_mktsegment AS segment,
       o_orderpriority AS priority,
       CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
       count(*) AS n_orders,
       floor(sum(o_totalprice) * 1000000 + 0.5) / 1000000 AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
"""


def q_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL GATEWAY end-to-end under the gate: tables registered as
    temp views by the engine loader (nanos/NTZ-normalized — the same
    frames the DataFrame API sees), then a plain ``spark.sql`` GROUPING
    SETS query. One ANSI-SQL string serves as BOTH the Spark query and
    the DuckDB oracle — the strongest possible statement that the SQL
    surface is a first-class way to drive this engine. GROUPING SETS
    itself: three explicit aggregation levels in ONE Expand pass, with
    grouping() flags separating subtotal rows from data NULLs."""
    from etl_finance_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir, names=("orders", "customer"))
    return spark.sql(_GROUPING_SETS_SQL)


def q_rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-interval window frame (the one frame type the rest of
    the surface lacks): per order priority, the trailing-7-day order
    revenue at each order date. Daily pre-aggregation first (shrinks
    the window input ~2000×), then a RANGE frame keyed on epoch
    seconds — a ROWS frame would be wrong wherever days are missing.
    Decimal daily sums keep the rolling total exact; one float cast
    at the end."""
    orders = load_table(spark, _t(sf_dir, "orders"))
    daily = orders.groupBy(
        "o_orderpriority", F.col("o_orderdate").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("_rev"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.unix_timestamp("day"))
        .rangeBetween(-6 * 86400, 0)
    )
    return daily.select(
        F.col("o_orderpriority").alias("priority"),
        "day",
        F.sum("_rev").over(w).cast("double").alias("rev_7d"),
    )


SQL_ROLLING_7D_REVENUE = """
WITH daily AS (
  SELECT o_orderpriority AS priority, o_orderdate AS day,
         sum(CAST(o_totalprice AS DECIMAL(30,6))) AS _rev
  FROM orders GROUP BY 1, 2
)
SELECT priority, day,
       CAST(sum(_rev) OVER (
         PARTITION BY priority ORDER BY day
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS rev_7d
FROM daily
"""


def q_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, count
    of distinct users still active N weeks later. Two aggregations
    and one shuffle join on user_id; week arithmetic via Monday
    date_trunc (identical in Spark and DuckDB). The distinct count
    is per (cohort, offset) — COUNT(DISTINCT) exercises the
    distinct-aggregation path (Expand + two-phase agg) that SURVEY
    §2.6 notes the reference never had."""
    ev = load_table(spark, _t(sf_dir, "events")).select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("_cohort")
    )
    j = ev.join(firsts, "user_id")
    return (
        j.select(
            F.col("_cohort").alias("cohort_week"),
            (
                F.datediff(F.to_date(F.date_trunc("week", F.col("ts"))), F.to_date("_cohort"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


SQL_WEEKLY_RETENTION = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY 1
)
SELECT f.cohort_week,
       CAST((CAST(date_trunc('week', e.ts) AS DATE) - CAST(f.cohort_week AS DATE))
            / 7 AS BIGINT) AS week_offset,
       count(DISTINCT e.user_id) AS active_users
FROM events e JOIN firsts f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


def q_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per (brand, type)
    for small parts, excluding one brand — distinct aggregation over
    a broadcast dim join with a pushed-down NOT-equal + IN filter."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    part = load_table(spark, _t(sf_dir, "part")).filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 7)
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.groupBy("p_brand", "p_type").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


SQL_BRAND_SUPPLIER_COUNTS = """
SELECT p.p_brand, p.p_type, count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 4, 7)
GROUP BY 1, 2
"""


def q_price_quantity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-moment statistics per return flag: Pearson correlation and
    sample covariance of (quantity, extendedprice), plus sample
    stddev. All three are single-pass distributed co-moment
    aggregates (Chan et al. pairwise merge) — numerically stable
    under partition-order permutation, rounded to 6 decimals because
    merge order still perturbs the last bits vs DuckDB's sequential
    accumulation."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    return li.groupBy("l_returnflag").agg(
        _pr(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        _pr(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
        _pr(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
    )


SQL_PRICE_QUANTITY_STATS = """
SELECT l_returnflag,
       floor(corr(l_quantity, l_extendedprice) * 1000000 + 0.5) / 1000000
         AS qty_price_corr,
       floor(covar_samp(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000
         AS qty_price_covar,
       floor(stddev_samp(l_extendedprice) * 10000 + 0.5) / 10000
         AS price_stddev
FROM lineitem GROUP BY 1
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document. Tokenize with one regex
    split (JVM-side, no UDF), term frequency per (doc, term), global
    document frequency, idf = ln(N/df) against a 1-row broadcast
    corpus size, then a deterministic row_number (score desc, term
    asc). Two shuffles: (doc,term) agg and term-level df agg — the
    df side is tiny and broadcast back."""
    docs = load_table(spark, _t(sf_dir, "documents"))
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
    ).filter(F.length("term") > 2)
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("_n"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            _pr(
                F.col("tf") * F.log(F.col("_n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


SQL_TFIDF_TOP_TERMS = """
WITH terms AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
       AS t(term)
  WHERE length(t.term) > 2
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(DISTINCT doc_id) AS _n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         floor(tf.tf * ln(CAST(n._n AS DOUBLE) / df.df) * 1000000 + 0.5)
           / 1000000 AS tfidf
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tfidf,
       CAST(row_number() OVER (
         PARTITION BY doc_id ORDER BY tfidf DESC, term
       ) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 3
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side aggregation behind three range
    predicates. Every filter (shipdate year, discount band, quantity
    cap) is pushable to the parquet reader — at 100 TB this query's
    cost is row-group skipping + one map-side partial sum, with no
    shuffle beyond the single-row final agg."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_FORECAST_REVENUE = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6)))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_disjunctive_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (OR-of-conjunctions) predicate
    spanning both join sides. Catalyst extracts the common residuals
    (l_quantity ≤ 30 bound, p_size ≥ 1) for scan pushdown while the
    full disjunction evaluates post-join; the part side broadcasts."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    part = load_table(spark, _t(sf_dir, "part"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(branch).agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                "decimal(30,6)"
            )
        )
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_DISJUNCTIVE_PARTS = """
SELECT CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                     AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: nested-aggregation ratio — NATION_3's share of
    ASIA-customer revenue per order year. One five-way star join (all
    dims broadcast), then a single conditional-sum aggregate; the
    numerator/denominator are exact DECIMAL sums so only the final
    division is float."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    orders = load_table(spark, _t(sf_dir, "orders"))
    cust = load_table(spark, _t(sf_dir, "customer"))
    supp = load_table(spark, _t(sf_dir, "supplier"))
    nation = load_table(spark, _t(sf_dir, "nation"))
    region = load_table(spark, _t(sf_dir, "region"))
    cn = (
        cust.join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    sn = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(30,6)"
    )
    j = (
        li.join(F.broadcast(orders.select("o_orderkey", "o_custkey", "o_orderdate")),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cn), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sn), li.l_suppkey == F.col("s_suppkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            _pr(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
    )


SQL_MARKET_SHARE = """
SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
       floor((
         CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                  THEN CAST(l.l_extendedprice * (1.0 - l.l_discount)
                            AS DECIMAL(30,6)) END) AS DOUBLE)
         / CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE)
       ) * 1000000 + 0.5) / 1000000 AS mkt_share,
       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                     AS DECIMAL(30,6))) AS DOUBLE) AS total_volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
GROUP BY 1
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate-over-aggregate — supplier(s) whose
    1996Q1 revenue equals the global max. Per-supplier revenues stay
    exact DECIMAL end-to-end, so the max-equality join is safe across
    engines (a double sum would tie-break on summation order). The
    1-row max broadcasts; the revenue agg is the only shuffle."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    supp = load_table(spark, _t(sf_dir, "supplier"))
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                    "decimal(30,6)"
                )
            ).alias("_rev")
        )
    )
    mx = rev.agg(F.max("_rev").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev._rev == F.col("_mx"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey",
            F.col("s_name").alias("name"),
            F.col("_rev").cast("double").alias("total_revenue"),
        )
    )


SQL_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6)))
           AS _rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name AS name, CAST(r._rev AS DOUBLE) AS total_revenue
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r._rev = (SELECT max(_rev) FROM rev)
"""


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global-scalar threshold + anti join — customers
    with above-average positive balance and no recent orders (none
    since 2000), profiled per nation. The avg compare is multiplied
    through (bal × n > Σbal) so both sides stay sums of identical
    doubles — no division whose rounding could flip a boundary row
    between engines. The 1-row threshold and the nation dim broadcast;
    orders ships one pruned, date-filtered column into the anti
    join."""
    cust = load_table(spark, _t(sf_dir, "customer"))
    orders = load_table(spark, _t(sf_dir, "orders"))
    nation = load_table(spark, _t(sf_dir, "nation"))
    thr = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(30,6)")).cast("double").alias("_s"),
        F.count("*").alias("_n"),
    )
    cand = cust.crossJoin(F.broadcast(thr)).filter(
        F.col("c_acctbal") * F.col("_n") > F.col("_s")
    )
    idle = cand.join(
        orders.filter(F.col("o_orderdate") >= "2000-01-01").select("o_custkey"),
        cand.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        idle.join(F.broadcast(nation), idle.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_custs"),
            F.sum(F.col("c_acctbal").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )


SQL_IDLE_CUSTOMERS = """
WITH thr AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS _s,
         count(*) AS _n
  FROM customer WHERE c_acctbal > 0.0
)
SELECT n.n_name AS nation, count(*) AS n_custs,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
         AS total_acctbal
FROM customer c, thr
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal * thr._n > thr._s
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
"""


def q_lonely_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to this schema: returnflag='R' plays
    the late-delivery role): suppliers who were the SOLE supplier with
    a returned line in a multi-supplier order. The classic
    EXISTS(other supplier) + NOT EXISTS(other returned supplier)
    self-join pair is decorrelated into a (order, supplier) grid
    aggregate plus an unordered window over it: per-pair "has a
    returned line" collapses the fact once (map-side combinable, no
    Expand — a double countDistinct would duplicate every shuffle row
    per distinct clause), then count/sum OVER (PARTITION BY order)
    derive both existence predicates with no self-join. Two shuffles
    end-to-end for both EXISTS checks."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    supp = load_table(spark, _t(sf_dir, "supplier"))
    pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("_ret")
    )
    w = Window.partitionBy("l_orderkey")
    sole = (
        pair.withColumn("_n_supp", F.count("*").over(w))
        .withColumn("_n_ret_supp", F.sum("_ret").over(w))
        .filter(
            (F.col("_ret") == 1)
            & (F.col("_n_supp") > 1)
            & (F.col("_n_ret_supp") == 1)
        )
    )
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(F.col("s_name").alias("name"), "numwait")
    )


SQL_LONELY_SUPPLIERS = """
WITH ret AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
  WHERE l_returnflag = 'R'
)
SELECT s.s_name AS name, count(*) AS numwait
FROM ret r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = r.l_orderkey AND l2.l_suppkey <> r.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = r.l_orderkey AND l3.l_suppkey <> r.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY 1
"""


def q_acctbal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family windows: percent_rank + cume_dist of customer
    balance within nation. Tie rows share identical values in both
    functions, so results are deterministic without a tiebreak; one
    (nation, acctbal) sort serves both windows."""
    cust = load_table(spark, _t(sf_dir, "customer"))
    nation = load_table(spark, _t(sf_dir, "nation"))
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    return (
        cust.select(
            "c_custkey",
            "c_nationkey",
            F.col("c_acctbal").alias("acctbal"),
            _pr(F.percent_rank().over(w), 6).alias("pct_rank"),
            _pr(F.cume_dist().over(w), 6).alias("cume_dist"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            "acctbal",
            "pct_rank",
            "cume_dist",
        )
    )


SQL_ACCTBAL_PERCENTILES = """
SELECT c.c_custkey, n.n_name AS nation, c.c_acctbal AS acctbal,
       floor(percent_rank() OVER (
         PARTITION BY c.c_nationkey ORDER BY c.c_acctbal
       ) * 1000000 + 0.5) / 1000000 AS pct_rank,
       floor(cume_dist() OVER (
         PARTITION BY c.c_nationkey ORDER BY c.c_acctbal
       ) * 1000000 + 0.5) / 1000000 AS cume_dist
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


def q_risk_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic %K (14-bar rolling min/max) + running max drawdown
    over 5-minute candles. All three window aggregates (rolling low,
    rolling high, running peak) share ONE (symbol, ts) sort pass; the
    %K denominator is NULL-guarded identically on both engines."""
    c = _candles_5m_raw(spark, sf_dir)
    w14 = (
        Window.partitionBy("SYMBOL").orderBy("TIMESTAMP").rowsBetween(-13, 0)
    )
    wrun = (
        Window.partitionBy("SYMBOL")
        .orderBy("TIMESTAMP")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lo = F.min("LOW").over(w14)
    hi = F.max("HIGH").over(w14)
    peak = F.max("CLOSE").over(wrun)
    pctk = F.when(hi != lo, (F.col("CLOSE") - lo) / (hi - lo) * 100.0)
    return c.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("ts"),
        F.col("CLOSE").alias("close"),
        _pr(pctk, 6).alias("stoch_k"),
        _pr(F.col("CLOSE") / peak - 1.0, 6).alias("drawdown"),
    )


def q_order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-percentile (p50/p90/p99) of order value per market
    segment — a holistic aggregate: unlike sum/avg it cannot partial-
    aggregate map-side, so Spark buffers each group's values after the
    shuffle. One shuffle on the group key, three quantiles from one
    sort of the buffer (the production path at raw-fact scale is
    approx_percentile, which IS partial-aggregatable; exact here for
    oracle parity — both engines define the quantile by linear
    interpolation)."""
    orders = load_table(spark, _t(sf_dir, "orders"))
    cust = load_table(spark, _t(sf_dir, "customer"))
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    pct = F.expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))")
    return (
        j.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            _pr(pct[0], 6).alias("p50"),
            _pr(pct[1], 6).alias("p90"),
            _pr(pct[2], 6).alias("p99"),
        )
    )


SQL_ORDER_PERCENTILES = """
WITH q AS (
  SELECT c.c_mktsegment AS segment, count(*) AS n_orders,
         quantile_cont(o.o_totalprice, [0.5, 0.9, 0.99]) AS _q
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
)
SELECT segment, n_orders,
       floor(_q[1] * 1000000 + 0.5) / 1000000 AS p50,
       floor(_q[2] * 1000000 + 0.5) / 1000000 AS p90,
       floor(_q[3] * 1000000 + 0.5) / 1000000 AS p99
FROM q
"""


def q_winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics: per-part-type mean of extended
    price after clipping to the GLOBAL [p05, p95] — the standard
    outlier-robust aggregation for noisy training-signal columns. The
    two global quantiles are one tiny 1-row aggregate, broadcast back
    onto the fact scan; the clip is a pure projection, so the per-group
    stats stay one map-side-combinable shuffle. Both engines define the
    quantile by linear interpolation."""
    li = load_table(spark, _t(sf_dir, "lineitem"))
    part = load_table(spark, _t(sf_dir, "part"))
    # bounds rounded portably BEFORE clipping: interpolated quantiles
    # differ across engines in the last ulp, which would flip the clip
    # decision for rows exactly at a bound
    bounds = li.agg(
        F.expr("percentile(l_extendedprice, array(0.05D, 0.95D))").alias("_b")
    ).select(_pr(F.col("_b")[0], 6).alias("_lo"), _pr(F.col("_b")[1], 6).alias("_hi"))
    clipped = li.crossJoin(F.broadcast(bounds)).withColumn(
        "_cl",
        F.least(F.greatest(F.col("l_extendedprice"), F.col("_lo")), F.col("_hi")),
    )
    j = clipped.join(F.broadcast(part), clipped.l_partkey == part.p_partkey)
    seg = F.split(F.col("p_type"), " ")[0]
    return (
        j.groupBy(seg.alias("type_class"))
        .agg(
            F.count("*").alias("n"),
            _pr(F.avg("_cl"), 6).alias("avg_clipped"),
            _pr(F.avg("l_extendedprice"), 6).alias("avg_raw"),
            F.sum((F.col("_cl") != F.col("l_extendedprice")).cast("long")).alias(
                "n_clipped"
            ),
        )
    )


SQL_WINSORIZED_PRICES = """
WITH b AS (
  SELECT floor(q[1] * 1000000 + 0.5) / 1000000 AS lo,
         floor(q[2] * 1000000 + 0.5) / 1000000 AS hi
  FROM (SELECT quantile_cont(l_extendedprice, [0.05, 0.95]) AS q FROM lineitem)
),
cl AS (
  SELECT l.l_partkey, l.l_extendedprice,
         least(greatest(l.l_extendedprice, b.lo), b.hi) AS c
  FROM lineitem l CROSS JOIN b
)
SELECT string_split(p.p_type, ' ')[1] AS type_class,
       count(*) AS n,
       floor(avg(cl.c) * 1000000 + 0.5) / 1000000 AS avg_clipped,
       floor(avg(cl.l_extendedprice) * 1000000 + 0.5) / 1000000 AS avg_raw,
       CAST(sum(CASE WHEN cl.c != cl.l_extendedprice THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM cl JOIN part p ON cl.l_partkey = p.p_partkey
GROUP BY 1
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per event type: bin =
    floor(value / 50). Binning is a pure projection, so the whole
    histogram is ONE map-side-combinable aggregation — the shuffle
    carries (type × bins) rows regardless of input size, the shape
    that makes histograms cheap at 100 TB."""
    ev = load_table(spark, _t(sf_dir, "events"))
    return (
        ev.groupBy(
            F.col("event_type"),
            F.floor(F.col("value") / 50).cast("long").alias("bin"),
        )
        .agg(
            F.count("*").alias("n"),
            _pr(F.sum("value"), 6).alias("bin_value_sum"),
        )
    )


SQL_VALUE_HISTOGRAM = """
SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS bin,
       count(*) AS n,
       floor(sum(value) * 1000000 + 0.5) / 1000000 AS bin_value_sum
FROM events
GROUP BY 1, 2
"""


def q_candles_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long): each OHLC candle becomes four (field,
    value) rows via ``stack`` — the inverse of the PIVOT shape and a
    pure narrow Expand projection: no shuffle beyond the candle agg
    itself, output exactly 4× candle rows."""
    c = _candles_5m_raw(spark, sf_dir)
    return c.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("ts"),
        F.expr(
            "stack(4, 'open', OPEN, 'high', HIGH, 'low', LOW, 'close', CLOSE)"
            " AS (field, value)"
        ),
    )


SQL_CANDLES_LONG = """
WITH dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS ts,
         arg_min(value, ts) AS open, max(value) AS high,
         min(value) AS low, arg_max(value, ts) AS close
  FROM dedup GROUP BY 1, 2
)
SELECT symbol, ts, u.field, u.value
FROM c5
CROSS JOIN LATERAL (VALUES ('open', open), ('high', high),
                           ('low', low), ('close', close)) AS u(field, value)
"""


def q_user_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: each user's first 20 events as
    a time-ordered array of event types. ``collect_list`` alone is
    shuffle-order-dependent — wrapping the elements in (ts, event_id,
    type) structs and ``sort_array``-ing AFTER collection makes the
    result engine-portable (the sort happens on the complete group,
    not on arrival order). One shuffle; slice caps the array; the
    path serializes with '>' so result rows stay hashable for the
    driver's comparator."""
    ev = load_table(spark, _t(sf_dir, "events"))
    item = F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
    return (
        ev.groupBy(F.col("user_id"))
        .agg(F.slice(F.sort_array(F.collect_list(item)), 1, 20).alias("_j"))
        .select(
            "user_id",
            F.array_join(
                F.transform(F.col("_j"), lambda s: s.event_type), ">"
            ).alias("journey"),
            F.size(F.col("_j")).cast("long").alias("n_events"),
        )
    )


SQL_USER_JOURNEYS = """
SELECT user_id,
       array_to_string((list(event_type ORDER BY ts, event_id))[1:20], '>')
         AS journey,
       CAST(least(count(*), 20) AS BIGINT) AS n_events
FROM events
GROUP BY 1
"""


def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution shape: fuzzy self-match of part names by edit
    distance (levenshtein ≤ 3). Names are DISTINCT-projected FIRST —
    the quadratic compare runs on |unique names|², not |parts|², the
    blocking step every fuzzy join needs at scale (at 100 TB the
    distinct-project is also the shuffle; the tiny name list then
    broadcasts into a nested-loop join)."""
    part = load_table(spark, _t(sf_dir, "part"))
    names = part.select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    return (
        a.join(F.broadcast(b), F.col("name_a") < F.col("name_b"))
        .withColumn(
            "edit_dist", F.levenshtein(F.col("name_a"), F.col("name_b")).cast("long")
        )
        .filter(F.col("edit_dist") <= 3)
    )


SQL_FUZZY_PART_NAMES = """
WITH n AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM n a JOIN n b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA 12/26 + MACD/signal/histogram over 5-minute candles via
    the grouped-map pandas UDF lane (operators.report.ewma_macd).
    Oracle: SQL_MACD mirrors the pandas ``ewm(adjust=True)`` kernel's
    exact state recursion (weighted_avg/old_wt pair, including the
    skip-update-when-equal guard) in a DuckDB recursive CTE — verified
    bit-identical to pandas, so the 6-decimal rounded hash matches."""
    from etl_finance_pipeline_spark.operators.report import ewma_macd

    c = _candles_5m_raw(spark, sf_dir)
    out = ewma_macd(c, key_cols=["SYMBOL"])
    return out.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("ts"),
        F.col("CLOSE").alias("close"),
        _pr("MACD", 6).alias("macd"),
        _pr("MACD_SIGNAL", 6).alias("macd_signal"),
        _pr("MACD_HIST", 6).alias("macd_hist"),
    )


def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder-style RSI(14) over 5-minute candles via the grouped-map
    pandas lane (operators.report.wilder_rsi). Oracle: recursive CTE
    mirroring pandas ``ewm(alpha=1/14, adjust=False)`` exactly — the
    ((1-a)*y + a*x) / ((1-a)+a) update INCLUDING pandas' skip-update-
    when-equal guard — so the 6-decimal rounded hash matches the
    kernel bit-for-bit (same device as SQL_MACD)."""
    from etl_finance_pipeline_spark.operators.report import wilder_rsi

    c = _candles_5m_raw(spark, sf_dir)
    out = wilder_rsi(c, key_cols=["SYMBOL"], n=14)
    return out.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("ts"),
        F.col("CLOSE").alias("close"),
        _pr("RSI", 6).alias("rsi"),
    )


_RSI_A = "(1.0/14.0)"

SQL_RSI = f"""
WITH RECURSIVE dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS ts,
         arg_max(value, ts) AS close
  FROM dedup GROUP BY 1, 2
), ord AS (
  SELECT symbol, ts, close,
         row_number() OVER (PARTITION BY symbol ORDER BY ts) AS rn
  FROM c5
), rec AS (
  SELECT o2.symbol, o2.ts, o2.close, o2.rn,
         greatest(o2.close - o1.close, 0.0) AS ag,
         greatest(o1.close - o2.close, 0.0) AS al
  FROM ord o1 JOIN ord o2 ON o2.symbol = o1.symbol AND o1.rn = 1 AND o2.rn = 2
  UNION ALL
  SELECT symbol, ts, close, rn,
         CASE WHEN pag = g THEN pag
              ELSE ((1.0 - {_RSI_A}) * pag + {_RSI_A} * g)
                   / ((1.0 - {_RSI_A}) + {_RSI_A}) END AS ag,
         CASE WHEN pal = l THEN pal
              ELSE ((1.0 - {_RSI_A}) * pal + {_RSI_A} * l)
                   / ((1.0 - {_RSI_A}) + {_RSI_A}) END AS al
  FROM (
    SELECT o.symbol, o.ts, o.close, o.rn,
           greatest(o.close - r.close, 0.0) AS g,
           greatest(r.close - o.close, 0.0) AS l,
           r.ag AS pag, r.al AS pal
    FROM rec r JOIN ord o ON o.symbol = r.symbol AND o.rn = r.rn + 1
  )
)
SELECT symbol, ts, close, CAST(NULL AS DOUBLE) AS rsi FROM ord WHERE rn = 1
UNION ALL
SELECT symbol, ts, close,
       floor((CASE WHEN al = 0.0 AND ag = 0.0 THEN 50.0
                   WHEN al = 0.0 THEN 100.0
                   ELSE 100.0 - 100.0 / (1.0 + ag / al) END)
             * 1000000 + 0.5) / 1000000 AS rsi
FROM rec
"""


def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-Balance Volume over the 5-minute candles — the associative
    counterpart to the RSI/MACD recursions: lag + signum + running
    sum, one JVM window pass, no pandas lane."""
    from etl_finance_pipeline_spark.operators.report import on_balance_volume

    c = _candles_5m_raw(spark, sf_dir)
    out = on_balance_volume(c, key_cols=["SYMBOL"])
    return out.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("ts"),
        F.col("CLOSE").alias("close"),
        _pr("OBV", 6).alias("obv"),
    )


SQL_OBV = """
WITH dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS ts,
         arg_max(value, ts) AS close,
         sum(value) AS volume
  FROM dedup GROUP BY 1, 2
), signed AS (
  SELECT symbol, ts, close,
         coalesce(sign(close - lag(close) OVER (PARTITION BY symbol ORDER BY ts)),
                  0.0) * volume AS sv
  FROM c5
)
SELECT symbol, ts, close,
       floor(sum(sv) OVER (PARTITION BY symbol ORDER BY ts
                           ROWS UNBOUNDED PRECEDING)
             * 1000000 + 0.5) / 1000000 AS obv
FROM signed
"""


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM level-shift monitor over the 5-minute candles
    (operators.report.cusum_monitor). Oracle: recursive CTE running
    the identical clamped recursion — every update is +/−/max over
    doubles seeded from the same exact decimal mean, so the rounded
    hash matches bit-for-bit."""
    from etl_finance_pipeline_spark.operators.report import cusum_monitor

    c = _candles_5m_raw(spark, sf_dir)
    out = cusum_monitor(c, key_cols=["SYMBOL"])
    return out.select(
        F.col("SYMBOL").alias("symbol"),
        F.col("TIMESTAMP").alias("ts"),
        _pr("CUSUM_HIGH", 6).alias("cusum_high"),
        _pr("CUSUM_LOW", 6).alias("cusum_low"),
        F.col("ALARM").alias("alarm"),
    )


SQL_CUSUM = """
WITH RECURSIVE dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS ts,
         arg_max(value, ts) AS close
  FROM dedup GROUP BY 1, 2
), mu AS (
  SELECT symbol,
         CAST(sum(CAST(close AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS mu
  FROM c5 GROUP BY 1
), ord AS (
  SELECT c5.symbol, c5.ts, c5.close, mu.mu,
         row_number() OVER (PARTITION BY c5.symbol ORDER BY c5.ts) AS rn
  FROM c5 JOIN mu ON mu.symbol = c5.symbol
), rec AS (
  SELECT symbol, ts, close, mu, rn,
         greatest(0.0, 0.0 + (close - mu) - 0.005 * mu) AS s_hi,
         greatest(0.0, 0.0 - (close - mu) - 0.005 * mu) AS s_lo
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.symbol, o.ts, o.close, o.mu, o.rn,
         greatest(0.0, r.s_hi + (o.close - o.mu) - 0.005 * o.mu) AS s_hi,
         greatest(0.0, r.s_lo - (o.close - o.mu) - 0.005 * o.mu) AS s_lo
  FROM rec r JOIN ord o ON o.symbol = r.symbol AND o.rn = r.rn + 1
)
SELECT symbol, ts,
       floor(s_hi * 1000000 + 0.5) / 1000000 AS cusum_high,
       floor(s_lo * 1000000 + 0.5) / 1000000 AS cusum_low,
       (s_hi > 0.05 * mu OR s_lo > 0.05 * mu) AS alarm
FROM rec
"""


def q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol OLS trend over the 5-minute candle series: exact
    integer/decimal moments, one double division per coefficient —
    deterministic cross-engine like the CUPED readout."""
    from etl_finance_pipeline_spark.operators.report import trend_ols

    c = _candles_5m_raw(spark, sf_dir)
    out = trend_ols(c, key_cols=["SYMBOL"])
    return out.select(
        F.col("SYMBOL").alias("symbol"),
        "n",
        _pr("slope", 6).alias("slope"),
        _pr("intercept", 6).alias("intercept"),
    )


SQL_TREND_OLS = """
WITH dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS ts,
         arg_max(value, ts) AS close
  FROM dedup GROUP BY 1, 2
), xy AS (
  SELECT symbol,
         CAST(row_number() OVER (PARTITION BY symbol ORDER BY ts) - 1
              AS BIGINT) AS x,
         CAST(close AS DECIMAL(30,6)) AS y
  FROM c5
), g AS (
  SELECT symbol, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy GROUP BY 1
)
SELECT symbol, CAST(n AS BIGINT) AS n,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000 + 0.5) / 1000000
         AS slope,
       floor(((CAST(sy AS DOUBLE)
               - (CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE))
                 * CAST(sx AS DOUBLE)) / n) * 1000000 + 0.5) / 1000000
         AS intercept
FROM g
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation under the gate: two deterministic
    customer-table variants (rows dropped on each side + an acctbal
    bump on a third stripe) diffed on the business key — added /
    removed / changed, unchanged rows omitted, null-safe comparison."""
    from etl_finance_pipeline_spark.operators.normalize import snapshot_diff

    cust = load_table(spark, _t(sf_dir, "customer"))
    old = cust.filter(F.col("c_custkey") % 97 != 3)
    new = cust.filter(F.col("c_custkey") % 97 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 100.0
        ).otherwise(F.col("c_acctbal")),
    )
    out = snapshot_diff(
        old, new, ["c_custkey"], compare_cols=["c_acctbal", "c_mktsegment"]
    )
    return out.select(F.col("c_custkey").alias("custkey"), "change_type")


SQL_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
  WHERE c_custkey % 97 != 3
),
new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 97 != 0
),
j AS (
  SELECT o.c_custkey AS ok, n.c_custkey AS nk,
         coalesce(o.c_custkey, n.c_custkey) AS custkey,
         CASE
           WHEN o.c_custkey IS NULL THEN 'added'
           WHEN n.c_custkey IS NULL THEN 'removed'
           WHEN NOT (o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
                     AND o.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment)
             THEN 'changed'
         END AS change_type
  FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
)
SELECT custkey, change_type FROM j WHERE change_type IS NOT NULL
"""


def q_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation under the oracle gate. The
    events table's handful of event_type groups is the classic
    low-cardinality skew shape — unsalted, each group's rows serialize
    into one reduce task. salted_agg spreads every group over 16 salt
    buckets, partially aggregates, then merges; results are exactly the
    plain GROUP BY (the oracle), while each task is bounded by
    group_size/16. Double sums are portably rounded (summation order is
    engine-internal for any distributed sum)."""
    from etl_finance_pipeline_spark.functions.skew import salted_agg

    ev = load_table(spark, _t(sf_dir, "events"))
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n": ("count", "*"),
            "total_value": ("sum", "value"),
            "max_value": ("max", "value"),
            "first_ts": ("min", "ts"),
            "last_ts": ("max", "ts"),
        },
    )
    return out.select(
        F.col("event_type").alias("symbol"),
        F.col("n"),
        _pr("total_value", 6).alias("total_value"),
        F.col("max_value"),
        F.col("first_ts"),
        F.col("last_ts"),
    )


SQL_SALTED_EVENT_STATS = """
SELECT event_type AS symbol,
       count(*) AS n,
       floor(sum(value) * 1000000 + 0.5) / 1000000 AS total_value,
       max(value) AS max_value,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM events
GROUP BY 1
"""


def q_salted_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join under the oracle gate: purchase events against
    the customer dimension with the join key salted and the right side
    replicated 16x — the shape for a hot fact key joining a dimension
    too large to broadcast. Results are exactly the plain inner join
    (the oracle); per-key rows spread across 16 tasks instead of one."""
    from etl_finance_pipeline_spark.functions.skew import salted_join

    ev = (
        load_table(spark, _t(sf_dir, "events"))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", F.col("user_id").alias("c_custkey"), "value")
    )
    cust = load_table(spark, _t(sf_dir, "customer")).select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    out = salted_join(ev, cust, on=["c_custkey"])
    agg = out.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_purchases"),
        _pr(F.sum("value"), 6).alias("segment_value"),
    )
    return agg.select(
        F.col("c_mktsegment").alias("segment"), "n_purchases", "segment_value"
    )


SQL_SALTED_PURCHASE_JOIN = """
SELECT c.c_mktsegment AS segment,
       count(*) AS n_purchases,
       floor(sum(e.value) * 1000000 + 0.5) / 1000000 AS segment_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY 1
"""


#: fixed retrieval query for the BM25 demo (terms present in the
#: synthetic corpus); identical list inlined in the oracle SQL
_BM25_TERMS = ("join", "vector", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Okapi, k1=1.2, b=0.75) for a fixed term
    set over the documents table — the classic lexical-search scorer a
    training-data pipeline pairs with embedding ANN for hybrid
    retrieval. All JVM-side: one tokenize+explode, per-(doc, term) tf,
    per-term df, doc lengths, and a broadcast of the tiny (df, stats)
    sides back onto tf. idf uses the standard
    ln(1 + (N - df + 0.5)/(df + 0.5)) form. Top-20 by score with
    deterministic tie-break."""
    docs = load_table(spark, _t(sf_dir, "documents"))
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
    ).filter(F.length("term") > 2)
    dl = terms.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = (
        terms.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = docs.agg(F.countDistinct("doc_id").alias("_n")).crossJoin(
        dl.agg(F.avg("dl").alias("_avgdl"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("_avgdl")
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            _pr(F.sum(idf * F.col("tf") * (_BM25_K1 + 1.0) / denom), 6).alias(
                "score"
            ),
            F.count("*").alias("n_terms_hit"),
        )
    )
    # TakeOrderedAndProject (per-partition top-20 + driver merge), not
    # a global row_number window — an unpartitioned window funnels
    # every doc matching any term through one partition, unbounded for
    # common terms at scale; rank re-derived on the 20 survivors.
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(20)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "score", "n_terms_hit", "rank")
    )


SQL_BM25_SEARCH = f"""
WITH terms AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
       AS t(term)
  WHERE length(t.term) > 2
), dl AS (
  SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms
  WHERE term IN ('join', 'vector', 'filter')
  GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), stats AS (
  SELECT (SELECT count(DISTINCT doc_id) FROM documents) AS _n,
         (SELECT avg(dl) FROM dl) AS _avgdl
), scored AS (
  SELECT tf.doc_id,
         floor(sum(
           ln(1.0 + (stats._n - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * ({_BM25_K1} + 1.0)
           / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats._avgdl))
         ) * 1000000 + 0.5) / 1000000 AS score,
         count(*) AS n_terms_hit
  FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY 1
)
SELECT doc_id, score, n_terms_hit,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 20
"""


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the lexical arm (BM25 top-20) and the
    semantic arm (exact cosine top-20 for query vector 0) fused with
    reciprocal-rank fusion, RRF = Σ 1/(60 + rank) over the arms where
    the document appears. Rank-based fusion is scale-free — no score
    normalization across arms — and the fused top-10 is deterministic
    (rrf desc, doc_id). This is the standard hybrid-search shape a
    training-data/retrieval pipeline runs next to pure ANN."""
    from etl_finance_pipeline_spark.operators.similarity import cosine_topk

    lex = q_bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("r_lex")
    )
    emb = load_table(spark, _t(sf_dir, "embeddings"))
    sem = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r_sem")
    )
    rrf = F.coalesce(1.0 / (F.lit(60.0) + F.col("r_lex")), F.lit(0.0)) + F.coalesce(
        1.0 / (F.lit(60.0) + F.col("r_sem")), F.lit(0.0)
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        _pr(rrf, 6).alias("rrf"),
        F.col("r_lex").cast("long").alias("r_lex"),
        F.col("r_sem").cast("long").alias("r_sem"),
    )
    # Same TakeOrderedAndProject shape as the lexical arm: the fused
    # set is ≤40 rows here, but keeping the orderBy+limit form means
    # no unpartitioned WindowExec anywhere in the retrieval family.
    top = fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(10)
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "rrf", "r_lex", "r_sem", "rank")
    )


_COS_SQL_Q = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)

SQL_HYBRID_SEARCH = f"""
WITH terms AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
       AS t(term)
  WHERE length(t.term) > 2
), dl AS (
  SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms
  WHERE term IN ('join', 'vector', 'filter')
  GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), stats AS (
  SELECT (SELECT count(DISTINCT doc_id) FROM documents) AS _n,
         (SELECT avg(dl) FROM dl) AS _avgdl
), bm AS (
  SELECT tf.doc_id,
         floor(sum(
           ln(1.0 + (stats._n - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * ({_BM25_K1} + 1.0)
           / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats._avgdl))
         ) * 1000000 + 0.5) / 1000000 AS score
  FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY 1
), lex AS (
  SELECT doc_id, r_lex FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
    FROM bm
  ) WHERE r_lex <= 20
), qv AS (
  SELECT embedding AS v FROM embeddings WHERE vec_id = 0
), sem AS (
  SELECT doc_id, r_sem FROM (
    SELECT e.vec_id AS doc_id,
           row_number() OVER (ORDER BY
             floor(({_COS_SQL_Q.format(a='qv.v', b='e.embedding')}) * 1000000 + 0.5) / 1000000 DESC,
             e.vec_id) AS r_sem
    FROM embeddings e CROSS JOIN qv
    WHERE e.vec_id != 0
  ) WHERE r_sem <= 20
), fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         floor((COALESCE(1.0 / (60.0 + r_lex), 0.0)
              + COALESCE(1.0 / (60.0 + r_sem), 0.0)) * 1000000 + 0.5) / 1000000 AS rrf,
         CAST(r_lex AS BIGINT) AS r_lex,
         CAST(r_sem AS BIGINT) AS r_sem
  FROM lex FULL OUTER JOIN sem USING (doc_id)
)
SELECT doc_id, rrf, r_lex, r_sem,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
FROM fused
QUALIFY rank <= 10
"""


# Mirrors pandas' ewm(adjust=True) mean kernel exactly: per step the
# state is (weighted_avg, old_wt); old_wt *= (1 - alpha); then, ONLY
# when the incoming value differs from the running average (pandas
# skips the update when equal to avoid float noise),
# avg = (old_wt * avg + cur) / (old_wt + 1); old_wt += 1. The same op
# order in DuckDB doubles reproduces pandas bit-for-bit, so the
# 6-decimal portable rounding agrees. Signal line = the same recursion
# over the macd series (fast - slow), seeded at the first row where
# macd is exactly 0.0.
SQL_MACD = """
WITH RECURSIVE dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS ts,
         arg_max(value, ts) AS close
  FROM dedup GROUP BY 1, 2
), ord AS (
  SELECT symbol, ts, close,
         row_number() OVER (PARTITION BY symbol ORDER BY ts) AS rn
  FROM c5
), rec AS (
  SELECT symbol, ts, close, rn,
         close AS fast_avg, 1.0::DOUBLE AS fast_wt,
         close AS slow_avg, 1.0::DOUBLE AS slow_wt,
         0.0::DOUBLE AS macd,
         0.0::DOUBLE AS sig_avg, 1.0::DOUBLE AS sig_wt
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT symbol, ts, close, rn,
         f_avg, f_wt, s_avg, s_wt,
         f_avg - s_avg AS macd,
         CASE WHEN p_sig = (f_avg - s_avg) THEN p_sig
              ELSE (sw0 * p_sig + (f_avg - s_avg)) / (sw0 + 1.0) END AS sig_avg,
         sw0 + 1.0 AS sig_wt
  FROM (
    SELECT o.symbol, o.ts, o.close, o.rn,
           CASE WHEN r.fast_avg = o.close THEN r.fast_avg
                ELSE ((r.fast_wt * (1.0 - 2.0/13.0)) * r.fast_avg + o.close)
                     / ((r.fast_wt * (1.0 - 2.0/13.0)) + 1.0) END AS f_avg,
           (r.fast_wt * (1.0 - 2.0/13.0)) + 1.0 AS f_wt,
           CASE WHEN r.slow_avg = o.close THEN r.slow_avg
                ELSE ((r.slow_wt * (1.0 - 2.0/27.0)) * r.slow_avg + o.close)
                     / ((r.slow_wt * (1.0 - 2.0/27.0)) + 1.0) END AS s_avg,
           (r.slow_wt * (1.0 - 2.0/27.0)) + 1.0 AS s_wt,
           r.sig_avg AS p_sig,
           (r.sig_wt * (1.0 - 2.0/10.0)) AS sw0
    FROM rec r JOIN ord o ON o.symbol = r.symbol AND o.rn = r.rn + 1
  )
)
SELECT symbol, ts, close,
       floor(macd * 1000000 + 0.5) / 1000000 AS macd,
       floor(sig_avg * 1000000 + 0.5) / 1000000 AS macd_signal,
       floor((macd - sig_avg) * 1000000 + 0.5) / 1000000 AS macd_hist
FROM rec
"""


SQL_RISK_INDICATORS = """
WITH dedup AS (
  SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type, ts ORDER BY event_id) = 1
), c5 AS (
  SELECT event_type AS symbol,
         time_bucket(INTERVAL 5 MINUTE, ts) AS ts,
         max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
  FROM dedup GROUP BY 1, 2
), w AS (
  SELECT symbol, ts, close,
         min(low) OVER (PARTITION BY symbol ORDER BY ts
           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS lo,
         max(high) OVER (PARTITION BY symbol ORDER BY ts
           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hi,
         max(close) OVER (PARTITION BY symbol ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM c5
)
SELECT symbol, ts, close,
       floor(((close - lo) / NULLIF(hi - lo, 0) * 100.0) * 1000000 + 0.5)
         / 1000000 AS stoch_k,
       floor((close / peak - 1.0) * 1000000 + 0.5) / 1000000 AS drawdown
FROM w
"""


# --------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------

from etl_finance_pipeline_spark.plans.analytics import REGISTRY_AN  # noqa: E402
from etl_finance_pipeline_spark.plans.training_data import REGISTRY_TD  # noqa: E402

#: name -> (Spark plan, DuckDB oracle SQL); this module's own entries, then the
#: training-data and analytics tables; ``__spark_entry__`` derives the
#: driver's ``queries()`` and ``oracle_sql()`` from it.
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "candles_5m": (q_candles_5m, SQL_CANDLES_5M),
    "dedupe_keep_first": (q_dedupe_keep_first, SQL_DEDUPE_KEEP_FIRST),
    "missing_minutes": (q_missing_minutes, SQL_MISSING_MINUTES),
    "gap_islands": (q_gap_islands, SQL_GAP_ISLANDS),
    "reindex_ffill": (q_reindex_ffill, SQL_REINDEX_FFILL),
    "interpolate_linear": (q_interpolate_linear, SQL_INTERPOLATE_LINEAR),
    "resample_1h": (q_resample_1h, SQL_RESAMPLE_1H),
    "resample_monthly": (q_resample_monthly, SQL_RESAMPLE_MONTHLY),
    "sma": (q_sma, SQL_SMA),
    "indicators": (q_indicators, SQL_INDICATORS),
    "returns": (q_returns, SQL_RETURNS),
    "dq_profile": (q_dq_profile, SQL_DQ_PROFILE),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "nation_revenue": (q_nation_revenue, SQL_NATION_REVENUE),
    "top_customers": (q_top_customers, SQL_TOP_CUSTOMERS),
    "late_order_priorities": (q_late_order_priorities, SQL_LATE_ORDER_PRIORITIES),
    "supplier_rank_by_nation": (q_supplier_rank_by_nation, SQL_SUPPLIER_RANK_BY_NATION),
    "part_type_share": (q_part_type_share, SQL_PART_TYPE_SHARE),
    "ship_priority": (q_ship_priority, SQL_SHIP_PRIORITY),
    "big_orders": (q_big_orders, SQL_BIG_ORDERS),
    "trade_volume": (q_trade_volume, SQL_TRADE_VOLUME),
    "small_qty_revenue": (q_small_qty_revenue, SQL_SMALL_QTY_REVENUE),
    "stale_parts": (q_stale_parts, SQL_STALE_PARTS),
    "clean_orders": (q_clean_orders, SQL_CLEAN_ORDERS),
    "order_quartiles": (q_order_quartiles, SQL_ORDER_QUARTILES),
    "repeat_buyers": (q_repeat_buyers, SQL_REPEAT_BUYERS),
    "revenue_rollup": (q_revenue_rollup, SQL_REVENUE_ROLLUP),
    "priority_pivot": (q_priority_pivot, SQL_PRIORITY_PIVOT),
    "exact_dedup_docs": (q_exact_dedup_docs, SQL_EXACT_DEDUP_DOCS),
    "text_stats": (q_text_stats, SQL_TEXT_STATS),
    "ann_topk": (q_ann_topk, SQL_ANN_TOPK),
    "cust_order_dist": (q_cust_order_dist, SQL_CUST_ORDER_DIST),
    "nation_acctbal_share": (q_nation_acctbal_share, SQL_NATION_ACCTBAL_SHARE),
    "promo_revenue_share": (q_promo_revenue_share, SQL_PROMO_REVENUE_SHARE),
    "window_shoppers": (q_window_shoppers, SQL_WINDOW_SHOPPERS),
    "returns_cube": (q_returns_cube, SQL_RETURNS_CUBE),
    "grouping_sets_sql": (q_grouping_sets_sql, _GROUPING_SETS_SQL),
    "rolling_7d_revenue": (q_rolling_7d_revenue, SQL_ROLLING_7D_REVENUE),
    "weekly_retention": (q_weekly_retention, SQL_WEEKLY_RETENTION),
    "brand_supplier_counts": (q_brand_supplier_counts, SQL_BRAND_SUPPLIER_COUNTS),
    "price_quantity_stats": (q_price_quantity_stats, SQL_PRICE_QUANTITY_STATS),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "forecast_revenue": (q_forecast_revenue, SQL_FORECAST_REVENUE),
    "disjunctive_parts": (q_disjunctive_parts, SQL_DISJUNCTIVE_PARTS),
    "market_share": (q_market_share, SQL_MARKET_SHARE),
    "top_supplier": (q_top_supplier, SQL_TOP_SUPPLIER),
    "idle_customers": (q_idle_customers, SQL_IDLE_CUSTOMERS),
    "lonely_suppliers": (q_lonely_suppliers, SQL_LONELY_SUPPLIERS),
    "acctbal_percentiles": (q_acctbal_percentiles, SQL_ACCTBAL_PERCENTILES),
    "risk_indicators": (q_risk_indicators, SQL_RISK_INDICATORS),
    "macd": (q_macd, SQL_MACD),
    "rsi": (q_rsi, SQL_RSI),
    "obv": (q_obv, SQL_OBV),
    "cusum": (q_cusum, SQL_CUSUM),
    "trend_ols": (q_trend_ols, SQL_TREND_OLS),
    "snapshot_diff": (q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "salted_event_stats": (q_salted_event_stats, SQL_SALTED_EVENT_STATS),
    "salted_purchase_join": (q_salted_purchase_join, SQL_SALTED_PURCHASE_JOIN),
    "bm25_search": (q_bm25_search, SQL_BM25_SEARCH),
    "hybrid_search": (q_hybrid_search, SQL_HYBRID_SEARCH),
    "order_percentiles": (q_order_percentiles, SQL_ORDER_PERCENTILES),
    "winsorized_prices": (q_winsorized_prices, SQL_WINSORIZED_PRICES),
    "value_histogram": (q_value_histogram, SQL_VALUE_HISTOGRAM),
    "candles_long": (q_candles_long, SQL_CANDLES_LONG),
    "user_journeys": (q_user_journeys, SQL_USER_JOURNEYS),
    "fuzzy_part_names": (q_fuzzy_part_names, SQL_FUZZY_PART_NAMES),
    **REGISTRY_TD,
    **REGISTRY_AN,
}
