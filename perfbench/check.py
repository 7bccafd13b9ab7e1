"""Independent DuckDB checks of the engine's outputs.

The expected side never touches Spark: raw input files are read with
pyarrow in file order, and every transformation is re-derived in DuckDB
SQL from the pipeline's documented semantics.

ETL (``EtlOracle``), per output timeframe at step ``s`` seconds:
  keep-first dedupe on (symbol, stamp) by file order
  -> grid from each symbol's first to last stamp every ``s`` seconds
     (minutes off that grid are dropped, as the engine's repair at the
     target frequency does)
  -> forward-fill VOLUME -> time-linear interpolation of OPEN/HIGH/LOW/
     CLOSE with edge extension -> epoch-aligned buckets of ``s`` seconds
  -> row count and an order-insensitive hash of rounded values.
For the 1-minute output two exact checks come first: every input stamp
carries its keep-first raw values, and there is one row per minute from
each symbol's first stamp to its last.

table_ops (``TableOracle``): the live state is replayed from the
generated files of the commits that succeeded, and every read is
recomputed (filter, SMA, log return, rolling volatility) and compared.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: (output label, step seconds) for the default 1T/5T/15T/1H config
TIMEFRAMES = (("1m", 60), ("5m", 300), ("15m", 900), ("1H", 3600))
ROUND = 6


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads=2")
    return con


def load_raw(raw_dir: str) -> pa.Table:
    """(sym, ts, o, h, l, c, v, rn) for every raw row, rn = file order."""
    parts = []
    for path in sorted(glob.glob(os.path.join(raw_dir, "*"))):
        name = os.path.basename(path)
        sym = name.split("_")[0].upper()
        if name.endswith(".csv"):
            t = pacsv.read_csv(
                path,
                convert_options=pacsv.ConvertOptions(
                    column_types={"time": pa.timestamp("us")}
                ),
            )
            cols = ["time", "open", "high", "low", "close", "volume"]
        else:
            t = pq.read_table(path)
            cols = ["datetime", "Open", "High", "Low", "Close", "tickvol"]
        n = t.num_rows
        parts.append(
            pa.table(
                {
                    "sym": pa.array([sym] * n, pa.string()),
                    "ts": t[cols[0]].cast(pa.timestamp("us")).cast(pa.int64()),
                    "o": t[cols[1]].cast(pa.float64()),
                    "h": t[cols[2]].cast(pa.float64()),
                    "l": t[cols[3]].cast(pa.float64()),
                    "c": t[cols[4]].cast(pa.float64()),
                    "v": t[cols[5]].cast(pa.float64()),
                    "rn": pa.array(np.arange(n, dtype=np.int64)),
                }
            )
        )
    return pa.concat_tables(parts)


_HASH = (
    "count(*) AS n, sum(hash(sym, b, round(o, {r}), round(h, {r}), round(l, {r}),"
    " round(c, {r}), round(v, {r}))::HUGEINT) AS hsum"
).format(r=ROUND)


class EtlOracle:
    """Expected row counts and hashes per timeframe, computed once per
    input directory; :meth:`check` compares one export against them."""

    def __init__(self, raw_dir: str) -> None:
        self.con = _connect()
        raw = load_raw(raw_dir)
        self.input_rows = raw.num_rows
        self.con.register("raw_arrow", raw)
        self.con.execute(
            """
            CREATE TABLE dedup AS
            SELECT sym, ts // 1000000 AS ts, o, h, l, c, v FROM (
              SELECT *, row_number() OVER (PARTITION BY sym, ts ORDER BY rn) AS k
              FROM raw_arrow) WHERE k = 1
            """
        )
        self.deduped_rows = self.con.execute("SELECT count(*) FROM dedup").fetchone()[0]
        self.expected = {label: self._expected(step) for label, step in TIMEFRAMES}

    def _expected(self, step: int) -> tuple[int, int]:
        price = []
        for x in "ohlc":
            valid_ts = f"CASE WHEN {x} IS NOT NULL THEN t END"
            price.append(
                f"""coalesce({x},
                  last_value({x} IGNORE NULLS) OVER back
                    + (last_value({x} IGNORE NULLS) OVER fwd
                       - last_value({x} IGNORE NULLS) OVER back)
                    * (t - last_value({valid_ts} IGNORE NULLS) OVER back)
                    / (last_value({valid_ts} IGNORE NULLS) OVER fwd
                       - last_value({valid_ts} IGNORE NULLS) OVER back),
                  last_value({x} IGNORE NULLS) OVER back,
                  last_value({x} IGNORE NULLS) OVER fwd) AS {x}"""
            )
        sql = f"""
        WITH bounds AS (SELECT sym, min(ts) AS lo, max(ts) AS hi FROM dedup GROUP BY sym),
        grid AS (SELECT sym, unnest(range(lo, hi + 1, {step})) AS ts FROM bounds),
        joined AS (
          SELECT g.sym, g.ts, g.ts::DOUBLE AS t, d.o, d.h, d.l, d.c, d.v
          FROM grid g LEFT JOIN dedup d USING (sym, ts)),
        repaired AS (
          SELECT sym, ts,
            last_value(v IGNORE NULLS) OVER back AS v,
            {", ".join(price)}
          FROM joined
          WINDOW back AS (PARTITION BY sym ORDER BY ts ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 fwd AS (PARTITION BY sym ORDER BY ts DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        candles AS (
          SELECT sym, ts - ts % {step} AS b,
            arg_min(o, ts) FILTER (WHERE o IS NOT NULL) AS o, max(h) AS h, min(l) AS l,
            arg_max(c, ts) FILTER (WHERE c IS NOT NULL) AS c, sum(v) AS v
          FROM repaired GROUP BY 1, 2)
        SELECT {_HASH} FROM candles WHERE c IS NOT NULL
        """
        n, hsum = self.con.execute(sql).fetchone()
        return int(n), int(hsum or 0)

    def _register_output(self, out_dir: str, label: str) -> str:
        view = f"out_{label}"
        files = os.path.join(out_dir, f"candles_{label}", "**", "*.parquet")
        self.con.execute(
            f"""CREATE OR REPLACE TEMP VIEW {view} AS
            SELECT CAST(SYMBOL AS VARCHAR) AS sym, epoch_us("TIMESTAMP") // 1000000 AS b,
                   OPEN AS o, HIGH AS h, LOW AS l, CLOSE AS c, VOLUME AS v
            FROM read_parquet('{files}', hive_partitioning = true)"""
        )
        return view

    def check(self, out_dir: str) -> tuple[list[str], dict[str, int]]:
        """(problems found in the export under *out_dir*, rows per
        timeframe). No problems means the export is correct."""
        problems = []
        rows: dict[str, int] = {}
        try:
            views = {label: self._register_output(out_dir, label) for label, _ in TIMEFRAMES}
        except duckdb.Error as exc:
            return [f"output unreadable: {exc}"], rows
        one = views["1m"]
        wrong = self.con.execute(
            f"""SELECT count(*) FROM dedup d LEFT JOIN {one} o ON o.sym = d.sym AND o.b = d.ts
            WHERE o.b IS NULL OR o.o IS DISTINCT FROM d.o OR o.h IS DISTINCT FROM d.h
               OR o.l IS DISTINCT FROM d.l OR o.c IS DISTINCT FROM d.c
               OR o.v IS DISTINCT FROM d.v"""
        ).fetchone()[0]
        if wrong:
            problems.append(f"1m: {wrong} input stamps lack their keep-first raw values")
        holes = self.con.execute(
            f"""WITH o AS (SELECT sym, count(*) AS n, count(DISTINCT b) AS nd,
                                  min(b) AS lo, max(b) AS hi FROM {one} GROUP BY sym),
                 d AS (SELECT sym, min(ts) AS lo, max(ts) AS hi FROM dedup GROUP BY sym)
            SELECT count(*) FROM d FULL JOIN o USING (sym)
            WHERE o.n IS NULL OR d.lo IS NULL OR o.lo <> d.lo OR o.hi <> d.hi
               OR o.n <> o.nd OR o.n <> (d.hi - d.lo) // 60 + 1"""
        ).fetchone()[0]
        if holes:
            problems.append(f"1m: {holes} symbols lack one row per minute from first to last stamp")
        for label, _ in TIMEFRAMES:
            n, hsum = self.con.execute(f"SELECT {_HASH} FROM {views[label]}").fetchone()
            want_n, want_h = self.expected[label]
            rows[label] = int(n)
            if int(n) != want_n:
                problems.append(f"{label}: {n} rows, expected {want_n}")
            elif int(hsum or 0) != want_h:
                problems.append(f"{label}: content hash differs from the DuckDB replica")
        return problems, rows

    def close(self) -> None:
        self.con.close()


class TableOracle:
    """Replays the table's intended state in DuckDB and checks reads."""

    def __init__(self) -> None:
        self.con = _connect()
        self.con.execute(
            "CREATE TABLE state (sym VARCHAR, ts BIGINT, o DOUBLE, h DOUBLE,"
            " l DOUBLE, c DOUBLE, v DOUBLE, PRIMARY KEY (sym, ts))"
        )

    def _load(self, path: str) -> None:
        self.con.execute(
            f"""CREATE OR REPLACE TEMP VIEW incoming AS
            SELECT SYMBOL AS sym, epoch_us("TIMESTAMP") AS ts, OPEN AS o, HIGH AS h,
                   LOW AS l, CLOSE AS c, VOLUME AS v FROM read_parquet('{path}')"""
        )

    def append(self, path: str) -> None:
        self._load(path)
        self.con.execute("INSERT INTO state SELECT * FROM incoming")

    def merge(self, path: str) -> None:
        self._load(path)
        self.con.execute("INSERT OR REPLACE INTO state SELECT * FROM incoming")

    def rows(self) -> int:
        return int(self.con.execute("SELECT count(*) FROM state").fetchone()[0])

    def expected_read(self, sym: str, since_us: int, sma_window: int, vol_window: int):
        """Rows of one read, ordered by stamp: (ts_us, close, sma, log_return, volatility)."""
        return self.con.execute(
            f"""WITH s AS (SELECT ts, c FROM state WHERE sym = ? AND ts >= ?),
            r AS (SELECT ts, c,
                    avg(c) OVER (ORDER BY ts ROWS BETWEEN {sma_window - 1} PRECEDING AND CURRENT ROW) AS sma,
                    ln(c / lag(c) OVER (ORDER BY ts)) AS lr FROM s)
            SELECT ts, c, sma, lr,
                   stddev_samp(lr) OVER (ORDER BY ts ROWS BETWEEN {vol_window - 1} PRECEDING AND CURRENT ROW)
            FROM r ORDER BY ts""",
            [sym, since_us],
        ).fetchall()

    def close(self) -> None:
        self.con.close()


def rows_match(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Same stamps and values within *rel* (window sums may add in another order)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g[0] != w[0]:
            return False
        for a, b in zip(g[1:], w[1:]):
            if a is None or b is None:
                if a is not b:
                    return False
            elif abs(a - b) > rel * max(1.0, abs(a), abs(b)):
                return False
    return True
