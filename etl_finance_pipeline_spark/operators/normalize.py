"""Canonical-schema normalization layer.

Capability parity with the reference's normalize stage
(/root/reference/src/etl/transform/normalize.py) re-expressed for
Spark: the rename algorithm is driver-side schema logic (it never
touches data), dtype/datetime coercions are `try_cast`-style Catalyst
expressions, dedupe is a grouped aggregate, and the `df.attrs` report
side-channel becomes per-row flag columns summed into a report dict.

Scale notes:
 * Rename / required-column checks are O(#columns) on the driver.
 * The whole normalization report (rows, coercions, NULLed stamps,
   corrupt rows) is ONE set of observed metrics on the pre-dedupe
   frame (``DataFrame.observe``): the first action that reads the
   normalized frame computes it in passing, with no scan or job of its
   own.
 * Keep-first dedupe is a grouped ``min_by`` aggregate over the keys —
   map-side partial combine, then one shuffle on the dedupe keys, so it
   scales with the number of symbols × time range.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Callable, Iterable
from zoneinfo import ZoneInfo

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_pipeline_spark.config import (
    DEFAULT_COLUMNS_MAP,
    DEFAULT_REQUIRED_COLUMNS,
    PROTECTED_COLUMNS,
)
from etl_finance_pipeline_spark.sources.readers import CORRUPT_COL

#: Canonical numeric columns coerced to double (parity:
#: /root/reference/src/etl/transform/normalize.py:97-101).
NUMERIC_COLUMNS = ["OPEN", "HIGH", "LOW", "CLOSE", "VOLUME", "TICKVOL", "SPREAD"]

#: Names recognized as the datetime column, in priority order
#: (parity: normalize.py:146-153 — post-rename this is TIMESTAMP).
DATETIME_CANDIDATES = ("timestamp", "datetime", "time", "date", "ts")

#: Years scanned for DST transitions when a source zone is localized;
#: stamps outside them are never flagged ambiguous or nonexistent.
DST_SCAN_YEARS = (1990, 2035)


# --------------------------------------------------------------------
# P1 — synonym-map rename (pure driver logic over df.columns)
# --------------------------------------------------------------------

def build_rename_map(
    columns: Iterable[str],
    columns_map: dict[str, list[str]] | None = None,
) -> dict[str, str]:
    """source column name -> canonical UPPER name.

    Matching per variant, case-insensitive: exact, ``variant_*``
    prefix, ``*_variant`` suffix. Columns whose lowercase name is in
    PROTECTED_COLUMNS ({symbol, ticker, instrument, pair}) are never
    renamed. First canonical target wins per source column.
    """
    cmap = columns_map or DEFAULT_COLUMNS_MAP
    rename: dict[str, str] = {}
    claimed: set[str] = set()
    for col in columns:
        low = col.lower()
        if low in PROTECTED_COLUMNS:
            continue
        for canonical, variants in cmap.items():
            if canonical in claimed:
                continue
            hit = False
            for v in variants:
                vl = v.lower()
                if low == vl or low.startswith(vl + "_") or low.endswith("_" + vl):
                    hit = True
                    break
            if hit:
                if col != canonical:
                    rename[col] = canonical.upper()
                claimed.add(canonical)
                break
    return rename


def normalize_columns(
    df: DataFrame, columns_map: dict[str, list[str]] | None = None
) -> DataFrame:
    """Apply the synonym rename map to a DataFrame (no data movement —
    a pure projection Catalyst collapses into the scan)."""
    mapping = build_rename_map(df.columns, columns_map)
    return df.withColumnsRenamed(mapping) if mapping else df


# --------------------------------------------------------------------
# P3 — required-columns predicate
# --------------------------------------------------------------------

def validate_required_columns(
    df: DataFrame, required: list[str] | None = None
) -> None:
    """Raise ValueError naming any missing required columns
    (parity: normalize.py:89-95)."""
    req = required or DEFAULT_REQUIRED_COLUMNS
    have = set(df.columns)
    missing = [c for c in req if c not in have]
    if missing:
        raise ValueError(f"missing required columns: {missing}")


# --------------------------------------------------------------------
# P2 — dtype enforcement / numeric coercion with coercion counts
# --------------------------------------------------------------------

def enforce_dtypes(
    df: DataFrame, numeric_columns: list[str] | None = None
) -> DataFrame:
    """try_cast every present canonical numeric column to double.

    Each cast column ``<col>`` gets a boolean ``_coerced_<col>`` flag
    alongside it: non-null before the cast, null after (pandas
    ``to_numeric(errors="coerce")`` semantics). The flag is written in
    the same projection as the cast because a Column taken before the
    replacement re-resolves by name against the cast value;
    :func:`normalize_df` sums the flags into ``coerced_<col>`` counts
    and drops them.
    """
    cols = [c for c in (numeric_columns or NUMERIC_COLUMNS) if c in df.columns]
    exprs: dict[str, Column] = {}
    for c in cols:
        cast = F.expr(f"try_cast(`{c}` as double)")
        exprs[c] = cast
        exprs[f"_coerced_{c}"] = F.col(c).isNotNull() & cast.isNull()
    return df.withColumns(exprs)


# --------------------------------------------------------------------
# D1–D5 — datetime detection, coercion, timezone policy
# --------------------------------------------------------------------

def detect_datetime_column(df: DataFrame) -> str:
    """First column whose lowercase name is a known datetime name;
    raise if none (parity: normalize.py:146-153)."""
    for c in df.columns:
        if c.lower() in DATETIME_CANDIDATES:
            return c
    raise ValueError("no datetime column found")


from functools import lru_cache


@lru_cache(maxsize=64)
def dst_transition_windows(
    tz_name: str, start_year: int, end_year: int
) -> list[tuple[datetime, datetime, str]]:
    """Compute ambiguous ("fall-back") and nonexistent ("spring-forward")
    local wall-clock windows for *tz_name* between the given years.

    Returns [(local_start_naive, local_end_naive, kind)] with kind in
    {"ambiguous", "nonexistent"}. Driver-side zoneinfo scan at hourly
    resolution — a few thousand probes per year, trivially cheap, and
    broadcast to executors as a literal predicate.

    This replicates the reference's ``tz_localize(ambiguous="NaT",
    nonexistent="shift_forward")`` policy surface (normalize.py:183-197),
    which Spark's ``to_utc_timestamp`` cannot express (it resolves
    ambiguity deterministically).
    """
    tz = ZoneInfo(tz_name)
    windows: list[tuple[datetime, datetime, str]] = []
    probe = datetime(start_year, 1, 1, tzinfo=timezone.utc)
    end = datetime(end_year + 1, 1, 1, tzinfo=timezone.utc)
    step = timedelta(hours=1)
    prev_off = probe.astimezone(tz).utcoffset()
    while probe < end:
        nxt = probe + step
        off = nxt.astimezone(tz).utcoffset()
        if off != prev_off:
            # Binary-search the exact transition instant.
            lo, hi = probe, nxt
            while hi - lo > timedelta(seconds=1):
                mid = lo + (hi - lo) / 2
                if mid.astimezone(tz).utcoffset() == prev_off:
                    lo = mid
                else:
                    hi = mid
            trans = hi
            delta = off - prev_off  # type: ignore[operator]
            local_after = (trans.astimezone(tz)).replace(tzinfo=None)
            if delta < timedelta(0):
                # clocks fell back: wall times [local_after, local_after-delta) repeat
                windows.append((local_after, local_after - delta, "ambiguous"))
            else:
                # clocks sprang forward: wall times [local_after-delta, local_after) don't exist
                windows.append((local_after - delta, local_after, "nonexistent"))
        prev_off = off
        probe = nxt
    return windows


def normalize_datetime(
    df: DataFrame,
    ts_col: str | None = None,
    source_tz: str | None = None,
    target_tz: str = "UTC",
) -> tuple[DataFrame, dict]:
    """Coerce the datetime column to TimestampType and apply the
    timezone policy.

    * String/other inputs are coerced via ``try_to_timestamp`` with
      Spark's default timestamp parsing — invalid values become NULL,
      counted in the report (D2/D5).
    * If *source_tz* is given, naive stamps are interpreted in that zone
      via ``to_utc_timestamp``; wall-clock values falling in an
      ambiguous DST window (scanned over ``DST_SCAN_YEARS``) are
      NULLed and counted (reference
      ``ambiguous="NaT"``); nonexistent values are shifted forward by
      ``to_utc_timestamp``'s resolution and flagged (D3).
    * If no *source_tz*, stamps are assumed UTC and the report carries
      ``needs_review=True`` (parity: normalize.py:190-197) — as the
      CONSERVATIVE static default. String inputs whose values all
      carry explicit UTC offsets (``+02:00``/``Z`` suffixes) need no
      assumption, exactly as the reference's tz-aware-index path
      (normalize.py:198-199) skips the flag: string inputs get a
      ``_ts_no_offset`` flag column (parsed, no offset suffix) from
      which :func:`normalize_df` refines the flag (any such row ⇔
      review needed).

    Returns (df, policy_report). The returned df always has *ts_col* as
    TimestampType in UTC, plus the ``_ts_was_null`` flag column
    (:func:`normalize_df` drops the flags after summing them into its
    report) — the NULL count must see the PRE-coercion nullness, and a
    Column captured before ``withColumn`` re-resolves BY NAME against
    the replaced column, so the flag has to be materialized alongside
    the replacement.
    """
    ts = ts_col or detect_datetime_column(df)
    dtype = dict(df.dtypes)[ts]
    original = F.col(ts)

    if dtype.startswith("timestamp"):
        coerced = original.cast("timestamp")
    else:
        coerced = F.try_to_timestamp(original.cast("string"))

    report: dict = {"needs_review": False, "source_tz": source_tz or "UTC(assumed)"}

    if source_tz and source_tz.upper() != "UTC":
        windows = dst_transition_windows(source_tz, *DST_SCAN_YEARS)
        amb = [w for w in windows if w[2] == "ambiguous"]
        nonex = [w for w in windows if w[2] == "nonexistent"]

        def in_windows(ws: list[tuple[datetime, datetime, str]]) -> Column:
            if not ws:
                return F.lit(False)
            preds = [
                (coerced >= F.lit(s)) & (coerced < F.lit(e)) for s, e, _ in ws
            ]
            out = preds[0]
            for p in preds[1:]:
                out = out | p
            return out

        is_ambiguous = in_windows(amb)
        is_nonexistent = in_windows(nonex)
        localized = F.when(is_ambiguous, F.lit(None).cast("timestamp")).otherwise(
            F.to_utc_timestamp(coerced, source_tz)
        )
        # single withColumns: all expressions must resolve against the
        # ORIGINAL ts column (a second withColumn would see the
        # already-localized value and the flags would never fire)
        df2 = df.withColumns(
            {
                ts: localized,
                "_dst_nonexistent": is_nonexistent,
                "_ts_was_null": original.isNull(),
            }
        )
        report["ambiguous_policy"] = "NaT"
        report["nonexistent_policy"] = "shift_forward"
    else:
        cols = {ts: coerced, "_ts_was_null": original.isNull()}
        if not source_tz:
            report["needs_review"] = True
            if not dtype.startswith("timestamp"):
                # explicit-offset strings (+HH:MM / +HHMM / Z) carry
                # their own zone — only offset-less parsed rows make
                # the UTC assumption real
                has_offset = original.cast("string").rlike(
                    r"([+-]\d{2}:?\d{2}|Z)\s*$"
                )
                cols["_ts_no_offset"] = coerced.isNotNull() & ~has_offset
        df2 = df.withColumns(cols)

    # target tz: Spark timestamps are UTC-internal; conversion is a
    # display concern (D4). We record the contract only.
    report["target_tz"] = target_tz
    return df2, report


# --------------------------------------------------------------------
# O1 — keep-first dedupe
# --------------------------------------------------------------------

def remove_duplicates(
    df: DataFrame,
    keys: list[str],
    order_by: list[str | Column] | None = None,
    strategy: str = "agg",
) -> DataFrame:
    """Keep the FIRST row per key (parity: normalize.py:227-236,
    ``index.duplicated(keep="first")``).

    "First" must be deterministic in a distributed engine: rows are
    ranked by *order_by* (e.g. an ingest sequence column or file
    offset). Without an explicit order column we fall back to
    ``monotonically_increasing_id()`` captured at scan time, which
    reproduces arrival order per input split.

    strategy="agg" (default): ``groupBy(keys)`` with one
    ``min_by(col, order)`` per carried column, with map-side partial
    combine, and Catalyst prunes the aggregates of columns never
    referenced downstream (a single ``min_by(struct(cols), ...)``
    would block that pruning). It runs as a HASH aggregate only while
    every buffer is fixed-width: one carried string column makes its
    min_by buffer non-mutable and the plan a SortAggregate.
    ``run_pipeline`` drops its string columns (``_source_file``,
    ``_corrupt_record``) before the dedupe, so its dedupe is a
    HashAggregate.
    REQUIREMENT: *order_by* must be unique within each key group
    (an ingest sequence is); on ties the per-column picks could mix
    rows. Prefer a SINGLE primitive order column: a multi-column order
    becomes a struct ordering key, which degrades every min_by to
    SortAggregate. strategy="window": ``row_number()`` ranking window —
    shuffle + full sort on (keys, order); use it when the tiebreak is
    not unique or the ranked frame itself is needed.
    """
    if order_by is None:
        df = df.withColumn("_ingest_seq", F.monotonically_increasing_id())
        order_by = ["_ingest_seq"]
        drop_seq = True
    else:
        drop_seq = False

    if strategy == "agg":
        others = [c for c in df.columns if c not in keys]
        order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
        ord_key = order_cols[0] if len(order_cols) == 1 else F.struct(*order_cols)
        picked = df.groupBy(*keys).agg(
            *[F.min_by(F.col(c), ord_key).alias(c) for c in others]
        )
        out = picked.select(*df.columns)
    else:
        w = Window.partitionBy(*keys).orderBy(*order_by)
        out = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return out.drop("_ingest_seq") if drop_seq else out


# --------------------------------------------------------------------
# normalize_df — composition (parity: normalize.py:239-281)
# --------------------------------------------------------------------

@dataclass
class NormalizeResult:
    """The normalized frame and its report, observed on the first action
    that reads ``df`` (see :func:`normalize_df`)."""

    df: DataFrame
    _observation: Observation = field(repr=False)
    #: turns the observed metrics into the report dict
    _build: Callable[[dict], dict] = field(repr=False)
    _report: dict | None = field(default=None, repr=False)

    @property
    def report(self) -> dict:
        """The report; if no action has read ``df`` yet, one ``count()``
        of ``df`` computes it, so reading it never waits for an action
        that may not come."""
        if self._report is None:
            done = self._observation._jo.future().isCompleted
            if not done():
                # an action that has returned already posted its end
                # event; the observation completes once the listener bus
                # delivers it
                self.df.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            if not done():
                self.df.count()
            self._report = self._build(self._observation.get)
        return self._report


def normalize_df(
    df: DataFrame,
    columns_map: dict[str, list[str]] | None = None,
    required_columns: list[str] | None = None,
    source_tz: str | None = None,
    target_tz: str = "UTC",
    dedupe_order: list[str | Column] | None = None,
) -> NormalizeResult:
    """rename → validate → coerce dtypes → datetime/tz → dedupe.

    The dedupe keeps the first row (by *dedupe_order*) of each
    ``(SYMBOL, TIMESTAMP)`` key, or of each ``TIMESTAMP`` when the
    frame has no ``SYMBOL`` column.

    Runs no action. The report is ONE aggregate, observed
    (``DataFrame.observe``) on the pre-dedupe frame: the row count plus
    the sum of every per-row flag the steps added (``_coerced_<col>``,
    ``_ts_was_null``, ``_ts_no_offset``). The first action that reads
    ``NormalizeResult.df`` computes it while it scans the input, so a
    caller that runs such an action (``run_pipeline`` fills its cache)
    gets the report without a scan of its own; reading ``.report``
    before any action costs one ``count()``. The flags are dropped
    before the dedupe. A CSV/JSON scan's ``_corrupt_record`` column
    (rows its schema could not hold) is counted in the same aggregate
    as ``corrupt_rows``, and those rows are dropped with the column
    before the dedupe; the key appears only when the column does. The
    count parses every column, in every query that reads the result, so
    the rows it counts are exactly the rows dropped, whichever columns
    that query reads.

    The global time sort of the reference (normalize.py:275) is
    deliberately NOT applied here: in Spark, ordering is declared
    per-operator (windows/order-sensitive aggs) and a physical global
    sort would be a pointless full shuffle at scale. Sinks that want
    sorted files use ``sortWithinPartitions`` at write time.
    """
    out = normalize_columns(df, columns_map)
    validate_required_columns(out, required_columns)
    out = enforce_dtypes(out)
    ts = detect_datetime_column(out)
    out, tz_report = normalize_datetime(
        out, ts_col=ts, source_tz=source_tz, target_tz=target_tz
    )

    coerced = [c[1:] for c in out.columns if c.startswith("_coerced_")]
    naive = "_ts_no_offset" in out.columns
    aggs = [
        F.count("*").alias("rows_before"),
        F.sum((F.col(ts).isNull() & ~F.col("_ts_was_null")).cast("long")).alias(
            "ts_coerced_to_null"
        ),
        *[F.sum(F.col(f"_{k}").cast("long")).alias(k) for k in coerced],
    ]
    if naive:
        aggs.append(F.sum(F.col("_ts_no_offset").cast("long")).alias("naive"))
    corrupt = CORRUPT_COL in out.columns
    if corrupt:
        # the CSV parser flags a row only by the columns a query parses;
        # the struct makes this count parse all of them, and since it is
        # observed below the filter, so does every read of the result
        flagged = F.when(F.col(CORRUPT_COL).isNotNull(), F.struct(*out.columns))
        aggs.append(F.count(flagged).alias("corrupt_rows"))
    observation = Observation()
    out = out.observe(observation, *aggs)

    def build(row: dict) -> dict:
        if naive:
            # refine the conservative static flag from the data: all
            # stamps carried explicit offsets -> no UTC assumption was
            # actually made (reference tz-aware-index parity)
            tz_report["needs_review"] = bool((row["naive"] or 0) > 0)
        report = {
            "timezone": tz_report,
            "rows_before_dedupe": row["rows_before"],
            "ts_coerced_to_null": row["ts_coerced_to_null"],
            "coercions": {k: row[k] for k in coerced},
        }
        if corrupt:
            report["corrupt_rows"] = row["corrupt_rows"]
        return report

    if corrupt:
        out = out.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    out = out.drop("_ts_was_null", "_ts_no_offset", *[f"_{k}" for k in coerced])
    keys = ["SYMBOL", "TIMESTAMP"] if "SYMBOL" in out.columns else ["TIMESTAMP"]
    out = remove_duplicates(out, keys, dedupe_order)
    return NormalizeResult(df=out, _observation=observation, _build=build)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff of two table snapshots on a business key:
    classify every key as ``added`` (only in *new*), ``removed``
    (only in *old*) or ``changed`` (present in both with any compared
    column differing; identical rows are omitted). The reconciliation
    primitive behind snapshot-feed ingestion (no CDC stream — just
    yesterday's file and today's) and table-migration sign-off;
    complements the table format's commit-level ``read_changes``,
    which diffs versions of ONE table rather than two arbitrary
    frames.

    One full outer join hash-partitioned on the key; column
    comparison is null-safe (``<=>``), so NULL→value and value→NULL
    both count as changes while NULL==NULL does not.

    Output: key columns + change_type.
    """
    cmp_cols = compare_cols or [
        c for c in old.columns if c not in key_cols and c in new.columns
    ]
    # Presence is tracked with explicit marker columns (not key-column
    # null checks) and keys join null-safely (``<=>``): a business key
    # whose first column is legitimately NULL would otherwise never
    # match its counterpart and be misreported as added+removed.
    o = old.select(
        *[F.col(c).alias(f"_o_{c}") for c in key_cols],
        *[F.col(c).alias(f"_ov_{c}") for c in cmp_cols],
        F.lit(True).alias("_o_present"),
    )
    n = new.select(
        *[F.col(c).alias(f"_n_{c}") for c in key_cols],
        *[F.col(c).alias(f"_nv_{c}") for c in cmp_cols],
        F.lit(True).alias("_n_present"),
    )
    cond = None
    for k in key_cols:
        c = F.col(f"_o_{k}").eqNullSafe(F.col(f"_n_{k}"))
        cond = c if cond is None else (cond & c)
    j = o.join(n, cond, "full_outer")
    in_old = F.col("_o_present").isNotNull()
    in_new = F.col("_n_present").isNotNull()
    same = F.lit(True)
    for c in cmp_cols:
        same = same & F.col(f"_ov_{c}").eqNullSafe(F.col(f"_nv_{c}"))
    change = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    out_keys = [
        F.coalesce(F.col(f"_o_{k}"), F.col(f"_n_{k}")).alias(k)
        for k in key_cols
    ]
    return (
        j.select(*out_keys, change.alias("change_type"))
        .filter(F.col("change_type").isNotNull())
    )
