"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__ query at sf0.01 in Spark AND its oracle SQL
in DuckDB, then compares row count, sorted column names, and
order-insensitive values (exact after the queries' own rounding).

Usage: python tools/verify_local.py [sf_dir] [query ...]

Set VERIFY_JSON_OUT=<path> to also write the per-query results as a
driver-artifact-shaped JSON file (rows/schema/hash match booleans) —
``tools/verify_all.sh`` uses this to commit the FULL-registry
correctness artifact each round (the round driver's own artifact caps
at the first 50 registry entries).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from etl_finance_pipeline_spark import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif df[c].dtype == object:
            # DuckDB HUGEINT comes back as object — coerce if integral
            try:
                df[c] = df[c].astype("int64")
            except (ValueError, TypeError):
                pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        res = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        results[name] = res
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            res["err"] = f"spark error: {exc}"
            failures.append(name)
            continue
        t_spark = time.time() - t0
        res["spark_rows"] = len(sdf)
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            res["err"] = f"duckdb error: {exc}"
            failures.append(name)
            continue
        s, o = normalize(sdf), normalize(odf)
        res["oracle_rows"] = len(o)
        res["rows_match"] = len(s) == len(o)
        res["schema_match"] = list(s.columns) == list(o.columns)
        if not res["schema_match"]:
            print(f"FAIL  {name}: columns spark={list(s.columns)} oracle={list(o.columns)}")
            failures.append(name)
            continue
        if not res["rows_match"]:
            print(f"FAIL  {name}: rows spark={len(s)} oracle={len(o)}")
            failures.append(name)
            continue
        if not s.equals(o):
            diff_cols = [c for c in s.columns if not s[c].equals(o[c])]
            print(f"FAIL  {name}: value mismatch in {diff_cols}")
            for c in diff_cols[:2]:
                neq = s[c] != o[c]
                if pd.api.types.is_float_dtype(s[c]):
                    neq = ~((s[c] == o[c]) | (s[c].isna() & o[c].isna()))
                idx = neq[neq].index[:3]
                for i in idx:
                    print(f"        [{c}] row {i}: spark={s[c][i]!r} oracle={o[c][i]!r}")
            failures.append(name)
            continue
        res["hash_match"] = True
        print(f"PASS  {name}: rows={len(s)} [{t_spark:.1f}s]")
    spark.stop()
    out_path = os.environ.get("VERIFY_JSON_OUT")
    if out_path:
        import json

        with open(out_path, "w") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {out_path} ({len(results)} queries)")
    print(f"\n{n_run - len(failures)}/{n_run} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
