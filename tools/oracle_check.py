"""Local replica of the driver's correctness gate.

Runs every registry query on Spark and its oracle SQL on DuckDB over the
same parquet fixtures, then compares row count, column names, and values
(EXACT equality, including float bits — the driver hashes values, so
"close enough" is not enough; the decimal-aggregation convention in
plans/registry.py is what makes exactness achievable).

Usage: python tools/oracle_check.py [sf_dir] [query ...] [--json PATH]

``--json PATH`` additionally writes a driver-format artifact (one
entry per query: rows/schema/hash match + row counts) so the full
registry's green state is provable from a committed file even when the
driver's own CORRECTNESS_r{N}.json samples a subset (round 1 recorded
50 of 93 queries).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ccxt_ohlcv_fetcher_spark.plans import load_all
from ccxt_ohlcv_fetcher_spark.schemas import TABLE_NAMES
from ccxt_ohlcv_fetcher_spark.session import get_spark


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c], utc=True).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def _dtype_kind(dtype) -> str:
    """Collapse pandas dtypes into the equivalence classes the driver's
    value-hash respects.

    Empirically (round 5): integer-width differences (int32 vs int64 vs
    uint32) hash identically, but int-vs-float does NOT — DuckDB's
    HUGEINT widening of ``sum(BIGINT) OVER`` materializes as float64 and
    failed ``cumulative_unique_users`` despite equal values. So integers
    of any width/sign are one kind; floats, booleans, datetimes, objects
    each their own.
    """
    k = dtype.kind  # i/u/f/b/M/O/...
    return "i" if k in ("i", "u") else k


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        return [f"column mismatch: spark={sc} oracle={oc}"]
    for c in sc if (len(spark_pdf) and len(oracle_pdf)) else []:
        sk, ok = _dtype_kind(spark_pdf[c].dtype), _dtype_kind(oracle_pdf[c].dtype)
        if sk != ok:
            problems.append(
                f"dtype mismatch {c}: spark={spark_pdf[c].dtype} "
                f"oracle={oracle_pdf[c].dtype} (driver hash is dtype-sensitive)"
            )
    if problems:
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
        return problems
    s, o = _normalize(spark_pdf), _normalize(oracle_pdf)
    n_bad = 0
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        for i, (x, y) in enumerate(zip(sv, ov)):
            if not _values_equal(x, y):
                n_bad += 1
                if n_bad <= 3:
                    problems.append(f"value mismatch {col}[{i}]: spark={x!r} oracle={y!r}")
    if n_bad > 3:
        problems.append(f"... {n_bad} mismatched values total")
    return problems


def main() -> int:
    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a)

    registry = load_all()
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}

    def record(name, rows_match, schema_match, hash_match, spark_rows, oracle_rows, err):
        results[name] = {
            "rows_match": rows_match,
            "schema_match": schema_match,
            "hash_match": hash_match,
            "spark_rows": spark_rows,
            "oracle_rows": oracle_rows,
            "err": err,
        }

    for name, spec in sorted(registry.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = spec.builder(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            record(name, None, None, None, None, None, f"spark error: {e}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"rows-only {name}: {len(spark_pdf)} rows  [{time.time()-t0:.1f}s]")
            record(name, None, None, None, len(spark_pdf), None, "no_oracle")
            n_rows_only += 1
            continue
        try:
            oracle_pdf = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            record(name, None, None, None, len(spark_pdf), None, f"oracle error: {e}")
            n_fail += 1
            continue
        problems = compare(spark_pdf, oracle_pdf)
        ok = not problems
        schema_ok = not any("column mismatch" in p for p in problems)
        rows_ok = schema_ok and not any(p.startswith("row count") for p in problems)
        record(name, rows_ok, schema_ok, ok, len(spark_pdf), len(oracle_pdf), None)
        if problems:
            print(f"FAIL {name}  [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"    {p}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spark_pdf)} rows  [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if json_path:
        with open(json_path, "w") as fh:
            json.dump(results, fh, indent=2)
            fh.write("\n")
        print(f"wrote {json_path} ({len(results)} queries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
