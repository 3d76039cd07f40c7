"""One-off audit: for every oracle-backed registry query, compare the
pandas dtype of each output column between the Spark result and the
DuckDB oracle result at a small sf.

The driver's value-hash is dtype-sensitive (round-5 fail:
``cumulative_unique_users`` — DuckDB ``sum(BIGINT) OVER`` → HUGEINT →
pandas float64 vs Spark int64). This script finds every remaining
column where the two sides materialize different pandas dtypes so the
oracles can be pinned (house rule: CAST aggregate outputs to
BIGINT/DOUBLE).

Usage: python tools/dtype_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ccxt_ohlcv_fetcher_spark.plans import load_all
from ccxt_ohlcv_fetcher_spark.schemas import TABLE_NAMES
from ccxt_ohlcv_fetcher_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    registry = load_all()
    spark = get_spark("dtype_audit")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    n_diff = 0
    for name, spec in sorted(registry.items()):
        if spec.oracle is None:
            continue
        try:
            s = spec.builder(spark, sf_dir).toPandas()
            o = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {e}")
            continue
        diffs = []
        for c in sorted(set(s.columns) & set(o.columns)):
            if str(s[c].dtype) != str(o[c].dtype):
                diffs.append(f"{c}: spark={s[c].dtype} oracle={o[c].dtype}")
        if diffs:
            n_diff += 1
            print(f"DIFF {name}")
            for d in diffs:
                print(f"     {d}")
    print(f"\n{n_diff} queries with dtype differences")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
