"""Regenerate ``expected/pipeline_sweep.json``, the sweep's committed
expected outputs.

    python3 perfbench/make_expected.py

For each frozen query: the DuckDB oracle's result over the
generated fixture tables (row count, sorted column names, value hash),
or, for a query without an oracle, the row count Spark returns (taken
twice, and refused if the two differ). Spark's own result is then checked
against each entry and any mismatch is recorded under ``known_failures``
with its cause; the benchmark still runs and counts such a query.
Rerun only when the fixture generator or the frozen list changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import duckdb

    from checks import mismatch, rows_digest
    from datagen import FIXTURE_SEED, write_fixture_tables
    from run import _pin_environment
    from workloads import EXPECTED_DIR, PIPELINE_SWEEP

    work = os.path.join(ROOT, ".perfbench_run", "make_expected")
    data = os.path.join(work, "data")
    _pin_environment(work)
    tables = write_fixture_tables(data)

    from ccxt_ohlcv_fetcher_spark.plans import load_all
    from ccxt_ohlcv_fetcher_spark.session import get_spark

    registry = load_all()
    spark = get_spark("perfbench-expected")
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    try:
        queries, failures = {}, {}
        for name in PIPELINE_SWEEP:
            spec = registry[name]
            df = spec.builder(spark, data)
            got = rows_digest(df.columns, df.collect())
            if spec.oracle is not None:
                cur = con.execute(spec.oracle)
                cols = [d[0] for d in cur.description]
                want = {**rows_digest(cols, cur.fetchall()), "source": "duckdb oracle"}
            else:
                again = spec.builder(spark, data).count()
                if again != got["rows"]:
                    raise SystemExit(f"{name}: row count not deterministic ({got['rows']} vs {again})")
                want = {"rows": got["rows"], "columns": got["columns"], "hash": None,
                        "source": "spark row count (no oracle)"}
            queries[name] = want
            why = mismatch(want, got)
            if why:
                failures[name] = why
            print(f"{name}: {want['source']}, {want['rows']} rows" + (f"  FAILS: {why}" if why else ""))
        out = {
            "fixture_seed": FIXTURE_SEED,
            "fixture_rows": tables,
            "queries": queries,
            "known_failures": failures,
        }
        with open(os.path.join(EXPECTED_DIR, "pipeline_sweep.json"), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
