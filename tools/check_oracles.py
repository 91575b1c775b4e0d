"""Local replica of the driver's correctness gate: run each registry query on
Spark at sf0.01 AND its DuckDB oracle, compare row count + schema + sorted
values.  Usage: python tools/check_oracles.py [sf_dir] [names...]"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), kind="stable").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from open_parse_spark.plans.queries import REGISTRY
    from open_parse_spark.spark.session import get_spark

    # cores as the benchmark sizes them: $SPARK_GRAFT_CPUS, else every CPU
    # this process may run on
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = get_spark(
        app_name="oracle-check", master=f"local[{cores}]", shuffle_partitions=2 * cores
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = []
    for name, (fn, sql) in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(exc).__name__}: {exc}")
            continue
        dt = time.monotonic() - t0
        if sql is None:
            print(f"ROWS {name}: {len(sdf)} rows ({dt:.1f}s, rows-only)")
            continue
        try:
            ddf = con.execute(sql).df()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {exc}")
            continue
        a, b = normalize(sdf), normalize(ddf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False)
            print(f"OK   {name}: {len(a)} rows ({dt:.1f}s)")
        except AssertionError as exc:
            failures.append(name)
            print(f"FAIL {name}: value mismatch ({len(a)} rows): {str(exc)[:400]}")
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
