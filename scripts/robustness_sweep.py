"""Robustness sweep: the full oracle check under DELIBERATELY hostile
session settings — the configurations a vanilla external driver might
legitimately run with, which pytest's tuned session never exercises.

Axes (pick with --mode; default is `partitions` — one JVM per run, so
run each axis as its own process):
  partitions  local[3] + spark.sql.shuffle.partitions=7 (odd counts
              catch partition-dependent results: unkeyed tie-breaks,
              order-sensitive float folds, per-partition id leakage)
  tz          TZ=America/New_York + session timeZone set to match
              (catches session-TZ-typed timestamp columns)

Usage: python scripts/robustness_sweep.py [--mode partitions|tz] [sf_dir]
Exit 0 iff every oracle-backed query still matches DuckDB exactly. Each
computation runs once; an alias (``registry.aliases()``) shares its
target's verdict.

The compare (normalize, fetchall(), repr-key sort) is
scripts/driver_check.py's own; a pandas fetchdf() compare is wrong here
(NULL bigints coerce to NaN floats and 16 queries false-positive).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.driver_check import duck_rows, duckdb_views, spark_rows  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    mode = "partitions"
    if args and args[0] == "--mode":
        mode = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(f"robust-{mode}").config(
        "spark.ui.enabled", "false"
    )
    if mode == "partitions":
        b = b.master("local[3]").config("spark.sql.shuffle.partitions", "7")
    elif mode == "tz":
        os.environ["TZ"] = "America/New_York"
        time.tzset()
        b = b.master("local[4]").config(
            "spark.sql.session.timeZone", "America/New_York"
        )
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as mod

    from nosql_triple_store_spark.registry import aliases

    qs, osql = mod.queries(), mod.oracle_sql()
    alias_of = aliases()
    con = duckdb_views(sf_dir)
    failed = []
    checked = [n for n in sorted(osql) if n not in alias_of]
    for name in checked:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            cols = sorted(df.columns)
            ok = spark_rows(df, cols) == duck_rows(con.sql(osql[name]), cols)
        except Exception as e:  # noqa: BLE001 - report, keep sweeping
            print(f"{name:28s} ERROR {str(e)[:90]}")
            failed.append(name)
            continue
        print(f"{name:28s} match={ok} {time.time() - t0:5.1f}s", flush=True)
        if not ok:
            failed.append(name)
    failed += [a for a, t in sorted(alias_of.items()) if t in failed]
    print(
        f"checked {len(checked)} computations "
        f"({len(alias_of)} aliases share their verdict)  failed: {failed}"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
