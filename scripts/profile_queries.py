"""Isolated per-query profiler for the optimization rounds.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/profile_queries.py \
        [--plans-dir plans/r11 --suffix before] q_name1 q_name2 ...

For each named query: builds the DataFrame, writes `.explain("formatted")`
to <plans-dir>/<name>_<suffix>.txt (when --plans-dir is given), then times
N noop-sink runs (default 4; first run reported separately as cold).
Prints one line per query: name, cold, warm runs, warm median. An alias
name (``registry.aliases()``) profiles its target, once.

Warm-up and timed runs come from ``scripts/harness.py``, as in bench.py:
noop sink, layout builds drained out of the timed region, only blocks a
run persisted freed after it; jobs are labelled via setJobDescription.
The last line reports ``cleanup_failures`` (persisted-RDD cleanup errors).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=4)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from nosql_triple_store_spark.registry import all_specs
    from nosql_triple_store_spark.session import get_spark
    from scripts.harness import timed_run, warm_session

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    warm_session(spark, sf_dir)

    cleanup_failures = 0
    names = []
    for name in args.names:
        if name not in specs:
            print(f"{name}: NOT REGISTERED")
            continue
        target = specs[name].alias_of or name
        if target != name:
            print(f"{name}: alias of {target}")
        if target not in names:
            names.append(target)
    for name in names:
        fn = specs[name].fn
        if args.plans_dir:
            try:
                df = fn(spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                os.makedirs(args.plans_dir, exist_ok=True)
                with open(
                    os.path.join(
                        args.plans_dir, f"{name}_{args.suffix}.txt"
                    ),
                    "w",
                ) as f:
                    f.write(plan)
                del df
            except Exception as ex:  # plan capture best-effort
                print(f"{name}: explain failed: {ex}")
        times = []
        builds = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name} run{i}")
            run = timed_run(spark, fn, sf_dir)
            if run.built:
                builds.append(sum(run.built.values()))
            times.append(run.elapsed)
            cleanup_failures += run.cleanup_failures
        spark.sparkContext.setJobDescription(None)
        warm = sorted(times[1:])
        med = warm[len(warm) // 2] if warm else times[0]
        print(
            f"{name}: cold={times[0]:.3f} warm={[round(t, 3) for t in times[1:]]} "
            f"median={med:.3f}"
            + (f" (layout drained {sum(builds):.2f}s)" if builds else "")
        )
    print(f"cleanup_failures={cleanup_failures}")


if __name__ == "__main__":
    main()
