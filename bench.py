"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], printing ONE
JSON line for the driver's BENCH record.

Warm-up, layout builds and the timed noop-sink run live in
``scripts/harness.py``, shared with ``scripts/profile_queries.py``.
Each computation runs once: an alias name (``registry.aliases()``) is
listed in the side file beside its target, not timed again.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from nosql_triple_store_spark.registry import computations
    from nosql_triple_store_spark.session import get_spark
    from scripts.harness import build_layouts, conditions, timed_run, warm_session

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    specs = computations()
    # SPARK_GRAFT_BENCH_ONLY: regex over query names for family-subset
    # sweeps (a full run at sf3 is not affordable); layouts no selected
    # query consumes are skipped too.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        pat = re.compile(only)
        specs = {k: v for k, v in specs.items() if pat.search(k)}
        if not specs:
            raise SystemExit(f"no queries match SPARK_GRAFT_BENCH_ONLY={only}")

    warm_session(spark, sf_dir)

    # Fixed-work calibration probe: a constant CPU-bound aggregate
    # (2e8-row codegen'd sum over 32 even slices, no I/O, no data
    # dependence) timed after warmup, median of 3. query_sec / calib_sec
    # is contention-invariant for CPU-bound queries, so artifacts from
    # differently loaded machines can be compared.
    def _calib_once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 32).selectExpr(
            "sum(id * 3 + 1) AS s"
        ).collect()
        return time.perf_counter() - t0

    calib = round(sorted(_calib_once() for _ in range(3))[1], 4)

    # Build-once layouts (bucketed tables, scratch edge/shingle/index
    # parquet, fitted codebooks) are CREATE TABLE-class ETL: timed here,
    # never inside the first consuming query.
    layout = build_layouts(spark, sf_dir, specs)

    # Heap-sensitive heavy queries get a JVM full GC right before they
    # run (outside the timed region): the wedge joins are
    # old-gen-pressure-sensitive (q_graph_triangles 4.4 s isolated vs
    # 13.4 s after 150 queries of heap churn). A GC before every query
    # costs +55 ms median per query from soft-ref cache invalidation,
    # so only the two queries that measurably benefit get one.
    heap_sensitive = {
        "q_graph_triangles",
        "q_graph_sssp",
    }
    cleanup_failures = 0

    def _run_once(name: str) -> float:
        nonlocal cleanup_failures
        if name in heap_sensitive:
            spark._jvm.System.gc()
        run = timed_run(spark, specs[name].fn, sf_dir)
        # first-touch builds stay visible as layout cost
        for kind, sec in run.built.items():
            layout[kind] = round(layout.get(kind, 0.0) + sec, 4)
        cleanup_failures += run.cleanup_failures
        return run.elapsed

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    # SPARK_GRAFT_BENCH_RUNS=1 bounds wall-clock for the upward scaling
    # sweeps, where per-query work dwarfs the noise the median guards
    # against; the committed sf0.1 artifact stays median-of-3.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Full per-query timings go to a side file (SPARK_GRAFT_BENCH_FULL,
    # "skip" disables). It defaults to an untracked path so a rerun
    # never clobbers the committed BENCH_FULL.json record. A JSONL
    # progress file next to it gets one line per completed query, so an
    # OOM'd sweep names its culprit and keeps the timings it paid for.
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_FULL.local.json",
        ),
    )
    progress = open(full_path + ".partial", "w") if full_path != "skip" else None
    # Dead broadcast blocks are reaped by ContextCleaner only after a
    # driver GC. A deterministic System.gc() every _GC_EVERY queries
    # does that reaping between queries, never inside a timed region;
    # 32 amortizes the soft-ref invalidation tax across a family.
    _GC_EVERY = 32
    for qi, name in enumerate(sorted(specs)):
        if qi and qi % _GC_EVERY == 0:
            spark._jvm.System.gc()
        # Median of n_runs for every query: sub-second queries are
        # GC/JIT-noise-dominated and the iterative tail is
        # storage-pressure-sensitive. The max-min spread goes into the
        # side file so comparisons carry error bars.
        runs = sorted(_run_once(name) for _ in range(n_runs))
        timings[name] = round(runs[len(runs) // 2], 4)
        spreads[name] = round(runs[-1] - runs[0], 4)
        if progress is not None:
            progress.write(
                json.dumps({"q": name, "sec": timings[name]}) + "\n"
            )
            progress.flush()

    total = round(sum(timings.values()), 4)
    if progress is not None:
        progress.close()
        os.remove(full_path + ".partial")
    # Ground-truth twins (deliberate exact-complexity baselines the
    # recall tests certify against) distort family scaling curves when
    # summed with production paths: tag them and report both totals.
    twins = sorted(k for k in timings if specs[k].ground_truth_twin)
    total_prod = round(
        sum(v for k, v in timings.items() if k not in set(twins)), 4
    )
    if full_path != "skip":
        with open(full_path, "w") as f:
            json.dump(
                {
                    **conditions(spark),
                    "metric": "total_query_wall_clock",
                    "value": total,
                    "unit": "sec",
                    "n_queries": len(timings),
                    "queries": timings,
                    "spread_max_minus_min_sec": spreads,
                    "bench_runs": n_runs,
                    "layout_build_sec": layout,
                    "calib_sec": calib,
                    "cleanup_failures": cleanup_failures,
                    "ground_truth_twins": twins,
                    "value_excl_ground_truth_twins": total_prod,
                    "sf": sf,
                },
                f,
                indent=1,
                sort_keys=True,
            )

    # stdout carries only the headline queries: a full per-query dict is
    # ~8 KB and gets truncated by a stdout-tail capture
    headline = [
        "q_point_lookup",
        "q_agg_pricing",
        "q_lww_latest",
        "q_lww_merge",
        "q_join_multiway",
        "q_topk",
        "q_join_asof",
        "q_dedup_near",
        "q_tpch_q5",
        "q_join_bucketed",
        "q_skyline",
        "q_zorder_prune",
        "q_join_dpp",
        # heavy iterative/update queries: the scan/join shapes above are
        # sub-second and cannot resolve plan changes in these families
        "q_sparql_update",
        "q_graph_pagerank",
        "q_profile_table",
        "q_graph_cc_stars",
    ]
    print(
        json.dumps(
            {
                "metric": "total_query_wall_clock",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": {k: timings[k] for k in headline if k in timings},
                "layout_build_sec": round(sum(layout.values()), 4),
                "calib_sec": calib,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
