"""Driver-contract emulation: vanilla SparkSession (none of the engine's
confs), import __spark_entry__, run every query, compare against its
DuckDB oracle — the same check the verification driver performs at
sf0.01. Usage:

    python scripts/driver_check.py [--json OUT.json] [sf_dir] [query ...]

Exit code 0 iff everything matches. Each computation runs once: an
alias name (same function object and oracle as its target,
``registry.aliases()``) is not executed again and carries its target's
verdict. With --json, per-query results (mode, rows, match/determinism,
seconds; ``{"mode": "alias", "of": target}`` for an alias) and the run's
conditions (git HEAD, cores, aliases) are written as the full-surface
correctness artifact (e.g. CORRECTNESS_FULL_r14.json).
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nosql_triple_store_spark.catalog import TABLES  # noqa: E402


def _norm(v):
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return int(f) if f.is_integer() else f
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, float) and v == 0.0:
        return 0.0  # canonicalize -0.0 (repr-sort alignment hazard)
    return v


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per fixture table."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def spark_rows(df, cols: list[str]) -> list[tuple]:
    """``df``'s rows over ``cols``, normalized and repr-sorted."""
    return sorted(
        [tuple(_norm(r[c]) for c in cols) for r in df.collect()], key=repr
    )


def duck_rows(rel, cols: list[str]) -> list[tuple]:
    """A DuckDB relation's rows over ``cols``, normalized and repr-sorted.
    fetchall(), not fetchdf(): pandas coerces NULL bigints to NaN."""
    names = list(rel.columns)
    idx = [names.index(c) for c in cols]
    return sorted(
        [tuple(_norm(row[i]) for i in idx) for row in rel.fetchall()],
        key=repr,
    )


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-check")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as mod

    entry_rows = mod.entry(spark).collect()
    print(f"entry: {len(entry_rows)} rows", flush=True)
    assert len(entry_rows) > 0

    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(osql) <= set(qs)

    from nosql_triple_store_spark.registry import aliases, skipped_queries
    from scripts.harness import conditions

    alias_of = aliases()
    for a, t in alias_of.items():
        assert qs[a] is qs[t] and osql.get(a) == osql.get(t), a
    run_names = {alias_of.get(n, n) for n in only}

    con = duckdb_views(sf_dir)

    failed = []
    results: dict[str, dict] = {}
    for name in sorted(qs):
        if name in alias_of or (only and name not in run_names):
            continue
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        if name not in osql:
            n1 = df.count()
            n2 = qs[name](spark, sf_dir).count()
            ok = n1 == n2
            print(
                f"{name:28s} rows-only n={n1:6d} det={ok} "
                f"{time.time() - t0:5.1f}s",
                flush=True,
            )
            results[name] = {
                "mode": "rows_only",
                "rows": n1,
                "deterministic": ok,
                "sec": round(time.time() - t0, 2),
            }
            if not ok:
                failed.append(name)
            continue
        cols = sorted(df.columns)
        s = spark_rows(df, cols)
        rel = con.sql(osql[name])
        if sorted(rel.columns) != cols:
            print(f"{name:28s} SCHEMA MISMATCH {cols} vs {sorted(rel.columns)}")
            results[name] = {"mode": "oracle", "match": False,
                             "why": "schema"}
            failed.append(name)
            continue
        d = duck_rows(rel, cols)
        ok = s == d
        print(
            f"{name:28s} rows={len(s):6d} match={ok} {time.time() - t0:5.1f}s",
            flush=True,
        )
        results[name] = {
            "mode": "oracle",
            "rows": len(s),
            "match": ok,
            "sec": round(time.time() - t0, 2),
        }
        if not ok:
            bad = [(a, b) for a, b in zip(s, d) if a != b][:3]
            print(f"  first diffs: {bad}")
            failed.append(name)

    for name, target in sorted(alias_of.items()):
        if only and name not in only:
            continue
        verdict = {k: v for k, v in results[target].items() if k != "sec"}
        results[name] = {**verdict, "mode": "alias", "of": target}
        print(f"{name:28s} alias of {target}", flush=True)
        if target in failed:
            failed.append(name)

    # queries probed-out of this runtime (missing optional deps) appear
    # as explicit skipped entries, never silence
    for name, reason in sorted(skipped_queries().items()):
        if only and name not in only:
            continue
        print(f"{name:28s} SKIPPED: {reason}", flush=True)
        results[name] = {"mode": "skipped", "reason": reason}

    if json_out:
        import json

        # an alias entry carries its target's match/deterministic key
        oracle_r = [r for r in results.values() if "match" in r]
        ro_r = [r for r in results.values() if "deterministic" in r]
        skip_r = [r for r in results.values() if r["mode"] == "skipped"]
        with open(json_out, "w") as f:
            json.dump(
                {
                    **conditions(spark),
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_executed": sum(
                        1 for r in results.values()
                        if r["mode"] in ("oracle", "rows_only")
                    ),
                    "n_oracle": len(oracle_r),
                    "n_oracle_pass": sum(
                        1 for r in oracle_r if r.get("match")
                    ),
                    "n_rows_only": len(ro_r),
                    "n_rows_only_det": sum(
                        1 for r in ro_r if r.get("deterministic")
                    ),
                    "n_skipped": len(skip_r),
                    "failed": failed,
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )

    print(f"{'ALL OK' if not failed else 'FAILED: ' + ', '.join(failed)}")
    return 0 if not failed else 1


if __name__ == "__main__":
    raise SystemExit(main())
