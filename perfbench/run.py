"""Triple-store benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload point_read --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` in the repository (removed at exit), the engine runs
on ``local[N]`` with N = min(2, CPUs), pinned to N CPUs, and every answer
is checked.
Stdout ends with one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it is the run's artifact:
run conditions, set-up times, per-request-type latencies, write metrics
and failure messages. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

# local[2], with the driver, the JVM and its GC and JIT threads pinned to
# the same two CPUs. On a 4-vCPU VM of a shared host, local[4] made
# compactions ~50% slower, and an unpinned run landed in a fast or a slow
# mode (latencies ~40% apart, with several times the CPU steal); pinned,
# the modes went away.
MAX_CORES = 2
DRIVER_MEMORY = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument(
        "--workload",
        required=True,
        choices=("point_read", "register_ingest", "graph_iter"),
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf", type=float, default=0.1, help="input scale factor (default 0.1)"
    )
    return p.parse_args(argv)


def configure_env(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and the engine write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # every JVM started, including spark-submit's launcher JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            # a fixed, pre-touched heap: with a growing heap peak RSS varied
            # ~40% run to run with how far each run happened to grow it
            shlex.quote(f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf",
            "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(root, "nosql_triple_store_spark")):
        print(
            f"perfbench: engine package nosql_triple_store_spark not found in {root}",
            file=sys.stderr,
        )
        return 2
    cpus = sorted(os.sched_getaffinity(0))
    cores = min(MAX_CORES, len(cpus))
    # this process and the JVM it starts run on `cores` CPUs only
    os.sched_setaffinity(0, cpus[:cores])
    work_base = os.path.join(root, ".perfbench_work")
    work = os.path.join(work_base, f"{args.workload}-{os.getpid()}")
    configure_env(work, cores)
    sys.path.insert(0, root)
    try:
        from nosql_triple_store_spark.session import get_spark

        from perfbench import harness

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark_start_s = time.perf_counter() - t0
        try:
            artifact, result = harness.run(spark, args, root, work, cores)
        finally:
            t0 = time.perf_counter()
            stop_spark(spark)
        artifact["timeline_s"]["spark_start"] = round(spark_start_s, 3)
        artifact["timeline_s"]["spark_stop"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_base)
        except OSError:
            pass  # another run still uses it
    if args.trace:
        print("\n".join(harness.layer_table(result["metrics"], artifact["traced_request_s"])))
    print(json.dumps({"perfbench": artifact}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
