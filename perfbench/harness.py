"""Closed-loop measurement: one client, each request sent after the
previous answer arrived and was checked.

A request's latency covers building its plan (or running its write) and
collecting its result. Checks, trace bookkeeping and Spark counter reads
happen after the request's timer stops. ``throughput_rps`` is the median
over blocks of a block's correct requests per second of request time, so
the checks between requests do not count against the engine, and one
block slowed by the host does not move it.
"""

from __future__ import annotations

import contextlib
import gc
import os
import platform
import resource
import statistics
import time
import traceback
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

import pyspark
from pyspark.sql import DataFrame

from nosql_triple_store_spark import scratch

from . import stats
from .tracing import SparkProbe, Tracer, inclusive_times, install_layer_spans, self_times
from .workloads import SETUP_REPS, WORKLOADS, Workload

MAX_FAILURE_MESSAGES = 20
CATALYST_PHASES = ("analysis", "optimization", "planning")
# bench.py's fixed CPU probe (a codegen'd sum, no I/O), sized down so that
# three probes cost a few tenths of a second on two cores.
CALIB_ROWS = 5_000_000


@dataclass
class Phase:
    """Requests run in one measuring phase and what they recorded."""

    tracer: Tracer | None = None
    probe: SparkProbe | None = None
    cores: int = 1
    settle: Callable[[], None] | None = None
    latencies: list[float] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)
    writes: list[bool] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    correct: int = 0
    busy: float = 0.0
    block_rps: list[float] = field(default_factory=list)
    spark_counts: Counter = field(default_factory=Counter)

    @property
    def attempted(self) -> int:
        return len(self.latencies)

    def run(self, req) -> None:
        tracer = self.tracer
        span = tracer.span if tracer else _no_span
        if tracer:
            tracer.request = self.attempted
            scratch.drain_build_seconds()
            self.probe.start(self.attempted)
        out = rows = None
        error = None
        t0 = time.perf_counter()
        try:
            with span("request"):
                with span("build"):
                    out = req.build()
                if isinstance(out, DataFrame):
                    with span("spark.exec"):
                        rows = out.collect()
        except Exception as exc:  # request boundary: counted and reported
            error = f"{req.kind}: {type(exc).__name__}: {_first_line(exc)}"
        elapsed = time.perf_counter() - t0
        if tracer:
            self._count_spark(out, elapsed)
        if error is None:
            res = (out.columns, [tuple(r) for r in rows]) if rows is not None else out
            try:
                error = req.check(res)
            except Exception as exc:  # a checker crash is a failed request too
                error = f"{req.kind}: check raised {type(exc).__name__}: {_first_line(exc)}"
                traceback.print_exc()
            if error is not None:
                error = f"{req.kind}: {error}"
        if self.settle:
            self.settle()
        self.latencies.append(elapsed)
        self.kinds.append(req.kind)
        self.writes.append(req.is_write)
        self.busy += elapsed
        if error is None:
            self.correct += 1
        else:
            self.failures.append(error)

    def _count_spark(self, out, elapsed: float) -> None:
        c = self.spark_counts
        c.update(self.probe.finish())
        c["scratch.build_s"] += sum(scratch.drain_build_seconds().values())
        c["spark.capacity_s"] += elapsed * self.cores
        if isinstance(out, DataFrame):
            phases = out._jdf.queryExecution().tracker().phases()
            for name in CATALYST_PHASES:
                summary = phases.get(name)
                if summary.isDefined():
                    c["spark.catalyst_ms"] += summary.get().durationMs()


@contextlib.contextmanager
def _no_span(_name):
    yield None


def _first_line(exc: BaseException) -> str:
    text = str(exc).strip().splitlines()
    return text[0][:300] if text else ""


def measure(blocks, seconds: float, phase: Phase | None = None, **phase_kw) -> Phase:
    """Run at least one whole block, and whole blocks until the phase
    holds at least ``seconds`` of request time."""
    phase = phase or Phase(**phase_kw)
    for block in blocks:
        correct0, busy0 = phase.correct, phase.busy
        for req in block:
            phase.run(req)
        phase.block_rps.append((phase.correct - correct0) / (phase.busy - busy0))
        if phase.busy >= seconds:
            break
    return phase


def e2e_metrics(setup_times: list[float], phase: Phase, rss_mb: float) -> dict:
    return {
        "setup_s": (stats.median(setup_times), "s"),
        "throughput_rps": (stats.median(phase.block_rps), "1/s"),
        "latency_p50_s": (stats.median(phase.latencies), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def write_metrics(wl: Workload, phase: Phase) -> dict:
    """``register_ingest``'s storage metrics; zero on read-only workloads."""
    w = wl.writes
    lat = [t for t, is_w in zip(phase.latencies, phase.writes) if is_w]
    return {
        "write_p50_s": (stats.median(lat) if lat else 0.0, "s"),
        "write_amp": (w.bytes_written / w.delta_bytes if w.delta_bytes else 0.0, "ratio"),
        "space_amp": (w.space_amp, "ratio"),
    }


def layer_metrics(phase: Phase, untraced: list[Phase], wl: Workload, written: tuple) -> dict:
    """Per-request means of every layer metric of a traced phase."""
    n = phase.attempted
    spans = phase.tracer.spans
    own, incl = self_times(spans), inclusive_times(spans)
    calls, c = phase.tracer.counts, phase.spark_counts
    bytes_written, files_written = written
    rps_untraced = stats.median([r for p in untraced for r in p.block_rps])
    rps_traced = stats.median(phase.block_rps)
    m = {
        "catalog.calls": (calls["catalog.calls"], "count"),
        "catalog.s": (incl.get("catalog", 0.0), "s"),
        "build.self_s": (own.get("build", 0.0), "s"),
        "sparql.parse_s": (incl.get("sparql.parse", 0.0), "s"),
        "sparql.compile_self_s": (own.get("sparql.compile", 0.0), "s"),
        "lww.calls": (calls["lww.calls"], "count"),
        "spark.catalyst_ms": (c["spark.catalyst_ms"], "ms"),
        "spark.exec_s": (incl.get("spark.exec", 0.0), "s"),
        "spark.sql_executions": (c["spark.sql_executions"], "count"),
        "spark.jobs": (c["spark.jobs"], "count"),
        "spark.stages": (c["spark.stages"], "count"),
        "spark.tasks": (c["spark.tasks"], "count"),
        "spark.shuffle_read_bytes": (c["spark.shuffle_read_bytes"], "bytes"),
        "spark.shuffle_write_bytes": (c["spark.shuffle_write_bytes"], "bytes"),
        "spark.spill_bytes": (c["spark.spill_bytes"], "bytes"),
        "materialize.calls": (calls["materialize.calls"], "count"),
        "materialize.s": (incl.get("materialize", 0.0), "s"),
        "compaction.compact_s": (incl.get("compaction.compact", 0.0), "s"),
        "compaction.read_s": (incl.get("compaction.read", 0.0), "s"),
        "compaction.bytes_written": (bytes_written, "bytes"),
        "compaction.files_written": (files_written, "count"),
        "scratch.build_s": (c["scratch.build_s"], "s"),
        "jvm.gc_s": (c["jvm.gc_s"], "s"),
        "driver.other_s": (own.get("request", 0.0), "s"),
    }
    m = {k: (v / n, unit) for k, (v, unit) in m.items()}
    m["spark.task_busy_frac"] = (
        c["spark.task_ms"] / 1000.0 / c["spark.capacity_s"],
        "ratio",
    )
    m.update(write_metrics(wl, untraced[0]))
    m["throughput_rps_untraced"] = (rps_untraced, "1/s")
    m["throughput_rps_traced"] = (rps_traced, "1/s")
    m["trace.overhead_frac"] = (1.0 - rps_traced / rps_untraced, "ratio")
    m["requests_traced"] = (n, "count")
    return m


def layer_table(metrics: dict, request_s: float) -> list[str]:
    """Human-readable per-layer table: value per request, and for times
    the share of the mean traced request's wall time."""
    lines = [f"{'per-layer metric':28s} {'per request':>14s} {'unit':6s} share"]
    for name, m in metrics.items():
        share = ""
        if m["unit"] == "s" and not name.startswith("write_"):
            share = f"{100 * m['value'] / request_s:5.1f}%"
        elif m["unit"] == "ms":
            share = f"{100 * m['value'] / 1000 / request_s:5.1f}%"
        lines.append(f"{name:28s} {m['value']:14.6g} {m['unit']:6s} {share}")
    return lines


def peak_rss_mb(spark) -> float:
    """High-water resident memory of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def calib_sec(spark) -> float:
    def once() -> float:
        t0 = time.perf_counter()
        spark.range(0, CALIB_ROWS, 1, 8).selectExpr("sum(id * 3 + 1) AS s").collect()
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(3))


def git_head(root: str) -> str | None:
    """The checked-out commit, read from ``.git`` without running git."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        return None
    return None


def by_kind(phase: Phase) -> dict:
    out = {}
    for kind in sorted(set(phase.kinds)):
        lat = [t for t, k in zip(phase.latencies, phase.kinds) if k == kind]
        out[kind] = {"n": len(lat), "p50_s": round(stats.median(lat), 4)}
    return out


def run(spark, args, root: str, work: str, cores: int) -> tuple[dict, dict]:
    """Set up, warm up and measure one workload; returns the artifact and
    the result line."""
    timeline = {}  # wall seconds of each step of the run
    t_last = time.perf_counter()

    def mark(step: str) -> None:
        nonlocal t_last
        now = time.perf_counter()
        timeline[step] = round(now - t_last, 3)
        t_last = now

    wl = WORKLOADS[args.workload](spark, work, args.seed, args.sf)
    # between requests, untimed: let Spark's listener bus deliver the last
    # request's events, so that work does not overlap the next request
    settle = spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty
    untraced = Phase(settle=settle)
    setup_times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(rep)
        setup_times.append(time.perf_counter() - t0)
        mark(f"setup{rep}")
        if rep == 0:
            wl.prepare()
            mark("prepare")
            blocks = wl.blocks()
            warm = Phase(settle=settle)
            for req in wl.warmup(blocks):
                warm.run(req)
            mark("warmup")
            calib = calib_sec(spark)
            mark("calib")
            # the inputs, the LWW model and the oracle caches live for the
            # whole run; keep Python's cyclic GC from rescanning them inside
            # timed requests
            gc.collect()
            gc.freeze()
        # The measurement is cut into one slice after each set-up, so it
        # samples the machine over the whole run rather than its last
        # seconds: on a shared host, CPU steal comes and goes in phases of
        # tens of seconds.
        measure(blocks, args.seconds * (rep + 1) / SETUP_REPS, phase=untraced)
        mark(f"measure{rep}")
    phases = [warm, untraced]
    if args.trace:
        # untraced, traced, untraced: the overhead estimate compares the
        # traced phase with both neighbours, so session warm-up over the
        # run does not read as (negative) tracing overhead
        written0 = (wl.writes.bytes_written, wl.writes.files_written)
        tracer = Tracer()
        restore = install_layer_spans(tracer)
        try:
            traced = measure(
                blocks,
                args.seconds,
                tracer=tracer,
                probe=SparkProbe(spark),
                cores=cores,
                settle=settle,
            )
        finally:
            restore()
        written = (
            wl.writes.bytes_written - written0[0],
            wl.writes.files_written - written0[1],
        )
        mark("measure_traced")
        after = measure(blocks, args.seconds, settle=settle)
        mark("measure_after")
        phases += [traced, after]
        metrics = layer_metrics(traced, [untraced, after], wl, written)
        traced_request_s = traced.busy / traced.attempted
    else:
        metrics = e2e_metrics(setup_times, untraced, peak_rss_mb(spark))
        traced_request_s = None
    wl.close()

    attempted = sum(p.attempted for p in phases)
    failures = [f for p in phases for f in p.failures]
    n = untraced.attempted
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "conditions": {
            "nproc": os.cpu_count(),
            "cores": cores,
            "calib_sec": round(calib, 4),
            "git_head": git_head(root),
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "sf": args.sf,
            "sf_dir": os.path.relpath(wl.sf_dir, root),
            "ckpt_policy": os.environ.get("SPARK_GRAFT_CKPT_POLICY", "local"),
            "client": "closed loop, 1 client",
        },
        "setup_s": [round(t, 4) for t in setup_times],
        "timeline_s": timeline,
        "requests": n,
        "by_kind": by_kind(untraced),
        "latency_p90_s": (
            stats.percentile(untraced.latencies, 90)
            if stats.tail_supported(n, 90)
            else None
        ),
        **{k: v for k, (v, _u) in write_metrics(wl, untraced).items()},
        "traced_request_s": traced_request_s,
        "error_rate": len(failures) / attempted,
        "failures": failures[:MAX_FAILURE_MESSAGES],
    }
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return artifact, result
