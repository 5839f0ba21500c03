"""The benchmark's workloads.

Each workload generates its inputs from the seed, sets up the engine state
its requests need (timed as set-up), and yields blocks of requests. A
block holds every request type of the workload in fixed proportions, and
the harness only stops at a block boundary, so the request mix of a run
does not depend on how fast the engine is.

- ``point_read``: subject-bound reads that touch little data, so per-request
  overhead dominates (table resolution, plan build, SPARQL compile,
  Catalyst).
- ``register_ingest``: LWW compaction of delta batches plus read-your-writes
  reads on a versioned register (sources.compaction, the LWW aggregate,
  the parquet writer).
- ``graph_iter``: iterative graph fixpoints, dominated by execution, driver
  actions and ``materialize`` checkpoints. Not in ``BENCHMARK.json``: its
  runs cost more than the evaluation's time budget allows, so it is run by
  hand for the execution-layer contrast (see README.md).
"""

from __future__ import annotations

import datetime
import os
import re
import shutil
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nosql_triple_store_spark import catalog, registry
from nosql_triple_store_spark.functions import lww
from nosql_triple_store_spark.plans import sparql
from nosql_triple_store_spark.plans.bgp import TRIPLES_SQL
from nosql_triple_store_spark.sources import compaction

from . import datagen
from .oracle import DuckOracle, LwwModel, canonical, diff, result_hash

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
EVENT_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
REG_KEYS = ["user_id", "event_type"]
REG_ORDER = ["ts", "event_id"]
ZIPF_S = 1.1
SETUP_REPS = 3


@dataclass
class Request:
    """One client request. ``build`` returns a DataFrame (the harness
    collects it inside the timer) or any other value; ``check`` gets
    ``(columns, rows)`` for a DataFrame, else the value, and returns
    ``None`` or an error message."""

    kind: str
    build: Callable[[], object]
    check: Callable[[object], str | None]
    is_write: bool = False


@dataclass
class WriteStats:
    """Storage accounting for ``register_ingest`` (zero elsewhere)."""

    delta_bytes: int = 0
    bytes_written: int = 0
    files_written: int = 0
    space_amp: float = 0.0


def _bind(sql: str, subs: dict[str, str]) -> str:
    """Substitute literals of a registered oracle string in one pass (so a
    new value equal to a later literal is not substituted again); fails
    loudly unless each literal occurs exactly once."""
    for old in subs:
        if sql.count(old) != 1:
            raise ValueError(f"oracle text {old!r} does not occur exactly once")
    pattern = re.compile("|".join(re.escape(old) for old in subs))
    return pattern.sub(lambda m: subs[m.group(0)], sql)


def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class ZipfKeys:
    """Zipf(s) draws over a seeded permutation of ``keys``: a few keys
    repeat often, most are drawn rarely or never."""

    def __init__(self, rng: np.random.Generator, keys, s: float = ZIPF_S):
        self.rng = rng
        self.keys = rng.permutation(np.asarray(keys))
        w = 1.0 / np.arange(1, len(self.keys) + 1) ** s
        self.cdf = np.cumsum(w / w.sum())

    def draw(self):
        i = int(np.searchsorted(self.cdf, self.rng.random(), side="right"))
        return self.keys[min(i, len(self.keys) - 1)].item()


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, sf: float) -> None:
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.sf = sf
        self.sizes = datagen.table_sizes(sf)
        self.writes = WriteStats()
        self.sf_dir = ""

    def _fresh_data(self, rep: int) -> str:
        """A new input directory per set-up; later set-ups copy the first
        one's files instead of generating them again. Requests use the
        first set-up's inputs (``sf_dir``); later set-ups are timed
        repetitions whose state no request reads."""
        path = os.path.join(self.work, f"data-{rep}")
        if rep == 0:
            datagen.write_tables(path, self.seed, self.sf)
            self.sf_dir = path
        else:
            shutil.copytree(self.sf_dir, path)
        return path

    def setup(self, rep: int) -> None:
        """Generate the inputs into a fresh directory and build the engine
        state the requests need; timed as one set-up."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed, after the first set-up: build the answer checkers."""
        self.oracle = DuckOracle(self.sf_dir)

    def blocks(self) -> Iterator[list[Request]]:
        raise NotImplementedError

    def warmup(self, blocks: Iterator[list[Request]]) -> list[Request]:
        """Requests run (and checked) before measuring: the first block's
        first request of each kind."""
        kinds: set[str] = set()
        out = []
        for req in next(blocks):
            if req.kind not in kinds:
                kinds.add(req.kind)
                out.append(req)
        return out

    def close(self) -> None:
        self.oracle.close()

    def _df_check(self, sql: str):
        return lambda res: self.oracle.check(res[0], res[1], sql)


class PointRead(Workload):
    name = "point_read"

    def setup(self, rep: int) -> None:
        sf_dir = self._fresh_data(rep)
        for t in datagen.TABLE_NAMES:
            catalog.load_table(self.spark, sf_dir, t).count()

    def prepare(self) -> None:
        """Also builds the encoded triple store, which the first SPARQL
        query on a dataset does. It is not part of the timed set-up: three
        builds (~6 s each, mostly fixed per-job cost) would not fit the
        evaluation's time budget."""
        super().prepare()
        sparql.compile_sparql_encoded(
            self.spark, self.sf_dir, "SELECT ?p ?o WHERE { customer:0 ?p ?o }"
        ).collect()
        rng = np.random.default_rng([self.seed, 1])
        self.rng = rng
        self.users = ZipfKeys(rng, range(self.sizes["users"]))
        self.customers = ZipfKeys(rng, range(self.sizes["customer"]))
        self.nations = ZipfKeys(rng, range(datagen.N_NATIONS))
        self.oracles = registry.oracle_sql()

    def _events(self):
        return catalog.load_table(self.spark, self.sf_dir, "events")

    def _lookup(self) -> Request:
        k = self.users.draw()
        sql = _bind(self.oracles["q_point_lookup"], {"user_id = 7": f"user_id = {k}"})
        return Request(
            "r1_lookup",
            lambda: self._events().filter(F.col("user_id") == k).select(*EVENT_COLS),
            self._df_check(sql),
        )

    def _pattern(self) -> Request:
        k = self.users.draw()
        etype = str(self.rng.choice(datagen.EVENT_TYPES))
        d0 = 1 + int(self.rng.integers(0, 20))
        d1 = d0 + 3 + int(self.rng.integers(0, 8))
        lo, hi = f"2024-01-{d0:02d}", f"2024-01-{d1:02d}"
        sql = _bind(
            self.oracles["q_pattern_filter"],
            {"'purchase'": f"'{etype}'", "'2024-01-10'": f"'{lo}'", "'2024-01-20'": f"'{hi}'"},
        ) + f" AND user_id = {k}"

        def build():
            return (
                self._events()
                .filter(
                    (F.col("user_id") == k)
                    & (F.col("event_type") == etype)
                    & (F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
                    & (F.col("ts") < F.lit(hi).cast("timestamp_ntz"))
                )
                .select(*EVENT_COLS)
            )

        return Request("pattern_range", build, self._df_check(sql))

    def _latest(self) -> Request:
        k = self.users.draw()
        sql = self.oracles["q_lww_latest"] + f" AND user_id = {k}"
        return Request(
            "lww_latest",
            lambda: lww.latest_by_key(
                self._events().filter(F.col("user_id") == k),
                REG_KEYS,
                REG_ORDER,
                ["event_id", "ts", "value"],
            ),
            self._df_check(sql),
        )

    def _sparql_subject(self) -> Request:
        c = self.customers.draw()
        text = f"SELECT ?p ?o WHERE {{ customer:{c} ?p ?o }}"
        sql = f"WITH {TRIPLES_SQL} SELECT p, o FROM triples WHERE s = 'customer:{c}'"
        return Request(
            "sparql_subject",
            lambda: sparql.compile_sparql_encoded(self.spark, self.sf_dir, text),
            self._df_check(sql),
        )

    def _sparql_star(self) -> Request:
        n = self.nations.draw()
        seg = str(self.rng.choice(datagen.SEGMENTS))
        text = (
            f'SELECT ?c ?b WHERE {{ ?c inNation nation:{n} . '
            f'?c inSegment "{seg}" . ?c hasBalanceCents ?b . }}'
        )
        sql = f"""WITH {TRIPLES_SQL}
SELECT a.s AS c, m.o AS b FROM triples a
JOIN triples g ON g.s = a.s AND g.p = 'inSegment' AND g.o = '{seg}'
JOIN triples m ON m.s = a.s AND m.p = 'hasBalanceCents'
WHERE a.p = 'inNation' AND a.o = 'nation:{n}'"""
        return Request(
            "sparql_star",
            lambda: sparql.compile_sparql_encoded(self.spark, self.sf_dir, text),
            self._df_check(sql),
        )

    def _sparql_path(self) -> Request:
        """A subject-bound property path: the engine computes the
        ``inRegion+`` closure semi-naively, with a ``materialize`` per
        round, so this is the workload's small fixpoint. (Over
        ``(inNation|inRegion)+`` from a customer it costs ~1.8 s, a third
        of a block, for the same layers.)"""
        n = self.nations.draw()
        text = f"SELECT ?x WHERE {{ nation:{n} inRegion+ ?x }}"
        sql = f"""WITH RECURSIVE {TRIPLES_SQL},
edge AS (SELECT s, o FROM triples WHERE p = 'inRegion'),
reach(x) AS (
  SELECT o FROM edge WHERE s = 'nation:{n}'
  UNION SELECT e.o FROM edge e JOIN reach r ON e.s = r.x)
SELECT x FROM reach"""
        return Request(
            "sparql_path",
            lambda: sparql.compile_sparql_encoded(self.spark, self.sf_dir, text),
            self._df_check(sql),
        )

    def blocks(self) -> Iterator[list[Request]]:
        # R1, the reference's one access path, four times and the pattern
        # read twice: six of ten requests are cheap, so the median falls
        # inside their dense band rather than on the edge between two
        # request types. The order is fixed, so no seed puts a cheap
        # request right after a heavy one more often than another seed.
        makers = [
            self._lookup,
            self._pattern,
            self._lookup,
            self._latest,
            self._lookup,
            self._sparql_subject,
            self._lookup,
            self._pattern,
            self._sparql_star,
            self._sparql_path,
        ]
        while True:
            yield [make() for make in makers]


class RegisterIngest(Workload):
    """Rounds of one compaction followed by five reads (four of the latest
    state, one time-travel read, so the median falls among the latest-state
    reads and not on the boundary between two request types), on registers that
    restart from the set-up's snapshot every ``EPOCH`` compactions so the
    version history (and so the read cost) does not grow with run length."""

    name = "register_ingest"
    EPOCH = 3

    def setup(self, rep: int) -> None:
        sf_dir = self._fresh_data(rep)
        reg = os.path.join(self.work, f"register-{rep}")
        compaction.init_register(
            catalog.load_table(self.spark, sf_dir, "events"), reg, REG_KEYS, REG_ORDER
        )
        if rep == 0:
            self.pristine = reg

    def prepare(self) -> None:
        super().prepare()
        events = pq.read_table(os.path.join(self.sf_dir, "events.parquet"))
        self.model0 = LwwModel()
        self.model0.apply([tuple(r.values()) for r in events.select(EVENT_COLS).to_pylist()])
        self.rng = np.random.default_rng([self.seed, 2])
        self.keys = ZipfKeys(self.rng, range(len(self.model0.state)))
        self.key_list = sorted(self.model0.state)
        self.users = ZipfKeys(self.rng, range(self.sizes["users"]))
        self.batch_rows = max(10, int(2000 * self.sf))
        self.next_id = events.num_rows
        self.next_loser_id = -1
        self.next_user = self.sizes["users"]
        self.epoch = 0

    def _ts(self, us: int) -> datetime.datetime:
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(microseconds=us)

    def _batch(self, model: LwwModel) -> list[tuple]:
        """Newer updates, stale writes that must lose, new keys and
        timestamp ties (half of them winning on event_id), in fixed shares."""
        rng, out = self.rng, []
        day = datagen.DAY_US
        for i in range(self.batch_rows):
            kind = i % 5
            value = round(float(rng.uniform(0, 200)), 2)
            props = f'{{"k": {int(rng.integers(0, 100))}}}'
            if kind == 3:
                user, etype = self.next_user, str(rng.choice(datagen.EVENT_TYPES))
                self.next_user += 1
                ts = self._ts(int(rng.integers(0, datagen.N_DAYS * day)))
                out.append((self.next_id, ts, user, etype, value, props))
                self.next_id += 1
                continue
            cur = model.state[self.key_list[self.keys.draw()]]
            step = datetime.timedelta(microseconds=int(rng.integers(1, 3 * day)))
            if kind in (0, 1):
                ts, eid = cur[1] + step, self.next_id
            elif kind == 2:
                ts, eid = cur[1] - step, self.next_id
            elif i % 2:
                ts, eid = cur[1], self.next_id
            else:
                ts, eid = cur[1], self.next_loser_id
                self.next_loser_id -= 1
            if eid > 0:
                self.next_id += 1
            out.append((eid, ts, cur[2], cur[3], value, props))
        return out

    def _compact(self, reg: str, model: LwwModel, batch: list[tuple]) -> Request:
        delta_bytes = pa.Table.from_pylist(
            [dict(zip(EVENT_COLS, r)) for r in batch]
        ).nbytes

        def build():
            delta = self.spark.createDataFrame(batch, EVENT_SCHEMA)
            return compaction.compact(self.spark, reg, delta, REG_KEYS, REG_ORDER)

        def check(path) -> str | None:
            version = os.path.basename(path)
            delta_dir = os.path.join(reg, "d" + version[1:])
            if not (os.path.isdir(path) and os.path.isdir(delta_dir)):
                return f"compaction did not write {version}"
            model.apply(batch)
            size, files = map(sum, zip(_dir_bytes(path), _dir_bytes(delta_dir)))
            w = self.writes
            w.delta_bytes += delta_bytes
            w.bytes_written += size
            w.files_written += files
            return None

        return Request("compact", build, check, is_write=True)

    def _expect(self, res, rows: list[tuple]) -> str | None:
        cols, got = res
        if sorted(cols) != sorted(EVENT_COLS):
            return f"columns {sorted(cols)} != expected {sorted(EVENT_COLS)}"
        by_name = [dict(zip(EVENT_COLS, r)) for r in rows]
        want = canonical(cols, [tuple(d[c] for c in cols) for d in by_name])
        return diff(canonical(cols, got), want)

    def _read(self, kind: str, reg: str, model: LwwModel, user: int) -> Request:
        return Request(
            kind,
            lambda: compaction.read_register(self.spark, reg).filter(
                F.col("user_id") == user
            ),
            lambda res: self._expect(res, model.user_state(user)),
        )

    def _asof(self, reg: str, model: LwwModel, user: int) -> Request:
        us = int(self.rng.integers(0, (datagen.N_DAYS + 3) * datagen.DAY_US))
        asof = self._ts(us)
        lit = asof.strftime("%Y-%m-%d %H:%M:%S.%f")
        return Request(
            "read_asof",
            lambda: compaction.read_register_asof(
                self.spark, reg, REG_KEYS, REG_ORDER, lit
            ).filter(F.col("user_id") == user),
            lambda res: self._expect(res, model.user_asof(user, asof)),
        )

    def _record_space(self, reg: str) -> None:
        """Bytes on disk per byte of the live version, after a whole epoch."""
        live, _ = _dir_bytes(compaction.latest_version_path(reg))
        total, _ = _dir_bytes(reg)
        self.writes.space_amp = total / live

    def blocks(self) -> Iterator[list[Request]]:
        while True:
            reg = os.path.join(self.work, f"register-epoch-{self.epoch}")
            self.epoch += 1
            shutil.copytree(self.pristine, reg)
            model = self.model0.copy()
            for _ in range(self.EPOCH):
                batch = self._batch(model)
                # read-your-writes: subjects the batch has just written
                recent = [batch[int(i)][2] for i in self.rng.integers(0, len(batch), 3)]
                yield [
                    self._compact(reg, model, batch),
                    self._read("read_recent", reg, model, recent[0]),
                    self._read("read_zipf", reg, model, self.users.draw()),
                    self._read("read_recent", reg, model, recent[1]),
                    self._read("read_zipf", reg, model, self.users.draw()),
                    self._asof(reg, model, recent[2]),
                ]
            self._record_space(reg)
            shutil.rmtree(reg)


class GraphIter(Workload):
    """Every block runs the four fixpoints once, in a fixed order.

    Only ``q_graph_pagerank`` runs before measuring (a whole block costs
    ~16 s cold), so the first measured block includes each other query's
    first execution in the session; the fixed order keeps that cost the
    same in every run.
    """

    name = "graph_iter"
    # q_graph_betweenness is left out: it runs on the same transition
    # digraph as q_graph_scc and would add ~4 s to every block plus ~2 s
    # of DuckDB oracle, which the benchmark's run budget cannot afford.
    QUERIES = (
        "q_graph_cc_stars",
        "q_graph_bfs",
        "q_graph_scc",
        "q_graph_pagerank",  # rows-only: checked by a repeating result hash
    )

    def setup(self, rep: int) -> None:
        sf_dir = self._fresh_data(rep)
        for t in datagen.TABLE_NAMES:
            catalog.load_table(self.spark, sf_dir, t).count()

    def prepare(self) -> None:
        super().prepare()
        self.specs = registry.all_specs()
        self.hashes: dict[str, str] = {}

    def _check(self, name: str, res) -> str | None:
        oracle = self.specs[name].oracle
        if oracle is not None:
            return self.oracle.check(res[0], res[1], oracle)
        h = result_hash(canonical(*res))
        first = self.hashes.setdefault(name, h)
        return None if h == first else f"result hash {h[:12]} != first run {first[:12]}"

    def _query(self, name: str) -> Request:
        fn = self.specs[name].fn
        return Request(
            name,
            lambda: fn(self.spark, self.sf_dir),
            lambda res: self._check(name, res),
        )

    def warmup(self, blocks: Iterator[list[Request]]) -> list[Request]:
        """Also records the reference hash of the rows-only query."""
        return [self._query("q_graph_pagerank")]

    def blocks(self) -> Iterator[list[Request]]:
        while True:
            yield [self._query(name) for name in self.QUERIES]


WORKLOADS = {w.name: w for w in (PointRead, RegisterIngest, GraphIter)}
