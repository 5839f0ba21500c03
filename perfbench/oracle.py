"""Answer checks: DuckDB over the same parquet, and a Python LWW model.

Checks run outside the timed region. Each returns ``None`` when the answer
is right and a one-line message when it is not; the harness counts a
message as a failed request and keeps it for the artifact.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import duckdb

from .datagen import TABLE_NAMES


def _norm(v):
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return int(f) if f.is_integer() else f
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, float) and v == 0.0:
        return 0.0
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows as tuples over the sorted column names, sorted by repr: the
    order-insensitive multiset the engine's differential tests compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def diff(got: list[tuple], want: list[tuple]) -> str | None:
    """``None`` if both canonical row lists are equal, else a message."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if a != b:
            return f"row {i}: {a!r} != expected {b!r}"
    return None


def result_hash(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


class DuckOracle:
    """DuckDB views over one generated table directory; answers are
    cached per SQL text because the data does not change during a run."""

    def __init__(self, sf_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        self._cache: dict[str, tuple[list[str], list[tuple]]] = {}

    def answer(self, sql: str) -> tuple[list[str], list[tuple]]:
        if sql not in self._cache:
            rel = self.con.sql(sql)
            cols = list(rel.columns)
            self._cache[sql] = (sorted(cols), canonical(cols, rel.fetchall()))
        return self._cache[sql]

    def check(self, cols: list[str], rows: list[tuple], sql: str) -> str | None:
        want_cols, want = self.answer(sql)
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)} != expected {want_cols}"
        return diff(canonical(cols, rows), want)

    def close(self) -> None:
        self.con.close()


class LwwModel:
    """Reference model of the LWW register: key (user_id, event_type),
    newest row by (ts, event_id) wins. Rows are
    ``(event_id, ts, user_id, event_type, value, props)``."""

    def __init__(self) -> None:
        self.state: dict[tuple, tuple] = {}
        self.log: dict[int, list[tuple]] = {}  # user_id -> every row written

    def copy(self) -> LwwModel:
        m = LwwModel()
        m.state = dict(self.state)
        m.log = {u: list(rs) for u, rs in self.log.items()}
        return m

    def apply(self, rows: list[tuple]) -> None:
        for r in rows:
            key = (r[2], r[3])
            cur = self.state.get(key)
            if cur is None or (r[1], r[0]) > (cur[1], cur[0]):
                self.state[key] = r
            self.log.setdefault(r[2], []).append(r)

    def user_state(self, user: int) -> list[tuple]:
        return [r for (u, _), r in self.state.items() if u == user]

    def user_asof(self, user: int, asof: datetime.datetime) -> list[tuple]:
        best: dict[str, tuple] = {}
        for r in self.log.get(user, []):
            if r[1] <= asof:
                cur = best.get(r[3])
                if cur is None or (r[1], r[0]) > (cur[1], cur[0]):
                    best[r[3]] = r
        return list(best.values())
