"""Last-writer-wins register semantics as distributed DataFrame operators.

The reference's core write/merge semantic (SURVEY §1.1, §2.A R2/R3): a map
keyed by (subject, predicate) whose value (object, timestamp) is an LWW
register; merge keeps the row with the newest timestamp
(reference: SQLite3DBConnector.py:134-180 `mergeSelf` — per-key lookup +
strict `>` timestamp compare; MongoDBConnector.py:116-165;
PostgreSQLDBConnector.py:141-187).

This module is the engine's one newest-per-key rule: every batch or
streaming fold that keeps the newest row per key calls ``latest_by_key``
(or ``lww_merge``), and every per-key streaming state that does the same
runs ``latest_state_fn``. tests/test_lww_guard.py fails on a ``max_by``
call anywhere else except the audited non-register uses.

Spark-first design: instead of per-key lookups, LWW-latest is a single
``groupBy(keys).agg(max_by(payload, order))`` — an associative/commutative
aggregate, so Spark combines map-side before the shuffle: only one row per
key and input partition crosses the network. The window/row_number
formulation instead shuffles *every* row to its key partition, which is
what loses at 100 TB whenever keys repeat. Ties are broken
deterministically by the caller-supplied tiebreak columns (the reference
leaves ties arbitrary — we must be hash-stable).

LWW merge of N delta sets = unionByName + the same aggregate: one shuffle,
order-independent (commutative), idempotent (re-merging a fixpoint is a
no-op) — the CRDT properties the reference relies on (report.pdf §5.3),
verified in tests/test_lww_properties.py.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    payload: Sequence[str],
) -> DataFrame:
    """Newest row per key: keys + payload columns, one row per key.

    ``order``: ordering columns, newest = max of the struct (first column is
    the timestamp; append unique tiebreakers for determinism).
    ``payload``: non-key columns to carry through.

    Physical plan: partial aggregate -> shuffle by keys -> final aggregate
    (max_by over a struct comparator). The struct-typed buffer is not a
    hash-aggregate buffer type, so both phases are SortAggregate, each
    behind a per-partition (not global) sort on the keys; no window.
    """
    ordering = F.struct(*[F.col(c) for c in order])
    picked = F.max_by(F.struct(*[F.col(c) for c in payload]), ordering).alias("__r")
    out = df.groupBy(*[F.col(k) for k in keys]).agg(picked)
    return out.select(*keys, *[F.col(f"__r.{c}").alias(c) for c in payload])


def lww_merge(
    base: DataFrame,
    deltas: Sequence[DataFrame],
    keys: Sequence[str],
    order: Sequence[str],
    payload: Sequence[str],
) -> DataFrame:
    """Anti-entropy merge (reference R3/R8/R9) of base with delta batches.

    Commutative + associative + idempotent: any merge order and grouping
    yields the same register state, so no pairwise orchestration is needed
    (the reference's /merge_2_servers/ loop, MasterServer.py:384-432,
    collapses into one union + aggregate).
    """
    merged = base
    for d in deltas:
        merged = merged.unionByName(d)
    return latest_by_key(merged, keys, order, payload)


def latest_state_fn(
    keys: Sequence[str], order: Sequence[str], payload: Sequence[str]
):
    """``applyInPandasWithState`` kernel of the same rule: per-key state
    is the newest row's ``order`` + ``payload`` values (the state schema
    lists them in that order, all numeric), and each micro-batch emits
    keys + state. The ``order`` tuple is the deterministic tie-break the
    reference lacks (its strict `>` timestamp compare keeps an arbitrary
    replica on equal timestamps, SQLite3DBConnector.py:166).

    The output schema is ``keys`` + the state schema. An update-mode
    sink then holds one row per key per emitting micro-batch; since the
    state only grows in ``order``, ``latest_by_key`` over the sink is the
    final register."""
    cols = [*order, *payload]
    n_order = len(order)

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            # numpy lexsort argmax, not pandas sort_values: the per-group
            # dispatch dominates either way (PLANS.md round 8), so this is
            # a small constant win, not the lever (that was the
            # state-partition width, see streaming.queries.STATE_WIDTH)
            i = int(np.lexsort([pdf[c].to_numpy() for c in reversed(order)])[-1])
            cand = tuple(pdf[c].to_numpy()[i].item() for c in cols)
            if best is None or cand[:n_order] > best[:n_order]:
                best = cand
        state.update(best)
        yield pd.DataFrame(
            {c: [v] for c, v in zip([*keys, *cols], [*key, *best])}
        )

    return fold
